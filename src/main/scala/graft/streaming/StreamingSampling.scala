package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming deterministic reservoir — the p12 bottom-k uniform sample
  * as an INGEST-TIME operator: keyed state is exactly the current k
  * smallest (hash, id) pairs (BOUNDED by k — the point of a
  * reservoir), and bottom-k is a merge law, not a fold — the bottom-k
  * of a union is the bottom-k of the parts' bottom-k's — so the result
  * is order- and batching-independent and the final streamed sample
  * equals the batch p12 selection row-for-row (st21 hash-matches the
  * same SQL oracle; StreamingSpec drives random batchings).
  *
  * Events carry the pre-mixed seeded hash (computed relationally
  * upstream, the same Knuth mix as the batch operator). Emission per
  * batch is the whole current reservoir (≤ k rows, tagged with the
  * batch step; readers keep the max-step rows) — bounded by k, never
  * by the stream.
  */
object StreamingSampling {

  /** One observation: `h` is the seeded sampling hash of `id`. */
  final case class SampleEvent(key: String, id: Long, h: Long)

  /** Keyed state: the reservoir's (h, id) pairs, sorted, plus step. */
  final case class Reservoir(hs: Seq[Long], ids: Seq[Long], step: Long)

  /** Per-batch reservoir snapshot (readers take the max-step rows —
    * a row present at step s may have been evicted by step s+1, so
    * max-step-per-id would resurrect evicted members; the whole-step
    * snapshot is the sample).
    */
  final case class SampleSnapshot(step: Long, id: Long)

  implicit private val stEnc: Encoder[Reservoir] = Encoders.product[Reservoir]
  implicit private val outEnc: Encoder[SampleSnapshot] = Encoders.product[SampleSnapshot]

  def bottomK(events: Dataset[SampleEvent], k: Int): Dataset[SampleSnapshot] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.key) { (_: String, prior: Option[Reservoir], rows: Iterator[SampleEvent]) =>
      val prev = prior.map(r => r.hs.zip(r.ids)).getOrElse(Seq.empty)
      val merged = (prev ++ rows.map(e => (e.h, e.id))).sorted.take(k)
      val step = prior.map(_.step).getOrElse(0L) + 1
      (Some(Reservoir(merged.map(_._1), merged.map(_._2), step)),
        merged.iterator.map { case (_, id) => SampleSnapshot(step, id) })
    }
  }
}
