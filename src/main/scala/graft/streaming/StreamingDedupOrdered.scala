package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Arrival-order exact dedup with a DETERMINISTIC survivor — the dedup
  * stage of the streaming ingest pipeline (st26).
  *
  * Keyed by the full text (the same identity e1's batch window
  * partitions on); state is one boolean per distinct text. The FIRST
  * micro-batch containing a text emits its min-(order, id) row; every
  * later arrival of the text is dropped. Under the pipeline's
  * order-range-chunked ingest a text's first batch contains its
  * globally minimal (order, id) row, so the survivor equals the batch
  * argmin over the whole corpus — which is what makes the stage
  * SQL-replayable. (Structured Streaming's own `dropDuplicates` keeps
  * whichever same-batch row it encounters first — partition-order
  * nondeterministic — so an oracle-checked pipeline can't use it when
  * a batch may hold several copies.)
  *
  * Scale: state is one (text, boolean) entry per DISTINCT text — the
  * same bound as streaming dropDuplicates; a production deployment
  * would key on a strong text hash to shrink state keys (identical
  * plumbing, collision-negligible), exactly as e1's batch window
  * could.
  */
object StreamingDedupOrdered {

  /** One gated document: `order` is its deterministic pack-order hash
    * (the pipeline's cross-batch ingest order), `id` the tie-break.
    */
  final case class DocEvent(text: String, id: Long, order: Long)

  implicit private val outEnc: Encoder[DocEvent] = Encoders.product[DocEvent]

  def firstByOrder(events: Dataset[DocEvent]): Dataset[DocEvent] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.text) { (_: String, seen: Option[Boolean], rows: Iterator[DocEvent]) =>
      if (seen.isDefined) (None, Iterator.empty)
      else (Some(true), Iterator.single(rows.minBy(e => (e.order, e.id))))
    }
  }
}
