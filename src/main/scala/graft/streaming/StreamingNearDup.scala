package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Streaming MinHash-LSH near-duplicate candidate generation — the
  * dedup pack's d2/d3 banding as an INGEST-TIME operator: documents
  * arrive as (band, band_hash)-bucketed events; each bucket's keyed
  * state is the set of docs seen in it, and a new arrival emits one
  * candidate pair per stored doc. Downstream, a stateful streaming
  * `dropDuplicates` collapses pairs that collide in several bands, and
  * the exact-Jaccard verify join runs on the (tiny) candidate stream —
  * so a 100 TB corpus can be deduped incrementally as it lands instead
  * of re-scanning.
  *
  * State is per collision bucket (occupancy-sized); with the feed
  * passed through the d3b bucket-occupancy guard (drop buckets with
  * more than `maxBucket` members — st6 does this), the candidate
  * volume is exactly the capped batch join's, and the emitted pair
  * set hash-matches the capped batch SQL oracle (st6). An uncapped
  * feed keeps the quadratic bucket-saturation shape the batch side
  * measured (d3: 123× at 100× data) — always cap the ingest feed.
  */
object StreamingNearDup {

  /** One (doc × band) bucket event; `bucket` composites (band, hash). */
  final case class BandEvent(bucket: Long, docId: Long, order: Long)

  /** Keyed state: docs seen in this bucket, insertion order. */
  final case class BucketDocs(docs: List[Long])

  /** One near-dup candidate (docA < docB). */
  final case class CandidatePair(docA: Long, docB: Long)

  implicit private val stateEnc: Encoder[BucketDocs] = Encoders.product[BucketDocs]
  implicit private val outEnc: Encoder[CandidatePair] = Encoders.product[CandidatePair]

  def lshCandidates(events: Dataset[BandEvent]): Dataset[CandidatePair] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.bucket, Some(Ordering.by(_.order))) {
      (_: Long, prior: Option[BucketDocs], rows: Iterator[BandEvent]) =>
        val stored = scala.collection.mutable.LinkedHashSet.empty[Long]
        prior.foreach(s => stored ++= s.docs)
        val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
        rows.foreach { e =>
          if (!stored.contains(e.docId)) {
            stored.foreach { d =>
              out += CandidatePair(math.min(d, e.docId), math.max(d, e.docId))
            }
            stored += e.docId
          }
        }
        (Some(BucketDocs(stored.toList)), out.iterator)
    }
  }
}
