package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.operators.GreedyClustering
import graft.operators.GreedyClustering.{Params, Snapshot}

/** Structured Streaming mode of the greedy NN-threshold clusterer
  * (SURVEY §2.4 "streaming semantics summary"): one logical stream per
  * key, arbitrary keyed state = the bounded embedding store + cluster
  * ids, eviction strategies inside the state object, one
  * (id, cluster) assignment emitted per input row.
  *
  * The reference's stream contract has no watermarks and no late data —
  * arrival order is exact (`meercat/baseline.py:76-83` line order), so
  * the operator is a [[KeyedFold]] that trusts within-batch `order`
  * for intra-batch sequencing. The SAME GreedyClustering.State machine
  * runs here and in the batch fold — batch/streaming parity is pinned
  * by StreamingSpec.
  */
object StreamingClustering {

  /** One input row of a keyed mention stream. */
  final case class MentionEvent(key: Long, id: Long, order: Long, vec: Array[Float])

  /** One output assignment. */
  final case class Assignment(key: Long, id: Long, predCluster: Long)

  implicit private val snapshotEnc: Encoder[Snapshot] = Encoders.product[Snapshot]
  implicit private val assignmentEnc: Encoder[Assignment] = Encoders.product[Assignment]

  /** Apply to a streaming (or batch) Dataset[MentionEvent]; emits one
    * Assignment per event in Append mode.
    */
  def greedyCluster(events: Dataset[MentionEvent], p: Params): Dataset[Assignment] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.key, Some(Ordering.by(_.order))) {
      (key: Long, prior: Option[Snapshot], rows: Iterator[MentionEvent]) =>
        val machine = new GreedyClustering.State(p)
        prior.foreach(machine.restore)
        val out = rows.map(e => Assignment(key, e.id, machine.step(e.id, e.vec))).toList
        (Some(machine.snapshot), out.iterator)
    }
  }
}
