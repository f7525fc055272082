package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

import graft.operators.Grinch

/** Structured Streaming mode of the GRINCH tree automaton (SURVEY §2.4;
  * the C11-C17 twin of [[StreamingClustering]]): one evolving
  * hierarchical clustering per key behind a [[KeyedFold]].
  *
  * State design: the automaton's node-id layout pins leaf ids to
  * [0, n) with internal ids above them (`grinch_alg.py:60-77` does the
  * same with numpy arrays sized by n), so a live tree cannot absorb new
  * points without renumbering every parent/child reference. The keyed
  * state is therefore the INSERTION LOG, and restore = deterministic
  * replay — which is exactly the online algorithm itself, so streaming
  * and batch trees are identical by construction, not just equivalent.
  * `activeLeafLimit` bounds each insert's 1-NN scan; the log (like the
  * reference's input array) grows with the stream.
  *
  * Unlike greedy NN-threshold ids, GRINCH cluster memberships can
  * change as the tree rotates/grafts, so each micro-batch re-emits the
  * key's FULL current flat clustering stamped with a monotone `step`
  * (= points inserted so far); consumers keep the max-step row per id.
  */
object StreamingGrinch {

  /** One input point of a keyed stream. */
  final case class PointEvent(key: Long, id: Long, order: Long, vec: Array[Float])

  /** Keyed state: insert order is list order. */
  final case class TreeLog(entries: List[(Long, Array[Float])])

  /** One assignment row; `step` orders re-emissions of the same id. */
  final case class TreeAssignment(key: Long, id: Long, predCluster: Long, step: Long)

  /** One dendrogram node row (uids are the automaton's: leaf = stream
    * position, internal above n); `step` orders re-emissions.
    */
  final case class TreeRow(key: Long, uid: Long, parentUid: Option[Long], step: Long)

  implicit private val logEnc: Encoder[TreeLog] = Encoders.product[TreeLog]
  implicit private val outEnc: Encoder[TreeAssignment] = Encoders.product[TreeAssignment]
  implicit private val rowEnc: Encoder[TreeRow] = Encoders.product[TreeRow]

  /** One replay-log step per key and micro-batch: append the batch's
    * points in `order` to the logged ones, store the log, rebuild the
    * tree from it and emit `out(key, tree, log)`; an empty log emits
    * nothing. Shared by every GRINCH streaming relation, so they all
    * hold the same state.
    */
  private def replayed[O: Encoder](events: Dataset[PointEvent], p: Grinch.Params)
                                  (out: (Long, Grinch, List[(Long, Array[Float])]) => Iterator[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    KeyedFold(events)(_.key, Some(Ordering.by(_.order))) {
      (key: Long, prior: Option[TreeLog], rows: Iterator[PointEvent]) =>
        val log = prior.map(_.entries).getOrElse(Nil) ++ rows.map(e => (e.id, e.vec))
        (Some(TreeLog(log)),
          if (log.isEmpty) Iterator.empty
          else out(key, Grinch.buildFrom(log.map(_._2).toArray, p), log))
    }
  }

  /** The evolving DENDROGRAM of each key: every micro-batch re-emits
    * the key's full current (uid, parent) relation stamped with the
    * step; consumers keep the max-step row per uid. Same replay-log
    * state as [[flatCluster]] — the final tree is the batch tree by
    * construction, so under the h5 restricted integer config the
    * max-step output hash-matches h5's closed-form SQL oracle.
    */
  def dendrogram(events: Dataset[PointEvent], p: Grinch.Params): Dataset[TreeRow] =
    replayed(events, p) { (key, g, log) =>
      val step = log.length.toLong
      g.treeNodes(_ => None).iterator.map(t =>
        TreeRow(key, t.uid.toLong, t.parentUid.map(_.toLong), step))
    }

  /** Apply to a streaming (or batch) Dataset[PointEvent]; emits the
    * refreshed flat clustering of each touched key per micro-batch.
    */
  def flatCluster(events: Dataset[PointEvent], p: Grinch.Params,
                  threshold: Double): Dataset[TreeAssignment] =
    replayed(events, p) { (key, g, log) =>
      val assign = g.flatClustering(threshold)
      val step = log.length.toLong
      log.iterator.zipWithIndex.map { case ((id, _), i) =>
        TreeAssignment(key, id, assign(i).toLong, step)
      }
    }
}
