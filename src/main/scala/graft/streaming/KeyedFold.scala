package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** What the stateful streaming operators share: one logical stream per
  * key, read in exact arrival order (`meercat/baseline.py:76-83`), with
  * no watermarks and no late data — the streaming twin of
  * [[graft.operators.ClusterFold]].
  *
  * This is the one group-state path: it owns the `groupByKey`, the
  * Append / NoTimeout choice, the in-batch sort and the state write.
  * Each operator supplies only its per-key, per-batch fold and keeps its
  * own state machine, state schema and contract checks.
  */
object KeyedFold {

  /** Fold each key's rows of each micro-batch into its state. `fold`
    * gets the key, the key's stored state (`None` the first time the key
    * is seen) and the batch's rows — sorted by `order` when given — and
    * returns the state to store (`None` leaves the stored state as it
    * is) and the rows to emit. The state is stored before `out` is read,
    * so a fold whose next state depends on consuming its rows must
    * consume them before it returns.
    */
  def apply[E, K: Encoder, S: Encoder, O: Encoder](events: Dataset[E])(
      key: E => K, order: Option[Ordering[E]] = None)(
      fold: (K, Option[S], Iterator[E]) => (Option[S], Iterator[O])): Dataset[O] =
    events
      .groupByKey(key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: K, batch: Iterator[E], state: GroupState[S]) =>
          val rows = order.fold(batch)(o => batch.toSeq.sorted(o).iterator)
          val (next, out) = fold(k, state.getOption, rows)
          next.foreach(state.update)
          out
      }
}
