package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions.col

/** What the order-sensitive clusterers ([[GreedyClustering]], [[Grinch]])
  * share: the arrival-order prep that lines each stream up for its fold,
  * and the C8 threshold bisection over a fold's cluster count.
  *
  * Both folds depend on arrival order ("line order is the stream
  * order"), so the prep is the one place that decides it: every stream
  * reaches its fold as rows sorted by `order` inside one partition, with
  * the columns cast to the fold's tuple types (long ids and orders,
  * array<float> vectors).
  */
object ClusterFold {

  /** One global stream: `_1` = id, `_2` = vec, `_3` = order, then
    * `extra` as `_4`…, in ONE partition sorted by order. The
    * single-partition exchange is the sequential fold's semantics
    * (PlanAuditSpec classifies it for g1, g3, g5 and the h rows).
    */
  def single[T: Encoder](df: DataFrame, id: Column, vec: Column, order: Column,
                         extra: Column*): Dataset[T] =
    tupled(df, Seq(id.cast("long"), vec.cast("array<float>"), order.cast("long")) ++ extra)
      .repartition(1).sortWithinPartitions(col("_3")).as[T]

  /** Independent streams per key: `_1` = key, `_2` = id, `_3` = vec,
    * `_4` = order, hash-partitioned by key and sorted by (key, order),
    * so each key is one contiguous run of its partition ([[keyRuns]]).
    *
    * The exchange names its partition count ([[Fanout.byKey]]): AQE may
    * coalesce a column-only repartition by bytes, and a few hundred KB of
    * vectors then folds every key one after another in one task. A fold
    * costs per key, not per byte.
    */
  def keyed[T: Encoder](df: DataFrame, key: Column, id: Column, vec: Column,
                        order: Column): Dataset[T] =
    Fanout.byKey(
      tupled(df, Seq(key.cast("long"), id.cast("long"), vec.cast("array<float>"), order.cast("long"))),
      col("_1")).sortWithinPartitions(col("_1"), col("_4")).as[T]

  private def tupled(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.select(cols.zipWithIndex.map { case (c, i) => c.as(s"_${i + 1}") }: _*)

  /** The contiguous key runs of one [[keyed]] partition, in partition
    * order; only the current run is buffered, never the whole partition.
    */
  def keyRuns[T: ClassTag](rows: Iterator[T])(key: T => Long): Iterator[Array[T]] = {
    val it = rows.buffered
    new Iterator[Array[T]] {
      def hasNext: Boolean = it.hasNext
      def next(): Array[T] = {
        val k = key(it.head)
        val run = mutable.ArrayBuilder.make[T]
        while (it.hasNext && key(it.head) == k) run += it.next()
        run.result()
      }
    }
  }

  /** C8 — the reference's threshold bisection (`nn_thresh.py:118-135`,
    * `cluster_w_grinch.py:21-34`, `combo.py:43-59`): probe the midpoint
    * θ of [lo, hi] ⊆ [0, 1], raise lo when `count(θ)` is below `target`
    * and lower hi otherwise, until the count is within ε = n/1000 of
    * `target` or `maxIters` probes ran (3 of the reference's 4 copies can
    * loop forever — SURVEY §7.4). Returns the last (θ, count) probed, or
    * (0.5, −1) when no probe runs (n ≥ 1000·(target + 1), or maxIters ≤ 0).
    */
  def bisect(n: Long, target: Long, maxIters: Int)(count: Double => Long): (Double, Long) = {
    val epsilon = n / 1000.0
    var lo = 0.0
    var hi = 1.0
    var theta = 0.5
    var nClusters = -1L
    var it = 0
    while (math.abs(nClusters - target) > epsilon && it < maxIters) {
      theta = (lo + hi) / 2
      nClusters = count(theta)
      if (nClusters < target) lo = theta else hi = theta
      it += 1
    }
    (theta, nClusters)
  }
}
