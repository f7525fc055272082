package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C3-C8 — greedy nearest-neighbor threshold clustering with bounded-
  * memory linking strategies (`/root/reference/meercat/nn_thresh.py`).
  *
  * Semantics (derived from the reference's two-pass backfill + transposed
  * forward propagation, `nn_thresh.py:138-152`): processing rows in
  * stream order, each row links to the *stored* prior rows whose
  * similarity is strictly above the threshold; its cluster becomes the
  * cluster of the HIGHEST-index linked prior row (or itself if none).
  * The two formulations are equivalent because a row's cluster can only
  * be rewritten by columns ≤ its own index.
  *
  * Strategies (state kept between rows, evictions affect future rows
  * only — the current row's links are computed against the pre-eviction
  * store, exactly as the reference masks before evicting):
  *  - Backwards (`nn_thresh.py:27-41`): sliding window of the last
  *    `limit` rows (unlimited when limit < 0).
  *  - Diversity (`:44-58`): unlimited lookback, store capped at `limit`;
  *    on overflow evict the stored row most similar to the current one.
  *  - Cache (`:61-78`): LRU — evict the stored row least recently
  *    *linked* (never-linked rows evict first, smallest index on ties).
  *  - DiversityCache (`:81-101`): most-similar eviction if the current
  *    row linked to anything, else LRU.
  *
  * Scale: the fold is inherently sequential (results depend on arrival
  * order — pinned by `tests/nn_thresh_test.py`), so one stream = one
  * sorted partition; scale-out comes from clustering many independent
  * keys in parallel ([[clusterByKey]]), mirroring the reference's own
  * single-threaded execution per stream.
  */
object GreedyClustering {

  /** Strict left fold of float→double products in element order — the
    * similarity both the masked fold and the scalar loop score with.
    */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var k = 0
    while (k < a.length) { s += a(k).toDouble * b(k).toDouble; k += 1 }
    s
  }

  /** limit < 0 ⇒ unlimited. `cosine=true` scores dot/(‖a‖‖b‖) (the
    * reference's normalize-on-load default, `nn_thresh.py:172-173`);
    * false ⇒ raw dot (its --dot_prod mode).
    */
  final case class Params(
      strategy: String = "backwards",
      limit: Int = -1,
      threshold: Double = 0.5,
      cosine: Boolean = true)

  /** Serializable snapshot of a [[State]] — the streaming operator's
    * per-key state payload (SURVEY §2.4 streaming semantics: row-count
    * state budgets, no watermarks).
    */
  final case class StoredEntry(pos: Long, id: Long, vec: Array[Float], nrm: Double,
                               clusterId: Long, lastSeen: Long)
  final case class Snapshot(step: Long, entries: List[StoredEntry])

  private final class Entry(
      val pos: Long,
      val id: Long,
      val vec: Array[Float],
      val nrm: Double,
      val clusterId: Long,
      var lastSeen: Long)

  /** Mutable per-stream clustering state; one instance per key/stream.
    * Also reused verbatim by the Structured Streaming operator.
    */
  final class State(p: Params) {
    private val stored = mutable.ArrayDeque.empty[Entry] // ascending pos
    private var i = 0L

    def snapshot: Snapshot =
      Snapshot(i, stored.map(e => StoredEntry(e.pos, e.id, e.vec, e.nrm, e.clusterId, e.lastSeen)).toList)

    def restore(s: Snapshot): this.type = {
      stored.clear()
      s.entries.foreach { e =>
        val en = new Entry(e.pos, e.id, e.vec, e.nrm, e.clusterId, e.lastSeen)
        stored.append(en)
      }
      i = s.step
      this
    }

    private def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))

    private def sim(e: Entry, v: Array[Float], nv: Double): Double =
      if (p.cosine) dot(e.vec, v) / (e.nrm * nv) else dot(e.vec, v)

    /** Process one row; returns the id of its cluster root. */
    def step(id: Long, vec: Array[Float]): Long = {
      val nv = if (p.cosine) norm(vec) else 1.0
      // Backwards: trim the window to [i-limit, i-1] before scoring.
      if (p.strategy == "backwards" && p.limit >= 0)
        while (stored.nonEmpty && stored.head.pos < i - p.limit) stored.removeHead()

      val sims = stored.map(e => sim(e, vec, nv))
      var parentIdx = -1
      var k = 0
      while (k < stored.length) {
        if (sims(k) > p.threshold) parentIdx = k // ascending pos ⇒ last wins = max pos
        k += 1
      }
      val clusterId = if (parentIdx >= 0) stored(parentIdx).clusterId else id
      val selfSim = if (p.cosine) dot(vec, vec) / (nv * nv) else dot(vec, vec)
      val self = new Entry(i, id, vec, nv, clusterId,
        lastSeen = 0L) // reference inits last_seen to 0

      p.strategy match {
        case "backwards" =>
          stored.append(self)

        case "diversity" =>
          stored.append(self)
          if (stored.length == p.limit) {
            // evict stored row (pos < i) most similar to current; first max on ties
            var best = -1; var bestSim = Double.NegativeInfinity
            var k2 = 0
            while (k2 < sims.length) {
              if (sims(k2) > bestSim) { bestSim = sims(k2); best = k2 }
              k2 += 1
            }
            if (best >= 0) stored.remove(best)
          }

        case "cache" | "diversity-cache" =>
          var anyLink = false
          var k2 = 0
          while (k2 < sims.length) {
            if (sims(k2) > p.threshold) { stored(k2).lastSeen = i; anyLink = true }
            k2 += 1
          }
          if (selfSim > p.threshold) self.lastSeen = i
          stored.append(self)
          if (stored.length == p.limit) {
            val evictBySim = p.strategy == "diversity-cache" && anyLink
            var best = -1
            if (evictBySim) {
              var bestSim = Double.NegativeInfinity
              var k3 = 0
              while (k3 < sims.length) {
                if (sims(k3) > bestSim) { bestSim = sims(k3); best = k3 }
                k3 += 1
              }
            } else {
              var bestSeen = Long.MaxValue
              var k3 = 0
              while (k3 < stored.length - 1) { // exclude self (pos == i)
                if (stored(k3).lastSeen < bestSeen) { bestSeen = stored(k3).lastSeen; best = k3 }
                k3 += 1
              }
            }
            if (best >= 0) stored.remove(best)
          }

        case other => throw new IllegalArgumentException(s"unknown strategy: $other")
      }
      i += 1
      clusterId
    }
  }

  /** Batch clustering of one global stream: sort by `order` into a single
    * partition and fold. Output: (id, pred_cluster = root row's id).
    */
  def clusterSorted(df: DataFrame, id: Column, vec: Column, order: Column, p: Params): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ClusterFold.single[(Long, Array[Float], Long)](df, id, vec, order)
      .mapPartitions { it =>
        val state = new State(p)
        it.map { case (rid, arr, _) => (rid, state.step(rid, arr)) }
      }
      .toDF("id", "pred_cluster")
  }

  /** The SCALAR clustering variant (`meercat/baseline.py:64-69`,
    * `meercat/combo.py:63-68`): unlike the nn_thresh fold, the
    * link-set is UNMASKED — at step i every row j (earlier ones too)
    * with S[i,j] > θ is rewritten to clusters[i]'s current value, so
    * later rows can relabel earlier ones. Inherently whole-matrix
    * (the reference materializes S); one sorted partition computes the
    * n·d-memory fold with n² similarity evaluations — bounded inputs
    * only, like the reference. Output: (id, pred_cluster = the row id
    * of the final cluster index), matching clusterSorted's contract.
    */
  def clusterScalarSorted(df: DataFrame, id: Column, vec: Column, order: Column,
                          p: Params): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ClusterFold.single[(Long, Array[Float], Long)](df, id, vec, order)
      .mapPartitions { it =>
        val rows = it.toArray
        val n = rows.length
        val nrm = rows.map(r => math.sqrt(dot(r._2, r._2)))
        val cl = Array.tabulate(n)(identity)
        var i = 0
        while (i < n) {
          val ci = cl(i) // read once — numpy's vectorized assignment
          var j = 0
          while (j < n) {
            val s =
              if (p.cosine) dot(rows(i)._2, rows(j)._2) / (nrm(i) * nrm(j))
              else dot(rows(i)._2, rows(j)._2)
            if (s > p.threshold) cl(j) = ci
            j += 1
          }
          i += 1
        }
        rows.iterator.zipWithIndex.map { case ((rid, _, _), j) => (rid, rows(cl(j))._1) }
      }
      .toDF("id", "pred_cluster")
  }

  /** Scale-out variant: independent streams per key, clustered in
    * parallel — repartition by key, sort each partition by (key, order),
    * run one State per contiguous key run. Output adds the key column.
    * The keys spread over the session's shuffle partitions even when
    * AQE would merge a small input into one task ([[ClusterFold.keyed]]).
    */
  def clusterByKey(df: DataFrame, key: Column, id: Column, vec: Column, order: Column, p: Params): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ClusterFold.keyed[(Long, Long, Array[Float], Long)](df, key, id, vec, order)
      .mapPartitions { it =>
        var curKey = Long.MinValue
        var state: State = null
        it.map { case (k, rid, arr, _) =>
          if (state == null || k != curKey) { curKey = k; state = new State(p) }
          (k, rid, state.step(rid, arr))
        }
      }
      .toDF("key", "id", "pred_cluster")
  }

  /** C8 — threshold bisection (`nn_thresh.py:118-135`): θ ∈ [0,1]
    * toward `target` clusters with ε = n/1000 and at most `maxIters`
    * probes ([[ClusterFold.bisect]]). Returns (threshold, nClusters).
    *
    * The sorted single-partition Dataset is materialized ONCE and
    * reused across every bisection iteration — only the cheap fold
    * re-runs per θ, not the repartition+sort.
    */
  def findThreshold(df: DataFrame, id: Column, vec: Column, order: Column,
                    base: Params, target: Long, maxIters: Int = 30): (Double, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val sorted = ClusterFold.single[(Long, Array[Float], Long)](df, id, vec, order).persist()
    try {
      ClusterFold.bisect(sorted.count(), target, maxIters) { threshold =>
        val p = base.copy(threshold = threshold)
        val clusters = sorted.mapPartitions { rows =>
          val state = new State(p)
          rows.map { case (rid, arr, _) => state.step(rid, arr) }
        }
        clusters.toDF("c").agg(countDistinct(col("c"))).collect().head.getLong(0)
      }
    } finally sorted.unpersist()
  }
}
