package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Coreference-evaluation metric suite (SURVEY.md §2.5 A1-A4) over a
  * cluster-assignment relation: one row per element with a true-cluster
  * column and a predicted-cluster column. All metrics are label-invariant
  * (the reference's `tests/eval_clusters_test.py:7-8`).
  *
  * Scale design: every field needs only the sparse (true, pred)
  * contingency counts, the reference's own shortcut
  * (`meercat/eval_clusters.py:101-112`). Each entry point is eager: it
  * runs ONE aggregation job, collects the contingency, computes its
  * fields on the driver and returns a one-row local DataFrame. The driver
  * holds one row per distinct (true, pred) pair: at most the element
  * count, and at most the #true×#pred matrix CEAF-e builds anyway. The
  * catalog's a1/a2 (5 langs × 20 sources) hold ≤ 100 rows at any scale.
  * A null label or an empty relation throws `IllegalArgumentException`.
  *
  * Oracle-exactness: MUC divides exact longs (with the reference's +1e-13
  * epsilons, `meercat/eval_clusters.py:54,66,70`); B³ sums in scaled
  * integers (see [[B3Scale]]), order-independent and bit-identical.
  */
object Metrics {

  /** `(true, pred, count)` cells, labels cast to string after grouping. */
  private final class Contingency(cells: Array[(String, String, Long)]) {
    val n: Long = cells.iterator.map(_._3).sum
    val trueSize: Map[String, Long] = cells.groupMapReduce(_._1)(_._3)(_ + _)
    val predSize: Map[String, Long] = cells.groupMapReduce(_._2)(_._3)(_ + _)

    // Σ_pred (|c| − #true parts hit) = n − #cells; Σ_pred (|c| − 1) = n − #pred
    def muc: (Double, Double, Double) = {
      val prec = (n - cells.length).toDouble / ((n - predSize.size).toDouble + 1e-13)
      val rec = (n - cells.length).toDouble / ((n - trueSize.size).toDouble + 1e-13)
      (prec, rec, 2.0 * prec * rec / (prec + rec + 1e-13))
    }

    // Σ_cells (c²·SCALE) div size, exact: c²·SCALE as a long overflows once
    // a cell exceeds ~3e6 rows; DuckDB's HUGEINT floor-divides the same
    def bCubed: (Double, Double, Double) = {
      var pnum, rnum = BigInt(0)
      cells.foreach { case (t, p, c) =>
        val num = BigInt(c) * c * B3Scale
        pnum += num / predSize(p)
        rnum += num / trueSize(t)
      }
      val prec = pnum.toDouble / (B3Scale.toDouble * n.toDouble)
      val rec = rnum.toDouble / (B3Scale.toDouble * n.toDouble)
      (prec, rec, 2.0 * prec * rec / (prec + rec))
    }

    def ceafE: (Double, Double, Double) = {
      // sorted ids: the total sums matched weights in column order, so
      // sorting makes the float-sum order (hence the last ULP) fixed
      val trueIds = trueSize.keys.toArray.sorted.zipWithIndex.toMap
      val predIds = predSize.keys.toArray.sorted.zipWithIndex.toMap
      val phi = Array.ofDim[Double](trueIds.size, predIds.size)
      cells.foreach { case (t, p, c) => phi(trueIds(t))(predIds(p)) = 2.0 * c / (trueSize(t) + predSize(p)) }
      val total = hungarianMax(phi)
      val prec = total / trueIds.size
      val rec = total / predIds.size
      (prec, rec, 2 * prec * rec / (prec + rec))
    }

    // Spark's `median` (percentile 0.5): the middle size, or 0.5·lower + 0.5·upper
    def medianTrueSize: Double = {
      val s = trueSize.values.toArray.sorted
      val mid = s.length / 2
      if (s.length % 2 == 1) s(mid).toDouble else 0.5 * s(mid - 1) + 0.5 * s(mid)
    }
  }

  /** The one job; null labels and an empty relation fail on its cells. */
  private def contingency(df: DataFrame, trueCol: Column, predCol: Column): Contingency = {
    val cells = df.groupBy(trueCol.as("t"), predCol.as("p")).agg(count(lit(1)).as("c"))
      .select(col("t").cast("string"), col("p").cast("string"), col("c"))
      .collect()
      .map { r =>
        require(!r.isNullAt(0), s"Metrics: null label in the true-cluster column $trueCol")
        require(!r.isNullAt(1), s"Metrics: null label in the predicted-cluster column $predCol")
        (r.getString(0), r.getString(1), r.getLong(2))
      }
    require(cells.nonEmpty, "Metrics: empty assignment relation, nothing to score")
    new Contingency(cells)
  }

  private def oneRow(df: DataFrame, v: (Double, Double, Double), names: String*): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq(v).toDF(names: _*)
  }

  /** A1 — MUC precision/recall/F1 (`meercat/eval_clusters.py:44-74`):
    * P = Σ_pred (|c| − #true partitions hit) / Σ_pred (|c| − 1), R is the
    * mirror image, F1 the harmonic mean. */
  def muc(df: DataFrame, trueCol: Column, predCol: Column): DataFrame =
    oneRow(df, contingency(df, trueCol, predCol).muc, "muc_p", "muc_r", "muc_f1")

  /** Fixed-point scale for B³'s fraction sum: contributions are summed as
    * `(c²·SCALE) div clusterSize` integers, exact and order-independent.
    * Error vs the real-valued metric is < #pairs·1e-9. */
  val B3Scale: Long = 1000000000L

  /** A2 — B³ precision/recall/F1 (`meercat/eval_clusters.py:77-98`): per
    * element |true∩pred|/|pred| (P) and /|true| (R), averaged over elements. */
  def bCubed(df: DataFrame, trueCol: Column, predCol: Column): DataFrame =
    oneRow(df, contingency(df, trueCol, predCol).bCubed, "b3_p", "b3_r", "b3_f1")

  /** A3 — CEAF-e (`meercat/eval_clusters.py:101-144`): φ4(k,r) =
    * 2|k∩r|/(|k|+|r|), optimal 1:1 matching ([[hungarianMax]]), then — as
    * the reference divides — P = Σφ4/#true, R = Σφ4/#pred. */
  def ceafE(df: DataFrame, trueCol: Column, predCol: Column): DataFrame =
    oneRow(df, contingency(df, trueCol, predCol).ceafE, "ceafe_p", "ceafe_r", "ceafe_f1")

  /** Maximum-weight 1:1 assignment over a (possibly rectangular) dense
    * weight matrix; returns the optimal total weight. Classic O(n²m)
    * potential-based Hungarian algorithm on the minimization of −w,
    * equivalent to scipy's `linear_sum_assignment(maximize=True)` used at
    * `meercat/eval_clusters.py:137`. Rows are transposed to ensure
    * rows ≤ cols; unmatched columns contribute 0, matching scipy's
    * rectangular semantics for non-negative weights.
    */
  def hungarianMax(w: Array[Array[Double]]): Double = {
    if (w.isEmpty || w(0).isEmpty) return 0.0
    val (a, n, m) =
      if (w.length <= w(0).length) (w, w.length, w(0).length)
      else (w(0).indices.map(j => w.indices.map(i => w(i)(j)).toArray).toArray, w(0).length, w.length)
    // minimize cost = -weight
    val INF = Double.MaxValue / 4
    val u = new Array[Double](n + 1)
    val v = new Array[Double](m + 1)
    val p = new Array[Int](m + 1) // p(j) = row matched to column j (1-based; 0 = none)
    val way = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      p(0) = i
      var j0 = 0
      val minv = Array.fill(m + 1)(INF)
      val used = new Array[Boolean](m + 1)
      var done = false
      while (!done) {
        used(j0) = true
        val i0 = p(j0)
        var delta = INF
        var j1 = -1
        var j = 1
        while (j <= m) {
          if (!used(j)) {
            val cur = -a(i0 - 1)(j - 1) - u(i0) - v(j)
            if (cur < minv(j)) { minv(j) = cur; way(j) = j0 }
            if (minv(j) < delta) { delta = minv(j); j1 = j }
          }
          j += 1
        }
        j = 0
        while (j <= m) {
          if (used(j)) { u(p(j)) += delta; v(j) -= delta }
          else minv(j) -= delta
          j += 1
        }
        j0 = j1
        done = p(j0) == 0
      }
      while (j0 != 0) {
        val j1 = way(j0)
        p(j0) = p(j1)
        j0 = j1
      }
      i += 1
    }
    var total = 0.0
    var j = 1
    while (j <= m) {
      if (p(j) != 0) total += a(p(j) - 1)(j - 1)
      j += 1
    }
    total
  }

  /** A1+A2+A3+A6 summary row (`meercat/eval_clusters.py:196-219`): the
    * three F1s, their mean, cluster counts and the median true-cluster
    * size.
    *
    * Deliberate deviation: the reference's `eval_clusters.py:196`
    * computes `median(len(x) for x in true_clusters)` over the dict
    * KEYS — the median LENGTH OF THE CLUSTER-ID STRING, an upstream
    * bug. `median_true_size` here is the median true-cluster SIZE (the
    * evident intent), so this one field does not reproduce the
    * reference's printed number.
    */
  def evalSummary(df: DataFrame, trueCol: Column, predCol: Column): DataFrame = {
    val k = contingency(df, trueCol, predCol)
    val (mp, mr, mf) = k.muc
    val (bp, br, bf) = k.bCubed
    val (cp, cr, cf) = k.ceafE
    val spark = df.sparkSession
    import spark.implicits._
    Seq((mp, mr, mf, bp, br, bf, cp, cr, cf,
        k.trueSize.size.toLong, k.medianTrueSize, k.predSize.size.toLong, (mf + bf + cf) / 3.0))
      .toDF("muc_p", "muc_r", "muc_f1", "b3_p", "b3_r", "b3_f1", "ceafe_p", "ceafe_r", "ceafe_f1",
        "n_true_clusters", "median_true_size", "n_pred_clusters", "mean_f1")
  }
}
