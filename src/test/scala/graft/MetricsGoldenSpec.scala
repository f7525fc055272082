package graft

import org.apache.spark.sql.functions.col

import graft.operators.Metrics

/** Golden-equivalence against the REFERENCE metric implementations:
  * expected MUC and B-cubed P/R/F1 computed by executing
  * /root/reference/meercat/eval_clusters.py muc()/b3() on random
  * assignments. B-cubed tolerance reflects our order-independent
  * scaled-integer sum (error < 1e-8 vs the reference's float sum);
  * MUC matches to ~1e-12 (same epsilon-guarded divisions).
  */
class MetricsGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val cases: Seq[(Seq[(Int, Int)], Double, Double, Double, Double, Double, Double)] = Seq(
    (Seq((2, 2), (0, 0), (3, 1), (3, 2), (1, 2), (0, 1), (0, 0), (0, 2), (3, 1)), 0.33333333333332776, 0.399999999999992, 0.36363636363630736, 0.5185185185185185, 0.574074074074074, 0.5448838669177651),
    (Seq((0, 2), (2, 1), (2, 3), (1, 3), (1, 2), (2, 3), (2, 3), (2, 1), (0, 1), (2, 2), (3, 2), (1, 0), (1, 0), (1, 0), (3, 3), (2, 2), (0, 3), (2, 2), (0, 1), (2, 1)), 0.5624999999999966, 0.5624999999999966, 0.5624999999999466, 0.48, 0.38499999999999995, 0.42728323699421955),
    (Seq((3, 2), (1, 1), (3, 2), (2, 0), (1, 0), (2, 1), (3, 2)), 0.49999999999998745, 0.49999999999998745, 0.4999999999999375, 0.7142857142857143, 0.7142857142857143, 0.7142857142857143),
    (Seq((1, 0), (0, 2), (2, 1), (1, 3), (2, 2), (3, 1), (0, 2), (0, 3), (2, 1), (0, 2), (2, 0), (2, 2), (0, 0), (2, 3), (2, 1), (2, 2), (1, 2), (3, 2)), 0.42857142857142555, 0.42857142857142555, 0.42857142857137553, 0.3888888888888889, 0.3722222222222223, 0.3803730738037308))

  cases.zipWithIndex.foreach { case ((rows, mp, mr, mf, bp, br, bf), i) =>
    test(s"reference-equivalent MUC and B3 on random assignment $i") {
      val df = rows.map { case (t, p) => (s"t$t", s"p$p") }.toDF("t", "p")
      val m = Metrics.muc(df, col("t"), col("p")).collect().head
      m.getDouble(0) shouldBe mp +- 1e-12
      m.getDouble(1) shouldBe mr +- 1e-12
      m.getDouble(2) shouldBe mf +- 1e-12
      val b = Metrics.bCubed(df, col("t"), col("p")).collect().head
      b.getDouble(0) shouldBe bp +- 1e-8
      b.getDouble(1) shouldBe br +- 1e-8
      b.getDouble(2) shouldBe bf +- 1e-8
      val s = Metrics.evalSummary(df, col("t"), col("p")).collect().head
      Seq("muc_p" -> mp, "muc_r" -> mr, "muc_f1" -> mf).foreach { case (f, v) =>
        withClue(s"evalSummary $f: ")(s.getAs[Double](f) shouldBe v +- 1e-12)
      }
      Seq("b3_p" -> bp, "b3_r" -> br, "b3_f1" -> bf).foreach { case (f, v) =>
        withClue(s"evalSummary $f: ")(s.getAs[Double](f) shouldBe v +- 1e-8)
      }
    }
  }
}
