package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.operators.{Metrics, Trees}

/** Literature-anchored golden values ported from the reference's test
  * suite (`/root/reference/tests/eval_clusters_test.py`,
  * `tests/dendrogram_purity_test.py`) — Vilain et al. Table 1 for MUC,
  * Luo Table 1a-c for B³/CEAF-e, the 4-leaf toy tree for purity.
  * Cluster labels are deliberately inconsistent across cases: metrics
  * must be label-invariant.
  */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  /** Build an assignment DF from parallel (element → true, element → pred) maps. */
  private def assign(trueClusters: Map[String, Seq[String]], predClusters: Map[String, Seq[String]]): DataFrame = {
    val t = trueClusters.flatMap { case (cid, els) => els.map(_ -> cid) }
    val p = predClusters.flatMap { case (cid, els) => els.map(_ -> cid) }
    t.keys.toSeq.sorted.map(e => (e, t(e), p(e))).toDF("el", "t", "p")
  }

  private def one(df: DataFrame): (Double, Double, Double) = {
    val r = df.collect().head
    (r.getDouble(0), r.getDouble(1), r.getDouble(2))
  }

  val luoTrue = Map("0" -> Seq("1", "2", "3", "4", "5"), "1" -> Seq("6", "7"), "2" -> Seq("8", "9", "A", "B", "C"))

  test("MUC Vilain Table 1 row 1: split cluster") {
    val df = assign(Map("0" -> Seq("A", "B", "C", "D")), Map("1" -> Seq("A", "B"), "2" -> Seq("C", "D")))
    val (p, r, _) = one(Metrics.muc(df, col("t"), col("p")))
    p shouldBe 1.0 +- 1e-9
    r shouldBe (2.0 / 3) +- 1e-9
  }

  test("MUC Vilain Table 1 row 2: merged cluster") {
    val df = assign(Map("0" -> Seq("A", "B"), "1" -> Seq("C", "D")), Map("2" -> Seq("A", "B", "C", "D")))
    val (p, r, _) = one(Metrics.muc(df, col("t"), col("p")))
    p shouldBe (2.0 / 3) +- 1e-9
    r shouldBe 1.0 +- 1e-9
  }

  test("MUC Vilain Table 1 row 3: exact") {
    val df = assign(Map("0" -> Seq("A", "B", "C", "D")), Map("1" -> Seq("A", "B", "C", "D")))
    val (p, r, f) = one(Metrics.muc(df, col("t"), col("p")))
    p shouldBe 1.0 +- 1e-9
    r shouldBe 1.0 +- 1e-9
    f shouldBe 1.0 +- 1e-9
  }

  test("MUC Vilain Table 1 row 5") {
    val df = assign(Map("0" -> Seq("A", "B", "C")), Map("1" -> Seq("A", "C"), "2" -> Seq("B")))
    val (p, r, _) = one(Metrics.muc(df, col("t"), col("p")))
    p shouldBe 1.0 +- 1e-9
    r shouldBe 0.5 +- 1e-9
  }

  test("B3 Luo Table 1a/1b/1c") {
    val cases = Seq(
      (Map("3" -> Seq("1", "2", "3", "4", "5"), "4" -> Seq("6", "7", "8", "9", "A", "B", "C")), 0.865),
      (Map("0" -> Seq("1", "2", "3", "4", "5", "8", "9", "A", "B", "C"), "1" -> Seq("6", "7")), 0.737),
      (Map("0" -> Seq("1", "2", "3", "4", "5", "6", "7", "8", "9", "A", "B", "C")), 0.545))
    cases.foreach { case (pred, golden) =>
      val (_, _, f) = one(Metrics.bCubed(assign(luoTrue, pred), col("t"), col("p")))
      f shouldBe golden +- 1e-3
    }
  }

  test("CEAF-e Luo Table 1a/1b/1c") {
    val cases = Seq(
      (Map("3" -> Seq("1", "2", "3", "4", "5"), "4" -> Seq("6", "7", "8", "9", "A", "B", "C")), 0.733),
      (Map("3" -> Seq("1", "2", "3", "4", "5", "8", "9", "A", "B", "C"), "4" -> Seq("6", "7")), 0.667),
      (Map("3" -> Seq("1", "2", "3", "4", "5", "6", "7", "8", "9", "A", "B", "C")), 0.294))
    cases.foreach { case (pred, golden) =>
      val (_, _, f) = one(Metrics.ceafE(assign(luoTrue, pred), col("t"), col("p")))
      f shouldBe golden +- 1e-3
    }
  }

  test("Hungarian: maximum-weight rectangular assignment") {
    Metrics.hungarianMax(Array(Array(1.0, 2.0), Array(3.0, 4.0))) shouldBe 5.0 +- 1e-12
    Metrics.hungarianMax(Array(Array(5.0, 1.0, 0.0), Array(1.0, 5.0, 4.0))) shouldBe 10.0 +- 1e-12
    // more rows than columns: only min(n,m) matches count
    Metrics.hungarianMax(Array(Array(2.0), Array(7.0), Array(1.0))) shouldBe 7.0 +- 1e-12
    Metrics.hungarianMax(Array.empty[Array[Double]]) shouldBe 0.0
  }

  private val entryPoints: Seq[(String, (DataFrame, Column, Column) => DataFrame)] = Seq(
    "muc" -> Metrics.muc, "bCubed" -> Metrics.bCubed, "ceafE" -> Metrics.ceafE,
    "evalSummary" -> Metrics.evalSummary)

  test("null labels fail loudly in every entry point, naming the column") {
    // scored inconsistently before: MUC's countDistinct skipped the null,
    // B³ and the census counted it as a cluster
    val nullTrue = Seq(("a", "x"), (null, "x"), ("b", "y")).toDF("t", "p")
    val nullPred = Seq(("a", "x"), ("a", null), ("b", "y")).toDF("t", "p")
    entryPoints.foreach { case (name, f) =>
      withClue(s"$name: ") {
        intercept[IllegalArgumentException](f(nullTrue, col("t"), col("p"))).getMessage should
          include ("true-cluster column t")
        intercept[IllegalArgumentException](f(nullPred, col("t"), col("p"))).getMessage should
          include ("predicted-cluster column p")
      }
    }
  }

  test("an empty assignment relation fails loudly in every entry point") {
    val empty = Seq.empty[(String, String)].toDF("t", "p")
    entryPoints.foreach { case (name, f) =>
      withClue(s"$name: ") {
        intercept[IllegalArgumentException](f(empty, col("t"), col("p"))).getMessage should
          include ("empty assignment relation")
      }
    }
  }

  test("evalSummary and muc each launch at most 2 Spark jobs (one contingency aggregation)") {
    val df = assign(luoTrue, Map("x" -> Seq("1", "2", "3", "4", "5"), "y" -> Seq("6", "7", "8", "9", "A", "B", "C")))
    // count only this test's job group, and drain the listener bus first
    val group = "metricsspec-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == j.properties.getProperty("spark.jobGroup.id")) jobs.incrementAndGet()
    }
    def jobsOf(run: => Unit): Int = {
      jobs.set(0)
      spark.sparkContext.setJobGroup(group, "metrics job count", false)
      try run finally spark.sparkContext.clearJobGroup()
      // listenerBus is private[spark] in source but public in bytecode
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      jobs.get()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val summary = jobsOf(Metrics.evalSummary(df, col("t"), col("p")).collect())
      val muc = jobsOf(Metrics.muc(df, col("t"), col("p")).collect())
      withClue("evalSummary: ")(summary should (be >= 1 and be <= 2))
      withClue("muc: ")(muc should (be >= 1 and be <= 2))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("dendrogram purity: reference toy tree = 0.75") {
    import Trees.TreeNode
    val nodes = Seq(
      TreeNode("0", None, None),
      TreeNode("a", Some("0"), None),
      TreeNode("1", Some("0"), None),
      TreeNode("b", Some("1"), None),
      TreeNode("2", Some("1"), None),
      TreeNode("c", Some("2"), None),
      TreeNode("d", Some("2"), None))
    val labels = Map("a" -> "white", "b" -> "white", "c" -> "black", "d" -> "black")
    Trees.dendrogramPurity(nodes, labels) shouldBe 0.75 +- 1e-12
  }

  test("metrics are label-invariant") {
    val pred = Map("x" -> Seq("1", "2", "3", "4", "5"), "y" -> Seq("6", "7", "8", "9", "A", "B", "C"))
    val renamed = Map("zz" -> Seq("1", "2", "3", "4", "5"), "0" -> Seq("6", "7", "8", "9", "A", "B", "C"))
    val f1 = one(Metrics.bCubed(assign(luoTrue, pred), col("t"), col("p")))._3
    val f2 = one(Metrics.bCubed(assign(luoTrue, renamed), col("t"), col("p")))._3
    f1 shouldBe f2 +- 1e-12
    val c1 = one(Metrics.ceafE(assign(luoTrue, pred), col("t"), col("p")))._3
    val c2 = one(Metrics.ceafE(assign(luoTrue, renamed), col("t"), col("p")))._3
    c1 shouldBe c2 +- 1e-12
  }
}
