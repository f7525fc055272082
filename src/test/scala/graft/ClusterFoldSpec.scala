package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.operators.{ClusterFold, GreedyClustering, Grinch}

/** The C8 bisection every threshold search calls
  * (GreedyClustering.findThreshold, Grinch's tree cut, the CLI's combo),
  * the keyed prep both per-key clusterers fold over, and the counted
  * fan-out it shares with the exact ANN scans.
  */
class ClusterFoldSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** A monotone synthetic cluster count: ⌊1000·θ⌋, recording each probe. */
  private def bisectTrace(n: Long, target: Long, maxIters: Int): ((Double, Long), Seq[(Double, Long)]) = {
    val probes = mutable.ArrayBuffer.empty[(Double, Long)]
    val result = ClusterFold.bisect(n, target, maxIters) { t =>
      val c = math.floor(t * 1000).toLong
      probes += (t -> c)
      c
    }
    (result, probes.toSeq)
  }

  test("bisect probes midpoints toward the target and stops within n/1000") {
    // ε = 1: runs until the count lands on 300 exactly
    bisectTrace(1000, 300, 30) shouldBe ((0.30078125, 300L), Seq(
      0.5 -> 500L, 0.25 -> 250L, 0.375 -> 375L, 0.3125 -> 312L, 0.28125 -> 281L,
      0.296875 -> 296L, 0.3046875 -> 304L, 0.30078125 -> 300L))
    // ε = 5: |296 − 300| ≤ 5 stops two probes earlier on the same path
    bisectTrace(5000, 300, 30) shouldBe ((0.296875, 296L), Seq(
      0.5 -> 500L, 0.25 -> 250L, 0.375 -> 375L, 0.3125 -> 312L, 0.28125 -> 281L,
      0.296875 -> 296L))
  }

  test("bisect stops at its cap and returns the last probe") {
    bisectTrace(1000, 300, 3) shouldBe ((0.375, 375L), Seq(0.5 -> 500L, 0.25 -> 250L, 0.375 -> 375L))
  }

  test("bisect that never probes returns (0.5, -1); Grinch then cuts once at 0.5") {
    // n >= 1000·(target + 1) meets the tolerance before any probe
    bisectTrace(1000, 0, 30) shouldBe ((0.5, -1L), Nil)
    bisectTrace(10, 3, 0) shouldBe ((0.5, -1L), Nil)
    val rnd = new scala.util.Random(3)
    val df = (0 until 40).map(i => (i.toLong, Array.fill(4)(rnd.nextFloat() - 0.5f)))
      .toDF("id", "vec")
    val p = Grinch.Params(sim = "dot", norm = "l2")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").as[(Long, Long)].collect().toSeq
    val uncut = pairs(Grinch.flatClusterAuto(df, col("id"), col("vec"), col("id"), p,
      threshold = None, target = 5L, maxIters = 0))
    uncut shouldBe pairs(Grinch.flatCluster(df, col("id"), col("vec"), col("id"), p, threshold = 0.5))
    uncut.map(_._1) shouldBe (0L until 40L)
    uncut.map(_._2).foreach(_ should be >= 0L)
  }

  test("keyed folds keep their partitions under AQE and equal per-key single-stream runs") {
    // the suite session coalesces small shuffles (AQE on, 4 partitions);
    // a few KB of vectors must still fold its keys in parallel tasks
    spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") shouldBe "true"
    val rnd = new scala.util.Random(11)
    val keys = 0L until 4L
    val df = (for {
      k <- keys
      i <- 0 until 12
    } yield (k, k * 100 + i, Array.fill(4)(rnd.nextFloat() - 0.5f))).toDF("k", "id", "vec")
    def foldPartitions(out: org.apache.spark.sql.DataFrame): Long =
      out.select(spark_partition_id()).distinct().count()

    val gp = GreedyClustering.Params("backwards", -1, 0.1, cosine = true)
    val greedy = GreedyClustering.clusterByKey(df, col("k"), col("id"), col("vec"), col("id"), gp)
    foldPartitions(greedy) should be > 1L
    greedy.as[(Long, Long, Long)].collect().toSeq.sortBy(_._2) shouldBe keys.flatMap { k =>
      GreedyClustering.clusterSorted(df.where(col("k") === k), col("id"), col("vec"), col("id"), gp)
        .as[(Long, Long)].collect().toSeq.map { case (id, c) => (k, id, c) }
    }.sortBy(_._2)

    val hp = Grinch.Params(sim = "dot", norm = "l2")
    val grinch = Grinch.flatClusterByKey(df, col("k"), col("id"), col("vec"), col("id"), hp, threshold = 0.3)
    foldPartitions(grinch) should be > 1L
    grinch.as[(Long, Long, Long)].collect().toSeq.sortBy(_._2) shouldBe keys.flatMap { k =>
      Grinch.flatCluster(df.where(col("k") === k), col("id"), col("vec"), col("id"), hp, threshold = 0.3)
        .as[(Long, Long)].collect().toSeq.map { case (id, c) => (k, id, c) }
    }.sortBy(_._2)
  }

  test("exact ANN scans keep their fan-out under AQE (v1, v13 at sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") shouldBe "true"
    Seq("v1_cosine_topk", "v13_binary_hamming").foreach { name =>
      val out = SparkEntry.queries(name)(spark, dir)
      out.collect() should not be empty
      // the pair scan runs in the stage of the broadcast nested-loop
      // join, whose tasks are the fanned-out scan side's partitions
      val scans = collect(out.queryExecution.executedPlan) { case j: BroadcastNestedLoopJoinExec => j }
      withClue(s"$name: ") {
        scans should have size 1
        scans.head.outputPartitioning.numPartitions should be > 1
      }
    }
  }
}
