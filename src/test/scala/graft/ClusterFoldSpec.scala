package graft

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.{ClusterFold, Grinch}

/** The C8 bisection every threshold search calls
  * (GreedyClustering.findThreshold, Grinch's tree cut, the CLI's combo).
  */
class ClusterFoldSpec extends SparkSpec {
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
}
