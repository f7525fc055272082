package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared test harness: one small local session per JVM (tests fork once,
  * so all suites share it — Spark session startup dominates otherwise).
  */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s outcome and the number of jobs it started. Counts only
    * jobs of its own job group (a concurrent suite's job can't
    * over-count) and drains the listener bus first (a slow bus can't
    * under-count) — no fixed sleep anywhere.
    */
  def jobsDuring[T](group: String)(body: => T): (scala.util.Try[T], Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (group == j.properties.getProperty("spark.jobGroup.id")) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group, false)
      val out = try scala.util.Try(body) finally spark.sparkContext.clearJobGroup()
      // listenerBus is private[spark] in source but public in bytecode
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** The only `spark.sql.*` settings where the test session departs from
    * [[GraftSession]]: 4 shuffle partitions for `local[4]`, and a
    * throwaway warehouse dir. PlanAuditSpec pins that there are no others.
    */
  val sqlOverrides: Set[String] = Set("spark.sql.shuffle.partitions", "spark.sql.warehouse.dir")

  lazy val session: SparkSession = {
    val s = GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
