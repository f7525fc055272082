package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared test harness: one small local session per JVM (tests fork once,
  * so all suites share it — Spark session startup dominates otherwise).
  */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
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
