package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults — the ONE place a
  * `SparkSession` is built. Every entry point chains only its own
  * differences (`.master`, `.config`) on [[builder]], so the plans we
  * test, verify, bench and `Explain` are the same plans.
  *
  * Local mode is a stand-in for a multi-executor cluster: shuffle
  * partitioning, AQE, and broadcast thresholds are set the way we'd set
  * them per-executor-core on a real cluster, so plans exercised here
  * (pushdown, broadcast joins, partial aggs, AQE skew handling) are the
  * plans we'd get at scale.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The `spark.sql.*` settings [[builder]] applies. */
  private[graft] def sqlConf: Map[String, String] = Map(
    // one shuffle partition per core in local mode; a real deployment
    // sets this (or relies on AQE coalescing) relative to cluster cores
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.filterPushdown" -> "true",
    // events.parquet carries TIMESTAMP(NANOS); read as long nanos
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config(sqlConf)
      .config("spark.ui.enabled", "false")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
