package graft

import org.apache.spark.sql.functions._

/** st6 at scale with a FILE sink — the sf100 evidence harness the
  * round-19 diagnosis called for (VERDICT r19 #3). Three executed r19
  * attempts isolated the sf100 RocksDB blocker to the MEMORY TEST
  * SINK: ScaleSmoke drives `SparkEntry.queries("st6_...")`, whose
  * memory sink collects the full (linear in corpus) candidate output
  * onto the one local[32] driver — the 48 g run had ZERO state-store
  * OOM in 70 minutes and died to a 139 s full-GC pause tripping the
  * 120 s executor heartbeat. The state store was never the problem;
  * the test sink was.
  *
  * This main runs the IDENTICAL st6 pipeline (same band prep, same
  * d3b bucket cap, same file-source chunked ingest, same
  * flatMapGroupsWithState candidates + streaming dropDuplicates) but
  * lands the output in a PARQUET sink — the production shape: output
  * scales with the corpus, so it belongs on storage, never the
  * driver. Heartbeat/network timeouts are raised for the single-JVM
  * GC pauses a 2M-doc local smoke legitimately takes. Respects
  * SPARK_GRAFT_STATE_STORE=rocksdb via the same toggle as every
  * streaming twin.
  *
  * Usage: runMain graft.St6FileSinkSmoke <sfDir>
  * Prints one JSON line {"st6_file_sink": {...wall, rows...}}.
  */
object St6FileSinkSmoke {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: St6FileSinkSmoke <sfDir>")
    val dir = args(0)
    val spark = GraftSession.builder("graft-st6-file-sink")
      // single-JVM local[32] at 2M docs takes real full-GC pauses; the
      // r19 48 g attempt died to a 139 s pause tripping the default
      // 120 s heartbeat/network timeouts, not to memory
      .config("spark.executor.heartbeatInterval", "120s")
      .config("spark.network.timeout", "1200s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    import graft.streaming.StreamingNearDup.BandEvent

    // the EXACT st6 prep, by sharing (ADVICE r20): one definition in
    // QueriesText.st6BandEvents feeds both the declared query and this
    // scale harness, so the pipelines cannot drift apart
    val (events, chunks) = QueriesText.st6BandEvents(spark, dir)

    val outDir = java.nio.file.Files.createTempDirectory(
      QueriesStreaming.ingestRoot, "graft-st6-out-")
    val ckDir = java.nio.file.Files.createTempDirectory(
      QueriesStreaming.ingestRoot, "graft-st6-ck-")
    val t0 = System.nanoTime()
    QueriesStreaming.withShufflePartitions(spark, QueriesStreaming.StP) {
      QueriesStreaming.fileIngest(spark, chunks, cache = Seq(events)) { stream =>
        StreamingNearDup.lshCandidates(stream.as[BandEvent])
          .toDF("doc_a", "doc_b")
          .dropDuplicates("doc_a", "doc_b")
          .writeStream.format("parquet")
          .option("path", outDir.toString)
          .option("checkpointLocation", ckDir.toString)
          .outputMode("append").start()
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // bounded action over the file-sink output (a count, never a
    // driver-side row collect)
    val rows = spark.read.parquet(outDir.toString).count()
    val store = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs-default")
    println(f"""{"st6_file_sink":{"sf":"$dir%s","store":"$store%s","wall":$wall%.3f,"rows":$rows%d,"cpus":${GraftSession.cpus}%s}}""")
    StreamingShutdown.closeStateStores()
    spark.stop()
    import scala.jdk.CollectionConverters._
    Seq(outDir, ckDir).foreach { d =>
      try java.nio.file.Files.walk(d).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      catch { case _: Throwable => () }
    }
  }
}
