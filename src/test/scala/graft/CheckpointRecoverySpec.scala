package graft

import org.apache.spark.sql.functions._

import graft.streaming.{StreamingClustering, StreamingDedupOrdered, StreamingGrinch, StreamingPacking}
import graft.streaming.StreamingClustering.{Assignment, MentionEvent}
import graft.streaming.StreamingDedupOrdered.DocEvent
import graft.streaming.StreamingGrinch.PointEvent
import graft.streaming.StreamingPacking.PackEvent

/** Fault-tolerance contract of the stateful streaming operators: a
  * query STOPPED and RESTARTED from its checkpoint must resume with its
  * keyed state intact — the 100 TB requirement the per-operator scale
  * notes assume but nothing else executes. Both tests use the
  * production sink (parquet + _spark_metadata, exactly-once) because
  * the memory sink is not restart-compatible by design.
  */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix)

  test("dedup state survives a stop/restart: a duplicate arriving after recovery is still dropped") {
    val in = tmp("ck-dedup-in-"); val out = tmp("ck-dedup-out-"); val ck = tmp("ck-dedup-ck-")
    try {
      def start() = {
        val stream = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[DocEvent].schema)
          .parquet(in.toString)
        StreamingDedupOrdered.firstByOrder(stream.as[DocEvent])
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ck.toString)
          .outputMode("append").start()
      }
      // life 1: "aa" and "bb" enter state
      Seq(DocEvent("aa", 3L, 30L), DocEvent("bb", 1L, 10L)).toDF()
        .coalesce(1).write.mode("append").parquet(in.toString)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // life 2 (new query, same checkpoint): a redelivered "aa" must
      // be dropped — only possible if the keyed state was recovered —
      // while the unseen "cc" emits normally
      Seq(DocEvent("aa", 9L, 90L), DocEvent("cc", 7L, 70L)).toDF()
        .coalesce(1).write.mode("append").parquet(in.toString)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(out.toString)
        .as[(String, Long, Long)].collect().toSet
      got shouldBe Set(("aa", 3L, 30L), ("bb", 1L, 10L), ("cc", 7L, 70L))
    } finally Seq(in, out, ck).foreach(QueriesStreaming.rmRf)
  }

  test("packing offsets survive a stop/restart: post-recovery documents continue the shard's token stream") {
    val in = tmp("ck-pack-in-"); val out = tmp("ck-pack-out-"); val ck = tmp("ck-pack-ck-")
    try {
      def start() = {
        val stream = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[PackEvent].schema)
          .parquet(in.toString)
        StreamingPacking.pack(stream.as[PackEvent], seqLen = 10)
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ck.toString)
          .outputMode("append").start()
      }
      // life 1: shard 0 packs 7 tokens
      Seq(PackEvent(0L, 1L, 5L, 7L)).toDF()
        .coalesce(1).write.mode("append").parquet(in.toString)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // life 2: the next document must start at offset 7, not 0 —
      // only possible if the per-shard running offset was recovered
      Seq(PackEvent(0L, 2L, 6L, 4L)).toDF()
        .coalesce(1).write.mode("append").parquet(in.toString)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      spark.read.parquet(out.toString).count() shouldBe 2
      val rows = spark.read.parquet(out.toString)
        .select("docId", "tokStart", "tokEnd").as[(Long, Long, Long)].collect().toSet
      rows shouldBe Set((1L, 0L, 7L), (2L, 7L, 11L))
    } finally Seq(in, out, ck).foreach(QueriesStreaming.rmRf)
  }

  test("greedy clustering state survives a stop/restart: a post-recovery mention joins a pre-restart cluster") {
    val in = tmp("ck-greedy-in-"); val out = tmp("ck-greedy-out-"); val ck = tmp("ck-greedy-ck-")
    try {
      val p = graft.operators.GreedyClustering.Params(threshold = 0.5, cosine = true)
      def start() = {
        val stream = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[MentionEvent].schema)
          .parquet(in.toString)
        StreamingClustering.greedyCluster(stream.as[MentionEvent], p)
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ck.toString)
          .outputMode("append").start()
      }
      val life1 = Seq(
        MentionEvent(0L, 1L, 0L, Array(1f, 0f)),
        MentionEvent(0L, 2L, 1L, Array(0f, 1f)))
      // id=3 sits at cosine ≈ 0.995 to id=1's vector — it joins cluster
      // 1 ONLY if the recovered state still holds the stored embeddings;
      // with lost state it would seed its own cluster (predCluster=3)
      val life2 = Seq(
        MentionEvent(0L, 3L, 2L, Array(0.99f, 0.1f)),
        MentionEvent(0L, 4L, 3L, Array(-1f, 0f)))
      life1.toDF().coalesce(1).write.mode("append").parquet(in.toString)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      life2.toDF().coalesce(1).write.mode("append").parquet(in.toString)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(out.toString)
        .as[Assignment].collect().map(a => (a.id, a.predCluster)).toSet
      // reference: the SAME operator folded over all 4 events in one
      // uninterrupted batch pass (the batch/streaming parity surface)
      val uninterrupted = StreamingClustering
        .greedyCluster((life1 ++ life2).toDS(), p)
        .collect().map(a => (a.id, a.predCluster)).toSet
      got shouldBe uninterrupted
      withClue("the post-restart mention must have joined the pre-restart cluster: ") {
        got should contain((3L, 1L))
      }
    } finally Seq(in, out, ck).foreach(QueriesStreaming.rmRf)
  }

  test("GRINCH replay-log survives a stop/restart: the post-recovery tree equals an uninterrupted build") {
    val in = tmp("ck-grinch-in-"); val out = tmp("ck-grinch-out-"); val ck = tmp("ck-grinch-ck-")
    try {
      val p = graft.operators.Grinch.Params()
      def start() = {
        val stream = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[PointEvent].schema)
          .parquet(in.toString)
        StreamingGrinch.dendrogram(stream.as[PointEvent], p)
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", ck.toString)
          .outputMode("append").start()
      }
      val life1 = Seq(
        PointEvent(0L, 0L, 0L, Array(4f, 0f)),
        PointEvent(0L, 1L, 1L, Array(3f, 1f)))
      val life2 = Seq(
        PointEvent(0L, 2L, 2L, Array(0f, 4f)),
        PointEvent(0L, 3L, 3L, Array(1f, 3f)))
      life1.toDF().coalesce(1).write.mode("append").parquet(in.toString)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      life2.toDF().coalesce(1).write.mode("append").parquet(in.toString)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val rows = spark.read.parquet(out.toString)
        .select("uid", "parentUid", "step").as[(Long, Option[Long], Long)].collect()
      // step = points inserted so far: reaching 4 is only possible if
      // life 2 replayed the RECOVERED 2-entry log before its own 2
      // points (with lost state the max step would be 2 and leaf uids
      // would restart at 0)
      rows.map(_._3).max shouldBe 4L
      val finalTree = rows.filter(_._3 == 4L).map(r => (r._1, r._2)).toSet
      val uninterrupted = StreamingGrinch.dendrogram((life1 ++ life2).toDS(), p)
        .collect().map(t => (t.uid, t.parentUid)).toSet
      finalTree shouldBe uninterrupted
    } finally Seq(in, out, ck).foreach(QueriesStreaming.rmRf)
  }
}
