package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.KeyedFold

/** The group-state contract every stateful streaming operator rides on:
  * in-batch order, the first-seen key's empty state, a fold that leaves
  * its state unwritten, and the state a restarted query resumes from.
  */
class KeyedFoldSpec extends SparkSpec {
  import spark.implicits._

  test("rows reach the fold in the given order, whatever order they were added in") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)] // (key, value)
    val query = KeyedFold(input.toDS())(_._1, Some(Ordering.by(_._2))) {
      (key: Long, _: Option[Long], rows: Iterator[(Long, Long)]) =>
        (Option.empty[Long], Iterator.single((key, rows.map(_._2).toSeq)))
    }.writeStream.format("memory").queryName("kf_order").outputMode("append").start()
    try {
      // two appends before one drain: one micro-batch, keys interleaved,
      // each key's values in neither ascending nor descending order
      input.addData((0L, 5L), (1L, 40L), (0L, 3L), (0L, 9L), (1L, 10L))
      input.addData((0L, 1L), (1L, 30L), (0L, 7L), (1L, 20L))
      query.processAllAvailable()
      spark.table("kf_order").as[(Long, Seq[Long])].collect().toMap shouldBe
        Map(0L -> Seq(1L, 3L, 5L, 7L, 9L), 1L -> Seq(10L, 20L, 30L, 40L))
    } finally query.stop()
  }

  test("a new key gets no prior state, and a fold returning None leaves the stored state in place") {
    implicit val sqlCtx = spark.sqlContext
    // rows are (key, batch, value): a positive value is stored as the
    // key's state, a batch of zeros stores nothing
    val input = MemoryStream[(Long, Long, Long)]
    val query = KeyedFold(input.toDS())(_._1) {
      (key: Long, prior: Option[Long], rows: Iterator[(Long, Long, Long)]) =>
        val batch = rows.toSeq
        val top = batch.map(_._3).max
        (if (top > 0) Some(top) else None, Iterator.single((key, batch.head._2, prior)))
    }.writeStream.format("memory").queryName("kf_prior").outputMode("append").start()
    try {
      Seq(
        Seq((1L, 1L, 10L)),
        Seq((1L, 2L, 0L), (2L, 2L, 0L)),
        Seq((1L, 3L, 0L), (2L, 3L, 5L)),
        Seq((2L, 4L, 0L))
      ).foreach { b => input.addData(b); query.processAllAvailable() }
      spark.table("kf_prior").as[(Long, Long, Option[Long])].collect().toSet shouldBe Set(
        (1L, 1L, None),
        (1L, 2L, Some(10L)), (2L, 2L, None),
        (1L, 3L, Some(10L)), (2L, 3L, None), // neither key's state was written in batch 2
        (2L, 4L, Some(5L)))
    } finally query.stop()
  }

  test("after a stop and a restart from the same checkpoint, the fold resumes from the stored state") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("kf-restart")
    val out = base.resolve("out").toString
    val ck = base.resolve("ck").toString
    val input = MemoryStream[(Long, Long)] // (key, value)
    // a running sum per key; each row reports the sum before and after it
    def start() = KeyedFold(input.toDS())(_._1) {
      (key: Long, prior: Option[Long], rows: Iterator[(Long, Long)]) =>
        val before = prior.getOrElse(0L)
        val after = before + rows.map(_._2).sum
        (Some(after), Iterator.single((key, before, after)))
    }.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    try {
      val q1 = start()
      try { input.addData((1L, 1L), (1L, 2L), (2L, 5L)); q1.processAllAvailable() }
      finally q1.stop()
      val q2 = start()
      try { input.addData((1L, 4L), (2L, 1L), (3L, 7L)); q2.processAllAvailable() }
      finally q2.stop()
      spark.read.parquet(out).as[(Long, Long, Long)].collect().toSet shouldBe Set(
        (1L, 0L, 3L), (2L, 0L, 5L),
        (1L, 3L, 7L), (2L, 5L, 6L), (3L, 0L, 7L))
    } finally QueriesStreaming.rmRf(base)
  }
}
