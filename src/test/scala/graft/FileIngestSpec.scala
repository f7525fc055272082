package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.{KeyedFold, StreamingPacking}
import graft.streaming.StreamingPacking.PackEvent

/** Contracts of the file-source ingest harness every driver st query
  * rides on (QueriesStreaming.fileIngest / rangeChunks): chunk →
  * micro-batch identity, the range-cut partition law, and that a
  * chunking which violates an operator's cross-batch arrival contract
  * fails LOUDLY instead of silently diverging from the batch oracle.
  */
class FileIngestSpec extends SparkSpec {
  import spark.implicits._

  /** Tags each row with the count of micro-batches its key has been
    * seen in so far: 1 in the key's first batch, 2 in its second, …
    */
  private def withBatchStep[T, O: Encoder](ds: Dataset[T])(key: T => Long)
                                          (tag: (T, Long) => O): Dataset[O] =
    KeyedFold(ds)(key) { (_: Long, prior: Option[Long], rows: Iterator[T]) =>
      val step = prior.getOrElse(0L) + 1
      (Some(step), rows.map(tag(_, step)))
    }

  test("rangeChunks: a partition of the input — no loss, no duplication, ascending, equal keys never split") {
    val df = (1L to 100L).map(i => (i, i % 7)).toDF("id", "k")
    val chunks = QueriesStreaming.rangeChunks(df, "k", 3)
    val idSets = chunks.map(_.select("id").as[Long].collect().toSet)
    idSets.map(_.size).sum shouldBe 100 // no duplication
    idSets.reduce(_ ++ _).size shouldBe 100 // no loss
    val ks = chunks.map(_.select("k").as[Long].collect())
    ks.sliding(2).foreach {
      case Seq(a, b) => if (a.nonEmpty && b.nonEmpty) a.max should be < b.min
      case _ => ()
    }
    // a value never straddles a cut
    val byChunk = ks.zipWithIndex.flatMap { case (vs, i) => vs.distinct.map(_ -> i) }
    byChunk.groupBy(_._1).values.foreach(owners => owners.map(_._2).distinct.size shouldBe 1)
    // empty input fails fast instead of NPEing on the null min
    intercept[IllegalArgumentException] {
      QueriesStreaming.rangeChunks(df.where(lit(false)), "k")
    }
  }

  test("fileIngest: each appended chunk arrives as exactly one micro-batch, chunks in order") {
    val base = (0L until 30L).map(i => (0L, i)).toDF("k", "id")
    val chunks = (0 until 3).map(i =>
      base.where(col("id") >= i * 10 && col("id") < (i + 1) * 10))
    QueriesStreaming.fileIngest(spark, chunks) { stream =>
      withBatchStep(stream.as[(Long, Long)])(_._1)((e, step) => (step, e._2))
        .toDF("step", "id")
        .writeStream.format("memory").queryName("fi_sink").outputMode("append").start()
    }
    val got = spark.table("fi_sink").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.keySet shouldBe Set(1L, 2L, 3L) // three chunks = three batches
    (1 to 3).foreach { i =>
      withClue(s"batch $i: ") {
        got(i.toLong) shouldBe (((i - 1) * 10).toLong until (i * 10).toLong).toSet
      }
    }
  }

  test("a chunking that violates the per-shard (hash, id) pack contract fails loudly, not silently") {
    // st23's safety net: events chunked on DESCENDING h ranges reach
    // StreamingPacking out of order across batches — the operator must
    // throw (via the streaming query), never assign contradictory
    // offsets that would diverge from the batch p14 oracle
    val events = (0L until 30L).map(i => PackEvent(shard = 0L, docId = i, h = i, nTok = 5L))
      .toDF()
    val descending = Seq(
      events.where(col("h") >= 20), events.where(col("h") >= 10 && col("h") < 20),
      events.where(col("h") < 10))
    // and the failure unwinds the harness: the session's partition count
    // is back (a value other than StP, so the restore is observable)
    // and no ingest dir is left behind
    def ingestDirs(): Set[String] = {
      val ls = java.nio.file.Files.list(QueriesStreaming.ingestRoot)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft-ingest-") || n.startsWith("graft-staging-")).toSet
      finally ls.close()
    }
    val key = "spark.sql.shuffle.partitions"
    val sessionValue = spark.conf.get(key)
    spark.conf.set(key, "3")
    try {
      val before = ingestDirs()
      val ex = intercept[StreamingQueryException] {
        QueriesStreaming.fileIngest(spark, descending) { stream =>
          spark.conf.get(key) shouldBe QueriesStreaming.StP.toString
          StreamingPacking.pack(stream.as[PackEvent], seqLen = 16)
            .writeStream.format("memory").queryName("fi_bad_sink").outputMode("append").start()
        }
      }
      ex.getMessage should include("ingest contract is violated")
      spark.conf.get(key) shouldBe "3"
      ingestDirs() -- before shouldBe empty
    } finally spark.conf.set(key, sessionValue)
  }

  test("fileIngest: a file source feeding a parquet topic feeding a second query, one batch per chunk in each") {
    // st26's shape: query A reads the ingest files and writes a parquet
    // topic, query B reads the topic. A per-key batch counter in each
    // query tags every row with the micro-batch it arrived in; chunk i
    // must be batch i in A AND in B (each drain runs A, then B)
    val base = (0L until 30L).map(i => (0L, i)).toDF("k", "id")
    val chunks = (0 until 3).map(i =>
      base.where(col("id") >= i * 10 && col("id") < (i + 1) * 10))
    val topic = java.nio.file.Files.createTempDirectory("fi-topic-")
    try {
      val mid = java.nio.file.Files.createDirectory(topic.resolve("mid"))
      QueriesStreaming.fileIngest(spark, Seq(chunks), Nil) { case Seq(in) =>
        val qA = withBatchStep(in.as[(Long, Long)])(_._1)((e, step) => (e._1, e._2, step))
          .toDF("k", "id", "stepA")
          .writeStream.format("parquet")
          .option("path", mid.toString)
          .option("checkpointLocation", topic.resolve("ck").toString)
          .outputMode("append").start()
        val qB = withBatchStep(spark.readStream.schema("k LONG, id LONG, stepA LONG")
          .parquet(mid.toString).as[(Long, Long, Long)])(_._1)((e, step) => (e._2, e._3, step))
          .toDF("id", "stepA", "stepB")
          .writeStream.format("memory").queryName("fi_chain_sink").outputMode("append").start()
        Seq(qA, qB)
      }
    } finally QueriesStreaming.rmRf(topic)
    val got = spark.table("fi_chain_sink").as[(Long, Long, Long)].collect()
    got.map(_._1).sorted.toSeq shouldBe (0L until 30L) // every row through both stages, once
    got.foreach { case (id, stepA, stepB) =>
      withClue(s"id $id: ") { (stepA, stepB) shouldBe ((id / 10 + 1, id / 10 + 1)) }
    }
  }

  test("the chunk-tag collision guard checks every chunk, not only the head") {
    // a '__graft_chunk' column on any chunk would be silently replaced
    // by the staging tag and stripped from the files: fail loudly, even
    // when the head chunk is clean
    val base = (0L until 20L).map(i => (0L, i)).toDF("k", "id")
    val clean = base.where(col("id") < 10)
    val tagged = base.where(col("id") >= 10).withColumn("__graft_chunk", lit(7))
    def sink(stream: org.apache.spark.sql.DataFrame) =
      stream.writeStream.format("memory").queryName("fi_tag_sink").outputMode("append").start()
    val e1 = intercept[IllegalArgumentException] {
      QueriesStreaming.fileIngest(spark, Seq(clean, tagged))(sink)
    }
    e1.getMessage should include("__graft_chunk")
    // two sources: the tag on the second chunk of side 2 only
    val e2 = intercept[IllegalArgumentException] {
      QueriesStreaming.fileIngest(spark, Seq(Seq(clean, clean), Seq(clean, tagged)), Nil) { ins =>
        Seq(sink(ins.head))
      }
    }
    e2.getMessage should include("__graft_chunk")
  }
}
