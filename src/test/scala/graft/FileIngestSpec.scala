package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryException}

import graft.streaming.StreamingPacking
import graft.streaming.StreamingPacking.PackEvent

/** Contracts of the file-source ingest harness every driver st query
  * rides on (QueriesStreaming.fileIngest / rangeChunks): chunk →
  * micro-batch identity, the range-cut partition law, and that a
  * chunking which violates an operator's cross-batch arrival contract
  * fails LOUDLY instead of silently diverging from the batch oracle.
  */
class FileIngestSpec extends SparkSpec {
  import spark.implicits._

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
    QueriesStreaming.withShufflePartitions(spark, 2) {
      QueriesStreaming.fileIngest(spark, chunks) { stream =>
        stream.as[(Long, Long)].groupByKey(_._1)
          .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (_: Long, it: Iterator[(Long, Long)], st: GroupState[Long]) =>
              val step = st.getOption.getOrElse(0L) + 1
              st.update(step)
              it.map(e => (step, e._2))
          }
          .toDF("step", "id")
          .writeStream.format("memory").queryName("fi_sink").outputMode("append").start()
      }
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
    val ex = intercept[StreamingQueryException] {
      QueriesStreaming.withShufflePartitions(spark, 2) {
        QueriesStreaming.fileIngest(spark, descending) { stream =>
          StreamingPacking.pack(stream.as[PackEvent], seqLen = 16)
            .writeStream.format("memory").queryName("fi_bad_sink").outputMode("append").start()
        }
      }
    }
    ex.getMessage should include("ingest contract is violated")
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
    // fileIngest2: the tag on the second chunk of the B side only
    val e2 = intercept[IllegalArgumentException] {
      QueriesStreaming.fileIngest2(spark, Seq(clean, clean), Seq(clean, tagged)) { (a, _) =>
        sink(a)
      }
    }
    e2.getMessage should include("__graft_chunk")
  }
}
