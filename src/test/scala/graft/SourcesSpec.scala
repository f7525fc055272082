package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Projections, Trees}
import graft.sources.Sources

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("PubTator parser: doc count, title/abstract split, offsets, type split") {
    val docs = Sources.pubTatorFromString(spark, QueriesSources.pubTatorFixture).collect()
      .sortBy(_.pmid)
    docs.length shouldBe 2
    docs(0).pmid shouldBe "1234"
    docs(0).title shouldBe "Title 1"
    docs(0).abstract_ shouldBe "Abstract 1"
    docs(0).mentions.head.start shouldBe 0
    docs(0).mentions.head.end shouldBe 1
    docs(0).mentions.head.text shouldBe "T"
    docs(0).mentions.head.semanticTypes shouldBe Seq("T1", "T2")
    docs(1).mentions.head.entityId shouldBe "C02"
  }

  test("AIDA parser: BIO spans and the glued-last-token quirk") {
    val doc = Sources.aidaFromString(spark, QueriesSources.aidaFixture).collect().head
    doc.docId shouldBe "1 EU"
    doc.text shouldBe "EU rejects German call toboycott" // last two tokens glued, as the reference
    doc.text.substring(doc.mentions(0).start, doc.mentions(0).end) shouldBe "EU"
    doc.text.substring(doc.mentions(1).start, doc.mentions(1).end) shouldBe "German"
  }

  test("ECB+ parser drops ACT/NEG markables and honors gold sentences") {
    val all = Sources.parseEcbPlusXml(QueriesSources.ecbFixture)
    all.map(_.mention) shouldBe Seq("big dog")
    all.head.entityId shouldBe "r1"
    val goldOnly = Sources.parseEcbPlusXml(QueriesSources.ecbFixture, Some(Set("1")))
    goldOnly shouldBe empty // the surviving markable is in sentence 0
  }

  test("embedding TSV roundtrip (S7/S8)") {
    val dir = Files.createTempDirectory("graft-emb").toString + "/emb"
    val df = Seq((0L, "C00", Array(0.5f, -1.0f)), (1L, "C01", Array(0.25f, 2.0f)))
      .toDF("uid", "entity_id", "embedding")
    Sources.writeEmbeddingsTsv(df, "uid", "entity_id", "embedding", 2, dir)
    val back = Sources.readEmbeddingsTsv(spark, dir)
      .orderBy("uid").as[(Long, String, Array[Float])].collect()
    back.map(_._1).toSeq shouldBe Seq(0L, 1L)
    back(0)._3.toSeq shouldBe Seq(0.5f, -1.0f)
    back(1)._2 shouldBe "C01"
  }

  test("embedding TSV reader fails on a line of another width (S7)") {
    // a 4-dim line after a 3-dim first line used to be truncated to 3
    // dims, and a 2-dim line padded with a null
    Seq("0\tC00\t0.5\t1.0\t2.0\n1\tC01\t0.5\t1.0\t2.0\t3.0\n",
        "0\tC00\t0.5\t1.0\t2.0\n1\tC01\t0.5\t1.0\n").foreach { text =>
      val dir = Files.createTempDirectory("graft-emb-bad")
      Files.writeString(dir.resolve("part-0.tsv"), text)
      withClue(text) {
        intercept[Exception](Sources.readEmbeddingsTsv(spark, dir.toString).collect())
      }
    }
  }

  test("vocab CSV writer prepends [PAD] and keeps descending order (S9)") {
    val dir = Files.createTempDirectory("graft-vocab").toString + "/vocab"
    val vocab = Seq(("C01", 17L), ("C00", 4L)).toDF("entity", "cnt")
    Sources.writeVocabCsv(vocab, dir)
    val back = Sources.readVocabCsv(spark, dir).collect().map(r => (r.getString(0), r.getLong(1)))
    back.head shouldBe ("[PAD]", 0L)
    back.toSet should contain allOf (("C01", 17L), ("C00", 4L))
  }

  test("cluster-pairs CSV roundtrip (S10)") {
    val dir = Files.createTempDirectory("graft-pairs").toString + "/pairs"
    val df = Seq((0L, "a", "x"), (1L, "b", "y")).toDF("i", "t", "p")
    Sources.writeClusterPairs(df, "t", "p", "i", dir)
    val back = Sources.readClusterPairs(spark, dir).collect().map(r => (r.getString(0), r.getString(1)))
    back.toSet shouldBe Set(("a", "x"), ("b", "y"))
  }

  test("cluster-pairs writer evaluates its input once and writes one file in order (S10)") {
    // a global sort would sample its input in a job of its own, running
    // the upstream plan (a clustering fold) twice
    val n = 1000
    val evaluated = spark.sparkContext.longAccumulator("pairs-input-rows")
    val rows = new scala.util.Random(7).shuffle((0 until n).toList)
      .map(i => (i.toLong, s"t$i", s"p${i % 7}"))
    val df = spark.sparkContext.parallelize(rows, 3)
      .mapPartitions(_.map { r => evaluated.add(1); r })
      .toDF("i", "t", "p")
    val dir = Files.createTempDirectory("graft-pairs-once").toString + "/pairs"
    Sources.writeClusterPairs(df, "t", "p", "i", dir)
    evaluated.value shouldBe n.toLong
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    parts.length shouldBe 1
    Files.readAllLines(parts.head.toPath).toArray.toSeq shouldBe
      (0 until n).map(i => s"t$i, p${i % 7}")
  }

  test("cluster-pairs reader fails on a line without exactly two fields (S10)") {
    // a 3-field line, and a 1-field line that is not the first: both
    // used to be truncated or null-filled silently
    Seq("a, x\nb, y, z\n", "a, x\nb\n").foreach { text =>
      val dir = Files.createTempDirectory("graft-pairs-bad")
      Files.writeString(dir.resolve("part-0.csv"), text)
      withClue(text) {
        intercept[Exception](Sources.readClusterPairs(spark, dir.toString).collect())
      }
    }
  }

  test("dendrogram TSV roundtrip feeds dendrogramPurity (S11 + A4)") {
    val dir = Files.createTempDirectory("graft-tree").toString + "/tree"
    val tree = Seq(
      ("0", null, null), ("a", "0", "white"), ("1", "0", null),
      ("b", "1", "white"), ("2", "1", null), ("c", "2", "black"), ("d", "2", "black"))
      .toDF("uid", "parent_uid", "label")
    Sources.writeDendrogramTsv(tree, dir)
    val nodes = Sources.readDendrogramTsv(spark, dir).collect()
      .map(r => Trees.TreeNode(r.getString(0), Option(r.getString(1)), Option(r.getString(2))))
    Trees.dendrogramPurity(nodes.toSeq) shouldBe 0.75 +- 1e-12
  }

  test("chunked shuffle preserves the row multiset (P9)") {
    val df = (1 to 100).toDF("x")
    val out = Projections.chunkedShuffle(df, chunkSize = 10)
    out.collect().map(_.getInt(0)).sorted.toSeq shouldBe (1 to 100)
  }

  test("shard filter partitions rows round-robin (P8)") {
    val df = (0 until 10).toDF("x")
    val shards = (0 until 3).map(r =>
      Projections.shardFilter(df, col("x"), 3, r).collect().map(_.getInt(0)).toSet)
    shards.reduce(_ ++ _) shouldBe (0 until 10).toSet
    shards.map(_.size).sum shouldBe 10
  }

  test("date enrichment joins a deterministic per-id fetch (S12)") {
    val df = Seq(("p1", 1), ("p2", 2), ("p1", 3)).toDF("pmid", "v")
    val out = Sources.enrichDates(df, "pmid", fetch = id => s"01/01/20$id")
    out.count() shouldBe 3
    out.where(col("pmid") === "p1").select("date").distinct().as[String].collect().toSeq shouldBe Seq("01/01/20p1")
  }

  /** S12 against a RECORDED esummary fixture: the pluggable fetch
    * parses canned PubMed responses exactly like the reference
    * (`scripts/preprocess_medmentions.py:89-97` — `result[pmid]
    * ['sortpubdate']` as `%Y/%m/%d %H:%M`, None on a malformed
    * response), re-emitted in the mention stream's dd/MM/yyyy format.
    */
  test("S12 enrichDates parses a recorded esummary payload through the pluggable fetch") {
    val canned = Map(
      "111" -> """{"header":{"type":"esummary","version":"0.3"},"result":{"uids":["111"],"111":{"uid":"111","sortpubdate":"2019/05/17 00:00","title":"Doc one"}}}""",
      "222" -> """{"header":{"type":"esummary","version":"0.3"},"result":{"uids":["222"],"222":{"uid":"222","sortpubdate":"2003/11/02 09:30","title":"Doc two"}}}""",
      "333" -> """{"header":{"type":"esummary","version":"0.3"},"result":{"uids":["333"],"333":{"uid":"333","error":"cannot get document summary"}}}""")
    val sortRe = """"sortpubdate":"(\d{4})/(\d{2})/(\d{2}) \d{2}:\d{2}"""".r
    val fetch: String => String = pmid =>
      sortRe.findFirstMatchIn(canned(pmid)) match {
        case Some(m) => s"${m.group(3)}/${m.group(2)}/${m.group(1)}"
        case None => null // reference: publication_date = None on bad payload
      }
    val docs = Seq(("111", "a"), ("222", "b"), ("333", "c"), ("111", "d"))
      .toDF("pmid", "title")
    val out = Sources.enrichDates(docs, "pmid", fetch)
    out.count() shouldBe 4
    def dateOf(p: String): Seq[String] =
      out.where(col("pmid") === p).select("date").distinct()
        .as[String].collect().toSeq
    dateOf("111") shouldBe Seq("17/05/2019") // both rows, one fetch per pmid
    dateOf("222") shouldBe Seq("02/11/2003")
    dateOf("333") shouldBe Seq(null)
    // the emitted strings parse under the stream's dd/MM/yyyy contract
    out.where(col("pmid") === "111")
      .select(to_date(col("date"), "dd/MM/yyyy").cast("string")).distinct()
      .as[String].collect().toSeq shouldBe Seq("2019-05-17")
  }
}
