package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{HashExpressions, TextFunctions}
import graft.operators.{GreedyClustering, Grinch, Metrics, Skew}
import graft.operators.GreedyClustering.Params

/** ScalaCheck property tests (SURVEY §5 "beyond the reference"):
  * metric bounds + label-invariance, clustering invariants under the
  * eviction strategies, hash determinism, salted-aggregation equality.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic ScalaCheck sampling (no scalatest bridge in the
    * offline cache): n samples from fixed seeds.
    */
  private def samples[A](g: Gen[A], n: Int = 10): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def forAll[A](g: Gen[A])(body: A => Unit): Unit = samples(g).foreach(body)

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    samples(ga).zip(samples(gb)).foreach { case (a, b) => body(a, b) }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val assignGen: Gen[List[(String, String)]] = for {
    n <- Gen.choose(2, 30)
    ts <- Gen.listOfN(n, Gen.choose(0, 4))
    ps <- Gen.listOfN(n, Gen.choose(0, 4))
  } yield ts.zip(ps).map { case (t, p) => (s"t$t", s"p$p") }

  test("property: metric P/R/F1 always within [0,1] and label-invariant") {
    forAll(assignGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("t", "p")
        val m = Metrics.muc(df, col("t"), col("p")).collect().head
        val b = Metrics.bCubed(df, col("t"), col("p")).collect().head
        val c = Metrics.ceafE(df, col("t"), col("p")).collect().head
        Seq(m, b, c).foreach { row =>
          (0 until 3).foreach { i =>
            val v = row.getDouble(i)
            assert(v >= -1e-12 && v <= 1.0 + 1e-9, s"metric out of range: $v")
          }
        }
        // relabeling predictions must not change any score
        val relabeled = rows.map { case (t, p) => (t, "z" + p + "q") }.toDF("t", "p")
        val b2 = Metrics.bCubed(relabeled, col("t"), col("p")).collect().head
        assert(math.abs(b.getDouble(2) - b2.getDouble(2)) < 1e-12)
        // the summary row agrees with the entry points and is label-invariant too
        val s = Metrics.evalSummary(df, col("t"), col("p")).collect().head
        val s2 = Metrics.evalSummary(relabeled, col("t"), col("p")).collect().head
        (0 until 3).foreach { i =>
          assert(s.getDouble(i) == m.getDouble(i) && s.getDouble(3 + i) == b.getDouble(i) &&
            s.getDouble(6 + i) == c.getDouble(i), s"evalSummary field $i disagrees with its entry point")
        }
        s2.toSeq.zip(s.toSeq).foreach {
          case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-12, s"evalSummary not label-invariant: $s vs $s2")
          case (x, y) => assert(x == y, s"evalSummary not label-invariant: $s vs $s2")
        }
      }
    }
  }

  private val vecsGen: Gen[List[Array[Float]]] = for {
    n <- Gen.choose(1, 25)
    vs <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-5, 5)).map(_.map(_.toFloat / 5).toArray))
  } yield vs.filter(v => v.exists(_ != 0f))

  test("property: greedy clustering ids are valid prior row ids for every strategy") {
    forAll(vecsGen, Gen.oneOf("backwards", "diversity", "cache", "diversity-cache")) { (vecs, strat) =>
      whenever(vecs.nonEmpty) {
        val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
        val p = Params(strat, limit = if (strat == "backwards") -1 else 4, threshold = 0.3, cosine = false)
        val out = GreedyClustering.clusterSorted(df, col("id"), col("vec"), col("id"), p)
          .orderBy("id").select("id", "pred_cluster").as[(Long, Long)].collect()
        out.foreach { case (id, c) =>
          assert(c <= id, "cluster root must not be a later row")
          assert(c >= 0)
        }
        // root rows point at themselves transitively
        val cl = out.toMap
        out.foreach { case (_, c) => assert(cl(c) == c, "cluster id must be a root") }
      }
    }
  }

  test("property: GRINCH assigns every point under any pruning budget") {
    forAll(vecsGen, Gen.choose(2, 8)) { (vecs, budget) =>
      whenever(vecs.length >= 2) {
        val g = new Grinch(vecs.toArray, activeLeafLimit = budget)
        g.buildDendrogram()
        val assign = g.flatClustering(0.5)
        assert(assign.length == vecs.length)
        assert(assign.forall(_ >= 0))
      }
    }
  }

  test("property: shingle-hash expression equals the HOF formulation") {
    val tokGen = Gen.listOf(Gen.oneOf("a", "bb", "ccc", "d e", "", "xyz"))
    forAll(tokGen, Gen.choose(1, 4)) { (toks, n) =>
      val df = Seq(Tuple1(toks)).toDF("toks")
      val native = df.select(TextFunctions.shingleHashes(col("toks"), n)).collect().head.getSeq[Long](0)
      val hof = df.select(
        array_distinct(transform(TextFunctions.shingles(col("toks"), n), s => TextFunctions.stringHash(s))))
        .collect().head.getSeq[Long](0)
      assert(native == hof, s"native $native != hof $hof for $toks n=$n")
    }
  }

  test("property: salted aggregation equals plain aggregation") {
    val rowsGen = Gen.listOf(for { k <- Gen.choose(0, 3); v <- Gen.choose(-100, 100) } yield (k, v))
    forAll(rowsGen, Gen.choose(2, 7)) { (rows, salts) =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, s"k$k", v.toLong) }
          .toDF("rid", "k", "v")
        val salted = Skew.saltedSum(df, col("k"), col("v"), col("rid"), salts)
          .orderBy("k").as[(String, Long)].collect().toSeq
        val plain = df.groupBy("k").agg(sum("v").cast("long").as("total"))
          .orderBy("k").as[(String, Long)].collect().toSeq
        assert(salted == plain)
      }
    }
  }

  test("property: salted join equals plain join (hot keys, missing keys, duplicates)") {
    val rowsGen = Gen.listOf(for { k <- Gen.choose(0, 3); v <- Gen.choose(-100, 100) } yield (k, v))
    forAll(rowsGen, Gen.choose(2, 7)) { (rows, salts) =>
      whenever(rows.nonEmpty) {
        val fact = rows.zipWithIndex.map { case ((k, v), i) => (i.toLong, s"k$k", v.toLong) }
          .toDF("rid", "fk", "v")
        // dim misses k3 (inner join drops those facts) and has no dups
        val dim = Seq(("k0", 10L), ("k1", 20L), ("k2", 30L)).toDF("dk", "dv")
        val salted = Skew.saltedJoin(fact, dim, col("fk"), col("dk"), col("rid"), salts)
          .select("rid", "fk", "dv").as[(Long, String, Long)].collect().toSeq.sorted
        val plain = fact.join(dim, col("fk") === col("dk"))
          .select("rid", "fk", "dv").as[(Long, String, Long)].collect().toSeq.sorted
        assert(salted == plain)
      }
    }
  }

  test("salted join fans a hot key across all salt sub-keys") {
    // every fact row carries ONE key: the salted join must spread the
    // shuffle across `salts` distinct (key, salt) combinations — the
    // whole point of the operator; recompute its deterministic salt
    val n = 64
    val fact = (0 until n).map(i => (i.toLong, "hot", i.toLong)).toDF("rid", "fk", "v")
    val salts = 8
    val saltDist = fact.select(pmod(col("rid"), lit(salts.toLong)).as("s"))
      .distinct().count()
    saltDist shouldBe salts.toLong
    val dim = Seq(("hot", 1L)).toDF("dk", "dv")
    Skew.saltedJoin(fact, dim, col("fk"), col("dk"), col("rid"), salts)
      .count() shouldBe n.toLong
  }

  test("grinch flatClusterByKey separates keys") {
    val df = Seq(
      (0L, 0L, Array(1f, 0f)), (0L, 1L, Array(1f, 0f)),
      (1L, 2L, Array(1f, 0f)), (1L, 3L, Array(0f, 1f)))
      .toDF("k", "id", "vec")
    val out = Grinch.flatClusterByKey(df, col("k"), col("id"), col("vec"), col("id"),
      Grinch.Params(), threshold = 0.5)
      .orderBy("id").select("key", "pred_cluster").as[(Long, Long)].collect().toSeq
    out(0) shouldBe (0L, out(1)._2) // key 0: both in one cluster
    out(2)._2 should not be out(3)._2 // key 1: orthogonal vectors split
  }

  test("keyed scale-out GRINCH preserves prune semantics per stream") {
    // the 100 TB path for memory-bounded GRINCH is one independent
    // automaton per key (flatClusterByKey); each per-key tree must
    // equal the single-stream run with the same integer config,
    // memory bound and eviction strategy included
    val p = Grinch.Params(rotateCap = 0, graftCap = 0, sim = "dot",
      norm = "none", activeLeafLimit = 12, pruningStrategy = "least_recent")
    val rnd = new scala.util.Random(5)
    def vec() = Array.fill(8)((rnd.nextInt(127) - 63).toFloat)
    def keyedEqualsSingle(df: org.apache.spark.sql.DataFrame): Unit = {
      val keyed = Grinch.flatClusterByKey(df, col("k"), col("id"), col("vec"), col("id"), p,
          threshold = 0.25)
        .select(col("key"), col("id"), col("pred_cluster"))
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._2)
      val keys = df.select("k").distinct().as[Long].collect().sorted.toSeq
      val single = keys.flatMap { k =>
        Grinch.flatCluster(df.where(col("k") === k), col("id"), col("vec"), col("id"), p,
            threshold = 0.25)
          .as[(Long, Long)].collect().toSeq.map { case (id, c) => (k, id, c) }
      }.sortBy(_._2)
      keyed shouldBe single
    }
    val rows = for {
      k <- 0L to 2L
      i <- 0 until 60
    } yield (k, k * 100 + i, vec())
    keyedEqualsSingle(rows.toDF("k", "id", "vec"))
    // one shuffle partition: every key run shares it, and the input
    // interleaves keys of uneven lengths (one a single point), so each
    // tree must come from its own contiguous run of the sorted partition
    val lens = Seq(1, 7, 40, 23, 55)
    val mixed = (0 until 60).flatMap(i => lens.indices.collect {
      case k if i < lens(k) => (k.toLong, i * 10L + k, vec())
    })
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try keyedEqualsSingle(mixed.toDF("k", "id", "vec"))
    finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("AQE splits a skewed sort-merge join at runtime (the automatic half of the skew story)") {
    // k1/j8 are the MANUAL hatches for shapes AQE misses; this pins the
    // automatic one: a hot key in a shuffled sort-merge join is split by
    // AdaptiveSparkPlan (skew=true on the join node) with no code change.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption.filter(_ != null)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      // one hot key carrying ~97% of the fact side, joined to a payload
      val fact = (0L until 60000L)
        .map(i => (if (i % 30 == 0) i else 0L, s"payload-$i"))
        .toDF("k", "v").repartition(4)
      val dim = (30L until 60000L by 30L).map(k => (k, k * 2)).toDF("k", "w")
        .union(Seq((0L, 0L)).toDF("k", "w")).repartition(4)
      val joined = fact.join(dim, "k")
      // execute THIS plan (count() builds a different QueryExecution),
      // then read back its final adaptive form
      val qe = joined.queryExecution
      qe.toRdd.count() shouldBe 60000L
      val plan = qe.executedPlan.toString
      plan should include ("isFinalPlan=true")
      plan should include ("skew=true")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => conf.set(k, x); case None => conf.unset(k) }
    }
  }

  test("property: packSequences equals a local per-shard fold on random corpora") {
    val P = 1000000007L
    val corpusGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(1, 300)
      ids <- Gen.listOfN(n, Gen.choose(0L, 100000L))
      toks <- Gen.listOfN(n, Gen.choose(0L, 40L))
    } yield ids.distinct.zip(toks)
    forAll(corpusGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("id", "ntok")
        val got = graft.operators.Packing.packSequences(
          df, col("id"), col("ntok"), shards = 4, seqLen = 16)
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
        // local recompute: hash-route, per-shard (h, id) order, cumsum
        val expect = rows.map { case (id, ntok) =>
          val h = (((id % P) * 2654435761L + 23L) % P + P) % P
          (id, ntok, h, h % 4)
        }.groupBy(_._4).flatMap { case (shard, members) =>
          var end = 0L
          members.sortBy(m => (m._3, m._1)).map { case (id, ntok, _, _) =>
            val start = end
            end = start + ntok
            (id, shard, start, end, start / 16, math.max(start, end - 1) / 16)
          }
        }.toSet
        got shouldBe expect
      }
    }
  }

  test("property: d10 shared fractions and t11 scores equal local recomputes on random corpora") {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docsGen: Gen[List[(Long, String)]] = for {
      n <- Gen.choose(1, 40)
      lens <- Gen.listOfN(n, Gen.choose(0, 12))
      words <- Gen.listOfN(n, Gen.listOfN(12, Gen.choose(0, vocab.length - 1)))
    } yield (0L until n.toLong).toList.zip(lens.zip(words).map {
      case (l, ws) => ws.take(l).map(vocab).mkString(" ")
    })
    forAll(docsGen) { docs =>
      whenever(docs.nonEmpty) {
        val dir = java.nio.file.Files.createTempDirectory("prop_corpus").toString
        docs.toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("s"))
          .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        def toks(t: String): Seq[String] =
          if (t.isEmpty) Seq("") else t.split(" ", -1).toSeq
        // d10: fraction of distinct 3-shingles present in >= 2 docs
        val sets = docs.map { case (id, t) =>
          id -> toks(t).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
        }.toMap
        val docFreq = sets.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
        val d10 = QueriesText.queries("d10_shared_shingles")(spark, dir)
          .as[(Long, Long, Long, Option[Double])].collect()
        d10.length shouldBe docs.length
        d10.foreach { case (id, ns, ss, _) =>
          withClue(s"d10 doc=$id: ") {
            ns shouldBe sets(id).size.toLong
            ss shouldBe sets(id).count(g => docFreq(g) >= 2).toLong
          }
        }
        // t11: per-myriad mean corpus frequency of bigram occurrences
        val bg = docs.map { case (id, t) =>
          id -> toks(t).sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
        }.toMap
        val cf = bg.values.flatten.groupBy(identity).map { case (g, o) => g -> o.size.toLong }
        val t11 = QueriesText.queries("t11_lm_score")(spark, dir)
          .select("doc_id", "n_bigrams", "sum_freq", "score_pm")
          .as[(Long, Long, Long, Option[Long])].collect()
        t11.foreach { case (id, m, sf, sc) =>
          withClue(s"t11 doc=$id: ") {
            m shouldBe bg(id).length.toLong
            sf shouldBe bg(id).map(cf).sum
            sc shouldBe (if (m == 0) None else Some(10000L * sf / m))
          }
        }
      }
    }
  }
}
