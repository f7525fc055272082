package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

class VectorSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.95f, 0.05f)),
    (4L, Array(0.0f, 0.0f, 1.0f)))

  test("dotProduct / l2Norm / cosine basics") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dotProduct(col("a"), col("b")),
      VectorFunctions.l2Norm(col("a")),
      VectorFunctions.cosine(col("a"), col("a"))).collect().head
    r.getDouble(0) shouldBe 32.0 +- 1e-12
    r.getDouble(1) shouldBe math.sqrt(14.0) +- 1e-12
    r.getDouble(2) shouldBe 1.0 +- 1e-12
  }

  test("l2Normalize produces unit vectors (norm hoisted, O(d))") {
    val df = Seq(Array(3.0f, 4.0f)).toDF("v")
      .select(VectorFunctions.l2Normalize(col("v")).as("n"))
    val n = df.collect().head.getSeq[Float](0)
    n(0) shouldBe 0.6f +- 1e-6f
    n(1) shouldBe 0.8f +- 1e-6f
  }

  test("rhpSignature is within [0, 2^bits) and deterministic") {
    val df = vecs.toDF("id", "v")
      .select(VectorFunctions.rhpSignature(col("v"), 8, 3).as("b"))
    val buckets = df.collect().map(_.getLong(0))
    all(buckets) should be >= 0L
    all(buckets) should be < 256L
    val again = df.collect().map(_.getLong(0))
    buckets shouldBe again
  }

  test("cosineTopK: nearest neighbor is the almost-parallel vector, self excluded") {
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.cosineTopK(df, df.where(col("vec_id") === 0), col("vec_id"), col("embedding"), 2)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect()
    out.head shouldBe ((0L, 1L, 1L))
    out.map(_._2) should not contain 0L
  }

  test("cosineTopK past the broadcast cap routes to the auto-width multi-table LSH") {
    val df = vecs.toDF("vec_id", "embedding")
    val capped = Similarity.cosineTopK(df, df, col("vec_id"), col("embedding"), 2,
      maxBroadcastRows = 2L, dim = 3)
    val auto = Similarity.rhpTopKForQueriesAuto(df, df, col("vec_id"), col("embedding"),
      dim = 3, k = 2)
    val a = capped.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val b = auto.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    a shouldBe b
    a should not be empty
  }

  test("autoPrefixBits: occupancy-targeted integer ceil-log2 width, clamped [4, 32]") {
    // tiny corpora clamp to the 4-bit floor
    Similarity.autoPrefixBits(0L, 32) shouldBe 4
    Similarity.autoPrefixBits(1L, 32) shouldBe 4
    Similarity.autoPrefixBits(512L, 32) shouldBe 4 // 512/32 = 16 = 2^4 exactly
    // boundary powers of two must NOT over-widen (the no-float-log2 rule)
    Similarity.autoPrefixBits(513L, 32) shouldBe 5  // ceil(513/32)=17 -> 2^5
    Similarity.autoPrefixBits(1024L, 32) shouldBe 5 // 32 buckets exactly
    Similarity.autoPrefixBits(1025L, 32) shouldBe 6
    // the driver-sf widths pinned by the v14d oracle artifact
    // (sf0.01=200 vecs, sf0.1=2k, sf1=20k, sf10=200k -> p=4/6/10/13)
    Similarity.autoPrefixBits(200L, 32) shouldBe 4
    Similarity.autoPrefixBits(2000L, 32) shouldBe 6
    Similarity.autoPrefixBits(20000L, 32) shouldBe 10
    Similarity.autoPrefixBits(200000L, 32) shouldBe 13
    // the 32-bit ceiling (hi packs 32 sign bits)
    Similarity.autoPrefixBits(Long.MaxValue / 2, 32) shouldBe 32
  }

  test("multi-probe: probed candidates superset unprobed at equal (p, L); matches a local recompute") {
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(10)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val vecs = (0L until 240L).map { id =>
      val c = centers((id % 10).toInt)
      id -> c.map(x => x + (rnd.nextGaussian() * 0.15).toFloat)
    }.toMap
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 10 === 0
    val (p, l) = (6, 4)
    def run(probe: Int) = Similarity.binaryHammingTopKMultiTable(
      df, col("vec_id"), col("embedding"), k = 3, isQuery = isQ,
      prefixBits = p, nTables = l, probe = probe)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val plain = run(0)
    val probed = run(1)
    // local recompute of the probed route: candidate = codes agree on
    // any table's window OR differ in exactly one bit of it
    import graft.functions.VectorFunctions
    val codes = df.select(col("vec_id"), VectorFunctions.signCode(col("embedding")).as("c"))
      .select(col("vec_id"), col("c.hi"), col("c.lo"))
      .as[(Long, Long, Long)].collect().map { case (i, h, lo) => i -> ((h, lo)) }.toMap
    def window(hi: Long, t: Int): Long = {
      val r = (t * p) % 32
      val rot = if (r == 0) hi else ((hi << r) & 0xFFFFFFFFL) + (hi >>> (32 - r))
      rot >>> (32 - p)
    }
    def ham(a: (Long, Long), b: (Long, Long)): Long =
      java.lang.Long.bitCount(a._1 ^ b._1).toLong + java.lang.Long.bitCount(a._2 ^ b._2)
    val masks = 0L +: (0 until p).map(1L << _)
    probed.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = vecs.keys.filter { c =>
        c != qid && (0 until l).exists(t =>
          masks.exists(m => (window(codes(qid)._1, t) ^ m) == window(codes(c)._1, t)))
      }.toSeq.map(c => (ham(codes(qid), codes(c)), c)).sorted.take(3)
      withClue(s"qid=$qid: ") {
        rows.sortBy(_._3).map(r => (r._4, r._2)) shouldBe expect
      }
    }
    // mask 0 IS the unprobed bucket, so the probed candidate set is a
    // superset: per-query Hamming of rank-1 can only improve or tie
    val p1 = plain.filter(_._3 == 1L).map(r => r._1 -> r._4).toMap
    probed.filter(_._3 == 1L).foreach { case (q, _, _, h) =>
      h should be <= p1.getOrElse(q, Long.MaxValue)
    }
    probed.map(_._1).toSet should contain allElementsOf plain.map(_._1).toSet
    // probe=2: the two-bit masks join the enumeration — same local
    // recompute with the pair masks added; rank-1 can only improve
    val probed2 = run(2)
    val masks2 = masks ++ (for { i <- 0 until p; j <- i + 1 until p }
      yield (1L << i) | (1L << j))
    probed2.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = vecs.keys.filter { c =>
        c != qid && (0 until l).exists(t =>
          masks2.exists(m => (window(codes(qid)._1, t) ^ m) == window(codes(c)._1, t)))
      }.toSeq.map(c => (ham(codes(qid), codes(c)), c)).sorted.take(3)
      withClue(s"probe=2 qid=$qid: ") {
        rows.sortBy(_._3).map(r => (r._4, r._2)) shouldBe expect
      }
    }
    val h1 = probed.filter(_._3 == 1L).map(r => r._1 -> r._4).toMap
    probed2.filter(_._3 == 1L).foreach { case (q, _, _, h) =>
      h should be <= h1.getOrElse(q, Long.MaxValue)
    }
  }

  test("fallbackPrefixBits: widens even derived widths to the full-headroom odd width") {
    val occ = 32; val l16 = 16
    // odd/gcd<=2 widths pass through untouched (enough distinct offsets)
    Similarity.fallbackPrefixBits(2000L, occ, l16) shouldBe 6   // 16 offsets = L
    Similarity.fallbackPrefixBits(20000L, occ, l16) shouldBe 10 // 16 offsets
    Similarity.fallbackPrefixBits(200000L, occ, l16) shouldBe 13 // odd
    // the clamp cases: p=8 (4 offsets) -> 9, p=16 (2) -> 17, p=24 (4) -> 25
    Similarity.fallbackPrefixBits(32L * 255, occ, l16) shouldBe 9
    Similarity.fallbackPrefixBits(32L * 65535, occ, l16) shouldBe 17
    Similarity.fallbackPrefixBits(32L * 16777215, occ, l16) shouldBe 25
    // p=32 cannot widen: stays clamped (multiTable logs the clamp)
    Similarity.fallbackPrefixBits(Long.MaxValue / 2, occ, l16) shouldBe 32
    // a table budget the derived width already covers is untouched
    Similarity.fallbackPrefixBits(32L * 255, occ, 4) shouldBe 8
  }

  test("distinctRotationTables: the fallback's table-count ceiling per width") {
    // the p=32 ceiling admits a single offset — the Auto fallback must
    // clamp L=16 to 1 there (degrade-with-warning), never trip
    // multiTable's explicit-knob require (ADVICE r15)
    Similarity.distinctRotationTables(32) shouldBe 1
    Similarity.distinctRotationTables(16) shouldBe 2
    Similarity.distinctRotationTables(24) shouldBe 4
    Similarity.distinctRotationTables(8) shouldBe 4
    Similarity.distinctRotationTables(13) shouldBe 32 // odd: full headroom
    Similarity.distinctRotationTables(6) shouldBe 16
  }

  test("cosineTopK exactOnly refuses to downgrade truth past the broadcast cap") {
    val df = (0L until 20L).map(id => (id, Array.fill(4)(id.toFloat + 1)))
      .toDF("vec_id", "embedding")
    // cap of 5 < 20 queries: the default route would fall back to LSH;
    // exactOnly (the recall-truth contract) must throw instead
    val e = intercept[IllegalStateException] {
      Similarity.cosineTopK(df, df, col("vec_id"), col("embedding"),
        k = 3, maxBroadcastRows = 5L, dim = 4, exactOnly = true)
    }
    e.getMessage should include("exactOnly")
    // within the cap the exact path runs regardless of the flag
    Similarity.cosineTopK(df, df, col("vec_id"), col("embedding"),
      k = 3, maxBroadcastRows = 100L, dim = 4, exactOnly = true)
      .count() should be > 0L
    // the boundary: exactly cap query rows (20) stays exact, cap+1 is over
    Similarity.cosineTopK(df, df, col("vec_id"), col("embedding"),
      k = 3, maxBroadcastRows = 20L, dim = 4, exactOnly = true)
      .count() should be > 0L
    intercept[IllegalStateException] {
      Similarity.cosineTopK(df, df, col("vec_id"), col("embedding"),
        k = 3, maxBroadcastRows = 19L, dim = 4, exactOnly = true)
    }
    // an empty query side is under any cap, even 0: the exact path runs
    Similarity.cosineTopK(df, df.where(lit(false)), col("vec_id"), col("embedding"),
      k = 3, maxBroadcastRows = 0L, dim = 4, exactOnly = true)
      .count() shouldBe 0L
  }

  test("autoIvfCells: integer ceil-sqrt of ceil(n/50), clamped [4, 4096]") {
    Similarity.autoIvfCells(0L) shouldBe 4
    Similarity.autoIvfCells(200L) shouldBe 4     // sf0.01: ceil(200/50)=4 -> 2, clamped
    Similarity.autoIvfCells(2000L) shouldBe 7    // sf0.1: ceil(2000/50)=40 -> 7 (49>=40)
    Similarity.autoIvfCells(20000L) shouldBe 20  // sf1: 400 -> 20 exactly
    Similarity.autoIvfCells(200000L) shouldBe 64 // sf10: 4000 -> 64 (63^2=3969 < 4000)
    // exact-square boundary must not over-shoot (integer, not float)
    Similarity.autoIvfCells(50L * 400) shouldBe 20
    Similarity.autoIvfCells(50L * 400 + 1) shouldBe 21
    Similarity.autoIvfCells(Long.MaxValue / 4) shouldBe 4096 // ceiling clamp
  }

  test("intIvfTopK nCells=0 auto mode matches the explicit derived cell count") {
    val rnd = new scala.util.Random(43)
    val df = (0L until 300L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 10 === 0
    val auto = Similarity.intIvfTopK(df, col("vec_id"), col("embedding"),
        nCells = 0, k = 3, isQuery = isQ)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val explicit = Similarity.intIvfTopK(df, col("vec_id"), col("embedding"),
        nCells = Similarity.autoIvfCells(300L), k = 3, isQuery = isQ)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    auto shouldBe explicit
    auto should not be empty
  }

  test("intIvf default nProbe is the measured IvfAutoProbe operating point") {
    // the shipped default = probe 2, picked from RECALL_r16's sf10
    // frontier (recall@3 0.384 -> 0.592 for ~1.6x wall) and
    // oracle-pinned by v11c; a default-arg call must equal the
    // explicit IvfAutoProbe config, and the rerank/int rankers must
    // agree on it
    Similarity.IvfAutoProbe shouldBe 2
    val rnd = new scala.util.Random(45)
    val df = (0L until 300L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 10 === 0
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    rows(Similarity.intIvfRerankTopK(df, col("vec_id"), col("embedding"),
      nCells = 6, k = 3, isQuery = isQ)) shouldBe
      rows(Similarity.intIvfRerankTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, k = 3, isQuery = isQ, nProbe = Similarity.IvfAutoProbe))
    rows(Similarity.intIvfTopK(df, col("vec_id"), col("embedding"),
      nCells = 6, k = 3, isQuery = isQ)) shouldBe
      rows(Similarity.intIvfTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, k = 3, isQuery = isQ, nProbe = Similarity.IvfAutoProbe))
  }

  test("intIvf nProbe: probed candidates are a superset, probe rank 1 is the own cell") {
    val rnd = new scala.util.Random(44)
    val df = (0L until 300L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 10 === 0
    val (fin, cents) = Similarity.intIvfBuild(df, col("vec_id"), col("embedding"), 6)
    // probe rank 1 IS the min_by assignment (same (dist, cell) tie-break)
    val own = fin.where(col("vid") % 10 === 0)
      .select("vid", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val p1 = Similarity.intIvfProbe(fin, cents, isQ, 1)
      .select("vid", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // nProbe=2 keeps the own cell and adds exactly one more per query
    val p2 = Similarity.intIvfProbe(fin, cents, isQ, 2)
      .select("vid", "cell").collect().groupBy(_.getLong(0))
      .map { case (v, rs) => v -> rs.map(_.getLong(1)).toSet }
    p1 shouldBe own
    p2.keySet shouldBe own.keySet
    own.foreach { case (v, c) =>
      p2(v) should contain(c)
      p2(v).size shouldBe 2
    }
    // the probed top-k candidate pool is a superset, so every probed
    // similarity at a given rank is >= the single-cell one
    val one = Similarity.intIvfRerankTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, k = 3, isQuery = isQ, nProbe = 1)
      .select("query_id", "rank", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val two = Similarity.intIvfRerankTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, k = 3, isQuery = isQ, nProbe = 2)
      .select("query_id", "rank", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    one.foreach { case (qr, s1) => two(qr) should be >= s1 }
  }

  test("ivfAdcTopK: deterministic, dense ranks, probed distances monotone") {
    val rnd = new scala.util.Random(46)
    val df = (0L until 300L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 10 === 0
    def run(pr: Int) = Similarity.ivfAdcTopK(df, col("vec_id"), col("embedding"),
      nCells = 6, m = 4, subDim = 2, kCodes = 4, topK = 3, isQuery = isQ, nProbe = pr)
    // integer build end to end => bit-identical across runs
    run(2).collect().map(_.toSeq).toSet shouldBe run(2).collect().map(_.toSeq).toSet
    // ranks dense from 1, ADC inner-product scores descend per query
    val rows = run(2).select("query_id", "rank", "adc_score")
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    rows should not be empty
    rows.values.foreach { rs =>
      rs.map(_._2).sorted.toSeq shouldBe (1L to rs.length).toSeq
      val ds = rs.sortBy(_._2).map(_._3)
      ds.zip(ds.tail).foreach { case (a, b) => a should be >= b }
    }
    // probing widens the candidate pool, so each rank's ADC score can
    // only improve (same monotonicity as the rerank probe test)
    val one = run(1).select("query_id", "rank", "adc_score")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val two = run(2).select("query_id", "rank", "adc_score")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    one.foreach { case (qr, d1) => two(qr) should be >= d1 }
  }

  test("ivfAdcTopK: m*subDim must match the embedding dimension (ADVICE r17)") {
    val rnd = new scala.util.Random(47)
    val df = (0L until 60L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    // too small (silently dropped tail) and too large (reads past the
    // array) must both fail loudly instead
    Seq((2, 2), (4, 4)).foreach { case (m, sd) =>
      val e = intercept[IllegalArgumentException] {
        Similarity.ivfAdcTopK(df, col("vec_id"), col("embedding"),
          nCells = 4, m = m, subDim = sd, kCodes = 4, topK = 3,
          isQuery = _ % 10 === 0)
      }
      e.getMessage should include("embedding dimension")
    }
  }

  test("ivfAdcRerankTopK covering the candidate pool equals the exact IVF rerank") {
    val rnd = new scala.util.Random(48)
    val df = (0L until 300L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 10 === 0
    // shortlist >= every query's probed-cell candidate count => the
    // ADC filter passes the whole pool through, so the float rerank
    // must return exactly intIvfRerankTopK's answer (same pool, same
    // (sim desc, cid) tie-break) — the ADC tier only ever narrows
    val full = Similarity.intIvfRerankTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, k = 3, isQuery = isQ, nProbe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val viaAdc = Similarity.ivfAdcRerankTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, m = 4, subDim = 2, kCodes = 4, shortlist = 300, topK = 3,
        isQuery = isQ, nProbe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    viaAdc shouldBe full
    full should not be empty
  }

  test("ivfAdcRerankTopK derived shortlist: frac=1 passes the whole pool = exact IVF rerank") {
    val rnd = new scala.util.Random(52)
    val df = (0L until 300L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 10 === 0
    // shortlistFrac=1 derives R_q = max(floor, pool_q) per query — the
    // ADC filter passes every probed candidate through regardless of
    // corpus size, so the float rerank must return exactly
    // intIvfRerankTopK's answer. This pins the DERIVATION (a fixed
    // floor of 3 alone would cut the pool hard); the fixed-R
    // equivalent needed shortlist >= max pool, a corpus-dependent
    // constant — exactly the scale bug the fraction removes.
    val full = Similarity.intIvfRerankTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, k = 3, isQuery = isQ, nProbe = 2)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val viaAuto = Similarity.ivfAdcRerankTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, m = 4, subDim = 2, kCodes = 4, shortlist = 3, topK = 3,
        isQuery = isQ, nProbe = 2, shortlistFrac = 1)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    viaAuto shouldBe full
    full should not be empty
  }

  test("ivfAdcRerankTopK derived shortlist: floor dominates small pools (= fixed-R run)") {
    val rnd = new scala.util.Random(53)
    val df = (0L until 120L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 10 === 0
    // every probed pool here is < floor*frac (120 vectors, 6 cells,
    // probe 2 => pool <= ~40 < 64*10), so ceil(pool/frac) < floor and
    // the derived cut degrades to exactly the fixed floor
    def run(frac: Int) = Similarity.ivfAdcRerankTopK(df, col("vec_id"), col("embedding"),
        nCells = 6, m = 4, subDim = 2, kCodes = 4, shortlist = 64, topK = 3,
        isQuery = isQ, nProbe = 2, shortlistFrac = frac)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    run(10) shouldBe run(0)
  }

  test("pqTopK sampled training: deterministic, dense ranks, full-corpus encode") {
    val rnd = new scala.util.Random(54)
    val df = (0L until 400L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 20 === 0
    // trainTarget=100 over 400 rows => stride 4: codebooks fit on the
    // 100-row sample (VERDICT r18 #5 — v10 gets v16's sampled
    // training), the encode + search still cover the full corpus
    def run() = Similarity.pqTopK(df, col("vec_id"), col("embedding"),
      m = 4, subDim = 2, k = 8, topK = 3, isQuery = isQ, trainTarget = 100)
    val a = run().collect().map(_.toSeq).toSeq
    a shouldBe run().collect().map(_.toSeq).toSeq
    val byQ = run().select("query_id", "rank").as[(Long, Long)].collect().groupBy(_._1)
    byQ.keySet.size shouldBe 20 // every query keeps neighbors: encode is corpus-wide
    byQ.values.foreach(rs => rs.map(_._2).sorted.toSeq shouldBe (1L to rs.length).toSeq)
  }

  test("ivfAdcTopK sampled training: deterministic, dense ranks, bounded stride") {
    val rnd = new scala.util.Random(49)
    val df = (0L until 400L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 20 === 0
    // trainTarget=100 over 400 rows => stride 4: codebooks fit on the
    // 100-row sample, the encode still covers the full corpus
    def run() = Similarity.ivfAdcTopK(df, col("vec_id"), col("embedding"),
      nCells = 6, m = 4, subDim = 2, kCodes = 8, topK = 3,
      isQuery = isQ, trainTarget = 100)
    val a = run().collect().map(_.toSeq).toSeq
    a shouldBe run().collect().map(_.toSeq).toSeq
    val byQ = run().select("query_id", "rank").as[(Long, Long)].collect().groupBy(_._1)
    byQ should not be empty
    byQ.values.foreach(rs => rs.map(_._2).sorted.toSeq shouldBe (1L to rs.length).toSeq)
  }

  test("IvfIndex.release drops every cache entry the build and ADC passes created") {
    val rnd = new scala.util.Random(50)
    val df = (0L until 200L).map(id => (id, Array.fill(8)((rnd.nextGaussian() * 2).toFloat)))
      .toDF("vec_id", "embedding")
    spark.catalog.clearCache()
    val ix = Similarity.intIvfIndex(df, col("vec_id"), col("embedding"), 6)
    // the ADC pass trains (and must RELEASE) its own caches eagerly
    val plan = Similarity.ivfAdcFromIndex(ix, m = 4, subDim = 2, kCodes = 8,
      topK = 3, isQuery = _ % 10 === 0, nProbe = 2,
      trainTarget = Similarity.AdcTrainTarget)
    plan.queryExecution.toRdd.count()
    ix.release(blocking = true)
    // no net-new leaked entries (VERDICT r17 #6): index released by the
    // caller, training caches released inside ivfAdcFromIndex
    assert(spark.sharedState.cacheManager.isEmpty,
      "cache entries leaked past IvfIndex.release")
  }

  test("binaryHammingTopK route=Auto past the cap matches the auto-width multi-table route") {
    val dim = 64
    val n = 40
    val rnd = new scala.util.Random(7)
    val df = (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 4 === 0
    // cap=1 forces the over-cap Auto route
    val auto = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
      k = 3, isQuery = isQ, maxBroadcastRows = 1L, route = Similarity.HammingRoute.Auto)
    // the fallback derives the occupancy width, then widens it to the
    // next width with full rotation headroom when gcd(p,32) would clamp
    // L below HammingAutoTables: n=40 -> p=4 (8 offsets < 16) -> p=5
    val derived = Similarity.fallbackPrefixBits(n.toLong,
      Similarity.AutoOccupancy, Similarity.HammingAutoTables)
    derived shouldBe 5
    val explicit = Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
      k = 3, isQuery = isQ, prefixBits = derived,
      nTables = Similarity.HammingAutoTables,
      probe = Similarity.HammingAutoProbe)
    val a = auto.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val b = explicit.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    a shouldBe b
    a should not be empty
  }

  test("int8 quantize/dequantize roundtrip bounds the error by scale/2") {
    val df = Seq((0L, Array(0.5f, -1.0f, 0.003f)), (1L, Array(0f, 0f, 0f))).toDF("id", "v")
      .select(col("id"), col("v"), VectorFunctions.quantizeScale(col("v")).as("s"))
    val out = df.select(col("id"), col("v"), col("s"),
      VectorFunctions.dequantizeInt8(
        VectorFunctions.quantizeInt8(col("v"), col("s")), col("s")).as("d"))
      .as[(Long, Array[Float], Double, Array[Float])].collect().sortBy(_._1)
    out.foreach { case (_, v, s, d) =>
      v.zip(d).foreach { case (a, b) =>
        math.abs(a.toDouble - b.toDouble) should be <= (s / 2 + 1e-9)
      }
    }
    out(1)._4.toSeq shouldBe Seq(0f, 0f, 0f) // zero vector survives (scale 1)
  }

  test("multi-table LSH finds at least the single-table candidates") {
    val df = vecs.toDF("vec_id", "embedding")
    val single = Similarity.rhpAnnTopK(df, col("vec_id"), col("embedding"), 4, 3, 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.rhpAnnTopKMulti(df, col("vec_id"), col("embedding"), 4, 3, 4, nTables = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // table 0 of the multi variant IS the single table (same seed), and
    // k exceeds the candidate counts here, so recall can only grow
    single.subsetOf(multi) shouldBe true
    // and the single-table route is the one-table multi route, row for row
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val one = rows(Similarity.rhpAnnTopK(df, col("vec_id"), col("embedding"), 4, 3, 4))
    one should not be empty
    one shouldBe rows(Similarity.rhpAnnTopKMulti(df, col("vec_id"), col("embedding"), 4, 3, 4,
      nTables = 1))
  }

  test("gramPairs emits each unordered pair once") {
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.gramPairs(df, col("vec_id"), col("embedding")).collect()
    out.length shouldBe 10 // C(5,2)
  }

  test("cosineNearDupPairs finds only the almost-parallel pairs") {
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.cosineNearDupPairs(df, col("vec_id"), col("embedding"),
      nBits = 4, dim = 3, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // (0,1) and (2,3) are near-parallel; orthogonal pairs excluded.
    // LSH bucketing may drop a true pair but never invents one.
    out.subsetOf(Set((0L, 1L), (2L, 3L))) shouldBe true
    out should contain((0L, 1L))
  }

  test("intIvfTopK groups parallel vectors and ranks by integer dot") {
    val df = vecs.toDF("vec_id", "embedding")
    val out = Similarity.intIvfTopK(df, col("vec_id"), col("embedding"),
      nCells = 2, k = 2, isQuery = _ => lit(true))
      .select("query_id", "neighbor_id", "rank", "idot")
      .as[(Long, Long, Long, Long)].collect()
    out.foreach { case (q, n, r, _) =>
      q should not be n
      r should be >= 1L
      r should be <= 2L
    }
    // 0 and 1 are near-parallel: if 0 gets any neighbor, 1 ranks first
    val q0 = out.filter(_._1 == 0L).sortBy(_._3)
    if (q0.nonEmpty) q0.head._2 shouldBe 1L
  }

  test("intIvfRerankTopK: same candidate set as the integer ranker, float-ordered") {
    val df = clusteredVecs.toDF("vec_id", "embedding")
    // k large enough to keep every same-cell candidate: the re-rank
    // changes ORDER, never WHO is a candidate (cells decide that)
    def pairs(out: org.apache.spark.sql.DataFrame) =
      out.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ints = Similarity.intIvfTopK(df, col("vec_id"), col("embedding"),
      nCells = 4, k = 60, isQuery = _ => lit(true))
    val rr = Similarity.intIvfRerankTopK(df, col("vec_id"), col("embedding"),
      nCells = 4, k = 60, isQuery = _ => lit(true))
    pairs(rr) shouldBe pairs(ints)
    // ranks are dense from 1 and sims descend per query
    val byQ = rr.select("query_id", "rank", "sim").as[(Long, Long, Double)]
      .collect().groupBy(_._1)
    byQ.values.foreach { rows =>
      rows.map(_._2).sorted.toSeq shouldBe (1L to rows.length).toSeq
      val sims = rows.sortBy(_._2).map(_._3)
      sims.zip(sims.tail).foreach { case (a, b) => a should be >= b }
    }
  }

  test("semanticDedup: reps always kept, tight-cluster members dropped, partitioning-invariant") {
    val df = clusteredVecs.toDF("vec_id", "embedding")
    def run(parts: Int) = Similarity.semanticDedup(
      df.repartition(parts), col("vec_id"), col("embedding"), nCells = 4, tauPct = 90)
      .select("vec_id", "cell", "rep_id", "kept")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    val out = run(3)
    out.map(_._1) shouldBe (0L until 60L)
    // the representative of every cell keeps itself
    out.foreach { case (vid, _, rep, kept) => if (vid == rep) kept shouldBe true }
    // tight clusters: most non-rep members are semantic duplicates of
    // their rep (cos >= 0.9) and get dropped
    val dropped = out.count(!_._4)
    dropped should be >= 30
    out shouldBe run(7) // partitioning-invariant (integer build)
  }

  /** 60 vectors in 4 tight clusters around orthogonal axes (seeded). */
  private def clusteredVecs: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(13)
    (0 until 60).map { i =>
      val axis = i % 4
      val v = Array.tabulate(8)(d =>
        (if (d == axis) 1.0f else 0.0f) + (rnd.nextFloat() - 0.5f) * 0.1f)
      (i.toLong, v)
    }
  }

  test("intIvfTopK is deterministic across runs (integer build)") {
    val df = vecs.toDF("vec_id", "embedding")
    def run() = Similarity.intIvfTopK(df, col("vec_id"), col("embedding"),
      nCells = 2, k = 2, isQuery = _ => lit(true))
      .collect().map(_.toSeq).toSet
    run() shouldBe run()
  }

  test("pqTopK ranks near-parallel vectors closest and is deterministic") {
    val df = vecs.toDF("vec_id", "embedding")
    def run() = Similarity.pqTopK(df, col("vec_id"), col("embedding"),
      m = 3, subDim = 1, k = 2, topK = 2, isQuery = _ => lit(true))
      .select("query_id", "neighbor_id", "rank", "pq_dist")
      .as[(Long, Long, Long, Long)].collect()
    val out = run()
    out.foreach { case (q, n, r, d) =>
      q should not be n
      r should be >= 1L
      r should be <= 2L
      d should be >= 0L
    }
    // ranks dense per query from 1
    out.groupBy(_._1).values.foreach { rows =>
      rows.map(_._3).sorted.toSeq shouldBe (1L to rows.length).toSeq
    }
    out.toSet shouldBe run().toSet // deterministic integer build
  }

  test("binaryHammingTopK: ranks match a local sign-code recompute; codes pack exactly") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions
    val rnd = new scala.util.Random(13)
    val vecs = (0L until 200L).map(id => id -> Array.fill(64)((rnd.nextGaussian()).toFloat)).toMap
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    // code parity vs a local fold
    val codes = df.select(col("vec_id"), VectorFunctions.signCode(col("embedding")).as("c"))
      .select(col("vec_id"), col("c.hi"), col("c.lo"))
      .as[(Long, Long, Long)].collect().map { case (i, h, l) => i -> ((h, l)) }.toMap
    def localCode(v: Array[Float]): (Long, Long) = {
      val hi = v.take(32).foldLeft(0L)((a, x) => a * 2 + (if (x > 0) 1 else 0))
      val lo = v.drop(32).foldLeft(0L)((a, x) => a * 2 + (if (x > 0) 1 else 0))
      (hi, lo)
    }
    vecs.foreach { case (id, v) => codes(id) shouldBe localCode(v) }
    // top-k parity vs a local hamming ranking
    val got = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = v => v % 50 === 0)
      .as[(Long, Long, Long, Long)].collect().toSeq
    def ham(a: (Long, Long), b: (Long, Long)): Long =
      java.lang.Long.bitCount(a._1 ^ b._1).toLong + java.lang.Long.bitCount(a._2 ^ b._2)
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = vecs.keys.filter(_ != qid).toSeq
        .map(c => (ham(codes(qid), codes(c)), c)).sorted.take(3)
      withClue(s"qid=$qid: ") {
        rows.sortBy(_._3).map(r => (r._4, r._2)) shouldBe expect
      }
    }
  }

  test("binaryHammingTopK: over-cap routes to sign-prefix buckets; in-bucket ranking exact; recall sane") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions
    val rnd = new scala.util.Random(29)
    // planted clusters: 12 centers, members = center + small noise, so
    // true near-neighbors share most sign bits (the structure LSH
    // exploits — pure-random Gaussians have none and any bucket
    // scheme's recall degenerates to prefix-collision chance)
    val centers = Array.fill(12)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val vecs = (0L until 300L).map { id =>
      val c = centers((id % 12).toInt)
      id -> c.map(x => x + (rnd.nextGaussian() * 0.1).toFloat)
    }.toMap
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    val codes = df.select(col("vec_id"), VectorFunctions.signCode(col("embedding")).as("c"))
      .select(col("vec_id"), col("c.hi"), col("c.lo"))
      .as[(Long, Long, Long)].collect().map { case (i, h, l) => i -> ((h, l)) }.toMap
    def ham(a: (Long, Long), b: (Long, Long)): Long =
      java.lang.Long.bitCount(a._1 ^ b._1).toLong + java.lang.Long.bitCount(a._2 ^ b._2)
    val prefixBits = 4
    def prefix(c: (Long, Long)): Long = c._1 >> (32 - prefixBits)
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v => v % 10 === 0
    // route=Bucketed pins the EXPLICIT fixed-width tier (since round 15
    // the over-cap Auto fallback is the auto-width multi-table route)
    val bucketed = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, prefixBits = prefixBits,
        route = Similarity.HammingRoute.Bucketed)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val brute = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ) // default cap: exact broadcast path
      .as[(Long, Long, Long, Long)].collect().toSeq
    // bucket path = exact local recompute restricted to same-prefix candidates
    bucketed.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = vecs.keys
        .filter(c => c != qid && prefix(codes(c)) == prefix(codes(qid))).toSeq
        .map(c => (ham(codes(qid), codes(c)), c)).sorted.take(3)
      withClue(s"qid=$qid: ") {
        rows.sortBy(_._3).map(r => (r._4, r._2)) shouldBe expect
      }
    }
    // every neighbor the bucket path returns shares the query's sign prefix
    bucketed.foreach { case (q, n, _, _) => prefix(codes(n)) shouldBe prefix(codes(q)) }
    // Bucketed is the one-table multi-table route at the same width, row for row
    Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, prefixBits = prefixBits, nTables = 1)
      .orderBy("query_id", "rank").as[(Long, Long, Long, Long)].collect().toSeq shouldBe
      bucketed.sortBy(r => (r._1, r._3))
    // recall@3 vs the exact brute ranking: same-cluster neighbors share
    // most sign bits, so the prefix buckets should recover most of the
    // true top-3
    val bruteTop = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = bucketed.count { case (q, n, _, _) => bruteTop(q).contains(n) }
    val total = bruteTop.values.map(_.size).sum
    withClue(s"recall@3 = $hits/$total: ") { hits.toDouble / total should be >= 0.7 }
  }

  test("binaryHammingTopKMultiTable: matches local union-of-windows recompute; recall dominates single-table at equal prefixBits") {
    val rnd = new scala.util.Random(31)
    // planted clusters, same rationale as the single-table bucket test
    val centers = Array.fill(12)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val vecs = (0L until 300L).map { id =>
      val c = centers((id % 12).toInt)
      id -> c.map(x => x + (rnd.nextGaussian() * 0.1).toFloat)
    }.toMap
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    val codes = df.select(col("vec_id"), VectorFunctions.signCode(col("embedding")).as("c"))
      .select(col("vec_id"), col("c.hi"), col("c.lo"))
      .as[(Long, Long, Long)].collect().map { case (i, h, l) => i -> ((h, l)) }.toMap
    def ham(a: (Long, Long), b: (Long, Long)): Long =
      java.lang.Long.bitCount(a._1 ^ b._1).toLong + java.lang.Long.bitCount(a._2 ^ b._2)
    val p = 6; val nT = 4
    val mask = (1L << p) - 1L
    def window(c: (Long, Long), l: Int): Long = (c._1 >> (32 - (l + 1) * p)) & mask
    def shares(a: (Long, Long), b: (Long, Long)): Boolean =
      (0 until nT).exists(l => window(a, l) == window(b, l))
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v => v % 10 === 0
    val got = Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, prefixBits = p, nTables = nT)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // exact local recompute: union of per-window candidates → exact Hamming re-rank
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = vecs.keys
        .filter(c => c != qid && shares(codes(c), codes(qid))).toSeq
        .map(c => (ham(codes(qid), codes(c)), c)).sorted.take(3)
      withClue(s"qid=$qid: ") { rows.sortBy(_._3).map(r => (r._4, r._2)) shouldBe expect }
    }
    // dedup before re-rank: each (query, neighbor) pair scored exactly once
    got.groupBy(r => (r._1, r._2)).values.foreach(_.size shouldBe 1)
    got.foreach { case (q, n, _, _) => shares(codes(q), codes(n)) shouldBe true }
    // at EQUAL prefixBits, table 0's window is the single-table bucket key, so
    // candidates are a superset and recall@3 vs the brute ranking must dominate
    val single = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, maxBroadcastRows = 1L, prefixBits = p)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val brute = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ).as[(Long, Long, Long, Long)].collect().toSeq
    val bruteTop = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(rs: Seq[(Long, Long, Long, Long)]): Int =
      rs.count { case (q, n, _, _) => bruteTop(q).contains(n) }
    recall(got) should be >= recall(single)
  }

  test("binaryHammingTopKMultiTable rotation tables: wrapped windows match a local recompute; recall monotone in L") {
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(12)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val vecs = (0L until 300L).map { id =>
      val c = centers((id % 12).toInt)
      id -> c.map(x => x + (rnd.nextGaussian() * 0.1).toFloat)
    }.toMap
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    val codes = df.select(col("vec_id"), VectorFunctions.signCode(col("embedding")).as("c"))
      .select(col("vec_id"), col("c.hi"), col("c.lo"))
      .as[(Long, Long, Long)].collect().map { case (i, h, l) => i -> ((h, l)) }.toMap
    def ham(a: (Long, Long), b: (Long, Long)): Long =
      java.lang.Long.bitCount(a._1 ^ b._1).toLong + java.lang.Long.bitCount(a._2 ^ b._2)
    val p = 6; val nT = 6 // table 5 rotates by 30 — the WRAPPED window
    def bucket(c: (Long, Long), l: Int): Long = {
      val r = (l * p) % 32
      val rot = if (r == 0) c._1 else ((c._1 << r) & 0xFFFFFFFFL) + (c._1 >>> (32 - r))
      rot >> (32 - p)
    }
    def shares(a: (Long, Long), b: (Long, Long)): Boolean =
      (0 until nT).exists(l => bucket(a, l) == bucket(b, l))
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v => v % 10 === 0
    val got = Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, prefixBits = p, nTables = nT)
      .as[(Long, Long, Long, Long)].collect().toSeq
    got.groupBy(_._1).foreach { case (qid, rows) =>
      val expect = vecs.keys
        .filter(c => c != qid && shares(codes(c), codes(qid))).toSeq
        .map(c => (ham(codes(qid), codes(c)), c)).sorted.take(3)
      withClue(s"qid=$qid: ") { rows.sortBy(_._3).map(r => (r._4, r._2)) shouldBe expect }
    }
    // tables form a prefix sequence → candidates(L=6) ⊇ candidates(L=4)
    // → recall@3 vs the brute ranking is monotone in L
    val four = Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, prefixBits = p, nTables = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val brute = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ).as[(Long, Long, Long, Long)].collect().toSeq
    val bruteTop = brute.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(rs: Seq[(Long, Long, Long, Long)]): Int =
      rs.count { case (q, n, _, _) => bruteTop(q).contains(n) }
    recall(got) should be >= recall(four)
  }

  test("multiTableBuckets: matches a local rotate-and-truncate recompute at every (p, L); table 0 is the single-table bucket key") {
    // the shared builder is what both the operator's candidate stage
    // and RecallLadder's candidate counter posexplode — pin it directly
    // against plain JVM bit arithmetic, wrapped windows included
    val rnd = new scala.util.Random(47)
    val his = Seq.fill(64)(rnd.nextLong() & 0xFFFFFFFFL) :+ 0L :+ 0xFFFFFFFFL
    val df = his.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("id", "hi")
    for ((p, nT) <- Seq((4, 8), (6, 16), (8, 4))) {
      val got = df.select(col("id"),
          Similarity.multiTableBuckets(col("hi"), p, nT).as("b"))
        .as[(Long, Seq[Long])].collect().toMap
      his.zipWithIndex.foreach { case (h, i) =>
        val expect = (0 until nT).map { l =>
          val r = (l * p) % 32
          val rot = ((h << r) & 0xFFFFFFFFL) | (h >>> (32 - r) & (if (r == 0) 0L else 0xFFFFFFFFL))
          rot >>> (32 - p)
        }
        withClue(s"p=$p L=$nT hi=$h: ") { got(i.toLong) shouldBe expect }
        // table 0 IS the single-table route's bucket key
        got(i.toLong).head shouldBe (h >>> (32 - p))
      }
    }
  }

  test("auto-width multi-table Hamming: derived width equals the explicit-width run; occupancy target holds across sizes") {
    // the width formula p = min(32, max(4, ceilLog2(ceil(n/occ)))) is
    // replayed by the v14d oracle SQL — pin the Scala side on corpus
    // sizes that land on and around power-of-two boundaries
    def width(n: Long, occ: Int): Int = {
      val b = (n + occ - 1) / occ
      val cl2 = if (b <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(b - 1L)
      math.min(32, math.max(4, cl2))
    }
    width(200, 32) shouldBe 4    // sf0.01: b=7 -> 3, clamped to 4
    width(2000, 32) shouldBe 6   // sf0.1: b=63 -> 6
    width(2048, 32) shouldBe 6   // boundary: b=64 -> exactly 6
    width(2049, 32) shouldBe 7   // one past the boundary -> 7
    width(20000, 32) shouldBe 10 // sf1
    width(200000, 32) shouldBe 13 // sf10: odd width, 32 distinct tables
    val rnd = new scala.util.Random(83)
    val vecs = (0L until 300L).map { id =>
      id -> Array.fill(64)(rnd.nextGaussian().toFloat)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v => v % 10 === 0
    // n=300, occ=32 -> b=10 -> p=4; nTables clamps to min(8, 32/gcd(4,32)=8)=8
    val auto = Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, nTables = 8, targetOccupancy = 32)
      .orderBy("query_id", "rank").collect()
    val explicit = Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, prefixBits = 4, nTables = 8)
      .orderBy("query_id", "rank").collect()
    auto should contain theSameElementsInOrderAs explicit
    // auto mode clamps an over-cap table count instead of throwing
    // (the caller cannot know the derived width up front)
    val clamped = Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, nTables = 32, targetOccupancy = 32)
      .orderBy("query_id", "rank").collect()
    clamped should contain theSameElementsInOrderAs explicit
  }

  test("multi-table recall on the sf0.1 corpus: 4 tables quadruple single-table recall@3 vs the brute ranking") {
    // the driver-fixture-scale recall evidence (2,000 real embeddings,
    // 200 queries — deterministic, so the measured recalls are stable):
    // the v14 driver config (one 6-bit prefix table) recovers 9% of the
    // brute top-3 here, the v14b config (4 disjoint 6-bit tables) 36% —
    // the exponential miss-decay in L, paid as ≤ 4× candidates
    val df = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v => v % 10 === 0
    def top(d: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      d.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = top(Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"), 3, isQ))
    val single = top(Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"), 3, isQ,
      prefixBits = 6, route = Similarity.HammingRoute.Bucketed))
    val multi = top(Similarity.binaryHammingTopKMultiTable(df, col("vec_id"), col("embedding"),
      3, isQ, prefixBits = 6, nTables = 4))
    def recall(m: Map[Long, Set[Long]]): Double = {
      val hits = brute.map { case (q, s) => m.getOrElse(q, Set.empty[Long]).count(s.contains) }.sum
      hits.toDouble / brute.values.map(_.size).sum
    }
    val (rs, rm) = (recall(single), recall(multi))
    withClue(s"single=$rs multi=$rm: ") {
      rm should be >= rs            // candidate superset at equal prefixBits
      rm should be >= 0.3           // measured 0.36 on this fixture
      rm should be >= 2.0 * rs      // measured 4.0x; generous margin
    }
  }

  test("binaryHammingTopK routes: Exact over-cap fails fast; Bucketed is deterministic and plans without a count job") {
    val rnd = new scala.util.Random(37)
    val vecs = (0L until 120L).map(id => id -> Array.fill(64)(rnd.nextGaussian().toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = v => v % 10 === 0
    // Exact refuses to silently downgrade its contract to bucket recall
    val ex = intercept[IllegalStateException] {
      Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, maxBroadcastRows = 1L, route = Similarity.HammingRoute.Exact)
    }
    ex.getMessage should include("exceeds broadcast cap")
    // Exact under the cap = the Auto brute path
    val exact = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, route = Similarity.HammingRoute.Exact)
      .as[(Long, Long, Long, Long)].collect().toSet
    val auto = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ).as[(Long, Long, Long, Long)].collect().toSet
    exact shouldBe auto
    // Bucketed = the explicit fixed-width sign-prefix tier (since round
    // 15 the Auto over-cap fallback is the auto-width multi-table
    // route, so Bucketed is reached only by asking for it)
    val bucketedRef = Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, prefixBits = 4, route = Similarity.HammingRoute.Bucketed)
      .as[(Long, Long, Long, Long)].collect().toSet
    val (plan, jobs) = jobsDuring("vectorspec-bucketed-no-count") {
      Similarity.binaryHammingTopK(df, col("vec_id"), col("embedding"),
        k = 3, isQuery = isQ, prefixBits = 4, route = Similarity.HammingRoute.Bucketed)
    }
    withClue("Bucketed must not run the count() existence check: ") {
      jobs shouldBe 0
    }
    plan.get.as[(Long, Long, Long, Long)].collect().toSet shouldBe bucketedRef
  }

  test("every top-k route rejects k <= 0 before it runs a job") {
    val rnd = new scala.util.Random(43)
    val df = (0L until 40L).map(i => (i, Array.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val (id, vec) = (col("vec_id"), col("embedding"))
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 4 === 0
    def hamming(route: Similarity.HammingRoute)(k: Int) =
      Similarity.binaryHammingTopK(df, id, vec, k, isQ, route = route)
    val routes: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "cosineTopK" -> (k => Similarity.cosineTopK(df, df, id, vec, k)),
      "rhpTopKForQueriesAuto" -> (k => Similarity.rhpTopKForQueriesAuto(df, df, id, vec, 64, k)),
      "rhpAnnTopK" -> (k => Similarity.rhpAnnTopK(df, id, vec, 4, 64, k)),
      "rhpAnnTopKMulti" -> (k => Similarity.rhpAnnTopKMulti(df, id, vec, 4, 64, k, nTables = 2,
        isQuery = isQ)),
      "intIvfTopK" -> (k => Similarity.intIvfTopK(df, id, vec, nCells = 4, k = k, isQuery = isQ)),
      "intIvfRerankTopK" -> (k => Similarity.intIvfRerankTopK(df, id, vec, nCells = 4, k = k,
        isQuery = isQ)),
      "binaryHammingTopK(Auto)" -> hamming(Similarity.HammingRoute.Auto),
      "binaryHammingTopK(Exact)" -> hamming(Similarity.HammingRoute.Exact),
      "binaryHammingTopK(Bucketed)" -> hamming(Similarity.HammingRoute.Bucketed),
      "binaryHammingTopKMultiTable" -> (k => Similarity.binaryHammingTopKMultiTable(df, id, vec,
        k, isQ)),
      "binaryHammingTopKMultiTable(auto width)" -> (k => Similarity.binaryHammingTopKMultiTable(
        df, id, vec, k, isQ, targetOccupancy = 8)),
      "pqTopK" -> (k => Similarity.pqTopK(df, id, vec, m = 8, subDim = 8, k = 4, topK = k,
        isQuery = isQ)),
      "ivfAdcTopK" -> (k => Similarity.ivfAdcTopK(df, id, vec, nCells = 4, m = 8, subDim = 8,
        kCodes = 4, topK = k, isQuery = isQ)),
      "ivfAdcRerankTopK" -> (k => Similarity.ivfAdcRerankTopK(df, id, vec, nCells = 4, m = 8,
        subDim = 8, kCodes = 4, shortlist = 4, topK = k, isQuery = isQ)))
    for ((name, route) <- routes; k <- Seq(0, -1)) withClue(s"$name(k=$k): ") {
      val (out, jobs) = jobsDuring(s"vectorspec-k-check-$name-$k")(route(k))
      out match {
        case scala.util.Failure(e: IllegalArgumentException) =>
          e.getMessage should include("must be positive")
        case other => fail(s"expected the k check to fail the call, got $other")
      }
      jobs shouldBe 0
    }
  }

  /** `body`'s outcome and the number of jobs it started. Counts only
    * jobs of its own job group (a concurrent suite's job can't
    * over-count) and drains the listener bus first (a slow bus can't
    * under-count) — no fixed sleep anywhere.
    */
  private def jobsDuring[T](group: String)(body: => T): (scala.util.Try[T], Int) = {
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

  test("signCode: all-negative vector packs to hi=lo=0; non-64-dim input rejected") {
    import graft.functions.VectorFunctions
    val neg = Seq((1L, Array.fill(64)(-1.0f))).toDF("vec_id", "embedding")
    val (hi, lo) = neg.select(VectorFunctions.signCode(col("embedding")).as("c"))
      .select(col("c.hi"), col("c.lo")).as[(Long, Long)].head()
    (hi, lo) shouldBe ((0L, 0L))
    val short = Seq((1L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val thrown = intercept[Exception] {
      short.select(VectorFunctions.signCode(col("embedding"))).collect()
    }
    thrown.getMessage should include("64")
  }

  test("prototypicality: dense per-cell ranks, kept = top-K closest to centroid, partitioning-invariant") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    val df = (0L until 300L).map { id =>
      (id, Array.fill(8)((rnd.nextGaussian() * 3).toFloat))
    }.toDF("vec_id", "embedding")
    def run(parts: Int) = Similarity.prototypicality(
      df.repartition(parts), col("vec_id"), col("embedding"), nCells = 5, keepK = 10)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    val out = run(3)
    out.map(_._1).toSet.size shouldBe 300 // every vector scored once
    out.groupBy(_._2).foreach { case (cell, rows) =>
      withClue(s"cell=$cell: ") {
        // ranks dense from 1; kept = the min(K, size) smallest (isq, id)
        rows.map(_._4).sorted shouldBe (1L to rows.length).toSeq
        val kept = rows.filter(_._5).map(r => (r._3, r._1)).sorted
        val best = rows.map(r => (r._3, r._1)).sorted.take(10)
        kept shouldBe best
      }
    }
    run(7).toSet shouldBe out.toSet // partitioning-invariant
  }

  test("PqEncodePacked: matches a local argmin with validity holes and permutation") {
    import graft.functions.{PqEncodePacked, PqPack}
    val m = 2; val subDim = 3; val k = 4
    val rnd = new scala.util.Random(7)
    val cb = IndexedSeq.fill(m * k * subDim)(rnd.nextInt(21).toLong - 10)
    // leave (m=0, c=2) and (m=1, c=0) untrained
    val valid = IndexedSeq.tabulate(m * k)(i => i != 2 && i != k)
    val perm = IndexedSeq(5, 0, 3, 1, 4, 2) // some shuffle of 0..5
    val rows = Seq.fill(50)(Array.fill(6)(rnd.nextInt(41).toLong - 20))
    val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vid", "v")
    val got = df.select(col("vid"),
        VectorFunctions.pqEncodePacked(col("v"), cb, valid, perm, m, subDim, k).as("pc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bits = PqPack.bitsFor(k)
    rows.zipWithIndex.foreach { case (v, i) =>
      var expect = 0L
      for (mi <- 0 until m) {
        // local argmin over VALID codes, ties to smallest code
        val best = (0 until k).filter(c => valid(mi * k + c)).minBy { c =>
          val d = (0 until subDim).map { j =>
            val x = v(perm(mi * subDim + j)) - cb((mi * k + c) * subDim + j)
            x * x
          }.sum
          (d, c)
        }
        expect |= best.toLong << (bits * mi)
      }
      assert(got(i.toLong) == expect, s"row $i")
    }
    // every subspace must have a trained code
    val e = intercept[IllegalArgumentException] {
      PqEncodePacked(null, cb, IndexedSeq.fill(m * k)(false), perm, m, subDim, k)
    }
    e.getMessage should include("at least one trained code")
  }

  test("AdcScorePacked / PqSymDistPacked: match local reconstruction dot and table lookups") {
    import graft.functions.PqPack
    val m = 3; val subDim = 2; val k = 8
    val rnd = new scala.util.Random(11)
    val cb = IndexedSeq.fill(m * k * subDim)(rnd.nextInt(31).toLong - 15)
    val perm = IndexedSeq(4, 1, 0, 3, 5, 2)
    val bits = PqPack.bitsFor(k)
    def pack(codes: Seq[Int]): Long =
      codes.zipWithIndex.map { case (c, mi) => c.toLong << (bits * mi) }.reduce(_ | _)
    val q = Array.fill(6)(rnd.nextInt(21).toLong - 10)
    val codesA = Seq(3, 0, 7); val codesB = Seq(1, 5, 2)
    val df = Seq((q, pack(codesA), pack(codesB))).toDF("q", "pa", "pb")
    val dtab = IndexedSeq.tabulate(m * k * k)(i => (i * 13 % 97).toLong)
    val row = df.select(
      VectorFunctions.adcScorePacked(col("q"), col("pa"), cb, perm, m, subDim, k).as("adc"),
      VectorFunctions.pqSymDistPacked(col("pa"), col("pb"), dtab, m, k).as("sym")).head()
    val expectAdc = (0 until m).map { mi =>
      (0 until subDim).map { j =>
        q(perm(mi * subDim + j)) * cb((mi * k + codesA(mi)) * subDim + j)
      }.sum
    }.sum
    val expectSym = (0 until m).map(mi =>
      dtab(mi * k * k + codesA(mi) * k + codesB(mi))).sum
    row.getLong(0) shouldBe expectAdc
    row.getLong(1) shouldBe expectSym
  }

  test("adcBuild: energy permutation is a true permutation; packed tier at 8x8 bits uses the sign bit safely") {
    val rnd = new scala.util.Random(23)
    // decaying per-dim scale so the energy ranking is non-trivial
    val df = (0L until 300L).map { id =>
      (id, Array.tabulate(16)(d => (rnd.nextGaussian() * 40 / (d + 1)).toFloat))
    }.toDF("vec_id", "embedding")
    // the session is shared across suites — start from an empty cache
    // so the emptiness assertion below measures THIS test's entries
    spark.catalog.clearCache()
    val ix = Similarity.intIvfIndex(df, col("vec_id"), col("embedding"), 4)
    val aix = Similarity.adcBuild(ix, m = 4, subDim = 4, kCodes = 4,
      trainTarget = Similarity.AdcTrainTarget)
    aix.perm.sorted shouldBe (0 until 16)
    // high-energy dims (0..3) must spread one per subspace, not stack in subspace 0
    val leadSubspaces = (0 until 16).filter(pos => aix.perm(pos) < 4).map(_ / 4)
    leadSubspaces.distinct.size shouldBe 4
    aix.release(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty, "AdcIndex.release leaked entries")
  }

  test("v16/v16b memo: FromAdc plans over one AdcIndex equal the one-shot FromIndex results") {
    val rnd = new scala.util.Random(31)
    val df = (0L until 240L).map(id =>
      (id, Array.fill(8)((rnd.nextGaussian() * 3).toFloat))).toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 12 === 0
    val ix1 = Similarity.intIvfIndex(df, col("vec_id"), col("embedding"), 5)
    val oneShot = Similarity.ivfAdcFromIndex(ix1, m = 4, subDim = 2, kCodes = 8,
      topK = 3, isQuery = isQ, nProbe = 2,
      trainTarget = Similarity.AdcTrainTarget).collect().map(_.toSeq).toSet
    val oneShotR = Similarity.ivfAdcRerankFromIndex(ix1, df, col("vec_id"),
      col("embedding"), m = 4, subDim = 2, kCodes = 8, shortlist = 8, topK = 3,
      isQuery = isQ, nProbe = 2,
      trainTarget = Similarity.AdcTrainTarget).collect().map(_.toSeq).toSet
    ix1.release(blocking = true)
    val ix2 = Similarity.intIvfIndex(df, col("vec_id"), col("embedding"), 5)
    val aix = Similarity.adcBuild(ix2, m = 4, subDim = 2, kCodes = 8,
      trainTarget = Similarity.AdcTrainTarget)
    assert(aix.isLive, "freshly built AdcIndex must be live")
    val served = Similarity.ivfAdcTopKFromAdc(aix, topK = 3, isQuery = isQ,
      nProbe = 2).collect().map(_.toSeq).toSet
    val servedR = Similarity.ivfAdcRerankTopKFromAdc(aix, df, col("vec_id"),
      col("embedding"), shortlist = 8, topK = 3, isQuery = isQ,
      nProbe = 2).collect().map(_.toSeq).toSet
    served shouldBe oneShot
    servedR shouldBe oneShotR
    // clearCache is the staleness signal the memo rebuilds on
    spark.catalog.clearCache()
    assert(!aix.isLive, "AdcIndex must report stale after clearCache")
  }

  test("v16b rerank broadcast gate: over-cap route drops every hint, same rows") {
    // VERDICT r20 #5a: the shortlist relation is corpus-dependent
    // (~queries x pool/frac rows), so its broadcast is gated on an
    // absolute row-count cap like cosineTopK's. Past the cap the rerank
    // must produce the SAME rows through plain shuffle joins, with no
    // broadcast exchange introduced by this operator's hints.
    val rnd = new scala.util.Random(77)
    val df = (0L until 240L).map(id =>
      (id, Array.fill(8)((rnd.nextGaussian() * 3).toFloat))).toDF("vec_id", "embedding")
    val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 12 === 0
    val ix = Similarity.intIvfIndex(df, col("vec_id"), col("embedding"), 5)
    val aix = Similarity.adcBuild(ix, m = 4, subDim = 2, kCodes = 8,
      trainTarget = Similarity.AdcTrainTarget)
    val under = Similarity.ivfAdcRerankTopKFromAdc(aix, df, col("vec_id"),
      col("embedding"), shortlist = 8, topK = 3, isQuery = isQ, nProbe = 2)
    val over = Similarity.ivfAdcRerankTopKFromAdc(aix, df, col("vec_id"),
      col("embedding"), shortlist = 8, topK = 3, isQuery = isQ, nProbe = 2,
      maxBroadcastRows = 1L)
    over.collect().map(_.toSeq).toSet shouldBe under.collect().map(_.toSeq).toSet
    def bcasts(p: org.apache.spark.sql.DataFrame): Int =
      "BroadcastExchange".r.findAllIn(p.queryExecution.executedPlan.toString).length
    withClue("over-cap plan must carry strictly fewer broadcast exchanges: ") {
      bcasts(over) should be < bcasts(under)
    }
    // the boundary sits on the shortlist bound nQ x perQuery: 20 queries
    // (ids % 12 == 0 below 240) x max(shortlist 8, ceil(240 / 10)) = 480
    // rows. A cap of exactly 480 routes under it, 479 over it — and the
    // memoized-count route (knownQueryCount, as v16b passes it) decides
    // the same as the measured one
    val nQ = df.where(isQ(col("vec_id"))).count()
    nQ shouldBe 20L
    def rerank(cap: Long, known: Option[Long]): Int =
      bcasts(Similarity.ivfAdcRerankTopKFromAdc(aix, df, col("vec_id"), col("embedding"),
        shortlist = 8, topK = 3, isQuery = isQ, nProbe = 2,
        maxBroadcastRows = cap, knownQueryCount = known))
    rerank(480L, None) should be > rerank(479L, None)
    Seq(480L, 479L).foreach { cap =>
      withClue(s"cap=$cap: ") { rerank(cap, Some(nQ)) shouldBe rerank(cap, None) }
    }
    // the known count is what decides: one query more tips 480 over
    rerank(480L, Some(nQ + 1)) shouldBe rerank(479L, None)
    aix.release(blocking = true)
  }
}
