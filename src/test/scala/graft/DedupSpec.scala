package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: transitive chains collapse to the min id") {
    // components: {1,2,3,9} via 1-2, 2-3, 3-9; {5,7}; {10,11,12} via a
    // triangle (cycle safety); 20-21 isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 7L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 7L -> 5L, 10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L)
  }

  test("connectedComponents: empty pair relation yields empty result") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b")).count() shouldBe 0L
  }

  test("connectedComponents: long path needs diameter rounds, still converges") {
    // path 0-1-2-...-12: worst case for min-label propagation
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc.values.toSet shouldBe Set(0L)
    cc.keySet shouldBe (0L to 12L).toSet
  }

  test("connectedComponents: a chain deeper than maxRounds converges via pointer hopping") {
    // diameter 200 ≫ maxRounds=50: plain min-label propagation would
    // abort; the comp(v) ← comp(comp(v)) shortcut converges in
    // O(log diameter) rounds (templated-corpus near-dup chains are the
    // real-world shape of this graph)
    val pairs = (0L until 200L).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cc.values.toSet shouldBe Set(0L)
    cc.keySet shouldBe (0L to 200L).toSet
  }

  test("connectedComponents: seeded random graphs match a local union-find") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 10
      val edges = Seq.fill(n) { (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong) }
        .filter { case (a, b) => a != b }
      // local reference union-find (min-root)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      val got = Dedup.connectedComponents(
        edges.toDF("doc_a", "doc_b"), col("doc_a"), col("doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got shouldBe expected
    }
  }

  test("connectedComponents: components split across many partitions still collapse") {
    // force the partition-local union-find pre-merge (round 19) to see
    // each component's edges scattered over partitions: a 60-node
    // chain plus a star, repartitioned to 16 slices, must still
    // collapse to the global component minima — the star rewrite is
    // per-partition, the keyed loop restores cross-partition links
    val chain = (0L until 59L).map(i => (i, i + 1))
    val star = (100L to 120L).map(i => (200L, i))
    val pairs = (chain ++ star).toDF("doc_a", "doc_b").repartition(16)
    val got = Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 59L).foreach(n => got(n) shouldBe 0L)
    (100L to 120L).foreach(n => got(n) shouldBe 100L)
    got(200L) shouldBe 100L
  }

  test("stringHash: pinned cross-engine constant and empty-string guard") {
    val df = Seq("hello world", "").toDF("s")
      .select(TextFunctions.stringHash(col("s")).as("h"))
    // 204910434 = fold of (h*31 + ascii) mod 1e9+7 — pinned so the DuckDB
    // oracle and any reimplementation can be checked against it
    df.collect().map(_.getLong(0)).toSeq shouldBe Seq(204910434L, 0L)
  }

  test("shingles: shorter-than-n docs yield empty, not descending-sequence garbage") {
    val df = Seq("a b", "a b c d").toDF("t")
      .select(TextFunctions.shingles(TextFunctions.tokens(col("t")), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    rows(0) shouldBe Seq.empty
    rows(1) shouldBe Seq("a b c", "b c d")
  }

  test("minHashSignature has k entries, all < P") {
    val df = Seq("x y z w v u t s").toDF("t")
      .select(TextFunctions.minHashSignature(
        TextFunctions.shingleHashes(TextFunctions.tokens(col("t")), 3), 16).as("sig"))
    val sig = df.collect().head.getSeq[Long](0)
    sig should have size 16
    all(sig) should be < TextFunctions.P
    all(sig) should be >= 0L
  }

  test("exactDedup: canonical id is the min id per identical text") {
    val df = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa")).toDF("id", "text")
    val out = Dedup.exactDedup(df, col("text"), col("id"))
      .select("id", "canonical_id", "is_dup").orderBy("id")
      .as[(Long, Long, Boolean)].collect()
    out shouldBe Array((1L, 1L, false), (2L, 2L, false), (3L, 1L, true), (4L, 1L, true))
  }

  test("near-dup pipeline: LSH bands + exact Jaccard find a planted near-duplicate") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val nearDup = base.replace("tonight", "today") // high token-shingle overlap
    val noise = Seq(
      "completely different words about spark catalyst optimizer plans and shuffles here",
      "another unrelated document mentioning parquet columnar storage formats entirely")
    val df = (Seq(base, nearDup) ++ noise).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val shingleSet = TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)
    val sets = Dedup.shingleSets(df, col("doc_id"), shingleSet)
    val bands = Dedup.minHashBandsFromSets(sets)
    val pairs = Dedup.nearDupPairsFromSets(sets, bands, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    pairs shouldBe Array((0L, 1L))
  }

  test("incrementalNearDupPairs: batch-vs-snapshot only, never existing x existing") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    // ids 0,5,10 are "new" (mod 5); near-dup structure: 0~1 (new vs
    // existing), 5~10 (new vs earlier new), 2~3 (existing x existing
    // — must NOT be reported even though it is a true near-dup pair)
    val docs = Seq(
      0L -> base,
      1L -> base.replace("tonight", "today"),
      2L -> "spark catalyst optimizer plans shuffles exchanges and broadcast joins considered",
      3L -> "spark catalyst optimizer plans shuffles exchanges and broadcast joins reconsidered",
      5L -> "parquet columnar storage with dictionary encoding and page level statistics rocks",
      10L -> "parquet columnar storage with dictionary encoding and page level statistics rules"
    ).toDF("doc_id", "text")
    val shingleSet = TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)
    val sets = Dedup.shingleSets(docs, col("doc_id"), shingleSet)
    val bands = Dedup.minHashBandsFromSets(sets)
    val isNew: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 5 === 0
    val inc = Dedup.incrementalNearDupPairs(sets, bands, isNew, 1, 2)
      .select("doc_n", "doc_o").as[(Long, Long)].collect().toSet
    inc shouldBe Set((0L, 1L), (10L, 5L))
    // every incremental match is also a full-build verified pair (the
    // same shingle/band/threshold contract as d7's build)
    val full = Dedup.nearDupPairsFromSets(sets, bands, 1, 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    inc.foreach { case (n, o) =>
      full should contain(if (n < o) (n, o) else (o, n))
    }
    // the existing x existing near-dup IS in the full build
    full should contain((2L, 3L))
  }

  test("lshCandidatePairs maxBucket: no-op when all buckets fit; drops only degenerate-bucket pairs when it bites") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val nearDup = base.replace("tonight", "today")
    // a block of identical docs: every band hash collides across all of
    // them — one saturated (degenerate) bucket per band
    val clones = Seq.fill(10)("copy paste boilerplate filler words repeated across many many documents here")
    val df = (Seq(base, nearDup) ++ clones).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val shingleSet = TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)
    val sets = Dedup.shingleSets(df, col("doc_id"), shingleSet)
    val bands = Dedup.minHashBandsFromSets(sets)
    def pairs(cap: Int) = Dedup.lshCandidatePairs(bands, cap)
      .as[(Long, Long)].collect().toSet
    // cap above every bucket's occupancy: identical candidate set
    pairs(1000) shouldBe pairs(0)
    // cap below the clone block's occupancy (10 docs per bucket): the
    // clone-block pairs vanish, the genuine near-dup pair survives —
    // its buckets hold only the two near-dup docs
    val capped = pairs(5)
    capped should contain((0L, 1L))
    capped.exists { case (a, b) => a >= 2L && b >= 2L } shouldBe false
    // and the uncapped set did contain clone pairs (the cap actually bit)
    pairs(0).exists { case (a, b) => a >= 2L && b >= 2L } shouldBe true
  }

  test("Jaccard threshold is exact at the boundary: J = num/den kept, one shared shingle fewer dropped") {
    // hand-built sets, each pair alone in its own band bucket, so the
    // candidate join emits exactly the two pairs and only the verify
    // decides. `at` meets the threshold exactly; `below` is `at` with one
    // shared shingle removed from its second doc (same union, one less
    // intersection).
    def check(threshNum: Int, threshDen: Int, at: (Seq[Int], Seq[Int]), below: (Seq[Int], Seq[Int]),
              counts: (Long, Long)): Unit = withClue(s"J >= $threshNum/$threshDen: ") {
      val rows = Seq(1L -> at._1, 2L -> at._2, 3L -> below._1, 4L -> below._2)
      val sets = Dedup.shingleSets(rows.toDF("id", "s"), col("id"), col("s"))
      val bands = Seq((1L, 0, 11L), (2L, 0, 11L), (3L, 0, 22L), (4L, 0, 22L))
        .toDF("doc", "band", "band_hash")
      Dedup.nearDupPairsFromSets(sets, bands, threshNum, threshDen)
        .select("doc_a", "doc_b", "j_num", "j_den").as[(Long, Long, Long, Long)]
        .collect().toSet shouldBe Set((1L, 2L, counts._1, counts._2))
      // even ids are new: the boundary pair is (new 2, existing 1)
      Dedup.incrementalNearDupPairs(sets, bands, _ % 2 === 0, threshNum, threshDen)
        .as[(Long, Long, Long, Long)].collect().toSet shouldBe Set((2L, 1L, counts._1, counts._2))
    }
    val (a6, a5) = (Seq(1, 2, 3, 4, 5, 6), Seq(1, 2, 3, 4, 5))
    // 1/2: |A ∩ B| = 4 of |A ∪ B| = 8; below: 3 of 8
    check(1, 2, (a6, Seq(1, 2, 3, 4, 7, 8)), (a6, Seq(1, 2, 3, 7, 8)), (4L, 8L))
    // 2/3: 4 of 6; below: 3 of 6
    check(2, 3, (a5, Seq(1, 2, 3, 4, 6)), (a5, Seq(1, 2, 3, 6)), (4L, 6L))
  }

  test("incrementalNearDupPairs equals the full build's pairs with a new member, under a biting cap") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    // ids 2-11: a 10-doc clone block, saturated past the cap of 5 in
    // every band; ids 12-15: a 4-doc clone block that fits under it
    val clones = Seq.fill(10)("copy paste boilerplate filler words repeated across many many documents here")
    val small = Seq.fill(4)("a smaller block of identical lines that stays under the bucket cap today")
    val df = (Seq(base, base.replace("tonight", "today")) ++ clones ++ small).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sets = Dedup.shingleSets(df, col("doc_id"),
      TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3))
    val bands = Dedup.minHashBandsFromSets(sets)
    val isNew: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _ % 5 === 0
    val full = Dedup.nearDupPairsFromSets(sets, bands, 1, 2, maxBucket = 5)
      .select("doc_a", "doc_b", "j_num", "j_den").as[(Long, Long, Long, Long)].collect().toSet
    // d11's rule: the new doc is doc_n; between two new docs the later
    // one is, matched to the earlier
    val expected = full.collect {
      case (a, b, n, d) if b % 5 == 0 => (b, a, n, d)
      case (a, b, n, d) if a % 5 == 0 => (a, b, n, d)
    }
    val inc = Dedup.incrementalNearDupPairs(sets, bands, isNew, 1, 2, maxBucket = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    inc shouldBe expected
    // the cap bit (no pair inside the 10-block) and the property is not
    // vacuous: new x existing (0~1) and new x earlier-block pairs (15~12..14)
    full.exists { case (a, b, _, _) => a >= 2L && b <= 11L } shouldBe false
    inc.map(p => (p._1, p._2)) shouldBe Set((0L, 1L), (15L, 12L), (15L, 13L), (15L, 14L))
  }

  test("simHash of identical docs matches; of disjoint docs differs") {
    val df = Seq("alpha beta gamma", "alpha beta gamma", "delta epsilon zeta eta").toDF("t")
      .select(TextFunctions.simHash(TextFunctions.tokens(col("t")), 16).as("h"))
    val hs = df.collect().map(_.getLong(0))
    hs(0) shouldBe hs(1)
    hs(0) should not be hs(2)
  }

  test("langId votes markers, first-max-wins, und on none") {
    val df = Seq(
      "the cat and the hat is on the mat",
      "der hund und die katze ist das",
      "xyzzy plugh quux").toDF("t")
      .select(TextFunctions.langId(TextFunctions.tokens(col("t"))).as("l"))
    df.collect().map(_.getString(0)).toSeq shouldBe Seq("en", "de", "und")
  }

  test("keepBestPerComponent: best scorer wins, id tie-break, singletons kept") {
    // components from the pair graph: {1,2,3} and {5,7}; docs 4 and 8
    // are absent from the graph → singleton components of themselves.
    // doc 2 and 3 tie on score → lower id (2) is kept.
    val docs = Seq((1L, 10L), (2L, 40L), (3L, 40L), (4L, 99L), (5L, 7L), (7L, 7L), (8L, 1L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
    val out = Dedup.keepBestPerComponent(docs, "doc_id", "n_chars", labels)
      .orderBy("component")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    out shouldBe Seq(
      (1L, 2L, 40L, 3L, 2L),  // {1,2,3}: 2 beats 3 on the id tie-break
      (4L, 4L, 99L, 1L, 0L),  // singleton — not in the pair graph
      (5L, 5L, 7L, 2L, 1L),   // {5,7}: score tie again, 5 kept
      (8L, 8L, 1L, 1L, 0L))
  }

  test("keepBestPerComponent plans a partial (map-side) argmax aggregate") {
    val docs = Seq((1L, 10L), (2L, 40L)).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
    val plan = Dedup.keepBestPerComponent(docs, "doc_id", "n_chars", labels)
      .queryExecution.executedPlan.toString
    plan should include ("partial_max")
  }

  test("d10 shared-shingle fraction: planted shared passage scores 1.0 on the copy, unique doc 0.0") {
    import org.apache.spark.sql.functions.col
    val passage = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, passage),                       // fully shared with doc 1
      (1L, passage),                       // identical copy
      (2L, s"$passage unique trailing words here"), // shares a prefix span
      (3L, "totally different words nothing repeats"),
      (4L, "xy")                           // < 3 tokens: no shingles
    ).toDF("doc_id", "text")
    // run the catalog query shape against a temp dir-less frame: reuse
    // the operator pipeline by writing docs to a temp parquet "dir"
    val dir = java.nio.file.Files.createTempDirectory("d10spec").toString
    docs.select(col("doc_id"), col("text"),
        org.apache.spark.sql.functions.lit("en").as("lang"),
        org.apache.spark.sql.functions.lit("src0").as("source"),
        org.apache.spark.sql.functions.length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = QueriesText.queries("d10_shared_shingles")(spark, dir)
      .as[(Long, Long, Long, Option[Double])].collect()
      .map { case (id, ns, ss, f) => id -> ((ns, ss, f)) }.toMap
    out(0L)._3 shouldBe Some(1.0) // every shingle of the passage recurs
    out(1L)._3 shouldBe Some(1.0)
    out(2L)._2 shouldBe 4L        // the 4 shingles fully inside the shared passage
    out(3L) shouldBe ((3L, 0L, Some(0.0)))
    out(4L) shouldBe ((0L, 0L, None)) // shingle-less doc: NULL fraction, still present
  }

  test("MinHashSig kernel equals the HOF fold it replaced, element for element") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val P = TextFunctions.P
    val df = (0 until 40).map(i =>
      (i.toLong, Seq.fill(rnd.nextInt(50) + 1)(math.abs(rnd.nextLong()) % P))).toDF("id", "hs")
    val k = 16
    val hof = transform(
      sequence(lit(0), lit(k - 1)),
      j => aggregate(col("hs"), lit(P), (acc, x) => least(acc, ((j * 2 + 1) * x + j * 7919 + 1) % P)))
    val rows = df.select(col("id"),
        TextFunctions.minHashSignature(col("hs"), k).as("fast"), hof.as("slow"))
      .collect()
    rows.foreach { r =>
      withClue(s"id=${r.getLong(0)}: ") { r.getSeq[Long](1) shouldBe r.getSeq[Long](2) }
    }
  }

  test("sortedIntersectCount equals size(array_intersect) on sorted distinct sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val df = (0 until 60).map { i =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      (i.toLong, a, b)
    }.toDF("id", "a", "b")
    val rows = df.select(col("id"),
        TextFunctions.sortedIntersectCount(col("a"), col("b")).as("fast"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.array_intersect(col("a"), col("b")))
          .cast("long").as("slow"))
      .collect()
    rows.foreach { r =>
      withClue(s"id=${r.getLong(0)}: ") { r.getLong(1) shouldBe r.getLong(2) }
    }
  }

  test("shingleSets stores array<int>: lossless, sorted, kernels match the long form") {
    // Round 22 (§2.3 narrower types): the set relations carry mod-P
    // hashes (P = 1e9+7 < 2³¹) as array<int> to halve the verify-join
    // shuffle bytes. Pins: (a) the materialized element type IS int,
    // (b) the values are the long shingle set's values (lossless
    // cast), (c) MinHashSig and SortedIntersectCount read the int form
    // to bit-identical results vs the long form.
    import org.apache.spark.sql.types._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words about catalyst plans here"))
      .toDF("doc_id", "text")
    val shingleSet = TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)
    val sets = Dedup.shingleSets(docs, col("doc_id"), shingleSet)
    sets.schema("hs").dataType shouldBe ArrayType(IntegerType, containsNull = false)
    val longSets = docs.select(col("doc_id").as("doc"),
      array_sort(shingleSet).as("hs_long"))
    val both = sets.join(longSets, "doc")
    // lossless: int values == long values, element for element
    both.select(col("doc"), col("hs").cast("array<bigint>").as("w"), col("hs_long"))
      .collect().foreach { r =>
        withClue(s"doc=${r.getLong(0)}: ") {
          r.getSeq[Long](1) shouldBe r.getSeq[Long](2)
        }
      }
    // kernels: identical signature and intersection counts on either width
    val k = QueriesText.dedupK
    both.select(col("doc"),
        TextFunctions.minHashSignature(col("hs"), k).as("si"),
        TextFunctions.minHashSignature(col("hs_long"), k).as("sl"))
      .collect().foreach { r =>
        withClue(s"doc=${r.getLong(0)}: ") {
          r.getSeq[Long](1) shouldBe r.getSeq[Long](2)
        }
      }
    val a = both.select(col("doc"), col("hs"), col("hs_long"))
    val prs = a.as("x").crossJoin(a.as("y"))
      .select(
        TextFunctions.sortedIntersectCount(col("x.hs"), col("y.hs")).as("ii"),
        TextFunctions.sortedIntersectCount(col("x.hs_long"), col("y.hs_long")).as("ll"),
        TextFunctions.sortedIntersectCount(col("x.hs"), col("y.hs_long")).as("mixed"))
      .collect()
    prs.foreach { r =>
      r.getLong(0) shouldBe r.getLong(1)
      r.getLong(2) shouldBe r.getLong(1)
    }
  }

  test("keepBestPerComponent: count-gated broadcast — under-cap plans a broadcast join, over-cap keeps rows identical") {
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (4L, 5L), (9L, 2L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
    // silence the SIZE-based auto-broadcast so the plan shape isolates
    // the count gate's own decision (tiny test relations would
    // otherwise be auto-broadcast on both routes)
    val abKey = "spark.sql.autoBroadcastJoinThreshold"
    val abPrev = spark.conf.get(abKey)
    spark.conf.set(abKey, "-1")
    try {
      val under = Dedup.keepBestPerComponent(docs, "doc_id", "score", labels)
      val over = Dedup.keepBestPerComponent(docs, "doc_id", "score", labels,
        maxBroadcastRows = 1L)
      def bcasts(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.toString
          .linesIterator.count(_.contains("BroadcastExchange"))
      bcasts(under) should be >= 1
      bcasts(over) shouldBe 0
      // the boundary: labels has exactly 3 rows (nodes 1, 2, 3) — a cap
      // of exactly 3 routes under it, 2 (one row short) over it
      labels.count() shouldBe 3L
      val atCap = Dedup.keepBestPerComponent(docs, "doc_id", "score", labels,
        maxBroadcastRows = 3L)
      val pastCap = Dedup.keepBestPerComponent(docs, "doc_id", "score", labels,
        maxBroadcastRows = 2L)
      bcasts(atCap) should be >= 1
      bcasts(pastCap) shouldBe 0
      // cap 0 never broadcasts (and runs no count job)
      val zero = Dedup.keepBestPerComponent(docs, "doc_id", "score", labels,
        maxBroadcastRows = 0L)
      bcasts(zero) shouldBe 0
      val u = under.orderBy("component").collect().map(_.toSeq)
      val o = over.orderBy("component").collect().map(_.toSeq)
      u shouldBe o
      Seq(atCap, pastCap, zero).foreach(_.orderBy("component").collect().map(_.toSeq) shouldBe u)
      // semantic pin: component 1 keeps doc 2 (score 30, min id
      // tie-break), singletons keep themselves
      u.map(s => (s(0), s(1))) shouldBe Array((1L, 2L), (4L, 4L), (9L, 9L))
    } finally spark.conf.set(abKey, abPrev)
  }

  test("sortedIntersectCount strict guard: unsorted input throws under -Dgraft.strictSortedKernels") {
    // ADVICE r20: the merge kernel silently undercounts on unsorted
    // input; the whole test suite runs with the opt-in guard compiled
    // in (build.sbt), so this spec pins that an out-of-order step on
    // the consumed prefix fails loudly rather than returning a wrong
    // Jaccard. (Production keeps the guard off — the invariant is
    // pinned at the array_sort materialization sites.)
    import spark.implicits._
    assume(graft.functions.HashExpressions.strictSorted,
      "suite must run with -Dgraft.strictSortedKernels=true (build.sbt)")
    val df = Seq((1L, Seq(5L, 3L, 9L), Seq(1L, 2L, 8L))).toDF("id", "a", "b")
    val ex = intercept[Exception] {
      df.select(TextFunctions.sortedIntersectCount(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${chain(t.getCause)}"
    chain(ex) should include("not sorted ascending")
  }
}
