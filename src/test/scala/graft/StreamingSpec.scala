package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.GreedyClustering
import graft.operators.GreedyClustering.Params
import graft.streaming.StreamingClustering
import graft.streaming.StreamingClustering.MentionEvent

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val params = Params("backwards", limit = -1, threshold = 0.5, cosine = false)

  private val events = Seq(
    // key 0: the reference's one-hot golden stream
    MentionEvent(0L, 0L, 0L, Array(1f, 0f)),
    MentionEvent(0L, 1L, 1L, Array(0f, 1f)),
    MentionEvent(0L, 2L, 2L, Array(1f, 0f)),
    MentionEvent(0L, 3L, 3L, Array(1f, 0f)),
    MentionEvent(0L, 4L, 4L, Array(0f, 1f)),
    // key 1: independent stream
    MentionEvent(1L, 10L, 0L, Array(1f, 0f)),
    MentionEvent(1L, 11L, 1L, Array(1f, 0f)))

  test("a named memory-sink query re-runs under per-run checkpoint paths (bench protocol)") {
    // regression for the round-6 bench bug: with a FIXED conf
    // checkpoint root, the second .start() of an append-mode memory
    // sink with the same queryName finds the first run's offsets and
    // throws — Bench must (and now does) point each iteration at a
    // fresh path. This pins that the re-run pattern actually works;
    // losing it silently degrades every streaming median to one-shot.
    val ckRoot = java.nio.file.Files.createTempDirectory("graft-ck-rerun").toString
    val counts = (0 until 2).map { i =>
      spark.conf.set("spark.sql.streaming.checkpointLocation", s"$ckRoot/it$i")
      try {
        val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](spark)
        val q = input.toDS().toDF("v")
          .writeStream.format("memory").queryName("rerun_sink")
          .outputMode("append").start()
        try {
          input.addData(1L, 2L, 3L)
          q.processAllAvailable()
          spark.table("rerun_sink").count()
        } finally q.stop()
      } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
    }
    counts shouldBe Seq(3L, 3L)
  }

  test("streaming greedy clustering matches the batch fold across multiple micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MentionEvent]
    val query = StreamingClustering.greedyCluster(input.toDS(), params)
      .writeStream.format("memory").queryName("assignments").outputMode("append").start()
    try {
      input.addData(events.take(3)) // splits key 0 mid-stream
      query.processAllAvailable()
      input.addData(events.drop(3))
      query.processAllAvailable()

      val streamed = spark.table("assignments")
        .select("key", "id", "predCluster").as[(Long, Long, Long)]
        .collect().sortBy(r => (r._1, r._2)).toSeq

      val batchDf = events.map(e => (e.key, e.id, e.order, e.vec)).toDF("key", "id", "ord", "vec")
      val batch = GreedyClustering.clusterByKey(batchDf, col("key"), col("id"), col("vec"), col("ord"), params)
        .select("key", "id", "pred_cluster").as[(Long, Long, Long)]
        .collect().sortBy(r => (r._1, r._2)).toSeq

      streamed shouldBe batch
      // and the golden assignment for key 0
      streamed.filter(_._1 == 0L).map(_._3) shouldBe Seq(0L, 1L, 0L, 0L, 1L)
    } finally query.stop()
  }

  test("streaming GRINCH matches the batch tree automaton on the golden fixture") {
    import graft.operators.Grinch
    import graft.streaming.StreamingGrinch
    import graft.streaming.StreamingGrinch.PointEvent

    val p = Grinch.Params(sim = "dot", norm = "l2")
    val threshold = 0.25
    // key 0: the 24-point reference-pinned fixture; key 1: a small
    // independent stream proving keyed isolation
    val evs =
      GrinchGoldenFixture.pts.zipWithIndex.map { case (v, i) =>
        PointEvent(0L, i.toLong, i.toLong, v)
      }.toSeq ++ Seq(
        PointEvent(1L, 100L, 0L, Array(1f, 0f, 0f, 0f)),
        PointEvent(1L, 101L, 1L, Array(0.9f, 0.1f, 0f, 0f)))

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PointEvent]
    val query = StreamingGrinch.flatCluster(input.toDS(), p, threshold)
      .writeStream.format("memory").queryName("grinch_stream").outputMode("append").start()
    try {
      input.addData(evs.take(8))
      query.processAllAvailable()
      input.addData(evs.slice(8, 17))
      query.processAllAvailable()
      input.addData(evs.drop(17))
      query.processAllAvailable()

      // latest (max-step) assignment per (key, id)
      val streamed = spark.table("grinch_stream")
        .select("key", "id", "predCluster", "step").as[(Long, Long, Long, Long)]
        .collect().groupBy(r => (r._1, r._2))
        .map { case (k, rows) => (k._1, k._2, rows.maxBy(_._4)._3) }
        .toSeq.sortBy(r => (r._1, r._2))

      val batchDf = evs.map(e => (e.key, e.id, e.order, e.vec)).toDF("key", "id", "ord", "vec")
      val batch = Grinch.flatClusterByKey(batchDf, col("key"), col("id"), col("vec"), col("ord"),
        p, threshold)
        .select("key", "id", "pred_cluster").as[(Long, Long, Long)]
        .collect().sortBy(r => (r._1, r._2)).toSeq

      streamed shouldBe batch
      // sanity: the fixture's three natural clusters survive streaming
      streamed.filter(_._1 == 0L).map(_._3).distinct.size shouldBe 3
    } finally query.stop()
  }

  test("streaming vocab appends codes for unseen entities and matches batch dictEncode") {
    import graft.streaming.StreamingVocab
    import graft.streaming.StreamingVocab.TokenEvent

    val stream = Seq("b", "a", "b", "c", "a", "d", "c", "e")
      .zipWithIndex.map { case (e, i) => TokenEvent(0L, i.toLong, e) }

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TokenEvent]
    val query = StreamingVocab.dictEncode(input.toDS())
      .writeStream.format("memory").queryName("vocab_stream").outputMode("append").start()
    try {
      input.addData(stream.take(3)) // b,a,b -> codes b=0, a=1
      query.processAllAvailable()
      input.addData(stream.slice(3, 6)) // c,a,d -> c appended as 2, a stays 1, d=3
      query.processAllAvailable()
      input.addData(stream.drop(6)) // c stays 2, e appended as 4
      query.processAllAvailable()

      val streamed = spark.table("vocab_stream")
        .select("order", "entity", "code").as[(Long, String, Long)]
        .collect().sortBy(_._1).toSeq
      streamed.map(_._3) shouldBe Seq(0L, 1L, 0L, 2L, 1L, 3L, 2L, 4L)

      // batch re-derivation equivalence: first-occurrence dictEncode of
      // the whole stream assigns the same codes
      val batchDf = stream.map(e => (e.order, e.entity)).toDF("ord", "entity")
      val batch = graft.operators.Relational
        .dictEncode(batchDf, col("entity"), col("ord"), "code")
        .select("ord", "entity", "code").as[(Long, String, Int)]
        .collect().sortBy(_._1).toSeq
      streamed.map(r => (r._1, r._2, r._3)) shouldBe batch.map(r => (r._1, r._2, r._3.toLong))
    } finally query.stop()
  }

  test("bounded state: diversity-cache strategy works under streaming with state snapshots") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MentionEvent]
    val p = params.copy(strategy = "diversity-cache", limit = 2)
    val query = StreamingClustering.greedyCluster(input.toDS(), p)
      .writeStream.format("memory").queryName("bounded").outputMode("append").start()
    try {
      events.take(2).foreach { e => input.addData(e); query.processAllAvailable() } // one event per batch
      input.addData(events.slice(2, 5))
      query.processAllAvailable()
      val streamed = spark.table("bounded")
        .where(col("key") === 0).select("id", "predCluster").as[(Long, Long)]
        .collect().sortBy(_._1).map(_._2).toSeq

      val batchDf = events.take(5).map(e => (e.key, e.id, e.order, e.vec)).toDF("key", "id", "ord", "vec")
      val batch = GreedyClustering.clusterByKey(batchDf, col("key"), col("id"), col("vec"), col("ord"), p)
        .orderBy("id").select("pred_cluster").as[Long].collect().toSeq
      streamed shouldBe batch
    } finally query.stop()
  }

  test("streaming connected components: cross-batch merges match batch CC") {
    import graft.streaming.StreamingComponents
    import graft.streaming.StreamingComponents.EdgeEvent
    implicit val sqlCtx = spark.sqlContext
    // batch 1 creates {1,2} and {3,9}; batch 2's (2,3) MERGES them —
    // nodes 3 and 9 must relabel from 3 to 1 — and adds {5,7}
    val b1 = Seq(EdgeEvent(0L, 0L, 1L, 2L), EdgeEvent(0L, 1L, 3L, 9L))
    val b2 = Seq(EdgeEvent(0L, 2L, 2L, 3L), EdgeEvent(0L, 3L, 5L, 7L))
    val input = MemoryStream[EdgeEvent]
    val query = StreamingComponents.connectedComponents(input.toDS())
      .writeStream.format("memory").queryName("cc_sink").outputMode("append").start()
    try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node")).orderBy(col("step").desc)
      val streamed = spark.table("cc_sink")
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select("node", "comp").as[(Long, Long)].collect().toMap

      val batchPairs = (b1 ++ b2).map(e => (e.a, e.b)).toDF("doc_a", "doc_b")
      val batch = graft.operators.Dedup
        .connectedComponents(batchPairs, col("doc_a"), col("doc_b"))
        .as[(Long, Long)].collect().toMap
      streamed shouldBe batch
      streamed(9L) shouldBe 1L // the cross-batch relabel actually happened
    } finally query.stop()
  }

  test("streaming CC delta emission: rows ∝ changes, not graph size") {
    import graft.streaming.StreamingComponents
    import graft.streaming.StreamingComponents.EdgeEvent
    implicit val sqlCtx = spark.sqlContext
    // batch 2's (2,3) merges {3,9} INTO {1,2} (min-root 1 survives) and
    // adds {5,7}: the absorbed side and the new nodes change, the
    // surviving component's members must stay silent
    val b1 = Seq(EdgeEvent(0L, 0L, 1L, 2L), EdgeEvent(0L, 1L, 3L, 9L))
    val b2 = Seq(EdgeEvent(0L, 2L, 2L, 3L), EdgeEvent(0L, 3L, 5L, 7L))
    val input = MemoryStream[EdgeEvent]
    val query = StreamingComponents.connectedComponents(input.toDS())
      .writeStream.format("memory").queryName("cc_delta_sink").outputMode("append").start()
    try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      val byStep = spark.table("cc_delta_sink")
        .select("step", "node").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      byStep(1L) shouldBe Seq(1L, 2L, 3L, 9L) // first sight of every node
      byStep(2L) shouldBe Seq(3L, 5L, 7L, 9L) // relabeled + new ONLY — 1, 2 not re-emitted
    } finally query.stop()
  }

  test("streaming CC delta contract holds on random graphs and batchings") {
    import graft.streaming.StreamingComponents
    import graft.streaming.StreamingComponents.EdgeEvent
    // model: after each batch a node's component is the MIN id of its
    // connected component over all edges seen so far; the delta must be
    // exactly {first-seen nodes} ∪ {nodes whose min-root changed}, each
    // stamped with its new root — for EVERY graph and batch split
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 60) {
      val n = 3 + rnd.nextInt(40)
      val m = rnd.nextInt(70)
      val edges = Seq.tabulate(m) { i =>
        EdgeEvent(0L, i.toLong, rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }
      val nBatches = 1 + rnd.nextInt(5)
      val batches = edges.grouped(math.max(1, (m + nBatches - 1) / nBatches)).toSeq
      def minRoots(es: Seq[EdgeEvent]): Map[Long, Long] = {
        val par = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = { var r = x; while (par(r) != r) r = par(r); r }
        es.foreach { e =>
          par.getOrElseUpdate(e.a, e.a); par.getOrElseUpdate(e.b, e.b)
          val (ra, rb) = (find(e.a), find(e.b))
          if (ra != rb) par(math.max(ra, rb)) = math.min(ra, rb)
        }
        par.keys.map(k => k -> find(k)).toMap
      }
      var state = Option.empty[StreamingComponents.UfState]
      var seen = Seq.empty[EdgeEvent]
      var prevModel = Map.empty[Long, Long]
      val latest = scala.collection.mutable.HashMap.empty[Long, Long]
      batches.zipWithIndex.foreach { case (b, bi) =>
        val (next, delta) = StreamingComponents.applyBatch(state, b)
        state = Some(next)
        seen ++= b
        val model = minRoots(seen)
        val expectedTouched = model.keySet.filter(k =>
          !prevModel.contains(k) || prevModel(k) != model(k))
        withClue(s"trial=$trial batch=$bi: ") {
          delta.map(_.node).toSet shouldBe expectedTouched
          delta.foreach(r => r.comp shouldBe model(r.node))
        }
        delta.foreach(r => latest(r.node) = r.comp)
        prevModel = model
      }
      // max-step reader convention: the latest row per node IS the
      // final assignment
      latest.toMap shouldBe minRoots(edges)
    }
  }

  test("st12/st13/st14 end-of-stream surgery counters equal the batch runs'") {
    import graft.operators.Grinch
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    // The streaming twins legitimately run with minRotations/minPrunes/
    // minGrafts = 0 (short micro-batch prefixes may not fire surgery
    // yet), so a data change could silently turn them surgery-free
    // while their hashes still matched a surgery-free oracle tree.
    // The twins' state is the insertion log and their final micro-batch
    // rebuilds from the FULL log, so the end-of-stream automaton is
    // exactly buildFrom(all vectors) — rebuilt here through the same
    // quantizedSlice input builder the twins and batch queries share,
    // with the batch min-surgery asserts enforced.
    val cases = Seq(
      ("st12/rotate", col("vec_id") < QueriesGrinch.H7N, Some(QueriesGrinch.H7Dim),
        127.0, QueriesGrinch.RotP, (g: Grinch) => g.rotations),
      ("st13/prune",
        col("vec_id") >= QueriesGrinch.H8Off &&
          col("vec_id") < QueriesGrinch.H8Off + QueriesGrinch.H8N,
        Some(QueriesGrinch.H8Dim), 63.0, QueriesGrinch.PruneP, (g: Grinch) => g.prunes),
      ("st14/graft",
        col("vec_id") >= QueriesGrinch.H9Off &&
          col("vec_id") < QueriesGrinch.H9Off + QueriesGrinch.H9N,
        Some(QueriesGrinch.H9Dim), 63.0, QueriesGrinch.GraftP, (g: Grinch) => g.grafts))
    cases.foreach { case (name, filter, dim, div, batchP, counter) =>
      val vecs = QueriesGrinch.quantizedSlice(spark, dir, filter, dim, div)
        .orderBy("vec_id").select("q").collect()
        .map(_.getSeq[Long](0).toArray.map(_.toFloat))
      // the streaming twin's final state replay (min asserts relaxed,
      // exactly like the st queries run it)
      val streamEnd = Grinch.buildFrom(vecs,
        batchP.copy(minRotations = 0, minPrunes = 0, minGrafts = 0))
      // the batch run — its Params REQUIRE surgery to have fired
      val batch = Grinch.buildFrom(vecs, batchP)
      withClue(s"$name: ") {
        (streamEnd.rotations, streamEnd.prunes, streamEnd.grafts) shouldBe
          ((batch.rotations, batch.prunes, batch.grafts))
        counter(batch) should be >= 1
      }
    }
  }

  test("spark.graft.stateStore=rocksdb routes streams through RocksDBStateStoreProvider") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set("spark.graft.stateStore", "rocksdb")
    try {
      QueriesStreaming.fileIngest(spark, Seq(Seq((0L, 1L)).toDF("k", "id"))) { stream =>
        // the provider a stream started here captures
        spark.conf.get(provider) should include("RocksDBStateStoreProvider")
        stream.writeStream.format("memory").queryName("rocks_route_sink").outputMode("append").start()
      }
      // restored on exit — later streams are back on the default
      // provider (conf.get falls back to the HDFS-backed default)
      spark.conf.get(provider) should not include "RocksDB"
    } finally spark.conf.unset("spark.graft.stateStore")
  }

  test("st17 streaming CMS output is identical under the RocksDB state store") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    def run(): Seq[Seq[Any]] =
      SparkEntry.queries("st17_streaming_cms")(spark, dir)
        .collect().map(_.toSeq.toList).toSeq
    val default = run()
    default should not be empty
    spark.conf.set("spark.graft.stateStore", "rocksdb")
    try run() shouldBe default
    finally spark.conf.unset("spark.graft.stateStore")
  }

  test("streaming sessionization: sessions continue and split across micro-batches") {
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    val gap = 100L
    // user 1: batch boundary INSIDE a session (e2 within gap of e1),
    // then a gap inside batch 2 (e3 starts session 1); user 2: the
    // cross-batch gap itself splits (e11 → session 1)
    val b1 = Seq(SessionEvent(1L, 1L, 1000L), SessionEvent(2L, 10L, 1000L))
    val b2 = Seq(SessionEvent(1L, 2L, 1050L), SessionEvent(1L, 3L, 2000L),
      SessionEvent(2L, 11L, 5000L))
    val input = MemoryStream[SessionEvent]
    val query = StreamingSessions.sessionize(input.toDS(), gapNs = gap)
      .writeStream.format("memory").queryName("sess_sink").outputMode("append").start()
    try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      val out = spark.table("sess_sink")
        .select("eventId", "sessionId").as[(Long, Long)].collect().toMap
      out shouldBe Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 10L -> 0L, 11L -> 1L)
    } finally query.stop()
  }

  test("streaming HLL: final sketch is independent of micro-batch boundaries") {
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.HashEvent
    implicit val sqlCtx = spark.sqlContext
    val P = 1000000007L
    val evts = (0L until 200L).map { u =>
      val h0 = (u * 2654435761L + 12345L) % P
      val h1 = (h0 * h0 + 17L) % P
      HashEvent("k", (h1 * h1 + h1 + 3L) % P)
    }
    def run(chunks: Seq[Seq[HashEvent]], sink: String): Double = {
      val input = MemoryStream[HashEvent]
      val query = StreamingSketch.hllDistinct(input.toDS())
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      spark.table(sink).orderBy(col("step").desc)
        .select("hllEst").as[Double].collect().head
    }
    val oneShot = run(Seq(evts), "hll_one")
    val split = run(evts.grouped(37).toSeq, "hll_many")
    oneShot shouldBe split // max-merge is batching-independent, bit-for-bit
    oneShot shouldBe (200.0 +- 60.0) // and in the right ballpark
  }

  test("streaming reservoir: final bottom-k sample is batching-independent and equals batch") {
    import graft.streaming.StreamingSampling
    import graft.streaming.StreamingSampling.SampleEvent
    implicit val sqlCtx = spark.sqlContext
    val P = 1000000007L
    val k = 25
    val evts = (0L until 500L).map { id =>
      SampleEvent("all", id, ((id % P) * 2654435761L + 11L) % P + P) // stays positive
    }
    // batch reference: the k smallest (h, id)
    val expect = evts.map(e => (e.h, e.id)).sorted.take(k).map(_._2).toSet
    def run(chunks: Seq[Seq[SampleEvent]], sink: String): Set[Long] = {
      val input = MemoryStream[SampleEvent]
      val query = StreamingSampling.bottomK(input.toDS(), k)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      val t = spark.table(sink)
      val last = t.agg(max("step")).as[Long].collect().head
      t.where(col("step") === last).select("id").as[Long].collect().toSet
    }
    run(Seq(evts), "res_one") shouldBe expect
    run(evts.grouped(83).toSeq, "res_many") shouldBe expect
    // a reshuffled arrival order converges to the same sample (merge law)
    val shuffled = new scala.util.Random(3).shuffle(evts)
    run(shuffled.grouped(120).toSeq, "res_shuf") shouldBe expect
  }

  test("streaming ANN: batching-independent top-k vs local bucket recompute; redelivery fails loudly") {
    import graft.streaming.StreamingAnn
    import graft.streaming.StreamingAnn.QueryEvent
    import graft.functions.VectorFunctions
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 200L).map(id => id -> Array.fill(64)(rnd.nextGaussian().toFloat)).toMap
    val corpusDf = vecs.toSeq.toDF("vec_id", "embedding")
    val prefixBits = 4
    val corpus = StreamingAnn.bucketCorpus(corpusDf, col("vec_id"), col("embedding"), prefixBits)
    // local reference: exact Hamming rank within same-prefix buckets
    val codes = corpusDf.select(col("vec_id"), VectorFunctions.signCode(col("embedding")).as("c"))
      .select(col("vec_id"), col("c.hi"), col("c.lo"))
      .as[(Long, Long, Long)].collect().map { case (i, h, l) => i -> ((h, l)) }.toMap
    def ham(a: (Long, Long), b: (Long, Long)): Long =
      java.lang.Long.bitCount(a._1 ^ b._1).toLong + java.lang.Long.bitCount(a._2 ^ b._2)
    def prefix(c: (Long, Long)): Long = c._1 >> (32 - prefixBits)
    val qids = vecs.keys.filter(_ % 20 == 0).toSeq.sorted
    val expect = qids.flatMap { q =>
      vecs.keys.filter(c => c != q && prefix(codes(c)) == prefix(codes(q))).toSeq
        .map(c => (ham(codes(q), codes(c)), c)).sorted.take(3).zipWithIndex
        .map { case ((h, c), i) => (q, c, i + 1L, h) }
    }.toSet
    val events = qids.map(q => QueryEvent(q, vecs(q)))
    def run(chunks: Seq[Seq[QueryEvent]], sink: String): Set[(Long, Long, Long, Long)] = {
      val input = MemoryStream[QueryEvent]
      val query = StreamingAnn.hammingTopK(input.toDS(), corpus, k = 3, prefixBits)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      spark.table(sink).select("queryId", "neighborId", "rank", "hamming")
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    run(Seq(events), "ann_one") shouldBe expect
    run(events.grouped(4).toSeq, "ann_many") shouldBe expect
    // a query id re-delivered in a later micro-batch violates the
    // one-shot contract and must fail, not emit a second top-k
    val input = MemoryStream[QueryEvent]
    val query = StreamingAnn.hammingTopK(input.toDS(), corpus, k = 3, prefixBits)
      .writeStream.format("memory").queryName("ann_dup").outputMode("append").start()
    try {
      input.addData(Seq(events.head)); query.processAllAvailable()
      val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        input.addData(Seq(events.head)); query.processAllAvailable()
      }
      thrown.getMessage should include("more than one micro-batch")
    } finally query.stop()
  }

  test("streaming retention: batching-independent cells, delta emission, cohort fixed by first event") {
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.{DayEvent, OffsetHit}
    implicit val sqlCtx = spark.sqlContext
    // 40 users, ts-ascending day walk; several revisit days (no re-emission)
    val evts = for (d <- 0L until 12L; u <- 0L until 40L; if (u + d) % 3 != 0)
      yield DayEvent(u, d)
    def run(chunks: Seq[Seq[DayEvent]], sink: String): (Seq[(Long, Long)], Long) = {
      val input = MemoryStream[DayEvent]
      val query = StreamingRetention.cohortOffsets(input.toDS())
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      val rows = spark.table(sink).as[OffsetHit].collect()
      (rows.map(h => (h.cohortDay, h.dayOffset)).sorted.toSeq, rows.length.toLong)
    }
    val (one, nOne) = run(Seq(evts), "ret_one")
    val (many, nMany) = run(evts.grouped(117).toSeq, "ret_many")
    many shouldBe one // cells batching-independent
    // delta emission: total sink rows == distinct (user, offset) cells,
    // regardless of batching — revisited days never re-emit
    val expected = evts.map(e => (e.userId, e.day)).distinct.size.toLong
    nOne shouldBe expected
    nMany shouldBe expected
  }

  test("streaming counters: exact, batching-independent, emission bounded by touched cells") {
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.IncEvent
    implicit val sqlCtx = spark.sqlContext
    // 20,000 increments over only 10 distinct cells — a heavy-hitter grid
    val evts = (0 until 20000).map(i => IncEvent((i % 10).toLong))
    def run(chunks: Seq[Seq[IncEvent]], sink: String): (Map[Long, Long], Long) = {
      val input = MemoryStream[IncEvent]
      val query = StreamingSketch.runningCounts(input.toDS())
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      val rows = spark.table(sink)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell")).orderBy(col("step").desc)
      val fin = rows.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select("cell", "count").as[(Long, Long)].collect().toMap
      (fin, rows.count())
    }
    val (one, oneRows) = run(Seq(evts), "cnt_one")
    val (split, splitRows) = run(evts.grouped(1700).toSeq, "cnt_many")
    one shouldBe split // counter addition is batching-independent
    one.values.sum shouldBe 20000L
    one(0L) shouldBe 2000L
    // emission ∝ touched cells × batches, never ∝ increments
    oneRows shouldBe 10L
    splitRows should be <= (12L * 10L)
  }

  test("streaming quantiles: snapshot histogram reproduces batch percentiles under any batching") {
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.IncEvent
    implicit val sqlCtx = spark.sqlContext
    // skewed value stream: mostly short, a long tail
    val vals = (0 until 3000).map(i => ((i % 37) + (if (i % 100 == 0) 500L else 0L)))
    def run(chunkSize: Int, sink: String): Map[Long, Long] = {
      val input = MemoryStream[IncEvent]
      val query = StreamingSketch.runningCounts(input.toDS())
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        vals.map(IncEvent(_)).grouped(chunkSize).foreach { c =>
          input.addData(c); query.processAllAvailable()
        }
      } finally query.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cell")).orderBy(col("step").desc)
      val hist = spark.table(sink)
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select(col("cell").as("v"), col("count").as("c"))
      graft.operators.Quantiles.quantilesFromHistogram(spark, hist, Seq(50, 90, 99), "v")
        .as[(Long, Long)].collect().toMap
    }
    val streamed = run(chunkSize = 400, sink = "q_many")
    streamed shouldBe run(chunkSize = 3000, sink = "q_one") // batching-independent
    // parity with the exact sorted-rank percentiles
    val sorted = vals.sorted
    for (p <- Seq(50, 90, 99)) {
      val rank = (p * sorted.length + 99) / 100
      withClue(s"p$p: ") { streamed(p.toLong) shouldBe sorted(rank - 1) }
    }
  }

  test("streaming funnel: batching-independent, ties never qualify, non-step users surface") {
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEvent
    implicit val sqlCtx = spark.sqlContext
    // global ts order (the ingest contract); user 1 sees a step-1
    // before any step-0 (must not count), user 2 has a step-0/step-1
    // tie at ts=10 (strictly-after ⇒ not qualifying), user 3 has only
    // a non-step event (must still surface, stage 0)
    val feed = Seq(
      FunnelEvent(3L, 5L, -1),
      FunnelEvent(1L, 10L, 1), FunnelEvent(2L, 10L, 0), FunnelEvent(2L, 10L, 1),
      FunnelEvent(1L, 20L, 0), FunnelEvent(2L, 20L, 1),
      FunnelEvent(1L, 30L, 1), FunnelEvent(1L, 40L, 2))
    def run(chunk: Int, sink: String): Map[Long, Seq[Long]] = {
      val input = MemoryStream[FunnelEvent]
      val query = StreamingFunnel.funnel(input.toDS(), 3)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        feed.grouped(chunk).foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("userId").orderBy(col("nSeen").desc)
      spark.table(sink)
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select("userId", "mins").as[(Long, Seq[Long])].collect().toMap
    }
    val out = run(2, "fun_many")
    out shouldBe run(8, "fun_one") // batching-independent
    out shouldBe Map(
      1L -> Seq(20L, 30L, 40L), // the pre-step-0 step-1 at ts=10 skipped
      2L -> Seq(10L, 20L, -1L), // the ts=10 step-1 tie never qualifies
      3L -> Seq(-1L, -1L, -1L))
  }

  test("stream-stream interval join: cross-batch matches, symmetric-hash plan, state evicted") {
    import graft.streaming.StreamingAnalytics
    implicit val sqlCtx = spark.sqlContext
    // base offset: a row AT the initial watermark (epoch 0) would be
    // dropped as late on arrival
    def ts(sec: Long) = new java.sql.Timestamp((3600L + sec) * 1000L)
    // windows of 100 s; window 1 opens in batch 1 but its probe matches
    // arrive in batch 2 — the state handoff a per-batch join would miss
    val winBatches = Seq(
      Seq((1L, ts(0L)), (2L, ts(50L))),
      Seq((3L, ts(1000L))),
      Seq((4L, ts(100000L)))) // far-future: advances the watermark
    val probeBatches = Seq(
      Seq((10L, ts(10L), 1L)),
      Seq((11L, ts(60L), 2L), (12L, ts(1050L), 3L)),
      Seq((13L, ts(100010L), 4L)))
    val winIn = MemoryStream[(Long, java.sql.Timestamp)]
    val prIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val query = StreamingAnalytics.intervalJoin(
      prIn.toDS().toDF("pid", "pts", "pv"),
      winIn.toDS().toDF("wid", "ws"),
      "pts", "ws", windowSeconds = 100L, watermark = "10 seconds")
      .select("wid", "pid")
      .writeStream.format("memory").queryName("ssj_sink").outputMode("append").start()
    try {
      winBatches.zip(probeBatches).foreach { case (wb, pb) =>
        winIn.addData(wb); prIn.addData(pb); query.processAllAvailable()
      }
      val joinOp = query.lastProgress.stateOperators(0)
      joinOp.operatorName shouldBe "symmetricHashJoin"
      // the watermark at the last batch is far past every earlier
      // window's end + delay: evicted join state must not retain the
      // full history (4 windows × ≤2 buckets + 4 probes = 12 max)
      joinOp.numRowsTotal should be < 12L
    } finally query.stop()
    val got = spark.table("ssj_sink").as[(Long, Long)].collect().toSet
    got shouldBe Set(
      (1L, 10L),             // batch-1 window × batch-1 probe
      (1L, 11L), (2L, 11L),  // batch-1 windows × batch-2 probe (cross-batch)
      (3L, 12L), (4L, 13L))
  }

  test("stateful stream recovers state across restart from checkpoint (exactly-once file sink)") {
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.SessionEvent
    val base = java.nio.file.Files.createTempDirectory("ckrec")
    val src = s"$base/src"; val out = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(src).mkdirs()
    val gap = 100L
    def start() = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
      .parquet(src)
      .as[SessionEvent]
      .transform(StreamingSessions.sessionize(_, gapNs = gap))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").start()
    // phase 1: users 0-9, two events each, 10 apart (one session so far)
    val p1 = (0L until 10L).flatMap(u => Seq(
      SessionEvent(u, u * 10, 0L), SessionEvent(u, u * 10 + 1, 10L)))
    p1.toDS().write.mode("append").parquet(src)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // phase 2 AFTER a full restart: within-gap events must CONTINUE
    // session 0 (state recovered from the checkpoint, not reset), and
    // beyond-gap events must open session 1
    val p2 = (0L until 10L).flatMap { u =>
      if (u < 5) Seq(SessionEvent(u, u * 10 + 2, 10L + gap))       // exactly at gap: same session
      else Seq(SessionEvent(u, u * 10 + 2, 10L + gap + 1))          // past gap: new session
    }
    p2.toDS().write.mode("append").parquet(src)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val sunk = spark.read.parquet(out)
      .as[(Long, Long, Long)].collect() // eventId, userId, sessionId
    // exactly-once: every event surfaced exactly once across both runs
    sunk.length shouldBe 30
    sunk.map(_._1).distinct.length shouldBe 30
    val byEvent = sunk.map { case (e, _, s) => e -> s }.toMap
    (0L until 10L).foreach { u =>
      withClue(s"user=$u: ") {
        byEvent(u * 10) shouldBe 0L
        byEvent(u * 10 + 1) shouldBe 0L
        // recovered lastTs=10 decides: <=gap continues, >gap splits
        byEvent(u * 10 + 2) shouldBe (if (u < 5) 0L else 1L)
      }
    }
  }

  test("streaming daily registers: batching-independent, delta emission bounded per batch") {
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.DayRhoEvent
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val evts = (0 until 2000).map { i =>
      DayRhoEvent(bucket = rnd.nextInt(8).toLong, day = i / 200L, rho = 1L + rnd.nextInt(20))
    }.sortBy(e => (e.day, e.bucket)) // day-ascending ingest contract
    // batch reference: max rho per (day, bucket)
    val expect = evts.groupBy(e => (e.day, e.bucket))
      .map { case ((d, b), es) => (d, b, es.map(_.rho).max) }.toSet
    def run(chunks: Seq[Seq[DayRhoEvent]], sink: String) = {
      val input = MemoryStream[DayRhoEvent]
      val query = StreamingSketch.dailyRegisters(input.toDS())
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      spark.table(sink)
    }
    val one = run(Seq(evts), "dreg_one")
    val many = run(evts.grouped(321).toSeq, "dreg_many")
    def finalRegs(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("day", "bucket").agg(max("reg").as("reg"))
      .as[(Long, Long, Long)].collect().toSet
    finalRegs(one) shouldBe expect
    finalRegs(many) shouldBe expect // batching-independent
    // delta emission: at most one row per (bucket, day) per micro-batch
    val nBatches = (evts.length + 320) / 321
    many.groupBy("day", "bucket").count().as[(Long, Long, Long)].collect()
      .foreach { case (d, b, c) =>
        withClue(s"day=$d bucket=$b: ") { c should be <= nBatches.toLong }
      }
    // a cross-batch day REGRESSION violates the ingest contract and must
    // fail loudly, not silently merge the old day into the newer register
    val input = MemoryStream[DayRhoEvent]
    val query = StreamingSketch.dailyRegisters(input.toDS())
      .writeStream.format("memory").queryName("dreg_bad").outputMode("append").start()
    try {
      input.addData(DayRhoEvent(0L, 5L, 3L)); query.processAllAvailable()
      input.addData(DayRhoEvent(0L, 4L, 9L)) // day went backwards
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
    } finally query.stop()
  }

  test("streaming packing: prefix-stable offsets equal batch p14 under any batching") {
    import graft.streaming.StreamingPacking
    import graft.streaming.StreamingPacking.PackEvent
    implicit val sqlCtx = spark.sqlContext
    val P = 1000000007L
    val seqLen = 32
    val docs = (0L until 400L).map { id =>
      val h = (((id % P) * 2654435761L + 23L) % P + P) % P
      PackEvent(h % 4, id, h, 1L + id % 13)
    }.sortBy(e => (e.h, e.docId)) // the per-shard ingest order contract
    // batch reference: the p14 operator on the same rows
    val df = docs.toSeq.toDF("shard0", "doc_id", "h0", "ntok")
    val expect = graft.operators.Packing.packSequences(
      df, col("doc_id"), col("ntok"), shards = 4, seqLen = seqLen)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    def run(chunks: Seq[Seq[PackEvent]], sink: String): Set[(Long, Long, Long, Long, Long, Long)] = {
      val input = MemoryStream[PackEvent]
      val query = StreamingPacking.pack(input.toDS(), seqLen)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      spark.table(sink)
        .select("docId", "shard", "tokStart", "tokEnd", "firstSeq", "lastSeq")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    }
    run(Seq(docs), "pack_one") shouldBe expect
    run(docs.grouped(71).toSeq, "pack_many") shouldBe expect // batching-independent
    // emission is append-only: every doc appears exactly once
    spark.table("pack_many").count() shouldBe 400L
    // an out-of-order arrival (violating the per-shard (h, id) ingest
    // contract) fails loudly instead of silently mis-assigning offsets
    val input = MemoryStream[PackEvent]
    val query = StreamingPacking.pack(input.toDS(), seqLen)
      .writeStream.format("memory").queryName("pack_bad").outputMode("append").start()
    try {
      // two events of the SAME shard, fed highest-(h, id) first
      val late = docs.last
      val early = docs.find(e => e.shard == late.shard && e.h < late.h).get
      input.addData(late); query.processAllAvailable()
      input.addData(early)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
    } finally query.stop()
  }

  test("StreamingDedupOrdered: deterministic min-(order,id) survivor; range-chunked batching-independent") {
    import graft.streaming.StreamingDedupOrdered
    import graft.streaming.StreamingDedupOrdered.DocEvent
    implicit val sqlCtx = spark.sqlContext
    // duplicate texts with copies inside one batch AND across batches
    val evs = Seq(
      DocEvent("aa", 5L, 50L), DocEvent("aa", 3L, 30L), // same batch: min order wins
      DocEvent("bb", 1L, 10L), DocEvent("cc", 7L, 70L),
      DocEvent("aa", 9L, 90L), DocEvent("bb", 2L, 95L), // later batches: dropped
      DocEvent("dd", 4L, 85L))
    def run(splits: Seq[Seq[DocEvent]], sink: String): Set[(String, Long, Long)] = {
      val input = MemoryStream[DocEvent]
      val query = StreamingDedupOrdered.firstByOrder(input.toDS())
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        splits.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      spark.table(sink).as[(String, Long, Long)].collect().toSet
    }
    // order-range chunking (the st26 ingest contract): all copies with
    // smaller order land no later than larger ones
    val byOrder = evs.sortBy(_.order)
    val a = run(Seq(byOrder.take(4), byOrder.drop(4)), "dd_sink_a")
    val b = run(Seq(byOrder.take(2), byOrder.slice(2, 5), byOrder.drop(5)), "dd_sink_b")
    val expected = Set(("aa", 3L, 30L), ("bb", 1L, 10L), ("cc", 7L, 70L), ("dd", 4L, 85L))
    a shouldBe expected
    b shouldBe expected // same survivors under a different range chunking
    // intra-batch determinism: both copies of "aa" in ONE batch -> the
    // min-(order, id) one survives regardless of partition order
    val c = run(Seq(evs), "dd_sink_c")
    c.filter(_._1 == "aa") shouldBe Set(("aa", 3L, 30L))
  }

  test("streaming incremental dedup: stream-static matches equal the batch operator under any batching") {
    import graft.functions.TextFunctions
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    // snapshot: 1 (dup of new 0), 2, 3; batch (mod 5): 0, 5, 10 —
    // 5~10 is a batch-internal near-dup that the STREAM contract
    // (new x snapshot only) must NOT report, unlike batch d11
    val docs = Seq(
      0L -> base,
      1L -> base.replace("tonight", "today"),
      2L -> "spark catalyst optimizer plans shuffles exchanges and broadcast joins considered",
      3L -> "completely unrelated content about parquet page indexes and bloom filters here",
      5L -> "dictionary encoded column chunks with page level statistics compress very well",
      10L -> "dictionary encoded column chunks with page level statistics compress very nicely"
    ).toDF("doc_id", "text")
    val shingleSet = TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)
    val sets = Dedup.shingleSets(docs, col("doc_id"), shingleSet)
    val bands = Dedup.minHashBandsFromSets(sets)
    val big = bands.groupBy("band", "band_hash").agg(count(lit(1)).as("__bsz"))
      .where(col("__bsz") > 64).select("band", "band_hash")
    val snapB = bands.where(col("doc") % 5 =!= 0)
      .join(big, Seq("band", "band_hash"), "left_anti")
      .select(col("band"), col("band_hash"), col("doc").as("doc_o"))
    val snapSets = sets.where(col("doc") % 5 =!= 0)
      .select(col("doc").as("doc_o"), col("hs").as("hs_o"))
    val newSets = sets.where(col("doc") % 5 === 0)
      .select(col("doc").as("doc_n"), col("hs").as("hs_n"))
    val feedRows = bands.where(col("doc") % 5 === 0)
      .select(col("doc").as("doc_n"), col("band"), col("band_hash"))
      .as[(Long, Int, Long)].collect().toSeq
    def run(chunks: Seq[Seq[(Long, Int, Long)]], sink: String): Set[(Long, Long)] = {
      val input = MemoryStream[(Long, Int, Long)]
      val query = input.toDF().toDF("doc_n", "band", "band_hash")
        .join(big, Seq("band", "band_hash"), "left_anti")
        .join(snapB, Seq("band", "band_hash"))
        .join(newSets, Seq("doc_n"))
        .join(snapSets, Seq("doc_o"))
        .withColumn("j_num", org.apache.spark.sql.functions.size(array_intersect(col("hs_n"), col("hs_o"))).cast("long"))
        .withColumn("j_den", (org.apache.spark.sql.functions.size(col("hs_n")) + org.apache.spark.sql.functions.size(col("hs_o"))).cast("long") - col("j_num"))
        .where(col("j_num") * 2 >= col("j_den") * 1)
        .select(col("doc_n"), col("doc_o"))
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        chunks.foreach { c => input.addData(c); query.processAllAvailable() }
      } finally query.stop()
      spark.table(sink).as[(Long, Long)].collect().toSet // set: dup emissions collapse
    }
    // batch reference: the d11 operator restricted to the stream's
    // new x snapshot contract
    val ref = Dedup.incrementalNearDupPairs(sets, bands, _ % 5 === 0, 1, 2)
      .where(col("doc_o") % 5 =!= 0)
      .select("doc_n", "doc_o").as[(Long, Long)].collect().toSet
    ref shouldBe Set((0L, 1L)) // 5~10 is batch-internal — excluded by the filter
    val one = run(Seq(feedRows), "st27_spec_a")
    val many = run(feedRows.grouped(math.max(1, feedRows.size / 3)).toSeq, "st27_spec_b")
    one shouldBe ref
    many shouldBe ref // stateless stream-static: any batching, same matches
  }
}
