package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.GreedyClustering.Params
import graft.streaming.StreamingClustering
import graft.streaming.StreamingClustering.MentionEvent

/** Structured Streaming query entry: the greedy clusterer runs as a real
  * streaming query (file source → flatMapGroupsWithState →
  * memory sink, three micro-batches), and its output is hash-checked
  * against the same recursive-CTE oracle as the batch g1 — the driver
  * gate proves streaming/batch/SQL three-way agreement.
  */
object QueriesStreaming {
  import QueriesRelational.Q

  // State stores per micro-batch = shuffle partitions: at the harness's
  // data sizes 32 partitions means mostly EMPTY stores whose checkpoint
  // upkeep dominates wall time, and results are partition-invariant
  // (every query orders its output). Round-6 A/B at sf0.1 under the
  // repaired median protocol: st-family 23.4 s at 4 vs 25.6 s at 2 —
  // the round-4 choice of 4 stands (and keeps the plans genuinely
  // distributed).
  private[graft] val StP = 4

  // Ingest staging root: tmpfs when available (the same choice the
  // bench makes for checkpoints) — these are throwaway per-run feeds,
  // and the measured path should time the STREAM, not /tmp disk flushes.
  private[graft] def ingestRoot: Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.toPath
    else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Delete `d` and everything under it, deepest entries first. */
  private[graft] def rmRf(d: Path): Unit = {
    val walk = Files.walk(d)
    try walk.iterator().asScala.toList.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Single-source [[fileIngest]]: one chunk list feeding one query. */
  private[graft] def fileIngest(s: SparkSession, chunks: Seq[DataFrame],
                                cache: Seq[DataFrame] = Nil)
                               (start: DataFrame => StreamingQuery): Unit =
    fileIngest(s, Seq(chunks), cache)(in => Seq(start(in.head)))

  /** The ingest protocol every streaming twin replays its input through:
    * each chunk DataFrame is written executor-side as parquet (never a
    * driver collect) and renamed into a directory a FILE SOURCE
    * watches, then the queries drain with processAllAvailable — one
    * chunk = one micro-batch, and the measured stream READS FILES, the
    * honest 100 TB ingest shape. MemoryStream twins remain in
    * StreamingSpec for the batching-independence properties.
    *
    * `sides` holds one chunk list per file source, all of one length.
    * `start` receives one streaming DataFrame per side (schema = that
    * side's head chunk) and returns its STARTED queries. Chunk i of
    * every side lands before drain i, so aligned sides advance their
    * watermarks together (what lets a stream-stream join evict state
    * live), and each drain runs the queries in the order returned, so a
    * query reading another's sink sees that chunk's output in the same
    * drain. FileStreamSource ignores `_`-prefixed files, so parquet's
    * _SUCCESS markers never enter a batch; with no maxFilesPerTrigger
    * every file renamed in since the last drain lands in one batch.
    *
    * The whole body runs at [[StP]] shuffle partitions, and on the
    * RocksDB state store when the session conf sets
    * `spark.graft.stateStore=rocksdb` (the HDFS-backed in-memory
    * provider otherwise — at 100 TB state RocksDB is the production
    * choice: state spills to local disk, checkpoints are incremental;
    * outputs are provider-invariant, StreamingSpec runs st17 under
    * both). Streams capture both settings at start; both are restored
    * on exit. `cache` lists the chunks' shared prep, persisted so the
    * chunk writes don't each recompute it. The helper stops every query
    * and deletes its ingest dirs before returning, also on failure.
    * (The DummyImplicit only keeps this overload distinct from the
    * single-source one after erasure.)
    */
  private[graft] def fileIngest(s: SparkSession, sides: Seq[Seq[DataFrame]],
                                cache: Seq[DataFrame])
                               (start: Seq[DataFrame] => Seq[StreamingQuery])
                               (implicit d: DummyImplicit): Unit = {
    require(sides.nonEmpty && sides.forall(_.length == sides.head.length),
      "fileIngest: chunk lists must align")
    // a pre-existing column of the staging tag's name would be silently
    // REPLACED by withColumn and then stripped from the file contents
    // by partitionBy — fail loudly instead, on any chunk of any side
    val tag = "__graft_chunk"
    require(sides.flatten.forall(!_.columns.contains(tag)),
      s"fileIngest: a chunk schema already has a '$tag' column")
    val rocks = s.conf.getOption("spark.graft.stateStore").exists(_.equalsIgnoreCase("rocksdb"))
    val settings = Seq("spark.sql.shuffle.partitions" -> StP.toString) ++
      (if (rocks) Seq("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
       else Nil)
    val saved = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    val root = Files.createTempDirectory(ingestRoot, "graft-ingest-")
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      cache.foreach(_.persist())
      // each source watches one level of chunk SUBDIRECTORIES (glob):
      // a chunk is written to a staging dir and atomically RENAMED into
      // the watched tree, so the continuously-polling source can never
      // list a chunk mid-job-commit and split it across two
      // micro-batches — which would both break one-chunk-one-batch and
      // (for order-contract operators like the pack) leak commit order
      // as arrival order
      val watched = sides.indices.map(k => Files.createDirectory(root.resolve(s"in-$k")))
      val staging = sides.indices.map(k => root.resolve(s"staging-$k"))
      val queries = start(sides.zip(watched).map { case (chunks, dir) =>
        s.readStream.schema(chunks.head.schema).parquet(dir.toString + "/*")
      })
      try {
        // PRE-STAGE every chunk of a side in ONE partitionBy write job
        // (one job per chunk cost ~0.2-0.45 s of harness tax per chunk
        // at sf0.1); the sides' jobs run concurrently. The per-chunk
        // coalesce runs BEFORE the union, so union partition provenance
        // pins every task to one chunk dir, and the tag never appears
        // in the file contents.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val writes = sides.zip(staging).map { case (chunks, stag) =>
          Future {
            chunks.zipWithIndex
              .map { case (c, i) => c.coalesce(StP).withColumn(tag, lit(i)) }
              .reduce(_.unionByName(_))
              .write.mode("overwrite").partitionBy(tag).parquet(stag.toString)
          }
        }
        writes.map(Await.ready(_, Duration.Inf).value.get).foreach(_.get)
        sides.head.indices.foreach { i =>
          staging.zip(watched).foreach { case (stag, dir) =>
            // an all-empty chunk writes no partition dir: nothing new
            // for this batch, the same as a chunk of _SUCCESS only
            val p = stag.resolve(s"$tag=$i")
            if (Files.isDirectory(p)) Files.move(p, dir.resolve(s"chunk-$i"))
          }
          queries.foreach(_.processAllAvailable())
        }
      } finally queries.foreach(_.stop())
    } finally {
      cache.foreach(_.unpersist(blocking = false))
      rmRf(root)
      saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }
  }

  /** Cut `df` into `n` VALUE-RANGE chunks on long column `ord`:
    * ascending across chunks and equal values never split — exactly the
    * cross-batch arrival contract of the order-sensitive streaming
    * operators (each re-sorts within a batch, so the range cut is all
    * that's needed). The min/max probe is a bounded two-scalar
    * aggregate (the allowlisted driver-side-constant shape), never a
    * row materialization; hash-distributed columns split evenly, dense
    * ids nearly so, and uneven chunks only skew micro-batch sizes.
    */
  private[graft] def rangeChunks(df: DataFrame, ord: String,
                                 n: Int = 3): Seq[DataFrame] = {
    val r = df.agg(min(col(ord)), max(col(ord))).head()
    require(!r.isNullAt(0), s"rangeChunks: empty input (no $ord values)")
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val step = math.max(1L, (hi - lo) / n + 1)
    (0 until n).map { i =>
      val a = lo + i * step
      val b = lo + (i + 1) * step
      if (i == n - 1) df.where(col(ord) >= a)
      else df.where(col(ord) >= a && col(ord) < b)
    }
  }

  private val Theta = 0.25
  private val Dim = 64
  private val N = 50L

  val st1StreamingGreedy: Q = (s, dir) => {
    import s.implicits._
    // file-source ingest (fileIngest): greedy clustering is arrival-
    // order-dependent, so chunks are vec_id RANGES — ascending across
    // micro-batches, and the operator re-sorts by `order` within one —
    // reproducing the batch g1 arrival order exactly.
    val events = Tables.load(s, dir, "embeddings")
      .where(col("vec_id") < N)
      .select(lit(0L).as("key"), col("vec_id").as("id"),
        col("vec_id").as("order"), col("embedding").as("vec"))
    val chunks = rangeChunks(events, "order")

    fileIngest(s, chunks, cache = Seq(events)) { stream =>
      StreamingClustering.greedyCluster(
        stream.as[MentionEvent],
        Params("backwards", limit = -1, threshold = Theta, cosine = true))
        .writeStream.format("memory").queryName("st1_sink").outputMode("append").start()
    }

    s.table("st1_sink")
      .select(col("id").as("vec_id"), col("predCluster").as("pred_cluster"))
      .orderBy("vec_id")
  }

  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $Dim), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"

  private def sqlNorm(a: String): String =
    s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $Dim), " +
      s"i -> $a[i]::DOUBLE * $a[i]::DOUBLE)), (acc, x) -> acc + x))"

  val st1StreamingGreedySql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm
       |  FROM embeddings WHERE vec_id < $N),
       |p AS (
       |  SELECT j.vec_id AS j,
       |         coalesce(max(CASE WHEN ${sqlDot("i.embedding", "j.embedding")} / (i.nrm * j.nrm) > $Theta
       |                          THEN i.vec_id END), j.vec_id) AS parent
       |  FROM e j LEFT JOIN e i ON i.vec_id < j.vec_id
       |  GROUP BY j.vec_id),
       |r(j, cur) AS (
       |  SELECT j, j FROM p
       |  UNION ALL
       |  SELECT r.j, p.parent FROM r JOIN p ON r.cur = p.j WHERE p.parent <> r.cur)
       |SELECT j AS vec_id, min(cur) AS pred_cluster FROM r GROUP BY j ORDER BY vec_id""".stripMargin

  /** st2 — GRINCH as a real streaming query (three micro-batches through
    * flatMapGroupsWithState, replay-log state): the final (max-step)
    * assignment per point. Rows-only like batch h1 — the tree automaton
    * has no SQL form; streaming==batch parity is pinned in StreamingSpec
    * against the reference-pinned golden fixture.
    */
  val st2StreamingGrinch: Q = (s, dir) => {
    import s.implicits._
    import graft.streaming.StreamingGrinch
    import graft.streaming.StreamingGrinch.PointEvent
    // file-source ingest; GRINCH is insertion-order-dependent, so
    // vec_id RANGE chunks keep arrivals ascending across micro-batches
    val events = Tables.load(s, dir, "embeddings")
      .where(col("vec_id") < N)
      .select(lit(0L).as("key"), col("vec_id").as("id"),
        col("vec_id").as("order"), col("embedding").as("vec"))
    val chunks = rangeChunks(events, "order")

    fileIngest(s, chunks, cache = Seq(events)) { stream =>
      StreamingGrinch.flatCluster(
        stream.as[PointEvent],
        graft.operators.Grinch.Params(sim = "dot", norm = "l2"), threshold = Theta)
        .writeStream.format("memory").queryName("st2_sink").outputMode("append").start()
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("step").desc)
    s.table("st2_sink")
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("id").as("vec_id"), col("predCluster").as("pred_cluster"))
      .orderBy("vec_id")
  }

  /** st3 — dynamic entity vocabulary as a real streaming query: codes
    * append across three micro-batches (`meercat/utils.py:46-51`), and
    * the result hash-matches the BATCH first-occurrence dict encoding
    * in SQL — streaming/batch/oracle three-way agreement like st1.
    */
  val st3StreamingVocab: Q = (s, dir) => {
    import s.implicits._
    import graft.streaming.StreamingVocab
    import graft.streaming.StreamingVocab.TokenEvent
    // file-source ingest; first-occurrence coding is order-dependent,
    // so chunks are event_id (= `order`) RANGES
    val events = Tables.load(s, dir, "events")
      .where(col("user_id") < 50)
      .select(lit(0L).as("key"), col("event_id").as("order"),
        col("user_id").cast("string").as("entity"))
    val chunks = rangeChunks(events, "order")

    fileIngest(s, chunks, cache = Seq(events)) { stream =>
      StreamingVocab.dictEncode(stream.as[TokenEvent])
        .writeStream.format("memory").queryName("st3_sink").outputMode("append").start()
    }

    s.table("st3_sink")
      .select(col("order").as("ord"), col("entity"), col("code"))
      .orderBy("ord")
  }

  val st3StreamingVocabSql: String =
    """WITH base AS (
      |  SELECT event_id AS ord, cast(user_id AS VARCHAR) AS entity
      |  FROM events WHERE user_id < 50),
      |fo AS (SELECT entity, min(ord) AS first_seen FROM base GROUP BY entity),
      |codes AS (SELECT entity, dense_rank() OVER (ORDER BY first_seen) - 1 AS code FROM fo)
      |SELECT ord, entity, code FROM base JOIN codes USING (entity) ORDER BY ord""".stripMargin

  /** st4 — watermarked tumbling-window event aggregation as a real
    * streaming query: ts-ascending micro-batches (so nothing is
    * late-dropped), a far-future sentinel flushes the final windows
    * past the watermark, and the Append-mode output hash-matches the
    * batch GROUP BY oracle — the event-time analytics twin of w1.
    * Cents stay integer (exact sum); the ns→µs timestamp floor cannot
    * cross an hour boundary, so buckets agree with the ns oracle.
    */
  val st4StreamingWindows: Q = (s, dir) => {
    import s.implicits._
    import graft.streaming.StreamingAnalytics
    // file-source ingest; event-time chunks are ts RANGES so watermarks
    // only advance (nothing late-dropped), and the far-future sentinel
    // rides in the last chunk to flush the final windows. Catalyst
    // timestamps are µs — timestamp_micros(ns div 1000) is exactly the
    // ns→µs floor the old driver-side Timestamp construction produced.
    val base = Tables.load(s, dir, "events")
      .where(col("user_id") < 30)
      .select(col("ts").cast("long").as("ns"), col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    // bounded scalar probe (the sentinel needs the max event time)
    val maxNs = base.agg(max(col("ns"))).head().getLong(0)
    def toTs(c: DataFrame) =
      // integer div — a double roundtrip would lose ns precision (ns
      // epoch values exceed double's 53-bit exact-integer range)
      c.select(timestamp_micros(expr("ns div 1000")).as("ts"),
        col("event_type"), col("cents"))
    val sentinel = Seq((maxNs / 1000L + 86400L * 1000000L, "___flush", 0L))
      .toDF("us", "event_type", "cents")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"), col("cents"))
    val cuts = rangeChunks(base, "ns").map(toTs)
    val chunks = cuts.init :+ cuts.last.unionAll(sentinel)

    fileIngest(s, chunks, cache = Seq(base)) { stream =>
      StreamingAnalytics.windowedEventStats(
        stream, col("ts"), col("event_type"), col("cents"),
        window = "1 hour", slide = "1 hour", watermark = "1 minute")
        .writeStream.format("memory").queryName("st4_sink").outputMode("append").start()
    }

    s.table("st4_sink")
      .where(col("key") =!= "___flush")
      .select((col("win_start").cast("long") / 3600L).cast("long").as("hour_bucket"),
        col("key").as("event_type"), col("n_events"), col("total").as("total_cents"))
      .orderBy("hour_bucket", "event_type")
  }

  val st4StreamingWindowsSql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
      |       count(*) AS n_events,
      |       cast(sum(cast(round(value*100, 0) as bigint)) as bigint) AS total_cents
      |FROM events WHERE user_id < 30
      |GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin

  /** st5 — streaming exact dedup: Structured Streaming's stateful
    * `dropDuplicates` keeps the first arrival per text across
    * micro-batches (the d1 operator's streaming twin; state is one
    * entry per DISTINCT text). Output is the deduped text-hash set —
    * survivor identity within a duplicate group is arrival-order
    * detail, the retained KEY set is deterministic and oracle-exact.
    */
  val st5StreamingDedup: Q = (s, dir) => {
    // file-source ingest; the retained KEY set of stateful
    // dropDuplicates is arrival-order-independent, so id-keyed chunks
    val base = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val chunks = (0 until 3).map(i =>
      base.where(pmod(col("doc_id"), lit(3)) === i))

    fileIngest(s, chunks, cache = Seq(base)) { stream =>
      stream
        .dropDuplicates("text")
        .select(graft.functions.TextFunctions.stringHash(col("text")).as("text_hash"))
        .writeStream.format("memory").queryName("st5_sink").outputMode("append").start()
    }

    s.table("st5_sink").orderBy("text_hash")
  }

  val st5StreamingDedupSql: String = {
    val P = graft.functions.TextFunctions.P
    s"""SELECT DISTINCT list_reduce(list_prepend(0::BIGINT,
       |  list_transform(generate_series(1, length(text)),
       |    ci -> ascii(substring(text, ci, 1))::BIGINT)),
       |  (acc, x) -> (acc*31 + x) % $P) AS text_hash
       |FROM documents ORDER BY text_hash""".stripMargin
  }

  /** st7 — the BOUNDED-memory streaming clusterer: diversity-cache
    * eviction (store of 50) through three micro-batches; the identical
    * state machine as batch g3, so it hash-matches g3's
    * store-replaying recursive-CTE oracle — streaming + eviction =
    * batch = SQL.
    */
  val st7StreamingDiversityCache: Q = (s, dir) => {
    import s.implicits._
    // file-source ingest; eviction makes the state machine arrival-
    // order-dependent, so chunks are vec_id RANGES (ascending across
    // batches, re-sorted within — the batch g3 arrival order)
    val events = Tables.load(s, dir, "embeddings")
      .select(lit(0L).as("key"), col("vec_id").as("id"),
        col("vec_id").as("order"), col("embedding").as("vec"))
    val chunks = rangeChunks(events, "order")

    fileIngest(s, chunks, cache = Seq(events)) { stream =>
      StreamingClustering.greedyCluster(
        stream.as[MentionEvent],
        Params("diversity-cache", limit = 50, threshold = Theta, cosine = true))
        .writeStream.format("memory").queryName("st7_sink").outputMode("append").start()
    }

    s.table("st7_sink")
      .select(col("id").as("vec_id"), col("predCluster").as("pred_cluster"))
      .orderBy("vec_id")
  }

  /** st9 — sessionization as a real streaming query: per-user (lastTs,
    * sessionIdx) state through three ts-ordered micro-batches. Session
    * ids are prefix-stable, so the appended stream equals the batch
    * window recompute and st9 hash-matches w2's SQL oracle —
    * streaming = batch = SQL for the event-analytics pack too.
    */
  val st9StreamingSessions: Q = (s, dir) => {
    import s.implicits._
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.SessionEvent
    // file-source ingest; session ids are prefix-stable under
    // ts-ascending arrival, so chunks are ts RANGES (the operator
    // re-sorts by (ts, eventId) within a batch)
    val events = Tables.load(s, dir, "events")
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("ts").cast("long").as("ts"))
    val chunks = rangeChunks(events, "ts")

    fileIngest(s, chunks, cache = Seq(events)) { stream =>
      StreamingSessions.sessionize(stream.as[SessionEvent], gapNs = 3600L * 1000000000L)
        .writeStream.format("memory").queryName("st9_sink").outputMode("append").start()
    }

    s.table("st9_sink")
      .select(col("eventId").as("event_id"), col("userId").as("user_id"),
        col("sessionId").as("session_id"))
      .orderBy("event_id")
  }

  /** st10 — the deterministic HLL sketch as a real streaming query:
    * per-event-type registers (BOUNDED state) fold across three
    * micro-batches; max-per-register merge is order-independent, so the
    * final estimate equals batch k2 and hash-matches the same sketch
    * SQL. The mod-p hash mix runs relationally before the stream feed.
    */
  val st10StreamingHll: Q = (s, dir) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.HashEvent
    val P = 1000000007L
    // file-source ingest; max-per-register merge is order-independent,
    // so id-keyed chunks. The mod-p hash mix runs relationally.
    val rows = Tables.load(s, dir, "events")
      // reduce mod P before the multiply (overflow/sign guard, = batch k2)
      .withColumn("h0", ((((col("user_id") % P) + P) % P) * 2654435761L + 12345L) % P)
      .withColumn("h1", (col("h0") * col("h0") + 17L) % P)
      .withColumn("hv", (col("h1") * col("h1") + col("h1") + 3L) % P)
      .select(col("event_type").as("key"), col("hv"), col("event_id"))
    val chunks = (0 until 3).map(i =>
      rows.where(pmod(col("event_id"), lit(3)) === i).drop("event_id"))

    fileIngest(s, chunks, cache = Seq(rows)) { stream =>
      StreamingSketch.hllDistinct(stream.as[HashEvent])
        .writeStream.format("memory").queryName("st10_sink").outputMode("append").start()
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("step").desc)
    s.table("st10_sink")
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("key").as("event_type"), col("hllEst").as("hll_est"))
      .orderBy("event_type")
  }

  /** Shared st11/st12/st13 harness: quantize a vec_id slice of the
    * embeddings table exactly like the batch twin (one global scale,
    * integer rounding), drive the replay-log automaton through three
    * micro-batches — each re-emitting the full current tree — and read
    * back the max-step rows with labels joined. By construction those
    * rows equal the batch tree, so each twin hash-matches its batch
    * query's recursive-CTE oracle.
    */
  private def streamingGrinchTwin(s: SparkSession, dir: String,
      sinkName: String, rowFilter: org.apache.spark.sql.Column, dim: Option[Int],
      scaleDiv: Double, p: graft.operators.Grinch.Params): DataFrame = {
    import s.implicits._
    import graft.streaming.StreamingGrinch
    import graft.streaming.StreamingGrinch.PointEvent
    // same quantization builder as the batch h5/h7/h8/h9 queries —
    // twin/batch input parity is by construction (see quantizedSlice).
    // leaf uid = stream position in vec_id order (insertion order, like
    // the batch run), computed DISTRIBUTEDLY via globalRowIndex; the
    // file-source chunks are pos RANGES because GRINCH is insertion-
    // order-dependent (ascending across batches, re-sorted within).
    val posed = graft.operators.Relational.globalRowIndex(
      QueriesGrinch.quantizedSlice(s, dir, rowFilter, dim, scaleDiv)
        .select(col("vec_id"), col("q"), col("label").cast("string").as("label")),
      Seq(col("vec_id")), "pos")
    val events = posed.select(lit(0L).as("key"), col("pos").as("id"),
      col("pos").as("order"), expr("transform(q, x -> cast(x as float))").as("vec"))
    val chunks = rangeChunks(events, "order")

    fileIngest(s, chunks, cache = Seq(posed)) { stream =>
      StreamingGrinch.dendrogram(stream.as[PointEvent], p)
        .writeStream.format("memory").queryName(sinkName).outputMode("append").start()
    }

    val labels = posed.select(col("pos").as("luid"), col("label").as("llabel"))
    // final-batch snapshot (global max step), NOT per-uid max: each
    // batch re-emits the full current tree, and under graft configs a
    // slot lazily deleted between batches would otherwise survive as a
    // stale max-step row. For graft-free configs the two selections
    // are identical (every live uid is re-emitted in the final batch).
    val maxStep = s.table(sinkName).agg(max(col("step"))).collect()(0).getLong(0)
    s.table(sinkName).where(col("step") === maxStep)
      .join(labels, col("uid") === col("luid"), "left")
      .select(col("uid"), col("parentUid").as("parent_uid"), col("llabel").as("label"))
      .orderBy("uid")
  }

  /** st11 — the h5 integer-GRINCH dendrogram as a real streaming query:
    * streaming/batch/SQL three-way agreement for the tree family, not
    * just its flat cuts (hash-matches h5's closed-form SQL oracle).
    */
  val st11StreamingGrinchTree: Q = (s, dir) =>
    streamingGrinchTwin(s, dir, "st11_sink",
      col("vec_id") < QueriesGrinch.H5N, dim = None, scaleDiv = 127.0,
      QueriesGrinch.IntP)

  /** st12 — the h7 ROTATE-ENABLED integer-GRINCH dendrogram as a real
    * streaming query: the insertion-log state replays the automaton per
    * micro-batch, so the max-step rows equal the batch h7 tree by
    * construction and hash-match h7's recursive-CTE rotate-replay
    * oracle — the rotate path gets the same streaming/batch/SQL
    * three-way agreement st11 gives the restricted config.
    */
  val st12StreamingGrinchRotate: Q = (s, dir) =>
    // minRotations=0: the per-micro-batch replay also builds short
    // prefixes, which may legitimately not rotate yet — the batch h7
    // run asserts rotation on the full dataset
    streamingGrinchTwin(s, dir, "st12_sink",
      col("vec_id") < QueriesGrinch.H7N, dim = Some(QueriesGrinch.H7Dim),
      scaleDiv = 127.0, QueriesGrinch.RotP.copy(minRotations = 0))

  /** st13 — the h8 PRUNE-ENABLED integer-GRINCH dendrogram as a real
    * streaming query: same insertion-log state replay as st11/st12, so
    * the max-step rows equal the batch h8 tree by construction and
    * hash-match h8's all-integer recursive-CTE prune-replay oracle —
    * closing the streaming/batch/SQL three-way agreement for the
    * memory-bound path (`grinch_alg.py:389-413`) as well.
    */
  val st13StreamingGrinchPrune: Q = (s, dir) =>
    // minPrunes=0: short micro-batch prefixes may legitimately stay
    // under the leaf limit — the batch h8 run asserts pruning on the
    // full dataset
    streamingGrinchTwin(s, dir, "st13_sink",
      col("vec_id") >= QueriesGrinch.H8Off &&
        col("vec_id") < QueriesGrinch.H8Off + QueriesGrinch.H8N,
      dim = Some(QueriesGrinch.H8Dim), scaleDiv = 63.0,
      QueriesGrinch.PruneP.copy(minPrunes = 0))

  val st14StreamingGrinchGraft: Q = (s, dir) =>
    // minGrafts=0: short micro-batch prefixes may legitimately not
    // graft yet — the batch h9 run asserts grafting on the full dataset
    streamingGrinchTwin(s, dir, "st14_sink",
      col("vec_id") >= QueriesGrinch.H9Off &&
        col("vec_id") < QueriesGrinch.H9Off + QueriesGrinch.H9N,
      dim = Some(QueriesGrinch.H9Dim), scaleDiv = 63.0,
      QueriesGrinch.GraftP.copy(minGrafts = 0))

  /** st15 — the h10 threshold CUT (C18) as a real streaming query: the
    * same graft-config insertion-log replay as st14, but emitting each
    * micro-batch's refreshed flat clustering (StreamingGrinch
    * .flatCluster) instead of the tree relation. The final batch's
    * assignment is the batch h10 cut by construction; cluster labels
    * are canonicalized to the minimum member vec_id exactly like the
    * batch query (BFS discovery numbering depends on children-list
    * order), so st15 hash-matches the SAME cut-CTE oracle — the cut
    * path gets the full streaming/batch/SQL three-way agreement the
    * surgery configs have.
    */
  val st15StreamingGrinchCut: Q = (s, dir) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingGrinch
    import graft.streaming.StreamingGrinch.PointEvent
    // distributed pos assignment + pos-RANGE file chunks, as in
    // streamingGrinchTwin (insertion-order-dependent automaton)
    val posed = graft.operators.Relational.globalRowIndex(
      QueriesGrinch.quantizedSlice(s, dir,
        col("vec_id") >= QueriesGrinch.H9Off &&
          col("vec_id") < QueriesGrinch.H9Off + QueriesGrinch.H9N,
        Some(QueriesGrinch.H9Dim), 63.0)
        .select(col("vec_id"), col("q")),
      Seq(col("vec_id")), "pos")
    val events = posed.select(lit(0L).as("key"), col("pos").as("id"),
      col("pos").as("order"), expr("transform(q, x -> cast(x as float))").as("vec"))
    val chunks = rangeChunks(events, "order")

    fileIngest(s, chunks, cache = Seq(posed)) { stream =>
      StreamingGrinch.flatCluster(stream.as[PointEvent],
        QueriesGrinch.GraftP.copy(minGrafts = 0), QueriesGrinch.H10Theta)
        .writeStream.format("memory").queryName("st15_sink").outputMode("append").start()
    }

    val vecIds = posed.select(col("pos").as("pid"), col("vec_id"))
    // final-batch snapshot (global max step): flatCluster re-emits the
    // full assignment each batch, and earlier steps may reflect
    // pre-graft memberships
    val maxStep = s.table("st15_sink").agg(max(col("step"))).collect()(0).getLong(0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("predCluster")
    s.table("st15_sink").where(col("step") === maxStep)
      .join(vecIds, col("id") === col("pid"))
      .withColumn("cluster", min("vec_id").over(w))
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy("vec_id")
  }

  /** st16 — the h11 MEMORY-BOUNDED cut as a real streaming query: the
    * prune-config twin of st15 (same insertion-log replay as st13,
    * flat-clustering emission, min-member canonical labels), hash-
    * matching h11's final-state cut oracle — so both cut paths, plain
    * and memory-bounded, carry the full streaming/batch/SQL agreement.
    */
  val st16StreamingGrinchPruneCut: Q = (s, dir) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingGrinch
    import graft.streaming.StreamingGrinch.PointEvent
    // distributed pos assignment + pos-RANGE file chunks, as in st15
    val posed = graft.operators.Relational.globalRowIndex(
      QueriesGrinch.quantizedSlice(s, dir,
        col("vec_id") >= QueriesGrinch.H8Off &&
          col("vec_id") < QueriesGrinch.H8Off + QueriesGrinch.H8N,
        Some(QueriesGrinch.H8Dim), 63.0)
        .select(col("vec_id"), col("q")),
      Seq(col("vec_id")), "pos")
    val events = posed.select(lit(0L).as("key"), col("pos").as("id"),
      col("pos").as("order"), expr("transform(q, x -> cast(x as float))").as("vec"))
    val chunks = rangeChunks(events, "order")

    fileIngest(s, chunks, cache = Seq(posed)) { stream =>
      StreamingGrinch.flatCluster(stream.as[PointEvent],
        QueriesGrinch.PruneP.copy(minPrunes = 0), QueriesGrinch.H11Theta)
        .writeStream.format("memory").queryName("st16_sink").outputMode("append").start()
    }

    val vecIds = posed.select(col("pos").as("pid"), col("vec_id"))
    val maxStep = s.table("st16_sink").agg(max(col("step"))).collect()(0).getLong(0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("predCluster")
    s.table("st16_sink").where(col("step") === maxStep)
      .join(vecIds, col("id") === col("pid"))
      .withColumn("cluster", min("vec_id").over(w))
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy("vec_id")
  }

  /** st17 — k3's Count-Min sketch as a real streaming query (the
    * frequency sibling of st10's streaming HLL): ONE stream folds both
    * counter families as keyed increment state — the 4×512 grid under
    * non-negative keys `d*w + c` (bounded by the grid, not the stream;
    * only touched cells emit per batch) and exact per-user counts
    * (st9-style bounded-per-key state) under sign-tagged keys
    * `-(user+1)`, so the harness tax is paid once. The final snapshots
    * assemble k3's exact output — probe the grid at the user's 4
    * cells, take the least, top-5 by (estimate desc, user) — so the
    * twin hash-matches the same k3 SQL oracle. Cell positions are
    * computed relationally with the SAME shared cmsPos columns the
    * batch build uses.
    */
  val st17StreamingCms: Q = (s, dir) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.IncEvent
    import QueriesRelational.{CmsW, CmsProbes, cmsPos}
    val ev = Tables.load(s, dir, "events").select(col("user_id"), col("event_id"))
    val keyCols = CmsProbes.zipWithIndex.map { case ((a, b), i) =>
      lit(i.toLong) * lit(CmsW) + cmsPos(col("user_id"), a, b)
    } :+ (-(col("user_id") + 1L)).cast("long")
    // file-source ingest; counter addition is order-independent, so
    // id-keyed chunks (all of one event's cells stay together)
    val feed = ev.select(col("event_id"), explode(array(keyCols: _*)).as("cell"))
    val chunks = (0 until 3).map(i =>
      feed.where(pmod(col("event_id"), lit(3)) === i).select("cell"))

    fileIngest(s, chunks, cache = Seq(feed)) { stream =>
      StreamingSketch.runningCounts(stream.as[IncEvent])
        .writeStream.format("memory").queryName("st17_sink").outputMode("append").start()
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("step").desc)
    val latest = s.table("st17_sink")
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("cell"), col("count"))
    val users = latest.where(col("cell") < 0)
      .select((-col("cell") - 1L).as("user_id"), col("count").as("exact_n"))
    val probed = CmsProbes.zipWithIndex.foldLeft(users) { case (df, ((a, b), i)) =>
      val grid = broadcast(latest.where(col("cell") >= 0)
        .select(col("cell").as(s"cell$i"), col("count").as(s"n$i")))
      df.join(grid, lit(i.toLong) * lit(CmsW) + cmsPos(col("user_id"), a, b) === col(s"cell$i"))
    }
    probed
      .withColumn("cms_n", least(CmsProbes.indices.map(i => col(s"n$i")): _*).cast("long"))
      .select(col("user_id"), col("cms_n"), col("exact_n").cast("long").as("exact_n"))
      .orderBy(col("cms_n").desc, col("user_id")).limit(5)
  }

  /** st18 — k4's exact histogram quantiles as a real streaming query
    * (completing the k-family twins: k2→st10, k3→st17, k4→st18): each
    * document contributes ONE keyed increment under its token count, so
    * the per-key counter state IS the value histogram — bounded by the
    * value domain (a document length), not the stream — and counter
    * addition is order- and batching-independent. The final snapshot
    * (max step per cell) feeds the SAME histogram→percentile assembly
    * the batch k4 uses ([[graft.operators.Quantiles
    * .quantilesFromHistogram]]), so the twin hash-matches k4's oracle.
    */
  val st18StreamingQuantiles: Q = (s, dir) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.IncEvent
    // file-source ingest; histogram-counter addition is
    // order-independent, so id-keyed chunks
    val feed = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("cell"))
    val chunks = (0 until 3).map(i =>
      feed.where(pmod(col("doc_id"), lit(3)) === i).select("cell"))

    fileIngest(s, chunks, cache = Seq(feed)) { stream =>
      StreamingSketch.runningCounts(stream.as[IncEvent])
        .writeStream.format("memory").queryName("st18_sink").outputMode("append").start()
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("step").desc)
    val hist = s.table("st18_sink")
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("cell").as("v"), col("count").as("c"))
    graft.operators.Quantiles.quantilesFromHistogram(
      s, hist, QueriesText.k4Pcts, "n_tokens")
  }

  /** st19 — the range join (j6) as a LIVE stream-stream event-time
    * interval join: probe events and 10-minute error windows arrive as
    * two separate ts-ascending streams, joined by Spark's native
    * StreamingSymmetricHashJoin. Spark rejects stream-stream joins
    * without an equality key, so the batch bucketization supplies one
    * (windows explode to their ≤ 2 epoch buckets, state is keyed on
    * the bucket) with `w_start <= ev_ts < w_start + 10min` residual
    * and 1-minute watermarks on both sides — the two-sided time bound
    * is what lets Spark evict join state as the watermarks advance
    * (bounded state, the 100 TB requirement), and inner-join pairs
    * emit in their arrival micro-batch. Timestamps are µs-truncated
    * (the j6/j7 cross-engine convention), cents integer, so the pair
    * set hash-matches the batch range-join oracle exactly.
    */
  val st19StreamingRangeJoin: Q = (s, dir) => {
    import graft.streaming.StreamingAnalytics
    // fixed user subset (the st4 convention): the twin pins semantics
    // on a bounded slice while the batch j6 covers the full corpus.
    // File-source ingest on BOTH sides (two-source fileIngest): chunks are ts
    // RANGES cut at the same ns boundary on both streams, so the
    // time-aligned arrival that lets the join evict state live is by
    // construction (a window can never be evicted before its probe
    // rows: eviction needs watermark > w_start + 10min + delay, and
    // any later-arriving match would have ts past that watermark).
    // timestamp_micros(ns div 1000) = the µs truncation the j6/j7
    // cross-engine convention uses.
    val evBase = Tables.load(s, dir, "events").where(col("user_id") < 300)
      .select(col("event_id"), col("ts").cast("long").as("ns"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    val winBase = Tables.load(s, dir, "events")
      .where(col("event_type") === "error" && col("user_id") < 300)
      .select(col("event_id").as("win_id"), col("ts").cast("long").as("ns"))
    // shared cut from the probe side's span (a superset of the error
    // subset's span) — bounded two-scalar probe
    val r = evBase.agg(min(col("ns")), max(col("ns"))).head()
    val cut = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2 + 1
    def halves(df: DataFrame) =
      Seq(df.where(col("ns") < cut), df.where(col("ns") >= cut))
    val evChunks = halves(evBase).map(_.select(col("event_id"),
      timestamp_micros(expr("ns div 1000")).as("ev_ts"), col("cents")))
    val winChunks = halves(winBase).map(_.select(col("win_id"),
      timestamp_micros(expr("ns div 1000")).as("w_start")))

    fileIngest(s, Seq(evChunks, winChunks), cache = Seq(evBase, winBase)) {
      case Seq(evIn, winIn) =>
        Seq(StreamingAnalytics.intervalJoin(
          evIn, winIn,
          "ev_ts", "w_start", windowSeconds = 600L, watermark = "1 minute")
          .select(col("win_id"), col("event_id"), col("cents"))
          .writeStream.format("memory").queryName("st19_sink").outputMode("append").start())
    }

    s.table("st19_sink").orderBy("win_id", "event_id")
  }

  val st19StreamingRangeJoinSql: String =
    """WITH win AS (
      |  SELECT event_id AS win_id, epoch_us(ts) AS w_start,
      |         epoch_us(ts) + 600000000 AS w_end
      |  FROM events WHERE event_type = 'error' AND user_id < 300)
      |SELECT w.win_id, e.event_id,
      |       cast(round(e.value*100, 0) as bigint) AS cents
      |FROM win w JOIN events e
      |  ON epoch_us(e.ts) >= w.w_start AND epoch_us(e.ts) < w.w_end
      |WHERE e.user_id < 300
      |ORDER BY win_id, event_id""".stripMargin

  /** st20 — the ordered funnel (w4) as a live per-user fold: state is
    * one timestamp per step + a counter (constant per user, no
    * partition sort), events arrive ts-ascending (the batch RANGE
    * frame's contract), and the strict `mins(i-1) < ts` qualification
    * reproduces the strictly-earlier frame so ties are
    * order-insensitive. Batches emit snapshots for touched users only;
    * the max-nSeen snapshot per user hash-matches w4's SQL oracle.
    */
  val st20StreamingFunnel: Q = (s, dir) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingFunnel
    import graft.streaming.StreamingFunnel.FunnelEvent
    // file-source ingest; ts-RANGE chunks keep arrivals ascending (the
    // batch RANGE frame's contract; the operator re-sorts within a
    // batch and strict `<` qualification makes ties order-insensitive)
    val feed = Tables.load(s, dir, "events")
      .select(col("user_id").as("userId"), expr("ts div 1000").as("tsUs"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .when(col("event_type") === "purchase", 2)
          .otherwise(-1).cast("int").as("step"))
    val chunks = rangeChunks(feed, "tsUs")

    fileIngest(s, chunks, cache = Seq(feed)) { stream =>
      StreamingFunnel.funnel(stream.as[FunnelEvent], 3)
        .writeStream.format("memory").queryName("st20_sink").outputMode("append").start()
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("userId").orderBy(col("nSeen").desc)
    def t(i: Int) = when(col("mins")(i) >= 0, col("mins")(i))
    val stage = (0 until 3).map(i => when(t(i).isNotNull, 1).otherwise(0)).reduce(_ + _)
    s.table("st20_sink")
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("userId").as("user_id"), t(0).as("t_view_us"),
        t(1).as("t_click_us"), t(2).as("t_purchase_us"),
        stage.cast("long").as("stage"))
      .orderBy("user_id")
  }

  /** st22 — cohort retention as a live stream: per-user (cohort day,
    * offset bitmask) state, delta emission of newly counted cells;
    * the sink count per (cohort_day, day_offset) equals batch w5 and
    * hash-matches the SAME oracle. Feed is ts-ascending (the stream
    * contract), so the first event fixes each user's cohort.
    */
  val st22StreamingRetention: Q = (s, dir) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingRetention
    import graft.streaming.StreamingRetention.DayEvent
    // file-source ingest; ts-RANGE chunks keep the feed ts-ascending,
    // so a user's FIRST batch contains their earliest day (the operator
    // takes the batch-min day as cohort) and offset bits are
    // order-independent after that
    val base = Tables.load(s, dir, "events")
      .select(col("user_id").as("userId"),
        expr("ts div 86400000000000L").as("day"), col("ts").cast("long").as("ns"))
    val chunks = rangeChunks(base, "ns").map(_.select("userId", "day"))

    fileIngest(s, chunks, cache = Seq(base)) { stream =>
      StreamingRetention.cohortOffsets(stream.as[DayEvent])
        .writeStream.format("memory").queryName("st22_sink").outputMode("append").start()
    }

    s.table("st22_sink")
      .groupBy(col("cohortDay").as("cohort_day"), col("dayOffset").as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** st25 — sign-prefix bucketed Hamming ANN as a real streaming query
    * and the catalog's stream-STATIC join shape: query vectors stream
    * in over three micro-batches, sign-encode map-side with the same
    * SignCode expression as the batch path, join the static
    * pre-bucketed corpus on the prefix bucket, and rank top-3 by exact
    * Hamming the moment the (batch-complete) candidate set arrives —
    * one boolean of state per query as a redelivery guard. Since r17
    * the bucket width is the OCCUPANCY-TARGETED auto width (the v14d
    * derivation from one scalar corpus count, single-table): a fixed
    * width keeps fixed 2^p bucket cardinality, so occupancy grows
    * linearly with the corpus and the stream-static candidate join
    * quadratically — the exact saturation v14 measured at 100× data.
    * Auto width holds expected occupancy ≈ 32 at every sf (resolves to
    * p=6 = the old fixed width at the sf0.1 gate), and the oracle
    * replays the width derivation itself in SQL, so one static string
    * hash-matches at every sf. The static corpus side is persisted via
    * fileIngest's cache hook (the st27 lesson — without it every
    * micro-batch would re-run the sign-encode + bucketing over the
    * full corpus). Streaming = batch = SQL for the ANN serving path.
    */
  val st25StreamingAnn: Q = (s, dir) => {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.StreamingAnn
    import graft.streaming.StreamingAnn.QueryEvent
    val emb = Tables.load(s, dir, "embeddings")
    // one bounded scalar probe (parquet metadata count) sizes the
    // bucket table to the corpus — the v14d occupancy target
    val pBits = operators.Similarity.autoPrefixBits(
      emb.count(), QueriesVector.V14dOccupancy)
    val corpus = StreamingAnn.bucketCorpus(emb, col("vec_id"), col("embedding"),
      pBits)
    // file-source ingest; queries are independent (one stateless
    // top-k per arrival, a per-qid redelivery guard), so id-keyed chunks
    val events = emb.where(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))
    val chunks = (0 until 3).map(i =>
      events.where(pmod(expr("qid div 10"), lit(3)) === i))

    fileIngest(s, chunks, cache = Seq(events, corpus)) { stream =>
      StreamingAnn.hammingTopK(stream.as[QueryEvent], corpus, k = 3,
        prefixBits = pBits)
        .writeStream.format("memory").queryName("st25_sink").outputMode("append").start()
    }

    s.table("st25_sink")
      .select(col("queryId").as("query_id"), col("neighborId").as("neighbor_id"),
        col("rank"), col("hamming"))
      .orderBy("query_id", "rank")
  }

  /** st25's oracle — the single-table auto-width Hamming bucket route
    * with the v14d width derivation replayed IN SQL (MIN i with
    * 2^i ≥ ceil(n/occupancy) over a series), so the same static string
    * hash-matches at every sf: sf0.01 → p=4, sf0.1 → p=6 (= the old
    * fixed width, so the gate result is unchanged), sf10 → p=13.
    */
  val st25StreamingAnnSql: String = {
    def half(lo: Int, hi: Int) =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series($lo, $hi), " +
        s"i -> CASE WHEN embedding[i]::DOUBLE > 0 THEN 1::BIGINT ELSE 0::BIGINT END)), " +
        s"(acc, x) -> acc * 2 + x)"
    val occ = QueriesVector.V14dOccupancy
    s"""WITH c AS (
       |  SELECT vec_id, ${half(1, 32)} AS hi, ${half(33, 64)} AS lo
       |  FROM embeddings),
       |pp AS (
       |  SELECT LEAST(32, GREATEST(4, (
       |    SELECT MIN(i) FROM generate_series(0, 40) s(i)
       |    WHERE CAST(power(2, i) AS BIGINT) >=
       |          ((SELECT count(*) FROM c) + $occ - 1) // $occ))) AS p),
       |b AS (SELECT vec_id, hi, lo,
       |             hi // CAST(power(2, 32 - p) AS BIGINT) AS bucket
       |      FROM c, pp),
       |cand AS (
       |  SELECT q.vec_id AS qid, t.vec_id AS cid,
       |         (bit_count(xor(q.hi, t.hi)) + bit_count(xor(q.lo, t.lo)))::BIGINT AS hamming
       |  FROM b q JOIN b t ON q.bucket = t.bucket AND q.vec_id <> t.vec_id
       |  WHERE q.vec_id % 10 = 0),
       |ranked AS (
       |  SELECT qid, cid, hamming,
       |         row_number() OVER (PARTITION BY qid ORDER BY hamming, cid) AS rank
       |  FROM cand)
       |SELECT qid AS query_id, cid AS neighbor_id, rank::BIGINT AS rank, hamming
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "st25_streaming_ann" -> st25StreamingAnn,
    "st22_streaming_retention" -> st22StreamingRetention,
    "st20_streaming_funnel" -> st20StreamingFunnel,
    "st19_streaming_range_join" -> st19StreamingRangeJoin,
    "st18_streaming_quantiles" -> st18StreamingQuantiles,
    "st17_streaming_cms" -> st17StreamingCms,
    "st16_streaming_grinch_prune_cut" -> st16StreamingGrinchPruneCut,
    "st15_streaming_grinch_cut" -> st15StreamingGrinchCut,
    "st14_streaming_grinch_graft" -> st14StreamingGrinchGraft,
    "st13_streaming_grinch_prune" -> st13StreamingGrinchPrune,
    "st12_streaming_grinch_rotate" -> st12StreamingGrinchRotate,
    "st11_streaming_grinch_tree" -> st11StreamingGrinchTree,
    "st10_streaming_hll" -> st10StreamingHll,
    "st9_streaming_sessions" -> st9StreamingSessions,
    "st1_streaming_greedy" -> st1StreamingGreedy,
    "st2_streaming_grinch" -> st2StreamingGrinch,
    "st3_streaming_vocab" -> st3StreamingVocab,
    "st4_streaming_windows" -> st4StreamingWindows,
    "st5_streaming_dedup" -> st5StreamingDedup,
    "st7_streaming_diversity_cache" -> st7StreamingDiversityCache)
  val oracles: Map[String, String] = Map(
    "st25_streaming_ann" -> st25StreamingAnnSql,
    "st20_streaming_funnel" -> QueriesRelational.w4FunnelSql,
    "st22_streaming_retention" -> QueriesRelational.w5CohortRetentionSql,
    "st19_streaming_range_join" -> st19StreamingRangeJoinSql,
    "st18_streaming_quantiles" -> QueriesText.k4TokenQuantilesSql,
    "st17_streaming_cms" -> QueriesRelational.k3CmsTopkSql,
    "st16_streaming_grinch_prune_cut" -> QueriesGrinch.h11GrinchPruneCutSql,
    "st15_streaming_grinch_cut" -> QueriesGrinch.h10GrinchTreeCutSql,
    "st14_streaming_grinch_graft" -> QueriesGrinch.h9GrinchGraftTreeSql,
    "st13_streaming_grinch_prune" -> QueriesGrinch.h8GrinchPruneTreeSql,
    "st12_streaming_grinch_rotate" -> QueriesGrinch.h7GrinchRotateTreeSql,
    "st11_streaming_grinch_tree" -> QueriesGrinch.h5GrinchIntTreeSql,
    "st10_streaming_hll" -> QueriesRelational.k2HllSketchOnlySql,
    "st9_streaming_sessions" -> QueriesRelational.w2SessionizeSql,
    "st1_streaming_greedy" -> st1StreamingGreedySql,
    "st3_streaming_vocab" -> st3StreamingVocabSql,
    "st4_streaming_windows" -> st4StreamingWindowsSql,
    "st5_streaming_dedup" -> st5StreamingDedupSql,
    "st7_streaming_diversity_cache" -> QueriesGreedy.g3GreedyDiversityCacheSql)
}
