package cdcbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.functions.TextFunctions
import graft.operators.{Dedup, GreedyClustering, Grinch, Metrics}
import graft.sources.Sources
import graft.streaming.StreamingClustering
import graft.streaming.StreamingClustering.MentionEvent

import Util.median

/** What one set-up round and the timed window need from a workload. Every
  * call into the program goes through the program's public API, inside a
  * session from graft.GraftSession.
  */
abstract class Workload(val spark: SparkSession, props: Map[String, String],
                        val in: Path, val work: Path) {
  protected def int(k: String): Int = props(k).toInt
  protected def dbl(k: String): Double = props(k).toDouble

  /** Ops the window runs at least, even past its length. */
  def minOps: Int = int("min_ops")
  /** Input records one op completes: mentions or documents. */
  def recordsPerOp: Long

  /** Copy the generated inputs to where the program reads them. */
  def stage(): Unit
  def warmup(t: Tracer): Unit
  def available(i: Int): Boolean = true
  /** Runs op `i` and returns its latency in nanoseconds. */
  def op(i: Int, t: Tracer): Long
  /** Checks and output dumps for op `i`, outside its timing. */
  def afterOp(i: Int, traced: Boolean): Map[String, Any]
  /** Ends the window: output checks over the whole run and quality. */
  def finish(ops: Seq[OpRec]): Map[String, Any]
  /** Per-layer numbers of the traced ops. */
  def layers(ops: Seq[OpRec], t: Tracer, eng: EngineListener, prog: ProgressListener): Map[String, Double]
  def close(): Unit = ()

  private val owned = mutable.ArrayBuffer.empty[DataFrame]

  /** In a traced op, a span whose output is persisted and counted, so its
    * time is its own. An untraced op gets the plan as the program builds
    * it: nothing persisted, nothing counted.
    */
  protected def materialized(t: Tracer, name: String)(df: => DataFrame): DataFrame =
    if (!t.enabled) df
    else t.span(name) {
      val d = df.persist()
      owned += d
      d.count()
      d
    }

  /** Warm-up ops run before the window, on the inputs the window reaches
    * last.
    */
  protected def warmupOps(t: Tracer): Unit =
    (1 to int("warm_ops")).foreach { j => op(-j, t); release() }

  /** Span outputs the harness persisted in the last op; 0 for an untraced op. */
  var harnessPersisted = 0

  /** Drops the harness's own span outputs, measures what the program left
    * cached, then releases that too. Returns the bytes that were left.
    */
  def release(): Long = {
    harnessPersisted = owned.size
    owned.foreach(_.unpersist(blocking = true))
    owned.clear()
    val sc = spark.sparkContext
    val left = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }

  protected def inputPath(name: String): Path = work.resolve("inputs").resolve(name)

  protected def stageInputs(names: Seq[String]): Unit = {
    Files.createDirectories(work.resolve("inputs"))
    names.foreach(n => Files.copy(in.resolve(n), inputPath(n)))
  }

  protected def outDir(i: Int): Path = work.resolve("out").resolve(if (i >= 0) s"op-$i" else s"warm${-i}")

  /** Median over traced ops of each span's self time and engine counters. */
  protected def spanLayers(names: Seq[String], t: Tracer, eng: EngineListener): Map[String, Double] = {
    val self = t.selfSeconds
    val byOp = t.spans.groupBy(_.op)
    names.flatMap { n =>
      val perOp = byOp.values.toSeq.map { ss =>
        val mine = ss.filter(_.name == n)
        val cs = mine.map(s => eng.counters("s" + s.id))
        Seq(mine.map(s => self(s.id)).sum, cs.map(_.tasks).sum.toDouble,
          cs.map(_.shuffleBytes).sum.toDouble, cs.map(_.shuffleRecords).sum.toDouble,
          cs.map(_.gcMs).sum / 1000.0, cs.map(_.spillBytes).sum.toDouble)
      }
      Seq("self_s", "tasks", "shuffle_bytes", "shuffle_records", "gc_s", "spill_bytes")
        .zipWithIndex.map { case (k, j) => s"$n.$k" -> median(perOp.map(_(j))) }
    }.toMap
  }

  /** Median over traced ops of the share of op time the named spans' self
    * time takes.
    */
  protected def share(names: Set[String], t: Tracer): Double = {
    val self = t.selfSeconds
    median(t.spans.groupBy(_.op).values.toSeq.flatMap { ss =>
      ss.find(_.name == "op").map { root =>
        ss.filter(s => names(s.name)).map(s => self(s.id)).sum / ((root.end - root.start) / 1e9)
      }
    })
  }
}

final case class OpRec(i: Int, latencyNs: Long, records: Long, traced: Boolean,
                       error: Option[String], cachedBytes: Long, info: Map[String, Any])

object Workload {
  def apply(name: String, spark: SparkSession, props: Map[String, String], in: Path, work: Path): Workload =
    name match {
      case "coref-stream" => new CorefStream(spark, props, in, work)
      case "coref-batch" => new CorefBatch(spark, props, in, work)
      case "dedup-batch" => new DedupBatch(spark, props, in, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def greedyParams(limit: Int, threshold: Double): GreedyClustering.Params =
    GreedyClustering.Params("diversity-cache", limit = limit, threshold = threshold, cosine = true)

  def row(r: Row): Map[String, Any] = r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap
}

/** Keyed mentions streamed through StreamingClustering.greedyCluster, one
  * small parquet chunk per micro-batch, into a parquet file sink with a
  * checkpoint. An op runs from the atomic rename that makes a chunk
  * visible to the source until its micro-batch has committed.
  */
final class CorefStream(spark: SparkSession, props: Map[String, String], in: Path, work: Path)
    extends Workload(spark, props, in, work) {
  import spark.implicits._

  private val chunkRows = int("chunk_rows")
  private val warm = int("warm_chunks")
  private val nChunks = int("chunks")
  private val params = Workload.greedyParams(int("limit"), dbl("greedy_threshold"))
  private val stageDir = work.resolve("stage")
  private val srcDir = work.resolve("source")
  private val sinkDir = work.resolve("sink")
  private val ckDir = work.resolve("checkpoint")
  private val schema = Encoders.product[MentionEvent].schema
  private var query: StreamingQuery = _
  private val rowsOfOp = mutable.Map.empty[Int, Long]
  private val batchOfOp = mutable.Map.empty[Int, Long]
  /** When the query's first batch started: state-store maintenance runs
    * on a fixed schedule from the first store load.
    */
  var firstBatchNs = 0L

  def recordsPerOp: Long = chunkRows.toLong
  private def chunk(c: Int) = f"chunk-$c%05d.parquet"

  def stage(): Unit = {
    Seq(stageDir, srcDir).foreach(Files.createDirectories(_))
    (0 until nChunks).foreach(c => Files.copy(in.resolve("chunks").resolve(chunk(c)), stageDir.resolve(chunk(c))))
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    query = StreamingClustering.greedyCluster(stream.as[MentionEvent], params)
      .writeStream.format("parquet")
      .option("path", sinkDir.toString)
      .option("checkpointLocation", ckDir.toString)
      .outputMode("append").start()
  }

  /** Makes chunk `c` visible and waits for its batch to commit. */
  private def feed(c: Int): (Long, StreamingQueryProgress) = {
    val t0 = System.nanoTime()
    if (c == 0) firstBatchNs = t0
    Files.move(stageDir.resolve(chunk(c)), srcDir.resolve(chunk(c)), StandardCopyOption.ATOMIC_MOVE)
    val deadline = t0 + 30L * 1000000000L
    var done: StreamingQueryProgress = null
    while (done == null) {
      val lp = query.lastProgress
      if (lp != null && lp.batchId == c && lp.numInputRows > 0) done = lp
      else {
        query.exception.foreach(e => throw e)
        if (lp != null && lp.batchId > c) throw new IllegalStateException(s"chunk $c was not batch $c")
        if (System.nanoTime() > deadline) throw new IllegalStateException(s"batch $c did not commit")
        LockSupport.parkNanos(100000L)
      }
    }
    (System.nanoTime() - t0, done)
  }

  def warmup(t: Tracer): Unit = (0 until warm).foreach(feed)

  override def available(i: Int): Boolean = warm + i < nChunks && query.isActive

  def op(i: Int, t: Tracer): Long = {
    val (ns, p) = feed(warm + i)
    rowsOfOp(i) = p.numInputRows
    batchOfOp(i) = p.batchId
    ns
  }

  def afterOp(i: Int, traced: Boolean): Map[String, Any] =
    Map("ok" -> (rowsOfOp(i) == chunkRows), "rows_per_batch" -> rowsOfOp(i), "batch" -> batchOfOp(i))

  /** Maintenance schedule ticks inside [w0, w1] (nanoTime). */
  def maintenanceTicks(w0: Long, w1: Long): Long = {
    val every = spark.conf.get("spark.sql.streaming.stateStore.maintenanceInterval", "60s")
    val ns = org.apache.spark.network.util.JavaUtils.timeStringAsMs(every) * 1000000L
    (1L to 1000L).count { k => val at = firstBatchNs + k * ns; at >= w0 && at <= w1 }.toLong
  }

  /** Snapshot files the state store wrote at or after `sinceMs`. */
  def snapshotFilesSince(sinceMs: Long): Long = {
    val st = ckDir.resolve("state")
    if (!Files.exists(st)) 0L
    else Files.walk(st).iterator().asScala.count { p =>
      p.toString.endsWith(".snapshot") && Files.getLastModifiedTime(p).toMillis >= sinceMs
    }.toLong
  }

  def finish(ops: Seq[OpRec]): Map[String, Any] = {
    query.stop()
    val fed = warm + ops.size
    val events = spark.read.schema(schema).parquet(srcDir.toString)
    // the parity StreamingSpec pins: the batch fold over the same events
    // in the same order
    val ref = GreedyClustering.clusterByKey(events, col("key"), col("id"), col("vec"), col("order"), params)
      .select(col("id"), col("pred_cluster")).as[(Long, Long)].collect().toMap
    val got = spark.read.parquet(sinkDir.toString).select(col("id"), col("predCluster")).as[(Long, Long)].collect()
    val perId = got.groupBy(_._1)
    val bad = (ref.keySet ++ perId.keySet).filter { id =>
      perId.get(id).map(_.toSeq) match {
        case Some(Seq((_, pred))) => !ref.get(id).contains(pred)
        case _ => true
      }
    }
    val badChunks = bad.map(id => (id / chunkRows).toInt)
    val quality = work.resolve("quality.tsv")
    val prefix = int("quality_chunks").min(fed).toLong * chunkRows
    val gold = spark.read.option("sep", "\t").csv(in.resolve("gold.tsv").toString).toDF("id", "entity")
      .select(col("id").cast("long"), col("entity"))
    val scored = spark.read.parquet(sinkDir.toString).where(col("id") < prefix)
      .join(gold, "id").select(col("entity"), col("predCluster").as("pred"))
    val summary = Workload.row(Metrics.evalSummary(scored, col("entity"), col("pred")).collect().head)
    Util.writeLines(quality, scored.as[(String, Long)].collect().iterator.map { case (e, p) => s"$e\t$p" })
    Map(
      "chunks_fed" -> fed,
      "events" -> ref.size,
      "assignments" -> got.length,
      "mismatched_ids" -> bad.size,
      "failed_ops" -> badChunks.filter(_ >= warm).map(_ - warm).toSeq.sorted,
      "warmup_failed" -> badChunks.exists(_ < warm),
      "quality_rows" -> prefix,
      "quality_pairs" -> quality.toString,
      "eval_summary" -> summary,
      "coref_f1" -> summary("mean_f1"))
  }

  def layers(ops: Seq[OpRec], t: Tracer, eng: EngineListener, prog: ProgressListener): Map[String, Double] = {
    val batches = ops.filter(_.traced).map(o => warm + o.i).map(_.toLong)
    val ps = prog.synchronized(batches.flatMap(prog.byBatch.get))
    def dur(k: String) = median(ps.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      ps.map(p => p.stateOperators.headOption.fold(0.0)(f))
    val cs = batches.map(b => eng.counters("b" + b))
    val (stepUs, foldMs) = replay()
    val trigger = dur("triggerExecution")
    Map(
      "streaming.trigger_ms" -> trigger,
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.state_commit_ms" -> median(state(_.commitTimeMs.toDouble)),
      "streaming.state_rows_total" -> state(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_memory_bytes" -> state(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "streaming.rows_per_batch" -> median(ps.map(_.numInputRows.toDouble)),
      "streaming.tasks_per_batch" -> median(cs.map(_.tasks.toDouble)),
      "streaming.shuffle_bytes_per_batch" -> median(cs.map(_.shuffleBytes.toDouble)),
      "streaming.gc_ms_per_batch" -> median(cs.map(_.gcMs.toDouble)),
      "operators.greedy.step_us" -> stepUs,
      "operators.greedy.fold_ms_per_batch" -> foldMs,
      // the chosen layer is the per-batch floor: everything but the fold
      "stress.chosen_layer_share" -> (1.0 - foldMs / trigger))
  }

  /** Driver-side, single-threaded replay of the operator's per-batch work
    * (restore, steps, snapshot per key) over the chunks the stream saw.
    * Returns (µs per step, ms of fold per batch), medians of 5 passes.
    */
  private def replay(): (Double, Double) = {
    val evs = spark.read.schema(schema).parquet(srcDir.toString).as[MentionEvent].collect()
    val batches = evs.groupBy(_.id / chunkRows).toSeq.sortBy(_._1)
      .map(_._2.groupBy(_.key).toSeq.sortBy(_._1).map(_._2.sortBy(_.order)))
    val passes = (1 to 5).map { _ =>
      val snaps = mutable.Map.empty[Long, GreedyClustering.Snapshot]
      var stepNs = 0L
      val f0 = System.nanoTime()
      batches.foreach(_.foreach { rows =>
        val m = new GreedyClustering.State(params)
        snaps.get(rows.head.key).foreach(m.restore)
        val s0 = System.nanoTime()
        rows.foreach(e => m.step(e.id, e.vec))
        stepNs += System.nanoTime() - s0
        snaps(rows.head.key) = m.snapshot
      })
      (stepNs / 1000.0 / evs.length, (System.nanoTime() - f0) / 1e6 / batches.size)
    }
    (median(passes.map(_._1)), median(passes.map(_._2)))
  }

  override def close(): Unit = if (query != null && query.isActive) query.stop()
}

/** One op per embedding TSV: read, greedy and GRINCH clustering per key,
  * both scored with Metrics.evalSummary, both written as cluster pairs.
  */
final class CorefBatch(spark: SparkSession, props: Map[String, String], in: Path, work: Path)
    extends Workload(spark, props, in, work) {

  private val nInputs = int("inputs")
  private val perKey = int("per_key")
  private val greedy = Workload.greedyParams(int("limit"), dbl("greedy_threshold"))
  private val grinch = Grinch.Params(sim = "dot", norm = "l2")
  private val grinchThreshold = dbl("grinch_threshold")
  private var last: Map[String, Any] = Map.empty

  def recordsPerOp: Long = int("records").toLong
  private def input(i: Int) = s"emb-${Math.floorMod(i, nInputs)}.tsv"

  def stage(): Unit = stageInputs((0 until nInputs).map(input))

  def warmup(t: Tracer): Unit = warmupOps(t)

  /** Cluster, write the pairs, then score the written pairs: the program's
    * cluster-then-eval command sequence.
    */
  def op(i: Int, t: Tracer): Long = {
    val t0 = System.nanoTime()
    val out = outDir(i)
    val (greedyDir, grinchDir) = (out.resolve("greedy").toString, out.resolve("grinch").toString)
    t.span("op") {
      val read = materialized(t, "sources.read")(Sources.readEmbeddingsTsv(spark, inputPath(input(i)).toString))
      // each key's stream is a contiguous uid block of per_key mentions
      val key = floor(col("uid") / perKey)
      val g = materialized(t, "operators.greedy")(
        GreedyClustering.clusterByKey(read, key, col("uid"), col("embedding"), col("uid"), greedy))
      val h = materialized(t, "operators.grinch")(
        Grinch.flatClusterByKey(read, key, col("uid"), col("embedding"), col("uid"), grinch, grinchThreshold))
      val gold = read.select(col("uid").as("id"), col("entity_id"))
      val gl = g.join(gold, "id").select(col("id"), col("entity_id"), col("pred_cluster").cast("string").as("pred"))
      // GRINCH cluster ids are per-key indices
      val hl = h.join(gold, "id")
        .select(col("id"), col("entity_id"), concat_ws("_", col("key"), col("pred_cluster")).as("pred"))
      t.span("sources.write") {
        Sources.writeClusterPairs(gl, "entity_id", "pred", "id", greedyDir)
        Sources.writeClusterPairs(hl, "entity_id", "pred", "id", grinchDir)
      }
      val (gm, hm) = t.span("operators.metrics") {
        def score(dir: String) = {
          val pairs = Sources.readClusterPairs(spark, dir)
          Metrics.evalSummary(pairs, col("true_id"), col("pred_id")).collect().head
        }
        (score(greedyDir), score(grinchDir))
      }
      last = Map("greedy" -> Workload.row(gm), "grinch" -> Workload.row(hm))
    }
    System.nanoTime() - t0
  }

  def afterOp(i: Int, traced: Boolean): Map[String, Any] =
    last ++ Map("ok" -> true, "input" -> Math.floorMod(i, nInputs), "pairs_dir" -> outDir(i).toString)

  def finish(ops: Seq[OpRec]): Map[String, Any] = Map.empty

  def layers(ops: Seq[OpRec], t: Tracer, eng: EngineListener, prog: ProgressListener): Map[String, Double] = {
    val names = Seq("sources.read", "operators.greedy", "operators.grinch", "operators.metrics", "sources.write")
    val skew = t.spans.filter(_.name == "operators.grinch").flatMap(s => eng.taskSkew("s" + s.id))
    spanLayers(names, t, eng) ++ Map(
      "operators.grinch.task_skew" -> median(skew.toSeq),
      "operators.greedy.step_us" -> replay(),
      "stress.chosen_layer_share" -> share(Set("operators.greedy", "operators.grinch"), t))
  }

  /** Driver-side, single-threaded GreedyClustering.State pass over every
    * input's per-key sequences; µs per step, median of 5 passes.
    */
  private def replay(): Double = {
    val seqs = (0 until nInputs).flatMap { j =>
      val lines = Files.readAllLines(inputPath(input(j))).asScala.toSeq
      lines.map(_.split("\t")).map(f => (f(0).toLong, f.drop(2).map(_.toFloat)))
        .groupBy(_._1 / perKey).values.map(_.sortBy(_._1))
    }
    val steps = seqs.map(_.size).sum
    median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      seqs.foreach { s =>
        val m = new GreedyClustering.State(greedy)
        s.foreach { case (id, v) => m.step(id, v) }
      }
      (System.nanoTime() - t0) / 1000.0 / steps
    })
  }
}

/** Near-duplicate detection over one document set per op: shingle sets,
  * MinHash bands, verified pairs, connected components, best member per
  * component, written out.
  */
final class DedupBatch(spark: SparkSession, props: Map[String, String], in: Path, work: Path)
    extends Workload(spark, props, in, work) {
  import spark.implicits._

  private val nInputs = int("inputs")
  private val maxBucket = int("max_bucket")
  private val (jNum, jDen) = (int("jaccard_num"), int("jaccard_den"))
  private var held: (DataFrame, DataFrame, DataFrame) = _
  private val counts = mutable.Map.empty[Int, Map[String, Double]]

  def recordsPerOp: Long = int("records").toLong
  private def input(i: Int) = s"docs-${Math.floorMod(i, nInputs)}.parquet"

  def stage(): Unit = stageInputs((0 until nInputs).map(input))

  def warmup(t: Tracer): Unit = warmupOps(t)

  /** The chain of the program's d8 dedup query, ending in the write. */
  def op(i: Int, t: Tracer): Long = {
    val t0 = System.nanoTime()
    t.span("op") {
      val docs = materialized(t, "sources.read")(spark.read.parquet(inputPath(input(i)).toString))
      // shingleSets persists its own output; a traced op also counts it
      val sets = t.span("operators.dedup.shingle") {
        val s = Dedup.shingleSets(docs, col("doc_id"),
          TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3))
        if (t.enabled) s.count()
        s
      }
      val bands = materialized(t, "operators.dedup.minhash")(Dedup.minHashBandsFromSets(sets, 16, 2))
      val pairs = materialized(t, "operators.dedup.pairs")(
        Dedup.nearDupPairsFromSets(sets, bands, jNum, jDen, maxBucket))
      val labels = t.span("operators.dedup.cc") {
        Dedup.connectedComponents(pairs.select("doc_a", "doc_b"), col("doc_a"), col("doc_b"))
      }
      val kept = materialized(t, "operators.dedup.keep_best")(
        Dedup.keepBestPerComponent(docs.select("doc_id", "n_chars"), "doc_id", "n_chars", labels))
      t.span("sources.write")(kept.write.parquet(outDir(i).resolve("kept").toString))
      held = (bands, pairs, labels)
    }
    System.nanoTime() - t0
  }

  def afterOp(i: Int, traced: Boolean): Map[String, Any] = {
    val (bands, pairs, labels) = held
    val idx = Math.floorMod(i, nInputs)
    val dir = outDir(i)
    val pairRows = pairs.select("doc_a", "doc_b", "j_num", "j_den").as[(Long, Long, Long, Long)].collect()
    val labelRows = labels.select("node", "comp").as[(Long, Long)].collect()
    Util.writeLines(dir.resolve("pairs.tsv"), pairRows.iterator.map(p => p.productIterator.mkString("\t")))
    Util.writeLines(dir.resolve("labels.tsv"), labelRows.iterator.map { case (n, c) => s"$n\t$c" })
    if (traced && !counts.contains(idx)) {
      val cand = Dedup.lshCandidatePairs(bands, maxBucket).count().toDouble
      counts(idx) = Map(
        "operators.dedup.band_rows" -> bands.count().toDouble,
        "operators.dedup.candidate_pairs" -> cand,
        "operators.dedup.verified_pairs" -> pairRows.length.toDouble,
        "operators.dedup.components" -> labelRows.map(_._2).distinct.length.toDouble,
        "operators.dedup.verify_yield" -> (if (cand > 0) pairRows.length / cand else 0.0))
    }
    Map("ok" -> true, "input" -> idx, "out_dir" -> dir.toString)
  }

  def finish(ops: Seq[OpRec]): Map[String, Any] = Map.empty

  def layers(ops: Seq[OpRec], t: Tracer, eng: EngineListener, prog: ProgressListener): Map[String, Double] = {
    val names = Seq("sources.read", "operators.dedup.shingle", "operators.dedup.minhash",
      "operators.dedup.pairs", "operators.dedup.cc", "operators.dedup.keep_best", "sources.write")
    val perInput = counts.values.toSeq
    spanLayers(names, t, eng) ++
      perInput.flatMap(_.keys).distinct.map(k => k -> perInput.map(_(k)).sum / perInput.size) ++
      Map("stress.chosen_layer_share" -> share(Set("operators.dedup.pairs", "operators.dedup.cc"), t))
  }
}
