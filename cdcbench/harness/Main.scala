package cdcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{CdcbenchEngine, SparkSession}

import graft.GraftSession

/** One benchmark run of one workload, closed loop, single client:
  *
  *   set-up (from JVM launch: session, input staging, warm-up ops) →
  *   timed window → output checks → [traced run only] per-layer numbers
  *   and a local[1] baseline.
  *
  * Usage: cdcbench.Main <workload> <inputDir> <workDir> <out.json> <seconds> <trace 0|1>
  *
  * Writes one JSON document of raw measurements to <out.json>; run.py
  * turns it into the benchmark's result.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val Array(workload, inDir, workDir, outPath, secondsArg, traceArg) = argv
    val entryNs = System.nanoTime()
    val launchNs = entryNs -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val in = Paths.get(inDir)
    val work = Paths.get(workDir)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val props = {
      val p = new Properties()
      val r = Files.newBufferedReader(in.resolve("params.properties"))
      try p.load(r) finally r.close()
      p.asScala.toMap
    }
    val localDir = work.resolve("spark-local")
    Files.createDirectories(localDir)
    def session(master: Option[String]): SparkSession = {
      val b = GraftSession.builder("cdcbench-" + workload).config("spark.local.dir", localDir.toString)
      master.foreach(b.master)
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val out = mutable.LinkedHashMap.empty[String, Any]
    def stop(spark: SparkSession, wl: Workload): Unit = {
      try if (wl != null) wl.close() finally spark.stop()
    }

    out("workload") = workload
    out("trace") = trace
    var spark: SparkSession = null
    var wl: Workload = null
    var tracer: Tracer = null
    try {
      // ---- set-up
      spark = session(None)
      wl = Workload(workload, spark, props, in, work.resolve("main"))
      tracer = new Tracer(spark.sparkContext)
      wl.stage()
      wl.warmup(tracer)
      out("setup_s") = (System.nanoTime() - launchNs) / 1e9

      // ---- timed window
      val engine = new EngineListener
      val progress = new ProgressListener
      val ops = mutable.ArrayBuffer.empty[OpRec]
      val r0 = Readings.take()
      val w0 = System.nanoTime()
      val w0Ms = System.currentTimeMillis()
      // the window is --seconds of time inside ops: checks between ops do
      // not eat into it. The wall-clock cap keeps a run that needs its
      // minimum ops on a slow machine inside the run's time budget.
      val capNs = 100L * 1000000000L
      def busyNs = ops.map(_.latencyNs.max(0L)).sum
      var i = 0
      while ((busyNs < seconds * 1e9 || ops.size < wl.minOps) && System.nanoTime() - w0 < capNs &&
        wl.available(i)) {
        // traced runs alternate traced and untraced ops, so the tracing
        // overhead is measured inside one run
        val traced = trace && i % 2 == 1
        if (traced) {
          spark.sparkContext.addSparkListener(engine)
          spark.streams.addListener(progress)
        }
        tracer.enabled = traced
        tracer.op = i
        val res = try Right(wl.op(i, tracer)) catch { case e: Exception => Left(e) }
        tracer.enabled = false
        if (traced) {
          CdcbenchEngine.drainListenerBus(spark.sparkContext)
          spark.streams.removeListener(progress)
          spark.sparkContext.removeSparkListener(engine)
        }
        val rec = res match {
          case Right(ns) =>
            val info = try wl.afterOp(i, traced) catch {
              case e: Exception => Map[String, Any]("ok" -> false, "check_error" -> e.toString)
            }
            val ok = info.get("ok").contains(true)
            val left = wl.release()
            OpRec(i, ns, wl.recordsPerOp, traced, if (ok) None else Some("output check failed"),
              left, info + ("harness_persisted" -> wl.harnessPersisted))
          case Left(e) =>
            OpRec(i, -1L, 0L, traced, Some(e.toString), wl.release(), Map.empty)
        }
        ops += rec
        i += 1
      }
      val w1 = System.nanoTime()
      val r1 = Readings.take()
      val testimony = mutable.LinkedHashMap.empty[String, Any] ++ Readings.delta(r0, r1)
      testimony("jit_compile_ms_total") = r1.jitMs
      testimony("codegen_compilations") = r1.codegenCompilations - r0.codegenCompilations
      wl match {
        case s: CorefStream =>
          testimony("state_maintenance_ticks") = s.maintenanceTicks(w0, w1)
          testimony("state_snapshot_files") = s.snapshotFilesSince(w0Ms)
        case _ =>
          testimony("state_maintenance_ticks") = 0L
          testimony("state_snapshot_files") = 0L
      }
      out("testimony") = testimony
      out("finish") = wl.finish(ops.toSeq)
      out("ops") = ops.map { o =>
        Map("i" -> o.i, "latency_ms" -> o.latencyNs / 1e6, "records" -> o.records, "traced" -> o.traced,
          "error" -> o.error, "cached_bytes_after_op" -> o.cachedBytes, "info" -> o.info)
      }
      out("cpus") = spark.sparkContext.defaultParallelism

      // ---- per-layer numbers (traced run only)
      if (trace) {
        val layers = mutable.LinkedHashMap.empty[String, Double] ++ wl.layers(ops.toSeq, tracer, engine, progress)
        layers("engine.cached_bytes_after_op") = Util.median(ops.map(_.cachedBytes.toDouble).toSeq)
        def tp(sel: OpRec => Boolean) = {
          val good = ops.filter(o => o.error.isEmpty && sel(o))
          good.map(_.records).sum / (good.map(_.latencyNs).sum / 1e9)
        }
        layers("trace_overhead_frac") = 1.0 - tp(_.traced) / tp(!_.traced)
        out("spans") = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end))
        stop(spark, wl)
        wl = null
        layers("baseline.local1_throughput_per_s") = {
          spark = session(Some("local[1]"))
          wl = Workload(workload, spark, props, in, work.resolve("local1"))
          val t = new Tracer(spark.sparkContext)
          wl.stage()
          wl.warmup(t)
          // the JIT is warm from the main run: one warm-up, then a few ops
          val n = if (workload == "coref-stream") 10 else 1
          val ns = (0 until n).takeWhile(wl.available).map { j => val x = wl.op(j, t); wl.release(); x }
          ns.size * wl.recordsPerOp / (ns.sum / 1e9)
        }
        out("layers") = layers
      }
      out("peak_rss_mb") = Readings.peakRssMb()
    } catch {
      case e: Throwable =>
        out("fatal") = e.toString
        e.printStackTrace()
    } finally {
      if (spark != null) stop(spark, wl)
      Files.writeString(Paths.get(outPath), Json.render(out))
    }
  }
}
