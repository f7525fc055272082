package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Parse the committed canonical per-query map (the outlier-pass
    * reference): the values inside `"queries": {...}` are plain
    * decimals, so a regex over that object is sufficient — but the key
    * locator must tolerate whitespace/pretty-printing (the round-12
    * hand-edit pretty-printed the file and the old exact-substring
    * `"queries":{` locator silently parsed ZERO entries, which disarmed
    * the retry pass for two rounds — BenchCanonicalSpec now pins this
    * against the committed file). */
  private[graft] def parseCanonical(s: String): Map[String, Double] = {
    """"queries"\s*:\s*\{""".r.findFirstMatchIn(s) match {
      case None => Map.empty
      case Some(m) =>
        val close = s.indexOf("}", m.end)
        val body = if (close < 0) "" else s.substring(m.end, close)
        """"([A-Za-z0-9_]+)"\s*:\s*(-?[0-9.]+)""".r.findAllMatchIn(body)
          .map(g => g.group(1) -> g.group(2).toDouble).toMap
    }
  }

  /** Max value recorded inside a bench line's named flat numeric map
    * (`"ambient"` / `"loadavg"`), -1 when absent/empty. Round 19
    * (VERDICT r18 #3): the canonical adoption gate reads the
    * `"ambient"` ceiling — a canonical re-baselined under concurrent
    * machine load (r18 carried 1.21× inflation on 154 unchanged
    * queries) corrupts the >3×-outlier retry rule and every future
    * round's regression compare, so a ceiling above
    * [[CanonicalAmbientBound]] must refuse adoption
    * (scripts/adopt_canonical.sh + BenchCanonicalSpec). The gate is
    * NOT raw loadavg: a 32-thread local Spark bench inflates its own
    * 1-minute loadavg past any honest bound — the committed r17
    * canonical, measured genuinely quiet, still recorded a 7.11
    * ceiling. `"ambient"` is the direct measurement instead: other
    * processes' CPU cores over each family's exact window
    * (Δ(/proc/stat busy) − Δ(/proc/self/stat)) / Δwall — self-load
    * excluded, no 60 s lag.
    */
  private[graft] def parseMapCeiling(s: String, key: String): Double = {
    (""""""" + key + """"\s*:\s*\{""").r.findFirstMatchIn(s) match {
      case None => -1.0
      case Some(m) =>
        // the map's values are flat numbers/arrays — no nested braces —
        // so the first '}' closes it
        val close = s.indexOf("}", m.end)
        val body = if (close < 0) "" else s.substring(m.end, close)
        val vals = """:\s*\[?(-?[0-9]+(?:\.[0-9]+)?)|,\s*(-?[0-9]+(?:\.[0-9]+)?)""".r
          .findAllMatchIn(body)
          .map(g => Option(g.group(1)).getOrElse(g.group(2)).toDouble).toSeq
        if (vals.isEmpty) -1.0 else vals.max
    }
  }

  /** Adoption bound for the canonical bench's recorded `"ambient"`
    * ceiling: average OTHER-process CPU cores during any family window
    * must stay under this for the run to count as quiet. OS daemons on
    * an idle box measure well under 0.5; a concurrent sbt/Spark run
    * (the r18 contamination) measures in the tens.
    */
  private[graft] val CanonicalAmbientBound: Double = 1.0

  /** Adoption bounds for the contention classes busy-jiffies ambient
    * cannot see (round 20, VERDICT r19 #4 — the r19 driver run carried
    * 1.55× median inflation from IO/page-cache pressure at ambient
    * ≈ 0): machine-wide IOWAIT cores and the PSI some-stall fractions
    * for io and memory over any family window. Calibration (round 20,
    * executed): a quiet bench window on this box measures iowait
    * ceiling 0.002 cores and psi_io/psi_mem 0.000 (the bench's own
    * parquet reads + tmpfs checkpoints barely stall), so the bounds
    * carry >100× headroom for self-load — while the REPLAYED r19
    * contamination (the same bench under four parallel direct-IO dd
    * writers) measured iowait 3.82 cores and psi_io 0.452 with the
    * busy-jiffies ambient reading 0.067, i.e. the old gate certified
    * the contaminated window quiet and the new columns flag it at
    * 7.6× / 9× over bound. psi_cpu is recorded but NOT bounded — a
    * 32-thread bench on 32 CPUs stalls itself, so its cpu-some
    * fraction reflects self-load by design.
    */
  private[graft] val CanonicalIowaitBound: Double = 0.5
  private[graft] val CanonicalPsiIoBound: Double = 0.05
  private[graft] val CanonicalPsiMemBound: Double = 0.05

  /** (total busy jiffies across all CPUs from /proc/stat, this
    * process's own jiffies from /proc/self/stat incl. reaped children)
    * — the primitive the per-family ambient-cores measurement diffs.
    * (-1, -1) when unreadable (non-Linux), which disables the gate
    * with an explicit -1 in the emitted map rather than a fake 0.
    */
  private[graft] def cpuJiffies(): (Long, Long) = {
    val (b, s, _) = cpuJiffiesIo()
    (b, s)
  }

  /** [[cpuJiffies]] plus the machine-wide IOWAIT jiffies (field 5 of
    * /proc/stat's cpu line). Round 20 (VERDICT r19 #4): busy-jiffies
    * ambient EXCLUDES iowait by construction, so the r19 driver run's
    * IO/page-cache contention (d family 2.9×, streaming ingest 2.8×
    * over the quiet canonical) scored ambient ≈ 0 and the gate
    * certified a contaminated run quiet — iowait is recorded as its
    * own per-family column and bounded by the adoption gate alongside
    * ambient-cores.
    */
  private[graft] def cpuJiffiesIo(): (Long, Long, Long) =
    try {
      val stat = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      val cpu = stat.linesIterator.next().split("\\s+")
      // user nice system idle iowait irq softirq steal — busy = all but idle+iowait
      val busy = Seq(1, 2, 3, 6, 7, 8).map(i => cpu(i).toLong).sum
      val iow = cpu(5).toLong
      val self0 = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
      // comm (field 2) may contain spaces — parse after the closing paren
      val rest = self0.substring(self0.lastIndexOf(')') + 2).split(" ")
      // rest(11..14) = utime stime cutime cstime (1-based fields 14-17)
      val self = Seq(11, 12, 13, 14).map(i => rest(i).toLong).sum
      (busy, self, iow)
    } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** Cumulative PSI stall time in MICROSECONDS for one resource —
    * the `some ... total=N` counter of /proc/pressure/{cpu,io,memory}.
    * Diffed over each family's exact window (Δtotal / Δwall), this is
    * the precise stall fraction for that window — unlike the avg10
    * running averages, which lag 10 s behind a window boundary. -1
    * when PSI is unavailable (gate disabled explicitly, not faked 0).
    */
  private[graft] def psiTotals(): (Long, Long, Long) = {
    def one(res: String): Long =
      try {
        val s = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"/proc/pressure/$res"))
        """some .*total=(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(-1L)
      } catch { case _: Throwable => -1L }
    (one("cpu"), one("io"), one("memory"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    // Where the full per-query artifact lands. NOT the CWD: the repo
    // root holds the deliberately-committed canonical map under the
    // same name, and a local bench run must not silently overwrite it
    // (it is also the outlier-pass reference below).
    val outDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench")
    val canonicalPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_CANONICAL", "bench_queries.json")
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen, parquet footers, streaming state
    // store) so the first timed query doesn't absorb startup cost. The
    // warm-up stream goes through the ingest path the st queries use,
    // which also gives it its own checkpoint under the ingest root.
    Tables.names.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => () }
    }
    try {
      QueriesStreaming.fileIngest(spark, Seq(spark.range(2).toDF("v"))) { in =>
        in.groupBy("v").count()
          .writeStream.format("memory").queryName("__warmup").outputMode("complete").start()
      }
    } catch { case _: Throwable => () }
    // One-shot timings under a shared JVM are dominated by GC/JIT/run-order
    // noise (round-4 showed 3-18x swings on unchanged code). Protocol:
    // run each query `iters` times, report the MEDIAN and the MIN (the
    // min is the honest lower bound a noisy host cannot inflate — two
    // consecutive rounds of driver benches were host-distorted 3-30x
    // and only re-measurement exposed it). A throwing query is reported
    // as -1 with its name in "errors" — never as a plausible wall-time.
    def medianOf(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }
    // 1-minute load average — the machine's own testimony about whether
    // a window was quiet. Emitted per family so a distorted run carries
    // the evidence for its own rejection.
    def loadavg(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // The committed canonical per-query map (repo root), used as the
    // outlier-pass reference ([[parseCanonical]]). An empty parse means
    // the retry pass is DISARMED — say so loudly instead of silently
    // benching without outlier defense (that exact failure hid for two
    // rounds behind a pretty-printed rewrite of the file).
    val canonical: Map[String, Double] =
      try parseCanonical(java.nio.file.Files.readString(
        java.nio.file.Paths.get(canonicalPath)))
      catch { case _: Throwable => Map.empty }
    if (canonical.isEmpty)
      System.err.println(s"[bench] WARNING: no canonical entries parsed from " +
        s"$canonicalPath — the outlier retry pass is disarmed for this run")
    def timeQuery(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Seq[Double] =
      (0 until iters).flatMap { i =>
        val t0 = System.nanoTime()
        // toRdd.count(), not count(): count() collapses to count(1) and
        // Catalyst prunes unused projections/windows/sorts, so pure-
        // projection queries (t10's compiled scan, p14's pack window)
        // would bench as near-free parquet counts. toRdd materializes
        // every output column of the final plan — the operator's whole
        // work, plus the (cheap, bounded-output) compare-convention
        // ORDER BY.
        try { fn(spark, sfDir).queryExecution.toRdd.count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }
    // sorted-name order: Map iteration is hash-ordered, which shuffles
    // which query absorbs one-time warmup (codegen, streaming state
    // store) between runs — deterministic order makes rounds comparable
    // optional name-prefix filter (dev-only, mirrors Verify's third arg;
    // the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(name.startsWith) }
    var errors = List.empty[String]
    // a query that succeeds on SOME iterations silently degrades its
    // median toward a one-shot timing (exactly how the fixed-checkpoint
    // bug hid for a round) — surface it as loudly as a full failure
    var partial = List.empty[String]
    // GC quiesce at family boundaries: round-5 showed the v-family
    // 2.8x inflated ONLY when run after the GC-heavy st/t blocks in the
    // sorted catalog order (isolated runs match round-4 levels). A full
    // collection between prefix families stops one family's garbage
    // from being charged to the next; ~20 collections per run, cheap.
    def family(name: String): String = name.takeWhile(!_.isDigit)
    var prevFamily = ""
    val famLoad = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // per-family AMBIENT cores — other processes' CPU over the family's
    // exact window ((Δ/proc/stat busy − Δself) / Δwall), the adoption
    // gate's testimony (VERDICT r18 #3). Raw loadavg stays recorded
    // alongside but cannot gate: the bench's own 32-thread Spark work
    // inflates it past any honest bound (the quiet r17 canonical
    // recorded 7.11).
    val famAmb = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-family IOWAIT cores and PSI some-stall fractions (cpu/io/
    // memory), the contention classes the busy-jiffies ambient is
    // blind to (VERDICT r19 #4) — all diffed over the family's exact
    // window like the ambient itself
    val famIow = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val famPsi = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double)]
    var ambT0 = System.nanoTime()
    var ambJ0 = cpuJiffiesIo()
    var psi0 = psiTotals()
    def closeFamily(f: String): Unit = {
      famLoad(f) = (famLoad(f)._1, loadavg())
      val (b1, s1, io1) = cpuJiffiesIo()
      val p1 = psiTotals()
      val t1 = System.nanoTime()
      val dt = (t1 - ambT0) / 1e9
      famAmb(f) =
        if (ambJ0._1 < 0 || b1 < 0 || dt <= 0) -1.0
        else math.max(0.0, ((b1 - ambJ0._1) - (s1 - ambJ0._2)) / 100.0 / dt)
      famIow(f) =
        if (ambJ0._3 < 0 || io1 < 0 || dt <= 0) -1.0
        else math.max(0.0, (io1 - ambJ0._3) / 100.0 / dt)
      def frac(a: Long, b: Long): Double =
        if (a < 0 || b < 0 || dt <= 0) -1.0
        else math.max(0.0, (b - a) / 1e6 / dt)
      famPsi(f) = (frac(psi0._1, p1._1), frac(psi0._2, p1._2), frac(psi0._3, p1._3))
      ambT0 = t1; ambJ0 = (b1, s1, io1); psi0 = p1
    }
    var results = ordered.map { case (name, fn) =>
      if (family(name) != prevFamily) {
        if (prevFamily.nonEmpty) closeFamily(prevFamily)
        prevFamily = family(name)
        System.gc(); Thread.sleep(50)
        famLoad(prevFamily) = (loadavg(), -1.0)
      }
      val times = timeQuery(fn)
      if (times.isEmpty) { errors ::= name; name -> (-1.0, -1.0) }
      else {
        if (times.length < iters) partial ::= name
        name -> (medianOf(times), times.min)
      }
    }
    if (prevFamily.nonEmpty) closeFamily(prevFamily)
    // Outlier defense pass: any query whose median exceeds its committed
    // canonical entry by >3x (and isn't trivially small) is re-run once
    // at the end of the catalog — after whatever transient inflated it
    // has had the whole run to pass — and the better median kept. The
    // retry is flagged so the reader knows which numbers self-corrected.
    var retried = List.empty[String]
    // st queries get a tighter trigger (1.8x vs the canonical, the
    // round-9 directive): their fixed micro-batch overhead makes them
    // the family most often inflated by transient host load, and round
    // 9's st8 2.2x regression-that-wasn't sailed under the 3x rule.
    def retryFactor(name: String): Double = if (name.startsWith("st")) 1.8 else 3.0
    results = results.map { case (name, (med, mn)) =>
      canonical.get(name) match {
        case Some(c) if med > 0 && c > 0 && med > retryFactor(name) * c && med >= 0.75 =>
          retried ::= name
          System.gc(); Thread.sleep(50)
          val again = timeQuery(SparkEntry.queries(name))
          if (again.isEmpty) name -> (med, mn)
          else {
            val med2 = medianOf(again)
            name -> (math.min(med, med2), math.min(mn, again.min))
          }
        case _ => name -> (med, mn)
      }
    }
    // Cold ADC build wall (round 21, VERDICT r20 #2): v16/v16b serve
    // from ONE memoized index, so their medians above are warm serving
    // walls — iterations 2..n never pay the Lloyd trainings + corpus
    // encode. Measure the build separately: clear the memo ONCE at the
    // end and time a cold v16. Emitted as its own provenance column
    // (never added into "value"/"queries" — the per-query medians keep
    // their round-20 meaning), so the amortized cost stays visible and
    // round-over-round v16/v16b deltas are explainable. -1 when the
    // v-family was filtered out or the cold run failed.
    val adcBuildCold: Double =
      if (!ordered.exists(_._1 == "v16_ivfadc")) -1.0
      else try {
        QueriesVector.clearAdcMemo(spark, sfDir)
        val t0 = System.nanoTime()
        SparkEntry.queries("v16_ivfadc")(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
    // Locale.ROOT: f"%.3f" is locale-sensitive and a comma decimal
    // separator would emit invalid JSON. Millisecond precision keeps the
    // one-line JSON short enough for the driver's bounded tail capture.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def mapJson(f: ((String, (Double, Double))) => Double): String =
      results.map { case kv => "\"" + kv._1 + "\":" + fmt(f(kv)) }.mkString("{", ",", "}")
    val qs = mapJson(_._2._1)
    val mins = mapJson(_._2._2)
    val loads = famLoad.map { case (f, (b, a)) =>
      "\"" + f + "\":[" + fmt(b) + "," + fmt(a) + "]"
    }.mkString("{", ",", "}")
    val ambients = famAmb.map { case (f, v) =>
      "\"" + f + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val iowaits = famIow.map { case (f, v) =>
      "\"" + f + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    def psiJson(pick: ((Double, Double, Double)) => Double): String =
      famPsi.map { case (f, v) => "\"" + f + "\":" + fmt(pick(v)) }
        .mkString("{", ",", "}")
    val psiCpu = psiJson(_._1)
    val psiIo = psiJson(_._2)
    val psiMem = psiJson(_._3)
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // batch/streaming sub-totals: the st family is ~half the catalog
    // wall at sf0.1 and carries ±0.3 s/query of ingest-IO noise — split
    // the headline so round-over-round regressions are attributable to
    // the right family (the per-family retry rule above already applies
    // the tighter 1.8x st trigger).
    val (stRes, batchRes) = results.partition(_._1.startsWith("st"))
    val stTotal = stRes.map(_._2._1).filter(_ >= 0).sum
    val batchTotal = batchRes.map(_._2._1).filter(_ >= 0).sum
    val errJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val partJson = partial.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retryJson = retried.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver's capture is tail-bounded: round 5 lost the aggregate
    // fields to a head-truncated line. Aggregates therefore go AFTER the
    // queries map, and a second, short summary line goes LAST (the
    // headline totals plus per-family medians, below) so the headline
    // total always survives any truncation.
    val fullLine =
      s"""{"metric":"total","sf":"$sfDir","queries":$qs,"mins":$mins,"loadavg":$loads,"ambient":$ambients,"iowait":$iowaits,"psi_cpu":$psiCpu,"psi_io":$psiIo,"psi_mem":$psiMem,"value":${fmt(total)},"batch_total":${fmt(batchTotal)},"streaming_total":${fmt(stTotal)},"adc_build_cold":${fmt(adcBuildCold)},"unit":"sec","iters":$iters,"errors":$errJson,"partial":$partJson,"retried":$retryJson}"""
    // The per-query map ALSO goes to a file artifact: the captured
    // stdout line is head-truncated by the driver (round 6 kept only 70
    // of 99 medians) — <outDir>/bench_queries.json carries every median
    // regardless of any line-length limit. outDir (default target/bench)
    // keeps local runs from dirtying the committed canonical map.
    try {
      val dir = java.nio.file.Paths.get(outDir)
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve("bench_queries.json"), fullLine + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outDir/bench_queries.json: ${e.getMessage}")
    }
    println(fullLine)
    // Per-FAMILY medians on the LAST line (round 22, VERDICT r21 #2):
    // the driver's output capture is tail-bounded and the first line's
    // full 156-entry queries map gets head-truncated, which left the
    // driver's per-query regression comparison empty for two rounds
    // (PERF n_common = 0). The repo controls what survives truncation —
    // the final line — so it carries a SHORT queries map (18 family
    // keys ≈ 250 bytes, family = name's leading letters, median of the
    // family's per-query medians). Family keys are digit-free, so they
    // can never collide with real query names (which all carry digits);
    // the full per-query map still rides line 1 and the file artifact.
    // Nothing timed changes — this is measurement plumbing only.
    val famMed = results.groupBy { case (n, _) => family(n) }.toSeq.sortBy(_._1)
      .map { case (f, rs) =>
        val ok = rs.map(_._2._1).filter(_ >= 0)
        f -> (if (ok.isEmpty) -1.0 else medianOf(ok))
      }
    val famJson = famMed.map { case (f, v) => "\"" + f + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","queries":$famJson,"value":${fmt(total)},"batch_total":${fmt(batchTotal)},"streaming_total":${fmt(stTotal)},"adc_build_cold":${fmt(adcBuildCold)},"unit":"sec","iters":$iters,"errors":$errJson,"partial":$partJson,"retried":$retryJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
