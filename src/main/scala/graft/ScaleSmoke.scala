package graft

/** Empirical scale smoke (VERDICT r7 #2): run the iterative/wide
  * catalog queries at two or more scale-factor directories and emit
  * one JSON line per (dir, query) with raw per-iteration wall times,
  * the min, and — for d7 — the connected-components round count, so
  * SCALE.md's 100x argument carries executed evidence, not only a
  * plan audit. The 10x dataset comes from `scripts/gen_sf1.py`
  * (schema- and shape-matched to the driver's sf0.1; the smoke
  * measures scaling, not oracle hashes).
  *
  * Usage: runMain graft.ScaleSmoke <sfDir> [<sfDir> ...]
  * Env: SPARK_GRAFT_SMOKE_ITERS (default 2),
  *      SPARK_GRAFT_SMOKE_ONLY (comma-separated query names),
  *      SPARK_GRAFT_SMOKE_OUT (optional path: also write ONE JSON
  *      object query → {per-dir min seconds, last/first wall ratio} —
  *      the round artifact `SCALE_r{N}.json`, so scaling regressions
  *      are machine-diffable round over round, VERDICT r8 #6).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleSmoke <sfDir> [<sfDir> ...]")
    val iters = sys.env.getOrElse("SPARK_GRAFT_SMOKE_ITERS", "2").toInt.max(1)
    val names = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").toSeq).getOrElse(Seq(
        // the full SCALE.md smoke table: iterative/wide + the round-8 pack
        "d7_cc_dedup", "d8_keep_best", "t8_top_ngrams", "g4_find_threshold",
        "x1_char_bigram_tf", "k4_token_quantiles", "j6_range_join",
        "p12_bottomk_sample", "w5_cohort_retention", "d9_semantic_dedup",
        "t9_quality_filter", "v11_ivf_rerank", "p14_sequence_pack",
        "t10_dup_ngrams", "d10_shared_shingles", "t11_lm_score",
        "v12_prototypicality", "t12_bpe_merges", "w6_sliding_distinct",
        "v13_binary_hamming", "v14_hamming_bucketed",
        // round 11: the multi-table recall routes, the composed
        // pipeline (now including the PII scrub stage), and its
        // live streaming twin
        "v14b_hamming_multitable", "v14c_hamming_rotated",
        // round 14: the occupancy-targeted auto-width route — the
        // 100×-safe member of the v14 family (SCALE_100X_r14.json)
        "v14d_hamming_autowidth",
        // round 15: the cosine-family auto-width route (the cosineTopK
        // over-cap Auto fallback), the capped d5, and the corpus-scaled
        // IVF. v14e (multi-probe at FIXED p=6) is deliberately absent:
        // like v14b/v14c it is a bounded-corpus config — its fixed 64
        // buckets saturate at sf10 and the ×(1+p) probe expansion on
        // top is quadratic-times-seven (OOMs a default heap); at scale
        // multi-probe combines with the AUTO width instead (the
        // RecallLadder probe=1 rows)
        "v15_rhp_autowidth", "d5b_jaccard_capped",
        "v9b_int_ivf_auto", "v11b_ivf_rerank_auto",
        "e1_pipeline", "st26_streaming_pipeline",
        // round 16: the probed IVF recall lever, the capped st8/d8
        // pair, and the incremental-ingest pair (batch + stream-static)
        "v11c_ivf_probed", "st8_streaming_cc",
        "d11_incremental_dedup", "st27_streaming_incremental",
        // round 17: the capped streaming candidate feed, the
        // auto-width streaming ANN, the range family's sf10 rows, and
        // the prefix-sum range aggregate (j6's 100×-safe twin)
        "st6_streaming_neardup", "st25_streaming_ann",
        "st19_streaming_range_join", "j6b_range_agg_prefix",
        "v16_ivfadc",
        // round 18: the IVFADC serving composition (ADC shortlist +
        // exact rerank) — same cell-keyed scan as v16 plus a bounded
        // broadcast rerank
        "v16b_ivfadc_rerank",
        // round 13: the GRINCH family's first executed scale rows —
        // h4 is the scale path (one independent tree per label key in
        // parallel partitions, input grows 10×); h9/h11 are fixed
        // 200-point slices BY CONTRACT (single-tree semantics are
        // sequential, the reference's own execution shape), so their
        // sf1 rows pin constancy, not growth
        "h4_grinch_by_label", "h9_grinch_graft_tree", "h11_grinch_prune_cut"))
    val spark = GraftSession.builder("graft-scale-smoke")
      // the streaming harness queries land in MEMORY sinks (the test
      // sink — production would write files/Kafka), so at the 1000×
      // smoke their linear OUTPUT exceeds the 1g default result cap
      // (st6's capped candidate set hit it at sf100); the cap guards
      // accidental driver collects, which PlanAuditSpec already pins
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // mins(query)(dir) = min wall over iters, in args order
    val mins = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.LinkedHashMap[String, Double]]
    args.foreach { dir =>
      names.foreach { n =>
        System.gc(); Thread.sleep(50)
        val times = (0 until iters).map { _ =>
          val t0 = System.nanoTime()
          // toRdd.count(), not count(): count() collapses to count(1)
          // and lets Catalyst prune unused projections/windows, which
          // under-measures pure-projection queries (t10, p14). toRdd
          // materializes every output column of the final plan.
          SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
        val rounds =
          if (n == "d7_cc_dedup") s""","cc_rounds":${operators.Dedup.lastCcRounds}"""
          else ""
        println(s"""{"smoke":"$n","sf":"$dir","min":${fmt(times.min)},"times":[${times.map(fmt).mkString(",")}]$rounds}""")
        mins.getOrElseUpdate(n, scala.collection.mutable.LinkedHashMap.empty)
          .update(dir, times.min)
      }
    }
    sys.env.get("SPARK_GRAFT_SMOKE_OUT").foreach { out =>
      def base(d: String) = d.stripSuffix("/").split("/").last
      val body = mins.map { case (n, byDir) =>
        val dirs = byDir.map { case (d, v) => s""""${base(d)}": ${fmt(v)}""" }.mkString(", ")
        val ratio =
          if (byDir.size >= 2) s""", "ratio": ${fmt(byDir.values.last / byDir.values.head)}"""
          else ""
        s"""  "$n": {$dirs$ratio}"""
      }.mkString("{\n", ",\n", "\n}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), body + "\n")
      println(s"[smoke] wrote $out")
    }
    // close RocksDB/HDFS state-store providers while the JVM is
    // quiescent — keeps the rocksdbjni native close out of the fragile
    // shutdown window (VERDICT r20 #6; see StreamingShutdown)
    StreamingShutdown.closeStateStores()
    spark.stop()
  }
}
