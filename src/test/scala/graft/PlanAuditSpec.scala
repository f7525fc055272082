package graft

/** The round-7/round-8 manual `graft.Explain` plan audits, frozen as
  * CI: every BATCH catalog query's physical plan must contain
  *  - NO CartesianProduct, ever (the bucketized joins j6/j7/st19 exist
  *    exactly so no-equi-key shapes never nested-loop the corpus), and
  *  - SinglePartition exchanges / BroadcastNestedLoopJoin only where
  *    classified below with the reason the shape is scale-safe.
  *
  * A new query that accidentally plans a cartesian corpus join or an
  * unclassified global serialization fails here, with its name.
  *
  * Plans are audited at sf0.001 (shape smoke — join strategies can
  * only get MORE distributed as stats grow past broadcast thresholds;
  * the per-query scale assertions at real sizes live in the operator
  * specs: QualitySpec/JoinSpec/FunnelSpec plan asserts). Streaming
  * harness queries (st*) execute MemoryStream runs at build time and
  * read back memory tables — their batch-side shapes are audited via
  * their batch twins, so they are skipped here.
  */
class PlanAuditSpec extends SparkSpec {

  /** Batch queries whose plan legitimately serializes to one partition. */
  private val singlePartitionOk: Map[String, String] = Map(
    "a5_conflated_divided" -> "global rollup over the aggregated cluster relation",
    "a6_census" -> "census over the aggregated (bounded) cluster-size histogram",
    "a8_max_active" -> "global max over per-day aggregates (bounded by #days)",
    "c9_string_match" -> "dict window over the aggregated distinct-name relation",
    "c10_oracle_wd" -> "dict window over the aggregated composite-key relation",
    "g1_greedy_nn" -> "DELIBERATE repartition(1): the reference's sequential fold semantics; per-key parallel twin is g2",
    "g3_greedy_diversity_cache" -> "deliberate sequential fold (bounded eviction store)",
    "g5_scalar_cluster" -> "deliberate sequential fold (baseline.py's unmasked scalar loop)",
    "h1_grinch_flat" -> "GRINCH tree automaton: one insert stream by definition; per-key twin is h4",
    "h2_grinch_dendrogram" -> "GRINCH tree automaton",
    "h5_grinch_int_tree" -> "GRINCH tree automaton (restricted integer config)",
    "h7_grinch_rotate_tree" -> "GRINCH tree automaton (rotate-enabled)",
    "h8_grinch_prune_tree" -> "GRINCH tree automaton (memory-bounded)",
    "h9_grinch_graft_tree" -> "GRINCH tree automaton (graft-enabled)",
    "h10_grinch_tree_cut" -> "threshold cut walks the single replayed tree",
    "h11_grinch_prune_cut" -> "threshold cut walks the single memory-bounded tree",
    "j6b_range_agg_prefix" -> "EXCLUSIVE prefix window over per-bucket TOTALS — one row per active 10-min epoch bucket (timeline-sized, not corpus-sized; the dictEncode argument), broadcast back onto the bucket-partitioned union",
    "k4_token_quantiles" -> "cumulative window over the bounded value histogram (<= max doc len rows); grouped twin k5 has none",
    "p7_dict_encode" -> "window over the aggregated dictionary (bounded distinct terms); distributed twin is p7b",
    "s4_zeshel" -> "global order index over one bounded source file",
    "v11c_ivf_probed" -> "Spark-injected runtime bloom filter on the selective probe->float join: a one-row bloom_filter_agg (bounded 8 MB buffer), not a data-path serialization")

  /** Batch queries whose plan legitimately broadcast-nested-loop joins
    * (always a bounded broadcast side: literals, one-row aggregates,
    * fitted codebooks — never corpus x corpus).
    */
  private val bnljOk: Map[String, String] = Map(
    "a5_conflated_divided" -> "one-row totals crossed back",
    "a13_triplets" -> "negative sampling vs the broadcast entity dimension",
    "d9_semantic_dedup" -> "broadcast cell representatives (nCells rows)",
    "k2_hll_distinct" -> "literal register-index array cross",
    "k4_token_quantiles" -> "literal percentile array x one-row total",
    "k5_grouped_quantiles" -> "literal percentile array x bounded per-stratum totals",
    "t5_decontamination" -> "broadcast benchmark shingle sets (bounded benchmark)",
    "t9_quality_filter" -> "broadcast per-language thresholds (#langs rows)",
    "t12_bpe_merges" -> "broadcast learned top-1 merge rule (one row)",
    "e1_pipeline" -> "broadcast benchmark shingle sets (t5's decontamination stage)",
    "w6_sliding_distinct" -> "64-row bucket-grid cross + broadcast day dimension (bounded by #days)",
    "v1_cosine_topk" -> "bounded broadcast query side (absolute row cap, LSH fallback past it)",
    "v3_gram_pairs" -> "bounded broadcast query side",
    "v4_blend_scores" -> "bounded broadcast query side",
    "v9_int_ivf" -> "broadcast centroids (nCells rows)",
    "v9b_int_ivf_auto" -> "broadcast centroids (auto nCells, clamped <= 4096 rows)",
    "v11b_ivf_rerank_auto" -> "broadcast centroids (auto nCells, clamped <= 4096 rows), cell-bounded candidates",
    "v11c_ivf_probed" -> "broadcast centroids (auto nCells, clamped <= 4096 rows) in both the build and the query-side probe ranking; probed candidates stay cell-bounded (nProbe x occupancy)",
    "v10_pq_topk" -> "broadcast sub-codebooks (M x k rows) + literal distance table",
    "v16_ivfadc" -> "broadcast coarse centroids (auto nCells <= 4096 rows) in the build, the residual transform, and the query-side probe ranking; broadcast residual sub-codebooks (M x k rows); ADC scores read a literal codebook array — candidates stay cell-bounded (nProbe x occupancy)",
    "v16b_ivfadc_rerank" -> "v16's bounded broadcasts (coarse centroids, stride-trained residual codebooks as a LOCAL relation, ADC literal) plus the broadcast ADC shortlist (queries x 32 rows) feeding the float rerank — never corpus x corpus",
    "v11_ivf_rerank" -> "broadcast centroids, cell-bounded candidates",
    "v12_prototypicality" -> "broadcast cell centroids (nCells rows)",
    "v13_binary_hamming" -> "bounded broadcast query side over the 8-byte code scan")

  test("one session factory: no builder outside GraftSession, test session = GraftSession + named overrides") {
    // the plans this suite audits must be the plans Bench times and
    // Explain prints — all of them come from one GraftSession.builder
    import scala.jdk.CollectionConverters._
    val builderCall = """SparkSession\s*\.\s*builder""".r
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    sources.size should be > 50 // the scan must actually see the tree
    val text = sources.map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
    text.collect { case (f, t) if builderCall.findFirstIn(t).isDefined => f } shouldBe
      Seq("GraftSession.scala")
    // and only the factory reads the thread-count knob
    text.collect { case (f, t) if t.contains("\"SPARK_GRAFT_CPUS\"") => f } shouldBe
      Seq("GraftSession.scala")
    // SPARK_GRAFT_* env knobs belong to the entry points, never to
    // query code, and only the ingest harness (streaming partitions and
    // state-store provider) and Bench (per-run checkpoint dir) change
    // the session conf at runtime
    val mainText = sources.zip(text).collect { case (p, ft) if p.startsWith("src/main") => ft }
    val envRead = """(sys\.env\S*|System\.getenv)\(\s*"SPARK_GRAFT_""".r
    mainText.collect { case (f, t) if envRead.findFirstIn(t).isDefined => f }.sorted shouldBe
      Seq("Bench.scala", "GraftSession.scala", "RecallLadder.scala", "ScaleSmoke.scala")
    mainText.collect { case (f, t) if t.contains("conf.set(") => f }.sorted shouldBe
      Seq("Bench.scala", "QueriesStreaming.scala")
    // launch-time spark.sql.* settings (the SparkContext's conf, which
    // no test's runtime spark.conf.set can touch)
    val launched = spark.sparkContext.getConf.getAll.toMap
      .filter(_._1.startsWith("spark.sql.")) -- SparkSpec.sqlOverrides
    launched shouldBe GraftSession.sqlConf -- SparkSpec.sqlOverrides
  }

  test("scans prune columns and push filters (representative queries)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    // column pruning: p12 touches only (doc_id, lang) — the 30x-larger
    // text column must never reach the scan
    val p12 = SparkEntry.queries("p12_bottomk_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    p12 should include ("ReadSchema: struct<doc_id:bigint,lang:string>")
    // predicate pushdown: q1's shipdate filter reaches the parquet scan
    val q1 = SparkEntry.queries("q1_pricing")(spark, dir)
      .queryExecution.executedPlan.toString
    q1 should include ("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate,")
  }

  test("batch catalog: no CartesianProduct; SinglePartition/BNLJ only where classified") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val batch = SparkEntry.queries.toSeq.sortBy(_._1).filterNot(_._1.startsWith("st"))
    batch.length should be > 100 // the audit must actually see the catalog
    batch.foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      withClue(s"$name: ") {
        (plan should not).include("CartesianProduct")
        if (!singlePartitionOk.contains(name))
          (plan should not).include("Exchange SinglePartition")
        if (!bnljOk.contains(name))
          (plan should not).include("BroadcastNestedLoopJoin")
      }
    }
  }
}
