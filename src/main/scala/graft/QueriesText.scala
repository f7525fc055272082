package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.TextFunctions.P
import graft.operators.Dedup

/** Text-analysis + deduplication query catalog (the LLM-training-data
  * pipeline pack) over the `documents` table. Every hash is integer
  * mod-p and every ratio a single division of exact integers, so each
  * query hash-matches its DuckDB oracle bit-for-bit.
  */
object QueriesText {
  import QueriesRelational.Q

  private[graft] val dedupK = 16
  private[graft] val dedupR = 2
  private def nBands = dedupK / dedupR
  // declared BEFORE every SQL val that interpolates them: a forward
  // reference inside one object initializes as 0 and silently bakes
  // "% 0" into the oracle text (bit us once with e1's pack fragment)
  private[graft] val packShards = 8
  private[graft] val packSeqLen = 64

  /** Shared DuckDB SQL fragments (kept textually in one place so every
    * oracle reproduces the exact same mod-p hash pipeline).
    */
  private val sqlToks = "string_split(text, ' ')"
  /** DuckDB mod-p polynomial string hash of `expr`.
    *
    * The char-index lambda variable is `ci`: if `expr` itself contains a
    * lambda variable (e.g. the shingle index `i` of an enclosing
    * list_transform), an inner `i` would SHADOW it and silently hash the
    * wrong substring — always hash a bound variable (two-stage
    * transform), never an expression containing an outer lambda var.
    */
  private def sqlStrHash(expr: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, length($expr)), " +
      s"ci -> ascii(substring($expr, ci, 1))::BIGINT)), (acc, x) -> (acc*31 + x) % $P)"
  // ---------------------------------------------------------------- t1
  // Token counting + quality scoring (whitespace tokens, BPE-ish regex
  // subtokens, exact-integer ratios).
  val t1TokenQuality: Q = (s, dir) => {
    val toks = TextFunctions.tokens(col("text"))
    val nToks = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val stopCnt = TextFunctions.stopwordCount(toks).cast("long")
    val alphaChars = length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        nToks.as("n_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("n_subtokens"),
        (sumLen.cast("double") / nToks.cast("double")).as("mean_token_len"),
        stopCnt.as("n_stopwords"),
        (stopCnt.cast("double") / nToks.cast("double")).as("stopword_ratio"),
        (alphaChars.cast("double") / col("n_chars").cast("double")).as("alpha_ratio"),
        (nToks.between(5, 1000) && stopCnt * 20 >= nToks).as("quality_pass"))
      .orderBy("doc_id")
  }

  val t1TokenQualitySql: String =
    s"""SELECT doc_id,
       |       len($sqlToks) AS n_tokens,
       |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens,
       |       cast(list_reduce(list_prepend(0::BIGINT, list_transform($sqlToks, t -> length(t)::BIGINT)), (acc, x) -> acc + x) as double)
       |         / cast(len($sqlToks) as double) AS mean_token_len,
       |       len(list_filter($sqlToks, t -> list_contains(['the','a','of','and','to','in','is','on'], t))) AS n_stopwords,
       |       cast(len(list_filter($sqlToks, t -> list_contains(['the','a','of','and','to','in','is','on'], t))) as double)
       |         / cast(len($sqlToks) as double) AS stopword_ratio,
       |       cast(length(regexp_replace(text, '[^a-z]', '', 'g')) as double) / cast(n_chars as double) AS alpha_ratio,
       |       (len($sqlToks) BETWEEN 5 AND 1000)
       |         AND len(list_filter($sqlToks, t -> list_contains(['the','a','of','and','to','in','is','on'], t))) * 20 >= len($sqlToks) AS quality_pass
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t2
  // Language-ID by marker-token vote (n-gram heuristic), first-max-wins
  // over lexicographically sorted languages, 'und' on zero hits.
  val t2LangId: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.langId(TextFunctions.tokens(col("text"))).as("lang_pred"))
      .orderBy("doc_id")

  val t2LangIdSql: String = {
    def hits(l: String): String = {
      val markers = TextFunctions.langMarkers(l).map(m => s"'$m'").mkString(", ")
      s"len(list_filter($sqlToks, t -> list_contains([$markers], t)))"
    }
    val langs = TextFunctions.langMarkers.keys.toSeq.sorted
    val hitCols = langs.map(l => s"${hits(l)} AS h_$l").mkString(", ")
    val m = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
    val cases = langs.init.map(l => s"WHEN h_$l = m THEN '$l'").mkString(" ")
    s"""SELECT doc_id,
       |       CASE WHEN m = 0 THEN 'und' $cases ELSE '${langs.last}' END AS lang_pred
       |FROM (SELECT doc_id, $m AS m, * FROM (SELECT doc_id, $hitCols FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t3
  // Order-sensitive document fingerprint (rolling hash over token hashes).
  val t3Fingerprint: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.fingerprint(TextFunctions.tokens(col("text"))).as("fp"))
      .orderBy("doc_id")

  val t3FingerprintSql: String =
    s"""SELECT doc_id,
       |       list_reduce(list_prepend(0::BIGINT, list_transform($sqlToks, t -> ${sqlStrHash("t")})),
       |                   (acc, h) -> (acc*131 + h) % $P) AS fp
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t4
  // BPE-ish sub-word token count: RE2-compatible GPT-2-style
  // pretokenizer regex, identical counts on both engines.
  val t4BpeTokens: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  val t4BpeTokensSql: String =
    s"""SELECT doc_id, len(regexp_extract_all(text, '${TextFunctions.bpeishPattern}')) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d1
  // Exact deduplication: canonical = min doc_id per identical text.
  val d1ExactDedup: Q = (s, dir) =>
    Dedup.exactDedup(Tables.load(s, dir, "documents"), col("text"), col("doc_id"))
      .select(col("doc_id"), col("canonical_id"), col("is_dup"))
      .orderBy("doc_id")

  val d1ExactDedupSql: String =
    """SELECT doc_id,
      |       min(doc_id) OVER (PARTITION BY text) AS canonical_id,
      |       doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Shared Spark-side shingle set (3-token shingles, hashed, distinct). */
  private def shingleSet = TextFunctions.shingleHashes(TextFunctions.tokens(col("text")), 3)

  /** Shared DuckDB-side shingle-set fragment matching [[shingleSet]]:
    * stage 1 builds the shingle strings (index var `i`), stage 2 hashes
    * each bound string `sstr` — see the shadowing note on sqlStrHash.
    */
  private val sqlHs: String =
    s"list_distinct(list_transform(" +
      s"list_transform(generate_series(1, greatest(len($sqlToks)-2, 0)), i -> array_to_string(list_slice($sqlToks, i, i+2), ' ')), " +
      s"sstr -> ${sqlStrHash("sstr")}))"

  /** Shared DuckDB CTEs: per-doc shingle sets + minhash band hashes. */
  private val sqlBandCtes: String =
    s"""sh AS (SELECT doc_id, $sqlHs AS hs FROM documents),
       |sig AS (SELECT doc_id, list_transform(generate_series(0, ${dedupK - 1}),
       |  j -> list_reduce(list_prepend($P::BIGINT, hs), (acc, x) -> least(acc, ((j*2+1)*x + j*7919 + 1) % $P))) AS sig
       |  FROM sh),
       |bands AS (SELECT doc_id, b AS band, (sig[${dedupR}*b+1] * 31 + sig[${dedupR}*b+2]) % $P AS band_hash
       |  FROM sig, generate_series(0, ${nBands - 1}) AS t(b))""".stripMargin

  /** DuckDB replay of [[Dedup.bucketGuard]]: `kept` holds the band rows
    * of buckets with at most `cap` members. */
  private def sqlKept(cap: Int): String =
    s"""bsz AS (SELECT band, band_hash, count(*) AS n FROM bands GROUP BY 1, 2),
       |kept AS (SELECT bands.* FROM bands JOIN bsz USING (band, band_hash)
       |  WHERE bsz.n <= $cap)""".stripMargin

  /** DuckDB replay of [[Dedup.lshCandidatePairs]]: `cand` holds the
    * distinct (doc_a < doc_b) pairs sharing a band hash, over the bands
    * kept under cap `cap` (all bands at `cap <= 0`). */
  private def sqlCand(cap: Int): String = {
    val (guard, rel) = if (cap > 0) (sqlKept(cap) + ",\n", "kept") else ("", "bands")
    s"""${guard}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM $rel a JOIN $rel b ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** DuckDB exact Jaccard(x.hs, y.hs) ≥ 1/2, cross-multiplied like
    * `Dedup.jaccardAtLeast`. */
  private val sqlJaccardHalf: String =
    "len(list_intersect(x.hs, y.hs)) * 2 >= (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) * 1"

  /** The verified J ≥ 1/2 near-dup pairs over the documents' shingle
    * sets under bucket cap `cap` (0 = uncapped): d3/d3b's rows and the
    * d7/d8/st8 edge build. */
  private def nearDupPairs(docs: DataFrame, cap: Int): DataFrame = {
    val sets = Dedup.shingleSets(docs, col("doc_id"), shingleSet)
    val bands = Dedup.minHashBandsFromSets(sets, dedupK, dedupR)
    Dedup.nearDupPairsFromSets(sets, bands, 1, 2, maxBucket = cap)
  }

  // ---------------------------------------------------------------- d2
  // MinHash LSH banding: k=16 hashes, 8 bands of 2 rows.
  val d2MinhashBands: Q = (s, dir) =>
    Dedup.minHashBands(Tables.load(s, dir, "documents"), col("doc_id"), shingleSet, dedupK, dedupR)
      .select(col("doc").as("doc_id"), col("band").cast("long").as("band"), col("band_hash"))
      .orderBy("doc_id", "band")

  val d2MinhashBandsSql: String =
    s"""WITH $sqlBandCtes
       |SELECT doc_id, band, band_hash FROM bands ORDER BY doc_id, band""".stripMargin

  // ---------------------------------------------------------------- d3
  // Near-duplicate detection: LSH candidates verified by exact Jaccard
  // >= 1/2 over the shingle sets (the n-gram Jaccard + MinHash+LSH pair).
  // d3 and d3b are one body; the cap is its one parameter.
  private def nearDupQ(cap: Int): Q = (s, dir) =>
    nearDupPairs(Tables.load(s, dir, "documents"), cap).orderBy("doc_a", "doc_b")

  private def nearDupSql(cap: Int): String =
    s"""WITH $sqlBandCtes,
       |${sqlCand(cap)}
       |SELECT doc_a, doc_b,
       |       len(list_intersect(x.hs, y.hs))::BIGINT AS j_num,
       |       (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))::BIGINT AS j_den,
       |       cast(len(list_intersect(x.hs, y.hs)) as double)
       |         / cast(len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) as double) AS jaccard
       |FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
       |WHERE $sqlJaccardHalf
       |ORDER BY doc_a, doc_b""".stripMargin

  val d3MinhashNeardup: Q = nearDupQ(0)
  val d3MinhashNeardupSql: String = nearDupSql(0)

  // --------------------------------------------------------------- d3b
  // d3 with the occupancy guard (lshCandidatePairs maxBucket=64): band
  // buckets with more than 64 members — degenerate band hashes that
  // carry almost no similarity evidence — are dropped before the pair
  // self-join. The d-family analog of v14d: SCALE_100X_r14.json showed
  // d3 going ~quadratic (123× at 100× data) when bounded content
  // cardinality saturates buckets; the cap restores the linear shape
  // while true near-dup pairs keep their non-degenerate bands. The cap
  // is a no-op at the tiny gate sf (all buckets small) and bites at
  // sf10 — the oracle replays the filter either way.
  private[graft] val d3bMaxBucket = 64

  val d3bMinhashCapped: Q = nearDupQ(d3bMaxBucket)
  val d3bMinhashCappedSql: String = nearDupSql(d3bMaxBucket)

  // ---------------------------------------------------------------- d4
  // SimHash (16-bit) per document over token hashes.
  val d4Simhash: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.simHash(TextFunctions.tokens(col("text")), 16).as("simhash"))
      .orderBy("doc_id")

  val d4SimhashSql: String =
    s"""WITH th AS (SELECT doc_id, list_transform($sqlToks, t -> ${sqlStrHash("t")}) AS th FROM documents)
       |SELECT doc_id,
       |  list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(0, 15), k -> k::BIGINT)),
       |    (acc, k) -> acc + CASE WHEN
       |        list_reduce(list_prepend(0::BIGINT, th),
       |          (a, h) -> a + CASE WHEN (h >> k::INT) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |      THEN (1::BIGINT << k::INT) ELSE 0 END) AS simhash
       |FROM th ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d5
  // Character-trigram Jaccard over the LSH candidate pairs (char-shingle
  // near-dup lens; the blocker is shared with d3). d5 and d5b are one
  // body; the cap is its one parameter. The trigram sets go through
  // shingleSets, so the trigram hash expression is materialized once
  // behind its exchange, never re-inlined into both join sides.
  private def triJaccardQ(cap: Int): Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val bands = Dedup.minHashBands(docs, col("doc_id"), shingleSet, dedupK, dedupR)
    val tri = Dedup.shingleSets(docs, col("doc_id"), TextFunctions.charNgramHashes(col("text"), 3))
    Dedup.jaccardCounts(Dedup.lshCandidatePairs(bands, cap), tri, "doc_a", "doc_b")
      .select(col("doc_a"), col("doc_b"), col("j_num").as("t_num"), col("j_den").as("t_den"),
        Dedup.jaccardRatio.as("tri_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB character-trigram hash set matching `charNgramHashes(text, 3)`. */
  private val sqlTri: String =
    s"list_distinct(list_transform(" +
      s"list_transform(generate_series(1, greatest(length(text)-2, 0)), i -> substring(text, i, 3)), " +
      s"sstr -> ${sqlStrHash("sstr")}))"

  private def triJaccardSql(cap: Int): String =
    s"""WITH $sqlBandCtes,
       |${sqlCand(cap)},
       |tri AS (SELECT doc_id, $sqlTri AS tri FROM documents)
       |SELECT doc_a, doc_b,
       |       len(list_intersect(x.tri, y.tri))::BIGINT AS t_num,
       |       (len(x.tri) + len(y.tri) - len(list_intersect(x.tri, y.tri)))::BIGINT AS t_den,
       |       cast(len(list_intersect(x.tri, y.tri)) as double)
       |         / cast(len(x.tri) + len(y.tri) - len(list_intersect(x.tri, y.tri)) as double) AS tri_jaccard
       |FROM cand JOIN tri x ON x.doc_id = doc_a JOIN tri y ON y.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  val d5NgramJaccard: Q = triJaccardQ(0)
  val d5NgramJaccardSql: String = triJaccardSql(0)

  // --------------------------------------------------------------- d5b
  // d5 with the occupancy guard (lshCandidatePairs maxBucket=64) — the
  // same one-parameter fix d3b applied to d3: SCALE_100X_r14.json
  // measured d5 at 192× wall at 100× data from the identical
  // saturating-bucket cause (bounded content cardinality ⇒ band
  // buckets saturate ⇒ in-bucket candidate pairs grow quadratically).
  // Oversize collision buckets are degenerate band hashes carrying
  // almost no similarity evidence; dropping them pre-join restores the
  // linear shape while true near-dup pairs keep their non-degenerate
  // bands. No-op at the tiny gate sf (all buckets small), bites at
  // sf10 — the oracle replays the bucket-size filter either way (the
  // same bsz/kept CTE as d3b).
  private val d5bMaxBucket = 64

  val d5bJaccardCapped: Q = triJaccardQ(d5bMaxBucket)
  val d5bJaccardCappedSql: String = triJaccardSql(d5bMaxBucket)

  // ---------------------------------------------------------------- t6
  // Repetition detection (degenerate-text quality signal): the most
  // frequent token trigram's share of all trigram occurrences. A
  // looping generator or boilerplate-heavy doc scores near 1; natural
  // text stays low.
  //
  // Scale shape: the ratio is a PER-DOCUMENT quantity, so it never
  // leaves the row — one compiled pass over the token array counts each
  // n-tuple in a hash map ([[graft.functions.RepetitionStats]]; O(d) per
  // row, zero shuffles; an exploded (doc, trigram) aggregation would
  // shuffle the whole reshingled corpus twice). The oracle computes the
  // same counts by unnest+GROUP BY — max map count == max group count.
  val t6Repetition: Q = (s, dir) => {
    val folded = TextFunctions.repetitionStats(TextFunctions.tokens(col("text")), 3)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), folded.as("f"))
      .where(col("f.n_tris") > 0)
      .select(col("doc_id"), col("f.max_rep").as("max_rep"), col("f.n_tris").as("n_tris"),
        (col("f.max_rep").cast("double") / col("f.n_tris").cast("double")).as("rep_ratio"),
        (col("f.max_rep") * 10 >= col("f.n_tris")).as("repetitive"))
      .orderBy("doc_id")
  }

  val t6RepetitionSql: String =
    s"""WITH tris AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, greatest(len($sqlToks)-2, 0)),
       |    i -> array_to_string(list_slice($sqlToks, i, i+2), ' '))) AS tri
       |  FROM documents),
       |counts AS (SELECT doc_id, tri, count(*) AS c FROM tris GROUP BY doc_id, tri)
       |SELECT doc_id, max(c) AS max_rep, cast(sum(c) as bigint) AS n_tris,
       |       cast(max(c) as double) / cast(sum(c) as double) AS rep_ratio,
       |       max(c) * 10 >= cast(sum(c) as bigint) AS repetitive
       |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- p10
  // Deterministic stratified sampling (data mixing): per-language keep
  // rates applied by seeded integer hash of the row id — reproducible
  // across runs, partitionings, and engines; a pure map-side filter.
  private val sampleRates = Map("en" -> 60, "de" -> 40, "zh" -> 25)

  val p10StratifiedSample: Q = (s, dir) =>
    graft.operators.Sampling.stratifiedSample(
      Tables.load(s, dir, "documents"), col("lang"), col("doc_id"),
      sampleRates, defaultRate = 10)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  val p10StratifiedSampleSql: String = {
    val rateCase = "CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 40 WHEN 'zh' THEN 25 ELSE 10 END"
    s"""SELECT doc_id, lang FROM documents
       |WHERE ((((doc_id % $P) * 2654435761 + 42) % $P + $P) % $P) % 100 < $rateCase
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- p11
  // Deterministic per-stratum quota sampling (fixed per-language budget,
  // the complement of p10's rate-based mix): EXACTLY k docs per lang in
  // seeded-hash order. The rank<=k filter compiles to WindowGroupLimit —
  // map-side top-k per stratum BEFORE the one stratum-key shuffle
  // (QualitySpec asserts the plan node), so the exchange carries
  // O(#strata × k) rows, not the corpus.
  private val quotaK = 8

  val p11QuotaSample: Q = (s, dir) =>
    graft.operators.Sampling.quotaSample(
      Tables.load(s, dir, "documents"), col("lang"), col("doc_id"), quotaK, seed = 7L)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  val p11QuotaSampleSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |         row_number() OVER (
       |           PARTITION BY lang
       |           ORDER BY (((doc_id % $P) * 2654435761 + 7) % $P + $P) % $P, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= $quotaK ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- p12
  // Deterministic global uniform k-sample — the reservoir-sampling
  // primitive ("exactly k docs, uniformly") as bottom-k by seeded hash:
  // mergeable, so the plan is TakeOrderedAndProject (each partition
  // forwards its own k, no global sort — QualitySpec asserts the node)
  // and the streaming twin st21 keeps exactly k rows of state. Same
  // Knuth-mix hash as p10/p11 ⇒ the oracle replays the selection.
  private[graft] val bottomK = 120

  val p12BottomkSample: Q = (s, dir) =>
    graft.operators.Sampling.bottomKSample(
      Tables.load(s, dir, "documents"), col("doc_id"), bottomK, seed = 11L)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  val p12BottomkSampleSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang FROM documents
       |  ORDER BY (((doc_id % $P) * 2654435761 + 11) % $P + $P) % $P, doc_id
       |  LIMIT $bottomK)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- k4
  // Exact corpus length-distribution percentiles (p50/p90/p95/p99 of
  // whitespace token counts) — the k-family EXACT aggregate next to k2's
  // HLL and k3's CMS estimates: the value histogram collapses the corpus
  // map-side (partial agg over ≤ max-doc-len distinct values), the
  // cumulative window runs over that aggregated relation only, and the
  // percentile rank is pure integer arithmetic (smallest v with
  // cum ≥ ⌈p·N/100⌉, no interpolation) so DuckDB reproduces it
  // bit-for-bit.
  private[graft] val k4Pcts = Seq(50, 90, 95, 99)

  val k4TokenQuantiles: Q = (s, dir) =>
    graft.operators.Quantiles.histogramQuantiles(
      s, Tables.load(s, dir, "documents"),
      size(TextFunctions.tokens(col("text"))), k4Pcts, "n_tokens")

  val k4TokenQuantilesSql: String =
    s"""WITH tok AS (SELECT len($sqlToks)::BIGINT AS v FROM documents),
       |hist AS (SELECT v, count(*)::BIGINT AS c FROM tok GROUP BY v),
       |cum AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
       |tot AS (SELECT count(*)::BIGINT AS n FROM tok),
       |pcts AS (SELECT unnest([${k4Pcts.mkString(", ")}]::BIGINT[]) AS pct)
       |SELECT pct, min(v)::BIGINT AS n_tokens
       |FROM cum, tot, pcts WHERE cum >= (pct * n + 99) // 100
       |GROUP BY pct ORDER BY pct""".stripMargin

  // ---------------------------------------------------------------- k5
  // Per-stratum exact percentiles (per-language token-count p50/p90/
  // p95/p99) — k4's grouped generalization and the better scale shape:
  // the cumulative window partitions BY LANG, so there is no
  // single-partition exchange anywhere in the plan (asserted in
  // QualitySpec) — histogram partial-agg on (lang, v), cumsum within
  // stratum, bounded per-stratum totals broadcast back.
  val k5GroupedQuantiles: Q = (s, dir) =>
    graft.operators.Quantiles.groupedHistogramQuantiles(
      s, Tables.load(s, dir, "documents"), col("lang"),
      size(TextFunctions.tokens(col("text"))), k4Pcts, "n_tokens")
      .withColumnRenamed("g", "lang")

  val k5GroupedQuantilesSql: String =
    s"""WITH tok AS (SELECT lang, len($sqlToks)::BIGINT AS v FROM documents),
       |hist AS (SELECT lang, v, count(*)::BIGINT AS c FROM tok GROUP BY lang, v),
       |cum AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
       |tot AS (SELECT lang, count(*)::BIGINT AS n FROM tok GROUP BY lang),
       |pcts AS (SELECT unnest([${k4Pcts.mkString(", ")}]::BIGINT[]) AS pct)
       |SELECT cum.lang, pct, min(v)::BIGINT AS n_tokens
       |FROM cum JOIN tot ON cum.lang = tot.lang CROSS JOIN pcts
       |WHERE cum.cum >= (pct * n + 99) // 100
       |GROUP BY cum.lang, pct ORDER BY cum.lang, pct""".stripMargin

  // ---------------------------------------------------------------- t9
  // Per-stratum quality-percentile filter — the data-mixing FILTER the
  // sampling ops (p10-p12) complement: keep a document only if its
  // token count reaches its own LANGUAGE's median, so one verbose
  // language cannot set the bar for another (the per-language
  // threshold is how real pipelines apply quality cutoffs across
  // mixed-language corpora). Composes k5's one-pass grouped histogram
  // quantiles; the threshold relation is #langs rows joined back
  // broadcast — two corpus scans total (histogram + filter), no
  // per-row state, no window over the corpus.
  val t9QualityFilter: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val nToks = size(TextFunctions.tokens(col("text"))).cast("long")
    val p50 = graft.operators.Quantiles.groupedHistogramQuantiles(
      s, docs, col("lang"), nToks, Seq(50), "lang_p50")
      .select(col("g").as("lang"), col("lang_p50"))
    docs.select(col("doc_id"), col("lang"), nToks.as("n_tokens"))
      .join(broadcast(p50), "lang")
      .where(col("n_tokens") >= col("lang_p50"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("lang_p50"))
      .orderBy("doc_id")
  }

  val t9QualityFilterSql: String =
    s"""WITH tok AS (SELECT doc_id, lang, len($sqlToks)::BIGINT AS v FROM documents),
       |hist AS (SELECT lang, v, count(*)::BIGINT AS c FROM tok GROUP BY lang, v),
       |cum AS (SELECT lang, v, sum(c) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
       |tot AS (SELECT lang, count(*)::BIGINT AS n FROM tok GROUP BY lang),
       |thr AS (SELECT cum.lang, min(v)::BIGINT AS lang_p50
       |        FROM cum JOIN tot ON cum.lang = tot.lang
       |        WHERE cum.cum >= (50 * n + 99) // 100 GROUP BY cum.lang)
       |SELECT doc_id, tok.lang, v AS n_tokens, lang_p50
       |FROM tok JOIN thr ON tok.lang = thr.lang
       |WHERE v >= lang_p50 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t5
  // Benchmark decontamination: every corpus doc's max shingle-set
  // overlap against a (small, broadcast) benchmark set, argmax bench
  // doc with min-id tie-break; contaminated = overlap >= 3 shingles.
  // The benchmark side is constant-sized, so at scale this is a
  // map-side broadcast cross product — linear in the corpus.
  // Argmax as max_by partial aggregation (not a window): the corpus×bench
  // cross product collapses to one row per doc MAP-SIDE before any
  // shuffle. (overlap_n, -bench_id) struct ordering keeps the exact
  // max-overlap-then-min-bench_id tie-break.
  val t5Decontamination: Q = (s, dir) => {
    val sets = Dedup.shingleSets(Tables.load(s, dir, "documents"), col("doc_id"), shingleSet)
    val bench = sets.where(col("doc") < 20).select(col("doc").as("bench_id"), col("hs").as("bh"))
    val corpus = sets.where(col("doc") >= 20)
    corpus.crossJoin(broadcast(bench))
      .withColumn("overlap_n", TextFunctions.sortedIntersectCount(col("hs"), col("bh")))
      .groupBy(col("doc"))
      .agg(max_by(struct(col("bench_id"), col("overlap_n")),
        struct(col("overlap_n"), (-col("bench_id")).as("nb"))).as("b"))
      .select(col("doc").as("doc_id"), col("b.bench_id").as("bench_id"),
        col("b.overlap_n").as("overlap_n"),
        (col("b.overlap_n") >= 3).as("contaminated"))
      .orderBy("doc_id")
  }

  val t5DecontaminationSql: String =
    s"""WITH sh AS (SELECT doc_id, $sqlHs AS hs FROM documents),
       |bench AS (SELECT doc_id AS bench_id, hs AS bh FROM sh WHERE doc_id < 20),
       |corpus AS (SELECT doc_id, hs FROM sh WHERE doc_id >= 20),
       |ov AS (
       |  SELECT c.doc_id, b.bench_id, len(list_intersect(c.hs, b.bh))::BIGINT AS overlap_n
       |  FROM corpus c, bench b),
       |rk AS (
       |  SELECT doc_id, bench_id, overlap_n,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY overlap_n DESC, bench_id) AS rn
       |  FROM ov)
       |SELECT doc_id, bench_id, overlap_n, overlap_n >= 3 AS contaminated
       |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t7
  // Bloom-filter decontamination — t5's 100 TB shape. t5 intersects
  // every corpus doc against every benchmark doc's shingle set; fine
  // while the benchmark relation broadcasts whole, but the right tool
  // once the benchmark grows to millions of n-grams is a BLOOM FILTER
  // over the benchmark's shingle union: a fixed 65,536-bit array
  // (2048 words, 32 bits packed per word — 16 KB), k=3 double-hashed
  // probes per shingle. The array is built by ONE bounded aggregation
  // (explode → bit_or per word, ≤2048 rows) and collected to the
  // driver exactly like the v9/v10 ANN codebooks; membership is then
  // a pure map-side expression over a constant-folded literal — the
  // corpus is never joined against the benchmark and never shuffles
  // until the per-doc count (which reuses shingleSets' doc
  // partitioning). Probes use exact int64 mod-p arithmetic, so the
  // DuckDB oracle rebuilds the identical bit array — false positives
  // and all — and the outputs hash-match bit-for-bit. contaminated =
  // >= 3 probed shingles present, mirroring t5's >= 3-shingle rule
  // (Bloom membership is a superset of any single bench doc's set, so
  // t5-contaminated ⊆ t7-contaminated — QualitySpec pins this).
  private val BloomWords = 2048 // 32 bits packed per word
  private val BloomBits = BloomWords * 32L
  private val BloomP = 1000000007L
  private val BloomProbes = Seq((2L, 1L), (3L, 7L), (5L, 13L))

  private def bloomPosSql(a: Long, b: Long) =
    s"(pmod(hb * $a + $b, $BloomP) % $BloomBits)"
  private def bloomPosDuck(a: Long, b: Long) =
    s"(((hb * $a + $b) % $BloomP) % $BloomBits)"

  val t7BloomDecontam: Q = (s, dir) => {
    val sets = Dedup.shingleSets(Tables.load(s, dir, "documents"), col("doc_id"), shingleSet)
    val posArr = BloomProbes.map { case (a, b) => bloomPosSql(a, b) }.mkString(", ")
    val words = sets.where(col("doc") < 20)
      .select(explode(col("hs")).as("h"))
      .withColumn("hb", pmod(col("h"), lit(BloomP)))
      .selectExpr(s"explode(array($posArr)) AS pos")
      .selectExpr("cast(pos div 32 as int) AS w",
        "shiftleft(cast(1 as bigint), cast(pos % 32 as int)) AS mask")
      .groupBy("w").agg(expr("bit_or(mask)").as("bits"))
      .collect()
    val bits = Array.fill[Long](BloomWords)(0L)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    val hit = BloomProbes.map { case (a, b) =>
      val pos = bloomPosSql(a, b)
      s"(element_at(bloom, cast($pos div 32 as int) + 1) & " +
        s"shiftleft(cast(1 as bigint), cast($pos % 32 as int))) != 0"
    }.mkString(" AND ")
    sets.where(col("doc") >= 20)
      .select(col("doc"), explode(col("hs")).as("h"))
      .withColumn("hb", pmod(col("h"), lit(BloomP)))
      .withColumn("bloom", typedlit(bits.toSeq))
      .withColumn("hit", expr(hit))
      .groupBy(col("doc"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(col("hit").cast("long")).cast("long").as("n_hit"))
      .select(col("doc").as("doc_id"), col("n_shingles"), col("n_hit"),
        (col("n_hit") >= 3).as("contaminated"))
      .orderBy("doc_id")
  }

  val t7BloomDecontamSql: String = {
    val posList = BloomProbes.map { case (a, b) => bloomPosDuck(a, b) }.mkString(", ")
    val hit = BloomProbes.map { case (a, b) =>
      val pos = bloomPosDuck(a, b)
      s"(bl[CAST($pos // 32 AS INTEGER) + 1] & (1::BIGINT << CAST($pos % 32 AS INTEGER))) <> 0"
    }.mkString(" AND ")
    s"""WITH sh AS (SELECT doc_id, $sqlHs AS hs FROM documents),
       |bh AS (SELECT ((h % $BloomP) + $BloomP) % $BloomP AS hb
       |       FROM (SELECT unnest(hs) AS h FROM sh WHERE doc_id < 20)),
       |bpos AS (SELECT unnest([$posList]) AS pos FROM bh),
       |words AS (SELECT pos // 32 AS w,
       |                 bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS bits
       |          FROM bpos GROUP BY 1),
       |bloom AS (SELECT list(coalesce(w2.bits, 0) ORDER BY gs.gw) AS bl
       |          FROM generate_series(0, ${BloomWords - 1}) gs(gw)
       |          LEFT JOIN words w2 ON w2.w = gs.gw),
       |ch AS (SELECT doc_id, ((h % $BloomP) + $BloomP) % $BloomP AS hb
       |       FROM (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= 20)),
       |hits AS (SELECT doc_id, ($hit) AS hit FROM ch, bloom)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) >= 3 AS contaminated
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- d10
  // Cross-document duplicated-shingle fraction — the span-dedup
  // decision signal (which documents carry corpus-repeated passages):
  // per document, the fraction of its DISTINCT 3-token shingles that
  // appear in ≥ 2 documents. Reuses the d2/d5 shingle sets; shingle
  // document-frequency is one count on the shingle key, joined back on
  // the same key, rolled up per doc — three key-partitioned shuffles,
  // all on corpus-linear relations, no window, no driver state. Counts
  // exact int64, one final division (NULL for shingle-less docs).
  val d10SharedShingles: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val sets = docs.select(col("doc_id"), explode(shingleSet).as("h"))
    // sets are distinct per doc, so count(*) per shingle = doc frequency
    val freq = sets.groupBy("h").agg(count(lit(1)).as("nd"))
    val perDoc = sets.join(freq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ns"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("ss"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ns"), lit(0L)).as("n_shingles"),
        coalesce(col("ss"), lit(0L)).as("shared_shingles"))
      .withColumn("shared_frac",
        when(col("n_shingles") === 0, lit(null).cast("double"))
          .otherwise(col("shared_shingles").cast("double") / col("n_shingles").cast("double")))
      .orderBy("doc_id")
  }

  val d10SharedShinglesSql: String =
    s"""WITH sh AS (SELECT doc_id, $sqlHs AS hs FROM documents),
       |e AS (SELECT doc_id, unnest(hs) AS h FROM sh),
       |f AS (SELECT h, count(*)::BIGINT AS nd FROM e GROUP BY h),
       |pd AS (SELECT doc_id, count(*)::BIGINT AS ns,
       |              cast(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) as BIGINT) AS ss
       |       FROM e JOIN f USING (h) GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(ns, 0) AS n_shingles,
       |       coalesce(ss, 0) AS shared_shingles,
       |       cast(coalesce(ss, 0) as double) / nullif(coalesce(ns, 0), 0) AS shared_frac
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- d7
  // Duplicate-group assembly: connected components over the verified
  // near-dup pairs (the capped d3b graph since round 15); canonical
  // doc = min id per component. The oracle replays min-label
  // propagation as a recursive CTE (propagating only shrinking labels
  // — the component min always reaches every member).
  //
  // Round-15 profiling (target/sf10, ProfileD7 split): the VERIFIED-
  // PAIR EDGE BUILD was 75.0 s of d7's ~105 s wall; the CC loop itself
  // only 4.2 s (2 rounds, 10,894 pairs / 20,485 nodes) — so the cut is
  // d3b's bucket-occupancy guard on the edge build, not CC internals:
  // maxBucket=64 keeps 10,860/10,894 pairs (99.7%) and 20,422/20,485
  // grouped nodes at sf10 for edge_build 37.3 s + cc 4.0 s, and is a
  // no-op at the oracle gate sfs (identical rows at sf0.01/sf0.1).
  private[graft] val d7MaxBucket = 64

  val d7CcDedup: Q = (s, dir) => {
    val pairs = nearDupPairs(Tables.load(s, dir, "documents"), d7MaxBucket).select("doc_a", "doc_b")
    Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
      .select(col("node").as("doc_id"), col("comp").as("component"),
        (col("node") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** d7's oracle CTEs, shared with d8: the capped J ≥ 1/2 edges `ndp`,
    * symmetrized as `edges`, and the min-label propagation `cc`. */
  private val sqlCcCtes: String =
    s"""WITH RECURSIVE $sqlBandCtes,
       |${sqlCand(d7MaxBucket)},
       |ndp AS (SELECT doc_a, doc_b FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
       |  WHERE $sqlJaccardHalf),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM ndp UNION SELECT doc_b, doc_a FROM ndp),
       |cc(node, comp) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.node = e.src WHERE cc.comp < e.dst)""".stripMargin

  val d7CcDedupSql: String =
    s"""$sqlCcCtes
       |SELECT node AS doc_id, min(comp) AS component, node = min(comp) AS is_canonical
       |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d8
  // Duplicate-group representative selection — the "keep one" step a
  // dedup pipeline runs after d7's group assembly: every doc gets its
  // component (singletons = their own id via the left join), and each
  // component keeps its best member — longest text, doc_id as the
  // deterministic tie-break — plus the group size. The argmax is a
  // single max-of-(score, -id)-struct aggregation, so it partial-merges
  // map-side and the component-key exchange carries one row per
  // (task, component), not the corpus.
  val d8KeepBest: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "n_chars")
    // same bucket-occupancy cap as d7: the edge build is the measured
    // 75-s-class sf10 wall, and the cap is a no-op at the gate sfs
    val pairs = nearDupPairs(Tables.load(s, dir, "documents"), d7MaxBucket).select("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, col("doc_a"), col("doc_b"))
    Dedup.keepBestPerComponent(docs, "doc_id", "n_chars", labels)
      .orderBy("component")
  }

  val d8KeepBestSql: String =
    s"""$sqlCcCtes,
       |lbl AS (SELECT node, min(comp) AS component FROM cc GROUP BY node),
       |asg AS (SELECT d.doc_id, d.n_chars, coalesce(l.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.node),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn,
       |              count(*) OVER (PARTITION BY component) AS n_members FROM asg)
       |SELECT component, doc_id AS kept_doc, n_chars AS kept_n_chars,
       |       cast(n_members as bigint) AS n_members, cast(n_members - 1 as bigint) AS n_dropped
       |FROM rk WHERE rn = 1 ORDER BY component""".stripMargin

  // --------------------------------------------------------------- d11
  // Incremental (cross-snapshot) dedup — the ingest shape a GROWING
  // corpus runs daily: the batch (doc_id % 5 = 0 here) is verified
  // against the existing snapshot and against earlier-id batch
  // members, and existing × existing is NEVER re-paired (that work
  // happened when those docs were ingested). Per new doc: dup_of =
  // the smallest matched doc id (itself when unique) and the is_dup
  // verdict. Same shingle/band/threshold/cap contract as d7, so a doc
  // flagged dup here is exactly one d7 would have grouped. Scale: the
  // batch is the small side of the band-key join (broadcastable in
  // production); ingest cost ∝ batch × bucket occupancy, INDEPENDENT
  // of snapshot size — the whole point vs re-running d7.
  private val d11NewMod = 5

  val d11IncrementalDedup: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val sets = Dedup.shingleSets(docs, col("doc_id"), shingleSet)
    val bands = Dedup.minHashBandsFromSets(sets, dedupK, dedupR)
    dupOfNew(docs, Dedup.incrementalNearDupPairs(sets, bands,
      _ % d11NewMod === 0, 1, 2, maxBucket = d7MaxBucket))
  }

  /** d11/st27's verdict per new doc from its (doc_n, doc_o) matches:
    * dup_of = the smallest matched doc (itself when unique). `min` is
    * commutative, so repeated matches are absorbed. */
  private def dupOfNew(docs: DataFrame, matches: DataFrame): DataFrame = {
    val m = matches.groupBy(col("doc_n")).agg(min(col("doc_o")).as("m"))
    docs.where(col("doc_id") % d11NewMod === 0).select("doc_id")
      .join(m, col("doc_id") === col("doc_n"), "left")
      .select(col("doc_id"), coalesce(col("m"), col("doc_id")).as("dup_of"),
        (coalesce(col("m"), col("doc_id")) =!= col("doc_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  /** d11/st27's oracle: J ≥ 1/2 matches of new docs (doc_id % 5 = 0)
    * over the capped bands, candidates further kept by `rule` over the
    * new doc `a` and the matched doc `b`. */
  private def incrementalSql(rule: String): String =
    s"""WITH $sqlBandCtes,
       |${sqlKept(d7MaxBucket)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_n, b.doc_id AS doc_o
       |  FROM kept a JOIN kept b ON a.band = b.band AND a.band_hash = b.band_hash
       |  WHERE a.doc_id % $d11NewMod = 0 AND $rule),
       |ndp AS (SELECT doc_n, doc_o FROM cand JOIN sh x ON x.doc_id = doc_n JOIN sh y ON y.doc_id = doc_o
       |  WHERE $sqlJaccardHalf),
       |m AS (SELECT doc_n, min(doc_o) AS mo FROM ndp GROUP BY doc_n)
       |SELECT d.doc_id, coalesce(m.mo, d.doc_id) AS dup_of,
       |       coalesce(m.mo, d.doc_id) <> d.doc_id AS is_dup
       |FROM documents d LEFT JOIN m ON m.doc_n = d.doc_id
       |WHERE d.doc_id % $d11NewMod = 0 ORDER BY doc_id""".stripMargin

  val d11IncrementalDedupSql: String =
    incrementalSql(s"b.doc_id <> a.doc_id AND (b.doc_id % $d11NewMod <> 0 OR b.doc_id < a.doc_id)")

  // ---------------------------------------------------------------- t8
  // Corpus-level n-gram statistics: the global top-50 word bigrams by
  // frequency (count desc, bigram asc as the deterministic total
  // order). The plan is the scale shape that matters: map-side partial
  // counts into one ngram-key shuffle, then TakeOrdered — each
  // partition surfaces only its own top-50, the driver merges 32×50
  // rows; no global sort of the (huge) distinct-ngram relation ever
  // runs.
  val t8TopNgrams: Q = (s, dir) =>
    Tables.load(s, dir, "documents")
      .select(explode(TextFunctions.shingleStringCounts(TextFunctions.tokens(col("text")), 2)).as("sc"))
      .groupBy(col("sc.ngram").as("ngram")).agg(sum(col("sc.c")).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(50)

  val t8TopNgramsSql: String =
    s"""WITH grams AS (
       |  SELECT unnest(list_transform(generate_series(1, greatest(len($sqlToks)-1, 0)),
       |    i -> array_to_string(list_slice($sqlToks, i, i+1), ' '))) AS ngram
       |  FROM documents)
       |SELECT ngram, cast(count(*) as bigint) AS cnt
       |FROM grams GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin

  // --------------------------------------------------------------- t12
  // BPE-style merge-rule induction — the tokenizer-training primitive
  // (learn the most frequent adjacent pair, fuse it corpus-wide,
  // recount): the first two merge rounds, fully DECLARATIVE — the
  // learned pair never touches the driver; it parameterizes the next
  // round as a broadcast 1-row relation feeding regexp_replace's
  // pattern column, so the whole 2-round induction is one Catalyst
  // plan (count shuffle → broadcast top-1 → map-side fuse → count
  // shuffle). Both engines execute the IDENTICAL regex
  // ('\b<w1> <w2>\b' → 'w1_w2'; leftmost non-overlapping 'g'
  // semantics agree between Java regex and RE2 for this pattern
  // class — tokens are alphanumeric, and '_' is a word char in both,
  // so the fused token keeps clean boundaries). Output: the top-5
  // pair counts before and after the first fusion.
  val t12BpeMerges: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    def pairCounts(d: org.apache.spark.sql.DataFrame) = d
      .select(explode(TextFunctions.shingleStringCounts(TextFunctions.tokens(col("text")), 2)).as("sc"))
      .groupBy(col("sc.ngram").as("pair")).agg(sum(col("sc.c")).as("cnt"))
    val c1 = pairCounts(docs).persist()
    // merge candidates are restricted to clean word pairs so the fused
    // regex is metachar-free BY CONSTRUCTION on both engines (an
    // unescaped '$'/'(' in a learned pair would throw in Java regex and
    // silently diverge in RE2; the oracle applies the same restriction)
    val top1 = c1.where(col("pair").rlike("^[a-z0-9_ ]+$"))
      .orderBy(col("cnt").desc, col("pair")).limit(1).select(col("pair").as("p1"))
    // LEFT cross: with no clean pair at all the merge degrades to a
    // no-op (p1 null keeps the text), never to an empty corpus
    val merged = docs.join(broadcast(top1), lit(true), "left")
      .select(col("doc_id"),
        when(col("p1").isNull, col("text")).otherwise(
          regexp_replace(col("text"),
            concat(lit("\\b"), col("p1"), lit("\\b")),
            translate(col("p1"), " ", "_"))).as("text"))
    val c2 = pairCounts(merged)
    c1.orderBy(col("cnt").desc, col("pair")).limit(5).withColumn("round", lit(1L))
      .unionAll(c2.orderBy(col("cnt").desc, col("pair")).limit(5).withColumn("round", lit(2L)))
      .select(col("round"), col("pair"), col("cnt"))
      .orderBy(col("round"), col("cnt").desc, col("pair"))
  }

  val t12BpeMergesSql: String = {
    val grams =
      s"""SELECT unnest(list_transform(generate_series(1, greatest(len(toks)-1, 0)),
         |    i -> array_to_string(list_slice(toks, i, i+1), ' '))) AS pair""".stripMargin
    s"""WITH c1 AS (
       |  SELECT pair, cast(count(*) as bigint) AS cnt
       |  FROM ($grams FROM (SELECT $sqlToks AS toks FROM documents)) GROUP BY pair),
       |top1 AS (SELECT pair AS p1 FROM c1
       |         WHERE regexp_matches(pair, '^[a-z0-9_ ]+$$')
       |         ORDER BY cnt DESC, pair LIMIT 1),
       |m AS (
       |  SELECT CASE WHEN p1 IS NULL THEN text
       |              ELSE regexp_replace(text, '\\b' || p1 || '\\b', replace(p1, ' ', '_'), 'g')
       |         END AS text
       |  FROM documents LEFT JOIN top1 ON TRUE),
       |c2 AS (
       |  SELECT pair, cast(count(*) as bigint) AS cnt
       |  FROM ($grams FROM (SELECT string_split(text, ' ') AS toks FROM m)) GROUP BY pair)
       |SELECT * FROM (
       |  SELECT 1::BIGINT AS round, pair, cnt FROM (SELECT pair, cnt FROM c1 ORDER BY cnt DESC, pair LIMIT 5)
       |  UNION ALL
       |  SELECT 2::BIGINT AS round, pair, cnt FROM (SELECT pair, cnt FROM c2 ORDER BY cnt DESC, pair LIMIT 5))
       |ORDER BY round, cnt DESC, pair""".stripMargin
  }

  // ---------------------------------------------------------------- e1
  // --------------------------------------------------------------- t13
  // PII scrubbing — the redaction stage every production corpus
  // pipeline runs before training: emails and phone-shaped spans are
  // counted and replaced with placeholder tags, entirely map-side
  // (regexp_count/regexp_replace per row — no shuffle, no state;
  // corpus-linear at any scale). The synthetic corpus contains no PII
  // (lowercase word salad), so the query PLANTS it deterministically
  // from doc_id arithmetic — both engines derive the identical planted
  // text, making the oracle non-trivial: n_emails/n_phones hit ~1/7
  // and ~1/11 of docs, and clean_len pins the byte-exact replacement.
  // Regex parity: patterns are backtracking-free-equivalent character
  // classes ('[a-z0-9.]+@[a-z0-9.]+\.[a-z]+', '\+1-555-[0-9]{4}') on
  // which Java regex and RE2 agree (leftmost, same greedy outcome).
  private[graft] val PiiEmailRe = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+"
  private[graft] val PiiPhoneRe = "\\+1-555-[0-9]{4}"

  /** Deterministic PII planting from doc_id arithmetic — both engines
    * derive the identical text (shared by t13 and e1's scrub stage). */
  private[graft] def plantPii(text: Column, docId: Column): Column =
    concat(text,
      when(docId % 7 === 0,
        concat(lit(" contact user"), docId, lit("@mail.example for details")))
        .otherwise(lit("")),
      when(docId % 11 === 3,
        concat(lit(" call +1-555-"),
          lpad((docId * 7919 % 10000).cast("string"), 4, "0"), lit(" now")))
        .otherwise(lit("")))

  /** Map-side PII scrub: email and phone spans → placeholder tags. */
  private[graft] def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, PiiEmailRe, "<EMAIL>"), PiiPhoneRe, "<PHONE>")

  // DuckDB twins of the two fragments above (raw interpolator where
  // backslashes appear: they must reach DuckDB untouched)
  private[graft] val sqlPlantPii: String =
    """text ||
      |    CASE WHEN doc_id % 7 = 0
      |         THEN ' contact user' || doc_id || '@mail.example for details' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 3
      |         THEN ' call +1-555-' || lpad(((doc_id * 7919) % 10000)::VARCHAR, 4, '0') || ' now'
      |         ELSE '' END""".stripMargin
  private[graft] def sqlRedactPii(e: String): String =
    raw"""regexp_replace(regexp_replace($e,
         |         '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'),
         |         '\+1-555-[0-9]{4}', '<PHONE>', 'g')""".stripMargin

  val t13PiiRedact: Q = (s, dir) => {
    val planted = Tables.load(s, dir, "documents")
      .withColumn("ptext", plantPii(col("text"), col("doc_id")))
    planted.select(col("doc_id"),
      regexp_count(col("ptext"), lit(PiiEmailRe)).cast("long").as("n_emails"),
      regexp_count(col("ptext"), lit(PiiPhoneRe)).cast("long").as("n_phones"),
      length(redactPii(col("ptext"))).cast("long").as("clean_len"))
      .orderBy("doc_id")
  }

  val t13PiiRedactSql: String =
    raw"""WITH p AS (
         |  SELECT doc_id, $sqlPlantPii AS ptext
         |  FROM documents)
         |SELECT doc_id,
         |  cast(len(regexp_extract_all(ptext, '[a-z0-9.]+@[a-z0-9.]+\.[a-z]+')) AS BIGINT) AS n_emails,
         |  cast(len(regexp_extract_all(ptext, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
         |  cast(length(${sqlRedactPii("ptext")}) AS BIGINT) AS clean_len
         |FROM p ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- e1
  // The whole training-data pipeline as ONE composed catalog query —
  // the "switch your pipeline to this engine" demonstration: quality
  // gate (t1's rule) → exact dedup (d1's min-id canonical) →
  // benchmark decontamination (t5's ≥3-shared-shingles drop against
  // the held-out doc_id<20 set) → PII scrub (t13's planted redaction —
  // a real pipeline scrubs BEFORE packing, and the scrubbed text is
  // what gets token-counted downstream) → temperature-scaled source
  // mixing (p13, keepFrac=0.5) → per-shard sequence packing (p14).
  // Every stage is the already-oracle-checked operator, composed; the
  // oracle chains the same CTE fragments, so the END-TO-END result —
  // packed intervals of the surviving scrubbed mixed corpus —
  // hash-matches bit-for-bit.
  // Scale shape: each stage keeps its own audited plan (map-side gate,
  // text-key window, broadcast benchmark, map-side scrub, broadcast
  // rate table, per-shard pack windows); composition adds no new
  // shuffle class.
  private val e1KeepFrac = 0.5

  val e1Pipeline: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(s, dir, "documents")
    val toks = TextFunctions.tokens(col("text"))
    val nToks = size(toks).cast("long")
    val stopCnt = TextFunctions.stopwordCount(toks).cast("long")
    // 1. quality gate
    val q = docs.where(nToks.between(5, 1000) && stopCnt * 20 >= nToks)
    // 2. exact dedup (min-id doc per identical text)
    val d = q.withColumn("_mid", min(col("doc_id")).over(Window.partitionBy(col("text"))))
      .where(col("doc_id") === col("_mid")).drop("_mid")
    // 3. decontamination: drop survivors sharing >= 3 shingles with any
    //    benchmark doc (benchmark = raw doc_id < 20, which never emits)
    val bench = Dedup.shingleSets(docs.where(col("doc_id") < 20), col("doc_id"), shingleSet)
      .select(col("hs").as("bh"))
    val contaminated = Dedup.shingleSets(d.where(col("doc_id") >= 20), col("doc_id"), shingleSet)
      .crossJoin(broadcast(bench))
      .where(TextFunctions.sortedIntersectCount(col("hs"), col("bh")) >= 3)
      .select(col("doc").as("doc_id")).distinct()
    val clean = d.where(col("doc_id") >= 20)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // 4. PII scrub (t13's planted redaction) — map-side, before any
    //    token counting; the packed corpus never sees a raw span
    val scrubbed = clean.withColumn("text",
      redactPii(plantPii(col("text"), col("doc_id"))))
    // 5. temperature-scaled source mixing over the SURVIVING corpus
    val mixed = graft.operators.Sampling.temperatureMix(
      scrubbed, col("source"), col("doc_id"), keepFrac = e1KeepFrac, seed = 17L)
    // 6. pack what remains into fixed-length training sequences
    graft.operators.Packing.packSequences(
      mixed, col("doc_id"), size(TextFunctions.tokens(col("text"))),
      packShards, packSeqLen, seed = 23L)
      .orderBy("doc_id")
  }

  val e1PipelineSql: String = {
    val stop = s"len(list_filter($sqlToks, t -> list_contains(['the','a','of','and','to','in','is','on'], t)))"
    s"""WITH q AS (
       |  SELECT doc_id, text, source FROM documents
       |  WHERE len($sqlToks) BETWEEN 5 AND 1000 AND $stop * 20 >= len($sqlToks)),
       |d AS (
       |  SELECT doc_id, text, source FROM (
       |    SELECT q.*, min(doc_id) OVER (PARTITION BY text) AS mid FROM q)
       |  WHERE doc_id = mid),
       |shb AS (SELECT $sqlHs AS bh FROM documents WHERE doc_id < 20),
       |shd AS (SELECT doc_id, $sqlHs AS hs FROM d WHERE doc_id >= 20),
       |cont AS (SELECT DISTINCT doc_id FROM shd, shb WHERE len(list_intersect(hs, bh)) >= 3),
       |clean AS (
       |  SELECT * FROM d
       |  WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM cont)),
       |red AS (
       |  SELECT doc_id, ${sqlRedactPii(s"($sqlPlantPii)")} AS text, source
       |  FROM clean),
       |c AS (SELECT source, count(*)::BIGINT AS n FROM red GROUP BY source),
       |sfold AS (SELECT list_reduce(list_prepend(0.0::DOUBLE, list(sqrt(n::DOUBLE) ORDER BY source)),
       |                             (acc, x) -> acc + x) AS sw,
       |                 sum(n)::BIGINT AS tot FROM c),
       |r AS (SELECT source, cast(round(10000 * ($e1KeepFrac * tot) * sqrt(n::DOUBLE) / (sw * n), 0) AS BIGINT) AS rate
       |      FROM c, sfold),
       |mix AS (SELECT red.* FROM red JOIN r USING (source)
       |        WHERE ((((doc_id % $P) * 2654435761 + 17) % $P + $P) % $P) % 10000 < rate),
       |t AS (SELECT doc_id, len($sqlToks)::BIGINT AS ntok,
       |             (((doc_id % $P) * 2654435761 + 23) % $P + $P) % $P AS h
       |      FROM mix),
       |w AS (SELECT doc_id, h % $packShards AS shard, ntok,
       |             cast(sum(ntok) OVER (PARTITION BY h % $packShards ORDER BY h, doc_id
       |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tok_end
       |      FROM t)
       |SELECT doc_id, shard, tok_end - ntok AS tok_start, tok_end,
       |       (tok_end - ntok) // $packSeqLen AS first_seq,
       |       greatest(tok_end - ntok, tok_end - 1) // $packSeqLen AS last_seq
       |FROM w ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- st6
  // Streaming MinHash-LSH candidate generation: documents band-hashed
  // at ingest, bucket-keyed state emits pairs on arrival, streaming
  // dropDuplicates collapses multi-band collisions. The band feed
  // carries the same bucket-occupancy cap as batch d3b (maxBucket=64;
  // a no-op at gate sfs, first bites at sf10) — without it the ingest
  // path would keep the exact quadratic bucket-saturation shape d3/d7
  // measured at 123×/105 s before their caps, and ingest is the
  // component most exposed to corpus growth. The emitted pair set
  // hash-matches the capped batch-join oracle — streaming = batch =
  // SQL for the dedup pack's candidate stage.
  val st6StreamingNeardup: Q = (s, dir) => {
    import s.implicits._
    import graft.streaming.StreamingNearDup
    import graft.streaming.StreamingNearDup.BandEvent
    // Band-hashing is relational and the events land in a temp parquet
    // dir the measured stream READS AS FILES (QueriesStreaming
    // .fileIngest) — the corpus never materializes on the driver, the
    // honest 100 TB ingest shape. Three doc-keyed chunks = three
    // micro-batches; within-bucket arrival order (`order` = doc id) is
    // deterministic, and the final DISTINCT pair set is
    // arrival-order-independent anyway, which is what the batch-d2
    // oracle hash-pins. MemoryStream twins stay in StreamingSpec for
    // the batching-independence properties.
    val events = Dedup.bucketGuard(
      Dedup.minHashBands(
        Tables.load(s, dir, "documents"), col("doc_id"), shingleSet, dedupK, dedupR),
      maxBucket = d3bMaxBucket)
      .select((col("band").cast("long") * 2000000011L + col("band_hash")).as("bucket"),
        col("doc").as("docId"), col("doc").as("order"))
    val chunks = (0 until 3).map(i => events.where(pmod(col("docId"), lit(3)) === i))

    QueriesStreaming.fileIngest(s, chunks, cache = Seq(events)) { stream =>
      StreamingNearDup.lshCandidates(stream.as[BandEvent])
        .toDF("doc_a", "doc_b")
        .dropDuplicates("doc_a", "doc_b")
        .writeStream.format("memory").queryName("st6_sink").outputMode("append").start()
    }

    s.table("st6_sink").orderBy("doc_a", "doc_b")
  }

  val st6StreamingNeardupSql: String =
    s"""WITH $sqlBandCtes,
       |${sqlCand(d3bMaxBucket)}
       |SELECT doc_a, doc_b FROM cand ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- st8
  // Streaming duplicate-group assembly: the verified near-dup pairs
  // fold into a keyed union-find (min-root union) across three
  // micro-batches. Min-root union is order-independent, so the final
  // assignment equals batch d7 — st8 hash-matches the SAME
  // recursive-CTE oracle: streaming = batch = SQL for the dedup
  // pipeline's grouping stage too.
  val st8StreamingCc: Q = (s, dir) => {
    import graft.streaming.StreamingComponents
    import graft.streaming.StreamingComponents.EdgeEvent
    // Verified pair events stream in FROM FILES (fileIngest — no driver
    // materialization); min-root union is arrival-order-independent, so
    // the pair-sum chunking below and the deterministic per-pair `seq`
    // (doc_a·1000003 + doc_b, unique since doc_a < doc_b) leave the
    // final assignment equal to batch d7 — the same recursive-CTE
    // oracle hash-pins it.
    // same bucket-occupancy cap as the pinned oracle (d7CcDedupSql):
    // without it the engine feed and the capped oracle only agree at
    // sfs where the cap is a no-op — a latent contract divergence
    val events = nearDupPairs(Tables.load(s, dir, "documents"), d7MaxBucket)
      .select(lit(0L).as("key"),
        (col("doc_a") * 1000003L + col("doc_b")).as("seq"),
        col("doc_a").as("a"), col("doc_b").as("b"))
    val chunks = (0 until 3).map(i =>
      events.where(pmod(col("a") + col("b"), lit(3)) === i))

    import s.implicits._
    QueriesStreaming.fileIngest(s, chunks, cache = Seq(events)) { stream =>
      StreamingComponents.connectedComponents(stream.as[EdgeEvent])
        .writeStream.format("memory").queryName("st8_sink").outputMode("append").start()
    }

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("step").desc)
    s.table("st8_sink")
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("node").as("doc_id"), col("comp").as("component"),
        (col("node") === col("comp")).as("is_canonical"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- st27
  // Streaming incremental dedup — d11's ingest contract as a LIVE
  // STREAM-STATIC pipeline (the canonical Structured Streaming ingest
  // shape, stateless end to end): all bands pass the bucket-occupancy
  // guard once before ingest (occupancy is a corpus property, so the
  // kept set is d11's and d7's); the snapshot's kept bands and the
  // shingle sets are STATIC relations, and the new docs' kept band
  // rows arrive from files, candidate-join the snapshot bands
  // (stream-static inner) and are Jaccard-verified in-stream by two
  // more stream-static joins (Dedup.snapshotMatches). No state store at
  // all — every micro-batch is a pure join pipeline, so batching cannot
  // change the result by construction. Verified matches land in the
  // sink; the batch side only folds min(doc_o) per new doc (dupOfNew —
  // duplicate candidate emissions via several bands are absorbed).
  // Unlike st8/d11 the stream never sees other BATCH members, so the
  // contract is new x snapshot only — the oracle drops d11's
  // earlier-batch clause accordingly.
  val st27StreamingIncremental: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val sets = Dedup.shingleSets(docs, col("doc_id"), shingleSet)
    val kept = Dedup.bucketGuard(Dedup.minHashBandsFromSets(sets, dedupK, dedupR), d7MaxBucket)
    val isNew = col("doc") % d11NewMod === 0
    val snap = kept.where(!isNew)
    val feed = kept.where(isNew).select("doc", "band", "band_hash")
    // key cuts (doc mod 3): min-fold output is arrival-order-
    // independent, so any chunking yields the same final table
    val chunks = (0 until 3).map(i => feed.where(pmod(col("doc"), lit(3)) === i))

    // the snapshot bands are joined by EVERY micro-batch — persist the
    // kept bands (via fileIngest's cache hook) or each of the 3 batches
    // recomputes the full band prep and guard (measured ~3x the batch
    // d11 wall at sf10 uncached); the sets are persisted by shingleSets
    QueriesStreaming.fileIngest(s, chunks, cache = Seq(kept)) { stream =>
      Dedup.snapshotMatches(stream, snap, sets, 1, 2)
        .writeStream.format("memory").queryName("st27_sink").outputMode("append").start()
    }

    dupOfNew(docs, s.table("st27_sink"))
  }

  val st27StreamingIncrementalSql: String =
    incrementalSql(s"b.doc_id % $d11NewMod <> 0")

  // --------------------------------------------------------------- p13
  // Deterministic temperature-scaled source mixing (T=2) — the corpus
  // rebalancing LLM pipelines run before training: per-source keep
  // rate ∝ √n_i / n_i (small sources up-weighted), documents selected
  // by seeded id hash. The float math (√, source-ordered left-fold
  // sum) is bit-identical on both engines, so even the derived rates
  // hash-match; the keep test itself is a map-side filter against a
  // broadcast #sources-row rate table.
  private val mixKeepFrac = 0.3

  val p13TemperatureMix: Q = (s, dir) =>
    graft.operators.Sampling.temperatureMix(
      Tables.load(s, dir, "documents"), col("source"), col("doc_id"),
      keepFrac = mixKeepFrac, seed = 17L)
      .select(col("doc_id"), col("source"), col("rate"))
      .orderBy("doc_id")

  val p13TemperatureMixSql: String =
    s"""WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source),
       |s AS (SELECT list_reduce(list_prepend(0.0::DOUBLE, list(sqrt(n::DOUBLE) ORDER BY source)),
       |                         (acc, x) -> acc + x) AS sw,
       |             sum(n)::BIGINT AS tot FROM c),
       |r AS (SELECT source, cast(round(10000 * ($mixKeepFrac * tot) * sqrt(n::DOUBLE) / (sw * n), 0) AS BIGINT) AS rate
       |      FROM c, s)
       |SELECT doc_id, documents.source, rate
       |FROM documents JOIN r USING (source)
       |WHERE ((((doc_id % $P) * 2654435761 + 17) % $P + $P) % $P) % 10000 < rate
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- t10
  // Within-document duplicated n-gram fraction (n = 2, 3, 4) — the
  // Gopher-class repetition rules next to t6's most-common-trigram
  // share: per document, the fraction of n-gram occurrences belonging
  // to n-grams that appear ≥ 2 times in that document. Each n is ONE
  // compiled map-side pass (DupNgramStats, a per-doc hashmap) — the
  // whole query is a scan with zero shuffles (plan-asserted in
  // QualitySpec), the right 100 TB shape for per-doc quality signals.
  // All counts exact int64; each fraction one final division (NULL when
  // the doc is shorter than n tokens).
  val t10DupNgrams: Q = (s, dir) => {
    val toks = TextFunctions.tokens(col("text"))
    val cols = (2 to 4).flatMap { n =>
      val st = TextFunctions.dupNgramStats(toks, n)
      val dup = st.getField("dup_occ")
      val tot = st.getField("n_ngrams")
      Seq(
        dup.as(s"n${n}_dup"),
        tot.as(s"n${n}_tot"),
        when(tot === 0, lit(null).cast("double"))
          .otherwise(dup.cast("double") / tot.cast("double")).as(s"n${n}_frac"))
    }
    Tables.load(s, dir, "documents")
      .select(col("doc_id") +: cols: _*)
      .orderBy("doc_id")
  }

  val t10DupNgramsSql: String = {
    def sh(n: Int) =
      s"list_transform(generate_series(1, greatest(len(toks)-${n - 1}, 0)), i -> array_to_string(list_slice(toks, i, i+${n - 1}), ' '))"
    val inner = (2 to 4).map { n =>
      s"""       len(list_filter(${sh(n)}, g -> len(list_filter(${sh(n)}, g2 -> g2 = g)) >= 2))::BIGINT AS n${n}_dup,
         |       greatest(len(toks)-${n - 1}, 0)::BIGINT AS n${n}_tot""".stripMargin
    }.mkString(",\n")
    val outer = (2 to 4).map { n =>
      s"       n${n}_dup, n${n}_tot, cast(n${n}_dup as double) / nullif(n${n}_tot, 0) AS n${n}_frac"
    }.mkString(",\n")
    s"""SELECT doc_id,
       |$outer
       |FROM (
       |SELECT doc_id,
       |$inner
       |FROM (SELECT doc_id, $sqlToks AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- t11
  // Corpus-LM quality score — the CCNet-style "LM likelihood" filter
  // re-expressed in exact integers: a document's score is the MEAN
  // CORPUS FREQUENCY of its word-bigram occurrences (per-myriad,
  // floor), so text made of corpus-common constructions scores high
  // and rare/degenerate text scores low — the same ordering a smoothed
  // bigram LM's log-likelihood induces, without a transcendental log
  // that would break bit-exact cross-engine replay. Shape: one corpus
  // bigram count keyed on the ngram hash, joined back per occurrence,
  // rolled up per doc — the t8/d10 shuffle family, corpus-linear, no
  // windows. score_pm = floor(10000 * sum C(g) / m), plus the exact
  // double mean (single division; NULL for sub-2-token docs).
  //
  // Hot path: ShingleHashCounts pre-counts each doc's bigrams in ONE
  // compiled pass, so the exchanged relation is (doc_id, h, c) with one
  // row per DISTINCT bigram per doc — no shingle strings and no
  // duplicate-occurrence rows ever cross a shuffle (the sf1 smoke put
  // the string-occurrence formulation at ~8x this plan's cost).
  //
  // Collision tolerance: the bigram key is the mod-P (~2^30) shingle
  // hash, so distinct bigrams can collide and merge their corpus
  // counts; both engines collide IDENTICALLY (the oracle replays the
  // same hash), so correctness is unaffected, but at ~10^8+ distinct
  // corpus bigrams collisions become pervasive (birthday bound ≈
  // n²/2P) and silently INFLATE scores — acceptable for a keep/drop
  // quality ORDERING (collisions add near-uniform noise), not for
  // calibrated LM likelihoods. If score fidelity matters at that
  // scale, widen the key to the pair of per-token hashes (two int64
  // columns — same shuffle shape, ~2^60 key space).
  val t11LmScore: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val occ = docs.select(col("doc_id"),
      explode(TextFunctions.shingleHashCounts(TextFunctions.tokens(col("text")), 2)).as("hc"))
      .select(col("doc_id"), col("hc.h").as("h"), col("hc.c").as("c"))
    val freq = occ.groupBy("h").agg(sum(col("c")).as("cf"))
    val perDoc = occ.join(freq, "h")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("m"), sum(col("c") * col("cf")).as("sumcf"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m"), lit(0L)).as("n_bigrams"),
        coalesce(col("sumcf"), lit(0L)).as("sum_freq"))
      .withColumn("score_pm",
        when(col("n_bigrams") === 0, lit(null).cast("long"))
          .otherwise(expr("(10000 * sum_freq) div n_bigrams")))
      .withColumn("mean_freq",
        when(col("n_bigrams") === 0, lit(null).cast("double"))
          .otherwise(col("sum_freq").cast("double") / col("n_bigrams").cast("double")))
      .orderBy("doc_id")
  }

  val t11LmScoreSql: String = {
    val sh2 = s"list_transform(generate_series(1, greatest(len(toks)-1, 0)), i -> array_to_string(list_slice(toks, i, i+1), ' '))"
    s"""WITH o AS (
       |  SELECT doc_id, ${sqlStrHash("g")} AS h
       |  FROM (SELECT doc_id, unnest($sh2) AS g
       |        FROM (SELECT doc_id, $sqlToks AS toks FROM documents))),
       |f AS (SELECT h, count(*)::BIGINT AS cf FROM o GROUP BY h),
       |pd AS (SELECT doc_id, count(*)::BIGINT AS m, cast(sum(cf) as BIGINT) AS sumcf
       |       FROM o JOIN f USING (h) GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(m, 0) AS n_bigrams,
       |       coalesce(sumcf, 0) AS sum_freq,
       |       CASE WHEN coalesce(m, 0) = 0 THEN NULL
       |            ELSE (10000 * sumcf) // m END AS score_pm,
       |       CASE WHEN coalesce(m, 0) = 0 THEN NULL
       |            ELSE cast(sumcf as double) / m END AS mean_freq
       |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // --------------------------------------------------------------- p14
  // Sequence packing — the concat-and-chunk step that turns the
  // filtered/mixed corpus into fixed-length training sequences: each
  // document is routed to a writer shard by the seeded id hash,
  // ordered within its shard by (hash, id), and its [tok_start,
  // tok_end) interval + spanned seqLen-chunks come from ONE running-sum
  // window PARTITIONED BY shard — the per-writer pack topology that
  // needs no global sort (each window sort is one shard's rows). All
  // non-negative int64, so `div` is exact floor on both engines.
  // (packShards/packSeqLen are declared at the top of the object —
  // initialization-order constraint, see the note there.)
  val p14SequencePack: Q = (s, dir) =>
    graft.operators.Packing.packSequences(
      Tables.load(s, dir, "documents"), col("doc_id"),
      size(TextFunctions.tokens(col("text"))), packShards, packSeqLen, seed = 23L)
      .orderBy("doc_id")

  val p14SequencePackSql: String =
    s"""WITH t AS (SELECT doc_id, len($sqlToks)::BIGINT AS ntok,
       |                  (((doc_id % $P) * 2654435761 + 23) % $P + $P) % $P AS h
       |           FROM documents),
       |w AS (SELECT doc_id, h % $packShards AS shard, ntok,
       |             cast(sum(ntok) OVER (PARTITION BY h % $packShards ORDER BY h, doc_id
       |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tok_end
       |      FROM t)
       |SELECT doc_id, shard, tok_end - ntok AS tok_start, tok_end,
       |       (tok_end - ntok) // $packSeqLen AS first_seq,
       |       greatest(tok_end - ntok, tok_end - 1) // $packSeqLen AS last_seq
       |FROM w ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------- st23
  // Sequence packing as a live stream: documents arrive in three
  // micro-batches in the deterministic (hash, id) pack order, each
  // shard's state is ONE long (its running token offset), and because
  // offsets are prefix-stable the appended assignments equal the batch
  // window recompute row for row — st23 hash-matches p14's SQL oracle:
  // streaming = batch = SQL for the packing stage of the pipeline too.
  val st23StreamingPack: Q = (s, dir) => {
    import graft.streaming.StreamingPacking
    import graft.streaming.StreamingPacking.PackEvent
    // File-source ingest (fileIngest — no driver materialization) with
    // the strictly-(hash, id)-ascending per-shard contract preserved by
    // CHUNKING ON h RANGES: every event in chunk i has h strictly below
    // every event in chunk i+1 (equal h always lands in one chunk), and
    // within a micro-batch the operator re-sorts — so the three file
    // batches replay the same per-shard order the batch p14 window
    // encodes, and st23 hash-matches p14's SQL oracle.
    // Same routing hash + shard as batch p14 (mod-P before the multiply).
    val rows = Tables.load(s, dir, "documents")
      .withColumn("h", (((col("doc_id") % P) * 2654435761L + 23L) % P + P) % P)
      .select((col("h") % packShards).as("shard"), col("doc_id").as("docId"),
        col("h"), size(TextFunctions.tokens(col("text"))).cast("long").as("nTok"))
    val cut1 = P / 3
    val cut2 = 2L * (P / 3)
    val chunks = Seq(rows.where(col("h") < cut1),
      rows.where(col("h") >= cut1 && col("h") < cut2),
      rows.where(col("h") >= cut2))

    import s.implicits._
    QueriesStreaming.fileIngest(s, chunks, cache = Seq(rows)) { stream =>
      StreamingPacking.pack(stream.as[PackEvent], packSeqLen)
        .writeStream.format("memory").queryName("st23_sink").outputMode("append").start()
    }

    s.table("st23_sink")
      .select(col("docId").as("doc_id"), col("shard"),
        col("tokStart").as("tok_start"), col("tokEnd").as("tok_end"),
        col("firstSeq").as("first_seq"), col("lastSeq").as("last_seq"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- st26
  // The WHOLE ingest pipeline as a LIVE STREAM — e1's streaming twin:
  // documents land as files and are quality-gated, exact-deduped
  // (deterministic survivor), benchmark-decontaminated, PII-scrubbed,
  // and packed into fixed-length training sequences the moment they
  // arrive. Two chained streaming queries joined by a DURABLE PARQUET
  // TOPIC (the production stage-boundary shape — Spark forbids two
  // flatMapGroupsWithState operators in one query):
  //   A: file source → gate (stateless) → StreamingDedupOrdered
  //      (text-keyed state; h-range chunks make the survivor the
  //      global argmin (h, doc_id), SQL-replayable) → doc_id ≥ 20 →
  //      decontam (map-side `exists` over the bounded 20-doc benchmark
  //      shingle literal — t7's constant-array shape; a benchmark too
  //      big to inline swaps in t7's Bloom-filter probe at the same
  //      map-side signature) → scrub →
  //      PackEvent projection → parquet sink (the topic)
  //   B: file source over the topic → StreamingPacking (per-shard
  //      offset state) → memory sink
  // Differences from e1, both deliberate: no temperature-mix stage
  // (mixing rates are a global OFFLINE statistic of the surviving
  // corpus — a real deployment computes them out-of-band; a stream
  // can't know them online) and dedup keeps the min-(h, doc_id)
  // survivor (= first ARRIVAL in pack order) where e1 keeps min
  // doc_id — so st26 has its own oracle with the same CTE fragments
  // and an (h, doc_id)-ordered dedup window.
  val st26StreamingPipeline: Q = (s, dir) => {
    import s.implicits._
    import graft.streaming.{StreamingDedupOrdered, StreamingPacking}
    import graft.streaming.StreamingDedupOrdered.DocEvent
    import graft.streaming.StreamingPacking.PackEvent
    val docs = Tables.load(s, dir, "documents")
    // bounded benchmark constant (20 rows), the t7 pattern
    val bench = docs.where(col("doc_id") < 20)
      .select(shingleSet.as("hs")).as[Seq[Long]].collect().toSeq
    val base = docs
      .withColumn("h", (((col("doc_id") % P) * 2654435761L + 23L) % P + P) % P)
      .select(col("doc_id"), col("text"), col("h"))
    val cut1 = P / 3
    val cut2 = 2L * (P / 3)
    val chunks = Seq(base.where(col("h") < cut1),
      base.where(col("h") >= cut1 && col("h") < cut2),
      base.where(col("h") >= cut2)).map(_.drop("h"))

    // stage A's parquet topic and checkpoint; the input chunks ride
    // fileIngest's staged-write + atomic-rename delivery, and B's source
    // needs no staging — it reads stage A's FileStreamSink output, whose
    // _spark_metadata log exposes only COMMITTED files. Each drain runs
    // A then B, so every chunk passes both stages in its own batch.
    val topic = java.nio.file.Files.createTempDirectory(
      QueriesStreaming.ingestRoot, "graft-st26-")
    val midDir = java.nio.file.Files.createDirectory(topic.resolve("mid"))
    try {
      QueriesStreaming.fileIngest(s, Seq(chunks), cache = Seq(base)) { case Seq(aStream) =>
        val toks = TextFunctions.tokens(col("text"))
        val nTokRaw = size(toks).cast("long")
        val stopCnt = TextFunctions.stopwordCount(toks).cast("long")
        val gated = aStream
          .withColumn("h", (((col("doc_id") % P) * 2654435761L + 23L) % P + P) % P)
          .where(nTokRaw.between(5, 1000) && stopCnt * 20 >= nTokRaw)
          .select(col("text"), col("doc_id").as("id"), col("h").as("order"))
        val contaminated = exists(typedlit(bench),
          b => size(array_intersect(shingleSet, b)) >= 3)
        val aOut = StreamingDedupOrdered.firstByOrder(gated.as[DocEvent])
          .where(col("id") >= 20 && !contaminated)
          .withColumn("text", redactPii(plantPii(col("text"), col("id"))))
          .select((col("order") % packShards).as("shard"), col("id").as("docId"),
            col("order").as("h"), size(TextFunctions.tokens(col("text"))).cast("long").as("nTok"))
        val qA = aOut.writeStream.format("parquet")
          .option("path", midDir.toString)
          .option("checkpointLocation", topic.resolve("ck").toString)
          .outputMode("append").start()
        val bStream = s.readStream
          .schema(org.apache.spark.sql.Encoders.product[PackEvent].schema)
          .parquet(midDir.toString)
        val qB = StreamingPacking.pack(bStream.as[PackEvent], packSeqLen)
          .writeStream.format("memory").queryName("st26_sink").outputMode("append").start()
        Seq(qA, qB)
      }
    } finally QueriesStreaming.rmRf(topic)

    s.table("st26_sink")
      .select(col("docId").as("doc_id"), col("shard"),
        col("tokStart").as("tok_start"), col("tokEnd").as("tok_end"),
        col("firstSeq").as("first_seq"), col("lastSeq").as("last_seq"))
      .orderBy("doc_id")
  }

  val st26StreamingPipelineSql: String = {
    val stop = s"len(list_filter($sqlToks, t -> list_contains(['the','a','of','and','to','in','is','on'], t)))"
    s"""WITH q AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE len($sqlToks) BETWEEN 5 AND 1000 AND $stop * 20 >= len($sqlToks)),
       |hq AS (SELECT doc_id, text,
       |              ((((doc_id % $P) * 2654435761 + 23) % $P + $P) % $P) AS h
       |       FROM q),
       |d AS (
       |  SELECT doc_id, text, h FROM (
       |    SELECT hq.*, row_number() OVER (PARTITION BY text ORDER BY h, doc_id) AS rn
       |    FROM hq)
       |  WHERE rn = 1),
       |shb AS (SELECT $sqlHs AS bh FROM documents WHERE doc_id < 20),
       |shd AS (SELECT doc_id, $sqlHs AS hs FROM d WHERE doc_id >= 20),
       |cont AS (SELECT DISTINCT doc_id FROM shd, shb WHERE len(list_intersect(hs, bh)) >= 3),
       |clean AS (
       |  SELECT * FROM d
       |  WHERE doc_id >= 20 AND doc_id NOT IN (SELECT doc_id FROM cont)),
       |red AS (
       |  SELECT doc_id, h, ${sqlRedactPii(s"($sqlPlantPii)")} AS text
       |  FROM clean),
       |t AS (SELECT doc_id, h, len($sqlToks)::BIGINT AS ntok FROM red),
       |w AS (SELECT doc_id, h % $packShards AS shard, ntok,
       |             cast(sum(ntok) OVER (PARTITION BY h % $packShards ORDER BY h, doc_id
       |                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tok_end
       |      FROM t)
       |SELECT doc_id, shard, tok_end - ntok AS tok_start, tok_end,
       |       (tok_end - ntok) // $packSeqLen AS first_seq,
       |       greatest(tok_end - ntok, tok_end - 1) // $packSeqLen AS last_seq
       |FROM w ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------- st21
  // The deterministic reservoir as a live stream: documents arrive in
  // three micro-batches, the keyed state is exactly the k smallest
  // (hash, id) pairs, and because bottom-k is a merge law the final
  // reservoir equals the batch p12 selection row-for-row — st21
  // hash-matches the SAME oracle: streaming = batch = SQL for the
  // uniform-sampling stage of the pipeline too.
  val st21StreamingSample: Q = (s, dir) => {
    import graft.streaming.StreamingSampling
    import graft.streaming.StreamingSampling.SampleEvent
    // File-source ingest (fileIngest — no driver materialization);
    // bottom-k is a merge law, so the id-keyed chunking leaves the
    // final reservoir equal to the batch p12 selection and the same
    // oracle hash-pins it.
    val rows = Tables.load(s, dir, "documents")
      // reduce mod P before the multiply (overflow/sign guard, = batch p12)
      .withColumn("h", (((col("doc_id") % P) * 2654435761L + 11L) % P + P) % P)
      .select(lit("all").as("key"), col("doc_id").as("id"), col("h"))
    val chunks = (0 until 3).map(i => rows.where(pmod(col("id"), lit(3)) === i))

    import s.implicits._
    QueriesStreaming.fileIngest(s, chunks, cache = Seq(rows)) { stream =>
      StreamingSampling.bottomK(stream.as[SampleEvent], bottomK)
        .writeStream.format("memory").queryName("st21_sink").outputMode("append").start()
    }

    // the sample = the LAST batch's whole-reservoir snapshot (an id
    // present at an earlier step may have been evicted since)
    val snap = s.table("st21_sink")
    val last = snap.groupBy().agg(max(col("step")).as("ms"))
    snap.join(broadcast(last), snap("step") === last("ms"))
      .select(col("id").as("doc_id"))
      .join(Tables.load(s, dir, "documents").select("doc_id", "lang"), "doc_id")
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "st6_streaming_neardup" -> st6StreamingNeardup,
    "t1_token_quality" -> t1TokenQuality,
    "t2_langid" -> t2LangId,
    "t3_fingerprint" -> t3Fingerprint,
    "t4_bpe_tokens" -> t4BpeTokens,
    "d1_exact_dedup" -> d1ExactDedup,
    "d2_minhash_bands" -> d2MinhashBands,
    "d3_minhash_neardup" -> d3MinhashNeardup,
    "d3b_minhash_capped" -> d3bMinhashCapped,
    "d4_simhash" -> d4Simhash,
    "d5_ngram_jaccard" -> d5NgramJaccard,
    "d5b_jaccard_capped" -> d5bJaccardCapped,
    "d7_cc_dedup" -> d7CcDedup,
    "d8_keep_best" -> d8KeepBest,
    "d10_shared_shingles" -> d10SharedShingles,
    "d11_incremental_dedup" -> d11IncrementalDedup,
    "t8_top_ngrams" -> t8TopNgrams,
    "st8_streaming_cc" -> st8StreamingCc,
    "st27_streaming_incremental" -> st27StreamingIncremental,
    "p10_stratified_sample" -> p10StratifiedSample,
    "p11_quota_sample" -> p11QuotaSample,
    "p12_bottomk_sample" -> p12BottomkSample,
    "p13_temperature_mix" -> p13TemperatureMix,
    "p14_sequence_pack" -> p14SequencePack,
    "st23_streaming_pack" -> st23StreamingPack,
    "st26_streaming_pipeline" -> st26StreamingPipeline,
    "st21_streaming_sample" -> st21StreamingSample,
    "k4_token_quantiles" -> k4TokenQuantiles,
    "k5_grouped_quantiles" -> k5GroupedQuantiles,
    "t5_decontamination" -> t5Decontamination,
    "t7_bloom_decontam" -> t7BloomDecontam,
    "t6_repetition" -> t6Repetition,
    "t9_quality_filter" -> t9QualityFilter,
    "t10_dup_ngrams" -> t10DupNgrams,
    "t11_lm_score" -> t11LmScore,
    "t12_bpe_merges" -> t12BpeMerges,
    "t13_pii_redact" -> t13PiiRedact,
    "e1_pipeline" -> e1Pipeline)

  val oracles: Map[String, String] = Map(
    "st6_streaming_neardup" -> st6StreamingNeardupSql,
    "t1_token_quality" -> t1TokenQualitySql,
    "t2_langid" -> t2LangIdSql,
    "t3_fingerprint" -> t3FingerprintSql,
    "t4_bpe_tokens" -> t4BpeTokensSql,
    "d1_exact_dedup" -> d1ExactDedupSql,
    "d2_minhash_bands" -> d2MinhashBandsSql,
    "d3_minhash_neardup" -> d3MinhashNeardupSql,
    "d3b_minhash_capped" -> d3bMinhashCappedSql,
    "d4_simhash" -> d4SimhashSql,
    "d5_ngram_jaccard" -> d5NgramJaccardSql,
    "d5b_jaccard_capped" -> d5bJaccardCappedSql,
    "d7_cc_dedup" -> d7CcDedupSql,
    "d8_keep_best" -> d8KeepBestSql,
    "d10_shared_shingles" -> d10SharedShinglesSql,
    "d11_incremental_dedup" -> d11IncrementalDedupSql,
    "t8_top_ngrams" -> t8TopNgramsSql,
    "st8_streaming_cc" -> d7CcDedupSql,
    "st27_streaming_incremental" -> st27StreamingIncrementalSql,
    "p10_stratified_sample" -> p10StratifiedSampleSql,
    "p11_quota_sample" -> p11QuotaSampleSql,
    "p12_bottomk_sample" -> p12BottomkSampleSql,
    "p13_temperature_mix" -> p13TemperatureMixSql,
    "p14_sequence_pack" -> p14SequencePackSql,
    "st23_streaming_pack" -> p14SequencePackSql,
    "st26_streaming_pipeline" -> st26StreamingPipelineSql,
    "st21_streaming_sample" -> p12BottomkSampleSql,
    "k4_token_quantiles" -> k4TokenQuantilesSql,
    "k5_grouped_quantiles" -> k5GroupedQuantilesSql,
    "t5_decontamination" -> t5DecontaminationSql,
    "t7_bloom_decontam" -> t7BloomDecontamSql,
    "t6_repetition" -> t6RepetitionSql,
    "t9_quality_filter" -> t9QualityFilterSql,
    "t10_dup_ngrams" -> t10DupNgramsSql,
    "t11_lm_score" -> t11LmScoreSql,
    "t12_bpe_merges" -> t12BpeMergesSql,
    "t13_pii_redact" -> t13PiiRedactSql,
    "e1_pipeline" -> e1PipelineSql)
}
