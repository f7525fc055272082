package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor / similarity-search operators over an
  * embedding column (`ArrayType(FloatType)`), the vector lens of the
  * reference's all-pairs scoring (C1, `meercat/nn_thresh.py:112-115`)
  * re-expressed as joins.
  *
  * Scale design: norms are precomputed once per row (never per pair);
  * the brute-force path broadcasts only the *query* subset against the
  * partitioned corpus (no n² shuffle); the LSH path shuffles on bucket
  * signatures so candidate generation is linear in bucket occupancy.
  * Top-k is a per-query window over candidate rows only.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Defaults for every Auto over-cap ANN fallback (the v14d
    * derivation, SCALE_100X_r14.json): expected bucket occupancy held
    * ≈32 at any corpus size by deriving the LSH width from one bounded
    * count; recall bought back with independent tables (8 for the
    * cosine route; the Hamming route adds multi-probe — see
    * [[HammingAutoTables]]).
    * The 100× sweep showed ANY fixed width is quadratic in corpus size
    * (fixed 2^p buckets ⇒ occupancy ∝ n ⇒ candidate pairs ∝ n²), so
    * since round 15 no silent fallback routes to a fixed-width tier —
    * those remain available only as EXPLICIT routes/operators
    * ([[HammingRoute.Bucketed]], [[rhpAnnTopK]]) whose bounded-corpus
    * oracles pin them.
    */
  val AutoTables: Int = 8
  val AutoOccupancy: Int = 32

  /** The Hamming Auto over-cap operating point (round 15,
    * RECALL_r15.json): 16 auto-width tables probed at prefix Hamming
    * radius 1. Probing expands only the query side (a per-row bucket
    * enumeration, no extra shuffled table builds), so it buys recall
    * at near-flat wall: at sf10 (200k vectors) recall@3 is 0.667 at
    * 3.7 s vs 0.147 at 2.4 s for the unprobed L=8 route — the knee of
    * the probed frontier measured by [[graft.RecallLadder]]. The
    * cosine fallback keeps [[AutoTables]]: RHP cells have no prefix
    * window to probe.
    */
  val HammingAutoTables: Int = 16
  val HammingAutoProbe: Int = 1

  /** The integer-IVF family's default operating point (round 17,
    * RECALL_r16.json): probe the 2 nearest cells. Like the Hamming
    * point above it is MEASURED, not asserted — on the sf10 frontier
    * (200k vectors, auto cells C=64) probe=2 lifts recall@3 from
    * 0.384 to 0.592 for ~1.6× wall (probe=4 reaches 0.827 at ~2.6×;
    * probe=1 is the fastest-and-lowest point). The probe expands only
    * the query-side cell set (one window over queries × C against the
    * broadcast centroid table) — the corpus side stays single-cell
    * (the inverted file) — so candidate volume grows ~linearly in
    * nProbe. Callers wanting a different point on the frontier pass
    * `nProbe` explicitly (the catalog pins probe=1 as its own oracle
    * tier, v9b/v11b; the shipped default config IS v11c's oracle).
    */
  val IvfAutoProbe: Int = 2

  /** PQ codebook training-sample target (round 18): residual-PQ
    * codebooks are fitted METADATA (M·k·subDim integers), so training
    * them on the full corpus is a full-data×M shuffle a 100 TB build
    * cannot pay — the same argument that scales the IVF cell count
    * from a bounded scalar (v9b). [[ivfAdcTopK]] trains on the
    * deterministic stride sample `vid % max(1, n/target) = 0` —
    * SQL-replayable (the v16 oracle recomputes the stride from
    * count(*)), corpus-order-free, and ~`target` rows at every scale.
    * 4096 ≈ 16 training points per 8-bit code cell — thin but
    * measured SUFFICIENT: a 4× sample (with a third Lloyd round)
    * A/B'd flat on pure-ADC recall (round 20, semb1 fixture).
    */
  val AdcTrainTarget: Int = 4096

  /** v16b's shortlist pool fraction (round 19, VERDICT r18 #1): the
    * ADC→exact-rerank tier passes the top ceil(pool/frac) of each
    * query's probed candidate pool to the float rerank (floored at the
    * caller's `shortlist`). 10 pins the measured ~1/10 pass-through
    * the 2k semb10 fixture operated at when its recall held (0.667),
    * and which the 200k fixture's fixed R=32 (~1% pass-through,
    * recall 0.165) collapsed away from — RECALL_r18 both rows. A
    * FRACTION survives corpus growth where a constant cannot: pool
    * grows ~√n under auto cells, so the rerank cost stays
    * ~queries·√n/frac while the ceiling P(true top-k ∈ ADC top-R)
    * stays pinned to the fraction the fixture measured.
    */
  val AdcShortlistFrac: Int = 10

  /** Argmin packing stride (round 19, VERDICT r18 #6): the Lloyd
    * assignments rank candidate cells by (dist, cell) — but an argmin
    * aggregate whose BUFFER is a struct (`min_by`, `min(struct(...))`)
    * is not hash-aggregable in Spark: the plan degrades to
    * Sort+SortAggregate over the full n·C (coarse) / n·M·k* (PQ)
    * candidate relation, measured as the dominant CPU of the whole
    * quantized-ANN family (~2 µs/row of comparator sorting vs ~100
    * ns/row hashed). Packing the pair into ONE long —
    * `dist * 2^20 + cell`, exact lexicographic order while
    * `cell < 2^20` — turns the argmin into `min(long)`, the codegen'd
    * HashAggregate fast path. Overflow headroom: int8 inputs bound
    * dist ≤ 64·508² < 2^25, so packed < 2^45. The unpack is
    * `pk % 2^20`; selection order is bit-identical to the
    * (dist, cell) struct ordering, so every oracle replays unchanged.
    */
  private val ArgminPackStride: Long = 1L << 20

  /** A built integer-IVF index together with the cache entries backing
    * it — the release handle for [[intIvfIndex]]'s three load-bearing
    * persists (the quantized corpus `qv`, the post-Lloyd centroids
    * `c1`, the final assignment `fin`). One-shot catalog queries use
    * the [[intIvfTopK]]-family wrappers and leave the entries to the
    * session (the driver clears caches between queries); LONG-LIVED
    * sessions (RecallLadder, library embedders) build via
    * [[intIvfIndex]] and call [[release]] once every plan derived from
    * `fin`/`cents` has been materialized — after release, still-lazy
    * consumer plans recompute rather than break.
    */
  final case class IvfIndex private[operators] (
      fin: DataFrame, cents: DataFrame,
      n: Long, dim: Int,
      private val caches: Seq[DataFrame]) {
    def release(blocking: Boolean = false): Unit =
      caches.foreach(_.unpersist(blocking))
    /** Whether every load-bearing cache entry is still registered with
      * the session's cache manager — the staleness probe a MEMOIZED
      * index (the v16/v16b serving pair) checks before reuse: after a
      * `spark.catalog.clearCache()` the plans would silently recompute
      * the whole build per action, so a memo must rebuild instead.
      */
    def isLive: Boolean =
      caches.forall(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }

  /** A built IVFADC serving index (VERDICT r19 #1): the coarse
    * [[IvfIndex]] plus the fitted residual-PQ artifacts — the packed
    * M-byte code word per corpus vector (`codes`, persisted: ONE int64
    * column, the 100 TB serving layout), the flat codebook /
    * per-subspace validity mask, and the energy-balancing dimension
    * permutation (VERDICT r19 #2). Built once by [[adcBuild]]; both
    * serving tiers ([[ivfAdcTopKFromAdc]] = v16,
    * [[ivfAdcRerankTopKFromAdc]] = v16b) are pure bounded plans over
    * it, so a session serving both queries pays the Lloyd
    * trainings and the corpus encode ONCE — the per-run action count
    * the round-19 verdict measured as v16/v16b's remaining wall.
    */
  final case class AdcIndex private[operators] (
      ix: IvfIndex,
      codes: DataFrame,
      cbFlat: IndexedSeq[Long], cbValid: IndexedSeq[Boolean],
      perm: IndexedSeq[Int],
      m: Int, subDim: Int, kCodes: Int,
      private val caches: Seq[DataFrame]) {
    def release(blocking: Boolean = false): Unit = {
      releaseOwn(blocking)
      ix.release(blocking)
    }
    /** Release only the entries THIS handle created (the packed code
      * column), leaving the underlying coarse index to its own owner —
      * the one-shot [[ivfAdcFromIndex]]/[[ivfAdcRerankFromIndex]] forms
      * call this immediately after plan construction so no PQ-specific
      * cache outlives the call (the round-17 contract); the plan then
      * recomputes the encode lazily, which is one cheap map-side kernel
      * pass since round 20.
      */
    def releaseOwn(blocking: Boolean = false): Unit =
      caches.foreach(_.unpersist(blocking))
    def isLive: Boolean =
      ix.isLive &&
        caches.forall(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }

  /** Occupancy-targeted LSH width (the v14d derivation): the smallest
    * p with 2^p buckets ≥ ceil(n / targetOccupancy), clamped to
    * [4, 32] — pure integer ceil-log2 (no float log2: boundary powers
    * of two must round identically in the DuckDB oracle replay).
    */
  private[graft] def autoPrefixBits(n: Long, targetOccupancy: Int): Int = {
    require(targetOccupancy > 0, s"targetOccupancy=$targetOccupancy must be positive")
    val b = (n + targetOccupancy - 1) / targetOccupancy
    val cl2 = if (b <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(b - 1L)
    math.min(32, math.max(4, cl2))
  }

  /** The Auto over-cap fallback's width: [[autoPrefixBits]], then
    * widened to the next width whose 32/gcd(p,32) distinct rotation
    * offsets cover `nTables` — an even derived width (p = 8/16/24)
    * would silently clamp the measured L=16 operating point to 2–8
    * tables and collapse recall; the next odd width has gcd 1 (full
    * 32-table headroom) and only TIGHTENS occupancy (≈ target/2).
    * p=32 cannot widen and stays clamped (a >68G-row corpus in one
    * LSH pass — repartition first).
    */
  private[graft] def fallbackPrefixBits(n: Long, targetOccupancy: Int,
                                        nTables: Int): Int = {
    var p = autoPrefixBits(n, targetOccupancy)
    while (distinctRotationTables(p) < nTables && p < 32) p += 1
    p
  }

  /** Distinct rotation offsets available at prefix width `p` — the
    * table-count ceiling the Auto over-cap fallback clamps to at the
    * p=32 width ceiling (where only 1 distinct offset exists, so the
    * promised L=16 must degrade-with-warning rather than trip
    * [[binaryHammingTopKMultiTable]]'s explicit-knob require).
    */
  private[graft] def distinctRotationTables(p: Int): Int =
    32 / BigInt(p).gcd(BigInt(32)).toInt

  /** Routing contract for [[binaryHammingTopK]]. `Auto` picks the
    * scale-safe plan (brute broadcast under the cap; past it, the
    * occupancy-targeted auto-width multi-table LSH — the v14d route —
    * with a warn); `Exact` makes the brute contract explicit and FAILS
    * FAST past the cap instead of silently downgrading to LSH recall
    * (callers whose oracle is exact all-pairs SQL must never get
    * approximate rows back); `Bucketed` always takes the FIXED-WIDTH
    * single-table sign-prefix route — no count() existence check at
    * all, so the engine path matches a bucket-only oracle by
    * construction even on degenerate (≤1-query) inputs. Bucketed is
    * the bounded-corpus tier its oracles pin (v14); past ~10× data its
    * fixed 2^prefixBits cardinality is quadratic (SCALE_100X_r14) —
    * unbounded corpora belong on Auto.
    */
  sealed trait HammingRoute
  object HammingRoute {
    case object Auto extends HammingRoute
    case object Exact extends HammingRoute
    case object Bucketed extends HammingRoute
  }

  /** Pair similarity columns given precomputed norms. */
  private def cosOf(va: Column, vb: Column, na: Column, nb: Column): Column =
    VectorFunctions.dotProduct(va, vb) / (na * nb)

  /** Every top-k route checks its cut before it runs a job: a cut at
    * rank <= 0 would return an empty frame without a word.
    */
  private def requirePositive(name: String, k: Int): Unit =
    require(k > 0, s"$name=$k must be positive")

  /** Each query's candidates (qid, cid, score, …) numbered 1, 2, … by
    * `score`, ties to the smaller cid, in a `rank` column: the one
    * per-query rank window, over candidate rows only.
    */
  private def rankPerQuery(cand: DataFrame, score: String, ascending: Boolean): DataFrame = {
    val order = if (ascending) col(score).asc else col(score).desc
    cand.withColumn("rank",
      row_number().over(Window.partitionBy(col("qid")).orderBy(order, col("cid"))))
  }

  /** The cut every ANN route ends with: each query's `k` best candidates
    * by [[rankPerQuery]], as (query_id, neighbor_id, rank: long, score).
    * Callers project candidates to narrow scalars first, so the sort
    * never moves vectors.
    */
  private def topKPerQuery(cand: DataFrame, score: String, ascending: Boolean,
                           k: Int): DataFrame =
    rankPerQuery(cand, score, ascending).where(col("rank") <= k)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        col("rank").cast("long").as("rank"), col(score))

  /** The exact tiers' pair scan ([[cosineTopK]], [[binaryHammingTopK]]):
    * every (query, corpus) pair but self-pairs. The scan side (keyed by
    * `cid`) gets a counted fan-out first ([[Fanout.byKey]]):
    * BroadcastNestedLoopJoin keeps the scan side's partitioning, so a
    * corpus that arrives as one split, or whose exchange AQE coalesces
    * by bytes, would put the whole pair relation and its top-k sort in
    * one task. The query side is broadcast; callers bound it by absolute
    * row count ([[Broadcasts]]).
    */
  private def bruteScan(scan: DataFrame, queries: DataFrame): DataFrame =
    Fanout.byKey(scan, col("cid")).join(broadcast(queries), col("qid") =!= col("cid"))

  /** RHP-LSH candidates (qid, cid, sim) over `nTables` independent
    * hyperplane sets, table t seeded `seed + t·7919`: a pair is a
    * candidate when both sides share a bucket in ANY table. Each side is
    * one scan whose L signatures are an array + posexplode to (tbl,
    * bucket); the join shuffles on (tbl, bucket), linear in bucket
    * occupancy. The cosine runs before the dedupe, so its exchange
    * carries (qid, cid, sim) scalars; per-table sims are bit-identical
    * (same strict fold), so max() only collapses copies. At L = 1 a
    * pair joins once and there is no dedupe.
    */
  private def rhpCandidates(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column,
                            nBits: Int, dim: Int, nTables: Int, seed: Long): DataFrame = {
    require(nTables >= 1, s"nTables=$nTables must be positive")
    def side(df: DataFrame, key: String, v: String, nrm: String): DataFrame =
      df.select(id.as(key), vec.as(v))
        .withColumn(nrm, VectorFunctions.l2Norm(col(v)))
        .select(col(key), col(v), col(nrm),
          posexplode(array((0 until nTables).map { t =>
            VectorFunctions.rhpSignature(col(v), nBits, dim, seed + t * 7919L)
          }: _*)).as(Seq("tbl", "bucket")))
    val cand = side(queries, "qid", "qvec", "qnrm")
      .join(side(corpus, "cid", "cvec", "cnrm"), Seq("tbl", "bucket"))
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        cosOf(col("qvec"), col("cvec"), col("qnrm"), col("cnrm")).as("sim"))
    if (nTables > 1) cand.groupBy(col("qid"), col("cid")).agg(max(col("sim")).as("sim"))
    else cand
  }

  /** Brute-force exact top-k cosine neighbors of each query row against
    * the whole corpus (self-pairs excluded, [[bruteScan]]). The query
    * side is broadcast, so it is capped by ABSOLUTE row count, never a
    * corpus fraction — a proportional subset ("2% of the corpus")
    * scales with the data and is a guaranteed executor OOM at 100×.
    * Past `maxBroadcastRows` the operator routes to the
    * OCCUPANCY-TARGETED auto-width multi-table RHP-LSH join
    * ([[rhpTopKForQueriesAuto]]): approximate (LSH recall), but linear
    * at any corpus size and broadcast-free — never a fixed-width tier,
    * whose fixed 2^nBits bucket cardinality is quadratic in the corpus
    * (SCALE_100X_r14). `dim`/`seed`/`nTables`/`targetOccupancy`
    * configure only that fallback.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, id: Column, vec: Column, k: Int,
                 maxBroadcastRows: Long = Broadcasts.MaxRows, dim: Int = 64,
                 seed: Long = 42L, nTables: Int = AutoTables,
                 targetOccupancy: Int = AutoOccupancy,
                 exactOnly: Boolean = false): DataFrame = {
    requirePositive("k", k)
    val cap = Broadcasts.cap(maxBroadcastRows)
    val over = Broadcasts.boundedCount(queries, cap) > cap
    // exactOnly callers (recall-truth computation) must never receive
    // LSH output masquerading as ground truth — fail loudly, the same
    // contract HammingRoute.Exact pins on the binary side
    if (over && exactOnly)
      throw new IllegalStateException(
        s"cosineTopK(exactOnly): query side exceeds broadcast cap $cap — " +
          "refusing to silently downgrade the exact contract to LSH recall; " +
          "raise maxBroadcastRows or thin the query side")
    // surface the exact→approximate routing decision: past the cap the
    // caller gets LSH-recall neighbors, not exact ones
    if (over) {
      log.warn(s"cosineTopK: query side exceeds broadcast cap $cap — routing to " +
        s"occupancy-targeted auto-width multi-table RHP-LSH (targetOccupancy=" +
        s"$targetOccupancy, L=$nTables; LSH recall, no broadcast)")
      return rhpTopKForQueriesAuto(corpus, queries, id, vec, dim, k, seed,
        nTables, targetOccupancy)
    }
    log.info(s"cosineTopK: query side within broadcast cap $cap — exact broadcast path")
    val c = corpus.select(id.as("cid"), vec.as("cvec"))
      .withColumn("cnrm", VectorFunctions.l2Norm(col("cvec")))
    val q = queries.select(id.as("qid"), vec.as("qvec"))
      .withColumn("qnrm", VectorFunctions.l2Norm(col("qvec")))
    topKPerQuery(bruteScan(c, q).select(col("qid"), col("cid"),
      cosOf(col("qvec"), col("cvec"), col("qnrm"), col("cnrm")).as("sim")),
      "sim", ascending = false, k)
  }

  /** The 100×-safe unbounded-query-side route of [[cosineTopK]] — the
    * cosine-family twin of v14d's occupancy-targeted auto width
    * ([[binaryHammingTopKMultiTable]] with `targetOccupancy`): the RHP
    * signature width is derived from ONE bounded scalar count of the
    * corpus ([[autoPrefixBits]], integer arithmetic so the DuckDB
    * oracle replays the derivation verbatim), holding expected bucket
    * occupancy ≈ targetOccupancy at every corpus size — candidates grow
    * LINEARLY (n · L · occupancy), never quadratically as with any
    * fixed width (SCALE_100X_r14: fixed 2^8 RHP buckets hit a 316× wall
    * at 100× data). Per-table recall drops as p widens; `nTables`
    * independent tables ([[rhpCandidates]]) buy it back. No broadcast,
    * no count beyond the one bounded scalar, no n².
    */
  def rhpTopKForQueriesAuto(corpus: DataFrame, queries: DataFrame, id: Column,
                            vec: Column, dim: Int, k: Int, seed: Long = 42L,
                            nTables: Int = AutoTables,
                            targetOccupancy: Int = AutoOccupancy): DataFrame = {
    requirePositive("k", k)
    require(nTables >= 1, s"nTables=$nTables must be positive")
    // bounded scalar count (a driver-side constant, the allowlisted
    // shape) → integer ceil-log2 width
    val n = corpus.count()
    val nBits = autoPrefixBits(n, targetOccupancy)
    log.info(s"rhpTopKForQueriesAuto: corpus n=$n, targetOccupancy=$targetOccupancy " +
      s"-> nBits=$nBits, L=$nTables")
    topKPerQuery(rhpCandidates(corpus, queries, id, vec, nBits, dim, nTables, seed),
      "sim", ascending = false, k)
  }

  /** LSH-bucketed ANN: random-hyperplane signature buckets the corpus;
    * exact cosine ranks candidates within each bucket. Misses neighbors
    * landing in other buckets — the standard recall/cost trade; both
    * sides of the oracle compute identical buckets, deterministically.
    * It is table 0 of [[rhpAnnTopKMulti]].
    */
  def rhpAnnTopK(df: DataFrame, id: Column, vec: Column, nBits: Int, dim: Int, k: Int,
                 seed: Long = 42L): DataFrame =
    rhpAnnTopKMulti(df, id, vec, nBits, dim, k, nTables = 1, seed)

  /** Multi-table RHP-LSH ANN: `nTables` independent hyperplane sets
    * ([[rhpCandidates]]), candidates deduped before the exact ranking —
    * the standard LSH recall knob (probability a true neighbor shares
    * ≥1 of L buckets → 1-(1-p^b)^L), linear in total bucket occupancy,
    * never n². `isQuery` restricts the QUERY side before the join (the
    * corpus side always carries every vector): default all-true = the
    * v7 every-vector-is-a-query shape; a predicate makes the per-query
    * candidate cost attributable (the RecallLadder's cosine grid).
    */
  def rhpAnnTopKMulti(df: DataFrame, id: Column, vec: Column, nBits: Int, dim: Int, k: Int,
                      nTables: Int, seed: Long = 42L,
                      isQuery: Column => Column = _ => lit(true)): DataFrame = {
    requirePositive("k", k)
    topKPerQuery(rhpCandidates(df, df.where(isQuery(id)), id, vec, nBits, dim, nTables, seed),
      "sim", ascending = false, k)
  }

  /** Embedding-cosine near-duplicate pairs: RHP-LSH bucket join, then
    * exact cosine ≥ threshold — the embedding lens of the dedup pack
    * (bucketed like nearDupPairs, cosine instead of Jaccard).
    */
  def cosineNearDupPairs(df: DataFrame, id: Column, vec: Column, nBits: Int, dim: Int,
                         threshold: Double, seed: Long = 42L): DataFrame = {
    val sig = df.select(id.as("vid"), vec.as("v"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("v")))
      .withColumn("bucket", VectorFunctions.rhpSignature(col("v"), nBits, dim, seed))
    val a = sig.select(col("bucket"), col("vid").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = sig.select(col("bucket"), col("vid").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket")).where(col("id_a") < col("id_b"))
      .withColumn("sim", cosOf(col("va"), col("vb"), col("na"), col("nb")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** Balance constant for [[autoIvfCells]]: the catalog's query side is
    * a ~1/50 stride of the corpus, so total work (assign n·C + in-cell
    * search n²/(50·C)) is minimized at C ≈ √(n/50).
    */
  val AutoCellBalance: Int = 50

  /** Corpus-scaled IVF cell count — remedy (b) from SCALE.md's 100×
    * diagnosis (SCALE_100X_r14: fixed nCells means cell occupancy ∝ n
    * and in-cell candidate pairs ∝ n², the measured 193× wall on v11):
    * nCells = clamp(4, 4096, ceilSqrt(ceil(n / balance))) grows with
    * √n so both the broadcast-assign cost (n·C) and the in-cell search
    * cost (∝ n²/C) stay ~n^1.5, never n². Integer-exact ceil-sqrt (the
    * float sqrt is only a seed for the exact adjust loop), so DuckDB
    * replays it as MIN c WITH c·c ≥ ceil(n/balance) over a series —
    * the v14d trick applied to the cell count.
    */
  private[graft] def autoIvfCells(n: Long, balance: Int = AutoCellBalance): Int = {
    require(balance > 0, s"balance=$balance must be positive")
    val target = (n + balance - 1) / balance
    var c = math.max(1L, math.sqrt(target.toDouble).toLong - 2L)
    while (c * c < target) c += 1
    math.min(4096L, math.max(4L, c)).toInt
  }

  /** `nCells <= 0` switches the cell count to corpus-scaled auto mode
    * ([[autoIvfCells]] from one bounded scalar count) — the 100×-safe
    * default; an explicit positive nCells pins the bounded-corpus tier
    * its oracles replay (v9/v11/v12/d9's fixed 16).
    */
  def intIvfAssign(df: DataFrame, id: Column, vec: Column, nCells0: Int): DataFrame =
    intIvfBuild(df, id, vec, nCells0)._1

  /** [[intIvfAssign]] plus the final centroid table it assigned
    * against — (assignment(vid, q, cell), centroids(cell, cent)). The
    * centroids are what multi-cell probing ranks queries against: the
    * probe ladder must use the SAME post-Lloyd centroids the rank-1
    * assignment used, or probe rank 1 ≠ the inverted-file cell and the
    * SQL replay (CTE `a2` at rk ≤ nProbe) diverges.
    */
  private[graft] def intIvfBuild(df: DataFrame, id: Column, vec: Column,
                                 nCells0: Int): (DataFrame, DataFrame) = {
    val ix = intIvfIndex(df, id, vec, nCells0)
    (ix.fin, ix.cents)
  }

  /** [[intIvfBuild]] with the persist OWNERSHIP made explicit: returns
    * the [[IvfIndex]] handle so a long-lived caller can release the
    * build's three cache entries (qv, c1, fin) instead of leaking them
    * until session clearCache (VERDICT r17 #6). The tuple-returning
    * [[intIvfBuild]] remains for one-shot query plans whose cache
    * lifetime is the driver run.
    */
  private[graft] def intIvfIndex(df: DataFrame, id: Column, vec: Column,
                                 nCells0: Int): IvfIndex = {
    val base0 = df.select(id.cast("long").as("vid"), vec.as("v"))
    // ONE bounded stats pass (round 19, VERDICT r18 #6: the build paid
    // three separate full scans — count for auto cells, max|x| for the
    // scale, a head() for the dimension guard — each a scheduled job
    // over the corpus; they are all aggregates of the same scan, so
    // fold them): n (auto cells + the ADC stride), the global max|x|
    // (max-selection is exact, no float accumulation), and the vector
    // width downstream dimension guards cross-check against.
    val stats = base0.agg(count(lit(1)),
      max(aggregate(col("v"), lit(0.0),
        (acc, x) => greatest(acc, abs(x.cast("double"))))),
      max(size(col("v")))).head
    val n = stats.getLong(0)
    require(n > 0, "intIvfIndex: empty corpus (no vectors to index)")
    val maxAbs = stats.getDouble(1)
    val dim = stats.getInt(2)
    val nCells =
      if (nCells0 > 0) nCells0
      else {
        val c = autoIvfCells(n)
        log.info(s"intIvfAssign: corpus n=$n -> auto nCells=$c (balance=$AutoCellBalance)")
        c
      }
    val base = base0
    val scale = if (maxAbs == 0.0) 1.0 else maxAbs / 127.0
    // repartition by vid BEFORE caching (round 19, VERDICT r18 #6):
    // a single-split parquet corpus otherwise caches qv as ONE
    // partition, serializing every heavy map-side pass derived from it
    // (both n·C Lloyd assigns, the residual explode, the PQ encode)
    // onto one task — the thread dump showed 1 busy executor and 31
    // parked. One n-row exchange buys full-width parallelism for all
    // of them; same scan-side discipline as cosineTopK's exact tier
    // (round 18).
    val qv = base.select(col("vid"),
      transform(col("v"), x => round(x.cast("double") / lit(scale)).cast("long")).as("q"))
      // column-only on purpose: it feeds a persist, whose output partitioning AQE keeps by default
      .repartition(col("vid"))
      .persist()
    val c0 = qv.orderBy("vid").limit(nCells)
      .select((row_number().over(Window.orderBy("vid")) - 1).cast("long").as("cell"),
        col("q").as("cent"))

    // argmin as a partial aggregation, not a window: the n·C candidate
    // relation collapses to n rows MAP-SIDE before the one (vid)-keyed
    // shuffle (a row_number window would hash-shuffle all n·C rows
    // first). The aggregate is min over the PACKED (dist, cell) long
    // ([[ArgminPackStride]]) — a struct-buffered argmin (min_by /
    // min(struct)) is not hash-aggregable and degraded this exact
    // stage to a Sort+SortAggregate over all n·C rows (VERDICT r18
    // #6's measured CPU burn); the packed long keeps the identical
    // smallest-dist-then-smallest-cell selection on the codegen'd
    // HashAggregate fast path, so every oracle replays as before.
    require(nCells <= ArgminPackStride,
      s"nCells=$nCells exceeds the argmin packing stride $ArgminPackStride")
    def assign(cents: DataFrame): DataFrame = {
      val dist = VectorFunctions.intSqDist(col("q"), col("cent"))
      qv.crossJoin(broadcast(cents))
        .select(col("vid"), col("q"),
          (dist * lit(ArgminPackStride) + col("cell")).as("pk"))
        .groupBy(col("vid"), col("q"))
        .agg(min(col("pk")).as("pk"))
        .select(col("vid"), col("q"), (col("pk") % lit(ArgminPackStride)).as("cell"))
    }
    // element-wise truncating integer mean per cell; (s - s%n)/n is an
    // exact multiple so the double division below is exact too
    def update(assigned: DataFrame): DataFrame =
      assigned.select(col("cell"), posexplode(col("q")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .withColumn("c", ((col("s") - col("s") % col("n")) / col("n")).cast("long"))
        .groupBy("cell").agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ps"))
        .select(col("cell"), expr("transform(ps, p -> p.c)").as("cent"))

    // c1 IS persisted (round 17): post-agg it is ≤ 4096 rows — a tiny
    // cache entry — and every probed consumer broadcasts it (and
    // RecallLadder's candidate count re-reads it), which without the
    // persist would replay the FULL first-round n×C assign(c0) +
    // update aggregation from the persisted qv on each
    // materialization, not just a bounded agg
    val c1 = update(assign(c0)).persist()
    val fin = assign(c1).persist()
    IvfIndex(fin, c1, n, dim, Seq(qv, c1, fin))
  }

  /** The probed query-side cell set: each query ranks ALL final
    * centroids by (intSqDist, cell) — the identical tie-break the
    * min_by assignment uses, so probe rank 1 IS the query's own cell —
    * and searches its `nProbe` nearest. SQL replay: the build oracle's
    * `a2` ladder at `rk <= nProbe` (the rk=1 filter IS the m2
    * assignment). Scale: the centroid table is ≤ 4096 rows
    * (broadcast); the ranking window runs on query rows × C only —
    * the query stride, not the corpus. nProbe <= 1 short-circuits to
    * the plain single-cell filter (no window at all).
    */
  private[graft] def intIvfProbe(fin: DataFrame, cents: DataFrame,
                                 isQuery: Column => Column, nProbe: Int): DataFrame =
    if (nProbe <= 1)
      fin.where(isQuery(col("vid"))).select(col("cell"), col("vid"), col("q"))
    else {
      val w = Window.partitionBy(col("vid")).orderBy(col("dist"), col("cell"))
      fin.where(isQuery(col("vid"))).select(col("vid"), col("q"))
        .crossJoin(broadcast(cents))
        .withColumn("dist", VectorFunctions.intSqDist(col("q"), col("cent")))
        .withColumn("crk", row_number().over(w))
        .where(col("crk") <= nProbe)
        .select(col("cell"), col("vid"), col("q"))
    }

  /** Deterministic INTEGER IVF ANN (v9): a float k-means fit can never
    * be reproduced by another engine (sum order changes every centroid
    * ULP), so the whole inverted-file build runs in integer arithmetic
    * ([[intIvfIndex]]):
    *
    *  1. int8-quantize all vectors under one GLOBAL symmetric scale
    *     (max|x|/127 — max-selection is exact, no float accumulation);
    *  2. initial centroids = the `nCells` smallest-id code vectors;
    *  3. one Lloyd round: assign = argmin of the INTEGER squared
    *     distance (ties → smallest cell), update = element-wise
    *     truncating integer mean (`s - s%n) / n`, = DuckDB's `//`);
    *  4. final assignment, then per-cell top-k by INTEGER dot product.
    *
    * Every step is order-independent integer math, so any engine
    * replays it bit-for-bit. Scale shape: centroids are a broadcast
    * `nCells`-row table, assignment is a map-side cross product (n·C
    * rows, no shuffle), the update is one keyed aggregation, and the
    * search join shuffles on cell id.
    *
    * `isQuery` filters which rows get neighbors (the probe subset).
    */
  def intIvfTopK(df: DataFrame, id: Column, vec: Column, nCells: Int, k: Int,
                 isQuery: Column => Column, nProbe: Int = IvfAutoProbe): DataFrame = {
    requirePositive("k", k)
    val (fin, cents) = intIvfBuild(df, id, vec, nCells)
    val qs = intIvfProbe(fin, cents, isQuery, nProbe)
      .select(col("cell"), col("vid").as("qid"), col("q").as("qq"))
    val cs = fin.select(col("cell"), col("vid").as("cid"), col("q").as("cq"))
    topKPerQuery(qs.join(cs, Seq("cell")).where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), VectorFunctions.intDot(col("qq"), col("cq")).as("idot")),
      "idot", ascending = false, k)
  }

  /** v11 — the production ANN recipe: coarse candidate generation from
    * the deterministic integer IVF cells, exact FLOAT cosine re-rank of
    * the candidates. Separating the two concerns keeps the index build
    * engine-replayable (v9's argument) while final ranking carries full
    * float precision — the cells only decide WHO gets compared, so the
    * ranking math is v1's exact left-fold and the whole query replays
    * in SQL. Scale: one cell-keyed join (candidates ∝ cell occupancy,
    * never n²), per-query top-k window over candidate rows only.
    */
  def intIvfRerankTopK(df: DataFrame, id: Column, vec: Column, nCells: Int,
                       k: Int, isQuery: Column => Column,
                       nProbe: Int = IvfAutoProbe): DataFrame = {
    requirePositive("k", k)
    val (fin, cents) = intIvfBuild(df, id, vec, nCells)
    intIvfRerankFromBuild(df, id, vec, fin, cents, k, isQuery, nProbe)
  }

  /** The rerank stage over a PREBUILT (fin, cents) pair from
    * [[intIvfBuild]] — lets a caller that also needs the build for
    * other passes (RecallLadder's candidate count) run ONE build per
    * configuration instead of re-persisting a fresh qv/fin pair per
    * pass.
    */
  private[graft] def intIvfRerankFromBuild(df: DataFrame, id: Column, vec: Column,
                                           fin: DataFrame, cents: DataFrame,
                                           k: Int, isQuery: Column => Column,
                                           nProbe: Int): DataFrame = {
    requirePositive("k", k)
    val v = df.select(id.cast("long").as("fid"), vec.as("fv"),
      VectorFunctions.l2Norm(vec).as("fn"))
    val qs = intIvfProbe(fin, cents, isQuery, nProbe)
      .join(v, col("vid") === col("fid"))
      .select(col("cell"), col("vid").as("qid"), col("fv").as("qv"), col("fn").as("qn"))
    val cs = fin.join(v, col("vid") === col("fid"))
      .select(col("cell"), col("vid").as("cid"), col("fv").as("cv"), col("fn").as("cn"))
    topKPerQuery(qs.join(cs, Seq("cell")).where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), cosOf(col("qv"), col("cv"), col("qn"), col("cn")).as("sim")),
      "sim", ascending = false, k)
  }

  /** d9 — SemDeDup-style semantic deduplication: cluster the corpus by
    * the deterministic integer IVF build, elect each cell's min-id
    * member as its representative, and drop every other member whose
    * cosine to the representative reaches τ (they say the same thing —
    * keep one). The cosine test runs in EXACT integers on the
    * quantized vectors — cos ≥ τ ⇔ idot ≥ 0 ∧ idot²·10⁴ ≥
    * τpct²·|x|²·|r|² (τ as integer percent; all terms ≤ ~1e16 at
    * int8×64-dim, well inside int64) — so the whole operator replays
    * in the SQL oracle, unlike float-cosine SemDeDup.
    *
    * Scale: the assignment is v9's broadcast-centroid min_by shape
    * (one vid-keyed shuffle); representatives are a nCells-row
    * relation joined back broadcast; the verdict is a map-side
    * expression. Nothing is pairwise — the cell structure replaces
    * the O(n²) similarity matrix, the SemDeDup paper's own argument.
    */
  def semanticDedup(df: DataFrame, id: Column, vec: Column, nCells: Int,
                    tauPct: Int): DataFrame = {
    require(tauPct >= 0 && tauPct <= 100, s"tauPct must be a percent: $tauPct")
    val fin = intIvfAssign(df, id, vec, nCells)
    val rep = fin.groupBy(col("cell")).agg(min(col("vid")).as("rep_id"))
      .join(fin.select(col("vid").as("rep_id"), col("q").as("rq")), Seq("rep_id"))
    val simI = VectorFunctions.intDot(col("q"), col("rq"))
    val nx = VectorFunctions.intDot(col("q"), col("q"))
    val nr = VectorFunctions.intDot(col("rq"), col("rq"))
    fin.join(broadcast(rep), Seq("cell"))
      .withColumn("si", simI).withColumn("nx", nx).withColumn("nr", nr)
      .select(col("vid").as("vec_id"), col("cell"), col("rep_id"),
        (col("vid") === col("rep_id") || col("si") < 0 ||
          col("si") * col("si") * lit(10000L) <
            lit(tauPct.toLong * tauPct) * col("nx") * col("nr")).as("kept"))
  }

  /** v13 — binary (sign-bit) quantization ANN: the 1-bit tier of the
    * quantization ladder (int8 = v8, PQ = v10): each vector becomes a
    * 64-bit sign code packed as two 32-bit halves, and candidates rank
    * by HAMMING distance — bit_count(hi⊕hi') + bit_count(lo⊕lo'),
    * exact integers on both engines. The scan side carries 8 packed
    * bytes per vector (32× smaller than float32), so the brute-force
    * pass ([[bruteScan]]) is a cache-friendly popcount scan. Routing
    * mirrors v1's cosineTopK: the query side broadcasts only below an
    * ABSOLUTE row cap; past it, Auto takes the occupancy-targeted
    * auto-width multi-table LSH ([[binaryHammingTopKMultiTable]]) —
    * linear in bucket occupancy, no broadcast, never n². Bucketed is
    * that route's single fixed-width table: the top `prefixBits` sign
    * bits of `hi` as the bucket key.
    */
  def binaryHammingTopK(df: DataFrame, id: Column, vec: Column, k: Int,
                        isQuery: Column => Column,
                        maxBroadcastRows: Long = Broadcasts.MaxRows,
                        prefixBits: Int = 8,
                        route: HammingRoute = HammingRoute.Auto): DataFrame = {
    requirePositive("k", k)
    require(prefixBits >= 1 && prefixBits <= 32,
      s"prefixBits=$prefixBits must be in [1, 32] (the hi half packs 32 sign bits)")
    // route=Bucketed plans without the count() existence check: table 0
    // of the multi-table route is its fixed-width bucket hi >>> (32 - p)
    if (route == HammingRoute.Bucketed)
      return binaryHammingTopKMultiTable(df, id, vec, k, isQuery,
        prefixBits = prefixBits, nTables = 1, probe = 0)
    val base = df.select(id.cast("long").as("vid"),
      VectorFunctions.signCode(vec).as("code"))
      .select(col("vid"), col("code.hi").as("hi"), col("code.lo").as("lo"))
    val qs = base.where(isQuery(col("vid")))
      .select(col("vid").as("qid"), col("hi").as("qhi"), col("lo").as("qlo"))
    // same absolute-count broadcast gate as cosineTopK
    val cap = Broadcasts.cap(maxBroadcastRows)
    val over = Broadcasts.boundedCount(qs, cap) > cap
    if (over && route == HammingRoute.Exact)
      throw new IllegalStateException(
        s"binaryHammingTopK(route=Exact): query side exceeds broadcast cap $cap — " +
          "refusing to silently downgrade the exact contract to bucket recall; " +
          "pass route=Auto to accept the auto-width multi-table LSH route, " +
          "route=Bucketed for the fixed-width single-table tier, " +
          "or binaryHammingTopKMultiTable to pick the LSH knobs explicitly")
    if (over) {
      // The 100×-safe fallback (since round 15): occupancy-targeted
      // auto-width multi-table LSH at the measured production
      // operating point (L=16 probe=1, RECALL_r15.json). A fixed
      // prefix width here would have fixed 2^p bucket cardinality, so
      // occupancy grows linearly with the corpus and candidate pairs
      // QUADRATICALLY (SCALE_100X_r14: 797× wall at 100× data); the
      // auto width holds expected occupancy ≈ AutoOccupancy at every
      // corpus size, so candidates stay linear. The fixed-width tier
      // remains reachable as an EXPLICIT route=Bucketed.
      // derive the occupancy-targeted width HERE (one bounded count —
      // multiTable then skips its own), because the measured operating
      // point needs its full table budget: a derived width with
      // gcd(p,32) > 2 (p = 8/12/16/24…) has fewer than
      // HammingAutoTables distinct rotation offsets, so the L=16 the
      // caller was promised would silently clamp to 8/4/2 tables and
      // recall would collapse far below RECALL_r15.json's numbers.
      // Widening by one bit restores it: an odd width has gcd 1 and
      // the full 32-table headroom, and occupancy only TIGHTENS
      // (≈ target/2 — more buckets, fewer collisions each).
      val n = df.count()
      val p = fallbackPrefixBits(n, AutoOccupancy, HammingAutoTables)
      // at the p=32 ceiling (corpora past ~68G rows) fewer than
      // HammingAutoTables distinct rotation offsets exist — clamp the
      // table count rather than trip multiTable's explicit-knob
      // require: the documented contract here is degrade-with-warning
      val nT = math.min(HammingAutoTables, distinctRotationTables(p))
      if (nT < HammingAutoTables)
        log.warn(s"binaryHammingTopK: width ceiling p=$p admits only $nT distinct " +
          s"rotation offsets — clamping L=$HammingAutoTables to $nT (recall degrades)")
      log.warn(s"binaryHammingTopK: query side exceeds broadcast cap $cap — " +
        s"routing to occupancy-targeted auto-width multi-table LSH " +
        s"(corpus n=$n -> p=$p, L=$nT, " +
        s"probe=$HammingAutoProbe)")
      return binaryHammingTopKMultiTable(df, id, vec, k, isQuery,
        prefixBits = p, nTables = nT,
        probe = HammingAutoProbe)
    }
    log.info(s"binaryHammingTopK: query side within broadcast cap $cap — " +
      "exact brute popcount scan")
    val cand = bruteScan(base.select(col("vid").as("cid"), col("hi"), col("lo")), qs)
      .select(col("qid"), col("cid"), hammingOf.as("hamming"))
    topKPerQuery(cand, "hamming", ascending = true, k)
  }

  /** Hamming distance of a (qhi, qlo) × (hi, lo) sign-code pair. */
  private def hammingOf: Column =
    expr("bit_count(qhi ^ hi) + bit_count(qlo ^ lo)").cast("long")

  /** The L-table bucket array shared by [[binaryHammingTopKMultiTable]]
    * and [[RecallLadder]]'s candidate counter (a single construction so
    * the ladder's reported `cands` can never desync from the plan being
    * timed): element l is table l's bucket — the top `prefixBits` bits
    * of `hi` ROTATED left by r = (l·prefixBits) mod 32. For l·p + p ≤ 32
    * this is exactly the l-th disjoint bit window (the original v14b
    * formulation); past 32 bits the window WRAPS — still a deterministic
    * p-bit subset and still pure integer SQL (rot = (hi mod
    * 2^(32-r))·2^r + hi div 2^(32-r), every term < 2^32), which is what
    * lifts the old nTables·prefixBits ≤ 32 cap: up to 32/gcd(p,32)
    * DISTINCT tables of recall headroom (16 at p=6, 4 at p=8). */
  private[graft] def multiTableBuckets(hi: Column, prefixBits: Int,
                                       nTables: Int): Column = {
    val m32 = (1L << 32) - 1L
    array((0 until nTables).map { l =>
      val r = (l * prefixBits) % 32
      val rot =
        if (r == 0) hi
        else shiftleft(hi, r).bitwiseAND(lit(m32)) + shiftright(hi, 32 - r)
      shiftright(rot, 32 - prefixBits)
    }: _*)
  }

  /** The multi-probe query-side bucket set: the bucket itself plus —
    * at `probe = 1` — every bucket at Hamming distance exactly 1 in
    * the p-bit prefix (bucket XOR 2^j, j < p). A deterministic integer
    * enumeration (XOR masks {0, 1, 2, 4, …, 2^(p-1)}), so the probed
    * route replays in SQL exactly like v14b's windows. Shared by
    * [[binaryHammingTopKMultiTable]] and [[graft.RecallLadder]]'s
    * candidate counter so the ladder's reported `cands` can never
    * desync from the timed plan.
    */
  private[graft] def probedBuckets(bucket: Column, p: Int, probe: Int): Column = {
    require(probe >= 0 && probe <= 2, s"probe=$probe must be 0, 1 or 2 (prefix Hamming radius)")
    if (probe == 0) array(bucket)
    else {
      // radius 1: the p single-bit XOR masks; radius 2 adds the
      // p(p-1)/2 two-bit masks — a quadratic-in-p (but corpus-
      // independent) probe set, still a deterministic integer
      // enumeration. The expression count is 1 + p + p(p-1)/2
      // (≤ 529 at the p=32 clamp) — query-side only, no new shuffle.
      val singles = (0 until p).map(j => bucket.bitwiseXOR(lit(1L << j)))
      val pairs =
        if (probe < 2) Seq.empty
        else for { i <- 0 until p; j <- i + 1 until p }
          yield bucket.bitwiseXOR(lit((1L << i) | (1L << j)))
      array(((bucket +: singles) ++ pairs): _*)
    }
  }

  /** v14b — multi-table sign-prefix LSH: the recall knob on
    * [[binaryHammingTopK]]'s bucket route. A single prefix table misses
    * any true neighbor that differs from the query in even ONE of the
    * `prefixBits` bucket bits; `nTables` `prefixBits`-wide windows of
    * the hi half — disjoint while they fit, WRAPPED bit-rotations past
    * 32 bits — act as L independent hash tables (each
    * table hashes with a different subset of the 64 axis-aligned
    * hyperplanes — the standard L-table LSH construction, the same way
    * v7 extends v2's single RHP table). A candidate pair is generated
    * when the two codes agree on ANY table's window; union-of-tables
    * candidates dedup BEFORE the exact Hamming re-rank so each pair is
    * scored once. Miss probability decays exponentially in L: a
    * neighbor within Hamming radius r of the query survives unless all
    * L windows are hit. At EQUAL `prefixBits`, table 0's window is
    * exactly the single-table route's bucket key, so the candidate set
    * is a superset and recall@k dominates the single-table route at
    * the cost of ≤ L× candidate generation. (At differing widths — the
    * defaults here are 6 bits vs 8 there — neither candidate set
    * contains the other and domination is not guaranteed. A larger
    * nTables at the same width IS a candidate superset of a smaller
    * one — the tables form a prefix sequence — so recall is monotone
    * in L.)
    *
    * Deterministic (bit windows/rotations, not seeded permutations) ⇒
    * the whole route replays in integer SQL: table l's bucket is the
    * top p bits of hi rotated left by r = (l·p) mod 32 — while windows
    * fit, exactly `(hi // 2^(32-(l+1)·p)) % 2^p`; wrapped tables
    * replay as `((hi % 2^(32-r))·2^r + hi // 2^(32-r)) // 2^(32-p)`.
    *
    * Scale: never broadcasts and never counts — candidates come from L
    * bucket-keyed equi-joins (posexplode to (tbl, bucket) keys, one
    * shuffle keyed on both), linear in summed bucket occupancy; at
    * L > 1 the dedup is a partial-agg-friendly distinct on (qid, cid,
    * hamming) (one table yields each pair once: a code has one bucket
    * per table, and the probed buckets are distinct); top-k is a
    * per-query window over candidates only. No n² anywhere.
    *
    * Defaults (p=6, L=8) are the executed cost/recall frontier
    * (RECALL_r13.json, [[graft.RecallLadder]], SCALE.md "Multi-table
    * Hamming LSH operating points"): at sf1 (20k×20k, 2k queries) p=6
    * dominates p=4 at every equal candidate budget (L=4: recall@3
    * 0.548 @ 2.7M cands vs p=4 L=1's 0.320 @ 2.6M) while p=8 is capped
    * at 4 distinct tables (recall ceiling 0.333); L=8 buys recall@3
    * 0.741 at sf1 / 0.545 at sf0.1 for ~4.5 s — the knee before the
    * near-linear-cost tail to the p=6 ceiling (L=16: 0.875 @ 7.7 s).
    * Callers chasing >0.9 recall switch to p=4 L=8 (0.967 @ 14 s).
    *
    * `targetOccupancy > 0` switches the width to OCCUPANCY-TARGETED
    * auto mode — the 100× lesson from SCALE_100X_r14.json: ANY fixed
    * prefix width has a fixed 2^p bucket cardinality, so occupancy
    * grows linearly with the corpus and candidate pairs QUADRATICALLY
    * (the measured fixed-width walls blow up 797×/1239× at 100× data).
    * Auto mode derives p from one bounded scalar count so expected
    * occupancy stays ≈ targetOccupancy at every corpus size:
    * p = min(32, max(4, ceilLog2(ceil(n / targetOccupancy)))), in pure
    * integer arithmetic (no float log2 — boundary powers of two must
    * round identically in the SQL replay), and CLAMPS nTables to the
    * 32/gcd(p,32) distinct rotation offsets. Candidates then grow
    * LINEARLY (n · L · occupancy); per-table recall drops as p widens,
    * bought back by raising L — odd derived widths keep gcd(p,32)=1
    * and the full 32-table headroom ([[autoPrefixBits]]). `prefixBits`
    * is ignored in auto mode.
    */
  def binaryHammingTopKMultiTable(df: DataFrame, id: Column, vec: Column, k: Int,
                                  isQuery: Column => Column,
                                  prefixBits: Int = 6,
                                  // default RESTORED to the pre-round-14
                                  // value 4 (the v14b driver config);
                                  // round 14 briefly shipped 8. Every
                                  // in-repo caller passes L explicitly —
                                  // an external caller on the default
                                  // should see the long-lived value, not
                                  // a silent 2x candidate-cost change
                                  nTables: Int = 4,
                                  targetOccupancy: Int = 0,
                                  probe: Int = 0): DataFrame = {
    requirePositive("k", k)
    // auto mode: one bounded scalar count (the allowlisted shape) →
    // integer ceil-log2, replayed verbatim in oracle SQL
    val p =
      if (targetOccupancy <= 0) prefixBits
      else autoPrefixBits(df.count(), targetOccupancy)
    require(p >= 1 && p <= 32 && nTables >= 1 && nTables <= 32,
      s"nTables=$nTables, prefixBits=$p must each fit the 32 hi sign bits")
    require(probe >= 0 && probe <= 2,
      s"probe=$probe must be 0, 1 or 2 (prefix Hamming radius of the query-side probe set)")
    // rotation offsets r = (l·p) mod 32 repeat with period 32/gcd(p,32)
    // — a table whose offset repeats is bit-identical to an earlier one
    // and pays full candidate-generation cost for zero recall gain. At
    // an EXPLICIT width the duplicate is rejected rather than silently
    // dropped; in auto mode (the caller cannot know the derived width
    // up front) the table count is CLAMPED to the distinct-offset cap.
    val distinctTables = distinctRotationTables(p)
    if (targetOccupancy <= 0)
      require(nTables <= distinctTables,
        s"nTables=$nTables exceeds the $distinctTables distinct rotation offsets at " +
          s"prefixBits=$p (offsets (l*$p) mod 32 repeat with period " +
          s"$distinctTables): tables beyond that are duplicates — zero recall gain")
    val nT = math.min(nTables, distinctTables)
    if (nT < nTables)
      log.warn(s"binaryHammingTopKMultiTable: auto width p=$p has only " +
        s"$distinctTables distinct rotation offsets — clamping nTables " +
        s"$nTables -> $nT (widen targetOccupancy, or pass an odd explicit " +
        "prefixBits for the full 32-table headroom)")
    val base = df.select(id.cast("long").as("vid"),
      VectorFunctions.signCode(vec).as("code"))
      .select(col("vid"), col("code.hi").as("hi"), col("code.lo").as("lo"))
    val tabled = base.select(col("vid"), col("hi"), col("lo"),
      posexplode(multiTableBuckets(col("hi"), p, nT))
        .as(Seq("tbl", "bucket")))
    // Multi-probe expands only the QUERY side (|Q| · L · (1+p) rows —
    // the corpus side stays one row per (vid, tbl)): each query also
    // probes the p buckets at prefix Hamming distance 1, catching true
    // neighbors that differ from the query in exactly one bucket bit —
    // the standard recall lever that does NOT add tables (and so does
    // not re-shuffle the corpus).
    val qBucket =
      if (probe == 0) col("bucket") // no explode node on the probe-less path
      else explode(probedBuckets(col("bucket"), p, probe))
    val q = tabled.where(isQuery(col("vid")))
      .select(col("vid").as("qid"), col("hi").as("qhi"), col("lo").as("qlo"),
        col("tbl"), qBucket.as("bucket"))
    val c = tabled.select(col("vid").as("cid"), col("hi"), col("lo"),
      col("tbl"), col("bucket"))
    val cand = q.join(c, Seq("tbl", "bucket")).where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), hammingOf.as("hamming"))
    // a pair found by several tables scores once
    topKPerQuery(if (nT > 1) cand.distinct() else cand, "hamming", ascending = true, k)
  }

  /** v12 — prototypicality ranking per IVF cell (the SSL-prototypes
    * data-pruning recipe: score each example by how close it sits to
    * its cluster's prototype, keep the most prototypical): each vector
    * is scored by its integer squared distance to its OWN cell's
    * centroid — the element-wise truncating integer mean of the cell's
    * final members, the same update rule the build runs — ranked
    * ascending (ties by id) within the cell, with `kept` flagging the
    * `keepK` most prototypical members. Everything stays in the v9
    * integer pipeline, so build AND scoring replay in SQL.
    *
    * Scale: centroids are nCells bounded rows (broadcast back); the
    * rank is a window PARTITIONED BY cell — per-cell sorts only, no
    * global sort, no single-partition exchange.
    */
  def prototypicality(df: DataFrame, id: Column, vec: Column, nCells: Int,
                      keepK: Int): DataFrame = {
    require(keepK > 0, s"keepK=$keepK must be positive")
    val fin = intIvfAssign(df, id, vec, nCells)
    // final-cell centroids: same truncating element-wise integer mean
    // as the build's update step, over the FINAL assignment
    val cents = fin.select(col("cell"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("cell", "i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("c", ((col("s") - col("s") % col("n")) / col("n")).cast("long"))
      .groupBy("cell").agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ps"))
      .select(col("cell"), expr("transform(ps, p -> p.c)").as("cent"))
    val w = Window.partitionBy("cell").orderBy(col("isq").asc, col("vid").asc)
    fin.join(broadcast(cents), Seq("cell"))
      .withColumn("isq", VectorFunctions.intSqDist(col("q"), col("cent")))
      .withColumn("rank", row_number().over(w))
      .select(col("vid").as("vec_id"), col("cell"), col("isq"),
        col("rank").cast("long").as("rank"), (col("rank") <= keepK).as("kept"))
  }

  /** Product quantization top-k — the classic memory-for-recall ANN
    * trade (M sub-codebooks of k codes: a 64-dim float vector becomes M
    * bytes, 32× smaller), built and searched ENTIRELY in deterministic
    * integer arithmetic like [[intIvfTopK]], so the whole thing — Lloyd
    * rounds included — replays bit-for-bit in SQL.
    *
    *  1. int8-quantize under one global scale, explode each vector into
    *     M subvector rows (vid, m, sub);
    *  2. per-subspace codebooks: init = the `k` smallest-id rows'
    *     subvectors, one integer Lloyd round (same argmin/truncating-
    *     mean as intIvfTopK), all M subspaces trained in ONE pipeline
    *     keyed by m;
    *  3. encode: final per-(vid, m) code cell, pivoted to one M-code
    *     array per vector;
    *  4. search: the M·k² symmetric code-pair distances become a
    *     LITERAL lookup array (the codebooks are broadcast-sized fitted
    *     metadata), so scoring a candidate pair is M array reads and
    *     the scan is a map-side broadcast of the bounded query side —
    *     no join keyed on the M values, no shuffle of the scan.
    *
    * `isQuery` bounds the query side exactly as in intIvfTopK.
    */
  /** One integer-Lloyd assignment step over subspace rows
    * (vid, m, sub) against per-subspace centroids (m, cell, cent) —
    * the same packed-long partial-agg argmin as intIvfTopK.assign
    * ([[ArgminPackStride]]; VERDICT r18 #6: a struct-buffered argmin
    * degraded this n·M·k-row stage to Sort+SortAggregate, the
    * measured CPU burn of the PQ family). The subvector rides in the
    * group key; the exact smallest-dist-then-smallest-cell tie-break —
    * and every oracle — is unchanged. Shared by [[pqTopK]] and
    * [[ivfAdcTopK]] training.
    */
  private def pqAssign(sv: DataFrame, cents: DataFrame): DataFrame = {
    val dist = VectorFunctions.intSqDist(col("sub"), col("cent"))
    sv.join(broadcast(cents), Seq("m"))
      .select(col("vid"), col("m"), col("sub"),
        (dist * lit(ArgminPackStride) + col("cell")).as("pk"))
      .groupBy(col("vid"), col("m"), col("sub"))
      .agg(min(col("pk")).as("pk"))
      .select(col("vid"), col("m"), col("sub"),
        (col("pk") % lit(ArgminPackStride)).as("cell"))
  }

  /** Per-subspace truncating element-wise integer centroid mean —
    * pqTopK/ivfAdcTopK's shared Lloyd update ((s - s%n)/n is an exact
    * multiple, so the division replays bit-for-bit in SQL).
    */
  private def pqUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("m"), col("cell"), posexplode(col("sub")).as(Seq("i", "x")))
      .groupBy("m", "cell", "i").agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("c", ((col("s") - col("s") % col("n")) / col("n")).cast("long"))
      .groupBy("m", "cell").agg(array_sort(collect_list(struct(col("i"), col("c")))).as("ps"))
      .select(col("m"), col("cell"), expr("transform(ps, p -> p.c)").as("cent"))

  /** Codebook init shared by [[pqTopK]] and [[adcBuild]]: the `k`
    * smallest-id training rows' subvectors, numbered as cells 0..k-1 in
    * id order, in every subspace — (m, cell, cent).
    */
  private def pqInit(sv: DataFrame, k: Int): DataFrame =
    sv.join(
        sv.select(col("vid")).distinct().orderBy("vid").limit(k)
          .select((row_number().over(Window.orderBy("vid")) - 1).cast("long").as("cell"),
            col("vid").as("cvid")),
        col("vid") === col("cvid"))
      .select(col("m"), col("cell"), col("sub").as("cent"))

  /** Flatten collected (m, cell, cent) codebook rows to the dense
    * cell-indexed layout the packed kernels read: `cbFlat((mi*kCodes +
    * cell)*subDim + j)` plus the per-(m, cell) validity mask (Lloyd
    * can empty a cell per subspace; the SQL argmin ranks only existing
    * codebook rows, so the encoder must skip untrained slots).
    */
  private def flattenCodebook(cbRows: Array[org.apache.spark.sql.Row],
                              m: Int, subDim: Int,
                              kCodes: Int): (IndexedSeq[Long], IndexedSeq[Boolean]) = {
    val cbFlat = Array.fill(m * kCodes * subDim)(0L)
    val cbValid = Array.fill(m * kCodes)(false)
    cbRows.foreach { r =>
      val mi = r.getAs[Number](0).intValue
      val ci = r.getAs[Number](1).intValue
      val cent = r.getSeq[Long](2)
      cbValid(mi * kCodes + ci) = true
      var j = 0
      while (j < subDim) { cbFlat((mi * kCodes + ci) * subDim + j) = cent(j); j += 1 }
    }
    (cbFlat.toIndexedSeq, cbValid.toIndexedSeq)
  }

  /** NOTE: the deterministic training stride `vid % max(1, n/target)`
    * assumes roughly DENSE ids (ADVICE r19 — all-odd or otherwise
    * patterned vids would thin or empty the sample; the oracle mirrors
    * the stride, so results stay matched, but training quality is a
    * data-shape contract, same as the intIvfIndex-family's integer-id
    * precondition).
    */
  def pqTopK(df: DataFrame, id: Column, vec: Column, m: Int, subDim: Int, k: Int,
             topK: Int, isQuery: Column => Column,
             trainTarget: Int = AdcTrainTarget): DataFrame = {
    require(trainTarget > 0, s"trainTarget must be positive: $trainTarget")
    requirePositive("topK", topK)
    require(k <= ArgminPackStride,
      s"k=$k exceeds the argmin packing stride $ArgminPackStride")
    val base = df.select(id.cast("long").as("vid"), vec.as("v"))
    // one bounded stats pass: corpus count (drives the training stride)
    // and the global int8 scale together
    val stats = base.agg(count(lit(1)), max(aggregate(col("v"), lit(0.0),
      (acc, x) => greatest(acc, abs(x.cast("double")))))).head
    val n = stats.getLong(0)
    require(n > 0, "pqTopK: empty corpus (no vectors to index)")
    val maxAbs = stats.getDouble(1)
    val scale = if (maxAbs == 0.0) 1.0 else maxAbs / 127.0
    // int8 code vectors. The vid repartition keeps a single-split
    // corpus from serializing the encode scan into one task (see
    // intIvfIndex's qv note); nothing full-corpus is persisted — only
    // the bounded TRAINING SAMPLE below is (round 20, VERDICT r19 #6:
    // the round-19 shape persisted the full n×M subvector explode just
    // to serve training, then needed a forced count() to sequence its
    // release — persisting the sample instead deletes both the cache
    // and the extra pass).
    val qvec = base.select(col("vid"),
      transform(col("v"), x => round(x.cast("double") / lit(scale)).cast("long")).as("q"))
      // column-only on purpose: both consumers (qvT, codes) persist, and AQE keeps their output partitioning
      .repartition(col("vid"))
    // codebook training on the deterministic bounded stride sample
    // (round 19, VERDICT r18 #5 — full-corpus codebook training is the
    // full-data×M shuffle [[AdcTrainTarget]]'s scaladoc calls unpayable
    // at 100 TB): init = the k smallest-id SAMPLED vectors' subvectors,
    // one integer Lloyd round over the sample, full-corpus encode
    // against the fitted codebook. The oracle recomputes the stride
    // from count(*).
    val trainMod = math.max(1L, n / trainTarget)
    val qvT = qvec.where(col("vid") % trainMod === 0)
      .select(col("vid"), explode(sequence(lit(0), lit(m - 1))).as("m"), col("q"))
      .select(col("vid"), col("m"),
        slice(col("q"), col("m") * subDim + 1, lit(subDim)).as("sub"))
      .persist()
    // trained codebooks (m, cell, cent) — collected IMMEDIATELY: every
    // downstream consumer (the encode kernel and the distance table)
    // reads the collected rows, so no training cache outlives this call
    // (VERDICT r17 #6)
    val cbRows = pqUpdate(pqAssign(qvT, pqInit(qvT, k))).collect()
    require(cbRows.nonEmpty, "pqTopK: PQ training produced no codebook " +
      "rows (empty training sample)")
    qvT.unpersist(blocking = false)
    val (cbFlat, cbValid) = flattenCodebook(cbRows, m, subDim, k)

    // full-corpus encode as ONE compiled map-side expression against
    // the collected codebook — identical argmin/tie-break to the SQL
    // oracle's ra2 ranking, but zero shuffles (the round-19 shape paid
    // an n×M explode, a broadcast-join HashAggregate, and a second
    // (vid)-keyed groupBy just to reassemble the code array). The M
    // 4-bit codes pack into one int64 ([[graft.functions.PqPack]]):
    // 8 bytes/vector as literally one BIGINT column. Persisted: it
    // backs BOTH sides of the search join below (session-scoped, the
    // one deliberate persist this operator leaves live).
    val codes = qvec.select(col("vid"),
        VectorFunctions.pqEncodePacked(col("q"), cbFlat, cbValid,
          (0 until m * subDim).toIndexedSeq, m, subDim, k).as("pc"))
      .persist()

    // The M·k² symmetric code-pair distance table collapses to a
    // referenced lookup array (codebooks are broadcast-sized metadata,
    // like a fitted model's centroids): the search then needs NO join
    // at all — PQ distance is M compiled table reads per candidate
    // pair ([[graft.functions.PqSymDistPacked]]).
    def mOf(r: org.apache.spark.sql.Row) = r.getAs[Number](0).intValue
    def cellOf(r: org.apache.spark.sql.Row) = r.getAs[Number](1).intValue
    val dvals = Array.fill(m * k * k)(0L)
    for (ra <- cbRows; rb <- cbRows if mOf(ra) == mOf(rb)) {
      val ea = ra.getSeq[Long](2); val eb = rb.getSeq[Long](2)
      dvals(mOf(ra) * k * k + cellOf(ra) * k + cellOf(rb)) =
        ea.zip(eb).map { case (x, y) => (x - y) * (x - y) }.sum
    }

    // bounded query side broadcast against the corpus code relation —
    // same containment contract as cosineTopK's query side
    val qcodes = codes.where(isQuery(col("vid")))
      .select(col("vid").as("qid"), col("pc").as("qc"))
    topKPerQuery(codes.select(col("vid").as("cid"), col("pc").as("cc"))
      .crossJoin(broadcast(qcodes)).where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        VectorFunctions.pqSymDistPacked(col("qc"), col("cc"), dvals.toIndexedSeq, m, k)
          .as("pq_dist")),
      "pq_dist", ascending = true, topK)
  }

  /** IVFADC — the production large-scale ANN composition (inverted
    * file + asymmetric distance computation on PQ-coded RESIDUALS,
    * Jégou/Douze/Schmid, "Product quantization for nearest neighbor
    * search", TPAMI 2011) in its INNER-PRODUCT form (the MIPS metric
    * of e.g. faiss IndexIVFPQ/METRIC_INNER_PRODUCT): the coarse
    * integer-IVF quantizer ([[intIvfBuild]], corpus-scaled cells)
    * decides WHO gets compared, each vector stores only the M-byte PQ
    * code of its residual q − cent(cell) (the residual is an exact
    * integer vector here, so the whole build stays deterministic and
    * SQL-replayable), and a query scores candidates asymmetrically —
    * its EXACT code vector against the candidate's reconstruction:
    * score = dot(q, cent(cell)) + dot(q, recon(residual code)).
    * Inner product, not L2: the catalog's ANN truth is cosine/dot
    * (v1's exact ranking, the v9/v11 integer-dot family) — an L2-ADC
    * on unnormalized vectors ranks a DIFFERENT objective and measured
    * recall@3 0.06–0.10. The IP form is the correct metric and is
    * also ~1.5× faster (no query residual transform). Codebooks are
    * 8-bit (k* = 256, the TPAMI 2011 composition — round 17 shipped
    * 4-bit codes whose measured recall sat at the random-pick floor)
    * and train on the deterministic [[AdcTrainTarget]] stride sample,
    * never the full corpus. This is the MEMORY tier (M bytes/vector);
    * [[ivfAdcRerankTopK]] is the serving composition (ADC shortlist →
    * exact float rerank) and [[intIvfRerankTopK]] (v11c) the
    * full-fidelity tier. Measure coding loss per corpus before
    * serving — RECALL_r18 carries both the near-isotropic worst case
    * and a decaying-spectrum fixture.
    *
    * Scale shape: the search join is cell-keyed (candidates ∝ cell
    * occupancy ≈ √n·balance at auto cells, never n²); the probe
    * expands only the bounded query side ([[intIvfProbe]], default =
    * the measured [[IvfAutoProbe]] operating point); the trained
    * codebooks collapse to one M·k·subDim literal (fitted metadata,
    * like pqTopK's distance table), so scoring needs no extra join —
    * per candidate the ADC score is M·subDim array reads inside
    * whole-stage codegen. Corpus memory per vector: M bytes + a cell
    * id, the 100 TB serving layout. Cache ownership: the coarse
    * build's entries belong to the [[IvfIndex]] (session-scoped via
    * this wrapper, caller-released via [[ivfAdcFromIndex]]); the
    * training caches are released HERE once the codebook literal is
    * collected — nothing PQ-specific outlives the call.
    */
  def ivfAdcTopK(df: DataFrame, id: Column, vec: Column, nCells: Int,
                 m: Int, subDim: Int, kCodes: Int, topK: Int,
                 isQuery: Column => Column,
                 nProbe: Int = IvfAutoProbe,
                 trainTarget: Int = AdcTrainTarget): DataFrame = {
    requirePositive("topK", topK)
    ivfAdcFromIndex(intIvfIndex(df, id, vec, nCells),
      m, subDim, kCodes, topK, isQuery, nProbe, trainTarget)
  }

  /** [[ivfAdcTopK]] over a prebuilt [[IvfIndex]] — the handle form for
    * long-lived callers (RecallLadder) that must release the coarse
    * build's caches themselves. Builds a throwaway [[AdcIndex]] whose
    * one persisted entry (the packed code column) is left to the
    * session, like every one-shot catalog persist.
    */
  private[graft] def ivfAdcFromIndex(ix: IvfIndex,
                 m: Int, subDim: Int, kCodes: Int, topK: Int,
                 isQuery: Column => Column,
                 nProbe: Int, trainTarget: Int): DataFrame = {
    requirePositive("topK", topK)
    val aix = adcBuild(ix, m, subDim, kCodes, trainTarget)
    val out = ivfAdcTopKFromAdc(aix, topK, isQuery, nProbe)
    // one-shot contract: nothing PQ-specific outlives the call (the
    // returned plan recomputes the map-side encode at action time)
    aix.releaseOwn()
    out
  }

  /** The v16 MEMORY tier over a built [[AdcIndex]]: rank every probed
    * candidate by the asymmetric inner-product score, cut at topK.
    */
  private[graft] def ivfAdcTopKFromAdc(aix: AdcIndex, topK: Int,
                 isQuery: Column => Column,
                 nProbe: Int = IvfAutoProbe): DataFrame = {
    requirePositive("topK", topK)
    topKPerQuery(adcScored(aix, isQuery, nProbe), "adc_score", ascending = false, topK)
  }

  /** Build the IVFADC serving artifacts over a coarse [[IvfIndex]] —
    * the ONE place the residual-PQ recipe lives (VERDICT r19 #1/#2):
    *
    *  1. residuals r = q − cent(own cell), exact integers;
    *  2. per-dimension residual ENERGY Σr²ᵢ over the deterministic
    *     stride training sample — one bounded job — ranks the
    *     dimensions (energy desc, dim asc), and rank rk feeds
    *     subspace rk mod M at position rk div M: the energy-BALANCING
    *     permutation (the structured-initialization direction of OPQ,
    *     Ge/He/Ke/Sun, CVPR 2013 — deterministic, so the SQL oracle
    *     replays the derivation from the same sample). Round 19
    *     measured the UNPERMUTED contiguous blocks at the random floor
    *     on decaying-spectrum embeddings (recall@3 0.024): subspace 0
    *     held all the residual energy and the other 7 codebooks coded
    *     noise;
    *  3. TWO integer Lloyd rounds over the sampled permuted residual
    *     subvectors (round 19 trained ONE round from the smallest-id
    *     init — undertrained for k*=256; each extra round is one more
    *     assign/update CTE pair in the oracle, and a THIRD round
    *     measured flat on recall — see the A/B note at the training
    *     site);
    *  4. full-corpus encode as one compiled map-side expression
    *     ([[graft.functions.PqEncodePacked]]) against the collected
    *     codebook: the M 8-bit codes of each vector pack into ONE
    *     int64 — the TPAMI 2011 "8 bytes per vector" as literally one
    *     BIGINT column, no array allocation, no encode shuffle (the
    *     round-19 shape paid an n×M explode + two full-corpus
    *     aggregations here).
    *
    * The returned handle owns the code column's persist and the coarse
    * index; [[ivfAdcTopKFromAdc]]/[[ivfAdcRerankTopKFromAdc]] are pure
    * bounded plans over it, so a serving session (the v16/v16b catalog
    * pair, RecallLadder's probe ladder) pays this build once.
    */
  private[graft] def adcBuild(ix: IvfIndex, m: Int, subDim: Int,
                 kCodes: Int, trainTarget: Int): AdcIndex = {
    require(m > 0 && subDim > 0 && kCodes > 1,
      s"bad PQ config: m=$m subDim=$subDim kCodes=$kCodes")
    require(kCodes <= ArgminPackStride,
      s"kCodes=$kCodes exceeds the argmin packing stride $ArgminPackStride")
    require(trainTarget > 0, s"trainTarget must be positive: $trainTarget")
    val (fin, cents) = (ix.fin, ix.cents)
    // ADVICE r17: an m·subDim that disagrees with the embedding width
    // would silently drop the residual tail (too small) or read past
    // the array into null scores (too large) — cross-check against
    // the actual vector length (measured by the index build's single
    // stats pass, so no extra job here)
    val dim = ix.dim
    require(m * subDim == dim,
      s"m*subDim=${m * subDim} must equal the embedding dimension $dim")
    // corpus residuals vs the OWN cell's centroid — exact integers
    val res = fin.join(broadcast(cents), Seq("cell"))
      .select(col("vid"), col("cell"),
        zip_with(col("q"), col("cent"), (a, b) => a - b).as("r"))
    // the deterministic stride sample drives BOTH the permutation and
    // the codebooks (corpus count reused from the index build's stats
    // pass — no count() job here). Dense-id assumption as in pqTopK.
    val n = ix.n
    val trainMod = math.max(1L, n / trainTarget)
    val resT = res.where(col("vid") % trainMod === 0)
    // per-dimension residual energy over the SAMPLE — a bounded
    // dim-row aggregate (exact integer sums, so the DuckDB replay
    // ranks identically)
    val enRows = resT.select(posexplode(col("r")).as(Seq("i", "x")))
      .groupBy("i").agg(sum(col("x") * col("x")).as("e"))
      .collect()
    require(enRows.length == dim,
      s"energy pass returned ${enRows.length} dims, expected $dim (empty training sample?)")
    val rankedDims = enRows
      .map(r => (r.getAs[Number](0).intValue, r.getAs[Number](1).longValue))
      .sortBy { case (i, e) => (-e, i) }
    // perm(mi*subDim + j) = the 0-based input dim feeding subspace mi
    // position j; rank rk lands at subspace rk % M, position rk / M
    val perm = Array.ofDim[Int](dim)
    rankedDims.zipWithIndex.foreach { case ((dimIdx, _), rk) =>
      perm((rk % m) * subDim + (rk / m)) = dimIdx
    }
    // permuted training subvectors: a bounded explode over the sample
    // (the full corpus never takes this shape — its encode is the
    // map-side kernel below)
    val subStructs = (0 until m).map { mi =>
      struct(lit(mi).as("m"),
        array((0 until subDim).map(j => col("r").getItem(perm(mi * subDim + j))): _*).as("sub"))
    }
    val rsvT = resT
      .select(col("vid"), explode(array(subStructs: _*)).as("ms"))
      .select(col("vid"), col("ms").getField("m").as("m"),
        col("ms").getField("sub").as("sub"))
      .persist()
    // two Lloyd rounds; the round-1 codebook is a bounded (≤ M·k*)
    // relation that broadcasts into round 2's assign. Rounds and
    // sample size were A/B'd (round 20, semb1 20k fixture): a third
    // round and a 4× training sample both measured FLAT on pure-ADC
    // recall (0.165→0.145 at probe=1) — the binding constraint past
    // two rounds is the 8-byte code budget, not training quality.
    val rc1 = pqUpdate(pqAssign(rsvT, pqInit(rsvT, kCodes)))
    val cbRows = pqUpdate(pqAssign(rsvT, rc1)).collect()
    require(cbRows.nonEmpty, "ivfAdc: PQ training produced no codebook " +
      "rows (empty training sample)")
    rsvT.unpersist(blocking = false)
    val (cbFlat, cbValid) = flattenCodebook(cbRows, m, subDim, kCodes)
    // full-corpus packed encode, map-side, carrying the cell id along —
    // the serving layout: (cell, cid, one int64 code word)
    val codes = res.select(col("cell"), col("vid").as("cid"),
        VectorFunctions.pqEncodePacked(col("r"), cbFlat, cbValid,
          perm.toIndexedSeq, m, subDim, kCodes).as("cc"))
      .persist()
    AdcIndex(ix, codes, cbFlat, cbValid, perm.toIndexedSeq,
      m, subDim, kCodes, Seq(codes))
  }

  /** The shared v16/v16b ADC candidate scoring, UNCUT: every probed
    * candidate with its asymmetric inner-product score (qid, cid,
    * adc_score) — [[ivfAdcTopKFromAdc]] ranks and cuts it at topK,
    * [[ivfAdcRerankTopKFromAdc]] at the occupancy-derived per-query
    * shortlist. score = dot(q, cent(cell)) + dot(q, recon(residual
    * code)): the first term rides the probe row, the reconstruction
    * term is one compiled kernel over the packed code word
    * ([[graft.functions.AdcScorePacked]]) — M·subDim multiply-adds per
    * candidate inside whole-stage codegen.
    */
  private def adcScored(aix: AdcIndex, isQuery: Column => Column,
                        nProbe: Int): DataFrame = {
    val (fin, cents) = (aix.ix.fin, aix.ix.cents)
    val qs = intIvfProbe(fin, cents, isQuery, nProbe)
      .join(broadcast(cents), Seq("cell"))
      .select(col("cell"), col("vid").as("qid"), col("q").as("qq"),
        VectorFunctions.intDot(col("q"), col("cent")).as("qcd"))
    val adc = col("qcd") + VectorFunctions.adcScorePacked(col("qq"), col("cc"),
      aix.cbFlat, aix.perm, aix.m, aix.subDim, aix.kCodes)
    qs.join(aix.codes, Seq("cell")).where(col("qid") =!= col("cid"))
      .withColumn("adc_score", adc)
      .select(col("qid"), col("cid"), col("adc_score"))
  }

  /** IVFADC serving composition (VERDICT r17 #1): the M-byte ADC scan
    * ranks a per-query SHORTLIST of `shortlist` candidates, and the
    * exact float cosine finishes — ADC as the cheap FILTER over the
    * probed cells' full occupancy, the float math only on the
    * shortlist (the standard PQ serving pattern: IVFADC shortlist +
    * exact re-rank, the refinement step of Jégou/Douze/Schmid TPAMI
    * 2011 §IV — there from stored full vectors; here from the float
    * column). vs [[intIvfRerankTopK]] (v11c), which float-ranks EVERY
    * candidate: at equal probe both see the same candidate pool, but
    * this tier reads M bytes per candidate and 64 floats only per
    * shortlist row — the wide-corpus memory/bandwidth trade. Recall
    * ceiling is P(true top-k ∈ ADC top-shortlist); RECALL_r18
    * measures it on both embedding shapes.
    *
    * Shortlist SIZING (round 19, VERDICT r18 #1): a fixed shortlist is
    * a measured scale-killer — R=32 is ~11% of a 2k-corpus probe pool
    * (recall@3 0.667 on the semb10 fixture) and ~1% of a 200k one
    * (0.165, RECALL_r18) at the identical recipe. The pass-through
    * fraction R/pool, not R itself, sets the recall ceiling, so the
    * operator derives R PER QUERY from that query's own probed-pool
    * occupancy: R_q = max(shortlist, ceil(pool_q / shortlistFrac)) —
    * `shortlist` degrades to the floor, [[AdcShortlistFrac]] pins the
    * measured ~1/10 operating fraction, and the derivation is one
    * count window over the already-shuffled (qid) partition (no new
    * exchange). Same auto-derivation pattern as v9b's cell count and
    * v14d's LSH width; the SQL oracle replays the window + ceiling
    * division bit-for-bit. `shortlistFrac = 0` pins the fixed-R tier
    * (the recall ladder's R-knob rows).
    *
    * Scale shape: [[ivfAdcTopK]]'s cell-keyed scan unchanged. With the
    * derived shortlist the rerank relation is ~pool/frac (≈ √n·balance
    * / frac under auto cells) rows per query — corpus-DEPENDENT, so
    * (ADVICE r19) nothing float-valued is broadcast per shortlist row:
    * the broadcast sides are the narrow id pairs and the one-row-per-
    * DISTINCT-query float vectors, and the only corpus-sized pass the
    * float column pays is its scan.
    */
  def ivfAdcRerankTopK(df: DataFrame, id: Column, vec: Column, nCells: Int,
                       m: Int, subDim: Int, kCodes: Int, shortlist: Int,
                       topK: Int, isQuery: Column => Column,
                       nProbe: Int = IvfAutoProbe,
                       trainTarget: Int = AdcTrainTarget,
                       shortlistFrac: Int = AdcShortlistFrac): DataFrame = {
    requirePositive("topK", topK)
    ivfAdcRerankFromIndex(intIvfIndex(df, id, vec, nCells), df, id, vec,
      m, subDim, kCodes, shortlist, topK, isQuery, nProbe, trainTarget,
      shortlistFrac)
  }

  /** [[ivfAdcRerankTopK]] over a prebuilt [[IvfIndex]] — see
    * [[ivfAdcFromIndex]] for the cache-ownership contract.
    */
  private[graft] def ivfAdcRerankFromIndex(ix: IvfIndex, df: DataFrame,
                       id: Column, vec: Column,
                       m: Int, subDim: Int, kCodes: Int, shortlist: Int,
                       topK: Int, isQuery: Column => Column,
                       nProbe: Int, trainTarget: Int,
                       shortlistFrac: Int = AdcShortlistFrac): DataFrame = {
    requirePositive("topK", topK)
    val aix = adcBuild(ix, m, subDim, kCodes, trainTarget)
    val out = ivfAdcRerankTopKFromAdc(aix, df, id, vec, shortlist, topK,
      isQuery, nProbe, shortlistFrac)
    // one-shot contract: see ivfAdcFromIndex
    aix.releaseOwn()
    out
  }

  /** The v16b SERVING tier over a built [[AdcIndex]]: ADC shortlist →
    * exact float cosine rerank.
    */
  private[graft] def ivfAdcRerankTopKFromAdc(aix: AdcIndex, df: DataFrame,
                       id: Column, vec: Column, shortlist: Int,
                       topK: Int, isQuery: Column => Column,
                       nProbe: Int = IvfAutoProbe,
                       shortlistFrac: Int = AdcShortlistFrac,
                       maxBroadcastRows: Long = Broadcasts.MaxRows,
                       knownQueryCount: Option[Long] = None): DataFrame = {
    requirePositive("topK", topK)
    require(shortlist >= topK,
      s"shortlist=$shortlist must be >= topK=$topK")
    require(shortlistFrac >= 0,
      s"shortlistFrac=$shortlistFrac must be >= 0 (0 pins the fixed tier)")
    // per-query shortlist: rank and pool-count over the SAME (qid)
    // partitioning — one exchange feeds both window functions
    val rCut =
      if (shortlistFrac <= 0) lit(shortlist.toLong)
      else greatest(lit(shortlist.toLong),
        // integral ceiling division (`div`, = DuckDB's `//` on the
        // oracle side) — exact, no float quotient
        expr(s"(pool + ${shortlistFrac - 1}) div $shortlistFrac"))
    val short = rankPerQuery(adcScored(aix, isQuery, nProbe), "adc_score", ascending = false)
      .withColumn("pool", count(lit(1)).over(Window.partitionBy("qid")))
      .where(col("rank") <= rCut)
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"))
    val v = df.select(id.cast("long").as("fid"), vec.as("fv"),
      VectorFunctions.l2Norm(vec).as("fn"))
    // With the pool-derived shortlist the rerank relation grows
    // ~pool/frac (≈ √n·balance/frac under auto cells) rows per query —
    // corpus-DEPENDENT, so nothing float-valued is force-broadcast per
    // shortlist row (ADVICE r19: the old shape broadcast the full query
    // vector once per shortlist row). The broadcast sides are the two
    // relations bounded by construction: the narrow (query_id,
    // neighbor_id) id pairs, and the per-QUERY float vectors (one row
    // per distinct query, the same containment contract as the probe).
    // Round 21 (VERDICT r20 #5a): those bounds are corpus-dependent, so
    // the broadcasts are now GATED on the same absolute-row-count
    // contract as cosineTopK — a bounded count of the query side (one
    // cheap pruned scan, no windows) plus the arithmetic shortlist
    // ceiling nQ × max(shortlist, ceil(n/frac)) from the index's corpus
    // count. Past the cap every hint drops and the rerank runs as plain
    // shuffle joins — same rows, no single-executor relation.
    // Callers that serve many requests over one memoized index pass
    // the query count they already know (`knownQueryCount`), which
    // saves the one driver-blocking job per call and gates identically.
    val cap = Broadcasts.cap(maxBroadcastRows)
    val nQ = Broadcasts.boundedCount(v.where(isQuery(col("fid"))), cap, knownQueryCount)
    val perQuery = math.max(shortlist.toLong,
      if (shortlistFrac <= 0) shortlist.toLong
      else (aix.ix.n + shortlistFrac - 1) / shortlistFrac)
    val shortBound =
      try math.multiplyExact(nQ, perQuery)
      catch { case _: ArithmeticException => Long.MaxValue }
    val under = nQ <= cap && shortBound <= cap
    if (!under)
      log.warn(s"ivfAdcRerankTopKFromAdc: shortlist bound $shortBound rows " +
        s"(nQ=$nQ x perQuery=$perQuery) exceeds broadcast cap $cap — " +
        "rerank joins run as plain shuffle joins")
    def maybeBroadcast(rel: DataFrame): DataFrame =
      if (under) broadcast(rel) else rel
    val qids = short.select(col("query_id")).distinct()
    val qv = v.join(maybeBroadcast(qids), col("fid") === col("query_id"))
      .select(col("query_id"), col("fv").as("qv"), col("fn").as("qn"))
    val c = v.join(maybeBroadcast(short), col("fid") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("fv").as("cv"), col("fn").as("cn"))
    val rer = c.join(maybeBroadcast(qv), Seq("query_id"))
      .select(col("query_id").as("qid"), col("neighbor_id").as("cid"),
        cosOf(col("qv"), col("cv"), col("qn"), col("cn")).as("sim"))
    topKPerQuery(rer, "sim", ascending = false, topK)
  }

  /** C1 — all-pairs Gram similarities (i < j) over a bounded subset:
    * the reference's S = E·Eᵀ as a θ-join. Cap the input — this IS n².
    */
  def gramPairs(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val s = df.select(id.as("vid"), vec.as("v"))
      .withColumn("nrm", VectorFunctions.l2Norm(col("v")))
    val a = s.select(col("vid").as("vec_id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = s.select(col("vid").as("vec_id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("vec_id_a") < col("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"),
        cosOf(col("va"), col("vb"), col("na"), col("nb")).as("sim"))
  }
}
