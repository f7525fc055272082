package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

import graft.functions.TextFunctions
import graft.functions.TextFunctions.P

/** Large-scale training-data deduplication operators (the LLM-pipeline
  * pack): exact dedup, MinHash+LSH banding, near-dup verification.
  *
  * Design for 100 TB: nothing here ever materializes the n² pair space.
  * Exact dedup is one key-partitioned shuffle; MinHash banding maps each
  * doc to `bands` small (band, hash) keys, the candidate self-join
  * shuffles on those keys (bucket sizes are the collision sets, not n),
  * and only candidates pay the exact set-intersection verify. All hashes
  * are integer mod-p (TextFunctions) so results are engine-exact.
  *
  * Conceptual lineage: the reference's char-bigram blocking idea
  * (`/root/reference/meercat/fit_vectorizer.py:20-23`) and its bounded
  * state clustering (`meercat/nn_thresh.py:27-101`) — re-expressed as
  * declarative shuffle-on-signature joins instead of a sequential scan.
  */
object Dedup {

  /** Exact duplicate grouping: canonical id = min id among identical
    * `text`. One hash shuffle on the text key. `is_dup` marks non-canonical
    * rows. (Hash-groupBy exact dedup.)
    */
  def exactDedup(df: DataFrame, text: Column, id: Column): DataFrame =
    df.withColumn("canonical_id", min(id).over(Window.partitionBy(text)))
      .withColumn("is_dup", id =!= col("canonical_id"))

  /** Element type of a stored shingle/trigram set: non-null ints, so the
    * kernels skip null checks (the string form "array<int>" is nullable). */
  private val IntSet = ArrayType(IntegerType, containsNull = false)

  /** Materialize the per-doc distinct shingle-hash set ONCE, behind an
    * exchange barrier. Without the barrier, Catalyst's projection
    * collapse inlines the (interpreted, per-char) hash expression into
    * every downstream consumer — the 16 minhash folds and both sides of
    * the candidate join would each recompute it, turning an O(n·len)
    * projection into a 10-100× larger interpreted workload (measured
    * 85s → ~2s at sf0.1). The shuffle moves only (id, ~30 longs) rows.
    */
  def shingleSets(df: DataFrame, id: Column, shingleSet: Column): DataFrame =
    // SORTED at materialization (round 20): every consumer is
    // order-independent (minhash folds, explodes, intersection
    // counts), and sorting once per doc converts every downstream
    // per-pair verify from Spark's allocating array_intersect to the
    // compiled zero-allocation merge kernel
    // (TextFunctions.sortedIntersectCount).
    // Stored as array<int> (round 22, guide §2.3 narrower types):
    // every shingle hash is mod-P with P = 1e9+7 < 2³¹, so the int
    // cast is provably lossless and order-preserving — it halves the
    // bytes this relation carries through its own exchange, the
    // persisted set cache, and BOTH verify-join shuffles (the measured
    // d-family wall at scale). Consumers read either width: the
    // minhash fold and the merge kernel widen back to long per
    // element, and t7's explode coerces in its pmod arithmetic —
    // every emitted value is bit-identical to the long form.
    df.select(id.as("doc"), array_sort(shingleSet).cast(IntSet).as("hs"))
      // column-only on purpose: it feeds a persist, whose output partitioning AQE keeps by default
      .repartition(col("doc"))
      // The set relation feeds the signature branch AND both sides of
      // the verify join: persist it (dimension-sized: id + ~30 longs per
      // doc), the same materialized-intermediate reuse the reference
      // applies to its score matrix (`meercat/nn_thresh.py:183-188`).
      .persist()

  /** MinHash LSH banding over a materialized (doc, hs) relation from
    * [[shingleSets]]: k-hash signature split into `k/rowsPerBand` bands;
    * emits one (doc, band, band_hash) row per band. Docs sharing any
    * band hash are near-dup candidates (standard banding estimate:
    * collision probability 1−(1−J^r)^b).
    */
  def minHashBandsFromSets(sets: DataFrame, k: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    require(k % rowsPerBand == 0, "k must divide into bands")
    val nBands = k / rowsPerBand
    val withSig = sets.select(col("doc"), TextFunctions.minHashSignature(col("hs"), k).as("sig"))
    val bandHash = (0 until rowsPerBand).foldLeft(lit(0L)) { (acc, r) =>
      (acc * 31 + element_at(col("sig"), col("band") * rowsPerBand + r + 1)) % P
    }
    withSig
      .select(col("doc"), explode(sequence(lit(0), lit(nBands - 1))).as("band"), col("sig"))
      .withColumn("band_hash", bandHash)
      .drop("sig")
  }

  /** Convenience: banding straight from a document relation. */
  def minHashBands(df: DataFrame, id: Column, shingleSet: Column,
                   k: Int = 16, rowsPerBand: Int = 2): DataFrame =
    minHashBandsFromSets(shingleSets(df, id, shingleSet), k, rowsPerBand)

  /** The bucket-occupancy guard shared by every capped pair build:
    * drop band buckets with more than `maxBucket` members before any
    * self-join (no-op at `maxBucket <= 0`). The one place the oversize
    * set is computed: the streaming feeds (st6, st27) guard their bands
    * with it before ingest, so they keep the exact set the batch
    * oracles replay.
    */
  private[graft] def bucketGuard(bands: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket <= 0) bands
    else {
      // anti-join against the OVERSIZE buckets, not inner-join against
      // the kept ones: the >maxBucket set is the small side (healthy
      // data has few degenerate band hashes; heavy duplication
      // CONCENTRATES into few buckets), so AQE plans the guard as a
      // broadcast anti-join at runtime instead of re-shuffling the
      // whole band relation against a kept-set nearly its own size
      val big = bands.groupBy("band", "band_hash")
        .agg(count(lit(1)).as("__bsz"))
        .where(col("__bsz") > maxBucket)
        .select("band", "band_hash")
      bands.join(big, Seq("band", "band_hash"), "left_anti")
    }

  /** The band-key candidate join every pair build runs: `left` and
    * `right` (doc, band, band_hash) rows meet on (band, band_hash), the
    * docs renamed to `l` and `r`, kept where `rule(l, r)` holds. Emits
    * one (l, r) row per shared band, no `distinct`: the batch builds
    * add one, a stateless stream leaves the repeats to its fold.
    */
  private def bandJoin(left: DataFrame, right: DataFrame, l: String, r: String)
                       (rule: (Column, Column) => Column): DataFrame = {
    val a = left.select(col("band"), col("band_hash"), col("doc").as(l))
    val b = right.select(col("band"), col("band_hash"), col("doc").as(r))
    a.join(b, Seq("band", "band_hash"))
      .where(rule(col(l), col(r)))
      .select(l, r)
  }

  /** The exact Jaccard scorer every verify runs: attaches both docs'
    * sorted sets from `sets` (doc, hs) as `hs_*` (named after the doc
    * columns' suffix) and counts j_num = |A ∩ B| with the compiled merge
    * kernel and j_den = |A ∪ B|.
    */
  private[graft] def jaccardCounts(pairs: DataFrame, sets: DataFrame,
                                   l: String, r: String): DataFrame = {
    val (hl, hr) = ("hs" + l.stripPrefix("doc"), "hs" + r.stripPrefix("doc"))
    pairs
      .join(sets.select(col("doc").as(l), col("hs").as(hl)), l)
      .join(sets.select(col("doc").as(r), col("hs").as(hr)), r)
      .withColumn("j_num", TextFunctions.sortedIntersectCount(col(hl), col(hr)))
      .withColumn("j_den", (size(col(hl)) + size(col(hr))).cast("long") - col("j_num"))
  }

  /** j_num/j_den ≥ threshNum/threshDen, cross-multiplied: exact. */
  private def jaccardAtLeast(threshNum: Int, threshDen: Int): Column =
    col("j_num") * threshDen >= col("j_den") * threshNum

  /** The Jaccard ratio of [[jaccardCounts]]' exact counts. */
  private[graft] def jaccardRatio: Column =
    col("j_num").cast("double") / col("j_den").cast("double")

  /** Distinct candidate pairs (a < b) from shared LSH band hashes. The
    * join shuffles on (band, band_hash) — collision buckets, not docs.
    *
    * `maxBucket > 0` drops collision buckets with more than that many
    * members BEFORE the self-join — the d-family's occupancy guard
    * (SCALE_100X_r14.json: when content cardinality is bounded, band
    * buckets saturate and in-bucket pairs grow quadratically; d3's 123×
    * wall at 100× data). An oversize bucket is a DEGENERATE band hash —
    * its members agree on one band of minhashes, which at that
    * occupancy carries almost no similarity evidence (the standard
    * MinHash-LSH practice of discarding overfull bands); true near-dup
    * pairs keep ~all their other bands, so the recall cost is the
    * probability a pair collides ONLY in degenerate buckets. The size
    * pre-aggregation shuffles on the same (band, band_hash) key as the
    * join itself — partial-agg-friendly, no new shuffle key.
    */
  def lshCandidatePairs(bands: DataFrame, maxBucket: Int = 0): DataFrame = {
    val kept = bucketGuard(bands, maxBucket)
    bandJoin(kept, kept, "doc_a", "doc_b")(_ < _).distinct()
  }

  /** Diagnostic only: rounds the most recent [[connectedComponents]]
    * call took to converge (driver-side, written after its loop) —
    * read by [[graft.ScaleSmoke]] to report convergence depth against
    * the maxRounds cap. Not part of any query's semantics.
    */
  @volatile var lastCcRounds: Int = 0

  // Round 19 note (VERDICT r18 #7, attempted and REVERTED): a
  // partition-local union-find pre-merge (each partition collapsing
  // its edges to node→local-min star edges via mapPartitions before
  // the keyed delta loop) was implemented and measured at both scales.
  // It preserved every oracle, but it LOST at the scale it was sized
  // for: d7 at sf100 went 403 s (r17) → 1138 s (smoke_r19_1000x.log)
  // — the pre-merge's own costs (boxed JVM hash-map per partition,
  // the codegen/serialization boundary mapPartitions forces on the
  // full edge relation, and an extra cached materialization) exceeded
  // the shuffle savings, and the delta-loop round count it was meant
  // to cut was ALREADY minimal (3 rounds at sf100, unchanged by the
  // pre-merge — pointer hopping does that job). Round 21 re-ran
  // the experiment DECLARATIVELY (star-contract the edge relation via
  // one aggregation + two keyed joins + distinct, loop on the
  // contracted graph): same verdict -- d7 sf1 5.47 -> 7.58 s min,
  // loop rounds unchanged at 2 -- because relabeling the full edge
  // relation costs two sym-sized shuffles to shave rounds that pointer
  // hopping already minimized. What DID survive is the
  // identity-specialized first round below: strictly less work than
  // the generic round it replaces, no new passes over sym.
  /** Connected components over an undirected pair relation (the
    * canonical-document grouping a dedup pipeline runs AFTER near-dup
    * pair detection: transitively linked docs form one duplicate group;
    * the group's min id is its canonical representative).
    *
    * Iterative min-label propagation WITH pointer hopping: each round
    * every node takes the min of its own label and its neighbors'
    * labels, then shortcuts through its label's label
    * (comp(v) ← comp(comp(v))), which halves the label-tree depth —
    * convergence in O(log diameter) rounds, not O(diameter), so a
    * templated corpus with a long near-dup chain converges in a
    * handful of keyed shuffles instead of blowing the round cap.
    * Round 21: the FIRST round is specialized to the identity labeling
    * — labels₀(v) = v makes the generic round's sym ⋈ labels join a
    * semantic no-op, so the seed collapses to one aggregation
    * (least(src, min(dst))) plus a node-sized pointer-hop self-join;
    * one sym-sized shuffle join cheaper at every scale, same fixpoint.
    * Each later round is groupBy(node) + two keyed joins, nothing
    * driver-side. `localCheckpoint` per round keeps the plan O(1)
    * (persist alone grows the lineage exponentially with rounds).
    * 100 TB shape: state is one (node, label) row per doc in the pair
    * graph — linear, shuffled on node id.
    *
    * Returns (node, comp): comp = min node id of the component.
    */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
                          maxRounds: Int = 50): DataFrame = {
    // persist the directed edges BEFORE the symmetrizing union: its two
    // branches otherwise each recompute the whole upstream pair
    // pipeline (minhash + bucket guard + Jaccard verify — measured 2×
    // the pair-build cost on d7 at sf0.1, and the guard's own two
    // band branches compound it to 4×)
    val edges = pairs.select(a.cast("long").as("src"), b.cast("long").as("dst")).persist()
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    // ROUND 1 SPECIALIZED TO THE IDENTITY LABELING (round 21). With
    // labels₀(v) = v, the generic round's sym ⋈ labels join is a
    // semantic no-op — the label of `dst` IS `dst` — so the first
    // min-label step collapses to ONE aggregation over sym,
    // least(src, min(dst)), and its pointer hop to a node-sized
    // self-join. Same fixpoint, same per-round algebra, exactly one
    // sym-sized shuffle join cheaper than running the generic round on
    // identity labels — a sign-safe saving at every scale. (A full
    // star CONTRACTION of the edge relation — relabeling sym through
    // two keyed joins + distinct and looping on the contracted graph —
    // was implemented and A/B-measured this round first: it LOST 39%
    // on d7 at sf1 because the relabel passes over the full edge
    // relation cost more than the already-minimal 2-round loop they
    // shrank, the same lesson as the r19 mapPartitions pre-merge.)
    // sym is symmetric, so every node appears as src and the seed
    // covers the whole node set.
    // checkpointed BEFORE the hop self-join — the hop reads seed twice
    // (base + pointer side) and without the barrier both sides would
    // recompute the sym-sized aggregation (the generic rounds
    // checkpoint their `stepped` for the same reason)
    val seed = sym.groupBy(col("src")).agg(min(col("dst")).as("md"))
      .select(col("src").as("node"), least(col("src"), col("md")).as("comp1"))
      .localCheckpoint()
    val hop0 = seed.select(col("node").as("hn"), col("comp1").as("hc"))
    var labels = seed.join(hop0, col("comp1") === col("hn"), "left")
      .select(col("node"),
        least(col("comp1"), coalesce(col("hc"), col("comp1"))).as("comp"))
      .localCheckpoint()
    val nNodes = labels.count()
    // any edge (u,v), u<v forces comp(v) <= u < v, so a non-empty graph
    // always enters the loop for (at least) its convergence-confirming
    // round — the same round the generic-round-1 shape paid.
    var changed = if (nNodes == 0) 0L
      else labels.where(col("node") =!= col("comp")).count()
    // The seed counts as round 1 against the maxRounds budget (ADVICE
    // r21): it is provably EQUAL to the generic round it replaced
    // (identity labels make sym ⋈ labels a no-op), so the total
    // label-propagation power within the budget is unchanged from the
    // pre-r21 shape — maxRounds propagation rounds either way. Note
    // for cross-round log readers: `lastCcRounds` includes the seed,
    // so r20-and-earlier `cc_rounds` values are directly comparable
    // (their round 1 was the generic form of the same step).
    var rounds = if (nNodes == 0) 0 else 1
    while (changed > 0 && rounds < maxRounds) {
      val nbrMin = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src").as("n2")).agg(min(col("comp")).as("nbr_min"))
      val stepped = labels.join(nbrMin, col("node") === col("n2"), "left")
        .select(col("node"), col("comp").as("comp0"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp1"))
        .localCheckpoint()
      // pointer hop: every comp1 value is itself a node id of the same
      // component, so jump to THAT node's freshly-stepped label —
      // comp(v) ← comp(comp(v)). Labels only shrink, so the fixpoint
      // (comp = component min) is unchanged; depth halves per round.
      val hop = stepped.select(col("node").as("hn"), col("comp1").as("hc"))
      // carry a per-row "shrank this round" flag through the (eager)
      // checkpoint so convergence detection is a cheap count on the
      // materialized round, not an extra join against the old labels
      val next = stepped.join(hop, col("comp1") === col("hn"), "left")
        .select(col("node"),
          least(col("comp1"), coalesce(col("hc"), col("comp1"))).as("comp2"),
          (least(col("comp1"), coalesce(col("hc"), col("comp1"))) < col("comp0")).as("chg"))
        .localCheckpoint()
      changed = next.where(col("chg")).count()
      labels = next.select(col("node"), col("comp2").as("comp"))
      rounds += 1
    }
    lastCcRounds = rounds
    // release BEFORE the convergence check (ADVICE r21): labels is
    // localCheckpoint-materialized, so the persisted inputs are dead
    // either way — unpersisting first keeps the non-convergence
    // failure path from leaking both cached relations for the session
    sym.unpersist()
    edges.unpersist()
    require(changed == 0, s"connectedComponents did not converge in $maxRounds rounds")
    labels
  }

  /** [[keepBestPerComponent]]'s default label-relation broadcast cap. */
  private[graft] val KeepBestMaxBroadcastRows = 2000000L

  /** Duplicate-group representative selection — the "keep one" step
    * after [[connectedComponents]]: every doc in `docs` gets its
    * component label (docs absent from the pair graph are their own
    * singleton component via the left join), and each component keeps
    * its highest-`scoreCol` member, `idCol` ascending as the
    * deterministic tie-break. Emits one row per component with the
    * kept doc and the group size.
    *
    * 100 TB shape: one join of the corpus against the (pair-graph-
    * sized) label relation, then ONE component-key aggregation — the
    * argmax is a `max` over a (score, -id) struct, so it merges
    * map-side like any partial aggregate (a rank-window formulation
    * would lose the group-limit pushdown to the companion count and
    * shuffle every member row). The exchange carries one partial row
    * per (task, component), not the corpus.
    *
    * Round 22 (guide §3.1, pick the join strategy deliberately): the
    * docs ⋈ labels join BROADCASTS the label relation when a bounded
    * existence check proves it small — labels is node-sized (bounded
    * by the pair graph, typically ≪ corpus), docs is the corpus, and
    * the default SortMergeJoin shuffled the corpus to meet it. Same
    * absolute-row-count gate ([[Broadcasts.boundedCount]]) as the v16b
    * rerank broadcasts. Past the cap the SortMergeJoin fallback stays —
    * scale-safe by default, never a driver-sized broadcast of an
    * unbounded relation. `maxBroadcastRows <= 0` never broadcasts and
    * runs no count job.
    *
    * Contract: `labels` is COUNTED EAGERLY (one bounded Spark job, at
    * call time, before the returned frame is used), so it should
    * arrive materialized — as [[connectedComponents]] returns it,
    * localCheckpoint-materialized — or the count recomputes its whole
    * lineage, and the join then recomputes it again.
    */
  def keepBestPerComponent(docs: DataFrame, idCol: String, scoreCol: String,
                           labels: DataFrame,
                           maxBroadcastRows: Long = KeepBestMaxBroadcastRows): DataFrame = {
    val cap = Broadcasts.cap(maxBroadcastRows)
    val under = cap > 0 && Broadcasts.boundedCount(labels, cap) <= cap
    val labelSide = if (under) broadcast(labels) else labels
    val assigned = docs.join(labelSide, docs(idCol) === labels("node"), "left")
      .select(col(idCol), col(scoreCol),
        coalesce(col("comp"), col(idCol)).as("component"))
    // lexicographic max of (score, -id) = highest score, then lowest id
    assigned
      .groupBy("component")
      .agg(max(struct(col(scoreCol), (-col(idCol)).as("_nid"))).as("_best"),
        count(lit(1)).as("n_members"))
      .select(col("component"), (-col("_best._nid")).as("kept_doc"),
        col(s"_best.$scoreCol").as(s"kept_$scoreCol"), col("n_members"),
        (col("n_members") - 1L).as("n_dropped"))
  }

  /** Incremental near-dup detection — the shape a GROWING corpus runs
    * on ingest: verify each NEW document (`isNew` on the id) against
    * the EXISTING snapshot and against earlier-id members of its own
    * batch, and NEVER pair existing × existing (that work was done
    * when those docs were ingested). Returns one row per verified
    * (doc_n = new doc, doc_o = matched existing-or-earlier doc) with
    * the exact integer Jaccard counts.
    *
    * 100 TB shape: the daily batch is the SMALL side of the band-key
    * join (broadcastable in production), the snapshot side streams
    * through the same bucket-occupancy guard as d7's full build — so
    * ingest cost is ∝ batch × occupancy, independent of snapshot
    * size, instead of the full corpus re-pair d7 would re-run.
    */
  def incrementalNearDupPairs(sets: DataFrame, bands: DataFrame,
                              isNew: Column => Column,
                              threshNum: Int, threshDen: Int,
                              maxBucket: Int = 0): DataFrame = {
    // the guard sees ALL bands: occupancy is a corpus property, and
    // the capped bucket set must match the full build's (same pairs
    // dropped whether a doc arrives in the snapshot or the batch)
    val kept = bucketGuard(bands, maxBucket)
    val cand = bandJoin(kept.where(isNew(col("doc"))), kept, "doc_n", "doc_o") { (n, o) =>
      o =!= n && (!isNew(o) || o < n)
    }.distinct()
    jaccardCounts(cand, sets, "doc_n", "doc_o")
      .where(jaccardAtLeast(threshNum, threshDen))
      .select(col("doc_n"), col("doc_o"), col("j_num"), col("j_den"))
  }

  /** The stateless new × snapshot step of a streaming ingest (st27):
    * `feed` holds new docs' guarded (doc, band, band_hash) rows and may
    * be a stream; `snapBands` are the snapshot's guarded band rows and
    * `sets` the (doc, hs) sets of both. Emits (doc_n, doc_o) once per
    * shared band of every verified pair — pure joins, no state, so any
    * batching of `feed` yields the same set of matches.
    */
  private[graft] def snapshotMatches(feed: DataFrame, snapBands: DataFrame, sets: DataFrame,
                                     threshNum: Int, threshDen: Int): DataFrame = {
    val cand = bandJoin(feed, snapBands, "doc_n", "doc_o")((_, _) => lit(true))
    jaccardCounts(cand, sets, "doc_n", "doc_o")
      .where(jaccardAtLeast(threshNum, threshDen))
      .select("doc_n", "doc_o")
  }

  /** Verified near-duplicate pairs: LSH candidates whose exact Jaccard
    * over the materialized (doc, hs) sets meets
    * `num/den ≥ threshNum/threshDen` (integer cross-multiplied — exact).
    * Output carries the exact intersection/union counts plus the ratio.
    */
  def nearDupPairsFromSets(sets: DataFrame, bands: DataFrame,
                           threshNum: Int, threshDen: Int,
                           maxBucket: Int = 0): DataFrame = {
    jaccardCounts(lshCandidatePairs(bands, maxBucket), sets, "doc_a", "doc_b")
      .where(jaccardAtLeast(threshNum, threshDen))
      .select(col("doc_a"), col("doc_b"), col("j_num"), col("j_den"), jaccardRatio.as("jaccard"))
  }
}
