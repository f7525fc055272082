package graft

import org.apache.spark.sql.functions._

import graft.operators.GreedyClustering
import graft.operators.GreedyClustering.Params

/** Greedy NN-threshold clustering queries (C3-C8) over the embeddings
  * table, streamed in vec_id order.
  *
  * The backwards-unlimited variant has a closed relational form —
  * parent(j) = max{i < j : cos(i,j) > θ}, cluster = parent-chain root —
  * which a recursive CTE reproduces, so g1/g2 get full DuckDB oracles
  * despite being sequential folds on the Spark side — and even the g4
  * bisection is oracle-exact (max-prior reformulation + scalar
  * recursive CTE, see g4 below). Only the eviction strategies (g3) are
  * genuinely state-dependent → rows-only, pinned by GreedySpec goldens.
  */
object QueriesGreedy {
  import QueriesRelational.Q
  import QueriesVector.{sqlDot, sqlNorm}

  private val Theta = 0.25
  private val Dim = 64

  // ---------------------------------------------------------------- g1
  // C3 backwards-unlimited greedy clustering, cosine > 0.25.
  val g1GreedyNn: Q = (s, dir) =>
    GreedyClustering.clusterSorted(
      Tables.load(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), col("vec_id"),
      Params("backwards", limit = -1, threshold = Theta, cosine = true))
      .select(col("id").as("vec_id"), col("pred_cluster"))
      .orderBy("vec_id")

  val g1GreedyNnSql: String = greedyNnSql("")

  /** g1's recursive-CTE oracle over the embeddings rows `where` keeps
    * (st1, the streaming twin, reads the first rows only).
    */
  private[graft] def greedyNnSql(where: String): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings $where),
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

  // ---------------------------------------------------------------- g2
  // Scale-out: independent greedy streams per label key, in parallel.
  val g2GreedyByLabel: Q = (s, dir) =>
    GreedyClustering.clusterByKey(
      Tables.load(s, dir, "embeddings"),
      col("label"), col("vec_id"), col("embedding"), col("vec_id"),
      Params("backwards", limit = -1, threshold = Theta, cosine = true))
      .select(col("key").as("label"), col("id").as("vec_id"), col("pred_cluster"))
      .orderBy("vec_id")

  val g2GreedyByLabelSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, label, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
       |p AS (
       |  SELECT j.label AS label, j.vec_id AS j,
       |         coalesce(max(CASE WHEN ${sqlDot("i.embedding", "j.embedding")} / (i.nrm * j.nrm) > $Theta
       |                          THEN i.vec_id END), j.vec_id) AS parent
       |  FROM e j LEFT JOIN e i ON i.label = j.label AND i.vec_id < j.vec_id
       |  GROUP BY j.label, j.vec_id),
       |r(j, cur) AS (
       |  SELECT j, j FROM p
       |  UNION ALL
       |  SELECT r.j, p.parent FROM r JOIN p ON r.cur = p.j WHERE p.parent <> r.cur)
       |SELECT cast(p.label as bigint) AS label, r2.j AS vec_id, r2.pred_cluster
       |FROM (SELECT j, min(cur) AS pred_cluster FROM r GROUP BY j) r2
       |JOIN p ON p.j = r2.j
       |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- g3
  // C5/C6/C7 eviction strategies: bounded store of 50, diversity-cache
  // policy. Even this stateful fold gets a full oracle: a recursive CTE
  // carries the bounded store as a LIST of structs and replays the
  // exact step semantics — last-link parent, per-link last_seen
  // touches, the always-true cosine self-touch, most-similar eviction
  // on link / first-min LRU otherwise, evict-at-exactly-limit quirk.
  val g3GreedyDiversityCache: Q = (s, dir) =>
    GreedyClustering.clusterSorted(
      Tables.load(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), col("vec_id"),
      Params("diversity-cache", limit = 50, threshold = Theta, cosine = true))
      .select(col("id").as("vec_id"), col("pred_cluster"))
      .orderBy("vec_id")

  val g3GreedyDiversityCacheSql: String = {
    val Lim = 50
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $Dim), " +
        s"di -> $a[di] * $b[di])), (acc, x) -> acc + x)"
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS rn,
       |         list_transform(generate_series(1, $Dim), ei -> embedding[ei]::DOUBLE) AS v
       |  FROM embeddings),
       |e2 AS (SELECT vec_id, rn, v, sqrt(${dot("v", "v")}) AS nrm FROM e),
       |cnt AS (SELECT count(*) AS n FROM e2),
       |st(i, vec_id, cluster, store) AS (
       |  SELECT 0::BIGINT, e2.vec_id, e2.vec_id,
       |         [struct_pack(cluster := e2.vec_id, last_seen := 0::BIGINT, v := e2.v, nrm := e2.nrm)]
       |  FROM e2 WHERE rn = 0
       |  UNION ALL
       |  SELECT i, cur_id, cluster,
       |         CASE WHEN len(appended) = $Lim
       |              THEN appended[1:ev_idx-1] || appended[ev_idx+1:len(appended)]
       |              ELSE appended END AS store
       |  FROM (
       |    SELECT i, cur_id, cluster, appended,
       |           CASE WHEN any_link THEN list_position(sims, list_max(sims))
       |                ELSE list_position(ls, list_min(ls)) END AS ev_idx
       |    FROM (
       |      SELECT i, cur_id, cluster, sims, any_link,
       |             list_append(updated, struct_pack(
       |               cluster := cluster, last_seen := i, v := cv, nrm := cn)) AS appended,
       |             list_transform(updated, u -> u.last_seen) AS ls
       |      FROM (
       |        SELECT i, cur_id, cv, cn, sims,
       |               parent_idx > 0 AS any_link,
       |               CASE WHEN parent_idx = 0 THEN cur_id ELSE store[parent_idx].cluster END AS cluster,
       |               list_transform(generate_series(1, len(store)), ui -> struct_pack(
       |                 cluster := store[ui].cluster,
       |                 last_seen := CASE WHEN sims[ui] > $Theta THEN i ELSE store[ui].last_seen END,
       |                 v := store[ui].v, nrm := store[ui].nrm)) AS updated
       |      FROM (
       |        SELECT i, cur_id, cv, cn, store, sims,
       |               coalesce(list_reduce(list_prepend(0::BIGINT,
       |                 list_transform(generate_series(1, len(sims)),
       |                   si -> CASE WHEN sims[si] > $Theta THEN si ELSE 0 END)),
       |                 (a2, x2) -> greatest(a2, x2)), 0) AS parent_idx
       |        FROM (
       |          SELECT st.i + 1 AS i, x.vec_id AS cur_id, x.v AS cv, x.nrm AS cn, st.store AS store,
       |                 list_transform(st.store, s -> ${dot("s.v", "x.v")} / (s.nrm * x.nrm)) AS sims
       |          FROM st JOIN e2 x ON x.rn = st.i + 1
       |          WHERE st.i + 1 < (SELECT n FROM cnt)
       |        ) s0
       |      ) s1
       |      ) s2
       |    ) s3
       |  ) s4)
       |SELECT vec_id, cluster AS pred_cluster FROM st ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- g4
  // C8 threshold bisection targeting #labels clusters (capped).
  //
  // Oracle-able despite being iterative: for backwards-unlimited greedy
  // clustering, a row roots a cluster iff NO prior row scores above θ,
  // i.e. iff max_prior(j) = max{cos(i,j) : i<j} <= θ. One O(n²)
  // aggregation computes max_prior per row, after which each bisection
  // step is a trivial count — so the whole loop is a scalar recursive
  // CTE mirroring the lo/hi updates, the ε = n/1000 stop, and the
  // 12-iteration cap exactly.
  val g4FindThreshold: Q = (s, dir) => {
    val emb = Tables.load(s, dir, "embeddings")
    val target = emb.agg(countDistinct(col("label"))).collect().head.getLong(0)
    val (theta, n) = GreedyClustering.findThreshold(
      emb, col("vec_id"), col("embedding"), col("vec_id"),
      Params("backwards", limit = -1, threshold = Theta, cosine = true),
      target, maxIters = 12)
    import s.implicits._
    Seq((theta, n)).toDF("threshold", "n_clusters")
  }

  val g4FindThresholdSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm FROM embeddings),
       |mp AS (
       |  SELECT j.vec_id AS j,
       |         max(${sqlDot("i.embedding", "j.embedding")} / (i.nrm * j.nrm)) AS max_prior
       |  FROM e j LEFT JOIN e i ON i.vec_id < j.vec_id
       |  GROUP BY j.vec_id),
       |tgt AS (SELECT count(DISTINCT label) AS target, count(*) AS n FROM embeddings),
       |iter(it, lo, hi, th, c) AS (
       |  SELECT 0, 0.0::DOUBLE, 1.0::DOUBLE, NULL::DOUBLE, (-1)::BIGINT
       |  UNION ALL
       |  SELECT it + 1,
       |         CASE WHEN nc < (SELECT target FROM tgt) THEN nth ELSE lo END,
       |         CASE WHEN nc < (SELECT target FROM tgt) THEN hi ELSE nth END,
       |         nth, nc
       |  FROM (
       |    SELECT it, lo, hi, (lo + hi) / 2 AS nth,
       |           (SELECT count(*) FROM mp WHERE max_prior IS NULL OR max_prior <= (lo + hi) / 2) AS nc
       |    FROM iter
       |    WHERE it < 12 AND (c = -1 OR abs(c - (SELECT target FROM tgt)) > (SELECT n FROM tgt) / 1000.0)
       |  ) s)
       |SELECT th AS threshold, c AS n_clusters FROM iter
       |WHERE th IS NOT NULL ORDER BY it DESC LIMIT 1""".stripMargin

  // ---------------------------------------------------------------- g5
  // The baseline/combo SCALAR clustering variant (baseline.py:64-69):
  // unmasked link-set — later rows relabel earlier ones. The oracle
  // carries the full label vector through a recursive CTE, one step
  // per row, reading the step's own label once (numpy's vectorized
  // assignment) and the rest from the pre-step vector.
  val g5ScalarCluster: Q = (s, dir) =>
    GreedyClustering.clusterScalarSorted(
      Tables.load(s, dir, "embeddings").where(col("vec_id") < 150),
      col("vec_id"), col("embedding"), col("vec_id"),
      Params("backwards", limit = -1, threshold = Theta, cosine = true))
      .select(col("id").as("vec_id"), col("pred_cluster"))
      .orderBy("vec_id")

  val g5ScalarClusterSql: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT vec_id, embedding, ${sqlNorm("embedding")} AS nrm,
       |         row_number() OVER (ORDER BY vec_id) AS rn
       |  FROM embeddings WHERE vec_id < 150),
       |cnt AS (SELECT count(*) AS n FROM e),
       |srows AS (
       |  SELECT a.rn AS i,
       |         list(${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) ORDER BY b.rn) AS sims
       |  FROM e a JOIN e b ON true GROUP BY a.rn),
       |st(i, labels) AS (
       |  SELECT 0::BIGINT, list_transform(generate_series(1, (SELECT n FROM cnt)), x -> x)
       |  UNION ALL
       |  SELECT st.i + 1,
       |         list_transform(generate_series(1, (SELECT n FROM cnt)),
       |           jj -> CASE WHEN s.sims[jj] > $Theta THEN st.labels[st.i + 1]
       |                      ELSE st.labels[jj] END)
       |  FROM st JOIN srows s ON s.i = st.i + 1
       |  WHERE st.i < (SELECT n FROM cnt)),
       |final AS (SELECT labels FROM st WHERE i = (SELECT n FROM cnt))
       |SELECT e.vec_id AS vec_id, e2.vec_id AS pred_cluster
       |FROM e, final, e e2
       |WHERE e2.rn = final.labels[e.rn]
       |ORDER BY e.vec_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "g1_greedy_nn" -> g1GreedyNn,
    "g2_greedy_by_label" -> g2GreedyByLabel,
    "g3_greedy_diversity_cache" -> g3GreedyDiversityCache,
    "g4_find_threshold" -> g4FindThreshold,
    "g5_scalar_cluster" -> g5ScalarCluster)

  val oracles: Map[String, String] = Map(
    "g1_greedy_nn" -> g1GreedyNnSql,
    "g2_greedy_by_label" -> g2GreedyByLabelSql,
    "g3_greedy_diversity_cache" -> g3GreedyDiversityCacheSql,
    "g4_find_threshold" -> g4FindThresholdSql,
    "g5_scalar_cluster" -> g5ScalarClusterSql)
}
