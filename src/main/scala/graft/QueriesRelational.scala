package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Relational query catalog (SURVEY.md §2.2/§2.5/§2.6 inventory mapped
  * onto the driver's TPC-H-ish testdata).
  *
  * Oracle-parity rules used throughout the catalog:
  *   - money math in integer cents (`round(x*100)::bigint`), summed
  *     exactly, single final `cast(double)` + division — order-independent
  *     and bit-identical across engines;
  *   - every output integer is cast to long, every ratio is a single
  *     division of exact integers;
  *   - deterministic ORDER BY on both sides.
  */
object QueriesRelational {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** dollars → exact integer cents */
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")
  /** fraction (2-decimal) → exact integer percent */
  private def pct(c: Column): Column = round(c * 100, 0).cast("long")

  // ---------------------------------------------------------------- q1
  // TPC-H Q1-shaped pricing summary: scan + filter (pushed to parquet) +
  // hash agg with partial aggregation. Ref analog: A1-A6 metric-style
  // full-table aggregation (eval_clusters.py:196-219).
  val q1Pricing: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("ec"),
        pct(col("l_discount")).as("dp"),
        pct(col("l_tax")).as("tp"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        (sum("qc").cast("double") / 100.0).as("sum_qty"),
        (sum("ec").cast("double") / 100.0).as("sum_base_price"),
        // products reach ~2e11/row; sum as decimal(38,0) so the total is
        // exact at any scale (Spark's non-ANSI long sum would silently
        // wrap past ~sf40) — DuckDB's hugeint sum is exact the same way.
        (sum((col("ec") * (lit(100L) - col("dp"))).cast("decimal(38,0)")).cast("double") / 10000.0).as("sum_disc_price"),
        (sum((col("ec") * (lit(100L) - col("dp")) * (lit(100L) + col("tp"))).cast("decimal(38,0)")).cast("double") / 1000000.0).as("sum_charge"),
        (sum("qc").cast("double") / 100.0 / count(lit(1))).as("avg_qty"),
        (sum("ec").cast("double") / 100.0 / count(lit(1))).as("avg_price"),
        (sum("dp").cast("double") / 100.0 / count(lit(1))).as("avg_disc"),
        count(lit(1)).cast("long").as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1PricingSql: String =
    """WITH li AS (
      |  SELECT l_returnflag, l_linestatus,
      |         cast(round(l_quantity*100, 0) as bigint) AS qc,
      |         cast(round(l_extendedprice*100, 0) as bigint) AS ec,
      |         cast(round(l_discount*100, 0) as bigint) AS dp,
      |         cast(round(l_tax*100, 0) as bigint) AS tp
      |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
      |SELECT l_returnflag, l_linestatus,
      |       cast(sum(qc) as double)/100.0 AS sum_qty,
      |       cast(sum(ec) as double)/100.0 AS sum_base_price,
      |       cast(sum(ec*(100-dp)) as double)/10000.0 AS sum_disc_price,
      |       cast(sum(ec*(100-dp)*(100+tp)) as double)/1000000.0 AS sum_charge,
      |       cast(sum(qc) as double)/100.0/count(*) AS avg_qty,
      |       cast(sum(ec) as double)/100.0/count(*) AS avg_price,
      |       cast(sum(dp) as double)/100.0/count(*) AS avg_disc,
      |       count(*) AS count_order
      |FROM li GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- j2
  // Multi-way equi-join with broadcast dims (SURVEY §2.6 equi-joins):
  // customer ⋈ orders with nation/region broadcast.
  val j2MarketRevenue: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    val nat = broadcast(t(s, dir, "nation"))
    val reg = broadcast(t(s, dir, "region"))
    ord.join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"), col("c_mktsegment"))
      .agg(
        count(lit(1)).cast("long").as("n_orders"),
        (sum(cents(col("o_totalprice"))).cast("double") / 100.0).as("revenue"))
      .orderBy("r_name", "c_mktsegment")
  }

  val j2MarketRevenueSql: String =
    """SELECT r_name, c_mktsegment, count(*) AS n_orders,
      |       cast(sum(cast(round(o_totalprice*100, 0) as bigint)) as double)/100.0 AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, c_mktsegment
      |ORDER BY r_name, c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- j3
  // Fact-to-dim join + top-style agg (part is broadcast-sized).
  val j3BrandRevenue: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val part = broadcast(t(s, dir, "part"))
    li.join(part, li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).cast("long").as("n_items"),
        (sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
          .cast("double") / 10000.0).as("revenue"))
      .orderBy("p_brand")
  }

  val j3BrandRevenueSql: String =
    """SELECT p_brand, count(*) AS n_items,
      |       cast(sum(cast(round(l_extendedprice*100, 0) as bigint)
      |                 * (100 - cast(round(l_discount*100, 0) as bigint))) as double)/10000.0 AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q5
  // TPC-H Q5-shaped region-filtered 6-way join: lineitem ⋈ orders ⋈
  // customer ⋈ supplier ⋈ nation ⋈ region with the customer and
  // supplier required to share a nation. Exercises join ordering,
  // broadcast dims, and pushdown of the region filter.
  val q5LocalSupplier: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val nat = broadcast(t(s, dir, "nation"))
    val reg = broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(supp, li("l_suppkey") === supp("s_suppkey") && cust("c_nationkey") === supp("s_nationkey"))
      .join(nat, supp("s_nationkey") === nat("n_nationkey"))
      .join(reg, nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("n_name"))
      .agg((sum(cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
        .cast("double") / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5LocalSupplierSql: String =
    """SELECT n_name,
      |       cast(sum(cast(round(l_extendedprice*100, 0) as bigint)
      |                * (100 - cast(round(l_discount*100, 0) as bigint))) as double)/10000.0 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- a7
  // Seen/unseen semi/anti joins (eval_clusters.py:10-25, split_unseen.py).
  val a7SeenCustomers: Q = (s, dir) => {
    val bigSpenders = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
    Relational.seen(t(s, dir, "customer"), bigSpenders.select(col("o_custkey").as("c_custkey")), "c_custkey")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  val a7SeenCustomersSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  val a7UnseenCustomers: Q = (s, dir) => {
    val bigSpenders = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
    Relational.unseen(t(s, dir, "customer"), bigSpenders.select(col("o_custkey").as("c_custkey")), "c_custkey")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  val a7UnseenCustomersSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- p7
  // First-occurrence dictionary encoding (baseline.py:76-83 and friends).
  val p7DictEncode: Q = (s, dir) => {
    Relational.dictEncode(t(s, dir, "events"), col("user_id"), col("event_id"), "code")
      .select(col("event_id"), col("user_id"), col("code").cast("long").as("code"))
      .orderBy("event_id")
  }

  val p7DictEncodeSql: String =
    """SELECT event_id, user_id, dense_rank() OVER (ORDER BY first_seen) - 1 AS code
      |FROM (SELECT event_id, user_id,
      |             min(event_id) OVER (PARTITION BY user_id) AS first_seen
      |      FROM events)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- p7b
  // The vocabulary-scale dict encoding: range-partitioned sort +
  // zipWithIndex ranking instead of the single-partition window — same
  // codes (unique order column), same oracle.
  val p7bDictEncodeDistributed: Q = (s, dir) =>
    Relational.dictEncodeDistributed(t(s, dir, "events"), col("user_id"), col("event_id"), "code")
      .select(col("event_id"), col("user_id"), col("code"))
      .orderBy("event_id")

  // ---------------------------------------------------------------- c9
  // Exact string-match clustering (string_match.py:20-28).
  val c9StringMatch: Q = (s, dir) => {
    Relational.stringMatchCluster(t(s, dir, "events"), col("event_type"), col("event_id"))
      .select(col("event_id"), col("event_type"), col("pred_cluster").cast("long").as("pred_cluster"))
      .orderBy("event_id")
  }

  val c9StringMatchSql: String =
    """SELECT event_id, event_type, dense_rank() OVER (ORDER BY first_seen) - 1 AS pred_cluster
      |FROM (SELECT event_id, event_type,
      |             min(event_id) OVER (PARTITION BY event_type) AS first_seen
      |      FROM events)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- c10
  // Oracle within-document clustering (oracle_wd.py:26-36): composite key
  // + first-occurrence encoding.
  val c10OracleWd: Q = (s, dir) => {
    Relational.oracleWithinDoc(t(s, dir, "documents"), col("lang"), col("source"), col("doc_id"))
      .select(
        col("doc_id"),
        Relational.compositeKey(col("lang"), col("source")).as("wd_key"),
        col("pred_cluster").cast("long").as("pred_cluster"))
      .orderBy("doc_id")
  }

  val c10OracleWdSql: String =
    """SELECT doc_id, lang || '::' || source AS wd_key,
      |       dense_rank() OVER (ORDER BY first_seen) - 1 AS pred_cluster
      |FROM (SELECT doc_id, lang, source,
      |             min(doc_id) OVER (PARTITION BY lang, source) AS first_seen
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- a8
  // Max concurrently-active entities (max_active.py:6-29) — the
  // reference's one true window-function query.
  val a8MaxActive: Q = (s, dir) =>
    Relational.maxActive(t(s, dir, "events"), col("user_id"), col("event_id"))

  val a8MaxActiveSql: String =
    """WITH spans AS (
      |  SELECT user_id, min(event_id) AS s, max(event_id) AS e
      |  FROM events GROUP BY user_id),
      |ev AS (
      |  SELECT s AS pos, cast(1 as bigint) AS delta FROM spans
      |  UNION ALL
      |  SELECT e + 1 AS pos, cast(-1 as bigint) AS delta FROM spans),
      |run AS (
      |  SELECT sum(delta) OVER (ORDER BY pos, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active FROM ev)
      |SELECT cast(max(active) as bigint) AS max_active FROM run""".stripMargin

  // ---------------------------------------------------------------- a9
  // Frequency vocabulary (preprocess_medmentions.py:69-75).
  val a9UserFreq: Q = (s, dir) =>
    Relational.frequencyVocab(t(s, dir, "events"), col("user_id"))
      .select(col("entity"), col("cnt").cast("long").as("cnt"))

  val a9UserFreqSql: String =
    """SELECT user_id AS entity, count(*) AS cnt FROM events
      |GROUP BY user_id ORDER BY cnt DESC, entity""".stripMargin

  // ---------------------------------------------------------------- a6
  // Cluster census (eval_clusters.py:196-219, unique_entities.py).
  val a6Census: Q = (s, dir) =>
    Relational.clusterCensus(t(s, dir, "documents"), col("lang"))

  val a6CensusSql: String =
    """SELECT count(*) AS n_clusters,
      |       cast(median(sz) as double) AS median_size,
      |       cast(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) as bigint) AS n_singletons
      |FROM (SELECT lang, count(*) AS sz FROM documents GROUP BY lang)""".stripMargin

  // ---------------------------------------------------------------- a5
  // Conflated/divided error counts (eval_clusters.py:147-169).
  val a5ConflatedDivided: Q = (s, dir) =>
    Relational.conflatedDivided(t(s, dir, "documents"), col("lang"), col("source"))

  val a5ConflatedDividedSql: String =
    """SELECT
      |  (SELECT cast(sum(x) as bigint) FROM (SELECT count(DISTINCT lang) - 1 AS x FROM documents GROUP BY source)) AS conflated,
      |  (SELECT cast(sum(x) as bigint) FROM (SELECT count(DISTINCT source) - 1 AS x FROM documents GROUP BY lang)) AS divided""".stripMargin

  // ---------------------------------------------------------------- a5b
  // Error analysis (error_analysis.py:70-126): the most-conflated
  // predicted cluster with its first 5 example rows.
  val a5bMostConflated: Q = (s, dir) =>
    Relational.mostConflatedExamples(
      t(s, dir, "documents"), col("lang"), col("source"), col("doc_id"), 5)
      .select(col("doc_id"), col("lang"), col("source"), col("n_true").cast("long").as("n_true"))

  val a5bMostConflatedSql: String =
    """WITH worst AS (
      |  SELECT source AS p, count(DISTINCT lang) AS n_true
      |  FROM documents GROUP BY source ORDER BY n_true DESC, p LIMIT 1)
      |SELECT doc_id, lang, source, n_true
      |FROM documents JOIN worst ON source = p
      |ORDER BY doc_id LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- a5c
  // Error analysis, "most split" side (error_analysis.py:89-113): the
  // true cluster scattered over the most predicted clusters, with its
  // first 5 example rows.
  val a5cMostDivided: Q = (s, dir) =>
    Relational.mostDividedExamples(
      t(s, dir, "documents"), col("lang"), col("source"), col("doc_id"), 5)
      .select(col("doc_id"), col("lang"), col("source"), col("n_pred").cast("long").as("n_pred"))

  val a5cMostDividedSql: String =
    """WITH worst AS (
      |  SELECT lang AS tt, count(DISTINCT source) AS n_pred
      |  FROM documents GROUP BY lang ORDER BY n_pred DESC, tt LIMIT 1)
      |SELECT doc_id, lang, source, n_pred
      |FROM documents JOIN worst ON lang = tt
      |ORDER BY doc_id LIMIT 5""".stripMargin

  // ---------------------------------------------------------------- k1
  // Skew-salted two-phase aggregation (the hot-key escape hatch from
  // operators.Skew): exact integer cents, deterministic salt — so the
  // salted plan is oracle-identical to the plain groupBy.
  val k1SaltedSum: Q = (s, dir) =>
    graft.operators.Skew.saltedSum(
      t(s, dir, "events"), col("user_id"), cents(col("value")), col("event_id"), 16)
      .orderBy("k")

  val k1SaltedSumSql: String =
    """SELECT user_id AS k,
      |       cast(sum(cast(round(value*100, 0) as bigint)) as bigint) AS total
      |FROM events GROUP BY user_id ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- j8
  // Skew-salted equi-join (the join-side escape hatch next to k1's
  // salted aggregation): events carry only 5 distinct event_type
  // values — every key is hot, the worst shuffled-join shape — so the
  // fact side salts 8 ways off event_id and the 5-row per-type
  // dimension (derived here; stands in for one too big to broadcast)
  // replicates across the salts. The salt never changes which rows
  // pair: the oracle is the PLAIN join, and the enrichment output is
  // exact-integer arithmetic throughout.
  val j8SaltedJoin: Q = (s, dir) => {
    val dim = t(s, dir, "events")
      .groupBy(col("event_type").as("d_type"))
      .agg(count(lit(1)).cast("long").as("type_n"),
        sum(cents(col("value"))).cast("long").as("type_cents"))
    graft.operators.Skew.saltedJoin(
      t(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
      dim, col("event_type"), col("d_type"), col("event_id"), 8)
      .select(col("event_id"), col("event_type"), col("type_n"),
        // integral div (values are positive, so div ≡ DuckDB's //)
        expr("cast(round(value*100, 0) as bigint) * 1000000L div type_cents")
          .as("share_ppm"))
      .orderBy("event_id")
  }

  val j8SaltedJoinSql: String =
    """WITH dim AS (
      |  SELECT event_type AS d_type, count(*) AS type_n,
      |         cast(sum(cast(round(value*100, 0) as bigint)) as bigint) AS type_cents
      |  FROM events GROUP BY event_type)
      |SELECT e.event_id, e.event_type, d.type_n,
      |       cast(round(e.value*100, 0) as bigint) * 1000000 // d.type_cents AS share_ppm
      |FROM events e JOIN dim d ON e.event_type = d.d_type
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- a11
  // Positional split routing (preprocess_medmentions.py:100-114).
  val a11SplitRouting: Q = (s, dir) => {
    Relational.splitRouting(t(s, dir, "orders"), Seq(col("o_orderdate"), col("o_orderkey")))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        (sum(cents(col("o_totalprice"))).cast("double") / 100.0).as("total"))
      .orderBy("split")
  }

  val a11SplitRoutingSql: String =
    """SELECT split, count(*) AS n,
      |       cast(sum(cast(round(o_totalprice*100, 0) as bigint)) as double)/100.0 AS total
      |FROM (
      |  SELECT o_totalprice,
      |         CASE WHEN rn <= 0.6*n THEN 'train'
      |              WHEN rn <= 0.8*n THEN 'dev'
      |              ELSE 'test' END AS split
      |  FROM (SELECT o_totalprice,
      |               row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn,
      |               count(*) OVER () AS n
      |        FROM orders))
      |GROUP BY split ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- a12
  // Per-entity ordered analytics: running sum + rank within user — the
  // event-stream analog of the reference's per-stream sequential pass,
  // expressed as partitioned (scale-out) window functions.
  val a12UserRunning: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    t(s, dir, "events")
      .select(
        col("event_id"), col("user_id"),
        cents(col("value")).as("vc"))
      .withColumn("running_value",
        sum(col("vc")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double") / 100.0)
      .withColumn("seq", row_number().over(w).cast("long"))
      .select(col("event_id"), col("user_id"), col("running_value"), col("seq"))
      .orderBy("event_id")
  }

  val a12UserRunningSql: String =
    """SELECT event_id, user_id,
      |       cast(sum(cast(round(value*100, 0) as bigint)) OVER (
      |         PARTITION BY user_id ORDER BY event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)/100.0 AS running_value,
      |       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS seq
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- w1
  // Event-time tumbling-window stats over the events stream table (the
  // batch twin of StreamingAnalytics.windowedEventStats). events.ts is
  // TIMESTAMP(NANOS) read as long nanos (GraftSession nanosAsLong), so
  // the hour bucket is exact integer division on both engines.
  val w1EventWindows: Q = (s, dir) => {
    val hourNs = 3600L * 1000000000L
    t(s, dir, "events")
      .groupBy(expr(s"ts div ${hourNs}L").as("hour_bucket"), col("event_type"))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        (sum(cents(col("value"))).cast("double") / 100.0).as("total_value"))
      .orderBy("hour_bucket", "event_type")
  }

  val w1EventWindowsSql: String =
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
      |       count(*) AS n_events,
      |       cast(sum(cast(round(value*100, 0) as bigint)) as double)/100.0 AS total_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin

  // ---------------------------------------------------------------- j4
  // As-of join: every event picks up the LATEST order (by order day,
  // then highest orderkey among same-day ties) that its user placed
  // at-or-before the event's day — the temporal-dimension lookup, run
  // as union + one keyed window (one shuffle, no range join). The
  // oracle recomputes the same pick as a groupwise argmax. Day buckets
  // are exact integer division of the nanosecond timestamps.
  val j4AsofJoin: Q = (s, dir) => {
    val dayNs = 86400L * 1000000000L
    val ev = t(s, dir, "events").where(col("user_id") < 100)
      .select(col("event_id"), col("user_id"), expr(s"ts div ${dayNs}L").as("ev_day"))
    // o_orderdate is µs-precision (plain TIMESTAMP → TIMESTAMP_NTZ, the
    // nanosAsLong long-read only applies to NANOS columns): day number
    // via date difference from the epoch, exact integers on both engines
    val ord = t(s, dir, "orders")
      .select(col("o_custkey").as("user_id"), col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01")).cast("long").as("o_day"))
    graft.operators.Relational.asofJoin(
      ev, ord, "user_id", col("ev_day"), col("o_day"), col("o_orderkey"),
      payload = Seq("o_orderkey", "o_day"))
      .select(col("event_id"), col("user_id"), col("ev_day"),
        col("asof_o_orderkey"), col("asof_o_day"))
      .orderBy("event_id")
  }

  val j4AsofJoinSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, epoch_ns(ts) // 86400000000000 AS ev_day
      |  FROM events WHERE user_id < 100),
      |ord AS (
      |  SELECT o_custkey AS user_id, o_orderkey,
      |         (o_orderdate::DATE - DATE '1970-01-01')::BIGINT AS o_day
      |  FROM orders),
      |best AS (
      |  SELECT e.event_id, max(o.o_day) AS asof_o_day
      |  FROM ev e LEFT JOIN ord o ON o.user_id = e.user_id AND o.o_day <= e.ev_day
      |  GROUP BY e.event_id),
      |pick AS (
      |  SELECT e.event_id, e.user_id, e.ev_day, b.asof_o_day,
      |         max(o.o_orderkey) AS asof_o_orderkey
      |  FROM ev e JOIN best b USING (event_id)
      |  LEFT JOIN ord o ON o.user_id = e.user_id AND o.o_day = b.asof_o_day
      |  GROUP BY e.event_id, e.user_id, e.ev_day, b.asof_o_day)
      |SELECT event_id, user_id, ev_day, asof_o_orderkey, asof_o_day
      |FROM pick ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- j6
  // Bucketized range join: attribute every event to each 10-minute
  // error window `[error ts, +10 min)` it falls in — a pure range
  // condition with NO equi-key, the join shape Catalyst would plan as
  // a nested loop. rangeJoinBucketed turns it into an equi-join on
  // 10-minute epoch buckets (each window spans ≤ 2) with the range
  // predicate as residual filter. events.ts is long nanos
  // (nanosAsLong) on the Spark side, but DuckDB's parquet reader
  // TRUNCATES nanos to µs — so both engines do the window arithmetic
  // in truncated microseconds (`ts div 1000` ≡ `epoch_us(ts)`), which
  // is exact int64 on both; the value sum uses the catalog's
  // integer-cents rule.
  val j6RangeJoin: Q = (s, dir) => {
    val winUs = 600L * 1000000L // 10 minutes of microseconds
    val ev = t(s, dir, "events")
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("value"))
    val win = t(s, dir, "events").where(col("event_type") === "error")
      .select(col("event_id").as("win_id"), expr("ts div 1000").as("w_start"),
        (expr("ts div 1000") + lit(winUs)).as("w_end"))
    Relational.rangeJoinBucketed(ev, win, "ts_us", "w_start", "w_end", winUs)
      .groupBy("win_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        (sum(cents(col("value"))).cast("double") / 100.0).as("sum_value"))
      .orderBy("win_id")
  }

  val j6RangeJoinSql: String =
    """WITH win AS (
      |  SELECT event_id AS win_id, epoch_us(ts) AS w_start,
      |         epoch_us(ts) + 600000000 AS w_end
      |  FROM events WHERE event_type = 'error')
      |SELECT w.win_id, count(*) AS n_events,
      |       cast(sum(cast(round(e.value*100, 0) as bigint)) as double)/100.0 AS sum_value
      |FROM win w JOIN events e
      |  ON epoch_us(e.ts) >= w.w_start AND epoch_us(e.ts) < w.w_end
      |GROUP BY w.win_id ORDER BY win_id""".stripMargin

  // --------------------------------------------------------------- j6b
  // j6's aggregate by PREFIX SUMS — the 100×-safe route for the
  // range-attribution family (SCALE_100X_r17: j6's pair-materializing
  // plan measured 63× wall at 100× data, because at k× event density
  // every 10-minute window contains k× more events, so the
  // event×window containment pairs — the join's intermediate — grow
  // ~quadratically even though the aggregated output is one row per
  // window). rangeCountSumPrefix never builds the pairs: G(t) =
  // (count, sum) over events with ts < t via one bucket shuffle +
  // a timeline-sized bucket-prefix broadcast, answer = G(end) −
  // G(start). Identical output to j6 — it shares j6's oracle text
  // modulo aliases — so the pushdown is hash-checked, not argued.
  val j6bRangeAggPrefix: Q = (s, dir) => {
    val winUs = 600L * 1000000L
    val ev = t(s, dir, "events")
      .select(expr("ts div 1000").as("ts_us"), cents(col("value")).as("cents"))
    val win = t(s, dir, "events").where(col("event_type") === "error")
      .select(col("event_id").as("win_id"), expr("ts div 1000").as("w_start"),
        (expr("ts div 1000") + lit(winUs)).as("w_end"))
    Relational.rangeCountSumPrefix(ev, win, "ts_us", "cents", "win_id",
        "w_start", "w_end", winUs)
      .select(col("win_id"), col("cnt").as("n_events"),
        (col("sum").cast("double") / 100.0).as("sum_value"))
      .orderBy("win_id")
  }

  val j6bRangeAggPrefixSql: String = j6RangeJoinSql

  // ---------------------------------------------------------------- j7
  // Bucketized interval-overlap join: which 60-second error windows
  // overlap which 60-second purchase windows — intervals on BOTH
  // sides, no equi-key. intervalOverlapJoin buckets both sides and
  // emits each pair exactly once (in the bucket of the overlap's
  // first instant), so there is no post-join distinct. All arithmetic
  // is in truncated microseconds (j6's cross-engine ts convention),
  // so the emitted overlap duration is exact int64 on both engines.
  val j7IntervalOverlap: Q = (s, dir) => {
    val winUs = 60L * 1000000L // 60 seconds of microseconds
    def win(tpe: String, idCol: String, sCol: String, eCol: String) =
      t(s, dir, "events").where(col("event_type") === tpe)
        .select(col("event_id").as(idCol), expr("ts div 1000").as(sCol),
          (expr("ts div 1000") + lit(winUs)).as(eCol))
    Relational.intervalOverlapJoin(
      win("error", "err_id", "a_s", "a_e"),
      win("purchase", "pur_id", "b_s", "b_e"),
      "a_s", "a_e", "b_s", "b_e", winUs)
      .select(col("err_id"), col("pur_id"),
        (least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s"))).as("overlap_us"))
      .orderBy("err_id", "pur_id")
  }

  val j7IntervalOverlapSql: String =
    """WITH a AS (SELECT event_id AS err_id, epoch_us(ts) AS a_s,
      |                  epoch_us(ts) + 60000000 AS a_e
      |           FROM events WHERE event_type = 'error'),
      |     b AS (SELECT event_id AS pur_id, epoch_us(ts) AS b_s,
      |                  epoch_us(ts) + 60000000 AS b_e
      |           FROM events WHERE event_type = 'purchase')
      |SELECT err_id, pur_id, least(a_e, b_e) - greatest(a_s, b_s) AS overlap_us
      |FROM a JOIN b ON a_s < b_e AND b_s < a_e
      |ORDER BY err_id, pur_id""".stripMargin

  // ---------------------------------------------------------------- w4
  // Ordered-funnel analysis: per user, the earliest view, the earliest
  // click STRICTLY after that view, and the earliest purchase strictly
  // after that click, plus the reached stage. The strictly-after
  // dependency is a running min over a RANGE frame ending at -1
  // ("all strictly-earlier rows"), so simultaneous events never
  // qualify on each other and both engines agree without tie-break
  // columns. Timestamps in truncated µs (the j6/j7 convention).
  val w4Funnel: Q = (s, dir) =>
    Relational.funnelStages(
      t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type")),
      "user_id", "ts_us", "event_type", Seq("view", "click", "purchase"))
      .orderBy("user_id")

  val w4FunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |q0 AS (SELECT *, CASE WHEN event_type = 'view' THEN ts_us END AS _q0 FROM e),
      |q1 AS (SELECT *, CASE WHEN event_type = 'click'
      |         AND min(_q0) OVER win IS NOT NULL THEN ts_us END AS _q1
      |       FROM q0 WINDOW win AS (PARTITION BY user_id ORDER BY ts_us
      |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |q2 AS (SELECT *, CASE WHEN event_type = 'purchase'
      |         AND min(_q1) OVER win IS NOT NULL THEN ts_us END AS _q2
      |       FROM q1 WINDOW win AS (PARTITION BY user_id ORDER BY ts_us
      |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, min(_q0) AS t_view_us, min(_q1) AS t_click_us,
      |       min(_q2) AS t_purchase_us,
      |       cast(CASE WHEN min(_q0) IS NOT NULL THEN 1 ELSE 0 END
      |          + CASE WHEN min(_q1) IS NOT NULL THEN 1 ELSE 0 END
      |          + CASE WHEN min(_q2) IS NOT NULL THEN 1 ELSE 0 END as bigint) AS stage
      |FROM q2 GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- k2
  // Deterministic HyperLogLog: approximate distinct users per event
  // type from a 64-register sketch whose hash is the engine-portable
  // mod-p multiplicative mix — so, unlike builtin approx_count_distinct
  // (implementation-defined hashing), the APPROXIMATE estimate itself
  // is bit-for-bit reproducible by another engine. Register fold runs
  // in fixed bucket order (2^-reg terms are exact powers of two), and
  // the exact distinct count rides along for calibration. Sketch
  // merging is max-per-register — partial-agg friendly, the classic
  // 100 TB cardinality pattern.
  val k2HllDistinct: Q = (s, dir) => {
    val P = 1000000007L
    val M = 64
    val ev = t(s, dir, "events").select(col("event_type"), col("user_id"))
    // affine + two quadratic rounds mod p: pure multiply-mod stays
    // AFFINE on sequential ids (structured buckets, 2× estimate bias —
    // measured); squaring adds the nonlinearity, keeps every
    // intermediate < p² < 2^63, and is exactly replayable in SQL.
    // The id is reduced mod P (non-negative) BEFORE the multiply — the
    // raw product would overflow int64 for ids ≳ 3.5e9 (Spark wraps
    // silently, DuckDB raises) and a negative id would yield a negative
    // bucket index downstream.
    val uid = ((col("user_id") % P) + P) % P
    val hashed = ev
      .withColumn("h0", (uid * 2654435761L + 12345L) % P)
      .withColumn("h1", (col("h0") * col("h0") + 17L) % P)
      .withColumn("hv", (col("h1") * col("h1") + col("h1") + 3L) % P)
    // v < p/64 < 2^24; rho = (leading zeros in 24-bit v) + 1 = 25 - bitlen
    val b = hashed.select(col("event_type"),
      (col("hv") % M).as("bucket"),
      expr(s"hv div $M").as("v"))
    val rho = when(col("v") > 0, lit(25L) - length(bin(col("v"))).cast("long"))
      .otherwise(lit(25L))
    val r = b.select(col("event_type"), col("bucket"), rho.as("rho"))
      .groupBy("event_type", "bucket").agg(max(col("rho")).as("reg"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(s.range(0, M).toDF("bucket"))
    val regs = grid.join(r, Seq("event_type", "bucket"), "left")
      .na.fill(0L, Seq("reg"))
    val arr = regs.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("bucket"), col("reg")))).as("rl"))
    val sInv = aggregate(expr("transform(rl, x -> x.reg)"), lit(0.0),
      (acc, x) => acc + pow(lit(2.0), -x.cast("double")))
    // small-range (linear counting) correction below 2.5m: transcendental
    // ln is NOT cross-engine stable, so ln(m/V) comes from a 64-entry
    // literal table generated HERE and embedded in both engines' plans
    // (shortest-decimal double literals round-trip exactly)
    val raw = lit(0.709).cast("double") * lit(M * M).cast("double") / sInv
    val zeroes = expr("size(filter(transform(rl, x -> x.reg), r -> r = 0))")
    val lnTable = typedLit((1 to M).map(v => math.log(M.toDouble / v)))
    val est = arr.select(col("event_type"),
      when(raw <= lit(2.5 * M) && zeroes > 0,
        lit(M.toDouble) * element_at(lnTable, zeroes))
        .otherwise(raw).as("hll_est"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).cast("long").as("exact_distinct"))
    est.join(exact, "event_type").orderBy("event_type")
  }

  // ---------------------------------------------------------------- w6
  // Sliding-window cardinality via mergeable sketches — the classic
  // "distinct users over the trailing 7 days, every day" dashboard
  // query, done the way it survives 100 TB: the corpus collapses ONCE
  // into per-(day, bucket) HLL registers (k2's deterministic sketch —
  // max is the merge), and the 7-day union is a register-wise max
  // window over the AGGREGATED (days × 64) relation — the raw events
  // are never touched per window. The exact trailing-7-day distinct
  // count rides along as the verification twin (the expensive path the
  // sketch replaces; at scale you would drop it). Same literal ln
  // table trick as k2 keeps even the float estimate bit-exact across
  // engines.
  /** w6's per-(day, bucket, rho) observation relation — the k2 hash
    * chain over (event day, user). Shared by the batch build and the
    * st24 streaming feed so both run the identical sketch.
    */
  private[graft] def slidingHllObs(s: SparkSession, dir: String): DataFrame = {
    val P = 1000000007L
    val M = 64
    val ev = t(s, dir, "events")
      .select(expr("ts div 86400000000000").as("day"), col("user_id"))
    val uid = ((col("user_id") % P) + P) % P
    val hashed = ev
      .withColumn("h0", (uid * 2654435761L + 12345L) % P)
      .withColumn("h1", (col("h0") * col("h0") + 17L) % P)
      .withColumn("hv", (col("h1") * col("h1") + col("h1") + 3L) % P)
    val b = hashed.select(col("day"),
      (col("hv") % M).as("bucket"),
      expr(s"hv div $M").as("v"))
    val rho = when(col("v") > 0, lit(25L) - length(bin(col("v"))).cast("long"))
      .otherwise(lit(25L))
    b.select(col("day"), col("bucket"), rho.as("rho"))
  }

  /** Assembly shared by w6 and st24: per-(day, bucket) registers `r`
    * (day, bucket, reg) → trailing-7-day register-wise max window over
    * the bounded days × 64 relation → estimate + exact twin.
    */
  private[graft] def slidingHllAssemble(s: SparkSession, dir: String,
                                        r: DataFrame): DataFrame = {
    val M = 64
    val ev = t(s, dir, "events")
      .select(expr("ts div 86400000000000").as("day"), col("user_id"))
    val grid = ev.select("day").distinct().crossJoin(s.range(0, M).toDF("bucket"))
    val regs = grid.join(r, Seq("day", "bucket"), "left").na.fill(0L, Seq("reg"))
    // register-wise trailing-7-day merge: a RANGE window per bucket over
    // the bounded (days × 64) relation — never over events
    val w7 = Window.partitionBy(col("bucket")).orderBy(col("day")).rangeBetween(-6, 0)
    val slid = regs.withColumn("reg7", max(col("reg")).over(w7))
    val arr = slid.groupBy("day")
      .agg(array_sort(collect_list(struct(col("bucket"), col("reg7")))).as("rl"))
    val sInv = aggregate(expr("transform(rl, x -> x.reg7)"), lit(0.0),
      (acc, x) => acc + pow(lit(2.0), -x.cast("double")))
    val raw = lit(0.709).cast("double") * lit(M * M).cast("double") / sInv
    val zeroes = expr("size(filter(transform(rl, x -> x.reg7), r -> r = 0))")
    val lnTable = typedLit((1 to M).map(v => math.log(M.toDouble / v)))
    val est = arr.select(col("day"),
      when(raw <= lit(2.5 * M) && zeroes > 0,
        lit(M.toDouble) * element_at(lnTable, zeroes))
        .otherwise(raw).as("hll_est_7d"))
    // exact verification twin: distinct (day, user) pairs joined to the
    // bounded day dimension over the trailing range
    val du = ev.distinct()
    val days = ev.select(col("day").as("d")).distinct()
    val exact = broadcast(days)
      .join(du, col("day").between(col("d") - 6, col("d")))
      .groupBy(col("d").as("day"))
      .agg(countDistinct(col("user_id")).cast("long").as("exact_7d"))
    est.join(exact, "day").orderBy("day")
  }

  val w6SlidingDistinct: Q = (s, dir) => {
    val r = slidingHllObs(s, dir)
      .groupBy("day", "bucket").agg(max(col("rho")).as("reg"))
    slidingHllAssemble(s, dir, r)
  }

  // -------------------------------------------------------------- st24
  // The sliding-distinct sketch BUILD as a live stream: per-bucket
  // state is TWO longs (current day + its running register) under the
  // day-ascending ingest contract; at most one (bucket, day) row per
  // micro-batch is emitted (monotone, max-merged downstream), and the
  // trailing-7-day union + estimate stay the same bounded relational
  // assembly the batch w6 runs — so st24 hash-matches w6's SQL oracle:
  // streaming = batch = SQL for the windowed-sketch family too.
  // File-source ingest (fileIngest — no driver materialization): chunks
  // are DAY ranges, ascending across micro-batches, which is exactly
  // the day-ascending ingest contract; dailyRegisters re-sorts by day
  // within a batch, so intra-chunk file order is free.
  val st24StreamingSlidingHll: Q = (s, dir) => {
    import s.implicits._
    import graft.streaming.StreamingSketch
    import graft.streaming.StreamingSketch.DayRhoEvent
    val obs = slidingHllObs(s, dir)
    val chunks = QueriesStreaming.rangeChunks(obs, "day")

    QueriesStreaming.fileIngest(s, chunks, cache = Seq(obs)) { stream =>
      StreamingSketch.dailyRegisters(stream.as[DayRhoEvent])
        .writeStream.format("memory").queryName("st24_sink").outputMode("append").start()
    }

    val r = s.table("st24_sink")
      .groupBy("day", "bucket").agg(max(col("reg")).as("reg"))
    slidingHllAssemble(s, dir, r)
  }

  val w6SlidingDistinctSql: String = {
    val lnList = (1 to 64).map(v => math.log(64.0 / v).toString + "::DOUBLE")
      .mkString("[", ", ", "]")
    s"""WITH e AS (
       |  SELECT epoch_ns(ts) // 86400000000000 AS day, user_id FROM events),
       |b AS (
       |  SELECT day, hv % 64 AS bucket, hv // 64 AS v FROM (
       |    SELECT day, (h1*h1 + h1 + 3) % 1000000007 AS hv FROM (
       |      SELECT day, (h0*h0 + 17) % 1000000007 AS h1 FROM (
       |        SELECT day, (((user_id % 1000000007 + 1000000007) % 1000000007) * 2654435761 + 12345) % 1000000007 AS h0
       |        FROM e)))),
       |r AS (
       |  SELECT day, bucket,
       |         max(CASE WHEN v > 0 THEN 25 - length(bin(v)) ELSE 25 END) AS reg
       |  FROM b GROUP BY 1, 2),
       |grid AS (
       |  SELECT day, b2 AS bucket
       |  FROM (SELECT DISTINCT day FROM e), generate_series(0, 63) t(b2)),
       |regs AS (
       |  SELECT grid.day, grid.bucket, coalesce(r.reg, 0) AS reg
       |  FROM grid LEFT JOIN r ON r.day = grid.day AND r.bucket = grid.bucket),
       |slid AS (
       |  SELECT day, bucket,
       |         max(reg) OVER (PARTITION BY bucket ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS reg7
       |  FROM regs),
       |arr AS (SELECT day, list(reg7 ORDER BY bucket) AS rl FROM slid GROUP BY 1),
       |est AS (
       |  SELECT day,
       |         0.709::DOUBLE * 4096.0::DOUBLE
       |           / list_reduce(list_prepend(0.0::DOUBLE,
       |               list_transform(rl, x -> power(2.0::DOUBLE, -x::DOUBLE))),
       |             (acc, y) -> acc + y) AS raw,
       |         len(list_filter(rl, x -> x = 0)) AS zeroes
       |  FROM arr),
       |corr AS (
       |  SELECT day,
       |         CASE WHEN raw <= 160.0 AND zeroes > 0
       |              THEN 64.0::DOUBLE * ($lnList::DOUBLE[])[zeroes]
       |              ELSE raw END AS hll_est_7d
       |  FROM est),
       |du AS (SELECT DISTINCT day, user_id FROM e),
       |ex AS (
       |  SELECT d.day, count(DISTINCT du.user_id) AS exact_7d
       |  FROM (SELECT DISTINCT day FROM e) d
       |  JOIN du ON du.day BETWEEN d.day - 6 AND d.day
       |  GROUP BY d.day)
       |SELECT corr.day AS day, hll_est_7d, exact_7d
       |FROM corr JOIN ex ON corr.day = ex.day
       |ORDER BY corr.day""".stripMargin
  }

  val k2HllDistinctSql: String = {
    // same ln(m/V) literal table as the Spark side — shortest-decimal
    // double literals parse back to the identical bits; per-element
    // ::DOUBLE casts (see k2HllSketchOnlySql) keep the list literal
    // from rounding through a common DECIMAL type
    val lnList = (1 to 64).map(v => math.log(64.0 / v).toString + "::DOUBLE")
      .mkString("[", ", ", "]")
    s"""WITH b AS (
       |  SELECT event_type, hv % 64 AS bucket, hv // 64 AS v FROM (
       |    SELECT event_type, (h1*h1 + h1 + 3) % 1000000007 AS hv FROM (
       |      SELECT event_type, (h0*h0 + 17) % 1000000007 AS h1 FROM (
       |        SELECT event_type, (((user_id % 1000000007 + 1000000007) % 1000000007) * 2654435761 + 12345) % 1000000007 AS h0
       |        FROM events)))),
       |r AS (
       |  SELECT event_type, bucket,
       |         max(CASE WHEN v > 0 THEN 25 - length(bin(v)) ELSE 25 END) AS reg
       |  FROM b GROUP BY 1, 2),
       |grid AS (
       |  SELECT event_type, b2 AS bucket
       |  FROM (SELECT DISTINCT event_type FROM events), generate_series(0, 63) t(b2)),
       |regs AS (
       |  SELECT grid.event_type, grid.bucket, coalesce(r.reg, 0) AS reg
       |  FROM grid LEFT JOIN r ON r.event_type = grid.event_type AND r.bucket = grid.bucket),
       |arr AS (SELECT event_type, list(reg ORDER BY bucket) AS rl FROM regs GROUP BY 1),
       |est AS (
       |  SELECT event_type,
       |         0.709::DOUBLE * 4096.0::DOUBLE
       |           / list_reduce(list_prepend(0.0::DOUBLE,
       |               list_transform(rl, x -> power(2.0::DOUBLE, -x::DOUBLE))),
       |             (acc, y) -> acc + y) AS raw,
       |         len(list_filter(rl, x -> x = 0)) AS zeroes
       |  FROM arr),
       |corr AS (
       |  SELECT event_type,
       |         CASE WHEN raw <= 160.0 AND zeroes > 0
       |              THEN 64.0::DOUBLE * ($lnList::DOUBLE[])[zeroes]
       |              ELSE raw END AS hll_est
       |  FROM est),
       |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1)
       |SELECT corr.event_type AS event_type, hll_est, exact_distinct
       |FROM corr JOIN ex ON corr.event_type = ex.event_type
       |ORDER BY corr.event_type""".stripMargin
  }

  /** k2's sketch WITHOUT the exact-count calibration join — the oracle
    * for the streaming twin (st10), whose bounded state can't hold the
    * exact distinct set.
    */
  val k2HllSketchOnlySql: String = {
    // per-element ::DOUBLE casts: a bare [..]::DOUBLE[] literal funnels
    // all 64 mixed-scale elements through one common DECIMAL type,
    // which rounds some entries' last ulp before the cast
    val lnList = (1 to 64).map(v => math.log(64.0 / v).toString + "::DOUBLE")
      .mkString("[", ", ", "]")
    s"""WITH b AS (
       |  SELECT event_type, hv % 64 AS bucket, hv // 64 AS v FROM (
       |    SELECT event_type, (h1*h1 + h1 + 3) % 1000000007 AS hv FROM (
       |      SELECT event_type, (h0*h0 + 17) % 1000000007 AS h1 FROM (
       |        SELECT event_type, (((user_id % 1000000007 + 1000000007) % 1000000007) * 2654435761 + 12345) % 1000000007 AS h0
       |        FROM events)))),
       |r AS (
       |  SELECT event_type, bucket,
       |         max(CASE WHEN v > 0 THEN 25 - length(bin(v)) ELSE 25 END) AS reg
       |  FROM b GROUP BY 1, 2),
       |grid AS (
       |  SELECT event_type, b2 AS bucket
       |  FROM (SELECT DISTINCT event_type FROM events), generate_series(0, 63) t(b2)),
       |regs AS (
       |  SELECT grid.event_type, grid.bucket, coalesce(r.reg, 0) AS reg
       |  FROM grid LEFT JOIN r ON r.event_type = grid.event_type AND r.bucket = grid.bucket),
       |arr AS (SELECT event_type, list(reg ORDER BY bucket) AS rl FROM regs GROUP BY 1),
       |est AS (
       |  SELECT event_type,
       |         0.709::DOUBLE * 4096.0::DOUBLE
       |           / list_reduce(list_prepend(0.0::DOUBLE,
       |               list_transform(rl, x -> power(2.0::DOUBLE, -x::DOUBLE))),
       |             (acc, y) -> acc + y) AS raw,
       |         len(list_filter(rl, x -> x = 0)) AS zeroes
       |  FROM arr)
       |SELECT event_type,
       |       CASE WHEN raw <= 160.0 AND zeroes > 0
       |            THEN 64.0::DOUBLE * ($lnList::DOUBLE[])[zeroes]
       |            ELSE raw END AS hll_est
       |FROM est ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------- k3
  // Count-Min-sketch heavy hitters — the frequency sibling of k2's
  // cardinality sketch: top-5 users by their CMS-estimated event count
  // (alongside the exact count for calibration; CMS only ever
  // OVER-estimates, QualitySpec pins cms_n >= exact_n). The d=4 ×
  // w=512 counter grid is built by ONE bounded aggregation (partial
  // map-side counts, ≤2048 rows — the mergeable sketch shape: counter
  // grids add element-wise, so 1000 executors merge partials for
  // free), collected like the v9/v10 codebooks, and probed map-side
  // over the per-user aggregate; top-5 plans as TakeOrdered, never a
  // global sort. Probes are exact int64 mod-p (user_id reduced mod p
  // first — see k2's overflow note), so DuckDB rebuilds the identical
  // grid and the output hash-matches bit-for-bit.
  private[graft] val CmsW = 512L
  private[graft] val CmsP = 1000000007L
  private[graft] val CmsProbes = Seq((3L, 1L), (5L, 7L), (7L, 13L), (11L, 19L))

  /** Probe-i column position of `user` in the CMS grid (shared with the
    * streaming twin st17 so both engines and the stream agree on cells).
    */
  private[graft] def cmsPos(user: Column, a: Long, b: Long): Column =
    (pmod(user, lit(CmsP)) * a + b) % lit(CmsP) % lit(CmsW)

  val k3CmsTopk: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    def pos(a: Long, b: Long) = cmsPos(col("user_id"), a, b)
    val counters = CmsProbes.zipWithIndex.map { case ((a, b), i) =>
      ev.select(lit(i).as("d"), pos(a, b).as("c"))
    }.reduce(_ unionAll _)
      .groupBy("d", "c").agg(count(lit(1)).as("n"))
      .collect()
    val flat = Array.fill[Long](CmsProbes.size * CmsW.toInt)(0L)
    counters.foreach(r => flat(r.getInt(0) * CmsW.toInt + r.getLong(1).toInt) = r.getLong(2))
    val est = least(CmsProbes.zipWithIndex.map { case ((a, b), i) =>
      element_at(col("sk"), (lit(i.toLong) * lit(CmsW) + pos(a, b)).cast("int") + lit(1))
    }: _*)
    ev.groupBy(col("user_id")).agg(count(lit(1)).cast("long").as("exact_n"))
      .withColumn("sk", typedlit(flat.toSeq))
      .withColumn("cms_n", est.cast("long"))
      .select(col("user_id"), col("cms_n"), col("exact_n"))
      .orderBy(col("cms_n").desc, col("user_id")).limit(5)
  }

  val k3CmsTopkSql: String = {
    def posSql(a: Long, b: Long) =
      s"(((hb * $a + $b) % $CmsP) % $CmsW)"
    val buildArms = CmsProbes.zipWithIndex.map { case ((a, b), i) =>
      s"SELECT $i AS d, ${posSql(a, b)} AS c FROM hb"
    }.mkString("\n|    UNION ALL ")
    val joins = CmsProbes.zipWithIndex.map { case ((a, b), i) =>
      s"JOIN counters c$i ON c$i.d = $i AND c$i.c = ${posSql(a, b).replace("hb", "u.hb")}"
    }.mkString("\n|  ")
    val mins = CmsProbes.indices.map(i => s"c$i.n").mkString(", ")
    s"""WITH hb AS (SELECT ((user_id % $CmsP) + $CmsP) % $CmsP AS hb FROM events),
       |counters AS (
       |  SELECT d, c, CAST(count(*) AS BIGINT) AS n FROM (
       |    $buildArms)
       |  GROUP BY d, c),
       |users AS (
       |  SELECT user_id, ((user_id % $CmsP) + $CmsP) % $CmsP AS hb,
       |         CAST(count(*) AS BIGINT) AS exact_n
       |  FROM events GROUP BY user_id)
       |SELECT u.user_id, least($mins) AS cms_n, u.exact_n
       |FROM users u
       |  $joins
       |ORDER BY cms_n DESC, u.user_id LIMIT 5""".stripMargin
  }

  // ---------------------------------------------------------------- j5
  // Grouping-sets rollup: per-(event_type, day) revenue plus subtotal
  // and grand-total rows (GROUP BY ROLLUP). Spark expands grouping
  // sets before the (partial-agg friendly) aggregation; the ANSI null
  // indicator rows agree across engines, with NULLS FIRST ordering
  // aligned explicitly (Spark's asc default vs DuckDB's NULLS LAST).
  val j5Rollup: Q = (s, dir) =>
    t(s, dir, "events")
      .withColumn("day", expr("ts div 86400000000000L"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(cents(col("value"))).cast("long").as("total_cents"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))

  val j5RollupSql: String =
    """SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |       count(*) AS n_events,
      |       cast(sum(cast(round(value*100, 0) as bigint)) as bigint) AS total_cents
      |FROM events
      |GROUP BY ROLLUP(event_type, day)
      |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- w2
  // Sessionization: gap-based session assignment (new session when >1h
  // since the user's previous event). One keyed window (lag + running
  // sum of the new-session flags) — a single shuffle on user_id, the
  // canonical large-scale event-log op. All-integer ns arithmetic.
  val w2Sessionize: Q = (s, dir) => {
    val gapNs = 3600L * 1000000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts").cast("long").as("ts"))
      .withColumn("_prev", lag(col("ts"), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull || col("ts") - col("_prev") > gapNs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .select(col("event_id"), col("user_id"), col("session_id").cast("long").as("session_id"))
      .orderBy("event_id")
  }

  val w2SessionizeSql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS ts FROM events),
      |l AS (SELECT event_id, user_id, ts,
      |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |      FROM e),
      |f AS (SELECT event_id, user_id, ts,
      |             CASE WHEN prev IS NULL OR ts - prev > 3600000000000 THEN 1 ELSE 0 END AS nf
      |      FROM l)
      |SELECT event_id, user_id,
      |       cast(sum(nf) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS UNBOUNDED PRECEDING) as bigint) - 1 AS session_id
      |FROM f ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- w3
  // Rolling 7-day revenue per user: daily integer-cents aggregation,
  // then a RANGE frame over the day number — the frame is over the
  // (user, day) aggregate, never the raw events.
  val w3Rolling: Q = (s, dir) => {
    val daily = t(s, dir, "events")
      .groupBy(col("user_id"), expr("ts div 86400000000000L").as("day"))
      .agg(sum(cents(col("value"))).as("dc"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day")).rangeBetween(-6, 0)
    daily
      .withColumn("rolling_7d_cents", sum(col("dc")).over(w))
      .select(col("user_id"), col("day").cast("long").as("day"),
        col("dc").cast("long").as("day_cents"),
        col("rolling_7d_cents").cast("long").as("rolling_7d_cents"))
      .orderBy("user_id", "day")
  }

  val w3RollingSql: String =
    """WITH d AS (
      |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
      |         cast(sum(cast(round(value*100, 0) as bigint)) as bigint) AS day_cents
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day, day_cents,
      |       cast(sum(day_cents) OVER (PARTITION BY user_id ORDER BY day
      |              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) as bigint) AS rolling_7d_cents
      |FROM d ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------- w5
  // Cohort retention — the activation/retention matrix every event-log
  // pipeline reports: users cohorted by first-active day, retention =
  // distinct users active at each day offset from their cohort. Shape:
  // one distinct over (user, day) — after which EVERYTHING is bounded
  // by users × days, never the event count — a per-user min (partial
  // agg), a user-key join (co-partitioned with the distinct's
  // exchange), and a final small-key aggregation with map-side
  // partials. The distinct (user, day) guarantees each user counts
  // once per offset, so count(*) IS count(distinct user) without a
  // distinct aggregate's extra exchange.
  val w5CohortRetention: Q = (s, dir) => {
    val dayNs = 86400000000000L
    val activity = t(s, dir, "events")
      .select(col("user_id"), expr(s"ts div ${dayNs}L").as("day"))
      .distinct()
    val cohort = activity.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    activity.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val w5CohortRetentionSql: String =
    """WITH a AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id)
      |SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
      |       cast(count(*) as bigint) AS n_users
      |FROM a JOIN c ON a.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    "j4_asof_join" -> j4AsofJoin,
    "j5_rollup" -> j5Rollup,
    "j6_range_join" -> j6RangeJoin,
    "j6b_range_agg_prefix" -> j6bRangeAggPrefix,
    "j7_interval_overlap" -> j7IntervalOverlap,
    "j8_salted_join" -> j8SaltedJoin,
    "w2_sessionize" -> w2Sessionize,
    "w3_rolling" -> w3Rolling,
    "w4_funnel" -> w4Funnel,
    "w5_cohort_retention" -> w5CohortRetention,
    "q1_pricing" -> q1Pricing,
    "q5_local_supplier" -> q5LocalSupplier,
    "w1_event_windows" -> w1EventWindows,
    "a5b_most_conflated" -> a5bMostConflated,
    "a5c_most_divided" -> a5cMostDivided,
    "j2_market_revenue" -> j2MarketRevenue,
    "j3_brand_revenue" -> j3BrandRevenue,
    "a7_seen_customers" -> a7SeenCustomers,
    "a7_unseen_customers" -> a7UnseenCustomers,
    "p7_dict_encode" -> p7DictEncode,
    "p7b_dict_encode_distributed" -> p7bDictEncodeDistributed,
    "c9_string_match" -> c9StringMatch,
    "c10_oracle_wd" -> c10OracleWd,
    "a8_max_active" -> a8MaxActive,
    "a9_user_freq" -> a9UserFreq,
    "a6_census" -> a6Census,
    "a5_conflated_divided" -> a5ConflatedDivided,
    "a11_split_routing" -> a11SplitRouting,
    "a12_user_running" -> a12UserRunning,
    "k1_salted_sum" -> k1SaltedSum,
    "k2_hll_distinct" -> k2HllDistinct,
    "w6_sliding_distinct" -> w6SlidingDistinct,
    "st24_streaming_sliding_hll" -> st24StreamingSlidingHll,
    "k3_cms_topk" -> k3CmsTopk)

  val oracles: Map[String, String] = Map(
    "j4_asof_join" -> j4AsofJoinSql,
    "j5_rollup" -> j5RollupSql,
    "j6_range_join" -> j6RangeJoinSql,
    "j6b_range_agg_prefix" -> j6bRangeAggPrefixSql,
    "j7_interval_overlap" -> j7IntervalOverlapSql,
    "j8_salted_join" -> j8SaltedJoinSql,
    "w2_sessionize" -> w2SessionizeSql,
    "w3_rolling" -> w3RollingSql,
    "w4_funnel" -> w4FunnelSql,
    "w5_cohort_retention" -> w5CohortRetentionSql,
    "q1_pricing" -> q1PricingSql,
    "q5_local_supplier" -> q5LocalSupplierSql,
    "w1_event_windows" -> w1EventWindowsSql,
    "a5b_most_conflated" -> a5bMostConflatedSql,
    "a5c_most_divided" -> a5cMostDividedSql,
    "j2_market_revenue" -> j2MarketRevenueSql,
    "j3_brand_revenue" -> j3BrandRevenueSql,
    "a7_seen_customers" -> a7SeenCustomersSql,
    "a7_unseen_customers" -> a7UnseenCustomersSql,
    "p7_dict_encode" -> p7DictEncodeSql,
    "p7b_dict_encode_distributed" -> p7DictEncodeSql,
    "c9_string_match" -> c9StringMatchSql,
    "c10_oracle_wd" -> c10OracleWdSql,
    "a8_max_active" -> a8MaxActiveSql,
    "a9_user_freq" -> a9UserFreqSql,
    "a6_census" -> a6CensusSql,
    "a5_conflated_divided" -> a5ConflatedDividedSql,
    "a11_split_routing" -> a11SplitRoutingSql,
    "a12_user_running" -> a12UserRunningSql,
    "k1_salted_sum" -> k1SaltedSumSql,
    "k2_hll_distinct" -> k2HllDistinctSql,
    "w6_sliding_distinct" -> w6SlidingDistinctSql,
    "st24_streaming_sliding_hll" -> w6SlidingDistinctSql,
    "k3_cms_topk" -> k3CmsTopkSql)
}
