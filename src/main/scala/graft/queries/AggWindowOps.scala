package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GQuery, QueryPack, Tables}

/** Aggregations, windows, set operations, sorts and scalar functions —
  * SURVEY.md §2.4–§2.8 rows over the driver corpus.
  *
  * Scale notes: all group-bys are hash aggregates with map-side partials (free
  * in Spark); pivots are bounded-width; the only unpartitioned window (W4) is
  * kept top-K-bounded, with the scalable alternative documented inline.
  */
object AggWindowOps extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Clone of `s` (isolated SQL conf, shared context and builder options)
    * pinned to the RocksDB state-store provider transformWithState needs.
    * st6/st7 build their plans on the clone so the provider switch never
    * leaks into the caller's session. */
  private def rocksDbSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2
  }

  // ---- A1: group-by blend aggregates (flagship q1 shape) ---------------------
  // Reference: stg_proj_preseason_hitting_skills.sql:7-24 (group-by AVG blend)
  // Money columns are summed as DECIMAL so the aggregation is exact and
  // order-insensitive (double sums vary with partitioning), then cast back to
  // double; integer-valued doubles (quantity) sum exactly as-is.
  private val a1 = GQuery(
    "a1_groupby_aggregates",
    (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        avg(col("l_quantity")).as("avg_qty"),
        (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("avg_price"),
        (sum(col("l_discount").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  sum(l_quantity) AS sum_qty,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           |    AS sum_disc_price,
           |  avg(l_quantity) AS avg_qty,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    doc = "Hash aggregate with partial+final combine; exact decimal money sums (A1).")

  // ---- A2: regression slope, built-in vs hand-rolled sums --------------------
  // Reference: models/stage/nfbc/stg_nfbc_sgp_factors.sql:7-30
  private val a2 = GQuery(
    "a2_regr_slope",
    (s, dir) =>
      // Sums feeding the manual slope are exact decimals -> the slope
      // arithmetic runs on bit-identical doubles in both engines.
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        count(col("l_quantity")).as("n"),
        regr_slope(col("l_extendedprice"), col("l_quantity")).as("slope_raw"),
        sum(col("l_quantity")).as("sx"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sy"),
        sum(col("l_quantity").cast("decimal(18,2)") * col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("sxy"),
        sum(col("l_quantity") * col("l_quantity")).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          round(col("slope_raw"), 4).as("slope"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("slope_manual")),
    Some("""SELECT l_returnflag, count(l_quantity) AS n,
           |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           |  round((count(l_quantity)*CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           |         - sum(l_quantity)*CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))
           |      / (count(l_quantity)*sum(l_quantity*l_quantity)
           |         - sum(l_quantity)*sum(l_quantity)), 4) AS slope_manual
           |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    doc = "Least-squares slope: regr_slope vs regression sums (A2).")

  // ---- A3/W1: rank within group then aggregate per rank bucket ----------------
  // Reference: models/stage/nfbc/stg_nfbc_sgp_inputs.sql:31-39
  private val a3 = GQuery(
    "a3_rank_bucket_avg",
    (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("bucket", floor((col("rn") - 1) / lit(100.0)).cast("int"))
        .filter(col("bucket") < 5)
        .groupBy(col("o_orderpriority"), col("bucket"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("avg_price"), count(lit(1)).as("n"))
    },
    Some("""SELECT o_orderpriority, bucket,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           |  count(*) AS n
           |FROM (
           |  SELECT o_orderpriority, o_totalprice,
           |    CAST(floor((row_number() OVER (PARTITION BY o_orderpriority
           |      ORDER BY o_totalprice DESC, o_orderkey) - 1) / 100.0) AS INT) AS bucket
           |  FROM orders) sub
           |WHERE bucket < 5
           |GROUP BY o_orderpriority, bucket""".stripMargin),
    doc = "Average of values at each (group, rank-bucket) (A3).")

  // ---- A4: pivot via max(CASE WHEN) -------------------------------------------
  // Reference: models/main/mart_sgp_factors.sql:7-19
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val a4 = GQuery(
    "a4_pivot_case_when",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val aggs = segments.map(seg =>
        sum(when(col("c_mktsegment") === seg, col("c_acctbal").cast("decimal(18,2)")))
          .cast("double").as(seg.toLowerCase))
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(aggs.head, aggs.tail: _*)
    },
    Some {
      val cols = segments.map(seg =>
        s"CAST(sum(CASE WHEN c_mktsegment = '$seg' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS ${seg.toLowerCase}")
        .mkString(",\n  ")
      s"""SELECT n_name,
         |  $cols
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name""".stripMargin
    },
    doc = "Wide pivot as max/sum(CASE WHEN) per category (A4).")

  // ---- A5/A7: group-by MIN + scalar max over the result ------------------------
  // Reference: stg_proj_preseason_hitting_rep_lvl_oc.sql:60-71
  private val a5 = GQuery(
    "a5_groupmin_scalar_max",
    (s, dir) => {
      val mins = t(s, dir, "supplier").groupBy(col("s_nationkey"))
        .agg(min(col("s_acctbal")).as("min_bal"))
      val gmax = mins.agg(max(col("min_bal")).as("max_of_mins"))
      mins.crossJoin(broadcast(gmax))
    },
    Some("""WITH mins AS (SELECT s_nationkey, min(s_acctbal) AS min_bal
           |              FROM supplier GROUP BY s_nationkey)
           |SELECT s_nationkey, min_bal, (SELECT max(min_bal) FROM mins) AS max_of_mins
           |FROM mins""".stripMargin),
    doc = "Replacement-level MIN per group + scalar MAX over it (A5, A7).")

  // ---- A6: global scalar aggregate -> constant --------------------------------
  // Reference: stg_proj_preseason_hitting_values_oc.sql:16-20 (dollars/SGP)
  private val a6 = GQuery(
    "a6_global_scalar_budget",
    (s, dir) => {
      val budget = 12 * 260 * 0.67 - 12 * 14
      t(s, dir, "lineitem").filter(col("l_discount") > 0.05)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("tot"))
        .select(col("tot"), (lit(budget) / col("tot") * lit(1e9)).as("dollars_per_unit"))
    },
    Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS tot,
           |  (12*260*0.67 - 12*14) / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 1e9
           |    AS dollars_per_unit
           |FROM lineitem WHERE l_discount > 0.05""".stripMargin),
    doc = "Filtered global aggregate feeding a scalar budget formula (A6).")

  // ---- A7: scalar subquery max (native SQL path) -------------------------------
  // Reference: models/source/*:19-21; app/app.py:886
  private val a7 = GQuery(
    "a7_scalar_subquery",
    (s, dir) => Tables.sqlOn(s, "orders" -> Tables.load(s, dir, "orders")) { v =>
      s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
         |FROM ${v("orders")}
         |WHERE o_orderdate = (SELECT max(o_orderdate) FROM ${v("orders")})""".stripMargin
    },
    Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od, o_totalprice
           |FROM orders
           |WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)""".stripMargin),
    doc = "Uncorrelated scalar subquery, Catalyst-rewritten to a join (A7).")

  // ---- A8/P12: exact percentiles with sign-flip normalization -------------------
  // Reference: models/main/mart_sgp_percentiles.sql:16-32
  private val a8 = GQuery(
    "a8_percentile_signflip",
    // ALL THREE percentiles share ONE buffer via the array form — each
    // percentile(...) aggregate otherwise buffers the whole group's values
    // separately (r13, guide §5: the doubled ObjectHashAggregate state was
    // the query's dominant cost). The sign-flipped p20 rides the same
    // buffer through the exact identity -percentile(-x, 0.8) ==
    // percentile(x, 0.2): Spark interpolates lowerKey*(higher-pos) +
    // higherKey*(pos-lower), and flipping the sign of every value mirrors
    // the sorted order, so the flipped form evaluates the SAME two
    // products in commuted (IEEE-exact) addition order; only the rank
    // position (n-1)*0.2 vs (n-1) - (n-1)*0.8 can differ, in its last
    // ulp — orders of magnitude below the round(4) gate, re-proven
    // against the unchanged sign-flip oracle at sf0.001/sf0.01.
    (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        expr("percentile(l_extendedprice, array(0.2, 0.8, 0.9))").as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 2), 4).as("p80"),
          round(element_at(col("ps"), 3), 4).as("p90"),
          round(element_at(col("ps"), 1), 4).as("p20_flip")),
    Some("""SELECT l_returnflag,
           |  round(quantile_cont(l_extendedprice, 0.8), 4) AS p80,
           |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           |  round(-quantile_cont(-l_extendedprice, 0.8), 4) AS p20_flip
           |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    doc = "Exact interpolated percentiles + sign-flip for asc metrics (A8, P12).")

  // ---- A9: SELECT DISTINCT -------------------------------------------------------
  private val a9 = GQuery(
    "a9_distinct",
    (s, dir) =>
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_linestatus")).distinct(),
    Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),
    doc = "DISTINCT dedup (A9).")

  // ---- A11: weighted means (serving-side aggregate semantics) --------------------
  // Reference: app/app.py:909-937 (IP-weighted ERA/WHIP)
  private val a11 = GQuery(
    "a11_weighted_mean",
    (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        (sum(col("l_extendedprice").cast("decimal(18,2)") * col("l_quantity").cast("decimal(18,2)"))
          .cast("double") / sum(col("l_quantity"))).as("wavg_price"),
        sum(col("l_quantity")).as("total_qty")),
    Some("""SELECT l_returnflag,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           |    / sum(l_quantity) AS wavg_price,
           |  sum(l_quantity) AS total_qty
           |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    doc = "Weighted mean as sum(x*w)/sum(w) (A11).")

  // ---- W1: row_number per partition, top-N filter ---------------------------------
  // Reference: models/stage/nfbc/stg_nfbc_ranked_standings.sql:32-41
  private val w1 = GQuery(
    "w1_rownumber_partitioned",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("c_mktsegment"), col("rn"), col("c_custkey"), col("c_acctbal"))
    },
    Some("""SELECT c_mktsegment, rn, c_custkey, c_acctbal FROM (
           |  SELECT c_mktsegment, c_custkey, c_acctbal,
           |    row_number() OVER (PARTITION BY c_mktsegment
           |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
           |  FROM customer) sub WHERE rn <= 5""".stripMargin),
    doc = "Partitioned ranking window with deterministic tie-break (W1).")

  // ---- W2: rank() with ties sharing rank --------------------------------------------
  private val w2 = GQuery(
    "w2_rank_ties",
    (s, dir) => {
      val banded = t(s, dir, "supplier")
        .withColumn("bal_band", floor(col("s_acctbal") / 100).cast("bigint"))
      val w = Window.partitionBy(col("s_nationkey")).orderBy(col("bal_band").desc)
      banded.withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 3)
        .select(col("s_nationkey"), col("s_suppkey"), col("bal_band"), col("rnk"))
    },
    Some("""SELECT s_nationkey, s_suppkey, bal_band, rnk FROM (
           |  SELECT s_nationkey, s_suppkey,
           |    CAST(floor(s_acctbal / 100) AS BIGINT) AS bal_band,
           |    rank() OVER (PARTITION BY s_nationkey
           |                 ORDER BY CAST(floor(s_acctbal / 100) AS BIGINT) DESC) AS rnk
           |  FROM supplier) sub WHERE rnk <= 3""".stripMargin),
    doc = "rank() keeps ties — all tied rows survive (W2).")

  // ---- W3/U3: cascaded residual top-K pools ------------------------------------------
  // Reference: stg_proj_preseason_hitting_rep_lvl_oc.sql:8-31 (3 cascaded tiers)
  private val w3 = GQuery(
    "w3_topk_cascade",
    (s, dir) => {
      val sup = t(s, dir, "supplier")
      val w1 = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      val tier1 = sup.withColumn("rn", row_number().over(w1)).filter(col("rn") <= 3)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"), lit("tier1").as("tier"))
      // Residual = complement of tier1 (left_anti). The global tier-2 cut
      // is orderBy+limit — a distributed TakeOrdered (per-partition top-10
      // then a 10-row merge), never an unpartitioned window over the whole
      // residual table (the w4 anti-pattern the header bans); the
      // (acctbal, suppkey) total order makes the cut deterministic.
      val resid = sup.join(tier1.select(col("s_suppkey").as("k")),
        sup("s_suppkey") === col("k"), "left_anti")
      val tier2 = resid.orderBy(col("s_acctbal").desc, col("s_suppkey")).limit(10)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"), lit("tier2").as("tier"))
      tier1.union(tier2)
    },
    Some("""WITH t1 AS (
           |  SELECT s_suppkey, s_nationkey, s_acctbal, 'tier1' AS tier FROM (
           |    SELECT s_suppkey, s_nationkey, s_acctbal,
           |      row_number() OVER (PARTITION BY s_nationkey
           |                         ORDER BY s_acctbal DESC, s_suppkey) AS rn
           |    FROM supplier) x WHERE rn <= 3),
           |resid AS (
           |  SELECT * FROM supplier WHERE s_suppkey NOT IN (SELECT s_suppkey FROM t1)),
           |t2 AS (
           |  SELECT s_suppkey, s_nationkey, s_acctbal, 'tier2' AS tier FROM (
           |    SELECT s_suppkey, s_nationkey, s_acctbal,
           |      row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey) AS rn
           |    FROM resid) y WHERE rn <= 10)
           |SELECT * FROM t1 UNION ALL SELECT * FROM t2""".stripMargin),
    doc = "Cascaded top-K pools over residuals, then UNION ALL (W3, U3).")

  // ---- W4: global (unpartitioned) row_number -------------------------------------------
  // Reference: mart_preseason_overall_rankings_oc.sql:112,117.
  // Single-partition window is fine because the input is top-K-bounded first;
  // at 100 TB the pre-limit (orderBy+limit, done distributed via TakeOrdered)
  // caps what reaches the one-partition stage.
  private val w4 = GQuery(
    "w4_global_rownumber",
    (s, dir) => {
      val top = t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      top.withColumn("rnk", row_number().over(w))
        .select(col("rnk"), col("o_orderkey"), col("o_totalprice"),
          (col("o_orderkey") - col("rnk")).as("rank_diff"))
    },
    Some("""SELECT rnk, o_orderkey, o_totalprice, o_orderkey - rnk AS rank_diff FROM (
           |  SELECT o_orderkey, o_totalprice,
           |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
           |  FROM orders) sub WHERE rnk <= 100""".stripMargin),
    doc = "Global overall-rank window, bounded by TakeOrdered pre-limit (W4).")

  // ---- O1/O3: ORDER BY + LIMIT top-K ------------------------------------------------------
  private val o1 = GQuery(
    "o1_orderby_limit",
    (s, dir) =>
      t(s, dir, "part")
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
        .limit(50)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice")),
    Some("""SELECT p_partkey, p_name, p_retailprice FROM part
           |ORDER BY p_retailprice DESC, p_partkey LIMIT 50""".stripMargin),
    doc = "Top-K via distributed TakeOrderedAndProject (O1, O3).")

  // ---- U1: positional UNION ALL ------------------------------------------------------------
  // Reference: stg_proj_preseason_hitting_pt.sql:7-19
  private val u1 = GQuery(
    "u1_union_positional",
    (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), lit("customer").as("src"))
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey"), col("s_name"), col("s_acctbal"), lit("supplier"))
      c.union(sup) // positional, like SQL UNION ALL
    },
    Some("""SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, 'customer' AS src
           |FROM customer
           |UNION ALL
           |SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier""".stripMargin),
    doc = "Schema-aligned-by-position UNION ALL (U1).")

  // ---- U2: unpivot wide -> long --------------------------------------------------------------
  // Reference: models/stage/nfbc/stg_nfbc_sgp_inputs.sql:7-19 (10-way union unpivot)
  private val u2 = GQuery(
    "u2_unpivot",
    (s, dir) => {
      val wide = t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        sum(col("l_quantity")).as("qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("price"),
        sum(col("l_discount").cast("decimal(18,2)")).cast("double").as("disc"))
      wide.unpivot(Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("disc")), "measure", "value")
    },
    Some("""WITH wide AS (
           |  SELECT l_returnflag, sum(l_quantity) AS qty,
           |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
           |         CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
           |  FROM lineitem GROUP BY l_returnflag)
           |SELECT l_returnflag, 'qty' AS measure, qty AS value FROM wide
           |UNION ALL SELECT l_returnflag, 'price', price FROM wide
           |UNION ALL SELECT l_returnflag, 'disc', disc FROM wide""".stripMargin),
    doc = "Unpivot/melt wide measures to long (U2).")

  // ---- U3: UNION ALL appending a computed scalar row ------------------------------------------
  // Reference: stg_proj_preseason_hitting_rep_lvl_oc.sql:68-71 (UT row append)
  private val u3 = GQuery(
    "u3_union_append_scalar",
    (s, dir) => {
      val mins = t(s, dir, "customer").groupBy(col("c_mktsegment"))
        .agg(min(col("c_acctbal")).as("min_bal"))
      val allRow = mins.agg(max(col("min_bal")).as("min_bal"))
        .select(lit("ALL").as("c_mktsegment"), col("min_bal"))
      mins.union(allRow)
    },
    Some("""WITH mins AS (SELECT c_mktsegment, min(c_acctbal) AS min_bal
           |              FROM customer GROUP BY c_mktsegment)
           |SELECT c_mktsegment, min_bal FROM mins
           |UNION ALL
           |SELECT 'ALL', max(min_bal) FROM mins""".stripMargin),
    doc = "Computed scalar row appended via UNION ALL (U3).")

  // ---- U4: UNION ALL with null-padded disjoint columns -----------------------------------------
  // Reference: mart_preseason_overall_rankings_oc.sql:7-101
  private val u4 = GQuery(
    "u4_union_nullpad",
    (s, dir) => {
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"),
        lit(null).cast("int").as("supp_nationkey"), lit("cust").as("kind"))
      val sup = t(s, dir, "supplier").select(
        col("s_suppkey"), col("s_name"), col("s_acctbal"),
        lit(null).cast("string"), col("s_nationkey"), lit("supp"))
      c.union(sup)
    },
    Some("""SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
           |  c_mktsegment AS mktsegment, CAST(NULL AS INT) AS supp_nationkey, 'cust' AS kind
           |FROM customer
           |UNION ALL
           |SELECT s_suppkey, s_name, s_acctbal, CAST(NULL AS VARCHAR), s_nationkey, 'supp'
           |FROM supplier""".stripMargin),
    doc = "Disjoint-schema union with explicit null padding (U4).")

  // ---- F1: scalar string function battery (§2.8) -------------------------------------------------
  private val f1 = GQuery(
    "f1_string_functions",
    (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("digits"),
        concat(col("c_mktsegment"), lit("_"), col("c_name")).as("cat"),
        element_at(split(col("c_name"), "#"), -1).as("last_part"),
        split_part(col("c_name"), lit("#"), lit(2)).as("sp2"),
        expr("replace(c_name, 'Customer', 'Cust')").as("repl"),
        length(col("c_name")).as("len"),
        lower(col("c_mktsegment")).as("seg_lower")),
    Some("""SELECT c_custkey,
           |  regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           |  concat(c_mktsegment, '_', c_name) AS cat,
           |  list_extract(string_split(c_name, '#'), -1) AS last_part,
           |  split_part(c_name, '#', 2) AS sp2,
           |  replace(c_name, 'Customer', 'Cust') AS repl,
           |  length(c_name) AS len,
           |  lower(c_mktsegment) AS seg_lower
           |FROM customer""".stripMargin),
    doc = "regexp_extract/concat/split/element_at/split_part/replace (§2.8).")

  // ---- F2/S3: input_file_name() path metadata (no SQL oracle: engine-specific) -------------------
  // Reference: "$path" pseudo-column, src_fangraphs_projections_preseason_hitting.sql:8-14
  private val f2 = GQuery(
    "f2_input_file_metadata",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("_filename",
          regexp_extract(input_file_name(), "([^/]+)\\.parquet", 1))
        .groupBy(col("_filename"))
        .agg(count(lit(1)).as("n")),
    None,
    doc = "File-path pseudo-column as a first-class key (S3); rows-only check.")

  // ---- F3: CTE + derived columns + scalar subquery (app §3.3 shape) -------------------------------
  // Reference: app/app.py:868-887
  private val f3 = GQuery(
    "f3_cte_scalar_subquery",
    (s, dir) => Tables.sqlOn(s, "documents" -> Tables.load(s, dir, "documents")) { v =>
      s"""WITH parts AS (
         |  SELECT doc_id, source,
         |    CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS srcnum, n_chars
         |  FROM ${v("documents")})
         |SELECT srcnum, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM parts
         |WHERE srcnum = (SELECT max(srcnum) FROM parts WHERE srcnum < 15)
         |GROUP BY srcnum""".stripMargin
    },
    Some("""WITH parts AS (
           |  SELECT doc_id, source,
           |    CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS srcnum, n_chars
           |  FROM documents)
           |SELECT srcnum, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM parts
           |WHERE srcnum = (SELECT max(srcnum) FROM parts WHERE srcnum < 15)
           |GROUP BY srcnum""".stripMargin),
    doc = "Derived-column CTE + uncorrelated scalar subquery (§3.3).")

  // ---- F6: extended string-function battery ---------------------------------
  // The second tranche of §2.8's scalar surface: padding, character
  // translation, reversal, repetition, position search, token slicing, and
  // char-qualified trim — each pinned against DuckDB's independent
  // implementation. All pure per-row projections, codegen'd, shuffle-free.
  private val f6 = GQuery(
    "f6_string_functions_extended",
    (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        rpad(col("p_brand"), 12, "-").as("rp"),
        translate(col("p_type"), "aeiou", "AEIOU").as("tr"),
        reverse(col("p_name")).as("rev"),
        repeat(col("p_brand"), 2).as("rep"),
        ascii(col("p_name")).cast("int").as("first_char"),
        instr(col("p_name"), "o").cast("long").as("pos_o"),
        expr("split_part(p_name, ' ', 1)").as("first_word"),
        expr("left(p_name, 4)").as("l4"),
        expr("right(p_name, 3)").as("r3"),
        expr("trim(BOTH '*' FROM lpad(p_brand, 12, '*'))").as("untrimmed")),
    Some("""SELECT p_partkey,
           |  lpad(p_brand, 12, '*') AS lp,
           |  rpad(p_brand, 12, '-') AS rp,
           |  translate(p_type, 'aeiou', 'AEIOU') AS tr,
           |  reverse(p_name) AS rev,
           |  repeat(p_brand, 2) AS rep,
           |  CAST(ascii(p_name) AS INT) AS first_char,
           |  CAST(instr(p_name, 'o') AS BIGINT) AS pos_o,
           |  split_part(p_name, ' ', 1) AS first_word,
           |  left(p_name, 4) AS l4,
           |  right(p_name, 3) AS r3,
           |  trim(BOTH '*' FROM lpad(p_brand, 12, '*')) AS untrimmed
           |FROM part""".stripMargin),
    doc = "Extended string battery: pad/translate/reverse/repeat/instr/split_part/left/right/char-trim (F6/§2.8).")

  // ---- F9: conditional scalar battery ----------------------------------------
  // greatest/least, nullif + coalesce chains, and the if/CASE ternary — the
  // remaining null-plumbing scalars. Per-row, codegen'd; the engine's if()
  // is the oracle's CASE (same three-valued logic).
  private val f9 = GQuery(
    "f9_conditional_scalars",
    (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        greatest(col("l_tax"), col("l_discount")).as("max_rate"),
        least(col("l_tax"), col("l_discount")).as("min_rate"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag_class"),
        expr("if(l_quantity > 25, 'big', 'small')").as("size_class"),
        when(col("l_discount") > 0, col("l_extendedprice") * col("l_discount"))
          .otherwise(lit(0.0)).as("discount_amt")),
    Some("""SELECT l_orderkey, l_linenumber,
           |  greatest(l_tax, l_discount) AS max_rate,
           |  least(l_tax, l_discount) AS min_rate,
           |  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag_class,
           |  CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS size_class,
           |  CASE WHEN l_discount > 0 THEN l_extendedprice * l_discount
           |       ELSE 0.0 END AS discount_amt
           |FROM lineitem""".stripMargin),
    doc = "greatest/least, nullif+coalesce, ternary if — null-plumbing scalars (F9/§2.8).")

  // ---- U7: INTERSECT ALL / EXCEPT ALL (bag semantics) ------------------------
  // u5 pinned the SET forms; the ALL forms keep multiplicities — Spark plans
  // them by tagging rows with per-side counts and replicating min/diff
  // counts (one aggregate, no row-number windows). Multiplicity matters when
  // the rows ARE the data (duplicate orders across two extracts).
  private val u7 = GQuery(
    "u7_intersect_except_all",
    (s, dir) => {
      // two overlapping extracts with genuine duplicate rows: priority class
      // per order status, restricted to two disjoint-ish date windows
      val a = t(s, dir, "orders").filter(col("o_orderdate") < "1997-01-01")
        .select(col("o_orderstatus"), col("o_orderpriority"))
      val b = t(s, dir, "orders").filter(col("o_orderdate") >= "1996-01-01")
        .select(col("o_orderstatus"), col("o_orderpriority"))
      val both = a.intersectAll(b)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val onlyA = a.exceptAll(b)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      both.unionByName(onlyA)
    },
    Some("""WITH a AS (SELECT o_orderstatus, o_orderpriority FROM orders
           |           WHERE o_orderdate < '1997-01-01'),
           |b AS (SELECT o_orderstatus, o_orderpriority FROM orders
           |      WHERE o_orderdate >= '1996-01-01'),
           |i AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |        'intersect_all' AS op
           |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) x
           |      GROUP BY 1, 2),
           |e AS (SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           |        'except_all' AS op
           |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) y
           |      GROUP BY 1, 2)
           |SELECT * FROM i UNION ALL SELECT * FROM e""".stripMargin),
    doc = "INTERSECT ALL / EXCEPT ALL: multiplicity-preserving set ops (U7/§2.7).")

  // ---- A16: conditional + argmax aggregate battery ---------------------------
  // count_if / bool_and / bool_or / max_by / min_by — the conditional face
  // of the aggregate surface. The argmax orderers are the UNIQUE o_orderkey,
  // so ties cannot make the picked row engine-dependent (max_by on a
  // non-unique orderer is nondeterministic on both engines and would be a
  // flaky oracle). One partial+final hash aggregate, same shuffle as a1.
  // ---- A17: CUBE (completes the rollup / grouping-sets / cube trio) ----------
  // All four grouping combinations in ONE pass over the fact table — the
  // same Expand machinery as a13/a15, so the scan count stays 1 while the
  // aggregate fans each row into its grouping sets. grouping() flags
  // disambiguate "NULL because subtotal" from a genuinely null key, the
  // correctness subtlety CUBE queries hinge on. Quantity sums in DECIMAL.
  private val a17 = GQuery(
    "a17_cube",
    (s, dir) => t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |  count(*) AS n,
           |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
           |  CAST(grouping(l_linestatus) AS INT) AS g_status
           |FROM lineitem
           |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    doc = "CUBE: all grouping combinations in one Expand pass, grouping() flags pinned (A17).")

  // ---- A18: native relational pivot ------------------------------------------
  // The DataFrame-native `pivot` with an EXPLICIT value list — the explicit
  // list is the scale contract: without it Spark first runs a distinct scan
  // of the pivot column (an extra job + a driver-side value collect), with
  // it the plan is one aggregate whose output columns are fixed at plan
  // time. Oracle states the same table as conditional sums (the a4
  // machinery), pinning that native pivot == CASE-WHEN pivot.
  private val a18 = GQuery(
    "a18_native_pivot",
    (s, dir) => t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p")),
    Some("""SELECT o_orderpriority,
           |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
           |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
           |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
           |FROM orders GROUP BY o_orderpriority""".stripMargin),
    doc = "Native pivot with explicit value list (no distinct pre-scan), pinned against CASE-WHEN (A18).")

  private val a16 = GQuery(
    "a16_conditional_argmax_agg",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count_if(col("o_totalprice") > 200000).as("n_big"),
          expr("bool_and(o_totalprice > 0)").as("all_positive"),
          expr("bool_or(o_orderstatus = 'F')").as("any_finished"),
          max_by(col("o_orderdate"), col("o_orderkey")).as("date_of_max_key"),
          min_by(col("o_orderdate"), col("o_orderkey")).as("date_of_min_key"),
          count(lit(1)).as("n")),
    Some("""SELECT o_orderpriority,
           |  CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
           |  bool_and(o_totalprice > 0) AS all_positive,
           |  bool_or(o_orderstatus = 'F') AS any_finished,
           |  arg_max(o_orderdate, o_orderkey) AS date_of_max_key,
           |  arg_min(o_orderdate, o_orderkey) AS date_of_min_key,
           |  count(*) AS n
           |FROM orders GROUP BY o_orderpriority""".stripMargin),
    doc = "count_if / bool_and / bool_or / max_by / min_by with unique orderers (A16).")

  // ---- F7: array-function battery -------------------------------------------
  // The array surface the vector/text operators build on, pinned directly:
  // set ops (intersect/except, both sorted before compare — element order of
  // set results is engine-specific), dedup, slicing, flattening, membership,
  // and position (both engines return 0 for absent, not NULL). All per-row
  // projections over the document word array — codegen'd, shuffle-free.
  // Array outputs are serialized with array_join/array_to_string '|' so every
  // output column is a hashable scalar for the harness (raw array cells are
  // unhashable on the compare side).
  private val f7 = GQuery(
    "f7_array_functions",
    (s, dir) => {
      val w = split(col("text"), " ")
      val stop = array(lit("the"), lit("a"), lit("of"), lit("and"))
      t(s, dir, "documents").select(
        col("doc_id"),
        array_join(sort_array(array_intersect(array_distinct(w), stop)), "|")
          .as("stop_hits"),
        size(array_distinct(w)).as("n_uniq"),
        array_join(slice(w, 2, 3), "|").as("w2_4"),
        array_join(sort_array(array_except(stop, w)), "|").as("stop_missing"),
        array_contains(w, "the").as("has_the"),
        array_position(w, "the").cast("long").as("the_pos"),
        array_join(flatten(array(slice(w, 1, 2), slice(w, 3, 2))), "|")
          .as("first4"))
    },
    Some("""SELECT doc_id,
           |  coalesce(array_to_string(list_sort(list_intersect(list_distinct(w),
           |                                     ['the','a','of','and'])),
           |                           '|'), '') AS stop_hits,
           |  CAST(len(list_distinct(w)) AS INT) AS n_uniq,
           |  coalesce(array_to_string(w[2:4], '|'), '') AS w2_4,
           |  coalesce(array_to_string(list_sort(list_filter(['the','a','of','and'],
           |      x -> NOT list_contains(w, x))), '|'), '') AS stop_missing,
           |  list_contains(w, 'the') AS has_the,
           |  CAST(list_position(w, 'the') AS BIGINT) AS the_pos,
           |  coalesce(array_to_string(flatten([w[1:2], w[3:4]]), '|'), '') AS first4
           |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d""".stripMargin),
    doc = "Array battery: set ops, dedup, slice, flatten, membership, position (F7/§2.8).")

  // ---- ST1: tumbling-window aggregate (batch twin of the streaming path) ---------------------------
  // THE SAME EventStream.windowedCounts plan the streaming runner
  // incrementalizes (EventStreamSpec proves stream == batch on it) — the
  // oracle gate and the streaming path now check one definition, so an
  // edit to either is caught by both.
  private val st1 = GQuery(
    "st1_tumbling_window_agg",
    (s, dir) =>
      graft.streaming.EventStream.windowedCounts(t(s, dir, "events"))
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("event_type"), col("n"), round(col("total"), 4).as("total")),
    Some("""SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
           |  event_type, count(*) AS n,
           |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total
           |FROM events GROUP BY 1, 2""".stripMargin),
    doc = "5-minute tumbling window aggregate; same plan drives streaming (§2.9).")

  // ---- ST2: stream-static enrichment (batch twin) ---------------------------
  // The feature-table pattern: live events join a batch-computed per-user
  // profile. Same `EventStream.enrichedEvents` plan runs on a stream
  // (EventStreamSpec proves it, null pass-through included); here the batch
  // twin is oracle-checked. The profile broadcasts — each micro-batch is an
  // executor-local hash lookup, no stream shuffle, no join state.
  private val st2 = GQuery(
    "st2_stream_static_enrichment",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val prof = graft.streaming.EventStream.userProfile(ev)
      graft.streaming.EventStream.enrichedEvents(ev, prof)
        .select(col("event_id"), col("user_id"), col("n_events"),
          round(col("lifetime_value"), 4).as("lifetime_value"),
          unix_timestamp(col("last_seen")).as("last_seen_s"))
    },
    Some("""WITH prof AS (
           |  SELECT user_id, count(*) AS n_events,
           |    round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS lifetime_value,
           |    CAST(floor(epoch(max(ts))) AS BIGINT) AS last_seen_s
           |  FROM events GROUP BY user_id)
           |SELECT e.event_id, e.user_id, p.n_events, p.lifetime_value, p.last_seen_s
           |FROM events e LEFT JOIN prof p USING (user_id)""".stripMargin),
    doc = "Stream-static feature-table enrichment, batch twin oracle-checked (§2.9).")

  // ---- ST3: sliding-window aggregate (batch twin of the streaming path) -----
  // Hopping 10-min/5-min windows: every event belongs to exactly TWO
  // windows, which Spark produces with one Expand feeding the usual
  // partial+final aggregate — the fan-out is the window count (2), never
  // the data size. The oracle states the same two windows arithmetically:
  // floor(ts/300)*300 and that minus 300. Sums accumulate in DECIMAL so
  // the doubled rows still compare bit-exactly. The same transform
  // (EventStream.slidingCounts) runs watermarked on a stream, where the
  // per-(window,type) aggregate state is evicted as the watermark passes
  // each window's end (EventStreamSpec proves stream == batch).
  private val st3 = GQuery(
    "st3_sliding_window_agg",
    (s, dir) =>
      graft.streaming.EventStream.slidingCounts(t(s, dir, "events"))
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("event_type"), col("n"), round(col("total"), 4).as("total")),
    Some("""WITH hop AS (
           |  SELECT unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
           |                 CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)])
           |           AS win_start,
           |         event_type, value
           |  FROM events)
           |SELECT win_start, event_type, count(*) AS n,
           |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total
           |FROM hop GROUP BY 1, 2""".stripMargin),
    doc = "Sliding 10m/5m window aggregate: Expand fan-out of 2, decimal-exact sums; streaming twin watermark-evicted (§2.9).")

  // ---- ST4: keyed first-event dedup (batch face of streaming dedup) ---------
  // Earliest event per (user, type) — the batch fixpoint of
  // EventStream.dedupEvents on the same key, where the streaming runtime
  // keeps one watermark-window of seen keys and drops later arrivals. The
  // batch statement is a per-key ranking window (bounded partitions) with
  // the (ts, event_id) total order; selection only, so values compare
  // bit-exactly.
  private val st4 = GQuery(
    "st4_keyed_first_event",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("first_ts_sec"), col("value"))
    },
    Some("""SELECT user_id, event_type, event_id,
           |  CAST(floor(epoch(ts)) AS BIGINT) AS first_ts_sec, value
           |FROM (SELECT *, row_number() OVER (
           |        PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
           |      FROM events) r
           |WHERE rn = 1""".stripMargin),
    doc = "Keyed first-event dedup: batch fixpoint of the watermarked streaming dedup (§2.9).")

  // ---- ST5: stream-stream interval join (batch twin) -------------------------
  // The attribution shape: each click pairs with the same user's views at
  // most 10 minutes older. EventStreamSpec proves the SAME
  // `attributedClicks` plan runs watermarked on two streams (state evicted
  // once the click watermark passes a view's match horizon); here the
  // batch face is oracle-checked, pinning the interval semantics
  // (inclusive both ends, epoch-microsecond arithmetic).
  private val st5 = GQuery(
    "st5_interval_join_attribution",
    (s, dir) =>
      graft.streaming.EventStream.attributedClicks(
        t(s, dir, "events"), stream = false),
    Some("""SELECT c.event_id AS click_id, c.user_id,
           |  epoch_us(c.ts) AS click_us,
           |  v.event_id AS view_id, epoch_us(v.ts) AS view_us
           |FROM events c JOIN events v
           |  ON c.user_id = v.user_id
           | AND c.event_type = 'click' AND v.event_type = 'view'
           | AND epoch_us(v.ts) <= epoch_us(c.ts)
           | AND epoch_us(v.ts) >= epoch_us(c.ts) - 600000000""".stripMargin),
    doc = "Stream-stream interval join, batch twin: clicks x same-user views within 10 min (§2.9).")

  // ---- ST6: transformWithState typed-state profile (§2.9, Spark 4 surface) ---
  // The arbitrary-state API successor to [GroupState]: a StatefulProcessor
  // holding one typed ValueState row per user, run here in BATCH mode —
  // every key's rows arrive in one handleInputRows call from empty state, so
  // the processor IS the aggregate, and the identical object folds a stream
  // across micro-batches in EventStreamSpec (stream == batch proven there).
  // Money accumulates as 1e4-scaled longs, making the fold order-insensitive
  // — the property that lets a differential oracle exist at all.
  private val st6 = GQuery(
    "st6_stateful_profile",
    (s, dir) => {
      // transformWithState executes on the state-store machinery even in
      // batch mode and requires the RocksDB provider. Pin it on a CLONED
      // session (isolated conf, shared context) so the builder leaves the
      // caller's session untouched — a session-global conf.set here would
      // silently switch every later streaming query on the shared session to
      // RocksDB, breaking the side-effect-free-builder contract.
      val s2 = rocksDbSession(s)
      graft.streaming.EventStream.statefulProfile(t(s2, dir, "events")).toDF()
    },
    Some("""SELECT user_id, count(*) AS n_events,
           |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000
           |    AS total_value,
           |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_seen_s
           |FROM events GROUP BY user_id""".stripMargin),
    doc = "transformWithState typed ValueState profile, batch mode == streaming fold (ST6/§2.9).")

  // ---- ST7: transformWithState MapState (keyed submaps) ----------------------
  // The third face of the typed-state API (ValueState st6, timers in the
  // session processor, MapState here): per-(user, event_type) counts as
  // point-updatable map entries — at scale a user's submap is updated one
  // entry at a time in RocksDB, never reserialized whole. Batch mode makes
  // it oracle-able; the streaming fold equality lives in EventStreamSpec.
  private val st7 = GQuery(
    "st7_stateful_type_counts",
    (s, dir) => {
      val s2 = rocksDbSession(s)
      graft.streaming.EventStream.typeCounts(t(s2, dir, "events")).toDF()
    },
    Some("""SELECT user_id, event_type, count(*) AS n
           |FROM events GROUP BY user_id, event_type""".stripMargin),
    doc = "transformWithState MapState type counts, batch mode == GROUP BY (ST7/§2.9).")

  // ---- ST8: streaming CDC-apply sink through the storage MERGE ---------------
  // The ACTUAL streaming machinery runs inside the builder (not a batch
  // twin): the events corpus is chunked into four time-ordered drop files, a
  // file-source stream replays them one micro-batch each, and
  // EventStream.startCdcMergeToTable publishes one storage-level MERGE
  // snapshot per batch — newest change per user wins within a batch,
  // matched users replaced, new users inserted, 'error' tombstones deleted.
  // The query then reads TWO faces hash-gated against from-scratch SQL
  // recomputes: the final table (latest non-tombstone event per user over
  // the whole log) and time-travel to v1, the mid-stream snapshot (same
  // fixpoint over the first two chunks only) — proving each CDC batch is
  // one atomic, reconstructable commit. Selection only (no arithmetic), so
  // every value compares bit-exactly. At 100 TB each batch costs the batch
  // plus a broadcast key semi-join; compaction is a separate scheduled op.
  private val st8 = GQuery(
    "st8_cdc_merge_sink",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = Tables.scratchOnce(dir, "vht_cdc_sink",
          done = VHT.completedThrough(_, 3L)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        Seq(path, s"$path-in", s"$path-ckpt").foreach(p =>
          fs.delete(new org.apache.hadoop.fs.Path(p), true): Unit)
        val ev = t(s, dir, "events")
        val ranges = Seq(
          col("ts") < "2024-01-08",
          col("ts") >= "2024-01-08" && col("ts") < "2024-01-15",
          col("ts") >= "2024-01-15" && col("ts") < "2024-01-22",
          col("ts") >= "2024-01-22")
        // time-ordered chunk files, FLAT under the drop dir (the file source
        // does not descend into non-partition subdirectories): stage each
        // chunk's single part file, then move it up under a k-ordered name —
        // modification time AND path order both follow k, so the source
        // replays the chunks deterministically
        val stage = s"$path-in-stage"
        ranges.zipWithIndex.foreach { case (r, k) =>
          ev.filter(r).coalesce(1).write.mode("overwrite").parquet(stage)
          val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
            .map(_.getPath).filter(_.getName.startsWith("part-"))
          require(part.length == 1, s"st8 chunk $k: expected one part file, got ${part.length}")
          fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path-in")): Unit
          require(fs.rename(part.head,
            new org.apache.hadoop.fs.Path(f"$path-in/chunk-$k%02d.parquet")),
            s"st8 chunk $k: rename into the drop dir failed")
        }
        fs.delete(new org.apache.hadoop.fs.Path(stage), true): Unit
        graft.streaming.EventStream.startCdcMergeToTable(
          graft.streaming.EventStream.fromFileSourceChunked(s, s"$path-in"),
          path, s"$path-ckpt").awaitTermination()
      }
      def face(df: DataFrame, tag: String) = df
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), unix_timestamp(col("ts")).as("ts_sec"))
        .withColumn("face", lit(tag))
      face(VHT.read(s, vhtDir), "final")
        .unionByName(face(VHT.read(s, vhtDir, Some(1L)), "mid"))
    },
    Some("""WITH ranked AS (
           |  SELECT user_id, event_id, event_type, value,
           |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events),
           |mid_ranked AS (
           |  SELECT user_id, event_id, event_type, value,
           |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY ts DESC, event_id DESC) AS rn
           |  FROM events WHERE ts < '2024-01-15')
           |SELECT 'final' AS face, user_id, event_id, event_type, value, ts_sec
           |FROM ranked WHERE rn = 1 AND event_type <> 'error'
           |UNION ALL
           |SELECT 'mid' AS face, user_id, event_id, event_type, value, ts_sec
           |FROM mid_ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin),
    doc = "Streaming CDC-apply sink: four replayed micro-batches publish one storage MERGE snapshot each; final + mid-stream time travel hash-checked against from-scratch fixpoints (ST8/§2.9).")

  // ---- ST9: streaming CDC SOURCE — readStream the changelog ------------------
  // The other direction from st8 (which proves the changelog as a sink
  // TARGET): a consumer `readStream`s the versioned table's changelog
  // (graft.streaming.ChangelogStream — offsets are snapshot versions, each
  // micro-batch the era-aware `changes()` of the steps published since the
  // last batch), so incremental maintenance stops polling. The builder runs
  // the REAL streaming machinery over the s24/i11 DML history (append,
  // merge-on-read delete, compaction, copy-on-write update, rollback) with
  // maxVersionsPerTrigger=1 — five bounded micro-batches, the no-op
  // compaction step contributing zero rows — and lands every batch in a
  // feed directory. The query folds a v0 materialization forward by the
  // STREAMED feed's signed deltas (decimal-exact, the i11 discipline); the
  // oracle recomputes the final state from scratch, so the hash gate proves
  // stream-fold == rebuild end to end. Restart-from-checkpoint, retention
  // race and backpressure legs live in ChangelogStreamSpec. At 100 TB each
  // trigger costs the changed rows of ONE commit — never the table.
  private val st9 = GQuery(
    "st9_changelog_stream_fold",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = graft.queries.RelationalOps.vhtCdcEvents(s, dir)
      val feedRoot = Tables.scratchOnce(dir, "st9_changelog_feed",
          done = p => scala.util.Try {
            val fs = new org.apache.hadoop.fs.Path(p)
              .getFileSystem(s.sessionState.newHadoopConf())
            fs.exists(new org.apache.hadoop.fs.Path(p, "_FEED_DONE"))
          }.getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val q = graft.streaming.ChangelogStream.changelog(s, vhtDir,
            startingVersion = Some(0L), maxVersionsPerTrigger = Some(1))
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$path/ckpt")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(s"$path/feed")
          }
          .start()
        q.awaitTermination()
        fs.create(new org.apache.hadoop.fs.Path(path, "_FEED_DONE"), true).close()
      }
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")
      val base = VHT.read(s, vhtDir, Some(0L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n0"), sum(dec(col("value"))).as("t0"))
      val delta = s.read.parquet(s"$feedRoot/feed")
        .withColumn("sign",
          when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .groupBy(col("user_id"))
        .agg(sum(col("sign")).as("dn"), sum(dec(col("value")) * col("sign")).as("dv"))
      base.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("t0"), lit(0).cast("decimal(18,4)")) +
            coalesce(col("dv"), lit(0).cast("decimal(18,4)"))).cast("double").as("total"))
        .filter(col("n") > 0)
    },
    Some("""SELECT user_id, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM events WHERE user_id >= 10 GROUP BY user_id""".stripMargin),
    doc = "Streaming CDC source: readStream over the versioned table's changelog (one bounded micro-batch per commit), the streamed feed folded over a v0 materialization reproduces the final state — hash-proven against a from-scratch rebuild (ST9/§2.9).")

  // ---- ST10: catalog-addressed streaming — readStream.table ------------------
  // st9's machinery behind the catalog name: `spark.readStream.table(
  // "graft.db.t")` resolves to the changelog source through the analysis-
  // time splice (GraftCatalogRewrite) — a streaming read of a graft table
  // IS its CDC feed, reader options (startingVersion, maxVersionsPerTrigger)
  // riding through. The builder drains the SAME s24/i11 DML history through
  // the CATALOG spelling into its own feed; the query folds v0 forward by
  // it. The oracle is st9's from-scratch rebuild, so catalog-stream fold ==
  // format-stream fold == rebuild, all three hash-equal. Restart and
  // feed-identity legs live in CatalogStreamSpec.
  private val st10 = GQuery(
    "st10_catalog_stream_fold",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = graft.queries.RelationalOps.vhtCdcEvents(s, dir)
      val feedRoot = Tables.scratchOnce(dir, "st10_catalog_feed",
          done = p => scala.util.Try {
            val fs = new org.apache.hadoop.fs.Path(p)
              .getFileSystem(s.sessionState.newHadoopConf())
            fs.exists(new org.apache.hadoop.fs.Path(p, "_FEED_DONE"))
          }.getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        // the catalog warehouse is the scratch root; the table identifier
        // is the artifact directory's own name
        val whRoot = vhtDir.substring(0, vhtDir.lastIndexOf('/'))
        val ident = vhtDir.substring(vhtDir.lastIndexOf('/') + 1)
        val cat = graft.sources.GraftCatalog.register(s,
          s"graft_st10_${math.abs(whRoot.hashCode).toString}", whRoot)
        val q = s.readStream
          .option("startingVersion", 0)
          .option("maxVersionsPerTrigger", 1)
          .table(s"$cat.`$ident`")
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$path/ckpt")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(s"$path/feed")
          }
          .start()
        q.awaitTermination()
        fs.create(new org.apache.hadoop.fs.Path(path, "_FEED_DONE"), true).close()
      }
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")
      val base = VHT.read(s, vhtDir, Some(0L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n0"), sum(dec(col("value"))).as("t0"))
      val delta = s.read.parquet(s"$feedRoot/feed")
        .withColumn("sign",
          when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .groupBy(col("user_id"))
        .agg(sum(col("sign")).as("dn"), sum(dec(col("value")) * col("sign")).as("dv"))
      base.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          (coalesce(col("t0"), lit(0).cast("decimal(18,4)")) +
            coalesce(col("dv"), lit(0).cast("decimal(18,4)"))).cast("double").as("total"))
        .filter(col("n") > 0)
    },
    Some("""SELECT user_id, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM events WHERE user_id >= 10 GROUP BY user_id""".stripMargin),
    doc = "Catalog-addressed streaming: readStream.table resolves to the changelog source via the analysis-time splice; the catalog-drained feed folded over v0 reproduces the final state — hash-proven against the from-scratch rebuild (ST10/§2.9).")

  // ---- A12: typed top-k Aggregator (§2.10 UDAF surface) ---------------------
  // Per-flag top-3 line items by price through graft.functions.TopKAggregator:
  // the buffer holds k entries, partials reduce map-side, merge combines two
  // k-buffers — O(k) shuffle state per group instead of the window sort's
  // full-group shuffle. The DuckDB oracle uses the ranking-window
  // formulation, so the aggregator is cross-checked against an independent
  // algorithm, not a reimplementation of itself.
  private val a12 = GQuery(
    "a12_topk_aggregator",
    (s, dir) => {
      val topK = graft.functions.TopKAggregator.topK(3)
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("line_id"))
        .groupBy(col("l_returnflag"))
        .agg(topK(col("l_extendedprice"), col("line_id")).as("top"))
        .select(col("l_returnflag"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rk"),
          col("t._1").as("price"), col("t._2").as("line_id"))
    },
    Some("""SELECT l_returnflag, CAST(rk AS BIGINT) AS rk, price, line_id FROM (
           |  SELECT l_returnflag, l_extendedprice AS price,
           |    l_orderkey * 10 + l_linenumber AS line_id,
           |    row_number() OVER (PARTITION BY l_returnflag
           |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS rk
           |  FROM lineitem) t
           |WHERE rk <= 3""".stripMargin),
    doc = "Typed Aggregator top-k: O(k) buffer vs the window sort, cross-checked (A12/§2.10).")

  // ---- A13: ROLLUP — subtotal hierarchy in one pass -------------------------
  // The marts' summary views re-aggregate the same facts at several grains;
  // ROLLUP computes every grain in one shuffle (Expand feeds a single hash
  // aggregate) instead of N scans + a union. Rolled-up keys surface as a
  // sentinel so the oracle compare never conflates a subtotal NULL with a
  // data NULL. Decimal accumulation keeps the double sum order-insensitive.
  private val a13 = GQuery(
    "a13_rollup",
    (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("n"), col("total")),
    Some("""SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
           |  coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
           |  count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin),
    doc = "ROLLUP subtotal hierarchy: all grains in one Expand+aggregate pass (A13).")

  // ---- A15: GROUPING SETS + grouping_id -------------------------------------
  // The general form a13's ROLLUP is a special case of: an explicit grain
  // list including the two single-column marginals ROLLUP cannot express
  // together. Still ONE Expand feeding one hash aggregate — N grains never
  // cost N scans. grouping() disambiguates a rolled-up NULL from a data
  // NULL structurally (a13 used a string sentinel; this is the principled
  // spelling). SQL-authored: the grouping-sets surface is part of the SQL
  // dialect a migrating user brings along.
  private val a15 = GQuery(
    "a15_grouping_sets",
    (s, dir) => Tables.sqlOn(s, "orders" -> t(s, dir, "orders")) { v =>
      s"""SELECT o_orderstatus, o_orderpriority,
         |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
         |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
         |  count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM ${v("orders")}
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
         |                        (o_orderstatus), (o_orderpriority), ())""".stripMargin
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
           |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
           |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
           |  count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
           |                        (o_orderstatus), (o_orderpriority), ())""".stripMargin),
    doc = "GROUPING SETS with grouping() flags: explicit grain list, one Expand pass (A15).")

  // ---- W5: window frames — lag/lead + bounded moving aggregate --------------
  // Per-customer order history: previous/next order price and a 3-order
  // moving average / running total. Frames are ROWS-bounded with a
  // deterministic (date, key) order, so state per partition is O(frame), and
  // the running total accumulates in DECIMAL so the compare is order-proof.
  // ---- W8: positional window values (first/nth/last + IGNORE NULLS) ----------
  // The remaining positional-value face: first_value and nth_value under a
  // running frame, and last_value IGNORE NULLS — the LOCF primitive t8/t9
  // lean on, here pinned directly through the oracle on a null-bearing
  // column (nullif-derived). Frames are explicit on both engines because
  // the DEFAULT frame for value functions differs subtly across dialects;
  // spelling it is the portability contract.
  private val w8 = GQuery(
    "w8_positional_window_values",
    (s, dir) => {
      val base = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        first(col("o_totalprice")).over(run).as("first_price"),
        nth_value(col("o_totalprice"), 3).over(run).as("third_price"),
        last(nullif(col("o_orderstatus"), lit("P")), ignoreNulls = true)
          .over(run).as("last_settled_status"))
    },
    Some("""SELECT o_orderkey, o_custkey,
           |  first_value(o_totalprice) OVER w AS first_price,
           |  nth_value(o_totalprice, 3) OVER w AS third_price,
           |  last_value(nullif(o_orderstatus, 'P') IGNORE NULLS) OVER w
           |    AS last_settled_status
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    doc = "first_value / nth_value / last_value IGNORE NULLS under explicit frames (W8).")

  private val w5 = GQuery(
    "w5_window_frames",
    (s, dir) => {
      val ord = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val mov = ord.rowsBetween(-2, 0)
      val run = ord.rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(ord).as("prev_price"),
        lead(col("o_totalprice"), 1).over(ord).as("next_price"),
        round(avg(col("o_totalprice")).over(mov), 4).as("mov_avg3"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(run)
          .cast("double").as("run_total"))
    },
    Some("""SELECT o_orderkey, o_custkey,
           |  lag(o_totalprice, 1) OVER w AS prev_price,
           |  lead(o_totalprice, 1) OVER w AS next_price,
           |  round(avg(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
           |       OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),
    doc = "lag/lead + ROWS-framed moving avg and decimal running total (W5).")

  // ---- F4: date/time function battery ---------------------------------------
  // The snapshot filters (S4/S5) only exercise to_date; this pins the wider
  // calendar surface — component extraction, truncation, day arithmetic —
  // against the oracle's independent implementations. All pure per-row
  // projections: trivially parallel, no shuffle, codegen'd.
  // weekday()+1 matches DuckDB's isodow (Monday=1); dayofweek() would not
  // (Spark counts Sunday=1).
  private val f4 = GQuery(
    "f4_datetime_functions",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("d", to_date(col("o_orderdate")))
        .select(
          col("o_orderkey"),
          col("d"),
          year(col("d")).as("yr"),
          quarter(col("d")).as("qtr"),
          month(col("d")).as("mo"),
          dayofmonth(col("d")).as("dom"),
          (weekday(col("d")) + 1).cast("int").as("isodow"),
          to_date(date_trunc("month", col("d"))).as("month_start"),
          last_day(col("d")).as("month_end"),
          datediff(col("d"), lit("1995-01-01").cast("date")).as("days_since_95"),
          date_add(col("d"), 30).as("due_date")),
    Some("""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
           |  year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
           |  month(o_orderdate) AS mo, day(o_orderdate) AS dom,
           |  isodow(o_orderdate) AS isodow,
           |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
           |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95,
           |  CAST(o_orderdate AS DATE) + 30 AS due_date
           |FROM orders""".stripMargin),
    doc = "Calendar battery: extract/trunc/last_day/diff/add vs independent oracle impls (F4/§2.8).")

  // ---- F5: JSON extraction battery ------------------------------------------
  // The events feed carries a semi-structured `props` JSON column — the
  // lakehouse shape the reference's all-strings CSV posture turns into at
  // scale. Engine side extracts with `from_json` (typed, vectorized, the
  // Spark-first path) and filters ONLY nulls; the oracle mirrors with
  // `WHERE k IS NOT NULL`, so both sides drop exactly the missing/malformed
  // rows and a real extractor divergence shows up as a value mismatch, not a
  // masked row-count delta. from_json-vs-json_tuple agreement is a separate
  // hard ScalaTest check (ExtendedOpsSpec), not a row-dropping filter here.
  // Extraction is per-row and codegen'd — no shuffle beyond the final agg.
  private val f5 = GQuery(
    "f5_json_extraction",
    (s, dir) => {
      val parsed = t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .filter(col("k").isNotNull)
      parsed.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("k_min"),
          max(col("k")).as("k_max"), sum(col("k")).as("k_sum"))
    },
    Some("""SELECT event_type, count(*) AS n, min(k) AS k_min, max(k) AS k_max,
           |  CAST(sum(k) AS BIGINT) AS k_sum
           |FROM (SELECT event_type,
           |        TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k
           |      FROM events) j
           |WHERE k IS NOT NULL
           |GROUP BY event_type""".stripMargin),
    doc = "Semi-structured JSON column: typed from_json + json_tuple cross-checked (F5/§2.8).")

  // ---- A14: several COUNT(DISTINCT) in one aggregate -----------------------
  // Spark plans multi-distinct through Expand (one row replica per distinct
  // set) feeding a single two-level aggregate — one shuffle for all three
  // distincts instead of three self-aggregating scans. The same Expand
  // machinery as a13's ROLLUP, pointed at dedup instead of subtotals.
  private val a14 = GQuery(
    "a14_multi_count_distinct",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows")),
    Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
           |  count(DISTINCT l_suppkey) AS n_supps,
           |  count(DISTINCT l_orderkey) AS n_orders, count(*) AS n_rows
           |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    doc = "Three COUNT(DISTINCT) + COUNT(*) in one Expand-planned aggregate (A14).")

  // ---- W6: distribution window functions -----------------------------------
  // percent_rank / cume_dist / ntile complete the ranking-window surface
  // (w1/w2 cover row_number/rank). All partitioned by a key — bounded state;
  // percent_rank and cume_dist are exact rationals of counts, so rounding to
  // 6 is engine-stable.
  private val w6 = GQuery(
    "w6_distribution_windows",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        ntile(10).over(w).as("decile"))
    },
    Some("""SELECT c_custkey, c_mktsegment,
           |  round(percent_rank() OVER w, 6) AS pct_rank,
           |  round(cume_dist() OVER w, 6) AS cume,
           |  CAST(ntile(10) OVER w AS INT) AS decile
           |FROM customer
           |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)""".stripMargin),
    doc = "percent_rank / cume_dist / ntile over partitioned windows (W6).")

  // ---- U5: INTERSECT / EXCEPT ----------------------------------------------
  // The remaining ANSI set operators beyond the U1-U4 union family. Spark
  // plans both as hash semi/anti joins over distinct rows — same machinery
  // as j7, reached through the set-operator surface.
  private val u5 = GQuery(
    "u5_intersect_except",
    (s, dir) => {
      val urgentCust = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val highCust = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("custkey"))
      val both = urgentCust.intersect(highCust)
        .select(lit("urgent_and_high").as("bucket"), col("custkey"))
      val onlyUrgent = urgentCust.except(highCust)
        .select(lit("urgent_only").as("bucket"), col("custkey"))
      both.unionByName(onlyUrgent)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    },
    Some("""WITH u AS (SELECT o_custkey AS custkey FROM orders
           |          WHERE o_orderpriority = '1-URGENT'),
           |h AS (SELECT o_custkey AS custkey FROM orders
           |      WHERE o_totalprice > 300000),
           |b AS (SELECT 'urgent_and_high' AS bucket, custkey
           |      FROM (SELECT custkey FROM u INTERSECT SELECT custkey FROM h) x),
           |o AS (SELECT 'urgent_only' AS bucket, custkey
           |      FROM (SELECT custkey FROM u EXCEPT SELECT custkey FROM h) y)
           |SELECT bucket, count(*) AS n FROM (
           |  SELECT * FROM b UNION ALL SELECT * FROM o) z
           |GROUP BY bucket""".stripMargin),
    doc = "INTERSECT / EXCEPT planned as hash semi/anti joins over distinct rows (U5/§2.7).")

  // ---- U6: UNION DISTINCT ---------------------------------------------------
  // Completes the set-operation family (u1 ALL, u5 INTERSECT/EXCEPT): the
  // deduplicating union plans as union + one hash-distinct aggregate — one
  // shuffle on the full row, which is why UNION ALL + explicit grouping is
  // usually preferred at scale and the planner must NOT be given DISTINCT
  // semantics it doesn't need.
  private val u6 = GQuery(
    "u6_union_distinct",
    (s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val high = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("custkey"))
      urgent.union(high).distinct()
        .agg(count(lit(1)).as("n_distinct_cust"),
          sum(col("custkey")).as("key_sum"))
    },
    Some("""SELECT count(*) AS n_distinct_cust, CAST(sum(custkey) AS BIGINT) AS key_sum
           |FROM (SELECT o_custkey AS custkey FROM orders
           |      WHERE o_orderpriority = '1-URGENT'
           |      UNION
           |      SELECT o_custkey FROM orders WHERE o_totalprice > 300000) u""".stripMargin),
    doc = "UNION DISTINCT: union + one hash-distinct aggregate (U6/§2.7).")

  // ---- O4: keyset + offset pagination ---------------------------------------
  // The serving pagination shapes: OFFSET/FETCH (page 3 of the ranked
  // customers) next to the keyset form (WHERE key > last_seen LIMIT n) that
  // a 100 TB serving layer should actually use — OFFSET must still sort and
  // skip all preceding rows on every page, keyset seeks straight to the
  // boundary and the predicate pushes into the scan.
  // ---- O5: explicit null-ordering (cross-engine trap pinned) -----------------
  // Spark's default ASC places nulls FIRST; DuckDB's places them LAST — an
  // ordering-dependent query silently returns different pages on the two
  // engines unless the null position is spelled. Both branches here state
  // it explicitly (asc_nulls_first / desc_nulls_last), each a TakeOrdered
  // page (never a global sort), union-tagged so one result pins both
  // variants. The null-bearing column is derived with nullif so the pin
  // exercises real nulls against the corpus.
  private val o5 = GQuery(
    "o5_null_ordering",
    (s, dir) => {
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("5-LOW")).as("p"))
      val a = src.orderBy(col("p").asc_nulls_first, col("o_orderkey")).limit(25)
        .select(lit("asc_nulls_first").as("variant"), col("o_orderkey"), col("p"))
      val b = src.orderBy(col("p").desc_nulls_last, col("o_orderkey")).limit(25)
        .select(lit("desc_nulls_last").as("variant"), col("o_orderkey"), col("p"))
      a.unionByName(b)
    },
    Some("""SELECT 'asc_nulls_first' AS variant, o_orderkey, p FROM (
           |  SELECT o_orderkey, nullif(o_orderpriority, '5-LOW') AS p FROM orders
           |  ORDER BY p ASC NULLS FIRST, o_orderkey LIMIT 25) a
           |UNION ALL
           |SELECT 'desc_nulls_last', o_orderkey, p FROM (
           |  SELECT o_orderkey, nullif(o_orderpriority, '5-LOW') AS p FROM orders
           |  ORDER BY p DESC NULLS LAST, o_orderkey LIMIT 25) b""".stripMargin),
    doc = "Explicit null ordering: asc-nulls-first / desc-nulls-last pages pinned across engines (O5).")

  private val o4 = GQuery(
    "o4_pagination",
    (s, dir) => {
      val ranked = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val page3 = ranked.offset(40).limit(20)
        .select(lit("offset").as("method"), col("c_custkey"), col("c_acctbal"))
      val keyset = t(s, dir, "customer")
        .filter(col("c_custkey") > 1000)
        .orderBy(col("c_custkey"))
        .limit(20)
        .select(lit("keyset").as("method"), col("c_custkey"), col("c_acctbal"))
      page3.unionByName(keyset)
    },
    Some("""SELECT 'offset' AS method, c_custkey, c_acctbal FROM (
           |  SELECT c_custkey, c_acctbal FROM customer
           |  ORDER BY c_acctbal DESC, c_custkey LIMIT 20 OFFSET 40) a
           |UNION ALL
           |SELECT 'keyset', c_custkey, c_acctbal FROM (
           |  SELECT c_custkey, c_acctbal FROM customer
           |  WHERE c_custkey > 1000 ORDER BY c_custkey LIMIT 20) b""".stripMargin),
    doc = "OFFSET/FETCH page next to the keyset-seek page a scale serving layer uses (O4/§2.6).")

  // ---- W7: RANGE-framed windows (value-range frames) ------------------------
  // The frame family w5's ROWS frames don't cover: RANGE frames bound by the
  // ORDER-BY VALUE (here epoch micros), the "sliding one-hour window per
  // event" shape. Two direction variants: a trailing 1-hour frame and a
  // forward 15-minute frame. RANGE frames are tie-safe by construction
  // (peers with equal order value share a frame, so tie order can't change
  // the result); counts are exact ints and the sum accumulates in DECIMAL —
  // order-proof compare. Partitioned by user_id: bounded state per key.
  private val w7 = GQuery(
    "w7_range_frames",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("value"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      val hourBack = w.rangeBetween(-3600000000L, 0L)
      val qtrFwd = w.rangeBetween(0L, 900000000L)
      ev.select(
        col("event_id"), col("user_id"), col("us"),
        count(lit(1)).over(hourBack).as("n_trailing_1h"),
        sum(col("value").cast("decimal(18,4)")).over(hourBack)
          .cast("double").as("sum_trailing_1h"),
        count(lit(1)).over(qtrFwd).as("n_forward_15m"))
    },
    Some("""SELECT event_id, user_id, epoch_us(ts) AS us,
           |  count(*) OVER (w RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
           |    AS n_trailing_1h,
           |  CAST(sum(CAST(value AS DECIMAL(18,4)))
           |       OVER (w RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
           |       AS DOUBLE) AS sum_trailing_1h,
           |  count(*) OVER (w RANGE BETWEEN CURRENT ROW AND 900000000 FOLLOWING)
           |    AS n_forward_15m
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))""".stripMargin),
    doc = "RANGE-framed windows: trailing 1 h + forward 15 min value frames, tie-safe (W7/§2.5).")

  // ---- F10: bitwise + integer-math battery ----------------------------------
  // The remaining exact-scalar surface: bitwise and/or/xor/shifts/popcount
  // and the signed-integer helpers (abs, sign, C-style % vs non-negative
  // pmod). All integer-exact — no float surface at all — and per-row
  // codegen'd projections. DuckDB lacks pmod, so the oracle spells the
  // ((a % b) + b) % b identity the function abbreviates; sign/bit_count
  // return widths differ per engine, pinned by explicit casts on both sides.
  // ---- F11: regular-expression battery (§2.8, Java/RE2 common subset) -------
  // The regex faces corpus filtering leans on (extract / extract-all /
  // boolean match / strip-and-count), pinned in the dialect subset where
  // Java's engine (Spark) and RE2 (DuckDB) agree: character classes,
  // word boundaries, anchors, bounded repetition — no backrefs, no
  // lookaround (RE2 has neither). All map-side codegen'd expressions; the
  // extract-all list is sliced to 5 then serialized (the f7 convention).
  private val f11 = GQuery(
    "f11_regexp_battery",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_extract(col("text"), "\\b(s[a-z]+)", 1).as("first_s_word"),
        (length(col("text")) -
          length(regexp_replace(col("text"), "[aeiou]", ""))).as("n_vowels"),
        col("text").rlike("table [a-z]+ [a-z]+ scan").cast("int").as("has_shape"),
        array_join(slice(expr("regexp_extract_all(text, '\\\\b[a-z]*e\\\\b', 0)"),
          1, 5), "|").as("e_words5"),
        regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
        // \z, not $: Java's $ also matches before a trailing newline,
        // DuckDB/RE2's $ only at end of text — \z pins the common meaning
        regexp_extract(col("text"), "([a-z]+)\\z", 1).as("last_word")),
    Some("""SELECT doc_id,
           |  regexp_extract(text, '\b(s[a-z]+)', 1) AS first_s_word,
           |  len(text) - len(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowels,
           |  CAST(regexp_matches(text, 'table [a-z]+ [a-z]+ scan') AS INT) AS has_shape,
           |  coalesce(array_to_string(regexp_extract_all(text, '\b[a-z]*e\b')[1:5], '|'), '')
           |    AS e_words5,
           |  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
           |  regexp_extract(text, '([a-z]+)$', 1) AS last_word
           |FROM documents""".stripMargin),
    doc = "Regex battery: extract/extract-all/match/strip in the Java-RE2 common subset (F11/§2.8).")

  // ---- F13: hash / codec battery (§2.8) --------------------------------------
  // The digest-and-encoding plumbing every fingerprinting operator leans
  // on (d1/d8/d13/d18/d31/d36/m6 all hash), pinned directly: md5,
  // sha2-256, base64 round trip, hex. Cross-engine digest agreement is
  // load-bearing — a one-byte encoding difference would silently fork
  // every hash-partitioned sample and split assignment downstream.
  private val f13 = GQuery(
    "f13_hash_codec_battery",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        md5(col("source").cast("binary")).as("h_md5"),
        sha2(col("source").cast("binary"), 256).as("h_sha256"),
        base64(col("source").cast("binary")).as("b64"),
        unbase64(base64(col("source").cast("binary"))).cast("string")
          .as("b64_roundtrip"),
        lower(hex(col("source").cast("binary"))).as("hx")),
    Some("""SELECT doc_id,
           |  md5(source) AS h_md5,
           |  sha256(source) AS h_sha256,
           |  to_base64(CAST(source AS BLOB)) AS b64,
           |  CAST(from_base64(to_base64(CAST(source AS BLOB))) AS VARCHAR)
           |    AS b64_roundtrip,
           |  lower(hex(CAST(source AS BLOB))) AS hx
           |FROM documents""".stripMargin),
    doc = "Hash/codec battery: md5, sha2-256, base64 round trip, hex — digest agreement pinned (F13/§2.8).")

  private val f10 = GQuery(
    "f10_bitwise_math",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("centered", col("o_orderkey") - 30000L)
        .select(
          col("o_orderkey"),
          expr("o_orderkey & 255").as("band"),
          expr("o_orderkey | 4096").as("bor"),
          expr("o_orderkey ^ o_custkey").as("bxor"),
          expr("~o_orderkey").as("bnot"),
          shiftleft(col("o_orderkey"), 3).as("shl3"),
          shiftright(col("o_orderkey"), 2).as("shr2"),
          bit_count(col("o_orderkey")).cast("int").as("popcount"),
          abs(col("centered")).as("abs_c"),
          signum(col("centered")).cast("int").as("sign_c"),
          (col("centered") % 7L).as("rem7"),
          pmod(col("centered"), lit(7L)).as("pmod7")),
    Some("""SELECT o_orderkey,
           |  o_orderkey & 255 AS band,
           |  o_orderkey | 4096 AS bor,
           |  xor(o_orderkey, o_custkey) AS bxor,
           |  ~o_orderkey AS bnot,
           |  o_orderkey << 3 AS shl3,
           |  o_orderkey >> 2 AS shr2,
           |  CAST(bit_count(o_orderkey) AS INT) AS popcount,
           |  abs(o_orderkey - 30000) AS abs_c,
           |  CAST(sign(o_orderkey - 30000) AS INT) AS sign_c,
           |  (o_orderkey - 30000) % 7 AS rem7,
           |  (((o_orderkey - 30000) % 7) + 7) % 7 AS pmod7
           |FROM orders""".stripMargin),
    doc = "Bitwise and/or/xor/not/shift/popcount + abs/sign/%/pmod, integer-exact (F10/§2.8).")

  // ---- F14: higher-order lambda battery (§2.8) -------------------------------
  // transform / filter / aggregate / zip_with / exists / forall — the lambda
  // surface every vector and text kernel composes from (VectorOps' cosine is
  // a fused form of exactly these), pinned directly against DuckDB's
  // list_transform / list_filter / list_aggregate lambdas. All per-row,
  // codegen'd, shuffle-free; the fold is an ascending-index sequential sum so
  // both engines accumulate in one order. Array outputs are '|'-serialized
  // (the f7 harness convention).
  private val f14 = GQuery(
    "f14_higher_order_lambdas",
    (s, dir) => {
      val w = split(col("text"), " ")
      t(s, dir, "documents").select(
        col("doc_id"),
        aggregate(w, lit(0L), (acc, x) => acc + length(x)).as("total_chars"),
        size(filter(w, x => length(x) > 3)).as("n_long"),
        array_join(transform(w, x => length(x).cast("string")), "|").as("len_sig"),
        array_join(zip_with(w, reverse(w), (a, b) => concat(a, lit("~"), b)), "|")
          .as("pair_sig"),
        exists(w, x => length(x) > 8).as("has_long"),
        forall(w, x => length(x) < 20).as("all_short"))
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
           |SELECT doc_id,
           |  CAST(list_aggregate(list_transform(w, x -> len(x)), 'sum') AS BIGINT)
           |    AS total_chars,
           |  CAST(len(list_filter(w, x -> len(x) > 3)) AS INT) AS n_long,
           |  coalesce(array_to_string(list_transform(w, x -> CAST(len(x) AS VARCHAR)),
           |    '|'), '') AS len_sig,
           |  coalesce(array_to_string(list_transform(range(1, len(w) + 1),
           |    i -> w[i] || '~' || w[len(w) + 1 - i]), '|'), '') AS pair_sig,
           |  len(list_filter(w, x -> len(x) > 8)) > 0 AS has_long,
           |  len(list_filter(w, x -> NOT (len(x) < 20))) = 0 AS all_short
           |FROM d""".stripMargin),
    doc = "Higher-order lambdas: transform/filter/aggregate/zip_with/exists/forall (F14/§2.8).")

  // ---- F16: generator battery (explode / posexplode_outer / sequence) --------
  // The lateral row-generating surface (§2.10's UDTF face): posexplode over a
  // bounded prefix, posexplode_outer over a possibly-EMPTY filtered array
  // (the outer variant must still emit one null row — the semantics that
  // silently drops documents when gotten wrong), and sequence() fan-out whose
  // cardinality is a per-row expression. Generators multiply rows by a
  // bounded factor (<= 5 / <= corpus long-word count / <= 3) — never by data
  // size, which is the scale contract for explode at 100 TB.
  private val f16 = GQuery(
    "f16_generator_battery",
    (s, dir) => {
      val d = t(s, dir, "documents").withColumn("w", split(col("text"), " "))
      val head = d.select(col("doc_id"), lit("head").as("kind"),
        posexplode(slice(col("w"), 1, 5)))
        .toDF("doc_id", "kind", "pos", "word")
      val longw = d
        .withColumn("l", filter(col("w"), x => length(x) >= 15))
        .select(col("doc_id"), lit("rare").as("kind"),
          posexplode_outer(col("l")))
        .toDF("doc_id", "kind", "pos", "word")
      val seq = d.select(col("doc_id"), lit("seq").as("kind"),
        posexplode(sequence(lit(1L), pmod(col("doc_id"), lit(3L)) + 1L)))
        .toDF("doc_id", "kind", "pos", "word")
        .withColumn("word", col("word").cast("string"))
      head.unionAll(longw).unionAll(seq)
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |hd AS (
           |  SELECT doc_id, 'head' AS kind, CAST(i - 1 AS INT) AS pos, w[i] AS word
           |  FROM (SELECT doc_id, w,
           |          unnest(range(1, least(len(w), 5) + 1)) AS i FROM d) x),
           |lw AS (SELECT doc_id, list_filter(w, x -> len(x) >= 15) AS l FROM d),
           |rare AS (
           |  SELECT doc_id, 'rare' AS kind,
           |    CASE WHEN len(l) = 0 THEN NULL ELSE CAST(i - 1 AS INT) END AS pos,
           |    CASE WHEN len(l) = 0 THEN NULL ELSE l[i] END AS word
           |  FROM (SELECT doc_id, l,
           |          unnest(CASE WHEN len(l) = 0 THEN [1]
           |                 ELSE range(1, len(l) + 1) END) AS i FROM lw) y),
           |sq AS (
           |  SELECT doc_id, 'seq' AS kind, CAST(i - 1 AS INT) AS pos,
           |    CAST(i AS VARCHAR) AS word
           |  FROM (SELECT doc_id,
           |          unnest(range(1, (doc_id % 3) + 2)) AS i FROM d) z)
           |SELECT * FROM hd UNION ALL SELECT * FROM rare UNION ALL SELECT * FROM sq""".stripMargin),
    doc = "Generators: posexplode prefix, posexplode_outer empty-array null row, sequence fan-out (F16/§2.10).")

  // ---- U8: union resolved by NAME, not position ------------------------------
  // unionByName is the schema-evolution-safe union: branches whose column
  // ORDER differs align correctly (a positional union would silently pair
  // key with price — u1's footgun), and allowMissingColumns null-pads a
  // branch missing a column entirely (the late-added-field case). The
  // oracle states the aligned union explicitly, so the pin is that name
  // resolution produced exactly the explicit alignment.
  private val u8 = GQuery(
    "u8_union_by_name",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"),
          col("o_totalprice").as("price"))
      val b = o.filter(col("o_orderstatus") === "O")
        .select(col("o_totalprice").as("price"), col("o_orderkey").as("k"),
          col("o_orderpriority").as("pri"))
      val c = o.filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pri"))
      a.unionByName(b).unionByName(c, allowMissingColumns = true)
    },
    Some("""SELECT o_orderkey AS k, o_orderpriority AS pri, o_totalprice AS price
           |FROM orders WHERE o_orderstatus = 'F'
           |UNION ALL
           |SELECT o_orderkey, o_orderpriority, o_totalprice
           |FROM orders WHERE o_orderstatus = 'O'
           |UNION ALL
           |SELECT o_orderkey, o_orderpriority, CAST(NULL AS DOUBLE)
           |FROM orders WHERE o_orderstatus = 'P'""".stripMargin),
    doc = "unionByName: order-shuffled branches align by name, missing columns null-pad (U8/§2.7).")

  // ---- W9: running DISTINCT aggregation over a window ------------------------
  // Distinct-within-window has no direct Spark aggregate; the idiomatic
  // form is collect_set().over(running frame) + size/array_join — per-row
  // state bounded by the DISTINCT cardinality of the column (event types
  // here), NOT the frame length, so a year-long user history costs the
  // same state as a day. DuckDB states the same thing natively
  // (count(DISTINCT) OVER, list() OVER), pinning the running set content
  // row-for-row via the sorted signature.
  private val w9 = GQuery(
    "w9_windowed_distinct",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // one collect_set evaluation: WindowExec keeps a separate running
      // buffer per window function, so deriving both outputs from one set
      // halves the per-partition state and per-row set updates
      t(s, dir, "events")
        .withColumn("_seen", collect_set(col("event_type")).over(w))
        .select(col("event_id"), col("user_id"),
          size(col("_seen")).as("n_types_seen"),
          array_join(array_sort(col("_seen")), "|").as("types_sig"))
    },
    Some("""SELECT event_id, user_id,
           |  CAST(count(DISTINCT event_type) OVER w AS INT) AS n_types_seen,
           |  array_to_string(list_sort(list_distinct(list(event_type) OVER w)), '|')
           |    AS types_sig
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           |             ROWS UNBOUNDED PRECEDING)""".stripMargin),
    doc = "Running windowed DISTINCT: collect_set state bounded by cardinality, not frame length (W9/§2.5).")

  // ---- W10: exact percentile over a moving frame -----------------------------
  // The rolling-median / rolling-quantile monitor (drift detection over a
  // trailing window): EXACT interpolated percentile as a WINDOW aggregate
  // under a ROWS frame — per-row state is the 4-row frame, never the
  // partition. round(4) is lossless here: inputs have 2 decimals, so every
  // interpolated value has <= 4 exact decimal digits, and both engines
  // round the dyadic midpoints (x.625 is exactly representable) away from
  // zero — the a8 percentile discipline extended to frames.
  private val w10 = GQuery(
    "w10_windowed_percentile",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(-3, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        round(expr("percentile(o_totalprice, 0.5)").over(w), 4).as("roll_median"),
        round(expr("percentile(o_totalprice, 0.25)").over(w), 4).as("roll_p25"))
    },
    Some("""SELECT o_orderkey, o_custkey,
           |  round(quantile_cont(o_totalprice, 0.5) OVER w, 4) AS roll_median,
           |  round(quantile_cont(o_totalprice, 0.25) OVER w, 4) AS roll_p25
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
           |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin),
    doc = "Rolling exact percentiles under a ROWS frame — frame-bounded state, interpolation pinned (W10/§2.5).")

  // ---- F17: rounding / binning battery (§2.8) --------------------------------
  // The numeric-edge semantics that silently fork engines: HALF_UP vs
  // HALF_EVEN rounding (real x.x5 ties exist because the base is an exact
  // DECIMAL(18,2) — rounding raw doubles would "tie" on values that are
  // secretly 2.4499...), double->int casts (Spark TRUNCATES toward zero,
  // DuckDB's cast rounds half-even — the oracle must state trunc()
  // explicitly), scaled ceil/floor, and width_bucket (absent in DuckDB;
  // the oracle states the floor((x-lo)/width)+1 arithmetic, exact because
  // the bucket width is a power-of-ten-scaled double). HALF_EVEN is also
  // stated arithmetically — DuckDB v1.0's round_even macro goes through
  // double and misrounds decimal ties (2518.45 -> 2518.5); with a
  // DECIMAL(18,2) base the tie is exactly "second decimal digit is 5"
  // ((p*100) % 10 = 5), a clean modulo test; non-ties round normally.
  // All per-row.
  private val f17 = GQuery(
    "f17_rounding_binning",
    (s, dir) => {
      val p = col("o_totalprice").cast("decimal(18,2)")
      t(s, dir, "orders").select(
        col("o_orderkey"),
        round(p, 1).cast("double").as("r_half_up"),
        bround(p, 1).cast("double").as("r_half_even"),
        col("o_totalprice").cast("int").as("to_int_trunc"),
        ceil(p, lit(1)).cast("double").as("ceil_1"),
        floor(p, lit(1)).cast("double").as("floor_1"),
        width_bucket(col("o_totalprice"), lit(0d), lit(600000d), lit(12L))
          .as("bucket"))
    },
    Some("""SELECT o_orderkey,
           |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 1) AS DOUBLE)
           |    AS r_half_up,
           |  CAST(CASE WHEN (CAST(o_totalprice AS DECIMAL(18,2)) * 100) % 10 = 5
           |       THEN (CASE WHEN CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 10)
           |                        AS BIGINT) % 2 = 0
           |             THEN floor(CAST(o_totalprice AS DECIMAL(18,2)) * 10)
           |             ELSE floor(CAST(o_totalprice AS DECIMAL(18,2)) * 10) + 1 END)
           |            / 10.0
           |       ELSE round(CAST(o_totalprice AS DECIMAL(18,2)), 1) END AS DOUBLE)
           |    AS r_half_even,
           |  CAST(trunc(o_totalprice) AS INT) AS to_int_trunc,
           |  CAST(ceil(CAST(o_totalprice AS DECIMAL(18,2)) * 10) / 10 AS DOUBLE)
           |    AS ceil_1,
           |  CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 10) / 10 AS DOUBLE)
           |    AS floor_1,
           |  CAST(CASE WHEN o_totalprice < 0 THEN 0
           |            WHEN o_totalprice >= 600000 THEN 13
           |            ELSE floor(o_totalprice / 50000.0) + 1 END AS BIGINT)
           |    AS bucket
           |FROM orders""".stripMargin),
    doc = "Rounding/binning: HALF_UP vs HALF_EVEN on real ties, truncating casts, width_bucket (F17/§2.8).")

  // ---- F18: Unicode normalization (custom codegen kernels, §2.8/§7.3) --------
  // Composed "é" (U+00E9) and decomposed "e"+U+0301 spell the same text but
  // hash differently — a dedup pipeline that skips canonicalization ships the
  // same document twice. Spark has no normalization builtin, so this drives
  // the native `graft_nfc` / `graft_strip_accents` expressions
  // (functions/StringNormalize.scala: JDK Normalizer behind whole-stage
  // codegen). The fixture text is ASCII, so each row PLANTS deterministic
  // accents (the m3/d32 synthetic-payload pattern); DuckDB's utf8proc-backed
  // nfc_normalize/strip_accents recompute independently. Length collapse
  // (NFC shortens the decomposed form), md5 of the normalized bytes, and the
  // accent-free ASCII projection are all pinned. Map-only, shuffle-free.
  private val f18 = GQuery(
    "f18_unicode_normalization",
    (s, dir) => {
      // first accent DECOMPOSED (e + U+0301), second COMPOSED (U+00E9);
      // explicit escapes because the two forms render identically in source
      val planted = concat(substring(col("text"), 1, 12), lit(" caf"),
        lit("e\u0301"), lit(" "), lit("\u00e9"), lit("lan de\u0301ja\u0300 vu"))
      t(s, dir, "documents")
        .withColumn("p", planted)
        .select(
          col("doc_id"),
          length(col("p")).as("n_raw"),
          length(expr("graft_nfc(p)")).as("n_nfc"),
          md5(expr("graft_nfc(p)").cast("binary")).as("nfc_md5"),
          expr("graft_strip_accents(graft_nfc(p))").as("ascii_form"),
          length(expr("graft_strip_accents(graft_nfc(p))")).as("n_ascii"))
    },
    Some("""WITH d AS (
           |  SELECT doc_id,
           |    substr(text, 1, 12) || ' caf' || 'e' || chr(769) || ' ' ||
           |    chr(233) || 'lan de' || chr(769) || 'ja' || chr(768) || ' vu' AS p
           |  FROM documents),
           |n AS (SELECT doc_id, p, nfc_normalize(p) AS pn FROM d)
           |SELECT doc_id,
           |  CAST(length(p) AS INT) AS n_raw,
           |  CAST(length(pn) AS INT) AS n_nfc,
           |  md5(pn) AS nfc_md5,
           |  strip_accents(pn) AS ascii_form,
           |  CAST(length(strip_accents(pn)) AS INT) AS n_ascii
           |FROM n""".stripMargin),
    doc = "Unicode NFC + accent-strip via native codegen kernels, utf8proc-pinned (F18/§2.8).")

  // ---- F19: VARIANT semi-structured battery (§2.8, Spark 4 surface) -----------
  // The open-lakehouse semi-structured type: parse once into VARIANT, then
  // typed path extraction — object fields, array subscripts, nested paths,
  // absent paths (null, not error), and try_variant_get's wrong-type
  // null-out. The JSON is constructed from INTEGER row data only (no
  // double-to-text formatting to drift on), so DuckDB's json_extract
  // recomputes every value exactly. Map-only, shuffle-free.
  private val f19 = GQuery(
    "f19_variant_battery",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("j", concat(lit("{\"id\":"), col("o_orderkey"),
          lit(",\"tags\":[\"p"), col("o_orderkey") % 3, lit("\",\"q\"],"),
          lit("\"nested\":{\"u\":"), col("o_custkey"), lit("}}")))
        .withColumn("v", expr("parse_json(j)"))
        .select(
          col("o_orderkey"),
          expr("variant_get(v, '$.id', 'bigint')").as("id_v"),
          expr("variant_get(v, '$.tags[0]', 'string')").as("tag0"),
          expr("variant_get(v, '$.tags[1]', 'string')").as("tag1"),
          expr("variant_get(v, '$.nested.u', 'bigint')").as("nested_u"),
          expr("variant_get(v, '$.zzz', 'bigint')").as("absent_v"),
          expr("try_variant_get(v, '$.tags', 'int')").as("wrong_type")),
    Some("""SELECT o_orderkey,
           |  CAST(json_extract(j, '$.id') AS BIGINT) AS id_v,
           |  json_extract_string(j, '$.tags[0]') AS tag0,
           |  json_extract_string(j, '$.tags[1]') AS tag1,
           |  CAST(json_extract(j, '$.nested.u') AS BIGINT) AS nested_u,
           |  CAST(NULL AS BIGINT) AS absent_v,
           |  CAST(NULL AS INT) AS wrong_type
           |FROM (SELECT o_orderkey,
           |        '{"id":' || o_orderkey || ',"tags":["p' || (o_orderkey % 3) ||
           |        '","q"],"nested":{"u":' || o_custkey || '}}' AS j
           |      FROM orders) t""".stripMargin),
    doc = "VARIANT battery: parse_json + typed variant_get paths, absent/wrong-type null-out (F19/§2.8).")

  // ---- F20: SQL pipe syntax (§2.6, Spark 4 surface) ---------------------------
  // The |> operator-chain spelling: each stage is a self-contained transform
  // in reading order. Pinned against the oracle's plain-SQL statement of the
  // same query — the syntaxes MUST plan identically (same filters pushed,
  // same partial aggregate), which the shared hash gate proves at the
  // result level.
  private val f20 = GQuery(
    "f20_pipe_syntax",
    (s, dir) =>
      graft.core.Tables.sqlOn(s, "orders" -> t(s, dir, "orders")) { v =>
        s"""FROM ${v("orders")}
           ||> WHERE o_orderdate >= DATE'1995-01-01'
           ||> AGGREGATE count(*) AS n,
           |     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |     GROUP BY o_orderpriority
           ||> WHERE n > 10
           ||> SELECT o_orderpriority, n, total""".stripMargin
      },
    Some("""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE o_orderdate >= DATE '1995-01-01'
           |GROUP BY o_orderpriority
           |HAVING count(*) > 10""".stripMargin),
    doc = "SQL pipe syntax |> chain pinned equal to the plain-SQL statement (F20/§2.6).")

  // ---- F21: case-insensitive collation (§2.8, Spark 4 surface) ----------------
  // UTF8_LCASE collation makes comparison/grouping case-insensitive at the
  // TYPE level — the engine-native spelling of the lower()-wrapping every
  // case-insensitive pipeline otherwise scatters. Mixed-case keys are
  // planted deterministically; grouping under the collation must equal
  // grouping by lower() (the oracle's only option), and the group key is
  // surfaced AS lower() text so the output is engine-neutral.
  private val f21 = GQuery(
    "f21_collation_cistring",
    (s, dir) =>
      t(s, dir, "orders")
        .withColumn("mixed",
          when(col("o_orderkey") % 2 === 0, upper(col("o_orderpriority")))
            .otherwise(lower(col("o_orderpriority"))))
        .withColumn("ci", expr("collate(mixed, 'UTF8_LCASE')"))
        .groupBy(lower(col("ci")).as("prio"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("ci")).as("n_ci_distinct"),
          countDistinct(col("mixed")).as("n_raw_distinct")),
    Some("""SELECT lower(mixed) AS prio, count(*) AS n,
           |  count(DISTINCT lower(mixed)) AS n_ci_distinct,
           |  count(DISTINCT mixed) AS n_raw_distinct
           |FROM (SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
           |                  ELSE lower(o_orderpriority) END AS mixed
           |      FROM orders) t
           |GROUP BY lower(mixed)""".stripMargin),
    doc = "UTF8_LCASE collation: case-insensitive grouping/distinct == lower() semantics (F21/§2.8).")

  // ---- U9: native UNPIVOT syntax (§2.7) ---------------------------------------
  // The SQL-native wide->long operator next to u2's hand-built union: one
  // relational UNPIVOT clause over a two-metric aggregate. The oracle states
  // the same table as the UNION ALL the operator desugars to — pinning that
  // the native form introduces no extra scan (the aggregate runs once;
  // Expand fans the rows, exactly like the u2 plan).
  private val u9 = GQuery(
    "u9_native_unpivot",
    (s, dir) =>
      graft.core.Tables.sqlOn(s, "orders" -> t(s, dir, "orders")) { v =>
        s"""SELECT o_orderpriority, metric, v FROM (
           |  SELECT o_orderpriority, count(*) AS n_orders,
           |    count(DISTINCT o_custkey) AS n_custs
           |  FROM ${v("orders")} GROUP BY o_orderpriority)
           |UNPIVOT (v FOR metric IN (n_orders, n_custs))""".stripMargin
      },
    Some("""WITH a AS (
           |  SELECT o_orderpriority, count(*) AS n_orders,
           |    count(DISTINCT o_custkey) AS n_custs
           |  FROM orders GROUP BY o_orderpriority)
           |SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS v FROM a
           |UNION ALL
           |SELECT o_orderpriority, 'n_custs', n_custs FROM a""".stripMargin),
    doc = "Native UNPIVOT clause pinned to its UNION ALL desugaring, one aggregate scan (U9/§2.7).")

  // ---- F15: map-type battery (§2.8) ------------------------------------------
  // MapType construction and access: map_from_arrays, map_keys/map_values
  // (insertion-ordered, so the '|' signatures are deterministic), element_at
  // for present AND absent keys (absent -> null, not error), map_concat of
  // disjoint maps, transform_values / map_filter lambdas, map_contains_key.
  // DuckDB states transform_values / map_filter results as plain scalar
  // expressions (its MAP surface has no value-lambda twin), so the pin is
  // against independently-stated expected values. Per-row, shuffle-free.
  private val f15 = GQuery(
    "f15_map_functions",
    (s, dir) => {
      val m = map_from_arrays(
        array(lit("key"), lit("cust")),
        array(col("o_orderkey"), col("o_custkey")))
      val m2 = map_from_arrays(array(lit("extra")),
        array(col("o_orderkey") + 1000000L))
      t(s, dir, "orders").select(
        col("o_orderkey"),
        array_join(map_keys(m), "|").as("keys_sig"),
        array_join(transform(map_values(m), v => v.cast("string")), "|")
          .as("vals_sig"),
        element_at(m, "cust").as("cust_v"),
        element_at(m, "absent").as("absent_v"),
        size(map_concat(m, m2)).as("n_entries"),
        element_at(transform_values(m, (k, v) => v * 2L), "key").as("key_doubled"),
        size(map_filter(m, (k, v) => v % 2L === 0L)).as("n_even"),
        map_contains_key(m, "extra").as("has_extra"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_custkey,
           |  map(['key', 'cust'], [o_orderkey, o_custkey]) AS m FROM orders)
           |SELECT o_orderkey,
           |  array_to_string(map_keys(m), '|') AS keys_sig,
           |  array_to_string(list_transform(map_values(m), v -> CAST(v AS VARCHAR)),
           |    '|') AS vals_sig,
           |  map_extract(m, 'cust')[1] AS cust_v,
           |  CAST(NULL AS BIGINT) AS absent_v,
           |  CAST(cardinality(map_concat(m,
           |    map(['extra'], [o_orderkey + 1000000]))) AS INT) AS n_entries,
           |  o_orderkey * 2 AS key_doubled,
           |  CAST((CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) +
           |       (CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END) AS INT) AS n_even,
           |  FALSE AS has_extra
           |FROM o""".stripMargin),
    doc = "Map battery: construct, ordered keys/values, absent-key null, concat, value lambdas (F15/§2.8).")

  // ---- F28: CSV row codec (to_csv / from_csv) ---------------------------------
  // The per-row CSV codec — the text-serialization seam for log-style
  // interchange. A struct of mixed types round-trips through to_csv ->
  // from_csv with a declared schema, and a quoted-delimiter case proves
  // escaping (a name containing the delimiter survives). The oracle states
  // the projected fields directly — the round trip must be the identity.
  private val f28 = GQuery(
    "f28_csv_codec",
    (s, dir) => {
      val enc = to_csv(struct(
        col("o_orderkey"), col("o_orderstatus"),
        concat(col("o_orderpriority"), lit(",x")).as("tricky"),
        col("o_totalprice")))
      val schema = "o_orderkey BIGINT, o_orderstatus STRING, tricky STRING, o_totalprice DOUBLE"
      t(s, dir, "orders")
        .select(col("o_orderkey").as("key"),
          from_csv(enc, org.apache.spark.sql.types.StructType.fromDDL(schema),
            Map.empty[String, String]).as("r"))
        .select(col("key"),
          col("r.o_orderstatus").as("status"),
          col("r.tricky").as("tricky"),
          col("r.o_totalprice").as("price"),
          (col("r.o_orderkey") === col("key")).as("key_match"))
    },
    Some("""SELECT o_orderkey AS key, o_orderstatus AS status,
           |  o_orderpriority || ',x' AS tricky, o_totalprice AS price,
           |  TRUE AS key_match
           |FROM orders""".stripMargin),
    doc = "CSV row codec: to_csv -> from_csv identity incl. quoted delimiters (F28/§2.8).")

  // ---- F29: struct field surgery (withField / dropFields / getField) ----------
  // Nested-schema maintenance without rebuilding the struct: withField adds
  // or replaces one leaf, dropFields removes one, getField projects — the
  // operations evolution of nested telemetry/feature columns lives on.
  // All pure projections (codegen'd UpdateFields), pinned by flattening the
  // surgered struct against the oracle's direct expressions.
  private val f29 = GQuery(
    "f29_struct_field_ops",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("st"), col("o_totalprice").as("price"),
            col("o_orderpriority").as("prio")).as("rec"))
        .withColumn("rec", col("rec")
          .withField("price_band",
            when(col("rec.price") > 200000, lit("high")).otherwise(lit("low")))
          .withField("price",
            // halving a 2-decimal price lands on .005 ties — round in exact
            // decimal so both engines cut the same way, then back to double
            round(col("rec.price").cast("decimal(18,2)")
              * lit(0.5).cast("decimal(2,1)"), 2).cast("double"))
          .dropFields("prio"))
        .select(col("o_orderkey"),
          col("rec.st").as("st"),
          col("rec.price").as("half_price"),
          col("rec.price_band").as("band"),
          size(json_object_keys(to_json(col("rec")))).cast("int").as("n_fields")),
    Some("""SELECT o_orderkey, o_orderstatus AS st,
           |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
           |             * CAST(0.5 AS DECIMAL(2,1)), 2) AS DOUBLE) AS half_price,
           |  CASE WHEN o_totalprice > 200000 THEN 'high' ELSE 'low' END AS band,
           |  3 AS n_fields
           |FROM orders""".stripMargin),
    doc = "Struct surgery: withField add+replace, dropFields, getField projection (F29/§2.8).")

  // ---- F30: interval arithmetic (ANSI year-month / day-time intervals) -------
  // Interval TYPES as first-class arithmetic: adding literal intervals,
  // make_interval construction, multiplying an interval by a per-row
  // integer, and day-time hour arithmetic on timestamps. Month addition
  // must clamp at month ends identically (both engines do); everything is
  // per-row and deterministic, surfaced as formatted strings so the gate
  // compares calendar RESULTS, not interval internals.
  private val f30 = GQuery(
    "f30_interval_arithmetic",
    (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        date_format(expr("o_orderdate + INTERVAL '2' MONTH + INTERVAL '3' DAY"),
          "yyyy-MM-dd").as("plus_2m3d"),
        date_format(expr("o_orderdate + make_interval(0, 1, 0, 15, 0, 0, 0)"),
          "yyyy-MM-dd").as("plus_1m15d"),
        date_format(expr("o_orderdate - INTERVAL '45' DAY"),
          "yyyy-MM-dd").as("minus_45d"),
        date_format(expr("o_orderdate + INTERVAL '1' DAY * (o_orderkey % 3)"),
          "yyyy-MM-dd").as("plus_key_days"),
        date_format(expr("o_orderdate + make_dt_interval(0, CAST(o_orderkey % 24 AS INT), 0, 0)"),
          "yyyy-MM-dd HH").as("plus_key_hours")),
    Some("""SELECT o_orderkey,
           |  strftime(o_orderdate + INTERVAL 2 MONTH + INTERVAL 3 DAY, '%Y-%m-%d') AS plus_2m3d,
           |  strftime(o_orderdate + INTERVAL 1 MONTH + INTERVAL 15 DAY, '%Y-%m-%d') AS plus_1m15d,
           |  strftime(o_orderdate - INTERVAL 45 DAY, '%Y-%m-%d') AS minus_45d,
           |  strftime(o_orderdate + (o_orderkey % 3) * INTERVAL 1 DAY, '%Y-%m-%d') AS plus_key_days,
           |  strftime(o_orderdate + (o_orderkey % 24) * INTERVAL 1 HOUR, '%Y-%m-%d %H') AS plus_key_hours
           |FROM orders""".stripMargin),
    doc = "Interval arithmetic: literal/constructed/scaled year-month + day-time intervals (F30/§2.8).")

  // ---- F32: format-string timestamp parsing / printing ------------------------
  // The to_timestamp(str, fmt) / date_format(ts, fmt) seam — log-file
  // ingestion lives on it. A European-format print parses back losslessly,
  // day-name / day-of-year patterns agree with the oracle's strftime, and
  // try_to_timestamp nulls malformed input instead of failing the job
  // (ANSI mode makes plain to_timestamp throw — the try_ variant is the
  // pipeline-safe spelling).
  private val f32 = GQuery(
    "f32_timestamp_format_parse",
    (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "dd/MM/yyyy").as("euro"),
        date_format(to_timestamp(date_format(col("o_orderdate"), "dd/MM/yyyy"),
          "dd/MM/yyyy"), "yyyy-MM-dd").as("round_trip"),
        expr("try_to_timestamp('not a date', 'dd/MM/yyyy')").isNull.as("malformed_null"),
        date_format(col("o_orderdate"), "EEE").as("dow_abbr"),
        date_format(col("o_orderdate"), "DDD").as("doy")),
    Some("""SELECT o_orderkey,
           |  strftime(o_orderdate, '%d/%m/%Y') AS euro,
           |  strftime(strptime(strftime(o_orderdate, '%d/%m/%Y'), '%d/%m/%Y'),
           |           '%Y-%m-%d') AS round_trip,
           |  try_strptime('not a date', '%d/%m/%Y') IS NULL AS malformed_null,
           |  strftime(o_orderdate, '%a') AS dow_abbr,
           |  strftime(o_orderdate, '%j') AS doy
           |FROM orders""".stripMargin),
    doc = "Format-string parse/print: lossless round trip, day patterns, try_to_timestamp null-out (F32/§2.8).")

  // ---- F31: array_sort with a custom comparator --------------------------------
  // The lambda-comparator sort — ordering array elements by a computed key
  // (length, then value) that the natural order can't express. The oracle
  // has no comparator sorts, so it states the CONTRACT instead: unnest,
  // ORDER BY the same keys inside an ordered string_agg — proving the
  // comparator implements exactly that keyed sort.
  private val f31 = GQuery(
    "f31_array_sort_comparator",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        array_join(expr(
          """array_sort(array_distinct(split(text, ' ')),
            |  (l, r) -> CASE WHEN length(l) < length(r) THEN -1
            |                 WHEN length(l) > length(r) THEN 1
            |                 WHEN l < r THEN -1 WHEN l > r THEN 1
            |                 ELSE 0 END)""".stripMargin), "|").as("by_len_then_val")),
    Some("""SELECT doc_id, string_agg(tok, '|' ORDER BY len(tok), tok) AS by_len_then_val
           |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
           |      FROM documents) t
           |GROUP BY doc_id""".stripMargin),
    doc = "array_sort with a (length, value) comparator lambda == keyed ordered aggregation (F31/§2.8).")

  // ---- F27: URL function battery ---------------------------------------------
  // Web-corpus curation is domain-driven (dedup by host, mix by domain,
  // robots policy by host) — parse_url is the kernel that gets there from
  // raw crawl URLs. URLs are composed from corpus fields so the oracle can
  // state each extracted part from the same fields directly; the
  // url_encode/url_decode round trip is pinned by decoding back to the
  // original text the oracle selects. All per-row codegen'd projections,
  // shuffle-free.
  private val f27 = GQuery(
    "f27_url_functions",
    (s, dir) =>
      t(s, dir, "documents")
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.com/docs/"),
            col("doc_id").cast("string"), lit("?lang="), col("lang"),
            lit("&v=1")))
        .select(col("doc_id"),
          expr("parse_url(url, 'PROTOCOL')").as("proto"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'lang')").as("q_lang"),
          expr("parse_url(url, 'QUERY', 'v')").as("q_v"),
          expr("url_decode(url_encode(substring(text, 1, 24)))").as("roundtrip")),
    Some("""SELECT doc_id,
           |  'https' AS proto,
           |  source || '.example.com' AS host,
           |  '/docs/' || doc_id AS path,
           |  lang AS q_lang,
           |  '1' AS q_v,
           |  substr(text, 1, 24) AS roundtrip
           |FROM documents""".stripMargin),
    doc = "URL battery: parse_url part extraction + encode/decode round trip (F27/§2.8).")

  // ---- F33: VARIANT semi-structured battery (Spark 4 open type) -------------
  // The modern semi-structured path: parse JSON text ONCE into Spark 4's
  // binary VARIANT encoding, then take several TYPED extractions from the
  // parsed value — at 100 TB this beats per-field get_json_object calls
  // (each re-parses the text) the way shredded storage beats string
  // columns; every extraction is a codegen'd path walk over the binary
  // form, map-only. The battery pins: top-level typed get, nested
  // object/array paths over a constructed document, the try_ null-out on
  // a missing path (ANSI variant_get would error), and a string-typed
  // cast — each against the oracle's arithmetic ground truth, so the
  // VALUES are checked engine-independently (DuckDB has no variant; it
  // derives the same numbers from the JSON source directly).
  private val f33 = GQuery(
    "f33_variant_shred",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_id") < 2000)
        .withColumn("k", expr("variant_get(parse_json(props), '$.k', 'int')"))
      ev.withColumn("v", expr("parse_json(" +
          "concat('{\"arr\": [1, ', k * 2, '], \"obj\": {\"d\": ', k * 3, '}}'))"))
        .select(col("event_id"), col("k"),
          expr("variant_get(v, '$.arr[1]', 'long')").as("arr1"),
          expr("variant_get(v, '$.obj.d', 'long')").as("obj_d"),
          expr("try_variant_get(v, '$.obj.missing', 'long')").as("missing"),
          expr("variant_get(v, '$.arr[0]', 'string')").as("one_str"))
    },
    Some("""SELECT event_id,
           |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
           |  CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS arr1,
           |  CAST(json_extract_string(props, '$.k') AS BIGINT) * 3 AS obj_d,
           |  CAST(NULL AS BIGINT) AS missing,
           |  '1' AS one_str
           |FROM events WHERE event_id < 2000""".stripMargin),
    doc = "VARIANT battery: parse once, typed nested/array extraction, try_ null-out (F33/§2.8, Spark 4 open type).")

  override val all: Seq[GQuery] =
    Seq(a1, a2, a3, a4, a5, a6, a7, a8, a9, a11, a12, a13, a14, a15, a16, a17, a18,
      w1, w2, w3, w4, w5, w6, w7, w8, w9, w10, o1, o4, o5, u1, u2, u3, u4, u5, u6, u7, u8, u9,
      f1, f2, f3, f4, f5, f6, f7, f9, f10, f11, f13, f14, f15, f16, f17, f18,
      f19, f20, f21, f27, f28, f29, f30, f31, f32, f33,
      st1, st2, st3, st4, st5, st6, st7, st8, st9, st10)
}
