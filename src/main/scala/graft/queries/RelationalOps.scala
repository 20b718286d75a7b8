package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GQuery, QueryPack, Tables}

/** Scans, projections, filters and joins — SURVEY.md §2.1–§2.3 rows, phrased
  * against the driver corpus (`FIXTURES.md` §B).
  *
  * Scale notes (100 TB posture):
  *   - latest-snapshot filters (S4/S5) are two-pass: a tiny aggregate that can
  *     be broadcast, then a pushable equality filter — no global sort;
  *   - BOUNDED dimension sides are broadcast explicitly (`broadcast(...)`)
  *     so the fact scan never shuffles for those joins; corpus-scaled sides
  *     (customer in j3/j4/q13, the q5/j7 scaling sides) are deliberately
  *     left to AQE, which broadcasts them while small and shuffles when
  *     they are not — hinting those would regress the 100 TB posture;
  *   - all ranking windows are partitioned by a key (except W4, documented in
  *     [[AggWindowOps]]) so state is bounded per partition.
  */
object RelationalOps extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- S2: star() projection (macro-expanded explicit column list) --------
  // Reference: models/source/nfbc/src_nfbc_players.sql:7 (dbt_utils.star with
  // an exclusion list — the macro expands to every column EXCEPT the named
  // ones, so the projection is explicit and prunable at the scan).
  private val s2 = GQuery(
    "s2_star_projection",
    (s, dir) => {
      val df = t(s, dir, "nation")
      df.select(df.columns.filterNot(_ == "n_regionkey").map(col).toSeq: _*)
    },
    Some("SELECT n_nationkey, n_name FROM nation"),
    doc = "star(except=[...]) projection: all columns minus exclusions (S2).")

  // ---- S6: no-filter passthrough scan --------------------------------------
  // Reference: models/source/nfbc/src_nfbc_standings.sql:7-16 (keeps ALL
  // history — no snapshot filter, no WHERE).
  private val s6 = GQuery(
    "s6_passthrough_scan",
    (s, dir) => t(s, dir, "region")
      .select(col("r_regionkey"), col("r_name")),
    Some("SELECT r_regionkey, r_name FROM region"),
    doc = "Full-history passthrough scan, no filter (S6).")

  // ---- S8: serving scan with explicit ordered column list ------------------
  // Reference: app/app.py:419-430 (SELECT <explicit col list> FROM mart
  // ORDER BY rank). The explicit list is what lets the scan prune to the
  // served columns; the sort is a final TakeOrdered-able presentation step.
  private val s8 = GQuery(
    "s8_serving_columns",
    (s, dir) => t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(100),
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
           |ORDER BY c_acctbal DESC, c_custkey LIMIT 100""".stripMargin),
    doc = "Serving pull: explicit column list + rank ordering + page limit (S8).")

  // ---- S4: latest-snapshot filter (scalar-subquery semantics) -------------
  // Reference: models/source/fangraphs/src_fangraphs_projections_preseason_hitting.sql:17-21
  private val s4 = GQuery(
    "s4_latest_snapshot",
    (s, dir) => {
      val ev = t(s, dir, "events").withColumn("day", to_date(col("ts")))
      // Two-step max+broadcast-join instead of a scalar subquery: the 1-row
      // aggregate is broadcast, the filter stays pushable on the big scan.
      val maxDay = ev.agg(max(col("day")).as("max_day"))
      ev.join(broadcast(maxDay), col("day") === col("max_day"))
        .select(col("event_id"), col("event_type"), col("day"), col("value"))
    },
    Some("""SELECT event_id, event_type, CAST(ts AS DATE) AS day, value
           |FROM events
           |WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)""".stripMargin),
    doc = "Keep only rows from the newest snapshot day (S4).")

  // ---- S5/W2: per-group latest snapshot via rank() -------------------------
  // Reference: models/source/nfbc/src_nfbc_adp.sql:15-24
  private val s5 = GQuery(
    "s5_snapshot_per_group",
    (s, dir) => {
      val ev = t(s, dir, "events").withColumn("day", to_date(col("ts")))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day").desc)
      ev.withColumn("rnk", rank().over(w))
        .filter(col("rnk") === 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("day")).as("day"))
    },
    Some("""SELECT event_type, count(*) AS n, max(day) AS day FROM (
           |  SELECT event_type, CAST(ts AS DATE) AS day,
           |         rank() OVER (PARTITION BY event_type ORDER BY CAST(ts AS DATE) DESC) AS rnk
           |  FROM events) sub
           |WHERE rnk = 1 GROUP BY event_type""".stripMargin),
    doc = "Newest snapshot per file/group, ties kept (S5, W2).")

  // ---- P1/P3: projection + arithmetic rate normalization -------------------
  // Reference: models/stage/fangraphs/stg_fg_proj_preseason_hitting_per_pa.sql:7-25
  // No rounding here on purpose: per-row IEEE arithmetic is bit-identical
  // across engines, while round() algorithms differ near .5 boundaries.
  private val p1 = GQuery(
    "p1_project_arithmetic",
    (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price")),
    Some("""SELECT l_orderkey, l_linenumber,
           |  l_extendedprice * (1 - l_discount) AS disc_price,
           |  l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           |  l_extendedprice / l_quantity AS unit_price
           |FROM lineitem""".stripMargin),
    doc = "Column projection with computed rate columns (P1, P3).")

  // ---- P2: explicit casts (string->int spine, all-strings ingest posture) --
  // Reference: models/stage/nfbc/stg_nfbc_ranked_standings.sql:12-28
  private val p2 = GQuery(
    "p2_cast",
    (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        split_part(col("c_name"), lit("#"), lit(2)).cast("int").as("parsed_id"),
        floor(col("c_acctbal")).cast("bigint").as("bal_floor")),
    Some("""SELECT c_custkey, CAST(split_part(c_name, '#', 2) AS INT) AS parsed_id,
           |  CAST(floor(c_acctbal) AS BIGINT) AS bal_floor FROM customer""".stripMargin),
    doc = "Explicit string->int and guarded double->int casts (P2).")

  // ---- P5: CASE WHEN ladders ------------------------------------------------
  // Reference: models/stage/projections/preseason/hitting/stg_proj_preseason_hitting_sgp_oc.sql:44-58
  private val p5 = GQuery(
    "p5_case_ladder",
    (s, dir) => {
      val sized = t(s, dir, "part")
        .withColumn("size_bucket",
          when(col("p_size") <= 10, "small")
            .when(col("p_size") <= 25, "medium")
            .otherwise("large"))
        .withColumn("tier",
          when(col("p_type").isin("ECONOMY", "SMALL"), "budget")
            .when(col("p_type") === "PROMO", "promo")
            .otherwise("regular"))
      sized.groupBy(col("size_bucket"), col("tier"))
        .agg(count(lit(1)).as("n"),
          (sum(col("p_retailprice").cast("decimal(18,2)")).cast("double") / count(lit(1)))
            .as("avg_price"))
    },
    Some("""SELECT size_bucket, tier, count(*) AS n,
           |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
           |FROM (
           |  SELECT CASE WHEN p_size <= 10 THEN 'small'
           |              WHEN p_size <= 25 THEN 'medium' ELSE 'large' END AS size_bucket,
           |         CASE WHEN p_type IN ('ECONOMY','SMALL') THEN 'budget'
           |              WHEN p_type = 'PROMO' THEN 'promo' ELSE 'regular' END AS tier,
           |         p_retailprice
           |  FROM part) sub
           |GROUP BY size_bucket, tier""".stripMargin),
    doc = "Bucketing CASE WHEN ladders (P5).")

  // ---- P6/P9/P10: LIKE + BETWEEN + IN-list ---------------------------------
  // Reference: models/stage/nfbc/stg_nfbc_sgp_inputs.sql:21-28 and P10 rows
  private val p6 = GQuery(
    "p6_like_between_in",
    (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_name").like("%bolt%")
          && col("p_size").between(5, 40)
          && col("p_brand").isin("Brand#1", "Brand#2", "Brand#17", "Brand#21"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size")),
    Some("""SELECT p_partkey, p_name, p_brand, p_size FROM part
           |WHERE p_name LIKE '%bolt%' AND p_size BETWEEN 5 AND 40
           |  AND p_brand IN ('Brand#1','Brand#2','Brand#17','Brand#21')""".stripMargin),
    doc = "LIKE / BETWEEN / IN-list predicates (P6, P9, P10).")

  // ---- P7: inequality + compound predicate filters --------------------------
  // Reference: models/stage/mapping/stg_mpd_player_id_map.sql:20-24
  private val p7 = GQuery(
    "p7_compound_filters",
    (s, dir) =>
      t(s, dir, "customer")
        .filter(col("c_mktsegment") =!= "BUILDING"
          && col("c_name") =!= ""
          && (col("c_acctbal") < 0 || col("c_nationkey") === 3))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
    Some("""SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
           |WHERE c_mktsegment != 'BUILDING' AND c_name != ''
           |  AND (c_acctbal < 0 OR c_nationkey = 3)""".stripMargin),
    doc = "Compound equality/inequality filters incl. empty-string test (P7).")

  // ---- P8: nullif divide-by-zero guard --------------------------------------
  // Reference: models/stage/nfbc/stg_nfbc_sgp_factors.sql:14-17
  private val p8 = GQuery(
    "p8_nullif_guard",
    // Fixed-point aggregation: the per-row ratio is rounded to 1e-4 and summed
    // as an exact integer, so the distributed sum is order-insensitive and the
    // final average is bit-identical across engines.
    (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        (sum(round(col("l_extendedprice") / expr("nullif(l_discount, 0)") * 1e4, 0).cast("bigint"))
          .cast("double") / lit(1e4)
          / count(col("l_extendedprice") / expr("nullif(l_discount, 0)"))).as("avg_ratio"),
        count(when(col("l_discount") === 0, 1)).as("n_zero_disc")),
    Some("""SELECT l_returnflag,
           |  CAST(sum(CAST(round(l_extendedprice / nullif(l_discount, 0) * 1e4) AS BIGINT)) AS DOUBLE)
           |    / 1e4 / count(l_extendedprice / nullif(l_discount, 0)) AS avg_ratio,
           |  count(CASE WHEN l_discount = 0 THEN 1 END) AS n_zero_disc
           |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    doc = "nullif(x,0) guard; avg skips nulls; fixed-point exact sum (P8).")

  // ---- P11/A10: conditional null-out inside aggregate ------------------------
  // Reference: models/stage/projections/preseason/pitching/stg_proj_preseason_pitching_skills.sql:13-19
  // ---- P13: error-safe expressions (try_* family) ----------------------------
  // Corpus-scale jobs cannot die on one bad row: try_divide and try_cast
  // turn would-be errors into nulls. DuckDB spells the same semantics
  // differently (x / nullif(y, 0); TRY_CAST), so the oracle pins the
  // EQUIVALENCE, not just the values: Spark's try_divide(a, b) must equal
  // a / NULLIF(b, 0) row for row (one IEEE division when defined, NULL
  // when not), and failed casts must be NULL, never exceptions, on both.
  private val p13 = GQuery(
    "p13_try_functions",
    (s, dir) => t(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("try_divide(o_totalprice, o_custkey % 3)").as("safe_div"),
        expr("try_cast(o_orderpriority AS INT)").as("bad_cast"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("good_cast")),
    Some("""SELECT o_orderkey,
           |  o_totalprice / nullif(o_custkey % 3, 0) AS safe_div,
           |  TRY_CAST(o_orderpriority AS INT) AS bad_cast,
           |  TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS good_cast
           |FROM orders""".stripMargin),
    doc = "Error-safe expressions: try_divide / try_cast null out instead of failing the job (P13).")

  // ---- P14: try-arithmetic under int64 overflow --------------------------------
  // ANSI mode makes plain +/-/* THROW on bigint overflow (the right default
  // at scale — silent wraparound corrupts downstream sums); the try_
  // variants return NULL instead, the per-row quarantine a pipeline
  // actually wants. DuckDB never overflows (hugeint intermediates), so the
  // oracle states the same nulls via TRY_CAST of the wide result back to
  // BIGINT — two different engine mechanisms, one pinned semantics.
  // Overflow is keyed to o_orderkey % 128 == 0 (~0.8% of rows at any SF):
  // the realistic quarantine profile is a FEW bad rows amid clean work, and
  // per-row JVM exception throws must stay off the bench's hot path — the
  // dominant cost here is the try_* arithmetic itself, not error handling.
  private val p14 = GQuery(
    "p14_try_overflow_arithmetic",
    (s, dir) => t(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("""try_multiply(o_orderkey,
                 CASE WHEN o_orderkey % 128 = 0 THEN 9223372036854775807
                      ELSE 100000 END)""").as("mul_over"),
        expr("""try_add(CASE WHEN o_orderkey % 128 = 0 THEN 9223372036854775807
                             ELSE 0 END, o_orderkey)""").as("add_over"),
        expr("""try_subtract(-9223372036854775808,
                 CASE WHEN o_orderkey % 128 = 0 THEN o_orderkey ELSE 0 END)""")
          .as("sub_over"),
        expr("try_multiply(o_orderkey, 1000)").as("mul_safe"),
        expr("try_add(o_orderkey, 0)").as("add_safe")),
    Some("""SELECT o_orderkey,
           |  TRY_CAST(o_orderkey * (CASE WHEN o_orderkey % 128 = 0
           |                              THEN CAST(9223372036854775807 AS HUGEINT)
           |                              ELSE CAST(100000 AS HUGEINT) END) AS BIGINT) AS mul_over,
           |  TRY_CAST((CASE WHEN o_orderkey % 128 = 0
           |                 THEN CAST(9223372036854775807 AS HUGEINT)
           |                 ELSE CAST(0 AS HUGEINT) END) + o_orderkey AS BIGINT) AS add_over,
           |  TRY_CAST(CAST(-9223372036854775808 AS HUGEINT)
           |           - (CASE WHEN o_orderkey % 128 = 0 THEN o_orderkey ELSE 0 END)
           |           AS BIGINT) AS sub_over,
           |  o_orderkey * 1000 AS mul_safe,
           |  o_orderkey AS add_safe
           |FROM orders""".stripMargin),
    doc = "try_add/subtract/multiply: int64 overflow quarantines to NULL under ANSI (P14).")

  private val p11 = GQuery(
    "p11_conditional_agg",
    (s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag")).agg(
        avg(when(col("l_linestatus") =!= "F", col("l_quantity"))).as("avg_qty_open"),
        sum(when(col("l_linestatus") === "F", col("l_extendedprice").cast("decimal(18,2)")))
          .cast("double").as("sum_price_f")),
    Some("""SELECT l_returnflag,
           |  avg(CASE WHEN l_linestatus != 'F' THEN l_quantity END) AS avg_qty_open,
           |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
           |    AS sum_price_f
           |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    doc = "avg/sum over CASE-nulled input (P11, A10).")

  // ---- J1: inner equi-join fact<->dim ---------------------------------------
  // Reference: models/stage/fangraphs/stg_fg_proj_preseason_hitting_per_pa.sql:26-28
  private val j1 = GQuery(
    "j1_inner_equijoin",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      // customer is the dimension side: broadcast to keep the orders scan
      // shuffle-free (at 100 TB orders shuffles, customer rarely should).
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    },
    Some("""SELECT c_mktsegment,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           |  count(*) AS n_orders
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |GROUP BY c_mktsegment""".stripMargin),
    doc = "Inner equi-join with broadcast dimension (J1).")

  // ---- J2: inner equi-join on shared key ------------------------------------
  private val j2 = GQuery(
    "j2_inner_join_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(avg(col("l_quantity")), 6).as("avg_qty"), count(lit(1)).as("n"))
    },
    Some("""SELECT p_brand, round(avg(l_quantity), 6) AS avg_qty, count(*) AS n
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand""".stripMargin),
    doc = "Inner equi-join + blend aggregate (J2, A1 shape).")

  // ---- J3: join then DISTINCT to collapse fan-out ----------------------------
  // Reference: stg_proj_preseason_hitting_sgp_oc.sql:28-30
  private val j3 = GQuery(
    "j3_join_distinct",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .filter(col("l_returnflag") === "R")
        .select(col("c_custkey"), col("c_name"))
        .distinct()
    },
    Some("""SELECT DISTINCT c_custkey, c_name
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE l_returnflag = 'R'""".stripMargin),
    doc = "Join + DISTINCT dedup after fan-out (J3, A9).")

  // ---- J4: left outer join with null-aware aggregation -----------------------
  // Reference: models/main/mart_preseason_overall_rankings_oc.sql:120-124
  private val j4 = GQuery(
    "j4_left_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), lit(0.0))
            .as("total"))
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
           |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0) AS total
           |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           |GROUP BY c_custkey""".stripMargin),
    doc = "Left join preserving unmatched keys (J4).")

  // ---- J5: left join with compound condition incl. a literal -----------------
  // Reference: models/main/mart_preseason_overall_rankings_oc.sql:120-122
  private val j5 = GQuery(
    "j5_left_join_literal",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey") && li("l_returnflag") === lit("R"), "left")
        .groupBy(col("o_orderstatus"))
        .agg(count(col("l_orderkey")).as("n_matched"), count(lit(1)).as("n_rows"))
    },
    Some("""SELECT o_orderstatus, count(l_orderkey) AS n_matched, count(*) AS n_rows
           |FROM orders LEFT JOIN lineitem
           |  ON o_orderkey = l_orderkey AND l_returnflag = 'R'
           |GROUP BY o_orderstatus""".stripMargin),
    doc = "Left join whose ON clause carries a literal predicate (J5).")

  // ---- J6/A6: 1-row constants relation broadcast-cross-joined -----------------
  // Reference: stg_proj_preseason_hitting_sgp_oc.sql:33-41 (cross join sgp_constants)
  private val j6 = GQuery(
    "j6_cross_join_constants",
    (s, dir) => {
      val o = t(s, dir, "orders")
      // decimal-exact threshold (the q22/x1 discipline): avg() over
      // fractional doubles merges partials in partition order, and a row
      // within an ulp of the cut could flip n_above between engines; the
      // ratio average sums 9-digit decimal terms for the same reason
      val avgRow = o.agg(
        (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("global_avg"))
      o.crossJoin(broadcast(avgRow))
        .filter(col("o_totalprice") > col("global_avg"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_above"),
          round(sum(round(col("o_totalprice") / col("global_avg"), 9)
              .cast("decimal(18,9)")).cast("double") / count(lit(1)), 6)
            .as("avg_ratio"))
    },
    Some("""WITH g AS (
           |  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |           / count(*) AS global_avg
           |  FROM orders)
           |SELECT o_orderpriority, count(*) AS n_above,
           |  round(CAST(sum(CAST(round(o_totalprice / global_avg, 9)
           |                      AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
           |    AS avg_ratio
           |FROM orders CROSS JOIN g
           |WHERE o_totalprice > global_avg
           |GROUP BY o_orderpriority""".stripMargin),
    doc = "Cross join of a broadcast 1-row constants relation (J6).")

  // ---- X1: salted join for skewed keys ---------------------------------------
  // l_returnflag has 3 distinct values over 600k rows — the canonical skew
  // case: an unsalted shuffle join lands everything in 3 partitions. Salting
  // spreads each hot key over 16 sub-keys: the big side salts by a
  // deterministic row hash, the small side replicates across all salts.
  // (Here the small side is 3 rows, so broadcast would win outright — this
  // query demonstrates the pattern for when BOTH sides are too big to
  // broadcast; results are identical to the plain join, which is the oracle.)
  /** Generic skew-spreading equi-join: the fact side salts every row with a
    * deterministic hash of `saltBy` into `salts` sub-keys; the (small) dim
    * side replicates each row across all salts; the join runs on
    * `keys :+ salt`, so a hot key's rows land in `salts` partitions instead
    * of one. The salt choice never changes results — the dim carries every
    * salt value — only the shuffle distribution. */
  private[graft] def saltedJoin(fact: DataFrame, dim: DataFrame,
      keys: Seq[String], salts: Int, saltBy: Seq[String]): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    // reserved internal name, guarded: silently overwriting (then dropping)
    // a caller's own column of the same name would corrupt results
    val saltCol = "__graft_salt"
    require(!fact.columns.contains(saltCol) && !dim.columns.contains(saltCol),
      s"inputs must not carry the reserved column '$saltCol'")
    val saltedFact = fact.withColumn(saltCol,
      pmod(hash(saltBy.map(col): _*), lit(salts)))
    val saltedDim = dim.withColumn(saltCol,
      explode(expr(s"sequence(0, ${salts - 1})")))
    // hint forces the shuffled hash join (Catalyst would otherwise
    // broadcast the tiny dim and hide the salting effect being shown)
    saltedFact.join(saltedDim.hint("shuffle_hash"), keys :+ saltCol).drop(saltCol)
  }

  private val x1 = GQuery(
    "x1_skew_salted_join",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val flagStats = li.groupBy(col("l_returnflag"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / count(lit(1))).as("flag_avg"))
      saltedJoin(li, flagStats, keys = Seq("l_returnflag"), salts = 16,
        saltBy = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("l_returnflag"))
        .agg(count(when(col("l_extendedprice") > col("flag_avg"), 1)).as("n_above_avg"),
          count(lit(1)).as("n"))
    },
    Some("""WITH flag_stats AS (
           |  SELECT l_returnflag,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS flag_avg
           |  FROM lineitem GROUP BY l_returnflag)
           |SELECT li.l_returnflag,
           |  count(CASE WHEN li.l_extendedprice > fs.flag_avg THEN 1 END) AS n_above_avg,
           |  count(*) AS n
           |FROM lineitem li JOIN flag_stats fs ON li.l_returnflag = fs.l_returnflag
           |GROUP BY li.l_returnflag""".stripMargin),
    doc = "Salted join spreading 3 hot keys over 16 sub-keys (skew pattern).")

  // ---- X2: bucketed co-located join -------------------------------------------
  // Bucket both sides on the join key once at write time; every later join on
  // that key is exchange-free (the scan's output partitioning already
  // satisfies the join's requirement). This is the 100 TB answer for
  // repeatedly-joined fact tables where broadcast can't apply: pay the
  // shuffle once, amortize it over every downstream join.
  private val x2 = GQuery(
    "x2_bucketed_colocated_join",
    (s, dir) => {
      // Stable warehouse (env-overridable), one bucketed copy per scale
      // factor, written only when absent: repeated invocations in a session
      // (and Bench's warm reps) pay ONLY the join, which is the number x2
      // exists to demonstrate — the one-time bucket write is the amortized
      // setup cost, not part of the steady-state join time.
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_buckets")
      val Buckets = 8
      // both checks (the s14 discipline): with a persistent metastore the
      // catalog entry can outlive a reclaimed scratch dir — rebuild when
      // either is missing, or the scan fails forever on a stale entry
      def ensure(table: String, src: String, key: String): Unit = {
        val path = Tables.scratchPath(dir, table.stripSuffix(s"_$tag"))
        if (!s.catalog.tableExists(s"graft_buckets.$table") ||
            !Tables.successMarkerExists(path)) {
          s.sql(s"DROP TABLE IF EXISTS graft_buckets.$table")
          t(s, dir, src).write.mode("overwrite")
            .option("path", path)
            .bucketBy(Buckets, key).sortBy(key)
            .saveAsTable(s"graft_buckets.$table")
        }
      }
      // first-build guarded like every scratch write: two concurrent builds
      // of the SAME dir must not race the check-then-create
      Tables.scratchWriteLock.synchronized {
        ensure(s"orders_b_$tag", "orders", "o_orderkey")
        ensure(s"lineitem_b_$tag", "lineitem", "l_orderkey")
      }
      val o = s.table(s"graft_buckets.orders_b_$tag")
      val li = s.table(s"graft_buckets.lineitem_b_$tag")
      li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).as("total_qty"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS total_qty
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY o_orderpriority""".stripMargin),
    doc = "Bucket-pruned exchange-free join: bucketBy once, join shuffle-free (X2).")

  // ---- X3: partition-pruned scan ------------------------------------------------
  // The other half of lakehouse layout (x2 covers bucketing): partition the
  // fact table by a coarse time key at write time, and every query filtering
  // on it reads ONLY the matching directories — the scan never touches the
  // other years' files (PartitionFilters in the plan, asserted in
  // PlanShapeSpec). At 100 TB this is the #1 bytes-read reducer; the write
  // is once-per-scale and skip-if-exists like x2.
  /** Year-partitioned copy of `orders`, written once per scale dir
    * (skip-if-exists) into the stable bucket warehouse — shared by the
    * partition-pruning demos x3 (static) and x4 (dynamic). */
  private def partitionedOrders(s: SparkSession, dir: String): String =
    Tables.scratchWriteLock.synchronized {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_buckets")
      val tbl = s"graft_buckets.orders_part_$tag"
      val path = Tables.scratchPath(dir, "orders_part")
      // both checks (the s14 discipline): a catalog entry outliving a
      // reclaimed scratch dir must trigger a rebuild, not a permanent
      // FileNotFound on the partition scan
      if (!s.catalog.tableExists(tbl) || !Tables.successMarkerExists(path)) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite")
          .option("path", path)
          .partitionBy("o_year")
          .saveAsTable(tbl)
      }
      tbl
    }

  private val x3 = GQuery(
    "x3_partition_pruned_scan",
    (s, dir) => {
      s.table(partitionedOrders(s, dir)).filter(col("o_year") === 1995)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE year(o_orderdate) = 1995
           |GROUP BY o_orderpriority""".stripMargin),
    doc = "Partition-pruned scan: write partitioned by year once, read one year's files (X3).")

  // ---- X4: dynamic partition pruning — runtime subquery prunes the fact scan --
  // The years to read are only known after FILTERING THE DIM at runtime, so no
  // static PartitionFilter can exist; Spark's DPP injects a
  // dynamicpruningexpression(o_year IN <broadcast result>) into the fact
  // scan's partition filters — at 100 TB this is the difference between
  // scanning every year and scanning the two the dim selects. The dim here is
  // the distinct-year relation (a stand-in for a date dimension), filtered on
  // an attribute (even years) the planner cannot constant-fold away.
  private val x4 = GQuery(
    "x4_dynamic_partition_pruning",
    (s, dir) => {
      val fact = s.table(partitionedOrders(s, dir))
      val dim = t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("d_year")).distinct()
        .filter(col("d_year") % 2 === 0)
      fact.join(broadcast(dim), col("o_year") === col("d_year"))
        .groupBy(col("o_year").cast("int").as("o_year"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    },
    Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders WHERE year(o_orderdate) % 2 = 0
           |GROUP BY 1""".stripMargin),
    doc = "Dynamic partition pruning: dim filter decides at runtime which year partitions the fact scan reads (X4).")

  // ---- J7: semi / anti join (EXISTS / NOT EXISTS) --------------------------
  // The reference's draft-state filter (app/app.py:567-569) is an IN-list —
  // the set face of EXISTS. Engine-side the general form is LeftSemi/LeftAnti:
  // no columns from the probe side survive, so Spark builds the hash table on
  // the (deduplicated) key set only — at 100 TB a semi join against a big key
  // set is a shuffled hash join on keys alone, never a row-multiplying join.
  // No broadcast hint on `urgent`: it grows with the fact table, AQE
  // broadcasts it only while it is actually small.
  private val j7 = GQuery(
    "j7_semi_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val withU = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_urgent"))
      val withoutU = c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_urgent"))
      withU.join(withoutU, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"),
          coalesce(col("n_with_urgent"), lit(0L)).as("n_with_urgent"),
          coalesce(col("n_without_urgent"), lit(0L)).as("n_without_urgent"))
    },
    Some("""WITH w AS (
           |  SELECT c_mktsegment, count(*) AS n_with_urgent FROM customer
           |  WHERE EXISTS (SELECT 1 FROM orders
           |                WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
           |  GROUP BY 1),
           |wo AS (
           |  SELECT c_mktsegment, count(*) AS n_without_urgent FROM customer
           |  WHERE NOT EXISTS (SELECT 1 FROM orders
           |                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
           |  GROUP BY 1)
           |SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
           |  coalesce(n_with_urgent, 0) AS n_with_urgent,
           |  coalesce(n_without_urgent, 0) AS n_without_urgent
           |FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment""".stripMargin),
    doc = "LeftSemi/LeftAnti joins — EXISTS / NOT EXISTS without row multiplication (J7).")

  // ---- J8: full outer join ---------------------------------------------------
  // Per-nation customer counts FULL OUTER per-nation supplier counts: nations
  // with only one side present survive with nulls on the other — the
  // reconciliation shape (which entities exist here but not there?). Both
  // inputs are aggregates (bounded), the join is a hash join on the key;
  // coalesce canonicalizes the key from whichever side is non-null.
  private val j8 = GQuery(
    "j8_full_outer_join",
    (s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val sup = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(sup, col("nk") === col("nk2"), "full_outer")
        .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },
    Some("""SELECT coalesce(c.nk, s.nk2) AS nationkey,
           |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
           |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
           |      FROM customer GROUP BY 1) c
           |FULL OUTER JOIN (SELECT s_nationkey AS nk2, count(*) AS n_supp
           |                 FROM supplier GROUP BY 1) s
           |ON c.nk = s.nk2""".stripMargin),
    doc = "FULL OUTER reconciliation: one-sided keys survive with nulls (J8).")

  // ---- J9: null-safe equality join -------------------------------------------
  // `<=>` (IS NOT DISTINCT FROM): null keys MATCH EACH OTHER instead of
  // silently dropping — the semantic a plain equi-join gets wrong when the
  // key is derived and legitimately null (here: order status with the open
  // status nulled out). Spark still plans this as a hash join (null-safe
  // keys hash like values); the oracle uses the standard SQL spelling.
  // ---- J10: NOT IN vs NOT EXISTS null semantics ------------------------------
  // THE subquery trap: `x NOT IN (list containing NULL)` is never TRUE
  // (three-valued logic — every comparison is at best UNKNOWN), while the
  // NOT EXISTS spelling ignores the null row and returns real survivors.
  // Both engines agree, and the pin keeps it that way: n_not_in counts 0,
  // n_not_exists counts customers with no qualifying order. Spark plans
  // the NOT IN as a null-aware anti join — the expensive plan q16
  // deliberately avoids — so this row also documents WHY the engine
  // prefers NOT EXISTS: same intent, hash anti join instead.
  private val j10 = GQuery(
    "j10_not_in_null_semantics",
    (s, dir) => Tables.sqlOn(s,
      "customer" -> t(s, dir, "customer"), "orders" -> t(s, dir, "orders")) { v =>
      s"""SELECT
         |  (SELECT count(*) FROM ${v("customer")}
         |   WHERE c_custkey NOT IN
         |     (SELECT nullif(o_custkey, 1) FROM ${v("orders")})) AS n_not_in,
         |  (SELECT count(*) FROM ${v("customer")} c
         |   WHERE NOT EXISTS (SELECT 1 FROM ${v("orders")} o
         |                     WHERE nullif(o.o_custkey, 1) = c.c_custkey))
         |    AS n_not_exists""".stripMargin
    },
    Some("""SELECT
           |  (SELECT count(*) FROM customer
           |   WHERE c_custkey NOT IN
           |     (SELECT nullif(o_custkey, 1) FROM orders)) AS n_not_in,
           |  (SELECT count(*) FROM customer c
           |   WHERE NOT EXISTS (SELECT 1 FROM orders o
           |                     WHERE nullif(o.o_custkey, 1) = c.c_custkey))
           |    AS n_not_exists""".stripMargin),
    doc = "NOT IN vs NOT EXISTS under nulls: three-valued logic pinned, null-aware anti join documented (J10).")

  private val j9 = GQuery(
    "j9_nullsafe_join",
    (s, dir) => {
      val byStatus = t(s, dir, "orders")
        .groupBy(nullif(col("o_orderstatus"), lit("O")).as("sk"))
        .agg(count(lit(1)).as("n_orders"))
      val byStatus2 = t(s, dir, "orders")
        .groupBy(nullif(col("o_orderstatus"), lit("O")).as("sk2"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      byStatus.join(byStatus2, col("sk") <=> col("sk2"))
        .select(coalesce(col("sk"), lit("OPEN")).as("status_class"),
          col("n_orders"), round(col("total"), 2).as("total"))
    },
    Some("""SELECT coalesce(a.sk, 'OPEN') AS status_class, a.n_orders,
           |  round(b.total, 2) AS total
           |FROM (SELECT nullif(o_orderstatus, 'O') AS sk, count(*) AS n_orders
           |      FROM orders GROUP BY 1) a
           |JOIN (SELECT nullif(o_orderstatus, 'O') AS sk2,
           |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |      FROM orders GROUP BY 1) b
           |ON a.sk IS NOT DISTINCT FROM b.sk2""".stripMargin),
    doc = "Null-safe equality join: null keys match instead of dropping (J9).")

  // ---- Q3: TPC-H-Q3-shaped headline query --------------------------------------
  // Multi-join + filtered scan + agg + top-K: the canonical OLAP shape the
  // marts are made of. Dates filter pushes to both scans; customer broadcasts;
  // orders<->lineitem is the one real shuffle; top-10 via TakeOrdered.
  private val q3 = GQuery(
    "q3_shipping_priority",
    (s, dir) => {
      val cutoff = "1995-03-15"
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < lit(cutoff))
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit(cutoff))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(28,6)"))
          .cast("double").as("revenue"))
        .select(col("l_orderkey"), round(col("revenue"), 4).as("revenue"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 4)
           |    AS revenue,
           |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
           |GROUP BY l_orderkey, o_orderdate, o_orderpriority
           |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    doc = "TPC-H Q3 shape: filtered 3-way join, decimal-exact revenue, top-10 (Q3).")

  // ---- Q5: TPC-H-Q5-shaped 6-way join --------------------------------------
  // The deepest join tree in the registry: region -> nation -> supplier and
  // customer fan into the orders<->lineitem fact spine, with the
  // local-supplier constraint (c_nationkey = s_nationkey) closing the loop.
  // This is the canonical optimizer stress: the region/nation filter must
  // cascade through broadcasts down to the supplier side, the year filter
  // must push to the orders scan, and only the two fact tables may shuffle.
  // Revenue accumulates in DECIMAL (q3's order-insensitive idiom).
  private val q5 = GQuery(
    "q5_local_supplier_volume",
    (s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val c = t(s, dir, "customer")
      t(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        // no hint on customer: it scales with the corpus (AQE broadcasts it
        // while small, shuffles it when it is not)
        .join(c,
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")).cast("double").as("revenue"))
        .select(col("n_name"), round(col("revenue"), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 4)
           |    AS revenue
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
           |GROUP BY n_name
           |ORDER BY revenue DESC, n_name""".stripMargin),
    doc = "TPC-H Q5 shape: 6-way join, cascading broadcasts, local-supplier constraint (Q5).")

  // ---- Q1: TPC-H-Q1-shaped pricing summary ---------------------------------
  // The agg-heavy single-scan shape: one pass over the fact table, partial
  // (map-side) aggregation does nearly all the work, the shuffle carries six
  // accumulator columns per (returnflag, linestatus) group — a handful of
  // rows at ANY corpus size. Every sum accumulates in DECIMAL so the result
  // is order-insensitive; averages divide two exact values in double (one
  // IEEE op — bit-identical across engines).
  private val q1 = GQuery(
    "q1_pricing_summary",
    (s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_shipdate") <= lit("1998-09-02"))
      val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(28,6)")
      val charge = (col("l_extendedprice") * (lit(1) - col("l_discount"))
        * (lit(1) + col("l_tax"))).cast("decimal(28,8)")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).as("dq"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).as("dbase"),
          sum(disc).as("ddisc"),
          sum(charge).as("dcharge"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("dq").cast("double").as("sum_qty"),
          col("dbase").cast("double").as("sum_base_price"),
          round(col("ddisc").cast("double"), 4).as("sum_disc_price"),
          round(col("dcharge").cast("double"), 4).as("sum_charge"),
          (col("dq").cast("double") / col("count_order")).as("avg_qty"),
          (col("dbase").cast("double") / col("count_order")).as("avg_price"),
          col("count_order"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 4)
           |    AS sum_disc_price,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,8))) AS DOUBLE), 4)
           |    AS sum_charge,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           |  count(*) AS count_order
           |FROM lineitem WHERE l_shipdate <= '1998-09-02'
           |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    doc = "TPC-H Q1 shape: agg-heavy single scan, partial aggs do the work, decimal-exact sums (Q1).")

  // ---- Q9: TPC-H-Q9-shaped profit rollup -----------------------------------
  // Multi-join with an EXPRESSION grouping key (year(o_orderdate)): part
  // (selective LIKE filter, broadcast) and supplier->nation (broadcast
  // cascade) hang off the lineitem spine; orders joins on the fact key to
  // supply the year. The corpus has no partsupp table, so the cost leg of
  // the TPC-H profit formula uses p_retailprice (same expression shape:
  // revenue minus a price*quantity product, accumulated in DECIMAL).
  private val q9 = GQuery(
    "q9_product_profit",
    (s, dir) => {
      val p = t(s, dir, "part").filter(col("p_name").like("%widget%"))
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val amount = (col("l_extendedprice") * (lit(1) - col("l_discount"))
        - col("p_retailprice") * lit(0.8) * col("l_quantity")).cast("decimal(28,6)")
      t(s, dir, "lineitem")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate").cast("date")).as("o_year"))
        .agg(sum(amount).cast("double").as("amount"))
        .select(col("nation"), col("o_year"),
          round(col("amount"), 4).as("amount"))
    },
    Some("""SELECT n_name AS nation, year(CAST(o_orderdate AS DATE)) AS o_year,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
           |    - p_retailprice * 0.8 * l_quantity AS DECIMAL(28,6))) AS DOUBLE), 4) AS amount
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN orders ON l_orderkey = o_orderkey
           |WHERE p_name LIKE '%widget%'
           |GROUP BY 1, 2""".stripMargin),
    doc = "TPC-H Q9 shape: 5-way join, selective LIKE dim filter, expression grouping key (Q9).")

  // ---- Q18: TPC-H-Q18-shaped large-volume customers ------------------------
  // The group-having + join shape: an aggregate over the fact table feeds a
  // SEMI join back against the same fact's order spine. The big-order key
  // set is aggregation output (small), so AQE broadcasts it; the outer
  // re-aggregation groups by the order's natural key. l_quantity sums in
  // DECIMAL on both passes.
  private val q18 = GQuery(
    "q18_large_volume_customer",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .filter(col("qty") > 300)
        .select(col("l_orderkey").as("big_okey"))
      val o = t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("big_okey"), "left_semi")
      val c = t(s, dir, "customer")
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("o_totalprice"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
           |  o_totalprice,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE o_orderkey IN (
           |  SELECT l_orderkey FROM lineitem
           |  GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
           |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
           |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin),
    doc = "TPC-H Q18 shape: group-having key set semi-joined back, re-aggregated, top-100 (Q18).")

  // ---- Q2: TPC-H-Q2-shaped correlated min subquery --------------------------
  // The correlated-scalar-subquery shape ("rows equal to their group's
  // minimum"), written AS the correlated SQL — Catalyst's
  // RewriteCorrelatedScalarSubquery must decorrelate it into a per-brand
  // min aggregate joined back (asserted in PlanShapeSpec). Executing the
  // subquery per row would be O(n^2); the decorrelated plan is one
  // aggregate + one equi-join, which is why the optimizer owning this
  // rewrite matters at scale. Equality compares STORED doubles (min is
  // selection, not arithmetic) so the match is exact on both engines.
  private val q2 = GQuery(
    "q2_min_per_group",
    (s, dir) => Tables.sqlOn(s, "part" -> t(s, dir, "part")) { v =>
      s"""SELECT p.p_brand, p.p_partkey, p.p_retailprice
         |FROM ${v("part")} p
         |WHERE p.p_retailprice = (SELECT min(p2.p_retailprice)
         |                         FROM ${v("part")} p2
         |                         WHERE p2.p_brand = p.p_brand)""".stripMargin
    },
    Some("""SELECT p.p_brand, p.p_partkey, p.p_retailprice
           |FROM part p
           |WHERE p.p_retailprice = (SELECT min(p2.p_retailprice)
           |                         FROM part p2
           |                         WHERE p2.p_brand = p.p_brand)""".stripMargin),
    doc = "TPC-H Q2 shape: correlated min subquery, decorrelated to aggregate + join (Q2).")

  // ---- Q17: TPC-H-Q17-shaped correlated-aggregate filter --------------------
  // "Lines below 20% of their part's average quantity" — the correlated
  // AGGREGATE subquery shape (q2 covers correlated-min; this is the
  // correlated-avg-with-arithmetic form). Catalyst's
  // RewriteCorrelatedScalarSubquery must decorrelate it into one per-part
  // aggregate joined back (asserted in PlanShapeSpec) — per-row execution
  // would rescan lineitem once per outer row. The threshold is computed as
  // exact-DECIMAL sum / count so the filter boundary is bit-identical on
  // both engines (avg() of doubles is accumulation-order-dependent); the
  // final sum is DECIMAL for the same reason. The corpus has no
  // p_container, so the selective dim predicate uses brand + size.
  private val q17 = GQuery(
    "q17_small_quantity_revenue",
    (s, dir) => Tables.sqlOn(s,
      "lineitem" -> t(s, dir, "lineitem"), "part" -> t(s, dir, "part")) { v =>
      s"""SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         |            AS DOUBLE) AS avg_yearly,
         |       count(*) AS n_lines
         |FROM ${v("lineitem")} JOIN ${v("part")} ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#4' AND p_size < 25
         |  AND l_quantity < (SELECT 0.2 * CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
         |                                      AS DOUBLE) / count(*)
         |                    FROM ${v("lineitem")} l2
         |                    WHERE l2.l_partkey = p_partkey)""".stripMargin
    },
    Some("""SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
           |            AS DOUBLE) AS avg_yearly,
           |       count(*) AS n_lines
           |FROM lineitem JOIN part ON p_partkey = l_partkey
           |WHERE p_brand = 'Brand#4' AND p_size < 25
           |  AND l_quantity < (SELECT 0.2 * CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
           |                                      AS DOUBLE) / count(*)
           |                    FROM lineitem l2
           |                    WHERE l2.l_partkey = p_partkey)""".stripMargin),
    doc = "TPC-H Q17 shape: correlated avg-quantity filter, decorrelated to one aggregate + join (Q17).")

  // ---- Q21: TPC-H-Q21-shaped multi-EXISTS / NOT-EXISTS ----------------------
  // "Suppliers whose line was the ONLY late one on a multi-supplier order" —
  // one EXISTS and one NOT EXISTS against the same fact table, both
  // correlated on the outer order key (the NOT EXISTS also carries the outer
  // o_orderdate into its predicate). Catalyst plans these as one left-semi
  // and one left-anti join over lineitem (asserted in PlanShapeSpec) — the
  // per-row nested-loop reading would rescan lineitem twice per outer row.
  // The corpus has no l_receiptdate/l_commitdate, so "late" is
  // shipdate > orderdate + 60 days.
  private val q21 = GQuery(
    "q21_waiting_supplier",
    (s, dir) => Tables.sqlOn(s,
      "lineitem" -> t(s, dir, "lineitem"), "orders" -> t(s, dir, "orders"),
      "supplier" -> t(s, dir, "supplier"), "nation" -> t(s, dir, "nation")) { v =>
      s"""SELECT s_name, count(*) AS numwait
         |FROM ${v("supplier")}
         |JOIN ${v("lineitem")} l1 ON s_suppkey = l1.l_suppkey
         |JOIN ${v("orders")} ON o_orderkey = l1.l_orderkey
         |JOIN ${v("nation")} ON s_nationkey = n_nationkey
         |WHERE o_orderstatus = 'F'
         |  AND l1.l_shipdate > date_add(CAST(o_orderdate AS DATE), 60)
         |  AND EXISTS (SELECT 1 FROM ${v("lineitem")} l2
         |              WHERE l2.l_orderkey = l1.l_orderkey
         |                AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM ${v("lineitem")} l3
         |                  WHERE l3.l_orderkey = l1.l_orderkey
         |                    AND l3.l_suppkey <> l1.l_suppkey
         |                    AND l3.l_shipdate > date_add(CAST(o_orderdate AS DATE), 60))
         |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
         |GROUP BY s_name""".stripMargin
    },
    Some("""SELECT s_name, count(*) AS numwait
           |FROM supplier
           |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
           |JOIN orders ON o_orderkey = l1.l_orderkey
           |JOIN nation ON s_nationkey = n_nationkey
           |WHERE o_orderstatus = 'F'
           |  AND l1.l_shipdate > CAST(o_orderdate AS DATE) + 60
           |  AND EXISTS (SELECT 1 FROM lineitem l2
           |              WHERE l2.l_orderkey = l1.l_orderkey
           |                AND l2.l_suppkey <> l1.l_suppkey)
           |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
           |                  WHERE l3.l_orderkey = l1.l_orderkey
           |                    AND l3.l_suppkey <> l1.l_suppkey
           |                    AND l3.l_shipdate > CAST(o_orderdate AS DATE) + 60)
           |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
           |GROUP BY s_name""".stripMargin),
    doc = "TPC-H Q21 shape: EXISTS + NOT-EXISTS planned as semi/anti joins, no per-row rescan (Q21).")

  // ---- Q20: TPC-H-Q20-shaped nested IN + correlated HAVING ------------------
  // "Suppliers who dominate a part's supply" — an IN whose subquery is a
  // grouped aggregate with a CORRELATED scalar aggregate inside HAVING (the
  // deepest decorrelation shape in the TPC-H family: Catalyst must rewrite
  // the inner correlated sum to a per-part aggregate joined into the HAVING
  // filter, then the IN to a left-semi join — two rewrites stacked; asserted
  // in PlanShapeSpec). Quantity sums compare as exact DECIMALs on both
  // engines. The corpus has no partsupp, so "availability" is the part's
  // total shipped quantity and the threshold is a 15% share.
  private val q20 = GQuery(
    "q20_dominant_supplier",
    (s, dir) => Tables.sqlOn(s,
      "lineitem" -> t(s, dir, "lineitem"), "supplier" -> t(s, dir, "supplier")) { v =>
      s"""SELECT s_suppkey, s_name, s_acctbal
         |FROM ${v("supplier")}
         |WHERE s_suppkey IN (
         |  SELECT l1.l_suppkey FROM ${v("lineitem")} l1
         |  GROUP BY l1.l_suppkey, l1.l_partkey
         |  HAVING sum(CAST(l1.l_quantity AS DECIMAL(18,2))) >
         |         0.15 * (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
         |                 FROM ${v("lineitem")} l2
         |                 WHERE l2.l_partkey = l1.l_partkey))""".stripMargin
    },
    Some("""SELECT s_suppkey, s_name, s_acctbal
           |FROM supplier
           |WHERE s_suppkey IN (
           |  SELECT l1.l_suppkey FROM lineitem l1
           |  GROUP BY l1.l_suppkey, l1.l_partkey
           |  HAVING sum(CAST(l1.l_quantity AS DECIMAL(18,2))) >
           |         0.15 * (SELECT sum(CAST(l2.l_quantity AS DECIMAL(18,2)))
           |                 FROM lineitem l2
           |                 WHERE l2.l_partkey = l1.l_partkey))""".stripMargin),
    doc = "TPC-H Q20 shape: IN over a grouped aggregate with correlated HAVING, fully decorrelated (Q20).")

  // ---- Q22: TPC-H-Q22-shaped anti-join + scalar threshold -------------------
  // "High-balance customers with no big orders": an uncorrelated scalar
  // subquery (the balance threshold — computed as exact-DECIMAL sum / count
  // so the filter boundary is bit-identical, the q17 discipline) AND a
  // NOT EXISTS against a FILTERED orders subset, planned as a left-anti
  // join whose right side prunes to (o_custkey) after the o_totalprice
  // pushdown. The segment re-aggregation mirrors Q22's per-country-code
  // grouping on the available column.
  private val q22 = GQuery(
    "q22_inactive_high_balance",
    (s, dir) => Tables.sqlOn(s,
      "customer" -> t(s, dir, "customer"), "orders" -> t(s, dir, "orders")) { v =>
      s"""SELECT c_mktsegment, count(*) AS numcust,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         |FROM ${v("customer")}
         |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |                          / count(*)
         |                   FROM ${v("customer")} WHERE c_acctbal > 0)
         |  AND NOT EXISTS (SELECT 1 FROM ${v("orders")}
         |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
         |GROUP BY c_mktsegment""".stripMargin
    },
    Some("""SELECT c_mktsegment, count(*) AS numcust,
           |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
           |FROM customer
           |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
           |                          / count(*)
           |                   FROM customer WHERE c_acctbal > 0)
           |  AND NOT EXISTS (SELECT 1 FROM orders
           |                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
           |GROUP BY c_mktsegment""".stripMargin),
    doc = "TPC-H Q22 shape: scalar threshold + anti-join against filtered orders (Q22).")

  // ---- Q4: TPC-H-Q4-shaped order-priority checking --------------------------
  // A year of orders counted per priority, kept only when EXISTS a late line
  // — the simplest correlated-EXISTS member of the family (q21 stacks two,
  // q22 negates one). Catalyst plans the EXISTS as ONE left-semi join of
  // orders against lineitem (asserted in PlanShapeSpec); the correlated
  // o_orderdate in the inner predicate rides the join condition, not a
  // rescan. The corpus has no l_commitdate/l_receiptdate, so "late" is
  // shipdate > orderdate + 60 days (the q21 convention).
  private val q4 = GQuery(
    "q4_priority_checking",
    (s, dir) => Tables.sqlOn(s,
      "orders" -> t(s, dir, "orders"), "lineitem" -> t(s, dir, "lineitem")) { v =>
      s"""SELECT o_orderpriority, count(*) AS order_count
         |FROM ${v("orders")}
         |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
         |  AND EXISTS (SELECT 1 FROM ${v("lineitem")}
         |              WHERE l_orderkey = o_orderkey
         |                AND l_shipdate > date_add(CAST(o_orderdate AS DATE), 60))
         |GROUP BY o_orderpriority""".stripMargin
    },
    Some("""SELECT o_orderpriority, count(*) AS order_count
           |FROM orders
           |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
           |  AND EXISTS (SELECT 1 FROM lineitem
           |              WHERE l_orderkey = o_orderkey
           |                AND l_shipdate > CAST(o_orderdate AS DATE) + 60)
           |GROUP BY o_orderpriority""".stripMargin),
    doc = "TPC-H Q4 shape: correlated EXISTS planned as one semi join, priority rollup (Q4).")

  // ---- Q12: TPC-H-Q12-shaped shipping-priority split ------------------------
  // Fact-dim join + dual conditional counts: how many high- vs low-priority
  // orders shipped per line class in the window. The CASE inputs are 0/1
  // ints so the sums are exact; the shipdate window prunes the fact scan
  // before the join. (The corpus has no l_shipmode; l_returnflag is the
  // 2-ish-valued line classifier standing in for it.)
  private val q12 = GQuery(
    "q12_shipping_priority_split",
    (s, dir) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!hi, 1L).otherwise(0L)).as("low_line_count"))
    },
    Some("""SELECT l_returnflag,
           |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
           |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           |GROUP BY l_returnflag""".stripMargin),
    doc = "TPC-H Q12 shape: windowed fact-dim join with dual conditional counts (Q12).")

  // ---- Q14: TPC-H-Q14-shaped promo revenue share ----------------------------
  // One month of revenue, split by a dim attribute into a percentage — the
  // conditional-aggregate-over-join shape with a single final division.
  // Both sums accumulate in DECIMAL; the one double division happens on the
  // two exact totals, so the share is bit-identical across engines.
  private val q14 = GQuery(
    "q14_promo_revenue",
    (s, dir) => {
      val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(28,6)")
      val zero = lit(0).cast("decimal(28,6)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1997-03-01" && col("l_shipdate") < "1997-04-01")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", disc).otherwise(zero)).as("dp"),
          sum(disc).as("dt"), count(lit(1)).as("n_lines"))
        .select(
          round(lit(100.0) * col("dp").cast("double") / col("dt").cast("double"), 6)
            .as("promo_share_pct"),
          round(col("dt").cast("double"), 4).as("total_revenue"),
          col("n_lines"))
    },
    Some("""SELECT
           |  round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
           |          THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
           |          ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
           |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE),
           |    6) AS promo_share_pct,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE),
           |    4) AS total_revenue,
           |  count(*) AS n_lines
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE l_shipdate >= '1997-03-01' AND l_shipdate < '1997-04-01'""".stripMargin),
    doc = "TPC-H Q14 shape: conditional decimal revenue split to a percentage (Q14).")

  // ---- Q16: TPC-H-Q16-shaped supplier diversity count -----------------------
  // Distinct-supplier counts per (brand, type, size) bucket, excluding
  // suppliers matched by a subquery — the exclusion spells NOT EXISTS (not
  // NOT IN) so Catalyst plans a hash LEFT ANTI join rather than a
  // null-aware nested loop; the distinct count rides the same Expand
  // machinery as a14. Size IN-list and brand filter push to the part scan.
  private val q16 = GQuery(
    "q16_supplier_diversity",
    (s, dir) => Tables.sqlOn(s,
      "lineitem" -> t(s, dir, "lineitem"), "part" -> t(s, dir, "part"),
      "supplier" -> t(s, dir, "supplier")) { v =>
      s"""SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM ${v("lineitem")} JOIN ${v("part")} ON p_partkey = l_partkey
         |WHERE p_brand <> 'Brand#1'
         |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
         |  AND NOT EXISTS (SELECT 1 FROM ${v("supplier")}
         |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
         |GROUP BY p_brand, p_type, p_size""".stripMargin
    },
    Some("""SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
           |FROM lineitem JOIN part ON p_partkey = l_partkey
           |WHERE p_brand <> 'Brand#1'
           |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
           |  AND NOT EXISTS (SELECT 1 FROM supplier
           |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
           |GROUP BY p_brand, p_type, p_size""".stripMargin),
    doc = "TPC-H Q16 shape: exclusion anti join + distinct-count rollup per part bucket (Q16).")

  // ---- Q19: TPC-H-Q19-shaped disjunctive range predicate --------------------
  // The OR-of-ANDs join predicate: three (brand, size-range, quantity-range)
  // arms over the fact-dim join. Each arm mixes columns from BOTH sides, so
  // nothing pushes below the join wholesale — the plan evidence is that the
  // join itself stays a broadcast HASH join on p_partkey with the
  // disjunction evaluated as a post-join filter (no nested loop; asserted
  // in PlanShapeSpec). Revenue in DECIMAL.
  private val q19 = GQuery(
    "q19_disjunctive_ranges",
    (s, dir) => {
      val disc = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(28,6)")
      val arm1 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
        col("l_quantity").between(5, 15)
      val arm2 = col("p_brand") === "Brand#9" && col("p_size").between(10, 30) &&
        col("l_quantity").between(15, 30)
      val arm3 = col("p_brand") === "Brand#15" && col("p_size").between(20, 50) &&
        col("l_quantity").between(25, 40)
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .filter(arm1 || arm2 || arm3)
        .agg(round(sum(disc).cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
    Some("""SELECT
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           |             AS DOUBLE), 4) AS revenue,
           |  count(*) AS n_lines
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           |       AND l_quantity BETWEEN 5 AND 15)
           |   OR (p_brand = 'Brand#9' AND p_size BETWEEN 10 AND 30
           |       AND l_quantity BETWEEN 15 AND 30)
           |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 50
           |       AND l_quantity BETWEEN 25 AND 40)""".stripMargin),
    doc = "TPC-H Q19 shape: OR-of-ANDs cross-side predicate on a hash join, decimal revenue (Q19).")

  // ---- Q6: TPC-H-Q6-shaped forecasting revenue change -----------------------
  // The purest scan-shape in the family: one fact table, three range
  // predicates — ALL of which push to the parquet reader (asserted in
  // PlanShapeSpec) — and a single global sum. At 100 TB this query is
  // entirely I/O-bound on the pruned scan: the map-side partial aggregate
  // reduces each partition to one accumulator row, so the single shuffle
  // carries one row per task. Revenue accumulates in DECIMAL.
  private val q6 = GQuery(
    "q6_forecast_revenue",
    (s, dir) => t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(28,6)")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_lines")),
    Some("""SELECT
           |  round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6)))
           |             AS DOUBLE), 4) AS revenue,
           |  count(*) AS n_lines
           |FROM lineitem
           |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
           |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    doc = "TPC-H Q6 shape: fully-pushed range predicates, one global decimal sum (Q6).")

  // ---- Q7: TPC-H-Q7-shaped volume shipping ----------------------------------
  // Bilateral trade between two nations: the SAME dimension (nation) joins
  // the fact spine TWICE under different roles (supplier side and customer
  // side), and the pair predicate mixes both roles, so it can only apply
  // after both attaches. Both nation attaches are explicit broadcasts —
  // 25 rows each — so the fact never shuffles for them; the only shuffles
  // are the orders/customer equi-joins and the final 3-key aggregate.
  private val q7 = GQuery(
    "q7_volume_shipping",
    (s, dir) => {
      val n1 = t(s, dir, "nation").select(
        col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").select(
        col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      val pairOk =
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1998-01-01")
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter(pairOk)
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("date")).as("l_year"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")).cast("double"), 4).as("revenue"))
    },
    Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           |  year(CAST(l_shipdate AS DATE)) AS l_year,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           |             AS DOUBLE), 4) AS revenue
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation n1 ON s_nationkey = n1.n_nationkey
           |JOIN nation n2 ON c_nationkey = n2.n_nationkey
           |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
           |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
           |GROUP BY 1, 2, 3""".stripMargin),
    doc = "TPC-H Q7 shape: one dim joined twice under two roles, cross-role pair filter (Q7).")

  // ---- Q8: TPC-H-Q8-shaped national market share -----------------------------
  // A conditional share: one nation's slice of regional volume per year.
  // The numerator is a CASE inside the same aggregate as the denominator —
  // ONE pass, no self-join — and the single double division happens on two
  // exact DECIMAL totals per year. Region restricts the CUSTOMER side
  // (via its nation) while the CASE tests the SUPPLIER side's nation:
  // the two roles ride separate broadcast attaches, as in q7.
  private val q8 = GQuery(
    "q8_market_share",
    (s, dir) => {
      val n1 = t(s, dir, "nation").select(
        col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val custNationsInRegion = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("n2_key"))
      val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(28,6)")
      val zero = lit(0).cast("decimal(28,6)")
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").filter(col("p_type") === "PROMO")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(custNationsInRegion), col("c_nationkey") === col("n2_key"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .groupBy(year(col("o_orderdate").cast("date")).as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", vol).otherwise(zero)).as("dn"),
          sum(vol).as("dt"))
        .select(col("o_year"),
          round(col("dn").cast("double") / col("dt").cast("double"), 6)
            .as("mkt_share"),
          round(col("dt").cast("double"), 4).as("total_volume"))
    },
    Some("""SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
           |  round(CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
           |          THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
           |          ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
           |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           |           AS DOUBLE), 6) AS mkt_share,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           |             AS DOUBLE), 4) AS total_volume
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation n2 ON c_nationkey = n2.n_nationkey
           |JOIN region ON n2.n_regionkey = r_regionkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation n1 ON s_nationkey = n1.n_nationkey
           |WHERE r_name = 'ASIA' AND p_type = 'PROMO'
           |GROUP BY 1""".stripMargin),
    doc = "TPC-H Q8 shape: conditional share in one aggregate pass, role-split nation dims (Q8).")

  // ---- Q10: TPC-H-Q10-shaped returned-item ranking ---------------------------
  // Who returned the most revenue in a quarter: fact filtered on returnflag,
  // joined up the order->customer spine, aggregated per customer, top-20.
  // The ranking is ORDER BY + LIMIT — TakeOrdered, never a global sort —
  // with c_custkey as the deterministic tie-break. At scale the only wide
  // exchanges are the orders join and the per-customer aggregate; nation is
  // a 25-row broadcast.
  private val q10 = GQuery(
    "q10_returned_items",
    (s, dir) => {
      val o = t(s, dir, "orders").filter(
        col("o_orderdate") >= "1996-10-01" && col("o_orderdate") < "1997-01-01")
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"), col("c_mktsegment"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")).cast("double"), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
           |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           |             AS DOUBLE), 4) AS revenue
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |WHERE l_returnflag = 'R'
           |  AND o_orderdate >= '1996-10-01' AND o_orderdate < '1997-01-01'
           |GROUP BY 1, 2, 3, 4, 5
           |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    doc = "TPC-H Q10 shape: filtered fact rollup per customer, TakeOrdered top-20 (Q10).")

  // ---- Q11: TPC-H-Q11-shaped important-stock scan ----------------------------
  // Per-part value held by one nation's suppliers, kept only above a
  // fraction of the nation's TOTAL value — a grouped aggregate filtered
  // against an uncorrelated scalar aggregate over the SAME filtered join.
  // The scalar side reduces to one row and broadcasts into the HAVING
  // filter; nothing re-executes per group. Both sums are DECIMAL so the
  // threshold comparison is exact. (No partsupp in the corpus: "value" is
  // shipped extendedprice*quantity of the nation's suppliers.)
  private val q11 = GQuery(
    "q11_important_stock",
    (s, dir) => Tables.sqlOn(s,
      "lineitem" -> t(s, dir, "lineitem"), "supplier" -> t(s, dir, "supplier"),
      "nation" -> t(s, dir, "nation")) { v =>
      s"""SELECT l_partkey AS ps_partkey,
         |  round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4)))
         |             AS DOUBLE), 4) AS part_value
         |FROM ${v("lineitem")}
         |JOIN ${v("supplier")} ON l_suppkey = s_suppkey
         |JOIN ${v("nation")} ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3'
         |GROUP BY l_partkey
         |HAVING sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) >
         |  (SELECT sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) * 0.001
         |   FROM ${v("lineitem")}
         |   JOIN ${v("supplier")} ON l_suppkey = s_suppkey
         |   JOIN ${v("nation")} ON s_nationkey = n_nationkey
         |   WHERE n_name = 'NATION_3')""".stripMargin
    },
    Some("""SELECT l_partkey AS ps_partkey,
           |  round(CAST(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4)))
           |             AS DOUBLE), 4) AS part_value
           |FROM lineitem
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |WHERE n_name = 'NATION_3'
           |GROUP BY l_partkey
           |HAVING sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) >
           |  (SELECT sum(CAST(l_extendedprice * l_quantity AS DECIMAL(28,4))) * 0.001
           |   FROM lineitem
           |   JOIN supplier ON l_suppkey = s_suppkey
           |   JOIN nation ON s_nationkey = n_nationkey
           |   WHERE n_name = 'NATION_3')""".stripMargin),
    doc = "TPC-H Q11 shape: grouped aggregate gated by an uncorrelated scalar total (Q11).")

  // ---- Q13: TPC-H-Q13-shaped customer order-count distribution ---------------
  // A histogram of customers by how many qualifying orders they placed —
  // LEFT OUTER join with the qualifier INSIDE the ON clause (so customers
  // with zero qualifying orders survive with count 0), then TWO stacked
  // aggregates: per-customer count, then count-of-counts. The second
  // aggregate's input is one row per customer, so its shuffle is tiny;
  // the first is the only wide exchange. (No o_comment in the corpus; the
  // qualifier excludes URGENT orders instead.)
  private val q13 = GQuery(
    "q13_customer_distribution",
    (s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
    Some("""SELECT c_count, count(*) AS custdist
           |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
           |      FROM customer
           |      LEFT OUTER JOIN orders
           |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           |      GROUP BY c_custkey) c_orders
           |GROUP BY c_count""".stripMargin),
    doc = "TPC-H Q13 shape: ON-clause-filtered left join under stacked aggregates (Q13).")

  // ---- Q15: TPC-H-Q15-shaped top supplier ------------------------------------
  // The argmax-over-an-aggregate shape: a quarter's revenue per supplier,
  // then the supplier(s) whose revenue EQUALS the maximum. The max is a
  // 1-row aggregate of the revenue view cross-attached by broadcast — the
  // sanctioned j6 pattern — and the equality compares DECIMAL totals, so
  // ties are exact, not epsilon. Spark evaluates the revenue subtree twice
  // (once per branch); both are the same pruned scan + one aggregate, and
  // neither is a global sort.
  private val q15 = GQuery(
    "q15_top_supplier",
    (s, dir) => {
      def revenue = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1996-04-01")
        .groupBy(col("l_suppkey"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(28,6)")).as("d_rev"))
      val best = revenue.agg(max(col("d_rev")).as("d_max"))
      revenue
        .join(broadcast(best), col("d_rev") === col("d_max"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("d_rev").cast("double"), 4).as("total_revenue"))
    },
    Some("""WITH revenue AS (
           |  SELECT l_suppkey,
           |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS d_rev
           |  FROM lineitem
           |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
           |  GROUP BY l_suppkey)
           |SELECT s_suppkey, s_name,
           |  round(CAST(d_rev AS DOUBLE), 4) AS total_revenue
           |FROM revenue
           |JOIN supplier ON l_suppkey = s_suppkey
           |WHERE d_rev = (SELECT max(d_rev) FROM revenue)""".stripMargin),
    doc = "TPC-H Q15 shape: per-supplier revenue view, exact-decimal argmax selection (Q15).")

  // ---- X6: Z-order data layout — multi-dimensional file pruning --------------
  // x3/x4 prune on the PARTITION column; a second filter dimension (user)
  // still reads every file of the matching partitions. Writing the fact
  // clustered on the Morton interleave of (user_id, ts) bounds every file's
  // span in BOTH dimensions, so parquet footer min/max stats prune files for
  // user filters, time filters, or boxes — the OPTIMIZE ZORDER layout
  // pattern, built from codegen'd bit expressions + one range shuffle
  // (graft.sources.Layout). The oracle proves the layout is LOSSLESS (same
  // rows back through the box filter); LayoutSpec quantifies the pruning
  // (file-level user-range stats vs a time-sorted layout of the same data).
  private def zorderedEvents(s: SparkSession, dir: String): String =
    Tables.scratchOnce(dir, "events_zorder") { path =>
      val ev = t(s, dir, "events")
        .withColumn("ts_s", unix_timestamp(col("ts")))
        .drop("ts")
      graft.sources.Layout.zorderWrite(ev, "user_id", "ts_s", path, 8)
    }

  private val x6 = GQuery(
    "x6_zorder_layout",
    (s, dir) =>
      s.read.parquet(zorderedEvents(s, dir))
        .filter(col("user_id").between(5, 25) &&
          col("ts_s").between(1704844800L, 1705276800L))
        .select(col("event_id"), col("user_id"), col("ts_s")),
    Some("""SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
           |FROM events
           |WHERE user_id BETWEEN 5 AND 25
           |  AND CAST(floor(epoch(ts)) AS BIGINT) BETWEEN 1704844800 AND 1705276800""".stripMargin),
    doc = "Z-order (Morton) clustered layout: box filter over both dims, lossless + file-prunable (X6).")

  // ---- X5: schema-test constraint audit (the dbt test surface) --------------
  // dbt's four generic tests (unique, not_null, accepted_values,
  // relationships) compiled the way dbt compiles them — each a violation
  // query — and folded into the one-row-per-check `dbt test` result table
  // via [[graft.pipeline.Checks]]. Every check is one aggregate or one
  // LEFT ANTI pass over its table; the union is check-count-sized. The
  // lineitem.unique and orderstatus rows are DELIBERATE failures (a fact
  // table's order key repeats per line; 'P' is outside the accepted set)
  // so the counting path is exercised by nonzero counts, not just zeros.
  private val x5 = GQuery(
    "x5_constraint_audit",
    (s, dir) => {
      import graft.pipeline.Checks
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val cust = t(s, dir, "customer")
      Checks.summarize(
        ("unique", "orders.o_orderkey",
          Checks.unique(orders, Seq("o_orderkey"))),
        ("unique", "lineitem.l_orderkey",
          Checks.unique(li, Seq("l_orderkey"))),
        ("not_null", "customer.c_name+c_mktsegment",
          Checks.notNull(cust, Seq("c_name", "c_mktsegment"))),
        ("accepted_values", "orders.o_orderstatus",
          Checks.acceptedValues(orders, "o_orderstatus", Seq("F", "O"))),
        ("relationships", "orders.o_custkey->customer",
          Checks.relationships(orders, "o_custkey", cust, "c_custkey")),
        ("relationships", "lineitem.l_partkey->part",
          Checks.relationships(li, "l_partkey", t(s, dir, "part"), "p_partkey")))
    },
    Some("""SELECT 'unique' AS check, 'orders.o_orderkey' AS target,
           |  (SELECT count(*) FROM (SELECT o_orderkey FROM orders
           |    GROUP BY 1 HAVING count(*) > 1)) AS n_violations
           |UNION ALL
           |SELECT 'unique', 'lineitem.l_orderkey',
           |  (SELECT count(*) FROM (SELECT l_orderkey FROM lineitem
           |    GROUP BY 1 HAVING count(*) > 1))
           |UNION ALL
           |SELECT 'not_null', 'customer.c_name+c_mktsegment',
           |  (SELECT count(*) FROM customer
           |   WHERE c_name IS NULL OR c_mktsegment IS NULL)
           |UNION ALL
           |SELECT 'accepted_values', 'orders.o_orderstatus',
           |  (SELECT count(*) FROM orders
           |   WHERE o_orderstatus NOT IN ('F', 'O') OR o_orderstatus IS NULL)
           |UNION ALL
           |SELECT 'relationships', 'orders.o_custkey->customer',
           |  (SELECT count(*) FROM orders o
           |   WHERE o_custkey IS NOT NULL AND NOT EXISTS
           |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           |UNION ALL
           |SELECT 'relationships', 'lineitem.l_partkey->part',
           |  (SELECT count(*) FROM lineitem l
           |   WHERE l_partkey IS NOT NULL AND NOT EXISTS
           |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))""".stripMargin),
    doc = "dbt test surface: unique/not_null/accepted_values/relationships folded into the result table (X5).")

  /** Exposed for plan-shape tests. */
  private[graft] def bucketedJoin(s: SparkSession, dir: String): DataFrame =
    x2.run(s, dir)

  // ---- J11: join-strategy control (hints change the plan, never the rows) ----
  // The tuning surface a deployment actually turns: the SAME join semantics
  // forced through all three distributed equi-join strategies — BROADCAST
  // (dim ships to every executor; right when one side is small), MERGE
  // (sort both sides; right when both are huge and sorted output helps
  // downstream), SHUFFLE_HASH (hash the smaller side per partition; right
  // when both are big but one is modest and sorting is waste). The union
  // carries all three in ONE plan, so the plan-shape test can assert
  // BroadcastHashJoin + SortMergeJoin + ShuffledHashJoin all materialized;
  // the oracle states each branch identically — hash-equality IS the proof
  // that strategy choice never leaks into results.
  private val j11 = GQuery(
    "j11_join_strategy_hints",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      def branch(tag: String, dim: DataFrame): DataFrame =
        o.join(dim, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total"))
          .select(lit(tag).as("strategy"), col("c_mktsegment"), col("n"),
            col("total"))
      branch("broadcast", c.hint("broadcast"))
        .unionAll(branch("merge", c.hint("merge")))
        .unionAll(branch("shuffle_hash", c.hint("shuffle_hash")))
    },
    Some("""WITH j AS (
           |  SELECT c_mktsegment, count(*) AS n,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  GROUP BY c_mktsegment)
           |SELECT 'broadcast' AS strategy, * FROM j
           |UNION ALL SELECT 'merge', * FROM j
           |UNION ALL SELECT 'shuffle_hash', * FROM j""".stripMargin),
    doc = "Join-strategy hints: broadcast/merge/shuffle_hash — three plans, one result (J11/§2.3).")

  // ---- S10: custom DataSource V2 — the KV draft-state store as a table -------
  // The reference's DynamoDB store (S9) reached as a PLANNED SCAN instead of
  // driver-side API calls: a per-user state snapshot is written through
  // `graft.sources.KvStore` (hash-bucketed JSON-lines layout) and read back
  // through the graft-kv DSv2 connector, whose IN-list key predicate prunes
  // the scan to the matching hash buckets at PLANNING time (KvSourceSpec
  // asserts 1 bucket for equality, <=|list| for IN, full fan-out otherwise).
  // The oracle recomputes the snapshot rows for the probed keys straight
  // from events — so the gate covers the writer's layout, the reader's JSON
  // decode (doubles round-trip bit-exactly via shortest-repr), pruning
  // correctness, and the aggregate derivation in one pass.
  private val s10 = GQuery(
    "s10_kv_source_scan",
    (s, dir) => {
      // skip-if-exists (scratchOnce): the snapshot is deterministic per scale
      // dir, and an unconditional overwrite would race a prior result's lazy
      // DSv2 scan under the concurrent-build contract. Completion marker is
      // the kv META file (written last), not _SUCCESS.
      val kvDir = Tables.scratchOnce(dir, "kv_state",
          done = graft.sources.KvStore.exists) { path =>
        val snap = t(s, dir, "events")
          .groupBy(concat(lit("u"), col("user_id")).as("ukey"))
          .agg(count(lit(1)).as("n_events"),
            unix_timestamp(max(col("ts"))).as("last_ts_sec"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
        graft.sources.KvStore.write(snap, path, "ukey", 8)
      }
      s.read.format("graft.sources.KvTableProvider").load(kvDir)
        .filter(col("ukey").isin("u1", "u3", "u5", "u7", "u11"))
    },
    Some("""SELECT 'u' || CAST(user_id AS VARCHAR) AS ukey, count(*) AS n_events,
           |  CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts_sec,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
           |FROM events
           |WHERE user_id IN (1, 3, 5, 7, 11)
           |GROUP BY user_id""".stripMargin),
    doc = "Custom DSv2 KV source: bucket-pruned key probe over the written snapshot (S10/§7.3).")

  // ---- S11: XML ingest (native spark-xml, Spark 4 surface) --------------------
  // The remaining file-format face next to CSV/TSV/JSONL/ORC/parquet: events
  // round-trip through the native XML source (write rowTag records, read
  // back with a declared schema) and the aggregate over the re-read rows is
  // pinned against the oracle's direct scan — so the gate covers the
  // writer's serialization AND the reader's parse. Doubles survive because
  // XML text uses shortest-round-trip formatting; the timestamp is surfaced
  // as epoch seconds BEFORE the write (timestamp textual round trip is the
  // format knob a pipeline should not gamble on).
  private val s11 = GQuery(
    "s11_xml_roundtrip",
    (s, dir) => {
      val src = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_timestamp(col("ts")).as("ts_sec"))
      // skip-if-exists (scratchOnce): deterministic encode per scale dir;
      // an unconditional overwrite would race a prior result's lazy read
      val xmlDir = Tables.scratchOnce(dir, "xml_events") { path =>
        src.write.mode("overwrite").option("rowTag", "event")
          .format("xml").save(path)
      }
      s.read.format("xml").option("rowTag", "event")
        .schema(src.schema).load(xmlDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          max(col("ts_sec")).as("max_ts_sec"),
          sum(col("event_id")).as("id_sum"))
    },
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts_sec,
           |  CAST(sum(event_id) AS BIGINT) AS id_sum
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "XML ingest: rowTag write + declared-schema read, aggregate pinned to the direct scan (S11/§2.1).")

  // ---- S12: ORC round trip ----------------------------------------------------
  // The other columnar lake format: same vectorized-reader, predicate-
  // pushdown, column-pruning contract as parquet, different footer/stripe
  // encoding. A snappy-compressed ORC write is read back THROUGH a pushed
  // filter and aggregated, pinned to the oracle's direct evaluation — so
  // both the encode and the pushdown-read agree with the parquet source of
  // truth.
  private val s12 = GQuery(
    "s12_orc_roundtrip",
    (s, dir) => {
      // Skip-if-exists (Tables.scratchOnce): the encode is deterministic per
      // scale dir, and re-overwriting on every build would race the LAZY
      // read below under the concurrent-build contract — a second build could
      // delete stripe files while a prior result is still scanning them.
      val orcDir = Tables.scratchOnce(dir, "orc_orders") { path =>
        t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
          .write.mode("overwrite").option("compression", "snappy")
          .orc(path)
      }
      s.read.orc(orcDir)
        .filter(col("o_totalprice") > 150000)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          min(col("o_orderkey")).as("min_key"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  min(o_orderkey) AS min_key
           |FROM orders WHERE o_totalprice > 150000
           |GROUP BY o_orderstatus""".stripMargin),
    doc = "ORC round trip: snappy write + pushed-filter read, pinned to the direct scan (S12/§2.1).")

  // ---- S13: CSV/TSV all-strings round trip (the S1 contract, hash-gated) ------
  // The reference's external sources are tab/comma files read ALL-STRINGS
  // with empty-vs-null distinctions handled at the staging layer
  // (models/stage/mapping/stg_mpd_player_id_map.sql:20-24 filters '' rows;
  // _sources.yml declares every column VARCHAR). S1's suite coverage reads
  // generated fixture files; this query puts the same contract under the
  // driver's DuckDB hash gate: seed a three-way value class (real string /
  // empty string / NULL) from the corpus, round-trip it through a
  // tab-separated file with an EXPLICIT null marker (\N — the external-dump
  // convention; Spark's default read folds quoted "" and bare empty into
  // null, silently merging the classes), read it back with an all-strings
  // schema, and aggregate per class — so null/'' surviving the trip
  // DISTINCTLY, plus the cast-at-use-site numeric read, is what the oracle
  // equality proves.
  // Skip-if-exists (s12/x6 discipline): the file is deterministic per scale
  // dir and must not be rewritten under a concurrent reader.
  private val s13 = GQuery(
    "s13_csv_tsv_allstrings",
    (s, dir) => {
      val csvDir = Tables.scratchOnce(dir, "tsv_customer") { path =>
        t(s, dir, "customer")
          .select(col("c_custkey").cast("string").as("key"),
            when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
              .when(col("c_custkey") % 7 === 1, lit(""))
              .otherwise(col("c_mktsegment")).as("seg"))
          .write.mode("overwrite")
          .option("header", "true").option("sep", "\t")
          .option("nullValue", "\\N").option("emptyValue", "\"\"")
          .csv(path)
      }
      val allStrings = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("key",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("seg",
          org.apache.spark.sql.types.StringType)))
      s.read.option("header", "true").option("sep", "\t")
        .option("nullValue", "\\N").option("emptyValue", "")
        .schema(allStrings).csv(csvDir)
        .groupBy(when(col("seg").isNull, "null")
          .when(col("seg") === "", "empty")
          .otherwise(col("seg")).as("seg_class"))
        .agg(count(lit(1)).as("n"),
          sum(col("key").cast("bigint")).as("key_sum"),
          sum(length(col("seg"))).cast("bigint").as("len_sum"))
    },
    Some("""WITH src AS (
           |  SELECT c_custkey,
           |    CASE WHEN c_custkey % 7 = 0 THEN NULL
           |         WHEN c_custkey % 7 = 1 THEN ''
           |         ELSE c_mktsegment END AS seg
           |  FROM customer)
           |SELECT CASE WHEN seg IS NULL THEN 'null'
           |            WHEN seg = '' THEN 'empty'
           |            ELSE seg END AS seg_class,
           |  count(*) AS n,
           |  CAST(sum(c_custkey) AS BIGINT) AS key_sum,
           |  CAST(sum(len(seg)) AS BIGINT) AS len_sum
           |FROM src GROUP BY 1""".stripMargin),
    doc = "TSV all-strings round trip: ''-vs-NULL survive distinctly, numerics cast at use site (S13/S1/§2.1).")

  // ---- S14: CTAS catalog sink (S7's driver-gated face) ------------------------
  // The reference materializes every model as CREATE TABLE AS SELECT
  // (config(materialized='table'), dbt_project.yml:40-51); the suite gates
  // that via PipelineSpec's catalog runs, and this query puts the same
  // contract under the driver's hash gate: CTAS a projection into a catalog
  // table (external LOCATION in scratch — never the working-dir warehouse),
  // read it back THROUGH the catalog name with a pushed filter, aggregate,
  // and pin against the oracle's direct evaluation — so the saveAsTable
  // encode, the metastore round trip, and the catalog read path all agree
  // with the parquet source of truth. Skip-if-exists under the scratch lock
  // (s12/x6 discipline): the table is deterministic per scale dir and must
  // not be rewritten under a concurrent reader.
  private val s14 = GQuery(
    "s14_ctas_catalog_sink",
    (s, dir) => {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val table = s"graft_ctas_orders_$tag"
      val path = Tables.scratchPath(dir, "ctas_orders")
      Tables.scratchWriteLock.synchronized {
        // both checks: with a persistent metastore a catalog entry can
        // outlive a reclaimed scratch dir — rebuild when either is missing
        if (!s.catalog.tableExists(table) ||
            !Tables.successMarkerExists(path)) {
          s.sql(s"DROP TABLE IF EXISTS $table")
          t(s, dir, "orders")
            .select("o_orderkey", "o_orderstatus", "o_orderpriority",
              "o_totalprice")
            .write.mode("overwrite")
            .option("path", path)
            .saveAsTable(table)
        }
      }
      s.table(table)
        .filter(col("o_orderstatus") =!= "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"),
          max(col("o_orderkey")).as("max_key"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           |  max(o_orderkey) AS max_key
           |FROM orders WHERE o_orderstatus <> 'F'
           |GROUP BY o_orderpriority""".stripMargin),
    doc = "CTAS catalog sink: saveAsTable + catalog read with pushed filter, pinned to the direct scan (S14/S7/§2.1).")

  // ---- S15: hidden partitioning (Iceberg partition-transform model) -----------
  // The reference's Iceberg tables (dbt_project.yml:40-43) partition by
  // TRANSFORMS the query never references — the one manifest-level behavior
  // the engine lacked. Here events is laid out by day(ts) + bucket(16,
  // user_id); the query filters on the RAW columns only, and the
  // HiddenPartitionPruning optimizer rule derives the implied partition
  // predicates (day range from the ts range, bucket IN from the user IN) so
  // the scan touches only matching day/bucket directories — at 100 TB that
  // is the difference between listing every file and reading two weeks of
  // four users. HiddenPartitioningSpec asserts the PartitionFilters +
  // fewer-files mechanics; this query pins the SEMANTICS: pruned results
  // hash-equal the oracle's full-scan filter. Skip-if-exists under
  // scratchOnce with the spec file as the commit marker (written last).
  private val s15 = GQuery(
    "s15_hidden_partitioning",
    (s, dir) => {
      val hpDir = Tables.scratchOnce(dir, "hp_events",
          done = graft.sources.HiddenPartitioning.exists) { path =>
        graft.sources.HiddenPartitioning.write(t(s, dir, "events"), path, Seq(
          graft.sources.HiddenPartitioning.DayT("ts"),
          graft.sources.HiddenPartitioning.BucketT(16, "user_id")))
      }
      graft.sources.HiddenPartitioning.read(s, hpDir)
        .filter(col("ts") >= "2024-01-10" && col("ts") < "2024-01-20" &&
          col("user_id").isin(5L, 17L, 42L, 99L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
    },
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events
           |WHERE ts >= '2024-01-10' AND ts < '2024-01-20'
           |  AND user_id IN (5, 17, 42, 99)
           |GROUP BY event_type""".stripMargin),
    doc = "Hidden partitioning: day+bucket transform layout, raw-column filters prune via derived partition predicates (S15/§2.1).")

  // ---- S16: partition-spec evolution -------------------------------------------
  // The other half of the Iceberg partitioning contract (dbt_project.yml:
  // 40-43): a long-lived table RE-partitions as volume grows, and the files
  // already written stay under their original spec. Here the first half of
  // January lands under day(ts); the spec then evolves to day(ts) +
  // bucket(16, user_id) and the second half appends under it. The query
  // filters raw columns across the evolution boundary: the optimizer pushes
  // the filter into both era branches and HiddenPartitionPruning derives
  // each era's OWN predicates — day ranges in era 0, day ranges AND bucket
  // IN in era 1. At 100 TB this is what lets a table migrate day->hour
  // without rewriting history, with every era still pruned.
  // HiddenPartitioningSpec proves the per-era fewer-files mechanics; this
  // query pins the semantics: the two-era union hash-equals the oracle's
  // single-table full-scan filter. Skip-if-exists under scratchOnce with
  // manifest + current-era _SUCCESS as the completion check.
  private val s16 = GQuery(
    "s16_partition_spec_evolution",
    (s, dir) => {
      val hpDir = Tables.scratchOnce(dir, "hp_events_evo",
          done = graft.sources.HiddenPartitioning.evolvedExists(_, 1)) { path =>
        val ev = t(s, dir, "events")
        graft.sources.HiddenPartitioning.write(
          ev.filter(col("ts") < "2024-01-16"), path,
          Seq(graft.sources.HiddenPartitioning.DayT("ts")))
        graft.sources.HiddenPartitioning.evolveSpec(s, path, Seq(
          graft.sources.HiddenPartitioning.DayT("ts"),
          graft.sources.HiddenPartitioning.BucketT(16, "user_id"))): Unit
        graft.sources.HiddenPartitioning.append(
          ev.filter(col("ts") >= "2024-01-16"), path)
      }
      graft.sources.HiddenPartitioning.read(s, hpDir)
        .filter(col("ts") >= "2024-01-12" && col("ts") < "2024-01-22" &&
          col("user_id").isin(5L, 17L, 42L, 99L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
    },
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events
           |WHERE ts >= '2024-01-12' AND ts < '2024-01-22'
           |  AND user_id IN (5, 17, 42, 99)
           |GROUP BY event_type""".stripMargin),
    doc = "Partition-spec evolution: day-era files and day+bucket-era files answer one boundary-spanning query, each era pruned under its own spec (S16/§2.1).")

  // ---- S17: snapshot versioning x hidden partitioning (the full contract) ------
  // The composition the reference's storage layer actually is
  // (dbt_project.yml:40-43 — Iceberg tables: snapshots AND hidden
  // partitioning at once): era data directories each pruned under their own
  // spec, referenced by tiny per-snapshot manifests that publish atomically.
  // The build walks the whole lifecycle — create(day spec) → evolveSpec
  // (day+bucket) → WAP append with a batch-id marker → compact (rewrite the
  // era history under the current spec; older snapshots keep their eras) —
  // and the query then reads TWO snapshots of the same table: the latest
  // (post-compaction) and time-travel v0 (pre-evolution). Hash-matching the
  // oracle's two plain-filter recomputations proves, in one gate, that the
  // append added exactly the second half, the compaction rewrote without
  // disturbing a row, and v0 still reads exactly its original era set.
  // VersionedHiddenTableSpec proves the fewer-files pruning + vacuum + race
  // mechanics; this query pins the end-to-end semantics under the driver's
  // hash gate. Skip-if-exists via completedThrough(v=3): a crash anywhere
  // in the lifecycle rebuilds from a clean dir.
  private val s17 = GQuery(
    "s17_versioned_hidden",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = Tables.scratchOnce(dir, "vht_events",
          done = VHT.completedThrough(_, 3L)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        VHT.evolveSpec(s, path, Seq(
          graft.sources.HiddenPartitioning.DayT("ts"),
          graft.sources.HiddenPartitioning.BucketT(16, "user_id"))): Unit
        // the consumer replay pattern: skip an already-published batch id
        if (!VHT.publishedBatchIds(s, path).contains("jan-back-half")) {
          VHT.append(s, path, ev.filter(col("ts") >= "2024-01-16"),
            batchId = Some("jan-back-half"))() match {
            case Right(_) => ()
            case Left(violations) => throw new IllegalStateException(
              s"s17 WAP audit vetoed the append: ${violations.mkString("; ")}")
          }
        }
        VHT.compact(s, path): Unit
      }
      def slice(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .filter(col("ts") >= "2024-01-12" && col("ts") < "2024-01-22" &&
          col("user_id").isin(5L, 17L, 42L, 99L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
        .withColumn("snapshot", lit(tag))
      slice(VHT.read(s, vhtDir), "latest")
        .unionByName(slice(VHT.read(s, vhtDir, Some(0L)), "v0"))
    },
    Some("""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events
           |WHERE ts >= '2024-01-12' AND ts < '2024-01-22'
           |  AND user_id IN (5, 17, 42, 99)
           |GROUP BY event_type
           |UNION ALL
           |SELECT 'v0' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events
           |WHERE ts >= '2024-01-12' AND ts < '2024-01-22' AND ts < '2024-01-16'
           |  AND user_id IN (5, 17, 42, 99)
           |GROUP BY event_type""".stripMargin),
    doc = "Versioned hidden-partitioned table: create/evolve/WAP-append/compact lifecycle, latest + time-travel snapshots hash-checked in one query (S17/§2.1).")

  // ---- S18: file-level stats skipping (Iceberg manifest stats contract) -------
  // The third leg of the Iceberg storage contract (dbt_project.yml:40-43):
  // partition pruning (s15), spec evolution (s16), snapshots (s17) — and
  // per-DATA-FILE min/max stats that let the planner skip files inside the
  // surviving partitions. The build lays events out day-partitioned with
  // user-range-clustered write tasks, so each day directory holds files
  // covering narrow user_id spans; HiddenPartitioning.write harvests
  // per-file footer stats into `_file_stats.json`. The query filters BOTH
  // dimensions: HiddenPartitionPruning keeps only the two day directories,
  // then StatsFileSkipping drops the in-day files whose user_id range
  // cannot match — at plan time, before any task is scheduled (at 100 TB
  // that is the difference between "schedule 1000 tasks that each read one
  // footer and return nothing" and "schedule none of them").
  // FileStatsSpec proves the fewer-files mechanics and the soundness edges
  // (nulls, stale manifests, type domains); this query pins the semantics
  // under the driver's hash gate: the stats-pruned scan must hash-equal the
  // oracle's full-scan filter.
  /** The s18/s19 shared artifact: events day-partitioned with
    * user-range-clustered write tasks, per-file stats harvested by the
    * write face. */
  private def hpEventsStats(s: SparkSession, dir: String): String =
    Tables.scratchOnce(dir, "hp_events_stats",
        done = graft.sources.HiddenPartitioning.exists) { path =>
      val ev = t(s, dir, "events").repartitionByRange(8, col("user_id"))
      graft.sources.HiddenPartitioning.write(ev, path,
        Seq(graft.sources.HiddenPartitioning.DayT("ts")))
    }

  private val s18 = GQuery(
    "s18_stats_skipping_scan",
    (s, dir) => {
      graft.sources.HiddenPartitioning.read(s, hpEventsStats(s, dir))
        .filter(col("ts") >= "2024-01-08" && col("ts") < "2024-01-10" &&
          col("user_id").between(10L, 40L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("user_id")).as("min_user"),
          max(col("user_id")).as("max_user"))
    },
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(user_id) AS min_user, max(user_id) AS max_user
           |FROM events
           |WHERE ts >= '2024-01-08' AND ts < '2024-01-10'
           |  AND user_id BETWEEN 10 AND 40
           |GROUP BY event_type""".stripMargin),
    doc = "File-level stats skipping: footer-harvested per-file min/max prune files inside surviving day partitions at plan time (S18/§2.1).")

  // ---- S19: partition metadata table (Iceberg's $partitions) ------------------
  // The ops face of the stats manifests: rows-per-partition answered from
  // METADATA alone — the per-era `_file_stats.json` row counts aggregate on
  // the driver, no parquet data page is read (the plan is a LocalRelation;
  // MetaTableSpec asserts zero file scans). At 100 TB "how big is each
  // day?" must not cost a cluster job — Iceberg answers it from manifests,
  // and so does this face. The hash gate is the point: the metadata answer
  // must equal DuckDB's full recount of the raw events, proving the
  // harvested counts exact end to end (write -> footer harvest -> manifest
  // -> metadata aggregation). Same day can span eras on an evolved table,
  // so the query folds eras to the table-level answer.
  private val s19 = GQuery(
    "s19_partition_metadata_table",
    (s, dir) => {
      val hpDir = hpEventsStats(s, dir)
      graft.sources.HiddenPartitioning.partitionsMeta(s, hpDir)
        .select(
          to_date(substring_index(col("partition"), "=", -1)).as("day"),
          col("n_rows"))
        .groupBy(col("day")).agg(sum(col("n_rows")).as("n_rows"))
    },
    Some("""SELECT CAST(ts AS DATE) AS day, count(*) AS n_rows
           |FROM events GROUP BY 1""".stripMargin),
    doc = "Partition metadata table: rows-per-day from the stats manifests alone (no data scan), hash-proven against a full recount (S19/§2.1).")

  // ---- S20: metadata count pushdown --------------------------------------------
  // Iceberg answers a bare count(*) from its manifests; StatsCountPushdown
  // does the same from the stats layer — an ungrouped, unfiltered count
  // over a stats-carrying table folds to a LocalRelation at plan time
  // (MetaTableSpec asserts the fold and every disqualifying guard: a
  // filter, count(col), grouping, or a file the manifest does not list all
  // keep the real scan). The hash gate proves the folded answer equals
  // DuckDB's actual count — the metadata path can never drift from the
  // data. One query, one row, and at 100 TB the difference between a
  // catalog lookup and a cluster job.
  private val s20 = GQuery(
    "s20_metadata_count",
    (s, dir) => {
      graft.sources.HiddenPartitioning.read(s, hpEventsStats(s, dir))
        .agg(count(lit(1)).as("n_rows"))
    },
    Some("SELECT count(*) AS n_rows FROM events"),
    doc = "Metadata count pushdown: bare count(*) folded from the stats manifests at plan time, hash-proven against the real count (S20/§2.1).")

  // ---- S21: row-level DELETE with snapshot semantics ---------------------------
  // The last leg of the Iceberg storage contract (dbt_project.yml:40-43 —
  // Athena Iceberg tables take DELETE FROM): copy-on-write row deletion that
  // publishes a NEW snapshot while every older snapshot keeps reading the
  // deleted rows. The build walks create(day spec) → WAP append → delete a
  // keyed ts×user slice; the query then reads BOTH faces of the contract in
  // one result: the post-delete latest snapshot (oracle: NOT(predicate)
  // recompute) and time-travel v1 (oracle: the untouched full table). A
  // hash match on both halves proves the delete removed exactly the
  // predicate's rows — no more, no fewer — AND physically preserved the
  // pre-delete history. The copy-on-write scope is stats-driven: eras whose
  // partition dirs + per-file stats prove the predicate can't match are
  // carried by reference, not rewritten (VersionedHiddenTableSpec pins that
  // mechanics; at 100 TB a keyed delete rewrites one era's matching files'
  // rows, not the table).
  private val s21 = GQuery(
    "s21_row_level_delete",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val delPred = col("ts") >= "2024-01-18" && col("ts") < "2024-01-25" &&
        col("user_id").between(10L, 40L)
      val vhtDir = Tables.scratchOnce(dir, "vht_events_del",
          done = VHT.completedThrough(_, 2L)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        VHT.append(s, path, ev.filter(col("ts") >= "2024-01-16"))() match {
          case Right(_) => ()
          case Left(violations) => throw new IllegalStateException(
            s"s21 WAP audit vetoed the append: ${violations.mkString("; ")}")
        }
        val vDel = VHT.delete(s, path, delPred)
        require(vDel == 2L, s"s21 delete must publish snapshot v2, got $vDel")
      }
      def slice(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
        .withColumn("snapshot", lit(tag))
      slice(VHT.read(s, vhtDir), "post_delete")
        .unionByName(slice(VHT.read(s, vhtDir, Some(1L)), "pre_delete"))
    },
    Some("""SELECT 'post_delete' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events
           |WHERE NOT (ts >= '2024-01-18' AND ts < '2024-01-25'
           |           AND user_id BETWEEN 10 AND 40)
           |GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_delete' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events
           |GROUP BY event_type""".stripMargin),
    doc = "Row-level DELETE (copy-on-write): post-delete snapshot and pre-delete time travel hash-checked in one query (S21/§2.1).")

  // ---- S22: merge-on-read DELETE (equality-delete files) -----------------------
  // The second Iceberg delete mode (s21 is copy-on-write): the matching
  // tuples land in a small equality-delete file scoped to the eras that
  // existed at delete time, NO data file is rewritten, and readers apply
  // the mask as a broadcast anti join. The query reads three faces in one
  // hash-gated result: the post-delete latest snapshot (oracle:
  // NOT(predicate)), pre-delete time travel (oracle: full table), and —
  // the part that distinguishes merge-on-read from a filter — rows
  // APPENDED AFTER the delete that are tuple-identical to deleted ones,
  // which must survive because the delete's era scope excludes the new
  // era (Iceberg's sequence-number rule). At 100 TB this is the GDPR
  // erasure path: a keyed delete writes kilobytes now and lets the next
  // scheduled compaction pay the rewrite.
  private val s22 = GQuery(
    "s22_merge_on_read_delete",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val delPred = col("ts") >= "2024-01-10" && col("ts") < "2024-01-14" &&
        col("user_id").between(3L, 9L) // user ids 0-14 exist at every scale
      val vhtDir = Tables.scratchOnce(dir, "vht_events_mor_u3_9",
          done = VHT.completedThrough(_, 3L)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        VHT.append(s, path, ev.filter(col("ts") >= "2024-01-16"))() match {
          case Right(_) => ()
          case Left(violations) => throw new IllegalStateException(
            s"s22 WAP audit vetoed the append: ${violations.mkString("; ")}")
        }
        val vDel = VHT.deleteMergeOnRead(s, path, delPred)
        require(vDel == 2L, s"s22 delete must publish snapshot v2, got $vDel")
        // re-append the 5 smallest deleted tuples VERBATIM: they are newer
        // than the delete file's era scope and must read back
        VHT.append(s, path,
          ev.filter(delPred).orderBy("event_id").limit(5))() match {
          case Right(_) => ()
          case Left(violations) => throw new IllegalStateException(
            s"s22 re-append vetoed: ${violations.mkString("; ")}")
        }
      }
      def slice(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
        .withColumn("snapshot", lit(tag))
      slice(VHT.read(s, vhtDir), "with_readds")
        .unionByName(slice(VHT.read(s, vhtDir, Some(2L)), "post_delete"))
        .unionByName(slice(VHT.read(s, vhtDir, Some(1L)), "pre_delete"))
    },
    Some("""WITH del AS (
           |  SELECT * FROM events
           |  WHERE ts >= '2024-01-10' AND ts < '2024-01-14'
           |    AND user_id BETWEEN 3 AND 9),
           |readds AS (SELECT * FROM del ORDER BY event_id LIMIT 5),
           |survivors AS (SELECT * FROM events
           |  WHERE NOT (ts >= '2024-01-10' AND ts < '2024-01-14'
           |             AND user_id BETWEEN 3 AND 9))
           |SELECT 'with_readds' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM (SELECT * FROM survivors UNION ALL SELECT * FROM readds)
           |GROUP BY event_type
           |UNION ALL
           |SELECT 'post_delete' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM survivors GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_delete' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "Merge-on-read DELETE: equality-delete file masks era-scoped reads (no rewrite), tuple-identical re-appends survive, time travel exact — three snapshots hash-checked in one query (S22/§2.1).")

  // ---- S23: row-level UPDATE with snapshot semantics ---------------------------
  // The second half of the Iceberg DML contract (s21/s22 are DELETE; Athena
  // Iceberg takes UPDATE ... SET ... WHERE on the reference's tables,
  // dbt_project.yml:40-43), copy-on-write mode: rewrite only the eras whose
  // partition dirs + per-file stats say the predicate CAN match, applying
  // the SET assignments to matching rows (FALSE/NULL rows pass through
  // verbatim — SQL UPDATE semantics), publish a new snapshot, keep older
  // snapshots reading the pre-update values. The query reads both contract
  // faces in one hash-gated result: the post-update latest snapshot (oracle:
  // CASE WHEN recompute — one SET moves rows ACROSS group keys, so a
  // mis-scoped update cannot hide inside its group) and time-travel v1
  // (oracle: the untouched table). At 100 TB a keyed correction rewrites
  // one era's matching files' rows, not the table.
  private val s23 = GQuery(
    "s23_row_level_update",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val upPred = col("ts") >= "2024-01-18" && col("ts") < "2024-01-25" &&
        col("user_id").between(10L, 40L)
      val vhtDir = Tables.scratchOnce(dir, "vht_events_upd",
          done = VHT.completedThrough(_, 2L)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        VHT.append(s, path, ev.filter(col("ts") >= "2024-01-16"))() match {
          case Right(_) => ()
          case Left(violations) => throw new IllegalStateException(
            s"s23 WAP audit vetoed the append: ${violations.mkString("; ")}")
        }
        val vUp = VHT.update(s, path, upPred, Map(
          "value" -> (col("value") * 2),
          "event_type" -> concat(col("event_type"), lit("_corrected"))))
        require(vUp == 2L, s"s23 update must publish snapshot v2, got $vUp")
      }
      def slice(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
        .withColumn("snapshot", lit(tag))
      slice(VHT.read(s, vhtDir), "post_update")
        .unionByName(slice(VHT.read(s, vhtDir, Some(1L)), "pre_update"))
    },
    Some("""WITH upd AS (
           |  SELECT event_id,
           |    CASE WHEN (ts >= '2024-01-18' AND ts < '2024-01-25'
           |               AND user_id BETWEEN 10 AND 40)
           |         THEN event_type || '_corrected' ELSE event_type END AS event_type,
           |    CASE WHEN (ts >= '2024-01-18' AND ts < '2024-01-25'
           |               AND user_id BETWEEN 10 AND 40)
           |         THEN value * 2 ELSE value END AS value
           |  FROM events)
           |SELECT 'post_update' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM upd GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_update' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "Row-level UPDATE (copy-on-write): SET moves rows across group keys, post-update snapshot and pre-update time travel hash-checked in one query (S23/§2.1).")

  /** Scratch versioned table whose snapshot history exercises every DML op
    * class — shared by s24 (changelog scan) and i11 (changelog-driven
    * incremental maintenance). History: v0 create(first half) → v1
    * append(rest) → v2 merge-on-read DELETE(user_id<10) → v3 compact
    * (op=replace: no logical change) → v4 copy-on-write UPDATE(user_id
    * 20–29: value+100) → v5 rollback to v2 (net reversal of the update). */
  private[queries] def vhtCdcEvents(s: SparkSession, dir: String): String = {
    val VHT = graft.sources.VersionedHiddenTable
    Tables.scratchOnce(dir, "vht_events_cdc_u10_14",
        done = VHT.completedThrough(_, 5L)) { path =>
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
      val ev = t(s, dir, "events")
      VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
        Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
      VHT.append(s, path, ev.filter(col("ts") >= "2024-01-16"))() match {
        case Right(_) => ()
        case Left(violations) => throw new IllegalStateException(
          s"cdc append vetoed: ${violations.mkString("; ")}")
      }
      val v2 = VHT.deleteMergeOnRead(s, path, col("user_id") < 10L)
      require(v2 == 2L, s"cdc delete must publish v2, got $v2")
      val v3 = VHT.compact(s, path)
      require(v3 == 3L, s"cdc compact must publish v3, got $v3")
      val v4 = VHT.update(s, path, col("user_id").between(10L, 14L),
        Map("value" -> (col("value") + 100)))
      require(v4 == 4L, s"cdc update must publish v4, got $v4")
      val v5 = VHT.rollback(s, path, 2L)
      require(v5 == 5L, s"cdc rollback must publish v5, got $v5")
    }
  }

  // ---- S24: changelog (CDC) scan ------------------------------------------------
  // Iceberg's changelog read / Delta's change data feed over the snapshot
  // history: the net row-level changes of (v0, v5], one history step per
  // commit. The oracle states each step's expected net from the base table:
  // commit 1 = the appended rows as inserts; commit 2 = the merge-on-read
  // delete's rows as deletes; commit 3 (compaction, op=replace) contributes
  // NOTHING — rows whose physical layout was rewritten are not changes;
  // commit 4 = the update as its old images (deletes) + new images
  // (inserts); commit 5 (rollback) = the update's exact reversal. The
  // changelog is era-aware: a step scans only the eras (or delete files)
  // that step touched, never the carried-over table — at 100 TB the feed is
  // priced by what changed, which is what makes downstream incremental
  // consumption (i11) viable at all.
  private val s24 = GQuery(
    "s24_changelog_scan",
    (s, dir) => {
      val vhtDir = vhtCdcEvents(s, dir)
      graft.sources.VersionedHiddenTable.changes(s, vhtDir, 0L)
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
    },
    Some("""WITH steps AS (
           |  SELECT 1 AS commit_version, 'insert' AS change_type,
           |         event_type, value, event_id
           |  FROM events WHERE ts >= '2024-01-16'
           |  UNION ALL
           |  SELECT 2, 'delete', event_type, value, event_id
           |  FROM events WHERE user_id < 10
           |  UNION ALL
           |  SELECT 4, 'delete', event_type, value, event_id
           |  FROM events WHERE user_id BETWEEN 10 AND 14
           |  UNION ALL
           |  SELECT 4, 'insert', event_type, value + 100, event_id
           |  FROM events WHERE user_id BETWEEN 10 AND 14
           |  UNION ALL
           |  SELECT 5, 'insert', event_type, value, event_id
           |  FROM events WHERE user_id BETWEEN 10 AND 14
           |  UNION ALL
           |  SELECT 5, 'delete', event_type, value + 100, event_id
           |  FROM events WHERE user_id BETWEEN 10 AND 14)
           |SELECT commit_version, change_type, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM steps GROUP BY 1, 2, 3""".stripMargin),
    doc = "Changelog (CDC) scan: net per-commit inserts/deletes across append, merge-on-read delete, compaction (no-op), copy-on-write update, and rollback — era-aware, hash-checked per step (S24/§2.1).")

  // ---- S25: storage-level MERGE (CDC upsert-apply, merge-on-read) ---------------
  // The upsert workhorse incremental pipelines publish through (dbt
  // `incremental`, Iceberg `MERGE INTO` — i9 builds the multi-clause
  // conditional form at the query level; this is the STORAGE contract): one
  // CDC batch = one published snapshot carrying one equality-delete file
  // (the matched pre-images) and one new era (the upserts) — matched keys
  // replaced, new keys inserted, deleteWhen keys removed, nothing rewritten.
  // The query reads both faces hash-gated: the post-merge latest (oracle:
  // keep ∪ upserts ∪ inserts recomputed from the base table) and pre-merge
  // time travel (oracle: the untouched table). At 100 TB a CDC batch costs
  // a broadcast key semi-join plus the batch write — the table itself is
  // never rewritten until a scheduled compaction.
  private val s25 = GQuery(
    "s25_storage_merge",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = Tables.scratchOnce(dir, "vht_events_merge",
          done = VHT.completedThrough(_, 2L)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        VHT.append(s, path, ev.filter(col("ts") >= "2024-01-16"))() match {
          case Right(_) => ()
          case Left(violations) => throw new IllegalStateException(
            s"s25 WAP audit vetoed the append: ${violations.mkString("; ")}")
        }
        // the CDC batch: updates (users 10-14), tombstones (users 5-7),
        // brand-new keys (users 8-9 shifted out of the key space)
        val upserts = ev.filter(col("user_id").between(10L, 14L))
          .withColumn("event_type", lit("merged"))
          .withColumn("value", col("value") + 1000)
        val tombstones = ev.filter(col("user_id").between(5L, 7L))
          .withColumn("event_type", lit("__deleted__"))
        val inserts = ev.filter(col("user_id").between(8L, 9L))
          .withColumn("event_id", col("event_id") + 10000000L)
          .withColumn("event_type", lit("inserted"))
        val vM = VHT.merge(s, path,
          upserts.unionByName(tombstones).unionByName(inserts), Seq("event_id"),
          deleteWhen = Some(col("event_type") === "__deleted__"),
          batchId = Some("s25-batch"))
        require(vM == 2L, s"s25 merge must publish snapshot v2, got $vM")
      }
      def slice(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
        .withColumn("snapshot", lit(tag))
      slice(VHT.read(s, vhtDir), "post_merge")
        .unionByName(slice(VHT.read(s, vhtDir, Some(1L)), "pre_merge"))
    },
    Some("""WITH merged AS (
           |  SELECT event_id, 'merged' AS event_type, value + 1000 AS value
           |  FROM events WHERE user_id BETWEEN 10 AND 14
           |  UNION ALL
           |  SELECT event_id + 10000000, 'inserted', value
           |  FROM events WHERE user_id BETWEEN 8 AND 9
           |  UNION ALL
           |  SELECT event_id, event_type, value
           |  FROM events
           |  WHERE user_id NOT BETWEEN 5 AND 7 AND user_id NOT BETWEEN 10 AND 14)
           |SELECT 'post_merge' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM merged GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_merge' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "Storage-level MERGE (merge-on-read CDC apply): upserts + inserts + tombstone deletes in one snapshot, post-merge and pre-merge time travel hash-checked (S25/§2.1).")

  // ---- S26: tag-pinned snapshot surviving retention GC --------------------------
  // Iceberg's named refs: an audit tag pins a snapshot (and every era it
  // references) through vacuum, regardless of the keep-N window — the
  // retention override that makes "the table as shipped to training run X"
  // reproducible months later. The builder tags the pre-delete snapshot,
  // deletes a keyed slice, then vacuums with keep=1 — which WOULD reclaim
  // the pre-delete data if the tag were decorative. The query reads both
  // faces hash-gated: the latest snapshot (oracle: survivors) and the
  // tagged snapshot BY NAME (oracle: the full table) — a hash match on the
  // tag face proves the pin protected real bytes, not just a version
  // number. At 100 TB tags are what separate "GC policy" from "data loss".
  private val s26 = GQuery(
    "s26_tag_pinned_read",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val delPred = col("ts") >= "2024-01-20" && col("user_id").between(0L, 7L)
      val vhtDir = Tables.scratchOnce(dir, "vht_events_tagged",
          done = p => VHT.completedThrough(p, 2L) &&
            scala.util.Try(VHT.tags(s, p).contains("audit-full")).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        VHT.append(s, path, ev.filter(col("ts") >= "2024-01-16"))() match {
          case Right(_) => ()
          case Left(violations) => throw new IllegalStateException(
            s"s26 WAP audit vetoed the append: ${violations.mkString("; ")}")
        }
        VHT.tag(s, path, "audit-full", 1L)
        val vDel = VHT.delete(s, path, delPred)
        require(vDel == 2L, s"s26 delete must publish snapshot v2, got $vDel")
        // keep=1 would reclaim v0 AND v1 (the full pre-delete data) if the
        // tag did not pin it
        val dropped = VHT.vacuum(s, path, keep = 1)
        require(dropped == Seq(0L), s"s26 vacuum must drop only v0: $dropped")
      }
      def slice(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
        .withColumn("snapshot", lit(tag))
      slice(VHT.read(s, vhtDir), "latest")
        .unionByName(slice(VHT.readTag(s, vhtDir, "audit-full"), "tagged"))
    },
    Some("""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events
           |WHERE NOT (ts >= '2024-01-20' AND user_id BETWEEN 0 AND 7)
           |GROUP BY event_type
           |UNION ALL
           |SELECT 'tagged' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "Named refs: an audit tag pins its snapshot and data through a keep=1 vacuum; latest + tag-name time travel hash-checked (S26/§2.1).")

  // ---- S27: storage-level schema evolution (ADD COLUMNS) ------------------------
  // The last Iceberg table-contract leg: Athena takes ALTER TABLE ADD
  // COLUMNS on the reference's tables, and here the evolution is simply an
  // append whose batch carries a new column — the snapshot's canonical
  // schema is the add-only fold of its eras' schemas, so pre-evolution rows
  // read the added column as a typed null and pre-evolution SNAPSHOTS keep
  // their own narrower schema (schema-as-of time travel). The query reads
  // both faces hash-gated: the widened latest (n_tagged = count of non-null
  // added-column values — exactly the appended rows, proving the backfill
  // is null and ONLY the backfill) and time-travel v0, whose schema the
  // builder asserts lacks the column entirely.
  private val s27 = GQuery(
    "s27_schema_evolution_storage",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = Tables.scratchOnce(dir, "vht_events_schema_evo",
          done = VHT.completedThrough(_, 1L)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        VHT.append(s, path,
          ev.filter(col("ts") >= "2024-01-16")
            .withColumn("source_tag", lit("batch2")))() match {
          case Right(_) => ()
          case Left(violations) => throw new IllegalStateException(
            s"s27 WAP audit vetoed the evolving append: ${violations.mkString("; ")}")
        }
        require(!VHT.read(s, path, Some(0L)).columns.contains("source_tag"),
          "s27: the pre-evolution snapshot must keep its own schema")
      }
      def slice(df: org.apache.spark.sql.DataFrame, tag: String,
          tagged: org.apache.spark.sql.Column) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          tagged.as("n_tagged"))
        .withColumn("snapshot", lit(tag))
      slice(VHT.read(s, vhtDir), "latest", count(col("source_tag")))
        .unionByName(slice(VHT.read(s, vhtDir, Some(0L)), "pre_evo",
          first(lit(null).cast("long"))))
    },
    Some("""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  count(CASE WHEN ts >= '2024-01-16' THEN 1 END) AS n_tagged
           |FROM events GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_evo' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  CAST(NULL AS BIGINT) AS n_tagged
           |FROM events WHERE ts < '2024-01-16' GROUP BY event_type""".stripMargin),
    doc = "Storage-level schema evolution: an evolving append widens the canonical schema, pre-evolution rows null-backfill, pre-evolution snapshots keep their schema — both faces hash-checked (S27/§2.1).")

  // ---- S28: scheduled table maintenance (compact-when-fragmented + retention) --
  // The operational loop a 100 TB deployment schedules (Iceberg's
  // rewrite_data_files + expire_snapshots pair): the DML path deliberately
  // defers all rewriting — six CDC merges leave six key masks and six
  // one-batch eras — and TableService.maintain reads that fragmentation
  // from MANIFESTS alone, folds it with one clustered compaction, and
  // retires the history. The hash gate is maintenance's entire contract:
  // the post-maintenance table must equal the pre-maintenance state
  // recomputed from scratch — a compaction that drops, duplicates, or
  // resurrects one row fails here. The builder additionally asserts the
  // physical outcome (one era, zero delete files, one retained snapshot),
  // so the query's clean read really is the folded layout.
  private val s28 = GQuery(
    "s28_table_maintenance",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = Tables.scratchOnce(dir, "vht_events_svc",
          done = p => scala.util.Try(
            VHT.versions(s, p) == Seq(7L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val h1 = t(s, dir, "events").filter(col("ts") < "2024-01-16")
        VHT.create(s, path, h1,
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        (0 until 6).foreach { k =>
          VHT.merge(s, path,
            h1.filter(col("user_id") === k.toLong)
              .withColumn("value", col("value") + 1000),
            Seq("event_id"), batchId = Some(s"svc-$k")): Unit
        }
        val rep = graft.sources.TableService.maintain(s, path,
          graft.sources.TableService.Policy(maxDelFiles = 4,
            clusterBy = Seq("user_id"), keepSnapshots = 1))
        require(rep.compacted && rep.delFiles == 6,
          s"s28: six key masks must trip the policy: $rep")
        require(VHT.versions(s, path) == Seq(7L),
          s"s28: retention must keep only the compacted snapshot")
        val (eras, dels) = (VHT.snapshotsMeta(s, path)
          .filter(col("version") === 7L).select("eras").head().getSeq[String](0),
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data"))
            .count(_.getPath.getName.startsWith("del-")))
        require(eras.size == 1 && dels == 0,
          s"s28: maintenance must fold to one era, zero masks: $eras, $dels")
      }
      VHT.read(s, vhtDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
    },
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM (SELECT event_id, event_type,
           |        CASE WHEN user_id BETWEEN 0 AND 5 THEN value + 1000
           |             ELSE value END AS value
           |      FROM events WHERE ts < '2024-01-16')
           |GROUP BY event_type""".stripMargin),
    doc = "Scheduled table maintenance: six CDC merges' fragmentation folded by one policy-driven clustered compaction + retention, content hash-proven unchanged (S28/§2.1).")

  /** Stats+NDV-carrying scratch copy of customer — j13's advised dimension. */
  private def ndvCustomer(s: SparkSession, dir: String): String =
    Tables.scratchOnce(dir, "ndv_customer", done = p =>
      scala.util.Try(graft.sources.FileStats.stats(s, p).exists(m =>
        m.nonEmpty && m.values.forall(_.cols.get("c_custkey").exists(_.ndv.isDefined))))
        .getOrElse(false)) { path =>
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
      t(s, dir, "customer").write.parquet(path)
      graft.sources.FileStats.write(s, path)
      graft.sources.FileStats.analyze(s, path, Seq("c_custkey"))
    }

  // ---- J13: NDV-advised join strategy (ANALYZE feeding the planner) -----------
  // The planning face of the ANALYZE pass (s20 stores per-file NDV; Iceberg
  // ships the same numbers to engine CBOs via Puffin blobs): JoinAdvisor
  // picks the dimension side's join hint from MANIFEST facts alone — where
  // AQE can only re-plan after the first shuffle is already paid. Face (a):
  // bytes within the ceiling -> broadcast. Face (b): a byte-starved ceiling
  // falls through the NDV rung to a bounded shuffle-hash build (exact row
  // count from the manifest licenses the hash table). Face (c): a
  // semi-shaped membership probe ships the DISTINCT key projection,
  // broadcast when the stats license it. Three advised plans, one
  // hash-gated result each — strategy choice must never leak into content
  // (the j11 contract, now chosen by stats instead of by hand);
  // JoinAdvisorSpec asserts the physical strategies really differ.
  private val j13 = GQuery(
    "j13_ndv_advised_join",
    (s, dir) => {
      val JA = graft.sources.JoinAdvisor
      val dimDir = ndvCustomer(s, dir)
      val dim = s.read.parquet(dimDir).select(col("c_custkey"), col("c_mktsegment"))
      val fact = t(s, dir, "orders")
      def shape(tag: String, j: DataFrame, grp: org.apache.spark.sql.Column) =
        j.groupBy(grp.as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
          .select(lit(tag).as("face"), col("grp"), col("n"), col("total"))
      val byBytes = fact.join(JA.hinted(s, dimDir, dim, Seq("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      val byNdv = fact.join(
        JA.hinted(s, dimDir, dim, Seq("c_custkey"), broadcastMaxBytes = 1L),
        col("o_custkey") === col("c_custkey"))
      val semi = fact.join(
        JA.distinctKeysFrame(s, dimDir,
          dim.filter(col("c_mktsegment") === "BUILDING"), Seq("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_semi")
      shape("bytes_broadcast", byBytes, col("c_mktsegment"))
        .unionAll(shape("ndv_shuffle_hash", byNdv, col("c_mktsegment")))
        .unionAll(shape("ndv_semi_probe", semi, col("o_orderpriority")))
    },
    Some("""WITH j AS (
           |  SELECT c_mktsegment AS grp, count(*) AS n,
           |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |  FROM orders JOIN customer ON o_custkey = c_custkey
           |  GROUP BY 1)
           |SELECT 'bytes_broadcast' AS face, * FROM j
           |UNION ALL SELECT 'ndv_shuffle_hash', * FROM j
           |UNION ALL
           |SELECT 'ndv_semi_probe' AS face, o_orderpriority AS grp,
           |  count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |WHERE o_custkey IN (SELECT c_custkey FROM customer
           |                    WHERE c_mktsegment = 'BUILDING')
           |GROUP BY 2""".stripMargin),
    doc = "NDV-advised join strategy: manifest bytes/rows/NDV pick broadcast vs shuffle-hash vs distinct-key probe before any runtime row, results hash-identical (J13/§2.3).")

  // ---- S29: optimistic concurrency — two writers, one table, zero loss --------
  // Iceberg's commit-retry contract on the versioned table: two MERGEs run
  // CONCURRENTLY against the same base snapshot (no external serialization;
  // disjoint key sets so the result is deterministic under either commit
  // order). The loser's publish detects the conflict from its staged base
  // version and REBASES mechanically — restaging its already-written delete
  // file and upsert era against the winner's snapshot — so both batches
  // land and neither drops the other's rows. The hash gate is the whole
  // point: a lost update would change the aggregate.
  private val s29 = GQuery(
    "s29_occ_concurrent_merge",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = Tables.scratchOnce(dir, "vht_events_occ",
          done = p => scala.util.Try(
            VHT.versions(s, p) == Seq(0L, 1L, 2L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev,
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val a = Future(VHT.merge(s, path,
          ev.filter(pmod(col("user_id"), lit(10)) === 1L)
            .withColumn("value", lit(111.0)), Seq("event_id")))
        val b = Future(VHT.merge(s, path,
          ev.filter(pmod(col("user_id"), lit(10)) === 2L)
            .withColumn("value", lit(222.0)), Seq("event_id")))
        val (va, vb) = (Await.result(a, 10.minutes), Await.result(b, 10.minutes))
        require(Set(va, vb) == Set(1L, 2L),
          s"s29: both concurrent merges must publish: $va/$vb")
      }
      VHT.read(s, vhtDir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
    },
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(CASE WHEN user_id % 10 = 1 THEN 111.0
           |                     WHEN user_id % 10 = 2 THEN 222.0
           |                     ELSE value END AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "Optimistic concurrency: two concurrent MERGEs against one base snapshot both land via publish-time conflict detection + mechanical rebase, content hash-proven lossless (S29/§2.1).")

  // ---- S30: SQL catalog face — INSERT INTO / DELETE FROM / VERSION AS OF ------
  // The DSv2 TableCatalog over the versioned table (graft.sources.GraftCatalog):
  // three-part names, DML and time travel all resolving to the SAME storage
  // layer the Scala API drives — the catalog read is an analysis-time splice
  // of the library read plan (GraftCatalogRewrite), so pruning and stats
  // skipping apply unchanged (CatalogSpec plan-asserts it). History here is
  // built HALF through SQL, half through the Scala API: v0 Scala create
  // (first half) -> v1 SQL `INSERT INTO` (rest) -> v2 SQL `DELETE FROM`
  // (user_id < 5, copy-on-write). The query reads three faces through SQL —
  // latest, `VERSION AS OF 1` (pre-delete), `VERSION AS OF 0` (pre-insert)
  // — each hash-gated against the base table, so a catalog write that
  // dropped, duplicated, or reordered one row fails the gate.
  private val s30 = GQuery(
    "s30_sql_catalog_dml",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val whDir = Tables.scratchOnce(dir, "vht_events_sqlcat",
          done = p => scala.util.Try(
            VHT.versions(s, s"$p/t") == Seq(0L, 1L, 2L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, s"$path/t", ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        val cat = graft.sources.GraftCatalog.register(s,
          s"graft_c${math.abs(path.hashCode).toString}", path)
        Tables.sqlOn(s, "ev_rest" -> ev.filter(col("ts") >= "2024-01-16")) { v =>
          s"INSERT INTO $cat.t SELECT * FROM ${v("ev_rest")}"
        }.collect(): Unit
        s.sql(s"DELETE FROM $cat.t WHERE user_id < 5").collect(): Unit
        require(VHT.versions(s, s"$path/t") == Seq(0L, 1L, 2L),
          s"s30: SQL INSERT + DELETE must publish v1 and v2")
      }
      val cat = graft.sources.GraftCatalog.register(s,
        s"graft_c${math.abs(whDir.hashCode).toString}", whDir)
      s.sql(
        s"""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM $cat.t GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_delete', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE),
           |  min(event_id)
           |FROM $cat.t VERSION AS OF 1 GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_insert', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE),
           |  min(event_id)
           |FROM $cat.t VERSION AS OF 0 GROUP BY event_type""".stripMargin)
    },
    Some("""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events WHERE user_id >= 5 GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_delete', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE),
           |  min(event_id)
           |FROM events GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_insert', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE),
           |  min(event_id)
           |FROM events WHERE ts < '2024-01-16' GROUP BY event_type""".stripMargin),
    doc = "DSv2 TableCatalog face: SQL INSERT INTO, DELETE FROM and VERSION AS OF resolve to the versioned storage layer; three snapshot faces hash-checked against the Scala-API-built base (S30/§2.1).")

  // ---- S31: positional delete files (Iceberg v2's second MoR flavor) ---------
  // (file path, row ordinal) masks for tables with no usable key or rows too
  // wide to copy: history v0 create → v1 EQUALITY MoR delete (user<3) → v2
  // POSITIONAL delete (click, users 5-9) → v3 POSITIONAL update (users
  // 10-12: value+1000; one address+preimage mask plus one new era, nothing
  // rewritten) → v4 compact, which must retire BOTH flavors (the round-11
  // compact already read through equality masks; this gate extends it). The
  // query reads three faces hash-gated: the post-compact latest, time-travel
  // v1 (pre-positional), and a CHANGELOG FOLD of v0 forward across the mixed
  // history (compact prunes as an adjacent replace step) — fold == latest
  // proves the CDC feed is consistent across positional masks too.
  private val s31 = GQuery(
    "s31_positional_deletes",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = Tables.scratchOnce(dir, "vht_events_posdel",
          done = p => scala.util.Try(
            VHT.versions(s, p) == Seq(0L, 1L, 2L, 3L, 4L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev, Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        require(VHT.deleteMergeOnRead(s, path, col("user_id") < 3L) == 1L)
        require(VHT.deletePositional(s, path,
          col("event_type") === "click" && col("user_id").between(5L, 9L)) == 2L)
        require(VHT.updatePositional(s, path, col("user_id").between(10L, 12L),
          Map("value" -> (col("value") + 1000))) == 3L)
        val masks = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/data"))
          .count(_.getPath.getName.startsWith("del-"))
        require(masks == 3, s"s31: three MoR masks must exist pre-compact, got $masks")
        require(VHT.compact(s, path) == 4L)
        // one folded era; mask retirement (zero del files listed by v4, both
        // flavors) is asserted structurally in PositionalDeleteSpec
        val eras4 = VHT.snapshotsMeta(s, path)
          .filter(col("version") === 4L).select("eras").head().getSeq[String](0)
        require(eras4.size == 1,
          s"s31: compaction must fold to one era, got $eras4")
      }
      val meta = Seq("_change_type", "_commit_version")
      val ch = VHT.changes(s, vhtDir, 0L)
      val folded = VHT.read(s, vhtDir, Some(0L))
        .exceptAll(ch.filter(col("_change_type") === "delete").drop(meta: _*))
        .unionByName(ch.filter(col("_change_type") === "insert").drop(meta: _*))
      def slice(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
        .withColumn("face", lit(tag))
      slice(VHT.read(s, vhtDir), "latest")
        .unionByName(slice(VHT.read(s, vhtDir, Some(1L)), "pre_pos"))
        .unionByName(slice(folded, "folded"))
    },
    Some("""WITH fin AS (
           |  SELECT event_type,
           |    CASE WHEN user_id BETWEEN 10 AND 12 THEN value + 1000
           |         ELSE value END AS value,
           |    event_id
           |  FROM events
           |  WHERE user_id >= 3
           |    AND NOT (event_type = 'click' AND user_id BETWEEN 5 AND 9))
           |SELECT 'latest' AS face, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM fin GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_pos', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM events WHERE user_id >= 3 GROUP BY event_type
           |UNION ALL
           |SELECT 'folded', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM fin GROUP BY event_type""".stripMargin),
    doc = "Positional delete files: equality + positional masks coexist in one history, positional UPDATE rewrites nothing, compaction retires both flavors, changelog fold == latest — all faces hash-checked (S31/§2.1).")

  // ---- S32: branches + fast-forward (the complete WAP story) -----------------
  // Iceberg's writable refs on the versioned table: a multi-commit audit
  // publishes to a BRANCH (main never sees it), one atomic fast-forward
  // lands the branch head on main, and a diverged main REFUSES the
  // fast-forward with CommitConflictException (fast-forward-only, Iceberg's
  // own default — no silent merge). History: v0 main create (first half) →
  // v1+v2 two commits on branch 'staging' (rest, split) → v3 fast-forward
  // to main → branch 'b2' forks → v4 b2 commit (a user-0 slice, shifted
  // ids) → v5 MAIN commit (a user-1 slice) → fastForward(b2) now THROWS,
  // asserted in the builder, and neither lineage loses a row. The query
  // reads three faces hash-gated: latest main (full + main-only slice),
  // the b2 head (full + branch-only slice, invisible to main), and
  // time-travel v0.
  private val s32 = GQuery(
    "s32_branch_fast_forward",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val vhtDir = Tables.scratchOnce(dir, "vht_events_branches",
          done = p => scala.util.Try(
            VHT.versions(s, p) == Seq(0L, 1L, 2L, 3L, 4L, 5L) &&
              VHT.branches(s, p).contains("b2")).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, path, ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        require(VHT.createBranch(s, path, "staging") == 0L)
        def land(r: Either[Seq[String], Long]): Long = r match {
          case Right(v) => v
          case Left(violations) => throw new IllegalStateException(
            s"s32 WAP audit vetoed a branch append: ${violations.mkString("; ")}")
        }
        land(VHT.appendToBranch(s, path, "staging",
          ev.filter(col("ts") >= "2024-01-16" && col("ts") < "2024-01-24"))()): Unit
        land(VHT.appendToBranch(s, path, "staging",
          ev.filter(col("ts") >= "2024-01-24"))()): Unit
        require(VHT.read(s, path).count() ==
          ev.filter(col("ts") < "2024-01-16").count(),
          "s32: main must not see branch commits before the fast-forward")
        val ffv = VHT.fastForward(s, path, "staging")
        require(ffv == 3L, s"s32: fast-forward must publish v3, got $ffv")
        require(VHT.createBranch(s, path, "b2") == 3L)
        land(VHT.appendToBranch(s, path, "b2",
          ev.filter(col("user_id") === 0L)
            .withColumn("event_id", col("event_id") + 20000000L)
            .withColumn("event_type", lit("branch_only")))()): Unit
        land(VHT.append(s, path,
          ev.filter(col("user_id") === 1L)
            .withColumn("event_id", col("event_id") + 30000000L)
            .withColumn("event_type", lit("main_only")))()): Unit
        // divergence refusal: main moved past b2's fork point
        val refused = scala.util.Try(VHT.fastForward(s, path, "b2"))
        require(refused.failed.toOption.exists(
          _.isInstanceOf[graft.sources.CommitConflictException]),
          s"s32: a diverged main must refuse the fast-forward, got $refused")
      }
      def slice(df: org.apache.spark.sql.DataFrame, tag: String) = df
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("total"),
          min(col("event_id")).as("min_event"))
        .withColumn("face", lit(tag))
      slice(VHT.read(s, vhtDir), "main")
        .unionByName(slice(VHT.readBranch(s, vhtDir, "b2"), "branch"))
        .unionByName(slice(VHT.read(s, vhtDir, Some(0L)), "pre_ff"))
    },
    Some("""WITH mainface AS (
           |  SELECT event_type, value, event_id FROM events
           |  UNION ALL
           |  SELECT 'main_only', value, event_id + 30000000 FROM events
           |  WHERE user_id = 1),
           |branchface AS (
           |  SELECT event_type, value, event_id FROM events
           |  UNION ALL
           |  SELECT 'branch_only', value, event_id + 20000000 FROM events
           |  WHERE user_id = 0)
           |SELECT 'main' AS face, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM mainface GROUP BY event_type
           |UNION ALL
           |SELECT 'branch', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM branchface GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_ff', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM events WHERE ts < '2024-01-16' GROUP BY event_type""".stripMargin),
    doc = "Named branches + fast-forward: multi-commit WAP on a branch invisible to main, one atomic fast-forward, divergence refused with CommitConflictException; main/branch/pre-FF faces hash-checked (S32/§2.1).")

  // ---- S33: SQL CTAS with hidden-partitioning transforms ----------------------
  // The DDL completion of the s30 catalog face: `CREATE TABLE ...
  // PARTITIONED BY (days(ts)) AS SELECT` creates the versioned table (v0
  // durable empty create + v1 spec evolution) and lands the batch (v2)
  // laid out under the declared transform — CatalogSpec asserts the
  // physical layout; here the gate is content across the DDL'd history:
  // latest (CTAS batch + a later INSERT, both under the days spec),
  // `VERSION AS OF 2` (the CTAS batch alone), and `VERSION AS OF 1` (the
  // declared-but-empty table — zero rows, proving the create is durable
  // and readable before any data lands).
  private val s33 = GQuery(
    "s33_sql_ctas_partitioned",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val whDir = Tables.scratchOnce(dir, "vht_events_ctas",
          done = p => scala.util.Try(
            VHT.versions(s, s"$p/t") == Seq(0L, 1L, 2L, 3L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        fs.mkdirs(new org.apache.hadoop.fs.Path(path)): Unit
        val ev = t(s, dir, "events")
        val cat = graft.sources.GraftCatalog.register(s,
          s"graft_c${math.abs(path.hashCode).toString}", path)
        Tables.sqlOn(s, "ev_first" -> ev.filter(col("ts") < "2024-01-16")) { v =>
          s"CREATE TABLE $cat.t PARTITIONED BY (days(ts)) " +
            s"AS SELECT * FROM ${v("ev_first")}"
        }.collect(): Unit
        Tables.sqlOn(s, "ev_rest" -> ev.filter(col("ts") >= "2024-01-16")) { v =>
          s"INSERT INTO $cat.t SELECT * FROM ${v("ev_rest")}"
        }.collect(): Unit
        require(VHT.versions(s, s"$path/t") == Seq(0L, 1L, 2L, 3L),
          s"s33: CTAS must publish create+evolve+batch, INSERT the 4th")
      }
      val cat = graft.sources.GraftCatalog.register(s,
        s"graft_c${math.abs(whDir.hashCode).toString}", whDir)
      s.sql(
        s"""SELECT 'latest' AS face, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM $cat.t GROUP BY event_type
           |UNION ALL
           |SELECT 'ctas_batch', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM $cat.t VERSION AS OF 2 GROUP BY event_type
           |UNION ALL
           |SELECT 'declared_empty', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM $cat.t VERSION AS OF 1 GROUP BY event_type""".stripMargin)
    },
    Some("""SELECT 'latest' AS face, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM events GROUP BY event_type
           |UNION ALL
           |SELECT 'ctas_batch', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM events WHERE ts < '2024-01-16' GROUP BY event_type
           |UNION ALL
           |SELECT 'declared_empty', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM events WHERE 1 = 0 GROUP BY event_type""".stripMargin),
    doc = "SQL CTAS with PARTITIONED BY (days): DDL creates the versioned table (durable empty create + spec evolution) and the batch lands under the declared transform; three history faces hash-checked (S33/§2.1).")

  // ---- J12: LATERAL correlated subquery (top-N per driving row) ---------------
  // The SQL spelling of "for each group, its top 3": a correlated LATERAL
  // subquery with ORDER BY + LIMIT per driving row. Catalyst decorrelates
  // this into the windowed-rank plan (DomainJoin -> window + filter; no
  // per-row re-execution — the same contract as q2/q17's scalar
  // decorrelation, extended to TABLE subqueries). Tie-break on the unique
  // key keeps the per-group cut deterministic on both engines.
  private val j12 = GQuery(
    "j12_lateral_topk",
    (s, dir) =>
      graft.core.Tables.sqlOn(s, "orders" -> t(s, dir, "orders")) { v =>
        s"""SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
           |FROM (SELECT DISTINCT o_orderpriority FROM ${v("orders")}) p,
           |LATERAL (SELECT o_orderkey, o_totalprice FROM ${v("orders")} o
           |         WHERE o.o_orderpriority = p.o_orderpriority
           |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l""".stripMargin
      },
    Some("""SELECT p.o_orderpriority, l.o_orderkey, l.o_totalprice
           |FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
           |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
           |         WHERE o.o_orderpriority = p.o_orderpriority
           |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) l""".stripMargin),
    doc = "LATERAL correlated top-N subquery, decorrelated to a windowed rank (J12/§2.6).")

  // ---- S34: SQL UPDATE + MERGE INTO through the catalog ----------------------
  // The two row-level DML verbs a lakehouse SQL user types daily, resolved
  // by GraftCatalogRewrite into the SAME storage DML the Scala API drives
  // (GraftSqlDml — Delta's convert-at-analysis pattern). History: v0 Scala
  // create (first half) -> v1 SQL INSERT (rest) -> v2 SQL UPDATE (clicks
  // before Jan 16 doubled — day-scoped, so the v1 era is carried BY
  // REFERENCE, manifest-asserted: the update is group-based, never a
  // full-table rewrite) -> v3 SQL MERGE with first-match clause order
  // (matched views DELETE, other matched UPDATE SET *, unmatched INSERT *),
  // manifest-asserted as ONE new era + ONE key mask (the bounded
  // merge-on-read write shape). Three snapshot faces hash-gated.
  private val s34 = GQuery(
    "s34_sql_update_merge",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val whDir = Tables.scratchOnce(dir, "vht_events_sqldml",
          done = p => scala.util.Try(
            VHT.versions(s, s"$p/t") == Seq(0L, 1L, 2L, 3L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, s"$path/t", ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        val cat = graft.sources.GraftCatalog.register(s,
          s"graft_dml${math.abs(path.hashCode).toString}", path)
        Tables.sqlOn(s, "ev_rest" -> ev.filter(col("ts") >= "2024-01-16")) { v =>
          s"INSERT INTO $cat.t SELECT * FROM ${v("ev_rest")}"
        }.collect(): Unit
        s.sql(s"UPDATE $cat.t SET value = value * 2 " +
          "WHERE ts < '2024-01-16' AND event_type = 'click'").collect(): Unit
        def eras(v: Long): Set[String] = VHT.snapshotsMeta(s, s"$path/t")
          .filter(col("version") === v).select("eras").head()
          .getSeq[String](0).toSet
        // group-based proof: the day-scoped UPDATE rewrote only eras that
        // can hold a pre-Jan-16 click — the v1 INSERT era carries over
        require(eras(2L).intersect(eras(1L)).nonEmpty,
          "s34: SQL UPDATE must carry untouched eras by reference")
        val src = ev.filter(col("event_id") < 100)
          .withColumn("value", col("value") + 1000)
          .unionByName(ev.filter(col("event_id") < 50)
            .withColumn("event_id", col("event_id") + 10000000L))
        Tables.sqlOn(s, "dml_src" -> src) { v =>
          s"""MERGE INTO $cat.t t USING ${v("dml_src")} s
             |ON t.event_id = s.event_id
             |WHEN MATCHED AND s.event_type = 'view' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin
        }.collect(): Unit
        // bounded-write proof: one MERGE = one new upsert era + one key
        // mask over the carried eras, nothing rewritten
        require((eras(3L) -- eras(2L)).size == 1,
          "s34: MERGE must add exactly one upsert era")
        val dels3 = VHT.snapshotsMeta(s, s"$path/t")
          .filter(col("version") === 3L).select("dels").head().getSeq[String](0)
        require(dels3.size == 1,
          s"s34: MERGE must add exactly one key mask, got $dels3")
      }
      val cat = graft.sources.GraftCatalog.register(s,
        s"graft_dml${math.abs(whDir.hashCode).toString}", whDir)
      def face(tag: String, from: String) =
        s"""SELECT '$tag' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM $from GROUP BY event_type""".stripMargin
      s.sql(Seq(face("latest", s"$cat.t"),
        face("pre_merge", s"$cat.t VERSION AS OF 2"),
        face("pre_update", s"$cat.t VERSION AS OF 1")).mkString("\nUNION ALL\n"))
    },
    Some("""WITH v2 AS (SELECT event_id, ts, user_id, event_type,
           |    CASE WHEN ts < '2024-01-16' AND event_type = 'click'
           |         THEN value * 2 ELSE value END AS value, props FROM events),
           |src AS (SELECT event_id, ts, user_id, event_type,
           |    value + 1000 AS value, props FROM events WHERE event_id < 100),
           |ins AS (SELECT event_id + 10000000 AS event_id, ts, user_id,
           |    event_type, value, props FROM events WHERE event_id < 50),
           |v3 AS (
           |  SELECT * FROM v2 WHERE event_id NOT IN (SELECT event_id FROM src)
           |  UNION ALL SELECT * FROM src WHERE event_type <> 'view'
           |  UNION ALL SELECT * FROM ins)
           |SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  min(event_id) AS min_event
           |FROM v3 GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_merge', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM v2 GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_update', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), min(event_id)
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "SQL UPDATE + MERGE INTO via the catalog: analysis-time conversion to the storage DML, era-carry and one-mask+one-era manifest-asserted (group-based), first-match clause order, three faces hash-gated (S34/§2.1).")

  // ---- S35: ALTER TABLE ADD COLUMNS — SQL schema evolution -------------------
  // The one schema change the add-only storage contract admits, as SQL DDL:
  // v0 Scala create (narrow first half) -> v1 `ALTER TABLE … ADD COLUMNS
  // (score DOUBLE)` (a published snapshot carrying a schema-widening empty
  // era — exactly how CREATE TABLE records schema) -> v2 SQL INSERT of the
  // widened rest (score = value*2). Latest face: old rows null-fill the new
  // column; pre-evolution face keeps the narrow schema (asserted in the
  // builder) and hash-gates the narrow content.
  private val s35 = GQuery(
    "s35_sql_add_columns",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val whDir = Tables.scratchOnce(dir, "vht_events_sqladdcol",
          done = p => scala.util.Try(
            VHT.versions(s, s"$p/t") == Seq(0L, 1L, 2L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, s"$path/t", ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        val cat = graft.sources.GraftCatalog.register(s,
          s"graft_ac${math.abs(path.hashCode).toString}", path)
        s.sql(s"ALTER TABLE $cat.t ADD COLUMNS (score DOUBLE)").collect(): Unit
        Tables.sqlOn(s, "ev_rest" -> t(s, dir, "events")
            .filter(col("ts") >= "2024-01-16")
            .withColumn("score", col("value") * 2)) { v =>
          s"INSERT INTO $cat.t SELECT * FROM ${v("ev_rest")}"
        }.collect(): Unit
        require(s.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").columns
          .toSeq == ev.columns.toSeq,
          "s35: the pre-evolution snapshot must keep the narrow schema")
      }
      val cat = graft.sources.GraftCatalog.register(s,
        s"graft_ac${math.abs(whDir.hashCode).toString}", whDir)
      s.sql(
        s"""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  CAST(sum(CAST(score AS DECIMAL(18,4))) AS DOUBLE) AS score_total
           |FROM $cat.t GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_evo', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE),
           |  CAST(NULL AS DOUBLE)
           |FROM $cat.t VERSION AS OF 0 GROUP BY event_type""".stripMargin)
    },
    Some("""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total,
           |  CAST(sum(CASE WHEN ts >= '2024-01-16'
           |    THEN CAST(value * 2 AS DECIMAL(18,4)) END) AS DOUBLE) AS score_total
           |FROM events GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_evo', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE),
           |  CAST(NULL AS DOUBLE)
           |FROM events WHERE ts < '2024-01-16' GROUP BY event_type""".stripMargin),
    doc = "ALTER TABLE ADD COLUMNS as SQL DDL: add-only evolution lands as a published schema-widening snapshot; INSERT + time travel across the boundary hash-gated, old rows null-fill (S35/§2.1).")

  // ---- S36: branch SQL face — db.t.branch_<name> + VERSION AS OF 'branch' ----
  // Branches get their SQL spelling (Iceberg's suffixed identifier): v0
  // Scala create (first half) -> branch 'wip' -> SQL `INSERT INTO
  // graft.t.branch_wip` (rest; v1 on the BRANCH lineage). The builder
  // asserts isolation BEFORE publication: main's SQL read still holds the
  // first half while the branch face reads its own head; then fastForward
  // publishes (v2). Faces hash-gated: main latest (== full), the branch
  // face, VERSION AS OF 'wip' (ref resolution), and the pre-ff main v0.
  private val s36 = GQuery(
    "s36_sql_branch_face",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val whDir = Tables.scratchOnce(dir, "vht_events_sqlbranch",
          done = p => scala.util.Try(
            VHT.mainVersions(s, s"$p/t") == Seq(0L, 2L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        val firstN = ev.filter(col("ts") < "2024-01-16").count()
        VHT.create(s, s"$path/t", ev.filter(col("ts") < "2024-01-16"),
          Seq(graft.sources.HiddenPartitioning.DayT("ts"))): Unit
        VHT.createBranch(s, s"$path/t", "wip"): Unit
        val cat = graft.sources.GraftCatalog.register(s,
          s"graft_br${math.abs(path.hashCode).toString}", path)
        Tables.sqlOn(s, "ev_rest" -> ev.filter(col("ts") >= "2024-01-16")) { v =>
          s"INSERT INTO $cat.t.branch_wip SELECT * FROM ${v("ev_rest")}"
        }.collect(): Unit
        // isolation: the branch write is invisible to main until ff
        require(s.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == firstN,
          "s36: main must not see branch commits before fast-forward")
        require(s.sql(s"SELECT count(*) FROM $cat.t.branch_wip")
          .head().getLong(0) == ev.count(),
          "s36: the branch face must read its own head")
        VHT.fastForward(s, s"$path/t", "wip"): Unit
      }
      val cat = graft.sources.GraftCatalog.register(s,
        s"graft_br${math.abs(whDir.hashCode).toString}", whDir)
      def face(tag: String, from: String) =
        s"""SELECT '$tag' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM $from GROUP BY event_type""".stripMargin
      s.sql(Seq(face("main", s"$cat.t"),
        face("branch_face", s"$cat.t.branch_wip"),
        face("as_of_ref", s"$cat.t VERSION AS OF 'wip'"),
        face("pre_ff", s"$cat.t VERSION AS OF 0")).mkString("\nUNION ALL\n"))
    },
    Some("""SELECT 'main' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM events GROUP BY event_type
           |UNION ALL
           |SELECT 'branch_face', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |FROM events GROUP BY event_type
           |UNION ALL
           |SELECT 'as_of_ref', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |FROM events GROUP BY event_type
           |UNION ALL
           |SELECT 'pre_ff', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |FROM events WHERE ts < '2024-01-16' GROUP BY event_type""".stripMargin),
    doc = "Branch SQL face: db.t.branch_<name> reads/writes the branch lineage, VERSION AS OF resolves branch refs, builder-asserted isolation until fast-forward publishes (S36/§2.1).")

  // ---- S37: SQL maintenance — CALL graft.system.{compact,vacuum,...} --------
  // Iceberg's stored-procedure surface on Spark 4's DSv2 ProcedureCatalog:
  // table operations stop needing Scala. History: v0 create (full) -> tag
  // 'keep0' -> v1 merge-on-read delete (user 3) -> v2 `CALL compact`
  // (clustered on event_id; builder asserts the mask retired and ONE folded
  // era) -> `CALL vacuum(keep=1)` (drops only v1: the tag pins v0). Faces
  // hash-gated: the post-compact latest (content-preserving) and the
  // tag-pinned v0 that survived SQL-invoked retention.
  private val s37 = GQuery(
    "s37_sql_call_maintenance",
    (s, dir) => {
      val VHT = graft.sources.VersionedHiddenTable
      val whDir = Tables.scratchOnce(dir, "vht_events_sqlproc",
          done = p => scala.util.Try(
            VHT.versions(s, s"$p/t") == Seq(0L, 2L)).getOrElse(false)) { path =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(path), true): Unit
        val ev = t(s, dir, "events")
        VHT.create(s, s"$path/t", ev, Nil): Unit
        VHT.tag(s, s"$path/t", "keep0", 0L)
        require(VHT.deleteMergeOnRead(s, s"$path/t", col("user_id") === 3L) == 1L)
        val cat = graft.sources.GraftCatalog.register(s,
          s"graft_pr${math.abs(path.hashCode).toString}", path)
        val v = s.sql(s"CALL $cat.system.compact('t', 'event_id', ${1L << 20})")
          .head().getLong(0)
        require(v == 2L, s"s37: CALL compact must publish v2, got $v")
        val meta2 = VHT.snapshotsMeta(s, s"$path/t").filter(col("version") === 2L)
        require(meta2.select("eras").head().getSeq[String](0).size == 1,
          "s37: CALL compact must fold to one era")
        require(meta2.select("dels").head().getSeq[String](0).isEmpty,
          "s37: CALL compact must retire the merge-on-read mask")
        val dropped = s.sql(s"CALL $cat.system.vacuum('t', 1)")
          .collect().map(_.getLong(0)).toSeq
        require(dropped == Seq(1L),
          s"s37: CALL vacuum must drop only the untagged v1, got $dropped")
      }
      val cat = graft.sources.GraftCatalog.register(s,
        s"graft_pr${math.abs(whDir.hashCode).toString}", whDir)
      s.sql(
        s"""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM $cat.t GROUP BY event_type
           |UNION ALL
           |SELECT 'tag_pinned', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |FROM $cat.t VERSION AS OF 'keep0' GROUP BY event_type""".stripMargin)
    },
    Some("""SELECT 'latest' AS snapshot, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
           |FROM events WHERE user_id <> 3 GROUP BY event_type
           |UNION ALL
           |SELECT 'tag_pinned', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
           |FROM events GROUP BY event_type""".stripMargin),
    doc = "SQL maintenance procedures: CALL compact/vacuum on the DSv2 ProcedureCatalog delegate to the Scala maintenance entry points — compaction content-preserving + mask-retiring, retention tag-pin-respecting, both hash-gated (S37/§2.1).")

  override val all: Seq[GQuery] =
    Seq(s2, s4, s5, s6, s8, s10, s11, s12, s13, s14, s15, s16, s17, s18, s19, s20, s21, s22, s23, s24, s25, s26, s27, s28, s29, s30, s31, s32, s33, s34, s35, s36, s37, p1, p2, p5, p6, p7, p8, p11, p13, p14,
      j1, j2, j3, j4, j5, j6, j7, j8, j9, j10, j11, j12, j13,
      x1, x2, x3, x4, x5, x6, q1, q2, q3, q4, q5, q6, q7, q8, q9, q10, q11, q12,
      q13, q14, q15, q16, q17, q18, q19, q20, q21, q22)
}
