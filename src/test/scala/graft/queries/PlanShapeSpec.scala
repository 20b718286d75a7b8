package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan shape assertions — "the plan you'd want, not the first one
  * that passed": pushdown reaches the scan, dimensions broadcast, bucketed
  * joins skip the exchange, aggregates keep partial/final split.
  * Runs on sf0.001 (plan shape is scale-invariant).
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(FormattedMode)
  }

  test("p6: filters are pushed into the parquet scan") {
    val p = plan("p6_like_between_in")
    assert(p.contains("PushedFilters: ["), "scan should carry PushedFilters")
    assert(p.contains("GreaterThanOrEqual(p_size,5)") || p.contains("p_size"),
      s"size range must reach the scan:\n${p.take(1200)}")
  }

  test("j1: dimension side broadcasts; fact scan prunes columns") {
    val p = plan("j1_inner_equijoin")
    assert(p.contains("BroadcastHashJoin"), "customer dim must broadcast")
    assert(!p.contains("SortMergeJoin"), "no SMJ for a broadcastable dim")
    // column pruning: the orders scan should read only the join+agg columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderdate"), s"unused column read: $readSchema")
  }

  test("j11: strategy hints materialize all three physical joins in one plan") {
    // the tuning contract: hints control the PHYSICAL strategy without
    // touching semantics — one unioned plan must carry all three operators
    val p = plan("j11_join_strategy_hints")
    assert(p.contains("BroadcastHashJoin"), "broadcast hint must plan BHJ")
    assert(p.contains("SortMergeJoin"), "merge hint must plan SMJ")
    assert(p.contains("ShuffledHashJoin"), "shuffle_hash hint must plan SHJ")
  }

  test("a1: aggregate runs as partial + final hash aggregate") {
    val p = plan("a1_groupby_aggregates")
    // two HashAggregates around one Exchange = map-side partials then final
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final HashAggregate")
    assert(p.contains("hashpartitioning(l_returnflag"),
      "single shuffle keyed by the group-by columns")
  }

  test("x2: bucketed join plans without a shuffle exchange") {
    val p = RelationalOps.bucketedJoin(spark, sfDir)
      .queryExecution.explainString(FormattedMode)
    val joinSection = p.substring(0, p.indexOf("HashAggregate").max(p.length - 1))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "bucketed join should be a (merge) join, not broadcast, for this test")
    // the join inputs must come straight from bucketed scans — the only
    // allowed exchange is the post-join aggregation shuffle
    val exchangesBeforeJoin = "Exchange hashpartitioning\\((l_orderkey|o_orderkey)"
      .r.findAllIn(p).size
    assert(exchangesBeforeJoin == 0,
      s"join inputs must be exchange-free (bucketing co-locates):\n${p.take(1500)}")
  }

  // The only sanctioned nested-loop shapes are deliberate broadcast
  // attaches of metadata-scale relations (1-row constants, the 10-query
  // probe side, K centroids). Everything else must plan as hash/merge
  // joins — a BNLJ on data-scale inputs is the O(n^2) scale-killer the
  // hygiene sweep exists to catch. Shared by the Slow full sweep and the
  // fast new-query backstop below.
  private val constantAttach = Set(
      "j6_cross_join_constants", // 1-row constants relation, by design
      "e1_ann_bruteforce_topk",  // 10-query probe side broadcast (exactness baseline)
      "e7_ann_int8_quantized",   // same 10-query probe side, quantized scoring
      "e9_ann_truncated_dims",   // same 10-query probe side, prefix dims
      "e4_ann_ivf_probe",        // K-row centroid table broadcast
      "e8_ann_ivf_kmeans",       // same K-row centroid broadcast, k-means cells
      "u3_union_append_scalar",  // appends a 1-row aggregate
      "a5_groupmin_scalar_max",  // 1-row scalar max attach (replacement-level pattern)
      "d11_sketch_stats",        // joins two 1-row sketch aggregates
      "d21_mean_idf",            // 1-row corpus-count attach for ln(N/df)
      "d22_source_mix_weights",  // 1-row total + 1-row normalizer attaches
      "d30_bm25_scoring",        // 1-row (n_docs, sum_len) corpus-stats attach
      "e10_ann_pq_adc",          // 10-query probe x 64-row codebook ADC table
      "g1_pagerank",             // 1-row n_nodes broadcast attach (init + teleport term)
      "e11_ann_ivf_pq_rerank",   // 10-query probe x 8-cell centroid + 64-row codebook attaches
      "e12_ann_filtered",        // 10-query probe side broadcast over the pre-filtered candidates
      "e13_hard_negatives",      // 10-query probe side broadcast, cross-side label filter
      "d35_perplexity_gate",     // 1-row corpus-mean threshold attach
      "d38_domain_resample",     // 1-row target-mass attach onto the per-source counts
      "e15_hybrid_rrf_retrieval", // e1's 10-query probe broadcast + d30's 1-row stats attach
      "e16_ann_binary_hamming",   // same 10-query probe side broadcast, sign-bit signatures
      "d48_hll_sketch_union",     // 1-row global-sketch-estimate attach onto per-source rows
      "e11s_ann_serving")         // e11's serving face: 10-query probe x 64-row codebook ADC attach

  // Sanctioned global (empty-partitionSpec) windows — provably bounded
  // inputs only:
  //   w4/o1-style: beneath a Limit, or fed by a TakeOrdered (bounded rows);
  //   d15: the recursive prefix scan's base level — input already reduced
  //        by fanout^2 (one row per 10^4 docs), and the recursion depth is
  //        the dial if that ever grows;
  //   scalar attaches: windows over 1-row aggregates.
  private val boundedGlobal = Set(
    "w4_global_rownumber",      // TakeOrdered bounds the window input
    "o1_orderby_limit",         // global sort+limit shape, bounded output
    "w3_topk_cascade",          // cascaded pools, each pool limit-bounded
    "d15_pack_token_budget")    // prefix-scan base level: corpus/fanout^2 rows

  /** Both hygiene checks (join shapes + global windows) for one query.
    * Returns offender tags; empty = clean. */
  private def hygieneOffenders(name: String): Seq[String] = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    val physical = df.queryExecution.executedPlan.toString
    val logical = df.queryExecution.optimizedPlan
    spark.catalog.clearCache()
    val cart = if (physical.contains("CartesianProduct")) Seq(s"$name:cartesian") else Nil
    val bnlj = if (!constantAttach(name) && physical.contains("BroadcastNestedLoopJoin"))
      Seq(s"$name:bnlj") else Nil
    val globalWindow = logical.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }.nonEmpty
    val win = if (globalWindow && !boundedGlobal(name)) Seq(s"$name:global-window") else Nil
    cart ++ bnlj ++ win
  }

  test("plan hygiene sweep: no cartesian/nested-loop joins outside constant attaches", graft.Slow) {
    val offenders = graft.SparkEntry.queries.keys.toSeq.flatMap(n =>
      hygieneOffenders(n).filterNot(_.endsWith(":global-window")))
    assert(offenders.isEmpty, s"non-hash join shapes: ${offenders.mkString(", ")}")
  }

  test("window hygiene sweep: no single-partition window over corpus-proportional input", graft.Slow) {
    // A Window with an empty partitionSpec funnels its whole input through
    // ONE task — the d15-round-2 scale trap. Sweep every registry plan's
    // optimized logical tree.
    val offenders = graft.SparkEntry.queries.keys.toSeq.flatMap(n =>
      hygieneOffenders(n).filter(_.endsWith(":global-window")))
    assert(offenders.isEmpty,
      s"unbounded single-partition windows in: ${offenders.mkString(", ")}")
  }

  test("hygiene backstop: whitelists resolve; queries new since the last full sweep are swept now") {
    // The round-8 lesson: a registry addition whose plan carries a
    // sanctioned-but-unwhitelisted BNLJ only failed in the Slow sweep,
    // which wasn't run. This FAST test closes that window:
    //   1. every whitelist entry must name a live registry query (no
    //      stale/typo'd entries silently sanctioning nothing);
    //   2. any query not recorded in swept-registry.txt (the roster of the
    //      last green Slow sweep) gets BOTH hygiene checks inline, so a
    //      brand-new query is plan-swept in the fast loop the moment it is
    //      registered. After running the Slow sweeps green, refresh the
    //      roster from /tmp/swept-registry-current.txt (written here).
    val registry = graft.SparkEntry.queries.keySet
    val staleWhitelist = (constantAttach ++ boundedGlobal).diff(registry)
    assert(staleWhitelist.isEmpty,
      s"whitelist entries name no registry query: ${staleWhitelist.mkString(", ")}")
    val sweptFile = new java.io.File("src/test/resources/swept-registry.txt")
    val swept =
      if (sweptFile.exists())
        scala.io.Source.fromFile(sweptFile).getLines().map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty[String]
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/swept-registry-current.txt"),
      registry.toSeq.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    val fresh = registry.diff(swept).toSeq.sorted
    assert(fresh.size <= 12,
      s"${fresh.size} queries missing from swept-registry.txt — run the Slow " +
        "sweeps and cp /tmp/swept-registry-current.txt src/test/resources/swept-registry.txt")
    val offenders = fresh.flatMap(hygieneOffenders)
    assert(offenders.isEmpty,
      s"hygiene offenses in queries added since the last full sweep: ${offenders.mkString(", ")}")
  }

  test("x3: year filter becomes a partition filter — non-matching files never scanned") {
    val p = plan("x3_partition_pruned_scan")
    assert(p.contains("o_year"), "partition column must appear in the plan")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("o_year"),
      s"year predicate must be a PartitionFilter, not a data filter:\n$scanLine")
  }

  test("s15: raw-column filters derive hidden-partition filters (day + bucket)") {
    // the hidden-partitioning contract: the query references ONLY source
    // columns (ts, user_id), yet the scan must carry partition predicates
    // on the DERIVED columns the optimizer rule injected
    val p = plan("s15_hidden_partitioning")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("_p_day_ts"),
      s"the ts range must derive a day partition filter:\n$scanLine")
    assert(scanLine.contains("_p_bucket16_user_id"),
      s"the user IN-list must derive a bucket partition filter:\n$scanLine")
  }

  test("x4: fact scan carries a dynamic pruning expression from the dim filter") {
    val p = plan("x4_dynamic_partition_pruning").toLowerCase
    assert(p.contains("dynamicpruning"),
      s"fact partition filters must include a runtime pruning subquery:\n${p.take(2000)}")
  }

  test("AQE: runtime re-plan coalesces the tiny shuffle (adaptive execution on)") {
    val df = graft.SparkEntry.queries("a1_groupby_aggregates")(spark, sfDir)
    df.collect() // AQE finalizes the plan only after execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"),
      "query should run under adaptive execution")
    assert(p.contains("AQEShuffleRead coalesced") || p.contains("coalesced"),
      s"tiny shuffle should coalesce at runtime:\n${p.take(800)}")
  }

  test("q1: shipdate filter pushed to the scan; partial+final aggregate split") {
    val p = plan("q1_pricing_summary")
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scanLine.contains("l_shipdate"),
      s"shipdate range must reach the parquet scan:\n$scanLine")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "map-side partial aggregation must precede the shuffle")
    assert(p.contains("hashpartitioning(l_returnflag"),
      "one shuffle keyed by the group columns")
  }

  test("q9: part LIKE filter pushes down, all three dims broadcast, orders joins on the fact key") {
    val p = plan("q9_product_profit")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"part/supplier/nation must all broadcast:\n${p.take(1500)}")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("p_name"), s"LIKE prefilter must reach the part scan:\n$pushed")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final aggregate")
  }

  test("q18: having key set feeds a LEFT SEMI join, aggregates keep the partial split") {
    val p = plan("q18_large_volume_customer")
    assert(p.contains("LeftSemi"), s"big-order key set must semi-join orders:\n${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "both aggregation passes must split partial+final")
  }

  test("q2: correlated min subquery decorrelates to an aggregate joined back") {
    val df = graft.SparkEntry.queries("q2_min_per_group")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // RewriteCorrelatedScalarSubquery must have turned the per-row subquery
    // into a per-brand aggregate + join — a surviving correlated scalar
    // subquery would execute once per row, the O(n^2) trap
    assert(!opt.contains("scalar-subquery"),
      s"correlated subquery must decorrelate:\n${opt.take(1200)}")
    assert(opt.contains("Aggregate") && opt.contains("Join"),
      s"decorrelated plan is aggregate + join:\n${opt.take(1200)}")
  }

  test("q17: correlated avg-quantity subquery decorrelates to one aggregate + join") {
    val df = graft.SparkEntry.queries("q17_small_quantity_revenue")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery"),
      s"correlated aggregate subquery must decorrelate:\n${opt.take(1200)}")
    // the per-part threshold is ONE aggregate over lineitem joined back —
    // not a per-row rescan; lineitem appears exactly twice (outer + agg leg)
    assert(opt.contains("Aggregate") && opt.contains("Join"),
      s"decorrelated plan is aggregate + join:\n${opt.take(1200)}")
    // path-based scans print as `Relation [cols...] parquet` with no table
    // name — identify the two lineitem legs by their column signature
    val scans = "Relation \\[[^\\]]*l_quantity".r.findAllIn(opt).size
    assert(scans == 2, s"lineitem scanned twice (outer + decorrelated agg), got $scans:\n${opt.take(1500)}")
  }

  test("q21: EXISTS / NOT-EXISTS plan as semi and anti joins, no per-row rescan") {
    val df = graft.SparkEntry.queries("q21_waiting_supplier")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("exists-subquery") && !opt.contains("ExistenceJoin"),
      s"EXISTS predicates must rewrite to joins:\n${opt.take(1200)}")
    assert(opt.contains("LeftSemi"), s"EXISTS becomes a left-semi join:\n${opt.take(1200)}")
    assert(opt.contains("LeftAnti"), s"NOT EXISTS becomes a left-anti join:\n${opt.take(1200)}")
  }

  test("q20: correlated HAVING + IN decorrelate to stacked aggregate and semi joins") {
    val df = graft.SparkEntry.queries("q20_dominant_supplier")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("scalar-subquery") && !opt.contains("in-subquery"),
      s"both subquery layers must rewrite to joins:\n${opt.take(1200)}")
    assert(opt.contains("LeftSemi"), s"IN becomes a left-semi join:\n${opt.take(1200)}")
    // the correlated per-part sum is ONE aggregate over lineitem joined back:
    // lineitem appears exactly twice (grouped outer + decorrelated agg leg)
    val scans = "Relation \\[[^\\]]*l_quantity".r.findAllIn(opt).size
    assert(scans == 2, s"lineitem scanned twice, not per-row, got $scans")
  }

  test("q22: NOT EXISTS anti-joins a filtered, pruned orders side") {
    val df = graft.SparkEntry.queries("q22_inactive_high_balance")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftAnti"), s"NOT EXISTS becomes a left-anti join:\n${opt.take(1200)}")
    assert(!opt.contains("exists-subquery"),
      s"no surviving exists subquery:\n${opt.take(1200)}")
    // the totalprice filter must sit on the orders leg (pushdown), and the
    // anti-join side must prune to the join key + filter column only
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val ordersSchema = p.linesIterator
      .filter(_.contains("ReadSchema")).find(_.contains("o_custkey")).getOrElse("")
    assert(!ordersSchema.contains("o_orderdate") && !ordersSchema.contains("o_orderpriority"),
      s"anti-join side must prune unused orders columns: $ordersSchema")
  }

  test("q4: single correlated EXISTS becomes one semi join over lineitem") {
    val df = graft.SparkEntry.queries("q4_priority_checking")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftSemi"), s"EXISTS becomes a left-semi join:\n${opt.take(1200)}")
    assert(!opt.contains("exists-subquery") && !opt.contains("ExistenceJoin"),
      s"no surviving subquery predicate:\n${opt.take(1200)}")
    // lineitem feeds exactly one (semi-join) leg — never a per-outer-row scan
    val scans = "Relation \\[[^\\]]*l_shipdate".r.findAllIn(opt).size
    assert(scans == 1, s"lineitem scanned once for the semi join, got $scans")
  }

  test("q16: NOT EXISTS exclusion is a hash anti join, never null-aware BNLJ") {
    val df = graft.SparkEntry.queries("q16_supplier_diversity")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftAnti"), s"exclusion plans as left-anti:\n${opt.take(1200)}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"anti join must be hash, not nested loop:\n${p.take(1200)}")
    assert(p.contains("Expand") || p.contains("distinct"),
      s"distinct supplier count rides the Expand aggregate:\n${p.take(800)}")
  }

  test("q19: OR-of-ANDs predicate keeps the hash join; part filters still push") {
    val df = graft.SparkEntry.queries("q19_disjunctive_ranges")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"cross-side disjunction must not force a nested loop:\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"no nested-loop fallback:\n${p.take(1200)}")
    // Catalyst extracts the single-side residue of the disjunction for BOTH
    // sides: the (brand AND size-range) arms push into the part scan and the
    // quantity-range arms into the lineitem scan
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"extracted brand/size disjunction should reach the part scan:\n${p.take(2500)}")
    assert(p.contains("GreaterThanOrEqual(l_quantity,5.0)"),
      s"extracted quantity disjunction should reach the lineitem scan:\n${p.take(2500)}")
  }

  test("q6: all three range predicates push to the lineitem scan; agg is partial+final") {
    val df = graft.SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)
    val p = df.queryExecution.explainString(FormattedMode)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("l_shipdate") && pushed.contains("l_discount") &&
      pushed.contains("l_quantity"),
      s"all Q6 predicates must reach the parquet reader: $pushed")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "global sum must split into partial + final aggregates")
    assert(!p.contains("Join"), "Q6 is a pure scan-aggregate — no join may appear")
  }

  test("q7: both nation roles broadcast; no nested-loop fallback for the pair filter") {
    val df = graft.SparkEntry.queries("q7_volume_shipping")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"supplier + both nation roles must broadcast:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the cross-role pair predicate must stay a post-join filter:\n${p.take(1500)}")
  }

  test("q8: share computes in ONE aggregate pass — lineitem scanned exactly once") {
    val df = graft.SparkEntry.queries("q8_market_share")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    val factScans = "Relation \\[[^\\]]*l_extendedprice".r.findAllIn(opt).size
    assert(factScans == 1,
      s"numerator CASE must ride the denominator's aggregate, not a self-join; lineitem scans=$factScans")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all attaches are hash joins:\n${p.take(1200)}")
  }

  test("q10: top-20 is TakeOrdered, not a global sort; nation broadcasts") {
    val df = graft.SparkEntry.queries("q10_returned_items")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY + LIMIT must plan as TakeOrdered:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), "nation dim must broadcast")
  }

  test("q11: HAVING threshold is ONE uncorrelated scalar, not a per-group rescan") {
    val df = graft.SparkEntry.queries("q11_important_stock")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    // the scalar subquery must survive as a single uncorrelated subquery
    // (executed once, broadcast into the filter) — never a join keyed per group
    assert("scalar-subquery".r.findAllIn(opt).size == 1,
      s"exactly one scalar subquery expected:\n${opt.take(1500)}")
    assert(!opt.contains("l_partkey = l_partkey"),
      "threshold must not correlate on the group key")
  }

  test("q13: ON-clause filter keeps the LEFT join; two stacked aggregates") {
    val df = graft.SparkEntry.queries("q13_customer_distribution")(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftOuter"),
      s"zero-order customers must survive — join stays LEFT OUTER:\n${opt.take(1200)}")
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "per-customer count then count-of-counts, each partial+final")
  }

  test("q15: argmax attach is a broadcast of the 1-row max — no global sort") {
    val df = graft.SparkEntry.queries("q15_top_supplier")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"max(d_rev) must broadcast-attach to the revenue view:\n${p.take(1200)}")
    assert(!p.toLowerCase.contains("sortmergejoin") && !p.contains("CartesianProduct"),
      s"no wide join for a 1-row attach:\n${p.take(1200)}")
    assert(!p.contains("GlobalLimit") || !p.contains("Sort "),
      "selection is by equality to the max, not a sorted limit")
  }

  test("runtime bloom filter: selective dim filter injects a fact-side row filter") {
    // At 100 TB the win is pruning fact rows BEFORE the join shuffle: with
    // runtime bloom filters on, a selective dimension predicate plants a
    // BloomFilterMightContain on the fact side of a shuffled join, so rows
    // that cannot match never enter the exchange. Forced thresholds here
    // because sf0.001 is below the default size gates; the assertion is the
    // mechanism, which is size-invariant.
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100GB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
      val joined = li.join(ord,
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") || p.contains("BloomFilter"),
        s"selective dim filter should plant a bloom filter on the fact side:\n${p.take(2000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("x1: salted join spreads the 3 hot keys over composite keys") {
    val p = plan("x1_skew_salted_join")
    assert(p.contains("l_returnflag") && p.contains("salt"),
      "join key must be the composite (flag, salt)")
  }
}
