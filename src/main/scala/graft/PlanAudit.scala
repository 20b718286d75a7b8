package graft


/** Prints `explain(formatted)` for selected registry queries and greps the
  * physical plans for the scale-critical properties (filter/column pushdown,
  * broadcast joins on dimension sides, whole-stage codegen spans) — the
  * feedback loop behind the "would this plan survive 100×?" iteration.
  *
  * With `--metrics`, each query is also EXECUTED (noop sink) and its
  * aggregated SQL metrics printed — shuffle records/bytes written, spills,
  * rows scanned — the numbers that say whether a plan's shuffle budget
  * survives a 100x scale-up, not just whether the shape looks right.
  *
  * Usage: runMain graft.PlanAudit [--metrics] [sfDir] [query ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val runMetrics = args.contains("--metrics")
    val rest = args.filterNot(_ == "--metrics")
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val wanted = if (rest.length > 1) rest.drop(1).toSet else Set(
      "a1_groupby_aggregates", "j1_inner_equijoin", "p6_like_between_in",
      "w1_rownumber_partitioned", "e1_ann_bruteforce_topk", "d3_dedup_minhash_lsh",
      "s4_latest_snapshot", "m2_frame_sample")
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.filter(q => wanted.contains(q._1)).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(s"\n======== $name ========")
      println(plan)
      val checks = Seq(
        "PushedFilters" -> plan.contains("PushedFilters: ["),
        // formatted mode tags codegen stages as "[codegen id : N]"
        "WholeStageCodegen" -> plan.contains("codegen id"),
        "BroadcastHashJoin-or-NoJoin" ->
          (!plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin")))
      println(s"[audit] $name " + checks.map { case (k, v) => s"$k=$v" }.mkString(" "))
      if (runMetrics) {
        // execute THIS QueryExecution's plan directly (a .write would spawn a
        // new QueryExecution and leave these metric objects untouched)
        df.queryExecution.executedPlan.execute().count()
        // walk INTO adaptive plans and materialized query stages — a plain
        // foreach stops at the AdaptiveSparkPlanExec shell
        import org.apache.spark.sql.execution.SparkPlan
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
          case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
          case q: QueryStageExec => q +: allNodes(q.plan)
          case other => other +: other.children.flatMap(allNodes)
        }
        // sum each named metric across every operator (AQE final plan;
        // reused exchanges count once per reuse)
        val metricTotals = scala.collection.mutable.Map[String, Long]()
        allNodes(df.queryExecution.executedPlan).foreach { node =>
          node.metrics.foreach { case (_, m) =>
            if (m.value > 0) metricTotals.updateWith(m.name.getOrElse("?")) {
              case Some(v) => Some(v + m.value)
              case None => Some(m.value)
            }
          }
        }
        val interesting = Seq("shuffle records written", "shuffle bytes written",
          "number of output rows", "spill size", "data size")
        val line = interesting.flatMap(k =>
          metricTotals.get(k).map(v => s"$k=$v")).mkString(" ")
        println(s"[metrics] $name $line")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
