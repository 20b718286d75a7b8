package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full reference-parity DAG: 10 source + 16 stage/projection-shared +
  * 12 per-format + 4 mart models = the reference's 40 `dbt` models and two
  * serving queries, re-expressed Spark-first (SURVEY.md §7).
  *
  * Usage:
  * {{{
  *   val out = Pipeline.run(spark, dataRoot = "/path/to/raw/feeds")
  *   out("mart_preseason_overall_rankings_oc").show()
  * }}}
  */
object Pipeline {

  def models(dataRoot: String): Seq[Model] =
    new SourceModels(dataRoot).all ++ StageModels.all ++
      ProjectionModels.all ++ MartModels.all

  def runner(dataRoot: String): DagRunner = new DagRunner(models(dataRoot))

  /** Build every model. `materializeDir=Some(dir)` gives dbt-style per-model
    * table materialization; `None` composes the whole DAG lazily
    * ([[Materialization.Compose]]), which is slower here because every
    * consumer re-derives its shared ancestors.
    *
    * `select` is the reference's operational unit (`dbt build --select`,
    * `app/app.py:448`): names/globs with the `+` graph operators —
    * `"mart_*"` builds the marts (upstream refs composed lazily),
    * `"+mart_sgp_factors"` materializes that mart's full upstream lineage,
    * nothing else is built. Empty = the whole DAG. */
  def run(spark: SparkSession, dataRoot: String,
      materializeDir: Option[String] = None,
      select: Seq[String] = Nil): Map[String, DataFrame] =
    runner(dataRoot).runAs(spark,
      materializeDir.fold[Materialization](Materialization.Compose)(
        Materialization.ParquetDir), select)

  /** dbt_project.yml:38-51 semantics: materialize every model as a catalog
    * table in its layer's database (source / stage / main), queryable as
    * e.g. `spark.table("main.mart_preseason_overall_rankings_oc")`. */
  def runCatalog(spark: SparkSession, dataRoot: String): Map[String, DataFrame] =
    runner(dataRoot).runAs(spark, Materialization.Catalog())

  /** [[runCatalog]] upgraded to the FULL table contract (the README's
    * "incremental models" future enhancement, `README.md:45-46`, made real):
    * every selected model lands as an `op=overwrite` snapshot of a
    * [[graft.sources.VersionedHiddenTable]] under
    * `tableRoot/<schema>/<model>/`. Each run is one snapshot — prior runs
    * time-travel, `VersionedHiddenTable.changes(dir, vPrev)` nets the
    * run-over-run row diff (the feed a downstream consumer folds forward
    * instead of rebuilding), and `TableService.maintain` gives the marts
    * scheduled compaction + retention. SQL access via the `graft_table`
    * TVF. */
  def runVersionedHidden(spark: SparkSession, dataRoot: String,
      tableRoot: String, select: Seq[String] = Nil): Map[String, DataFrame] =
    runner(dataRoot).runAs(spark,
      Materialization.VersionedHiddenDir(tableRoot), select)

  /** Attach named observed metrics to a frame: the aggregates are computed
    * INSIDE whatever action materializes the frame (write, count, collect) —
    * zero extra scans, which is how a 100 TB run affords per-model run
    * metrics (row counts, null-key counts, checksums) on every batch. The
    * returned [[org.apache.spark.sql.Observation]] yields the metric row
    * after the first action. Metrics must be aggregates over the observed
    * plan (no distinct/sort) — the Spark `observe` contract. */
  def observed(df: DataFrame, metrics: (String, org.apache.spark.sql.Column)*)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "observed needs at least one named metric")
    val obs = org.apache.spark.sql.Observation()
    val cols = metrics.map { case (n, c) => c.as(n) }
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }

  // ---- serving queries (app/app.py read paths, SURVEY.md §3.2-3.3) ---------

  /** app/app.py:419-430 — the draft-table pull: explicit column list ordered
    * by rank (S8/O2). */
  def servingRankings(mart: DataFrame): DataFrame =
    mart.select("rank", "name", "team", "pos", "position", "pos_group",
      "pa", "ab", "h", "r", "hr", "rbi", "sb", "avg", "obp", "slg",
      "ip", "er", "w", "qs", "k", "sv", "era", "whip",
      "sgp", "value")
      .orderBy("rank")

  /** app/app.py:868-887 — percentile targets for the latest year of a format:
    * derived-column CTE + uncorrelated scalar-subquery max (A7). The view is
    * session-unique and dropped after analysis ([[graft.core.Tables.sqlOn]])
    * and the format string binds as a typed `:format` parameter — the same
    * side-effect-free discipline the registry enforces (no fixed-name views,
    * no string-interpolated SQL).
    *
    * `format` is the FILENAME token ("OC"/"50s"), not the model-name key
    * ("oc"/"50s") — pass [[LeagueFormat.percentilesKey]], never
    * `LeagueFormat.key`: for OC the two differ only by case, so the wrong
    * one returns zero rows silently (the typed overload below makes the
    * mistake unrepresentable). */
  def servingPercentiles(spark: SparkSession, percentiles: DataFrame,
      format: LeagueFormat): DataFrame =
    servingPercentiles(spark, percentiles, format.percentilesKey)

  def servingPercentiles(spark: SparkSession, percentiles: DataFrame,
      format: String): DataFrame =
    graft.core.Tables.sqlOnArgs(spark, Map("format" -> format),
      "mart_sgp_percentiles" -> percentiles) { v =>
      s"""WITH filename_parts AS (
         |  SELECT _filename, category, p80, p90,
         |         split_part(_filename, ' ', 2) AS format_part,
         |         CAST(split_part(_filename, ' ', 3) AS INT) AS year_part
         |  FROM ${v("mart_sgp_percentiles")})
         |SELECT category, p80, p90
         |FROM filename_parts
         |WHERE format_part = :format
         |  AND year_part = (SELECT max(year_part) FROM filename_parts
         |                   WHERE format_part = :format)""".stripMargin
    }

  /** app/app.py:567-569 — drafted-status KV membership join (`isin`). */
  def withDraftedFlag(rankings: DataFrame, draftedIds: Set[String]): DataFrame =
    rankings.withColumn("drafted", col("id").isin(draftedIds.toSeq: _*))

  /** app/app.py:596-625 — the interactive filter battery, engine-side.
    * Position filter is any-substring-match over the multi-position string
    * ("2B/SS" matches selection "SS"); team/status are exact membership;
    * name search is case-insensitive contains (null names excluded, the
    * pandas `na=False` behavior); draft filter keeps drafted or undrafted
    * rows. Each filter applies only when its column exists, mirroring the
    * app's `'col' in columns` guards. */
  def filterRankings(df: DataFrame,
      positions: Seq[String] = Nil, teams: Seq[String] = Nil,
      statuses: Seq[String] = Nil, nameSearch: Option[String] = None,
      draftedOnly: Option[Boolean] = None): DataFrame = {
    def has(c: String) = df.columns.contains(c)
    var out = df
    if (positions.nonEmpty && has("pos"))
      out = out.filter(positions.map(p =>
        col("pos").cast("string").contains(p)).reduce(_ || _))
    if (teams.nonEmpty && has("team"))
      out = out.filter(col("team").isin(teams: _*))
    if (statuses.nonEmpty && has("projected_opening_day_status"))
      out = out.filter(col("projected_opening_day_status").isin(statuses: _*))
    nameSearch.withFilter(_ => has("name")).foreach(q =>
      out = out.filter(lower(col("name")).contains(q.toLowerCase)))
    draftedOnly.withFilter(_ => has("drafted")).foreach(d =>
      out = out.filter(col("drafted") === d))
    out
  }

  /** app/app.py:744-786 — the mock-draft pick model: normal pdf centered on
    * each player's ADP (std dev = max(range/3, 3)), with the app's range and
    * urgency adjustments (early pick dampened, overdue boosted, approaching
    * max ramped), normalized to a distribution over the available players
    * (id, name, adp, min_pick, max_pick). The 1-row total attaches via a
    * broadcast cross join — the j6 constants pattern. */
  def draftPickProbabilities(players: DataFrame, currentPick: Int): DataFrame = {
    // the rankings mart LEFT-joins ADP, so undrafted players carry null
    // adp/min_pick/max_pick; every when-branch below would evaluate null
    // for them (a SILENT exclusion from the distribution). Filter them
    // explicitly — the app's model is defined only over ADP-listed players.
    val listed = players.filter(
      col("adp").isNotNull && col("min_pick").isNotNull && col("max_pick").isNotNull)
    val cp = lit(currentPick.toDouble)
    val stdDev = greatest((col("max_pick") - col("min_pick")) / 3.0, lit(3.0))
    val base = exp(lit(-0.5) * pow((cp - col("adp")) / stdDev, 2))
    val raw =
      when(cp < col("min_pick"),
        when(col("min_pick") - cp <= 2, base * 0.1).otherwise(lit(0.0001)))
        .when(cp > col("max_pick"),
          base * (lit(1) + (cp - col("max_pick")) * 2) * 10)
        .when(cp >= col("max_pick") - 2,
          base * (lit(1) + (lit(2) - (col("max_pick") - cp)) * 0.5))
        .otherwise(base)
    val weighted = listed.withColumn("raw_prob", raw)
    val total = weighted.agg(sum(col("raw_prob")).as("_total"))
    weighted.crossJoin(broadcast(total))
      .withColumn("prob", col("raw_prob") / col("_total"))
      .drop("_total")
  }

  /** Deterministic-seed weighted pick: inverse-CDF walk over the cumulative
    * distribution in id order (the app's np.random.choice with p=probs, made
    * reproducible). Serving-scale global window — the candidate pool is the
    * undrafted tail of one league, not a corpus. */
  def sampleDraftPick(probs: DataFrame, seed: Long): DataFrame = {
    val u = new scala.util.Random(seed).nextDouble()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("id")).rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // Two inverse-CDF boundary rules np.random.choice honors that a naive
    // `filter(cum >= u) ... limit(1)` does not: (a) fp rounding can make
    // the final cum land just UNDER 1.0 — a draw above it must fall back
    // to the last row, never return empty; (b) a zero-probability row
    // shares its predecessor's cum and must never be picked. prob > 0
    // first, then the id order makes the surviving cut deterministic.
    val positive = probs.filter(col("prob") > 0)
      .withColumn("cum", sum(col("prob")).over(w))
    // ONE materialization per pick: collect the candidate row driver-side
    // (serving-scale) instead of isEmpty + a second execution of the
    // window plan; the fallback query runs only on the empty edge
    val hit = positive.filter(col("cum") >= u)
      .orderBy(col("cum"), col("id")).limit(1).drop("cum")
    val rows = hit.collect()
    if (rows.isEmpty)
      positive.orderBy(col("cum").desc, col("id")).limit(1).drop("cum")
    else hit.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), hit.schema)
  }
}
