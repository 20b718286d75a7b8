package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types._

/** The full reference-parity DAG: 10 source + 16 stage/projection-shared +
  * 12 per-format + 4 mart models = the reference's 40 `dbt` models and two
  * serving queries, re-expressed Spark-first (SURVEY.md §7).
  *
  * Usage:
  * {{{
  *   val out = Pipeline.run(spark, dataRoot = "/path/to/raw/feeds",
  *     Materialization.ParquetDir("/path/to/warehouse"))
  *   out("mart_preseason_overall_rankings_oc").show()
  * }}}
  */
object Pipeline {

  def models(dataRoot: String): Seq[Model] =
    new SourceModels(dataRoot).all ++ StageModels.all ++
      ProjectionModels.all ++ MartModels.all

  /** The reference's `dbt build`: builds the models `select` names (all of
    * them when empty) into `mat`, every model a table (`dbt_project.yml:38-51`),
    * as [[DagRunner.runAs]] does. `select` is the reference's operational
    * unit (`dbt build --select`, `app/app.py:448`): names/globs with the `+`
    * graph operators — `"mart_*"` rebuilds the marts over their parents'
    * current materializations, `"+mart_sgp_factors"` rebuilds that mart's
    * full upstream lineage, nothing else is built. */
  def run(spark: SparkSession, dataRoot: String, mat: Materialization,
      select: Seq[String] = Nil): Map[String, DataFrame] =
    new DagRunner(models(dataRoot)).runAs(spark, mat, select)

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

  /** app/app.py:567-569 — drafted-status membership: `isin`'s answers, and
    * a null id gives a null flag. That holds for the empty set too, where
    * `isin` folds to false; a null id joins no ADP row, so it is never a
    * pick candidate either way. The ids ride in one array literal, which
    * generated code reads by reference, so the code is the same for every
    * drafted set. An `isin` list of 10 or fewer values is written into the
    * generated code instead, and each new drafted set cost a Janino compile.
    * The literal is an `array<string>` for every set, the empty one too. */
  def withDraftedFlag(rankings: DataFrame, draftedIds: Set[String]): DataFrame =
    rankings.withColumn("drafted", array_contains(lit(draftedIds.toArray), col("id")))

  /** app/app.py:596-625 — the interactive filter battery, engine-side.
    * Position filter is any-substring-match over the multi-position string
    * ("2B/SS" matches selection "SS"); team/status are exact membership;
    * name search is case-insensitive contains (null names excluded, the
    * pandas `na=False` behavior); draft filter keeps drafted or undrafted
    * rows. Each filter applies only when its column exists, mirroring the
    * app's `'col' in columns` guards. The active filters form one `Filter`,
    * so the wide flagged plan is analysed once per request. */
  def filterRankings(df: DataFrame,
      positions: Seq[String] = Nil, teams: Seq[String] = Nil,
      statuses: Seq[String] = Nil, nameSearch: Option[String] = None,
      draftedOnly: Option[Boolean] = None): DataFrame = {
    val has = df.columns.toSet
    val predicates = Seq(
      Option.when(positions.nonEmpty && has("pos"))(positions.map(p =>
        col("pos").cast("string").contains(p)).reduce(_ || _)),
      Option.when(teams.nonEmpty && has("team"))(col("team").isin(teams: _*)),
      Option.when(statuses.nonEmpty && has("projected_opening_day_status"))(
        col("projected_opening_day_status").isin(statuses: _*)),
      nameSearch.filter(_ => has("name")).map(q =>
        lower(col("name")).contains(q.toLowerCase)),
      draftedOnly.filter(_ => has("drafted")).map(d => col("drafted") === d)).flatten
    predicates.reduceOption(_ && _).fold(df)(df.filter)
  }

  /** app/app.py:744-786 — the mock-draft pick model: normal pdf centered on
    * each player's ADP (std dev = max(range/3, 3)), with the app's range and
    * urgency adjustments (early pick dampened, overdue boosted, approaching
    * max ramped), normalized to a distribution over the available players
    * (id, name, adp, min_pick, max_pick). Returns the ADP-listed rows with
    * `raw_prob` and `prob` appended, as a local DataFrame.
    *
    * Serving scale: the candidates are bounded by one league's ADP list, so
    * one job brings them to the driver as Catalyst rows and the model runs
    * there, as the app runs it in pandas. As Spark columns, the per-pick
    * `currentPick` literal is written into the generated code, so every pick
    * would compile its stages anew. `adp`, `min_pick` and `max_pick` may be
    * of any numeric type, each read as `Number.doubleValue` reads it. The
    * math is `StrictMath`, as in Spark's `Exp` and `Pow`, so each `raw_prob`
    * is the value the column form computes. */
  def draftPickProbabilities(players: DataFrame, currentPick: Int): DataFrame = {
    // the rankings mart LEFT-joins ADP, so undrafted players carry null
    // adp/min_pick/max_pick; the app's model is defined only over
    // ADP-listed players, so the rest are left out explicitly
    val listed = players.filter(
      col("adp").isNotNull && col("min_pick").isNotNull && col("max_pick").isNotNull)
    val Seq(adp, lo, hi) = Seq("adp", "min_pick", "max_pick").map(asDouble(listed.schema, _))
    val rows = GraftSqlBridge.collectRows(listed)
    val raw = rows.map(r => rawProb(currentPick.toDouble, adp(r), lo(r), hi(r)))
    val total = raw.sum
    val out = rows.zip(raw).map { case (r, w) =>
      new JoinedRow(r, new GenericInternalRow(Array[Any](w, w / total))): InternalRow
    }
    GraftSqlBridge.localFrame(players.sparkSession,
      listed.schema.add("raw_prob", DoubleType).add("prob", DoubleType), out.toSeq)
  }

  /** A reader of numeric column `name` of a Catalyst row as a double. */
  private def asDouble(schema: StructType, name: String): InternalRow => Double = {
    val i = schema.fieldIndex(name)
    schema(i).dataType match {
      case ByteType => _.getByte(i).toDouble
      case ShortType => _.getShort(i).toDouble
      case IntegerType => _.getInt(i).toDouble
      case LongType => _.getLong(i).toDouble
      case FloatType => _.getFloat(i).toDouble
      case DoubleType => _.getDouble(i)
      case d: DecimalType => _.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.doubleValue
      case t => throw new IllegalArgumentException(s"$name must be numeric, not ${t.sql}")
    }
  }

  /** The app's unnormalized pick weight of one player at pick `cp`. */
  private[pipeline] def rawProb(cp: Double, adp: Double, lo: Double, hi: Double): Double = {
    val base = StrictMath.exp(-0.5 * StrictMath.pow((cp - adp) / math.max((hi - lo) / 3.0, 3.0), 2))
    if (cp < lo) { if (lo - cp <= 2) base * 0.1 else 0.0001 }
    else if (cp > hi) base * (1 + (cp - hi) * 2) * 10
    else if (cp >= hi - 2) base * (1 + (2 - (hi - cp)) * 0.5)
    else base
  }

  /** Deterministic-seed weighted pick: inverse-CDF walk over the cumulative
    * distribution in id order (the app's np.random.choice with p=probs, made
    * reproducible). Returns the picked row of `probs`, or no row when no
    * candidate has a positive probability.
    *
    * Serving scale, like [[draftPickProbabilities]]: the walk runs on the
    * driver over Catalyst rows, read without planning when `probs` is that
    * method's local result and collected in one job otherwise; as a Spark
    * window, the per-pick draw would be a literal in the generated code and
    * compile anew. Ids compare by their UTF-8 bytes, nulls first, as Spark
    * sorts strings. */
  def sampleDraftPick(probs: DataFrame, seed: Long): DataFrame = {
    val u = new scala.util.Random(seed).nextDouble()
    val Seq(id, p) = Seq("id", "prob").map(probs.schema.fieldIndex)
    val rows = GraftSqlBridge.localRows(probs)
      .getOrElse(GraftSqlBridge.collectRows(probs).toSeq)
    // Two inverse-CDF boundary rules np.random.choice honors that a naive
    // first `cum >= u` does not: (a) a zero-probability row shares its
    // predecessor's cum and must never be picked, so prob > 0 first; (b) fp
    // rounding can make the final cum land just UNDER 1.0, and a draw above
    // it falls back to the last row, so `u` is clamped to the final cum (the
    // first row to reach it: a trailing row too small to move cum never wins)
    val walk = rows
      .filter(r => !r.isNullAt(p) && r.getDouble(p) > 0)
      .sortBy(r => Option.unless(r.isNullAt(id))(r.getUTF8String(id)))
    val cum = walk.scanLeft(0.0)(_ + _.getDouble(p)).tail
    val pick = cum.lastOption.map(last => walk(cum.indexWhere(_ >= math.min(u, last))))
    GraftSqlBridge.localFrame(probs.sparkSession, probs.schema, pick.toSeq)
  }
}
