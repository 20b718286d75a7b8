package graft.pipeline

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** End-to-end run of the reference-parity DAG over generated fixtures
  * (SURVEY.md §5 items 2/5): model semantics, snapshot filters, cascade
  * pools, SGP math (slope hand-checked), dollar-budget invariant, marts.
  */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var out: Map[String, DataFrame] = _
  private val root = Files.createTempDirectory("graft-fixtures").toString

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    FixtureGen.generate(root)
    // materialized (dbt-style) mode: one pass builds all 40 models to parquet,
    // so each assertion below reads a table instead of recomputing the DAG
    matDir = Files.createTempDirectory("graft-mat").toString
    out = Pipeline.run(spark, root, Materialization.ParquetDir(matDir))
  }

  private var matDir: String = _

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("DAG wires all 40 reference models and orders the mart->stage back-edge") {
    val names = Pipeline.models(root).map(_.name)
    assert(names.size == 40, s"expected 40 models, got ${names.size}: $names")
    val order = new DagRunner(Pipeline.models(root)).topoOrder
    assert(order.indexOf("mart_sgp_factors") <
      order.indexOf("stg_proj_preseason_hitting_sgp_oc"),
      "mart_sgp_factors must build before the stage models that consume it")
  }

  test("S4 latest-snapshot filter keeps only the newest ingest date") {
    val pl = out("src_nfbc_players")
    assert(pl.select("_ptkey").distinct().collect().map(_.getString(0)).toSeq == Seq("2026210"))
    // the stale 3-row snapshot from 2026-01-05 must not leak through
    assert(pl.count() == FixtureGen.hitters.size + FixtureGen.pitchers.size + 1)
  }

  test("S5 per-file snapshot: both ADP format files survive with their own dates") {
    val adp = out("src_nfbc_adp")
    val files = adp.select("_filename", "_ptkey").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(files == Map("OC_ADP.tsv" -> "2026211", "Fifties_ADP.tsv" -> "2026212"))
  }

  test("id map drops all-empty rows and collapses duplicates") {
    val ids = out("stg_mpd_player_id_map")
    assert(!ids.select("id").collect().map(_.getString(0)).contains("n9999"))
    assert(ids.filter(col("id") === "n1").count() == 1)
    val name1 = ids.filter(col("id") === "n1").select("name").first().getString(0)
    assert(name1 == "First1 Last1") // "Last, First" -> "First Last"
  }

  test("ranked standings: rank_r inverts r ordering per (file, league)") {
    val rs = out("stg_nfbc_ranked_standings")
      .filter(col("_filename") === "NFBC OC 2025 Overall Standings.csv" && col("league") === "L1")
      .select("r", "rank_r").collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rs.length == 12)
    val sorted = rs.sortBy(-_._1).map(_._2)
    assert(sorted.toSeq == (1 to 12), s"rank_r should be 1..12 by r desc, got ${sorted.toSeq}")
  }

  test("SGP factor slope matches hand-computed least squares") {
    // replicate stg_nfbc_sgp_inputs + stg_nfbc_sgp_factors for (OC file, HR)
    // directly from the ranked standings output
    val rows = out("stg_nfbc_ranked_standings")
      .filter(col("_filename") === "NFBC OC 2025 Overall Standings.csv")
      .select("league", "rank_hr", "hr").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
      .filter { case (_, rk, _) => rk >= 3 && rk <= 10 }
    val byRank = rows.groupBy(_._2).map { case (rk, g) =>
      (13.0 - rk, g.map(_._3.toDouble).sum / g.size)
    }.toSeq
    val n = byRank.size.toDouble
    val (sx, sy) = (byRank.map(_._1).sum, byRank.map(_._2).sum)
    val sxy = byRank.map(p => p._1 * p._2).sum
    val sx2 = byRank.map(p => p._1 * p._1).sum
    val expected = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    val got = out("mart_sgp_factors")
      .filter(col("_filename") === "NFBC OC 2025 Overall Standings.csv")
      .select("sgp_hr").first().getDouble(0)
    assert(math.abs(got - expected) < 1e-9, s"slope $got != $expected")
  }

  test("pitching agg excludes the hardcoded id and blends saves without thebat") {
    val agg = out("stg_proj_preseason_pitching_agg")
    assert(agg.filter(col("id") === FixtureGen.excludedPitcherId).count() == 0)
    // relievers (sv > 0 in fixtures) keep positive blended saves
    assert(agg.filter(col("sv") > 0).count() >= 5)
  }

  test("hitting rep_lvl: one row per position incl. the UT max-of-mins append") {
    val rl = out("stg_proj_preseason_hitting_rep_lvl_oc").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // pool rows keep their TRUE position (MI/CI are pos_groups, not
    // positions), so rep_lvl holds the six real positions + the UT append
    assert(rl.keySet == Set("C", "1B", "2B", "3B", "SS", "OF", "UT"),
      s"positions: ${rl.keySet}")
    assert(rl("UT") == rl.removed("UT").values.max,
      "UT replacement level must equal the max of the other positions' minimums")
  }

  test("dollar values: sum of (value-1) over positive-sgpar players equals the budget") {
    val v = out("stg_proj_preseason_hitting_values_oc")
    val total = v.filter(col("sgpar") > 0)
      .agg(sum(col("value") - 1)).first().getDouble(0)
    assert(math.abs(total - LeagueFormat.Oc.hitBudget) < 1e-6,
      s"sum(value-1)=$total != budget ${LeagueFormat.Oc.hitBudget}")
  }

  test("overall rankings mart: contiguous ranks, value-sorted, joins applied") {
    val mart = out("mart_preseason_overall_rankings_oc")
    val rows = mart.select("rank", "value", "adp", "projected_opening_day_status")
      .orderBy("rank").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length), "ranks must be 1..N")
    val values = rows.map(_.getDouble(1))
    assert(values.zip(values.tail).forall { case (a, b) => a >= b }, "value must descend")
    // ADP joined from the OC file only, newest snapshot (offset 0.4)
    val adps = rows.flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
    assert(adps.nonEmpty && adps.forall(a => (a * 10).round % 10 == 4),
      s"expected OC ADP values ending .4, got ${adps.take(5).toSeq}")
    // roster exclusion: fgId 105 -> '19755' + SP is filtered from rosters
    val excluded = mart.filter(col("id") === FixtureGen.nfbcId(105))
      .select("projected_opening_day_status").collect()
    assert(excluded.forall(_.isNullAt(0)), "19755SP roster row must not join")
  }

  test("50s mart differs from oc only via constants and ADP file") {
    val oc = out("mart_preseason_overall_rankings_oc")
    val fifties = out("mart_preseason_overall_rankings_50s")
    assert(oc.count() == fifties.count())
    val a5 = fifties.select("adp").filter(col("adp").isNotNull).limit(5)
      .collect().map(_.getDouble(0))
    assert(a5.forall(a => (a * 10).round % 10 == 7),
      s"50s ADP must come from Fifties_ADP.tsv (.7 offsets), got ${a5.toSeq}")
  }

  test("serving queries: rankings pull and latest-year percentiles") {
    val serving = Pipeline.servingRankings(out("mart_preseason_overall_rankings_oc"))
    assert(serving.columns.take(2).toSeq == Seq("rank", "name"))
    assert(serving.count() > 0)
    val pct = Pipeline.servingPercentiles(spark, out("mart_sgp_percentiles"), "OC")
    val cats = pct.select("category").collect().map(_.getString(0)).toSet
    assert(cats == Set("R", "HR", "RBI", "SB", "AVG", "K", "W", "S", "ERA", "WHIP"))
    // ERA/WHIP sign-flip round-trips to positive values
    val era = pct.filter(col("category") === "ERA").select("p80").first().getDouble(0)
    assert(era > 0, s"ERA p80 should be positive after double sign-flip, got $era")
  }

  test("one player's SGP and dollar value recompute independently from upstream models") {
    // cross-model check: take hitter n8's blended stats + the OC factors and
    // redo the arithmetic of sgp_oc/values_oc in plain Scala
    val f = LeagueFormat.Oc
    val agg = out("stg_proj_preseason_hitting_agg")
      .filter(col("id") === "n8").first()
    val fac = out("mart_sgp_factors")
      .filter(col("_filename") === f.standingsFile).first()
    def d(r: org.apache.spark.sql.Row, c: String) = r.getAs[Double](c)
    val expectedSgp =
      d(agg, "r") / d(fac, "sgp_r") + d(agg, "hr") / d(fac, "sgp_hr") +
        d(agg, "rbi") / d(fac, "sgp_rbi") + d(agg, "sb") / d(fac, "sgp_sb") +
        ((d(agg, "h") + f.lgH) / (d(agg, "ab") + f.lgAb) - f.lgAvg) / d(fac, "sgp_avg")
    // n8 is single-position 1B (no multi-position bonus/penalty)
    val got = out("stg_proj_preseason_hitting_sgp_oc")
      .filter(col("id") === "n8").select("sgp").first().getDouble(0)
    assert(math.abs(got - expectedSgp) < 1e-9, s"sgp $got != $expectedSgp")
    // dollars: value = sgpar * budget / sum(positive sgpar) + 1
    val values = out("stg_proj_preseason_hitting_values_oc")
    val sumPos = values.filter(col("sgpar") > 0)
      .agg(sum("sgpar")).first().getDouble(0)
    val row = values.filter(col("id") === "n8")
      .select("sgpar", "value").first()
    val expectedValue = row.getDouble(0) * (f.hitBudget / sumPos) + 1
    assert(math.abs(row.getDouble(1) - expectedValue) < 1e-6,
      s"value ${row.getDouble(1)} != $expectedValue")
  }

  test("serving filter battery + drafted flag (app.py:567-625)") {
    val mart = out("mart_preseason_overall_rankings_oc")
    val flagged = Pipeline.withDraftedFlag(mart, Set("n8"))
    val byId = flagged.select("id", "drafted").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(byId("n8") && byId.count(_._2) == 1, "exactly n8 is drafted")
    // position substring any-match: multi-position strings hit on any token
    val posSet = Set("1B", "SS")
    val gotPos = Pipeline.filterRankings(flagged, positions = Seq("1B", "SS"))
      .select("pos").collect().map(_.getString(0))
    assert(gotPos.nonEmpty && gotPos.forall(p => posSet.exists(p.contains)),
      s"every surviving pos must contain 1B or SS: ${gotPos.mkString(",")}")
    // case-insensitive name contains
    val name = mart.select("name").first().getString(0)
    val sub = name.substring(1, name.length - 1)
    assert(Pipeline.filterRankings(mart,
      nameSearch = Some(sub.toUpperCase)).count() >= 1)
    // drafted-only / undrafted-only split partitions the table
    val d = Pipeline.filterRankings(flagged, draftedOnly = Some(true)).count()
    val u = Pipeline.filterRankings(flagged, draftedOnly = Some(false)).count()
    assert(d == 1 && d + u == flagged.count())
    // team membership
    val team = mart.select("team").first().getString(0)
    assert(Pipeline.filterRankings(mart, teams = Seq(team)).count() ==
      mart.filter(col("team") === team).count())
    // the whole battery is one Filter above the flagged frame
    def filters(df: DataFrame) = df.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.size
    val battery = Pipeline.filterRankings(flagged, positions = Seq("1B", "SS"),
      teams = Seq(team), nameSearch = Some("a"), draftedOnly = Some(false))
    assert(battery.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter] &&
      filters(battery) == filters(flagged) + 1, "the battery plans one Filter")
  }

  test("mock-draft pick model: normalized urgency-weighted pdf, deterministic sample") {
    val sp = spark; import sp.implicits._
    val players = Seq(
      ("p1", "Alpha", 10.0, 5.0, 15.0),   // current pick inside range
      ("p2", "Beta", 30.0, 25.0, 40.0),   // too early (>2 before min) -> 1e-4
      ("p3", "Gamma", 4.0, 1.0, 8.0),     // overdue -> urgency boost
      ("p4", "Delta", 12.0, 3.0, 13.0))   // within 2 of max -> ramp
      .toDF("id", "name", "adp", "min_pick", "max_pick")
    val probs = Pipeline.draftPickProbabilities(players, currentPick = 12)
    val rows = probs.select("id", "raw_prob", "prob").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // hand-computed against the app's formulas (app.py:744-776)
    def base(adp: Double, lo: Double, hi: Double) =
      math.exp(-0.5 * math.pow((12 - adp) / math.max((hi - lo) / 3, 3), 2))
    assert(math.abs(rows("p1")._1 - base(10, 5, 15)) < 1e-12)
    assert(rows("p2")._1 == 0.0001, "too-early player pinned to epsilon")
    assert(math.abs(rows("p3")._1 - base(4, 1, 8) * (1 + (12 - 8) * 2) * 10) < 1e-12)
    assert(math.abs(rows("p4")._1 - base(12, 3, 13) * (1 + (2 - 1) * 0.5)) < 1e-12)
    assert(math.abs(rows.values.map(_._2).sum - 1.0) < 1e-12, "probs normalize to 1")
    // deterministic: same seed -> same pick, twice
    val pick1 = Pipeline.sampleDraftPick(probs, seed = 42).select("id").first().getString(0)
    val pick2 = Pipeline.sampleDraftPick(probs, seed = 42).select("id").first().getString(0)
    assert(pick1 == pick2, "fixed seed must reproduce the pick")
    // the overdue player dominates this distribution; seed 42 must land there
    assert(rows("p3")._2 > 0.5)
  }

  // The pick model and sampler as Spark columns, as they stood before the
  // model moved to the driver: the oracle the driver-side walk must match
  // pick for pick.
  private object ColumnPick {
    def draftedFlag(rankings: DataFrame, draftedIds: Set[String]): DataFrame =
      rankings.withColumn("drafted", col("id").isin(draftedIds.toSeq: _*))

    def probabilities(players: DataFrame, currentPick: Int): DataFrame = {
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

    def sample(probs: DataFrame, seed: Long): DataFrame = {
      val u = new scala.util.Random(seed).nextDouble()
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("id")).rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val positive = probs.filter(col("prob") > 0)
        .withColumn("cum", sum(col("prob")).over(w))
      val hit = positive.filter(col("cum") >= u)
        .orderBy(col("cum"), col("id")).limit(1).drop("cum")
      val rows = hit.collect()
      if (rows.isEmpty)
        positive.orderBy(col("cum").desc, col("id")).limit(1).drop("cum")
      else hit.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), hit.schema)
    }
  }

  // The pick model as it stood before it read Catalyst rows: the oracle of
  // how a numeric `adp`/`min_pick`/`max_pick` of any type reads as a double.
  private object RowPick {
    def probabilities(players: DataFrame, currentPick: Int): DataFrame = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.DoubleType
      val listed = players.filter(
        col("adp").isNotNull && col("min_pick").isNotNull && col("max_pick").isNotNull)
      val rows = listed.collect()
      val Seq(adp, lo, hi) = Seq("adp", "min_pick", "max_pick").map(listed.schema.fieldIndex)
      def num(r: Row, i: Int) = r.getAs[Number](i).doubleValue
      val raw = rows.map(r =>
        Pipeline.rawProb(currentPick.toDouble, num(r, adp), num(r, lo), num(r, hi)))
      val total = raw.sum
      val out = rows.zip(raw).map { case (r, w) => Row.fromSeq(r.toSeq :+ w :+ w / total) }
      players.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*),
        listed.schema.add("raw_prob", DoubleType).add("prob", DoubleType))
    }
  }

  private def pickedId(picked: DataFrame): Option[String] =
    picked.select("id").collect().headOption.map(_.getString(0))

  test("driver-side pick model picks what the Spark-column model picks") {
    val seeds = Seq(1L, 7L, 42L)
    for (format <- LeagueFormat.all) {
      val mart = out(s"mart_preseason_overall_rankings_${format.key}")
      var drafted = Set.empty[String]
      for (cp <- 1 to 60) {
        val undrafted = Pipeline.withDraftedFlag(mart, drafted).filter(!col("drafted"))
        val probs = Pipeline.draftPickProbabilities(undrafted, cp)
        // the oracle samples a local copy of its own distribution, so its
        // model runs once per pick instead of once per seed
        val oracleRows = ColumnPick.probabilities(
          ColumnPick.draftedFlag(mart, drafted).filter(!col("drafted")), cp)
        val oracle = spark.createDataFrame(
          java.util.Arrays.asList(oracleRows.collect(): _*), oracleRows.schema)
        def weights(df: DataFrame) = df.select("id", "raw_prob", "prob").collect()
          .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
        val (got, want) = (weights(probs), weights(oracle))
        assert(got.keySet == want.keySet, s"${format.key} pick $cp: candidate sets differ")
        want.foreach { case (id, (raw, prob)) =>
          assert(got(id)._1 == raw, s"${format.key} pick $cp, $id: raw_prob ${got(id)._1} != $raw")
          assert(math.abs(got(id)._2 - prob) <= 1e-15, s"${format.key} pick $cp, $id: prob")
        }
        val picks = seeds.map(s => pickedId(Pipeline.sampleDraftPick(probs, s * 1000 + cp)))
        val oraclePicks = seeds.map(s => pickedId(ColumnPick.sample(oracle, s * 1000 + cp)))
        assert(picks == oraclePicks, s"${format.key} pick $cp")
        assert(picks.forall(_.isDefined), s"${format.key} pick $cp: the board ran dry")
        drafted += picks.head.get
      }
    }
  }

  test("sampler boundary rules: zero-probability rows, a draw past the total, byte-order ids") {
    val sp = spark; import sp.implicits._
    // the probabilities sum to 0.99, standing in for an fp-short total: a
    // draw above 0.99 must fall back to the last positive row, never to a
    // zero-probability row and never to no row. The last positive row is
    // "😀" by UTF-8 bytes, as Spark sorts, but "Ａ" (U+FF21) by UTF-16 code
    // units, as java.lang.String sorts
    val board = Seq(("a", 0.2), ("b", 0.0), ("c", 0.19), ("d", 0.3),
      ("Ａ", 0.15), ("😀", 0.15), ("😀😀", 0.0)).toDF("id", "prob")
    val high = Iterator.from(0).map(_.toLong)
      .find(s => new scala.util.Random(s).nextDouble() > 0.99).get
    assert(pickedId(Pipeline.sampleDraftPick(board, high)) == Some("😀"))
    for (seed <- (0L until 40L) :+ high)
      assert(pickedId(Pipeline.sampleDraftPick(board, seed)) ==
        pickedId(ColumnPick.sample(board, seed)), s"seed $seed")
    // an empty candidate set gives an empty pick, in the model's schema
    val none = Pipeline.draftPickProbabilities(
      out("mart_preseason_overall_rankings_oc").filter(col("adp").isNull), 1)
    assert(none.isEmpty && none.columns.takeRight(2).toSeq == Seq("raw_prob", "prob"))
    val picked = Pipeline.sampleDraftPick(none, 42)
    assert(picked.isEmpty && picked.columns.toSeq == none.columns.toSeq)
  }

  test("pick model reads every numeric ADP type as the Row path did, bit for bit") {
    import org.apache.spark.sql.types._
    // fractional ADPs inside the byte range; an integral type truncates them
    val base = spark.range(0, 40, 1, 3).select(
      concat(lit("p"), col("id")).as("id"), col("id").cast("string").as("name"),
      (col("id") * 2.7 + 0.1).as("adp"), (col("id") * 2.7 - 2.3).as("min_pick"),
      (col("id") * 2.7 + 4.9).as("max_pick"))
    def bits(df: DataFrame) = df.select("id", "raw_prob", "prob").collect()
      .map(r => r.getString(0) -> (java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toMap
    for (t <- Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
        DecimalType(6, 2), DecimalType(38, 20))) {
      val players = base.select(col("id"), col("name"), col("adp").cast(t).as("adp"),
        col("min_pick").cast(t).as("min_pick"), col("max_pick").cast(t).as("max_pick"))
      for (cp <- Seq(1, 17, 60, 130)) {
        val got = Pipeline.draftPickProbabilities(players, cp)
        val want = RowPick.probabilities(players, cp)
        assert(got.schema == want.schema, s"$t pick $cp: schema")
        assert(bits(got) == bits(want), s"$t pick $cp: raw_prob/prob bits")
      }
    }
    val text = base.withColumn("adp", col("adp").cast("string"))
    assert(intercept[IllegalArgumentException](
      Pipeline.draftPickProbabilities(text, 1)).getMessage.contains("adp"))
  }

  test("sampler over a non-local frame picks what it picks over the same local rows") {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val sp = spark; import sp.implicits._
    def local(df: DataFrame) =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    def parquet(df: DataFrame, tag: String) = {
      val p = Files.createTempDirectory(s"graft-probs-$tag").toString + "/t"
      df.repartition(3).write.parquet(p)
      spark.read.parquet(p)
    }
    def samePicks(board: DataFrame, tag: String, seeds: Seq[Long]): Unit = {
      val onDisk = parquet(board, tag)
      val lc = local(onDisk)
      assert(GraftSqlBridge.localRows(lc).isDefined && GraftSqlBridge.localRows(onDisk).isEmpty,
        "precondition: one local and one non-local input")
      for (seed <- seeds; nonLocal <- Seq(onDisk, onDisk.filter(col("prob") >= 0.0)))
        assert(pickedId(Pipeline.sampleDraftPick(nonLocal, seed)) ==
          pickedId(Pipeline.sampleDraftPick(lc, seed)), s"$tag seed $seed")
    }
    val mart = out("mart_preseason_overall_rankings_oc")
    for (cp <- Seq(1, 25, 90))
      samePicks(Pipeline.draftPickProbabilities(mart, cp), s"mart-$cp",
        (0L until 8L).map(_ * 1000 + cp))
    // the boundary-rules board: zero-probability rows, a draw past the
    // total (0.99), ids whose UTF-8 byte order differs from UTF-16 order
    val board = Seq(("a", 0.2), ("b", 0.0), ("c", 0.19), ("d", 0.3),
      ("Ａ", 0.15), ("😀", 0.15), ("😀😀", 0.0)).toDF("id", "prob")
    val high = Iterator.from(0).map(_.toLong)
      .find(s => new scala.util.Random(s).nextDouble() > 0.99).get
    samePicks(board, "boundary", (0L until 40L) :+ high)
    assert(pickedId(Pipeline.sampleDraftPick(parquet(board, "high"), high)) == Some("😀"))
  }

  test("collectRows returns the rows Dataset.collect returns, every type, every partition") {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val id = col("id")
    def orNull(c: org.apache.spark.sql.Column, every: Int) =
      when(id % every === 0, lit(null)).otherwise(c)
    val df = spark.range(0, 300, 1, 4).select(id,
      orNull(id * 3, 7).as("n"),
      orNull(concat(lit("s"), id.cast("string")), 5).as("s"),
      orNull((id / 7).cast("decimal(20,6)"), 6).as("dec"),
      orNull((id * 11).cast("decimal(38,10)"), 9).as("wide"),
      orNull(id.cast("string").cast("binary"), 4).as("bin"),
      orNull(struct((id / 2).as("x"), orNull(id.cast("string"), 3).as("t")), 8).as("st"),
      orNull(array(id, orNull(id + 1, 2)), 10).as("arr"),
      orNull(map(id.cast("string"), orNull(id / 3, 4)), 11).as("m"))
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    val got = GraftSqlBridge.collectRows(df)
      .map(toRow(_).asInstanceOf[org.apache.spark.sql.Row]).sortBy(_.getLong(0)).toSeq
    val want = df.collect().sortBy(_.getLong(0)).toSeq
    assert(got.size == 300 && got == want)
  }

  test("drafted flag keeps isin's answers: empty set, 1-12 ids, null id, ids outside the mart") {
    val sp = spark; import sp.implicits._
    val mart = out("mart_preseason_overall_rankings_oc")
    val ids = mart.select("id").orderBy("id").collect().map(_.getString(0))
    val board = mart.select("id").union(Seq(Option.empty[String]).toDF("id"))
    def flags(df: DataFrame) = df.select("id", "drafted").collect()
      .map(r => Option(r.getString(0)) -> Option(r.get(1)))
      .sortBy(_._1.getOrElse("")).toSeq
    def same(df: DataFrame, set: Set[String]) = {
      val got = flags(Pipeline.withDraftedFlag(df, set))
      assert(got == flags(ColumnPick.draftedFlag(df, set)), s"drafted set $set")
      got
    }
    // no mart id is null; on a null id the empty set's flag is null too,
    // where isin folds its empty list to false
    assert(same(mart, Set.empty).forall(_._2.contains(false)), "nothing is drafted")
    assert(flags(Pipeline.withDraftedFlag(board, Set.empty)).collect { case (None, f) => f } ==
      Seq(None), "a null id gives a null flag")
    def outside(n: Int) = (1 to n).map(i => s"outside-$i").toSet
    for (n <- 1 to 12; set <- Seq(ids.take(n).toSet, ids.takeRight(n / 2).toSet ++ outside(n - n / 2)))
      assert(same(board, set).collect { case (None, f) => f } == Seq(None),
        "a null id gives a null flag")
  }

  test("a pick runs one job and compiles no code after warm-up") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val mart = out("mart_preseason_overall_rankings_oc")
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // (jobs, compiles) that `body` cost
    def cost(body: => Unit): (Int, Long) = {
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      val (j0, c0) = (jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      body
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      (jobs.get - j0, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    var drafted = Set.empty[String]
    // the pick request and the board refresh, as the draft-day app makes them
    def pick(): Unit = {
      val undrafted = Pipeline.withDraftedFlag(mart, drafted).filter(!col("drafted"))
      val probs = Pipeline.draftPickProbabilities(undrafted, drafted.size + 1)
      drafted += Pipeline.sampleDraftPick(probs, drafted.size).select("id").collect()
        .head.getString(0)
    }
    def board(): Unit =
      Pipeline.filterRankings(Pipeline.withDraftedFlag(mart, drafted),
        positions = Seq("SS", "OF"), nameSearch = Some("a"), draftedOnly = Some(false))
        .select("id", "name", "pos", "drafted").collect()
    spark.sparkContext.addSparkListener(listener)
    try {
      pick()
      board()
      for (size <- 1 to 15) {
        assert(drafted.size == size)
        assert(cost(pick()) == (1, 0L), s"pick at drafted size $size: (jobs, compiles)")
        assert(cost(board())._2 == 0L, s"board at drafted size ${size + 1}: compiles")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // Golden content digests of ALL 40 models over the deterministic fixture
  // corpus, materialized mode. Every cell participates bit-exactly
  // (Checks.contentDigest — no rounding), so a silent drift in ANY
  // constant (e.g. the 1765.0/6958.0 smoothing pair), join key or filter
  // fails this suite even when the structural invariants above still hold —
  // and because every LAYER is pinned, the failing digest localizes the
  // drift to the first model whose content moved. Regenerate ONLY after an
  // intended semantics change:
  //   sbt "runMain graft.pipeline.GoldenGen"
  private val golden = Map(
    "mart_preseason_overall_rankings_50s" -> "9047755f5e7757e31627934f10a72619",
    "mart_preseason_overall_rankings_oc" -> "7e03c13e22364e8733cea8355b27ed2c",
    "mart_sgp_factors" -> "1ebb116d35257adf1684659bfd5b949c",
    "mart_sgp_percentiles" -> "8c54b0439f0c56618abd911b40c392b4",
    "src_fangraphs_opening_day_rosters" -> "05f062d76f3075827799f98b75b1db34",
    "src_fangraphs_projections_preseason_hitting" -> "609d4c9cab47b24f70a9c954030e4776",
    "src_fangraphs_projections_preseason_pitching" -> "46334b97bd1942e4b6ce4ed075ffe410",
    "src_mpd_player_id_map" -> "6671f8dd911d4370e42fa53d2b14aad5",
    "src_nfbc_adp" -> "cd42f76eee1327c546ff7b57705cdd56",
    "src_nfbc_players" -> "d716aa531c849efe960c7c7341300e75",
    "src_nfbc_standings" -> "4f5f3bad7953390a8047e66b8152ff9a",
    "src_razzball_projections_preseason_hitting" -> "a9fa94ca16560e8c14bcda498c91e075",
    "src_razzball_projections_preseason_pitching" -> "945e15a1508e94d5a4029e5dc959c8d0",
    "src_underdog_adp" -> "823685c92e567734ef5f85223ecfff7c",
    "stg_fg_proj_preseason_hitting_per_pa" -> "213ce43dd9179e8093ba21b64f6c9c4e",
    "stg_fg_proj_preseason_pitching_per_ip" -> "71d8e91efe7bb99403f0a7d5bc960f4c",
    "stg_mpd_player_id_map" -> "67ab260daf200db9928d817b200441cf",
    "stg_nfbc_ranked_standings" -> "b92f615769bef9a1989a8481fefd626b",
    "stg_nfbc_sgp_factors" -> "2e388e2275d46c766e4686940eab97e5",
    "stg_nfbc_sgp_inputs" -> "5304425ddbac28ad46930346a76fb902",
    "stg_proj_preseason_hitting_agg" -> "0e9316fa29715008b0f273a76d53a16d",
    "stg_proj_preseason_hitting_pt" -> "a733c91171ddc3efd8128fe38360c989",
    "stg_proj_preseason_hitting_rep_lvl_50s" -> "ecc77d38302bb39b8ed24dfe1784b1d8",
    "stg_proj_preseason_hitting_rep_lvl_oc" -> "f5688b386992e685d55babd0a076bc5d",
    "stg_proj_preseason_hitting_sgp_50s" -> "8ba6d4df9079e9e743c76fccd98545a9",
    "stg_proj_preseason_hitting_sgp_oc" -> "2999df3abf34400cbf30f68e89eab1ce",
    "stg_proj_preseason_hitting_skills" -> "979c94cc5d226be8237d6b585df891d6",
    "stg_proj_preseason_hitting_values_50s" -> "25a2f2733b25f403ac1209f570518e23",
    "stg_proj_preseason_hitting_values_oc" -> "f87f89bf3d4d501a02652093c091b395",
    "stg_proj_preseason_pitching_agg" -> "e0244aa0778a1456f7c3de3897d7cb3f",
    "stg_proj_preseason_pitching_pt" -> "58ee6b8aee0284fd714d974364ba0c25",
    "stg_proj_preseason_pitching_rep_lvl_50s" -> "a6f3f9b507dbdda232d7803b7828112a",
    "stg_proj_preseason_pitching_rep_lvl_oc" -> "3b7cfe61c7e0d2231971564036493a41",
    "stg_proj_preseason_pitching_sgp_50s" -> "d8c10cbf5c2f56cd827b33c31a62f5e6",
    "stg_proj_preseason_pitching_sgp_oc" -> "dd9491de6f640a19896fae3540bedfba",
    "stg_proj_preseason_pitching_skills" -> "91379442e92c76d87569379c62040a4c",
    "stg_proj_preseason_pitching_values_50s" -> "c9c3b77ba148dd358f7813377d4763be",
    "stg_proj_preseason_pitching_values_oc" -> "2b01cfd16350e300042c9418d20e6793",
    "stg_razzball_proj_preseason_hitting_per_pa" -> "888f33ce69c2dde828db4829c296dd97",
    "stg_razzball_proj_preseason_pitching_per_ip" -> "acf58f9a6fe3fdc158e4817a3303392f")

  test("dbt-style selection builds exactly the closure and nothing else") {
    val runner = new DagRunner(Pipeline.models(root))
    val byName = Pipeline.models(root).map(m => m.name -> m).toMap

    // +model: the model plus its upstream closure, topologically ordered
    val closure = runner.selectNodes(Seq("+mart_sgp_factors"))
    assert(closure.last == "mart_sgp_factors")
    val cs = closure.toSet
    closure.foreach(n => byName(n).deps.filter(byName.contains).foreach(d =>
      assert(cs(d), s"closure property violated: $n's dep $d not selected")))
    assert(!cs("mart_preseason_overall_rankings_oc"),
      "an unrelated mart must stay outside the closure")

    val dir = Files.createTempDirectory("graft-sel").toString
    val built = Pipeline.run(spark, root, Materialization.ParquetDir(dir),
      select = Seq("+mart_sgp_factors"))
    assert(built.keySet == cs, "returned frames must equal the selection")
    val written = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(written == cs,
      s"materialized exactly the closure (extra: ${written.diff(cs)}, missing: ${cs.diff(written)})")
    // a selected build equals the same model from the full run
    assert(Checks.contentDigest(built("mart_sgp_factors")) == golden("mart_sgp_factors"))

    // bare glob over the full build: the marts rebuild, and every ref()
    // reads the parent's table — no feed is scanned, and each mart is the
    // full build's bit for bit
    val dir2 = Files.createTempDirectory("graft-sel2").toString
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(matDir), new java.io.File(dir2))
    val plans = mutable.Map[String, LogicalPlan]()
    val capturing = Pipeline.models(root).map(m => Model(m.name, m.deps) { (s, in) =>
      val df = m.build(s, in)
      plans(m.name) = df.queryExecution.analyzed
      df
    })
    val martNames = byName.keySet.filter(_.startsWith("mart_"))
    val marts = new DagRunner(capturing)
      .runAs(spark, Materialization.ParquetDir(dir2), Seq("mart_*"))
    assert(marts.keySet == martNames && plans.keySet == martNames)
    marts.foreach { case (n, df) => assert(Checks.contentDigest(df) == golden(n), n) }
    plans.foreach { case (n, plan) => plan.collectLeaves().foreach {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            r.location.rootPaths.forall(_.toString.contains(dir2)) =>
      case leaf => fail(s"$n reads a leaf other than a parent table under $dir2:\n$leaf")
    } }

    // name+ pulls downstream dependents (the mart->stage back-edge is real)
    val down = runner.selectNodes(Seq("mart_sgp_factors+")).toSet
    assert(down.contains("stg_proj_preseason_hitting_sgp_oc"),
      "dependents across the mart->stage back-edge must be downstream")
    // a typo must break the run, not silently build nothing
    intercept[IllegalArgumentException](runner.selectNodes(Seq("mart_sgp_factorz")))
  }

  test("a bare count over a ParquetDir mart folds to its stats manifest") {
    // every ParquetDir model carries per-file stats (Model's write path);
    // the session's own wiring, with nothing registered per call, folds
    // an unfiltered count to metadata
    val mart = "mart_preseason_overall_rankings_oc"
    val bare = spark.read.parquet(s"$matDir/$mart").agg(count(lit(1)).as("n"))
    assert(bare.head().getLong(0) == out(mart).collect().length)
    assert(bare.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isDefined, "a ParquetDir mart count(*) must fold from the manifest:\n" +
      bare.queryExecution.optimizedPlan.treeString)
  }

  test("j13 wiring: stats-advised read-backs broadcast the mart's dimension joins") {
    // (a) the DagRunner applied the advice: a dimension-sized materialized
    // model's read-back carries the broadcast hint in its own plan
    def hasHint(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    assert(hasHint(out("src_nfbc_adp")),
      "a dimension-sized read-back must carry the advised broadcast hint")
    // (b) the hint — not the engine's size estimator — lands the strategy:
    // with the size-based conversion OFF, a mart-shaped left join against
    // the advised frame still plans as a broadcast hash join
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val adp = graft.sources.JoinAdvisor.autoHinted(s2, s"$matDir/src_nfbc_adp",
      s2.read.parquet(s"$matDir/src_nfbc_adp"))
    val base = s2.read.parquet(s"$matDir/stg_proj_preseason_hitting_values_oc")
    val j = base.join(adp, base("id") === adp("playerid"), "left")
    j.collect(): Unit
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flat(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flat)
    }
    assert(flat(j.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "the advised dimension must land as the broadcast side with the size estimator off")
  }

  test("golden digests: all 40 models match checked-in content hashes") {
    assert(GoldenGen.gated.toSet == golden.keySet,
      "gated-model list drifted from the golden map — rerun GoldenGen")
    val got = GoldenGen.gated.map(n => n -> Checks.contentDigest(out(n)))
    val bad = got.filter { case (n, d) => golden(n) != d }
    assert(bad.isEmpty,
      bad.map { case (n, d) => s"$n: got $d want ${golden(n)}" }
        .mkString("model output drifted from golden digest:\n  ", "\n  ",
          "\n(if the change was INTENDED, regenerate: sbt \"runMain graft.pipeline.GoldenGen\")"))
  }

  test("a fully compiled build matches the same golden map; read-backs take the written schema") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // the build in beforeAll wrote every model interpreted. A session that
    // sets the two codegen keys itself keeps them, so this build compiles
    // every model, and plans the same size-based broadcasts
    val compiled = spark.newSession()
    compiled.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    compiled.conf.set("spark.sql.codegen.wholeStage", "true")
    val dir = Files.createTempDirectory("graft-mat-compiled").toString
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val built = Pipeline.run(compiled, root, Materialization.ParquetDir(dir))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0 > 100L,
      "a build whose session keeps code generation on must compile its models")
    assert(GoldenGen.gated.map(n => n -> Checks.contentDigest(built(n))).toMap == golden)
    // the digest compares simpleString types only: the schema given to each
    // read-back must equal the one parquet infers, nullability and field
    // metadata included
    for ((frames, at) <- Seq(out -> matDir, built -> dir); n <- GoldenGen.gated)
      assert(frames(n).schema == spark.read.parquet(s"$at/$n").schema, s"$n under $at")
  }

  test("structural invariants hold across randomized fixture seeds", graft.Slow) {
    // the fixed-seed tests above pin hand-computed values; this pins the
    // STRUCTURE — budget conservation, contiguous value-sorted ranks — on
    // perturbed inputs, so the invariants can't be artifacts of one corpus
    Seq(7, 23).foreach { seed =>
      val dir = Files.createTempDirectory(s"graft-fix-seed$seed").toString
      FixtureGen.generate(dir, noiseSeed = seed)
      val o = Pipeline.run(spark, dir, Materialization.ParquetDir(
        Files.createTempDirectory(s"graft-mat-seed$seed").toString))
      val v = o("stg_proj_preseason_hitting_values_oc")
      val total = v.filter(col("sgpar") > 0)
        .agg(sum(col("value") - 1)).first().getDouble(0)
      assert(math.abs(total - LeagueFormat.Oc.hitBudget) < 1e-6,
        s"seed=$seed: sum(value-1)=$total != budget ${LeagueFormat.Oc.hitBudget}")
      val mart = o("mart_preseason_overall_rankings_oc")
      val rows = mart.select("rank", "value").orderBy("rank").collect()
      assert(rows.nonEmpty, s"seed=$seed: empty mart")
      assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length),
        s"seed=$seed: ranks must stay 1..N")
      val values = rows.map(_.getDouble(1))
      assert(values.zip(values.tail).forall { case (a, b) => a >= b },
        s"seed=$seed: value ordering broke")
    }
  }

  test("catalog materialization lands every model in its layer database (S7)", graft.Slow) {
    // dbt_project.yml:38-51: source/stage/main schemas. Explicit LOCATIONs so
    // the test never writes under the repo's cwd warehouse.
    val wh = Files.createTempDirectory("graft-cat").toString
    Seq("source", "stage", "main").foreach(db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$wh/$db'"))
    val cat = Pipeline.run(spark, root, Materialization.Catalog())
    // every model reads back from its table bit for bit as the ParquetDir build
    assert(cat.map { case (n, df) => n -> Checks.contentDigest(df) } == golden)
    assert(Checks.contentDigest(spark.table("main.mart_preseason_overall_rankings_oc")) ==
      golden("mart_preseason_overall_rankings_oc"))
    golden.keys.foreach(n => assert(
      spark.catalog.tableExists(s"${Materialization.layerSchema(n)}.$n"), s"$n: no table in its layer"))
  }

  test("versioned-hidden marts: overwrite snapshots per run; run-over-run CDC folds forward exactly") {
    val VHT = graft.sources.VersionedHiddenTable
    val vroot = Files.createTempDirectory("graft-vhtmart").toString
    val mart = "mart_sgp_factors"
    // each run rebuilds the mart's lineage: a bare selection would read
    // run 0's ancestors in run 1 and net an empty diff
    Pipeline.run(spark, root, Materialization.VersionedHiddenDir(vroot), select = Seq(s"+$mart"))
    // second run over PERTURBED inputs — the incremental-pipeline scenario
    val root2 = Files.createTempDirectory("graft-fixtures2").toString
    FixtureGen.generate(root2, noiseSeed = 7)
    Pipeline.run(spark, root2, Materialization.VersionedHiddenDir(vroot), select = Seq(s"+$mart"))
    val dir = s"$vroot/main/$mart"
    assert(VHT.versions(spark, dir) == Seq(0L, 1L),
      "each pipeline run must publish exactly one overwrite snapshot")
    val v0 = VHT.read(spark, dir, Some(0L))
    val v1 = VHT.read(spark, dir, Some(1L))
    def key(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // golden parity: the versioned run's content is the materialized build's
    assert(Checks.contentDigest(v0) == golden(mart),
      "run-0 snapshot must equal the ParquetDir materialization")
    // the README's "incremental models": a downstream consumer holding v0
    // folds the run's NET diff forward instead of rebuilding
    val ch = VHT.changes(spark, dir, 0L)
    assert(ch.count() > 0, "perturbed inputs must produce a real run-over-run diff")
    val meta = Seq("_change_type", "_commit_version")
    val folded = v0
      .exceptAll(ch.filter(col("_change_type") === "delete").drop(meta: _*))
      .unionByName(ch.filter(col("_change_type") === "insert").drop(meta: _*))
    assert(key(folded) == key(v1),
      "fold(v0, changes) must reproduce the rebuilt mart exactly")
    // the storage contract reaches the parity marts: every published
    // snapshot's era carries its per-file stats manifest (written before the
    // publish), so a bare count folds to metadata and the SQL metadata face
    // answers scan-free
    val eras = spark.sql(s"SELECT version, eras FROM graft_snapshots('$dir')")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(eras.keySet == Set(0L, 1L))
    eras.values.flatten.foreach(e => assert(
      new java.io.File(s"$dir/data/$e/${graft.sources.FileStats.StatsFile}").isFile,
      s"published mart era $e must carry its stats manifest"))
    val bare = VHT.read(spark, dir).agg(count(lit(1)).as("n"))
    assert(bare.head().getLong(0) == v1.count())
    assert(bare.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isDefined, "a mart count(*) must fold from the manifest:\n" +
      bare.queryExecution.optimizedPlan.treeString)
    assert(spark.sql(s"SELECT sum(rows) AS n FROM graft_files('$dir')")
      .head().getLong(0) == v1.count(),
      "graft_files must answer over the mart's era from its manifest")
    // vacuum retires snapshot 0; snapshot 1 stays readable
    assert(VHT.vacuum(spark, dir, keep = 1) == Seq(0L))
    assert(VHT.versions(spark, dir) == Seq(1L))
    assert(key(VHT.read(spark, dir, Some(1L))) == key(v1))
  }
}
