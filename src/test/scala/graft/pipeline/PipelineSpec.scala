package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
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
    out = Pipeline.run(spark, root, materializeDir = Some(matDir))
  }

  private var matDir: String = _

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("DAG wires all 40 reference models and orders the mart->stage back-edge") {
    val names = Pipeline.models(root).map(_.name)
    assert(names.size == 40, s"expected 40 models, got ${names.size}: $names")
    val order = Pipeline.runner(root).topoOrder
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
    val runner = Pipeline.runner(root)
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
    val built = Pipeline.run(spark, root, Some(dir),
      select = Seq("+mart_sgp_factors"))
    assert(built.keySet == cs, "returned frames must equal the selection")
    val written = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(written == cs,
      s"materialized exactly the closure (extra: ${written.diff(cs)}, missing: ${cs.diff(written)})")
    // a selected build equals the same model from the full run
    assert(built("mart_sgp_factors").collect().toSet ==
      out("mart_sgp_factors").collect().toSet)

    // bare glob: the marts materialize; upstream refs compose lazily and
    // are NOT written — dbt's "refs resolve against the warehouse"
    val dir2 = Files.createTempDirectory("graft-sel2").toString
    val martNames = byName.keySet.filter(_.startsWith("mart_"))
    val marts = Pipeline.run(spark, root, Some(dir2), select = Seq("mart_*"))
    assert(marts.keySet == martNames)
    assert(new java.io.File(dir2).listFiles().map(_.getName).toSet == martNames,
      "a bare glob must materialize only its matches")
    // lazily-composed upstream = fused plans: double sums may differ in
    // low-order bits (the fused-mode test's caveat), so compare values with
    // tolerance over the joined id set
    val sel = marts("mart_preseason_overall_rankings_oc")
      .select(col("id"), col("value").as("value_s"))
    val full = out("mart_preseason_overall_rankings_oc").select("id", "value")
    val joined = full.join(sel, Seq("id")).collect()
    assert(joined.length == full.count(), "same id set as the full run")
    joined.foreach(r =>
      assert(math.abs(r.getAs[Double]("value") - r.getAs[Double]("value_s")) < 1e-9))

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

  test("structural invariants hold across randomized fixture seeds", graft.Slow) {
    // the fixed-seed tests above pin hand-computed values; this pins the
    // STRUCTURE — budget conservation, contiguous value-sorted ranks — on
    // perturbed inputs, so the invariants can't be artifacts of one corpus
    Seq(7, 23).foreach { seed =>
      val dir = Files.createTempDirectory(s"graft-fix-seed$seed").toString
      FixtureGen.generate(dir, noiseSeed = seed)
      val o = Pipeline.run(spark, dir)
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
    val cat = Pipeline.runCatalog(spark, root)
    assert(cat.size == 40)
    val mart = spark.table("main.mart_preseason_overall_rankings_oc")
    val viaOut = out("mart_preseason_overall_rankings_oc")
    assert(mart.count() == viaOut.count() && mart.count() > 0)
    // values with tolerance: table vs parquet materialization can split
    // files differently, reordering double sums by low-order bits (same
    // rationale as the fused-mode comparison below)
    val joined = viaOut.select(col("id"), col("value"))
      .join(mart.select(col("id"), col("value").as("value_c")), Seq("id")).collect()
    assert(joined.length == viaOut.count(), "catalog mart must cover every id")
    joined.foreach { r =>
      assert(math.abs(r.getAs[Double]("value") - r.getAs[Double]("value_c")) < 1e-9,
        s"value mismatch for ${r.getAs[String]("id")}")
    }
    // listTables also returns session temp views — exclude them
    val srcTables = spark.catalog.listTables("source").collect()
      .filter(!_.isTemporary).map(_.name).toSet
    assert(srcTables.contains("src_nfbc_players") && srcTables.size == 10,
      s"10 source-layer tables expected, got $srcTables")
    assert(spark.catalog.listTables("stage").collect()
      .exists(_.name == "stg_proj_preseason_hitting_sgp_oc"))
    assert(spark.catalog.listTables("main").collect().map(_.name).toSet
      .contains("mart_sgp_factors"))
  }

  test("versioned-hidden marts: overwrite snapshots per run; run-over-run CDC folds forward exactly") {
    val VHT = graft.sources.VersionedHiddenTable
    val vroot = Files.createTempDirectory("graft-vhtmart").toString
    val mart = "mart_sgp_factors"
    Pipeline.runVersionedHidden(spark, root, vroot, select = Seq(mart))
    // second run over PERTURBED inputs — the incremental-pipeline scenario
    val root2 = Files.createTempDirectory("graft-fixtures2").toString
    FixtureGen.generate(root2, noiseSeed = 7)
    Pipeline.runVersionedHidden(spark, root2, vroot, select = Seq(mart))
    val dir = s"$vroot/main/$mart"
    assert(VHT.versions(spark, dir) == Seq(0L, 1L),
      "each pipeline run must publish exactly one overwrite snapshot")
    val v0 = VHT.read(spark, dir, Some(0L))
    val v1 = VHT.read(spark, dir, Some(1L))
    def key(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // golden parity: the versioned run's content is the materialized build's
    assert(key(v0.select(out(mart).columns.map(col): _*)) == key(out(mart)),
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

  test("fused mode produces the same mart as materialized mode", graft.Slow) {
    // fused: no per-model parquet breaks — Catalyst optimizes across the DAG.
    // Values may differ in low-order bits (double sums accumulate in a
    // different partition order), so compare with tolerance, ranks exactly.
    val fused = Pipeline.run(spark, root)("mart_preseason_overall_rankings_oc")
      .select(col("id"), col("rank").as("rank_f"), col("value").as("value_f"))
    val mat = out("mart_preseason_overall_rankings_oc")
      .select("id", "rank", "value")
    val joined = mat.join(fused, Seq("id")).collect()
    assert(joined.length == mat.count(), "same id set in both modes")
    joined.foreach { r =>
      assert(math.abs(r.getAs[Double]("value") - r.getAs[Double]("value_f")) < 1e-9,
        s"value mismatch for ${r.getAs[String]("id")}")
    }
    // row_number over `value desc` has no tie-break (faithful to the
    // reference, SURVEY.md §7.4) — rank may permute within equal values, so
    // compare rank only up to value-ties: same id multiset per value bucket.
    def buckets(rows: Array[org.apache.spark.sql.Row], v: String) =
      rows.groupBy(r => math.round(r.getAs[Double](v) * 1e6))
        .view.mapValues(_.map(_.getAs[String]("id")).sorted.toSeq).toMap
    assert(buckets(joined, "value") == buckets(joined, "value_f"))
  }
}
