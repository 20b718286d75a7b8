package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The declarative source registry: the default declaration reproduces the
  * reference's 10 externals exactly, a NEW feed is a config edit (no code),
  * and config typos fail loudly with a line number.
  */
class SourceConfigSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("default config declares the reference's 10 externals with their semantics") {
    val specs = SourceConfig.parse(SourceModels.defaultConfig)
    assert(specs.size == 10)
    val byName = specs.map(s => s.name -> s).toMap
    // the three snapshot policies land on the right feeds
    assert(byName("src_fangraphs_projections_preseason_hitting").snapshot == "latest")
    assert(byName("src_nfbc_adp").snapshot == "per_file")
    assert(byName("src_nfbc_adp").sep == "\t")
    assert(byName("src_nfbc_standings").snapshot == "none")
    assert(byName("src_mpd_player_id_map").pathMeta == false)
    assert(byName("src_razzball_projections_preseason_pitching").columns.size == 11)
    // source grouping follows the reference's _sources.yml layout
    assert(specs.map(_.source).distinct ==
      Seq("fangraphs", "razzball", "nfbc", "underdog", "mapping"))
  }

  test("a new feed is a config edit: declared table reads with all-strings + '' semantics") {
    val root = Files.createTempDirectory("graft-srccfg").toString
    val dir = Paths.get(root, "custom/feed/year=2026/month=2/day=10")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("Widgets File.csv"),
      "id,label,score\n1,alpha,9\n2,,7\n")
    val config =
      """version: 2
        |sources:
        |  - name: custom
        |    tables:
        |      - name: src_custom_widgets
        |        path: custom/feed
        |        columns: [id, label, score]
        |""".stripMargin
    val models = new SourceModels(root, config).all
    assert(models.map(_.name) == Seq("src_custom_widgets"))
    val df = models.head.build(spark, n => sys.error(s"source models take no refs: $n"))
    val rows = df.collect()
    assert(rows.length == 2)
    // all-strings contract + '' stays '' (never null), path metadata parsed
    assert(df.schema("score").dataType.typeName == "string")
    val r2 = rows.find(_.getAs[String]("id") == "2").get
    assert(r2.getAs[String]("label") == "", "empty CSV field must stay ''")
    assert(rows.forall(_.getAs[String]("_ptkey") == "2026210"))
    assert(rows.forall(_.getAs[String]("_filename") == "Widgets File.csv"),
      "the $path filename must be URI-decoded (spaces survive)")
  }

  test("config errors fail loudly with line numbers") {
    def errOf(cfg: String): String =
      intercept[IllegalArgumentException](SourceConfig.parse(cfg)).getMessage
    assert(errOf("version: 2\nsources:\n") == "source config declares no tables")
    val missingPath =
      """sources:
        |  - name: s
        |    tables:
        |      - name: t
        |        columns: [a]
        |""".stripMargin
    assert(errOf(missingPath).contains("missing required key 'path'"))
    val badSnapshot =
      """sources:
        |  - name: s
        |    tables:
        |      - name: t
        |        path: p
        |        snapshot: newest
        |        columns: [a]
        |""".stripMargin
    assert(errOf(badSnapshot).contains("snapshot 'newest'"))
    val badColumns =
      """sources:
        |  - name: s
        |    tables:
        |      - name: t
        |        path: p
        |        columns: a, b
        |""".stripMargin
    assert(errOf(badColumns).contains("inline [a, b] list"))
    // snapshot filtering needs _ptkey, which path_meta: false suppresses —
    // the combination (incl. the implicit 'latest' default) must not
    // silently keep all history
    val metaConflict =
      """sources:
        |  - name: s
        |    tables:
        |      - name: t
        |        path: p
        |        path_meta: false
        |        columns: [a]
        |""".stripMargin
    assert(errOf(metaConflict).contains("requires path metadata"))
    // a typo'd table key must fail fast, not be silently absorbed into the
    // table map (where it would be an unused no-op)
    val typoKey =
      """sources:
        |  - name: s
        |    tables:
        |      - name: t
        |        path: p
        |        colums: [a]
        |""".stripMargin
    assert(errOf(typoKey).contains("unknown table key 'colums'"))
  }

  test("comments strip only outside quotes; quoted '#' survives") {
    val cfg =
      """version: 2
        |sources:
        |  - name: s          # trailing comment on a source
        |    tables:
        |      - name: t      # and on a table
        |        path: "a#b/c"
        |        sep: '#'     # a '#' separator, quoted
        |        columns: [x, y]
        |""".stripMargin
    val spec = SourceConfig.parse(cfg).head
    assert(spec.path == "a#b/c", s"quoted '#' must not truncate the value: ${spec.path}")
    assert(spec.sep == "#")
    assert(spec.source == "s" && spec.name == "t")
  }

  test("YAML comment rules: escaped quotes and mid-token '#' do not truncate") {
    // an escaped quote inside a double-quoted value must not flip the quote
    // state early, and a '#' not preceded by whitespace is part of the value
    val cfg =
      """version: 2
        |sources:
        |  - name: s
        |    tables:
        |      - name: t
        |        path: "a\"b#c/d"   # value with an escaped quote before '#'
        |        columns: [x]
        |      - name: u
        |        path: ref#42/data  # unquoted value with a mid-token '#'
        |        columns: [x]
        |""".stripMargin
    val specs = SourceConfig.parse(cfg)
    assert(specs.head.path == "a\"b#c/d",
      s"escaped quote flipped the quote state: ${specs.head.path}")
    assert(specs(1).path == "ref#42/data",
      s"a '#' without preceding whitespace is a value char: ${specs(1).path}")
  }
}
