package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Dialect-drift pins (SURVEY.md §7.4 — "the #1 correctness risk"): the
  * Presto↔Spark divergences the survey flagged, each pinned to the behavior
  * the engine relies on so a Spark upgrade that shifts one fails loudly.
  */
class DialectSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def one(sql: String) = spark.sql(s"SELECT $sql AS v").first()

  test("regexp_extract no-match returns empty string (Presto returns null)") {
    // path-metadata parsing relies on matches always existing; the no-match
    // fallback differs across engines — pin Spark's '' so a change surfaces
    assert(one("regexp_extract('no-digits-here', '([0-9]+)', 1)").getString(0) == "")
  }

  test("cast('' AS INT) throws under ANSI (Spark 4 default) — matching Presto") {
    // Spark 4 runs ANSI mode by default, so malformed casts error exactly
    // like Athena/Presto. The stage models only cast columns the feeds
    // guarantee numeric; anything tolerant must spell try_cast explicitly.
    intercept[Exception](one("CAST('' AS INT)"))
    assert(one("TRY_CAST('' AS INT)").isNullAt(0))
  }

  test("split() is regex-based: literal delimiters must be escaped") {
    // 'Last, First' name splitting uses the literal ', ' delimiter
    val parts = one("split('Doe, Jane', ', ')").getSeq[String](0)
    assert(parts == Seq("Doe", "Jane"))
    // a regex metacharacter delimiter would misbehave unescaped:
    assert(one("split('a.b.c', '[.]')").getSeq[String](0) == Seq("a", "b", "c"))
  }

  test("element_at is 1-based with negative-from-end (matches Presto)") {
    assert(one("element_at(array('x','y','z'), -1)").getString(0) == "z")
    assert(one("element_at(split('a/b/c', '/'), -1)").getString(0) == "c")
  }

  test("concat propagates null (both engines) — _ptkey needs non-null parts") {
    assert(one("concat('a', CAST(NULL AS STRING), 'c')").isNullAt(0))
  }

  test("CSV read keeps '' distinct from null under the pipeline's options") {
    val dir = java.nio.file.Files.createTempDirectory("dialect-csv").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.csv"),
      "a,b\n1,\n2,x\n".getBytes)
    val df = SourceReader.readCsv(spark, dir, Seq("a", "b"))
    val row1 = df.filter(col("a") === "1").first()
    assert(row1.getString(1) == "", "empty CSV field must stay '' (not null)")
  }

  test("ragged CSV rows: short rows pad to '', long rows drop extra fields") {
    // raw feed drops are not schema-validated upstream — pin how the reader
    // degrades: a missing trailing field becomes '' (the all-strings
    // convention), an extra field is discarded, and no row is lost
    val dir = java.nio.file.Files.createTempDirectory("dialect-ragged").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/t.csv"),
      "a,b,c\n1,2,3\n4,5\n6,7,8,9\n".getBytes)
    val df = SourceReader.readCsv(spark, dir, Seq("a", "b", "c"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(("1", "2", "3"), ("4", "5", ""), ("6", "7", "8")),
      s"ragged-row degradation changed: $rows")
  }

  test("avg(CASE WHEN...) skips nulled-out rows exactly like a filtered avg") {
    spark.range(10).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS x")
      .createOrReplaceTempView("t10")
    val a = spark.sql(
      "SELECT avg(CASE WHEN id % 2 = 0 THEN x END) AS v FROM t10").first().getDouble(0)
    val b = spark.sql(
      "SELECT avg(x) AS v FROM t10 WHERE id % 2 = 0").first().getDouble(0)
    assert(a == b)
  }
}
