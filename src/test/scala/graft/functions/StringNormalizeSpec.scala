package graft.functions

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The normalization kernels next to f18's DuckDB-pinned NFC/strip-accents
  * face: NFKC (no DuckDB twin exists, so it is pinned HERE against known
  * codepoint pairs), idempotence, null plumbing, and dedup convergence —
  * the property the kernels exist for: composed and decomposed spellings
  * hash equal after normalization.
  */
class StringNormalizeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def one(sql: String): String =
    spark.sql(s"SELECT $sql").head.getString(0)

  test("NFC composes decomposed accents; NFKC additionally folds compatibility forms") {
    // e + U+0301 -> U+00E9
    assert(one("graft_nfc('é')") == "é")
    // NFC leaves compatibility codepoints alone; NFKC folds them
    assert(one("graft_nfc('ﬁ')") == "ﬁ")       // fi ligature survives NFC
    assert(one("graft_nfkc('ﬁ')") == "fi")           // ...and folds under NFKC
    assert(one("graft_nfkc('²')") == "2")            // superscript two
    assert(one("graft_nfkc('①')") == "1")            // circled digit one
    assert(one("graft_nfkc('ＨＩ')") == "HI")     // fullwidth forms
  }

  test("strip_accents removes combining marks from composed AND decomposed forms") {
    assert(one("graft_strip_accents('café')") == "cafe")
    assert(one("graft_strip_accents('café')") == "cafe")
    assert(one("graft_strip_accents('déjà vu')") == "deja vu")
    // non-Latin text without marks passes through untouched
    assert(one("graft_strip_accents('日本語')") == "日本語")
  }

  test("normalization is idempotent and null-safe") {
    val s = "Mélange ﬁn déjà"
    assert(one(s"graft_nfc(graft_nfc('$s'))") == one(s"graft_nfc('$s')"))
    assert(one(s"graft_nfkc(graft_nfkc('$s'))") == one(s"graft_nfkc('$s')"))
    assert(spark.sql("SELECT graft_nfc(CAST(NULL AS STRING))").head.isNullAt(0))
    assert(spark.sql("SELECT graft_strip_accents(CAST(NULL AS STRING))").head.isNullAt(0))
  }

  test("dedup convergence: spelling variants hash equal after nfc, distinct before") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "résumé café"),          // composed
      (2L, "résumé café"),        // decomposed, same text
      (3L, "resume cafe")                            // accent-free: different
    ).toDF("id", "text")
    docs.createOrReplaceTempView("norm_docs")
    val before = sp.sql(
      "SELECT count(DISTINCT md5(CAST(text AS BINARY))) FROM norm_docs").head.getLong(0)
    val after = sp.sql(
      "SELECT count(DISTINCT md5(CAST(graft_nfc(text) AS BINARY))) FROM norm_docs")
      .head.getLong(0)
    val folded = sp.sql(
      """SELECT count(DISTINCT md5(CAST(graft_strip_accents(graft_nfc(text)) AS BINARY)))
        |FROM norm_docs""".stripMargin).head.getLong(0)
    assert(before == 3L)   // naive hashing sees three distinct docs
    assert(after == 2L)    // NFC folds the spelling variants together
    assert(folded == 1L)   // accent-stripping folds all three
  }

  test("codegen and interpreted paths agree on the corpus-planted shapes") {
    val sp = spark
    import sp.implicits._
    val rows = (1 to 50).map(i => (i.toLong, s"w$i é ﬁ é x$i"))
      .toDF("id", "s")
    rows.createOrReplaceTempView("cg_rows")
    Seq("graft_nfc", "graft_nfkc", "graft_strip_accents").foreach { fn =>
      val viaSql = sp.sql(s"SELECT id, $fn(s) AS n FROM cg_rows ORDER BY id")
        .collect().map(_.getString(1))
      val expected = rows.orderBy("id").collect().map { r =>
        val raw = org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1))
        (fn match {
          case "graft_nfc" => StringNormalize.nfc(raw)
          case "graft_nfkc" => StringNormalize.nfkc(raw)
          case _ => StringNormalize.stripAccents(raw)
        }).toString
      }
      assert(viaSql.sameElements(expected), s"$fn codegen/interpreted drift")
    }
  }
}
