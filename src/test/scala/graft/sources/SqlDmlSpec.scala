package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** SQL `UPDATE` / `MERGE INTO` / subquery-`DELETE` through the `graft`
  * catalog ([[GraftSqlDml]]): each SQL verb must land BYTE-EQUAL to the
  * Scala-API call it delegates to, stay changelog-consistent, and refuse
  * unsupported shapes loudly at analysis. */
class SqlDmlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private var catSeq = 0
  private def freshCatalog(tag: String): (String, String) = {
    catSeq += 1
    val wh = java.nio.file.Files.createTempDirectory(s"graft-dml-$tag").toString
    (GraftCatalog.register(spark, s"gdml_${tag}_$catSeq", wh), wh)
  }

  private def events: DataFrame = graft.core.Tables.load(spark, dir, "events")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Two tables with the SAME history; returns (catalog name, sql dir,
    * scala dir). */
  private def twin(tag: String): (String, String, String) = {
    val (cat, wh) = freshCatalog(tag)
    val ev = events
    for (t <- Seq(s"$wh/db/sql_t", s"$wh/db/api_t")) {
      VersionedHiddenTable.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
        Seq(HiddenPartitioning.DayT("ts"))): Unit
      assert(VersionedHiddenTable.append(spark, t,
        ev.filter(col("ts") >= "2024-01-16"))().isRight)
    }
    (cat, s"$wh/db/sql_t", s"$wh/db/api_t")
  }

  test("SQL UPDATE == Scala update on the same history; time travel intact; CDC nets it") {
    val (cat, sqlT, apiT) = twin("upd")
    spark.sql(s"UPDATE $cat.db.sql_t SET value = value * 2, event_type = 'boosted' " +
      "WHERE user_id < 5 AND event_type = 'click'").collect(): Unit
    assert(VersionedHiddenTable.update(spark, apiT,
      col("user_id") < 5 && col("event_type") === "click",
      Map("value" -> (col("value") * 2), "event_type" -> lit("boosted"))) == 2L)
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.sql_t")) ==
      canon(VersionedHiddenTable.read(spark, apiT)),
      "SQL UPDATE must land exactly the Scala update's content")
    assert(VersionedHiddenTable.manifest(spark, sqlT, 2L).op == "update")
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.sql_t VERSION AS OF 1")) ==
      canon(events), "pre-update snapshot stays readable")
    // the changelog nets the SQL update as its deletes + inserts
    val changed = VersionedHiddenTable.changes(spark, sqlT, 1L, Some(2L))
    assert(changed.filter(col("_change_type") === "insert").count() ==
      events.filter(col("user_id") < 5 && col("event_type") === "click").count())
  }

  test("SQL UPDATE with a non-correlated subquery condition; correlated refuses") {
    val (cat, sqlT, apiT) = twin("updsub")
    spark.sql(s"UPDATE $cat.db.sql_t SET value = 0 WHERE user_id IN " +
      s"(SELECT user_id FROM $cat.db.sql_t WHERE value > 900)").collect(): Unit
    val hot = VersionedHiddenTable.read(spark, apiT)
      .filter(col("value") > 900).select("user_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    VersionedHiddenTable.update(spark, apiT, col("user_id").isin(hot: _*),
      Map("value" -> lit(0))): Unit
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.sql_t")) ==
      canon(VersionedHiddenTable.read(spark, apiT)))
    val boom = intercept[Exception] {
      spark.sql(s"UPDATE $cat.db.sql_t SET value = 0 WHERE EXISTS " +
        s"(SELECT 1 FROM $cat.db.api_t a WHERE a.user_id = sql_t.user_id " +
        "AND a.value > 990)").collect()
    }
    assert(boom.getMessage != null && boom.getMessage.contains("correlated"),
      s"correlated DML subqueries must refuse loudly: $boom")
  }

  test("SQL UPDATE is group-based: day-scoped predicate carries untouched eras by reference") {
    val (cat, sqlT, _) = twin("updscope")
    def eras(v: Long): Set[String] = VersionedHiddenTable
      .snapshotsMeta(spark, sqlT).filter(col("version") === v)
      .select("eras").head().getSeq[String](0).toSet
    // twin history = v0 era (ts < Jan 16) + v1 era (rest); a day-scoped
    // UPDATE can only match the first era, so the second must survive in
    // the new snapshot UNREWRITTEN — the stats/pruning-scoped probe, not a
    // full-table rewrite (what makes SQL UPDATE one bounded write at 100 TB)
    spark.sql(s"UPDATE $cat.db.sql_t SET value = value + 1 " +
      "WHERE ts < '2024-01-16' AND event_type = 'click'").collect(): Unit
    val carried = eras(2L).intersect(eras(1L))
    assert(carried.nonEmpty,
      s"the unmatched era must carry by reference: v1=${eras(1L)} v2=${eras(2L)}")
    assert((eras(2L) -- eras(1L)).size == 1,
      "exactly the one era that can match is rewritten")
  }

  test("SQL MERGE INTO upsert == Scala merge (one mask + one era, one snapshot)") {
    val (cat, sqlT, apiT) = twin("mrg")
    val src = events.filter(col("event_id") < 100)
      .withColumn("value", col("value") + 1000)
      .union(events.filter(col("event_id") >= 900)
        .withColumn("event_id", col("event_id") + 10000)) // unmatched -> insert
    src.createOrReplaceTempView("mrg_src")
    spark.sql(s"""MERGE INTO $cat.db.sql_t t USING mrg_src s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""").collect(): Unit
    VersionedHiddenTable.merge(spark, apiT, src, Seq("event_id")): Unit
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.sql_t")) ==
      canon(VersionedHiddenTable.read(spark, apiT)),
      "SQL MERGE must land exactly the Scala merge's content")
    assert(VersionedHiddenTable.mainVersions(spark, sqlT) == Seq(0L, 1L, 2L),
      "one MERGE = one snapshot")
    assert(VersionedHiddenTable.manifest(spark, sqlT, 2L).op == "merge")
  }

  test("MERGE clause semantics: conditional DELETE + INSERT, untouched non-admitted rows") {
    val (cat, sqlT, apiT) = twin("mrgdel")
    // source: every event_id < 200 (matched) + two unmatched rows
    val src = events.filter(col("event_id") < 200)
      .withColumn("value", lit(null).cast("double"))
      .union(events.filter(col("event_id").isin(5L, 6L))
        .withColumn("event_id", col("event_id") + 50000))
    src.createOrReplaceTempView("mrgdel_src")
    // delete matched rows with even event_id; leave odd matched rows
    // UNTOUCHED (no UPDATE clause); insert the unmatched rows
    spark.sql(s"""MERGE INTO $cat.db.sql_t t USING mrgdel_src s
      ON t.event_id = s.event_id
      WHEN MATCHED AND s.event_id % 2 = 0 THEN DELETE
      WHEN NOT MATCHED THEN INSERT *""").collect(): Unit
    val expected = canon(
      VersionedHiddenTable.read(spark, apiT)
        .filter(!(col("event_id") < 200 && col("event_id") % 2 === 0))
        .unionByName(events.filter(col("event_id").isin(5L, 6L))
          .withColumn("event_id", col("event_id") + 50000)))
    assert(canon(spark.sql(s"SELECT * FROM $cat.db.sql_t")) == expected,
      "matched-even deleted; matched-odd untouched (null value NOT applied); " +
        "unmatched inserted")
  }

  test("unsupported MERGE shapes refuse loudly at analysis, naming the clause") {
    val (cat, _, _) = twin("mrgbad")
    events.limit(5).createOrReplaceTempView("mrgbad_src")
    def refusal(sql: String, needle: String): Unit = {
      val boom = intercept[Exception] { spark.sql(sql).collect() }
      def msgs(e: Throwable): String =
        if (e == null) "" else e.getMessage + "|" + msgs(e.getCause)
      assert(msgs(boom).contains(needle), s"expected '$needle' in: $boom")
    }
    refusal(s"""MERGE INTO $cat.db.sql_t t USING mrgbad_src s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET value = s.value + 1
      WHEN NOT MATCHED THEN INSERT *""", "full source image")
    refusal(s"""MERGE INTO $cat.db.sql_t t USING mrgbad_src s
      ON t.event_id < s.event_id
      WHEN MATCHED THEN UPDATE SET *""", "key equality")
    refusal(s"""MERGE INTO $cat.db.sql_t t USING mrgbad_src s
      ON t.event_id = s.event_id
      WHEN MATCHED AND t.value > 0 THEN DELETE""", "target columns")
    refusal(s"""MERGE INTO $cat.db.sql_t t USING mrgbad_src s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED BY SOURCE THEN DELETE""", "NOT MATCHED BY SOURCE")
  }
}
