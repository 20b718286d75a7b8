package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The dbt schema-test generics over hand-built frames: each check must
  * return the exact violation ROWS (the debuggable face), and the summary
  * must fold to the `dbt test` result table. The x5 registry query
  * oracle-checks the counting path against DuckDB on the corpus; this spec
  * pins which rows violate.
  */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def sp = spark

  test("unique surfaces duplicated keys with their multiplicity; null keys skipped (dbt)") {
    val s = sp; import s.implicits._
    val df = Seq((Some(1), "a"), (Some(2), "b"), (Some(2), "c"), (Some(3), "d"),
        (Some(2), "e"), (None, "f"), (None, "g"))
      .toDF("k", "v")
    val dups = Checks.unique(df, Seq("k")).collect()
    // dbt's unique test filters `where column is not null` — the two
    // null-key rows are not a violation (notNull is the test for those)
    assert(dups.length == 1)
    assert(dups.head.getInt(0) == 2 && dups.head.getLong(1) == 3L)
  }

  test("notNull returns violating rows with the null column names") {
    val s = sp; import s.implicits._
    val df = Seq((Some("x"), Some("y")), (None, Some("y")), (None, None))
      .toDF("a", "b")
    val bad = Checks.notNull(df, Seq("a", "b"))
      .select("null_columns").as[Seq[String]].collect().map(_.toSet)
    assert(bad.toSet == Set(Set("a"), Set("a", "b")))
  }

  test("acceptedValues flags out-of-set values; nulls pass (dbt NOT IN semantics)") {
    val s = sp; import s.implicits._
    val df = Seq(Some("F"), Some("O"), Some("P"), None).toDF("st")
    val bad = Checks.acceptedValues(df, "st", Seq("F", "O"))
      .select(coalesce(col("st"), lit("<null>"))).as[String].collect().toSet
    // dbt compiles accepted_values to NOT IN, which is unknown for null —
    // never a violation; a model that also wants nulls rejected declares
    // not_null alongside, exactly as Checks composes
    assert(bad == Set("P"))
  }

  test("relationships finds orphans; null fks are not orphans (dbt semantics)") {
    val s = sp; import s.implicits._
    val child = Seq(Some(1), Some(2), Some(9), None).toDF("fk")
    val parent = Seq(1, 2, 3).toDF("pk")
    val orphans = Checks.relationships(child, "fk", parent, "pk")
      .as[Int].collect().toSeq
    assert(orphans == Seq(9))
  }

  test("summarize folds checks into the dbt-test result table") {
    val s = sp; import s.implicits._
    val df = Seq((1, "a"), (2, "b"), (2, "c")).toDF("k", "v")
    val res = Checks.summarize(
        ("unique", "t.k", Checks.unique(df, Seq("k"))),
        ("not_null", "t.v", Checks.notNull(df, Seq("v"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(res == Set(("unique", "t.k", 1L), ("not_null", "t.v", 0L)))
  }

  test("contentDigest: order-insensitive, cell/schema/null-sensitive") {
    // the golden-gate primitive's contract, pinned directly: same content in
    // any row order and partitioning hashes identically; any single-cell
    // change, column rename, or ''-vs-null difference changes the digest
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.5))
      .toDF("k", "v", "x")
    val d0 = Checks.contentDigest(base)
    // row order + partitioning invariance
    assert(Checks.contentDigest(base.orderBy(col("x").desc).repartition(7)) == d0)
    // duplicate rows are counted, not set-collapsed
    assert(Checks.contentDigest(base.union(base.limit(1))) != d0)
    // one-cell drift
    assert(Checks.contentDigest(
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, null, 3.500001)).toDF("k", "v", "x")) != d0)
    // null and '' must hash differently (the s13 distinction)
    assert(Checks.contentDigest(
      Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "", 3.5)).toDF("k", "v", "x")) != d0)
    // schema drift: a renamed column changes the digest even with equal data
    assert(Checks.contentDigest(base.withColumnRenamed("v", "w")) != d0)
    // the excluded audit column does not participate
    assert(Checks.contentDigest(
      base.withColumn("_loaddatetime", current_timestamp())) == d0)
    // empty frames digest deterministically (and differ by schema)
    val empty = base.limit(0)
    assert(Checks.contentDigest(empty) == Checks.contentDigest(empty.repartition(3)))
    assert(Checks.contentDigest(empty) != Checks.contentDigest(empty.withColumnRenamed("v", "w")))
  }
}
