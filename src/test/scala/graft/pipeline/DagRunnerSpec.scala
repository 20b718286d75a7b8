package graft.pipeline

import java.nio.file.{Files, Path => JPath}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The DAG scheduler: pure-JVM properties of its ordering (build functions
  * are never invoked by `topoOrder`; scalacheck generators are used
  * directly, as the scalatestplus bridge isn't on the classpath), and
  * `runAs`'s `ref()` contract in every materialization mode over a
  * 3-model chain `a -> b -> c`. */
class DagRunnerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(2)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def model(n: String, deps: Seq[String]): Model =
    Model(n, deps)((_: SparkSession, _: String => DataFrame) =>
      throw new UnsupportedOperationException("not built in this test"))

  /** Random DAGs: nodes 0..n-1, each depending on a subset of lower ids
    * (guarantees acyclicity), then presented in shuffled order. */
  private val dagGen: Gen[Seq[Model]] = for {
    n <- Gen.choose(1, 40)
    deps <- Gen.sequence[Seq[Seq[Int]], Seq[Int]](
      (0 until n).map(i => Gen.someOf(0 until i).map(_.toSeq)))
    seed <- Gen.long
  } yield {
    val perm = new scala.util.Random(seed).shuffle((0 until n).toList)
    perm.map(i => model(s"m$i", deps(i).map(d => s"m$d")))
  }

  test("topoOrder places every model after all of its dependencies (100 random DAGs)") {
    (1 to 100).foreach { i =>
      val models = dagGen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"gen failed at $i"))
      val order = new DagRunner(models).topoOrder
      assert(order.size == models.size)
      val pos = order.zipWithIndex.toMap
      models.foreach(m =>
        m.deps.foreach(d => assert(pos(d) < pos(m.name),
          s"$d must precede ${m.name} in $order")))
    }
  }

  test("cycles are rejected with the offending node named") {
    val cyclic = Seq(
      model("a", Seq("c")), model("b", Seq("a")), model("c", Seq("b")))
    val e = intercept[IllegalArgumentException](new DagRunner(cyclic).topoOrder)
    assert(e.getMessage.contains("cycle"))
  }

  test("duplicate model names are rejected") {
    val dup = Seq(model("a", Nil), model("a", Nil))
    intercept[IllegalArgumentException](new DagRunner(dup).topoOrder)
  }

  test("deps outside the registry are treated as externally-provided sources") {
    val m = Seq(model("a", Seq("external_source")))
    assert(new DagRunner(m).topoOrder == Seq("a"))
  }

  /** `a -> b -> c`, each build recording its name in `calls`. */
  private def chain(calls: mutable.Buffer[String]): DagRunner = new DagRunner(Seq(
    Model("a", Nil) { (s, _) => calls += "a"; s.range(5).toDF("x") },
    Model("b", Seq("a")) { (_, in) => calls += "b"; in("a").select((col("x") * 2).as("x")) },
    Model("c", Seq("b")) { (_, in) => calls += "c"; in("b").select((col("x") + 1).as("x")) }))

  /** A fresh, empty temp root, and each mode over it (the Catalog mode's
    * database has an explicit LOCATION there). */
  private def modes(): (JPath, Seq[Materialization]) = {
    val root = Files.createTempDirectory("graft-dag")
    val db = s"dag_${root.getFileName.toString.filter(_.isLetterOrDigit)}"
    spark.sql(s"CREATE DATABASE $db LOCATION '$root/catalog'")
    (root, Seq(Materialization.ParquetDir(s"$root/parquet"), Materialization.Catalog(_ => db),
      Materialization.VersionedHiddenDir(s"$root/vht")))
  }

  test("selecting a downstream model rebuilds only it, over its parent's materialization") {
    for (mat <- modes()._2) {
      val calls = mutable.ArrayBuffer[String]()
      val runner = chain(calls)
      runner.runAs(spark, mat)
      val out = runner.runAs(spark, mat, Seq("c"))
      assert(calls == Seq("a", "b", "c", "c"), s"$mat: only c may rebuild")
      assert(out.keySet == Set("c"), s"$mat")
      assert(out("c").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L, 7L, 9L), s"$mat")
    }
  }

  test("a missing dependency fails before any write, naming the model; a crashed write is missing") {
    val (root, mats) = modes()
    def refused(mat: Materialization, calls: mutable.Buffer[String]) = {
      val e = intercept[IllegalStateException](chain(calls).runAs(spark, mat, Seq("c")))
      assert(e.getMessage.contains(s"b (looked for ${mat.where("b")})"), s"$mat: ${e.getMessage}")
    }
    for (mat <- mats) {
      val calls = mutable.ArrayBuffer[String]()
      refused(mat, calls)
      assert(calls.isEmpty, s"$mat: nothing may build")
    }
    assert(Files.walk(root).noneMatch(Files.isRegularFile(_)), "nothing may be written")
    // a ParquetDir dependency without _SUCCESS (its write crashed) counts as missing
    val calls = mutable.ArrayBuffer[String]()
    chain(calls).runAs(spark, mats.head)
    Files.delete(root.resolve("parquet/b/_SUCCESS"))
    refused(mats.head, calls)
    assert(calls == Seq("a", "b", "c"), "c must not build over a crashed parent")
  }
}
