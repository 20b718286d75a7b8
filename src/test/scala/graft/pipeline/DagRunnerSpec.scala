package graft.pipeline

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The DAG scheduler: pure-JVM properties of its ordering (build functions
  * are never invoked by `topoOrder`; scalacheck generators are used
  * directly, as the scalatestplus bridge isn't on the classpath),
  * `runAs`'s `ref()` contract in every materialization mode over a
  * 3-model chain `a -> b -> c`, and its scheduling: independent models
  * write at the same time, every `build` runs on the caller's thread, a
  * failed model skips its dependents while its siblings finish, a fatal
  * error waits for the writes in flight, and every write runs with code
  * generation off. */
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

  test("independent models write at the same time") {
    for (mat <- modes()._2) {
      DagRunnerSpec.latch = new CountDownLatch(2)
      def meeting(n: String) = Model(n, Nil) { (s, _) =>
        s.range(0, 1, 1, 1).select(DagRunnerSpec.meet(col("id")).as("met"))
      }
      val out = new DagRunner(Seq(meeting("p"), meeting("q"))).runAs(spark, mat)
      Seq("p", "q").foreach(n => assert(out(n).head().getBoolean(0),
        s"$mat: $n's write never ran beside the other's"))
    }
  }

  /** `a -> {b, c}`, `b -> d`, and an independent `e`; each build records its
    * name and thread, and `b`'s frame throws when written if `bFails`. */
  private def forked(calls: mutable.Buffer[(String, Thread)], bFails: Boolean): DagRunner = {
    def m(n: String, deps: String*)(f: DataFrame => DataFrame) =
      Model(n, deps) { (s, in) =>
        calls += n -> Thread.currentThread
        f(if (deps.isEmpty) s.range(5).toDF("x") else in(deps.head))
      }
    val plusOne = (df: DataFrame) => df.select((col("x") + 1).as("x"))
    val double = (df: DataFrame) =>
      df.select((if (bFails) DagRunnerSpec.boom(col("x")) else col("x") * 2).as("x"))
    new DagRunner(Seq(m("a")(plusOne), m("b", "a")(double), m("c", "a")(plusOne),
      m("d", "b")(plusOne), m("e")(plusOne)))
  }

  test("every build runs on the calling thread") {
    for (mat <- modes()._2) {
      val calls = mutable.ArrayBuffer[(String, Thread)]()
      val out = forked(calls, bFails = false).runAs(spark, mat)
      assert(calls.map(_._1).sorted == Seq("a", "b", "c", "d", "e"), s"$mat")
      assert(calls.forall(_._2 eq Thread.currentThread), s"$mat: ${calls.map(_._2.getName)}")
      assert(out("d").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 5L, 7L, 9L, 11L), s"$mat")
    }
  }

  test("a failed write skips its dependents; independent models still finish") {
    for (mat <- modes()._2) {
      val calls = mutable.ArrayBuffer[(String, Thread)]()
      val run = Future(forked(calls, bFails = true).runAs(spark, mat))
      val e = intercept[IllegalStateException](Await.result(run, 120.seconds))
      assert(e.getMessage.startsWith("models failed: b ("), s"$mat: ${e.getMessage}")
      assert(e.getMessage.endsWith("; skipped, downstream of a failure: d"), s"$mat: ${e.getMessage}")
      Seq("a", "c", "e").foreach(n => assert(mat.exists(spark, n), s"$mat: $n must be materialized"))
      assert(!calls.exists(_._1 == "d"), s"$mat: d must never build")
      assert(!mat.exists(spark, "d"), s"$mat: nothing may be written for d")
    }
  }

  test("a fatal error from a build is rethrown only after the writes in flight finish") {
    for (mat <- modes()._2) {
      DagRunnerSpec.latch = new CountDownLatch(1)
      val slow = Model("x", Nil) { (s, _) =>
        s.range(0, 1, 1, 1).select(DagRunnerSpec.stall(col("id")).as("x"))
      }
      // not NonFatal, so it leaves the scheduling loop while x is writing
      val fatal = Model("y", Nil) { (_, _) =>
        assert(DagRunnerSpec.latch.await(10, TimeUnit.SECONDS), s"$mat: x's write never started")
        throw new LinkageError("y's build fails fatally")
      }
      intercept[LinkageError](new DagRunner(Seq(slow, fatal)).runAs(spark, mat))
      assert(mat.exists(spark, "x"), s"$mat: x's write must commit before runAs throws")
    }
  }

  test("every model writes interpreted; a session that sets the codegen keys itself compiles") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{lit, max, rank, sum}
    val root = Files.createTempDirectory("graft-dag-codegen")
    // a filter, a join, an aggregate, a window and a sort; `salt` is a
    // literal in each expression, so a fresh salt makes every class that
    // carries the model's expressions new to Spark's code cache
    def dag(salt: Long) = new DagRunner(Seq(Model("w", Nil) { (s, _) =>
      val facts = s.range(0, 400, 1, 2).select((col("id") % 7).as("k"), col("id").as("v"))
      val dims = s.range(0, 7).select(col("id").as("k"), (col("id") * salt).as("w"))
      facts.filter(col("v") > lit(salt % 5)).join(dims, "k")
        .groupBy("k").agg(sum(col("v") + salt).as("s"), max("w").as("w"))
        .withColumn("r", rank().over(Window.orderBy(col("s").desc)))
        .orderBy("k")
    }))
    // (classes compiled by runAs, rows written)
    def run(salt: Long, tag: String): (Long, Seq[String]) = {
      val (n, out) = compiles(dag(salt).runAs(spark, Materialization.ParquetDir(s"$root/$tag")))
      (n, out("w").collect().map(_.toString).toSeq)
    }
    // Spark generates a few classes whatever the factory mode: a partial
    // aggregate's row joiner and some orderings in tasks, and a broadcast
    // relation's key projection and a range partitioner's ordering on its
    // exchange threads, which read the session conf. They depend on the
    // schema only, so one warm-up run compiles them for good.
    run(1L, "warm")
    val (interpreted, rows) = run(2L, "interpreted")
    assert(interpreted == 0L, "a model's write must compile nothing")
    codegenKeys.foreach { k =>
      assert(!spark.conf.getAll.contains(k), s"the session must not hold $k")
      assert(spark.sparkContext.getLocalProperty(k) == null, s"the calling thread must not hold $k")
    }
    assert(compiles(spark.range(10).select(col("id") * System.nanoTime).collect())._1 > 0L,
      "a query on the calling thread must still compile")
    // the defaults, set explicitly: the session's own setting wins
    codegenKeys.zip(Seq("FALLBACK", "true")).foreach { case (k, v) => spark.conf.set(k, v) }
    val (compiled, same) = try run(2L, "compiled") finally codegenKeys.foreach(spark.conf.unset)
    assert(compiled > 0L, "a session that sets the codegen keys itself must compile")
    assert(same == rows, "both paths must write the same rows")
  }

  test("interpreted leaves a reused thread as it found it: a later query there compiles") {
    import org.apache.spark.sql.functions.{lit, sum}
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    def query(salt: Long) = spark.range(0, 200, 1, 2).filter(col("id") % 3 =!= lit(salt % 3))
      .groupBy((col("id") % 7).as("k")).agg(sum(col("id") * salt).as("s"))
    val thread = java.util.concurrent.Executors.newSingleThreadExecutor()
    def onThread[T](body: => T): T =
      thread.submit(new java.util.concurrent.Callable[T] { def call(): T = body }).get()
    try {
      onThread(GraftSqlBridge.interpreted(spark)(query(1L).collect())) // warm-up
      assert(onThread(compiles(GraftSqlBridge.interpreted(spark)(query(2L).collect()))._1) == 0L,
        "the body must compile nothing")
      codegenKeys.foreach(k => assert(onThread(spark.sparkContext.getLocalProperty(k)) == null,
        s"the thread must not keep $k"))
      assert(onThread(compiles(query(3L).collect()))._1 > 0L,
        "a later query on the same thread must compile")
    } finally thread.shutdown()
  }

  private val codegenKeys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")

  /** (classes compiled while `body` ran, its result) */
  private def compiles[T](body: => T): (Long, T) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, r)
  }
}

object DagRunnerSpec {
  /** Read by task closures through this object, so every task of the JVM
    * shares it (a captured latch would be serialized per task). */
  @volatile var latch = new CountDownLatch(2)
  /** True once both counts are down: the row's write ran while the other
    * model's did. Gives up after 10 s, so a serial runner fails, not hangs. */
  val meet: UserDefinedFunction = udf { (_: Long) =>
    latch.countDown()
    latch.await(10, TimeUnit.SECONDS)
  }.asNondeterministic()
  /** Counts the latch down, then holds the row's write for 1.5 s. */
  val stall: UserDefinedFunction = udf { (x: Long) =>
    latch.countDown()
    Thread.sleep(1500)
    x
  }.asNondeterministic()
  val boom: UserDefinedFunction = udf { (x: Long) =>
    if (x >= 0) throw new IllegalStateException("b's write fails")
    x
  }.asNondeterministic()
}
