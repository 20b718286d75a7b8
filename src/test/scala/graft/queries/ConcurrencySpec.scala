package graft.queries

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Registry builders must be side-effect-free: the SQL-form queries create
  * session-unique temp views (Tables.sqlOn) and drop them after analysis,
  * so CONCURRENT construction + execution on one shared session can never
  * collide — the r3-advice hazard, pinned. Spark sessions are thread-safe
  * for concurrent jobs; what this spec proves is that OUR builders are too.
  */
class ConcurrencySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(8)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("SQL-form registry queries build and run concurrently without view collisions", graft.Slow) {
    // every sqlOn-based builder in the registry, three copies each, all at
    // once — fixed view names would collide (wrong results or
    // TABLE_OR_VIEW_NOT_FOUND under the interleaved drops)
    val sqlForm = Seq("q2_min_per_group", "q4_priority_checking",
      "q11_important_stock", "q16_supplier_diversity", "q17_small_quantity_revenue",
      "q20_dominant_supplier", "q21_waiting_supplier", "q22_inactive_high_balance",
      "j10_not_in_null_semantics", "a15_grouping_sets")
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = (1 to 3).flatMap(_ => sqlForm).map { name =>
        Future {
          name -> graft.SparkEntry.queries(name)(spark, sfDir).count()
        }
      }
      val counts = Await.result(Future.sequence(runs), 10.minutes)
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      // all three concurrent copies of each query must agree with a
      // clean serial run
      counts.foreach { case (name, got) =>
        val serial = graft.SparkEntry.queries(name)(spark, sfDir).count()
        assert(got == Set(serial),
          s"$name under concurrency: $got != serial $serial")
      }
    } finally pool.shutdown()
  }

  test("8 concurrent WAP appends to one versioned table: no era lost, all batches readable", graft.Slow) {
    import org.apache.spark.sql.functions.col
    val VHT = graft.sources.VersionedHiddenTable
    val t = java.nio.file.Files.createTempDirectory("graft-conc-vht").toString + "/t"
    val ev = graft.core.Tables.load(spark, sfDir, "events")
    VHT.create(spark, t, ev.filter(col("user_id") === 0L),
      Seq(graft.sources.HiddenPartitioning.DayT("ts")))
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // 8 writers, fully concurrent: era writes overlap (atomic era-id
      // claims keep the directories distinct), commits linearize under the
      // JVM commit lock (each re-resolves the latest base), so the final
      // manifest must reference EVERY writer's era — the lost-update race
      // this pins is a silently vanishing append
      val runs = (1 to 8).map { k =>
        Future {
          VHT.append(spark, t, ev.filter(col("user_id") === k.toLong),
            batchId = Some(s"w$k"))()
        }
      }
      val results = Await.result(Future.sequence(runs), 10.minutes)
      assert(results.forall(_.isRight), s"every append must publish: $results")
      assert(VHT.versions(spark, t).size == 9,
        "one snapshot per writer plus the create")
      assert(VHT.publishedBatchIds(spark, t) == (1 to 8).map(k => s"w$k").toSet,
        "every writer's batch marker must ride its own publish")
      val expect = ev.filter(col("user_id") <= 8L)
      assert(VHT.read(spark, t).count() == expect.count(),
        "the latest snapshot must carry every concurrent append's rows")
      // per-writer completeness: no batch partially lost
      (0 to 8).foreach { k =>
        assert(VHT.read(spark, t).filter(col("user_id") === k.toLong).count() ==
          ev.filter(col("user_id") === k.toLong).count(), s"batch $k incomplete")
      }
    } finally pool.shutdown()
  }

  test("EVERY registry query builds+runs concurrently across two data dirs, equal to serial", graft.Slow) {
    // The full-width version of the test above and the executable form of
    // the concurrent-build contract (commits ec7c0b0/1340566): all ~240
    // builders at once, interleaved across TWO scale dirs, compared
    // bit-exactly (content digest) to a clean serial run. This is the test
    // that catches the whole hazard class mechanically: fixed-name temp
    // views (wrong-dir results), shared-scratch overwrites racing lazy
    // reads (FileNotFound / partial scans), session-global conf mutations.
    val dirs = Seq(sfDir, "/root/testdata/sf0.01") // two DISTINCT scale dirs
    // sketch/ANN queries whose CONTENT is legitimately run-order-sensitive
    // (estimator internals, k-means/PQ training) — pinned by their own spec
    // gates; here they must still build+run concurrently, compared on
    // cardinality like the driver's rows-only gate
    val rowsOnly = Set("d11_sketch_stats", "d23_heavy_hitters_sketch",
      "d48_hll_sketch_union", "e2_ann_lsh_bucketed", "e5_kmeans_cells",
      "e8_ann_ivf_kmeans", "e10_ann_pq_adc", "e11_ann_ivf_pq_rerank",
      "e14_mmr_diversified_topk", "f2_input_file_metadata")
    def sig(name: String, dir: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      if (rowsOnly(name)) s"rows=${df.count()}" else graft.pipeline.Checks.contentDigest(df)
    }
    val tasks = for (d <- dirs; n <- graft.SparkEntry.queries.keys.toSeq.sorted)
      yield (n, d)
    val serial = tasks.map { case (n, d) => (n, d) -> sig(n, d) }.toMap
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // fixed-seed shuffle interleaves the two dirs and the query families
      // so same-name builds against DIFFERENT dirs overlap in time
      val order = new scala.util.Random(17).shuffle(tasks)
      val concurrent = Await.result(
        Future.sequence(order.map { case (n, d) =>
          Future((n, d) -> sig(n, d))
        }), 60.minutes).toMap
      val bad = tasks.filter(t => serial(t) != concurrent(t))
      assert(bad.isEmpty, bad.map { case (n, d) =>
        s"$n @ $d: concurrent ${concurrent((n, d))} != serial ${serial((n, d))}"
      }.mkString("concurrent build/run diverged from serial:\n  ", "\n  ", ""))
    } finally pool.shutdown()
  }
}
