package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** e17 — incremental maintenance of the persisted IVF index: a new batch
  * FOLDS in with one map-only assign against the stored centroids (no Lloyd
  * rounds, no corpus rescan); retraining is triggered by a manifest-scale
  * drift aggregate, pinned here in both directions; and the folded index
  * keeps the e8 recall floor against the exact top-10. */
class IvfMaintainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf01 = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Two well-separated 8-dim clusters + a seeded jitter. */
  private def cluster(ids: Range, center: Array[Double], seed: Int): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i.toLong, center.map(_ + rnd.nextGaussian() * 0.02)))
  }

  private def frame(rows: Seq[(Long, Array[Double])]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("vec_id", "v")
  }

  test("a batch near the trained clusters folds — drift stays under the trigger") {
    val base = cluster(0 until 60, Array(1, 0, 0, 0, 0, 0, 0, 0), 1) ++
      cluster(60 until 120, Array(0, 1, 0, 0, 0, 0, 0, 0), 2)
    val cents = VectorOps.kmeansCentroidsQ(frame(base), k = 2, iters = 2)
    val incoming = cluster(120 until 140, Array(1, 0, 0, 0, 0, 0, 0, 0), 3) ++
      cluster(140 until 160, Array(0, 1, 0, 0, 0, 0, 0, 0), 4)
    val folded = VectorOps.assignedForTest(frame(base ++ incoming), cents)
    val drift = VectorOps.ivfDriftRatio(folded, cents)
    info(f"near-cluster batch drift = $drift%.4f")
    assert(drift < 0.05,
      f"a batch landing inside the trained clusters must not trip retraining: $drift%.4f")
  }

  test("a displaced batch trips the retrain trigger; retraining restores cohesion") {
    val base = cluster(0 until 60, Array(1, 0, 0, 0, 0, 0, 0, 0), 1) ++
      cluster(60 until 120, Array(0, 1, 0, 0, 0, 0, 0, 0), 2)
    val cents = VectorOps.kmeansCentroidsQ(frame(base), k = 2, iters = 2)
    // a heavy batch in a region the index has never seen
    val incoming = cluster(120 until 240, Array(0, 0, 0, 1, 0, 0, 0, 0), 5)
    val all = frame(base ++ incoming)
    val folded = VectorOps.assignedForTest(all, cents)
    val drift = VectorOps.ivfDriftRatio(folded, cents)
    info(f"displaced batch drift = $drift%.4f")
    assert(drift > 0.2,
      f"a displaced heavy batch must trip the retrain trigger: $drift%.4f")
    // the retrain the trigger demands actually fixes the index: with k=3
    // the new region gets its own cell and drift vanishes
    val cents2 = VectorOps.kmeansCentroidsQ(all, k = 3, iters = 3)
    val drift2 = VectorOps.ivfDriftRatio(
      VectorOps.assignedForTest(all, cents2), cents2)
    assert(drift2 < 0.05, f"post-retrain drift must settle: $drift2%.4f")
  }

  test("the fold path is map-only — no Lloyd rounds, no join/window in the plan") {
    val base = cluster(0 until 40, Array(1, 0, 0, 0, 0, 0, 0, 0), 1)
    val cents = VectorOps.kmeansCentroidsQ(frame(base), k = 2, iters = 1)
    val plan = VectorOps.assignedForTest(
      frame(cluster(40 until 60, Array(1, 0, 0, 0, 0, 0, 0, 0), 2)), cents)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"the fold must be one map pass over the batch:\n$plan")
  }

  test("e17: the folded index's IVF probe keeps the e8 recall floor (sf0.01)", graft.Slow) {
    val exact = graft.SparkEntry.queries("e1_ann_bruteforce_topk")(spark, sf01)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val folded = VectorOps.foldedCellsForTest(spark, sf01)
      .select(col("vec_id"), col("cell").as("label"), col("v"))
      .persist()
    folded.count(): Unit
    val approx = VectorOps.ivfProbeForTest(folded, nprobe = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    folded.unpersist()
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"e17 folded-index recall@10 (nprobe=4) = $recall%.3f")
    assert(recall >= 0.6,
      f"the folded index must keep the e8 nprobe=4 floor: $recall%.3f < 0.6")
  }
}
