package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Differential check of the distributed fixed-point PageRank against a
  * sequential in-memory evaluation of the same spec.
  */
class GraphOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Sequential reference: the identical fixed-point arithmetic, one node at
    * a time — no Spark, no ordering sensitivity (integer sums commute). */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val inEdges = edges.groupBy(_._2)
    val n = nodes.size.toLong
    val init = GraphOps.Scale / n
    val base = (15L * init) / 100L
    var r = nodes.map(_ -> init).toMap
    (1 to iters).foreach { _ =>
      r = nodes.map { v =>
        val s = inEdges.getOrElse(v, Nil).map { case (u, _) => r(u) / outdeg(u) }.sum
        v -> (base + (85L * s) / 100L)
      }.toMap
    }
    r
  }

  test("pageRank == sequential fixed-point reference on random graphs") {
    val sp = spark
    import sp.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // ~60 nodes, ~300 distinct edges, self-loops excluded; includes
      // dangling nodes (appear only as dst) and sources (only as src)
      val edges = (0 until 400).map { _ =>
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
      }.filter { case (a, b) => a != b }.distinct
      val got = GraphOps.pageRank(edges.toDF("src", "dst"), iters = 3)
        .as[(Long, Long)].collect().toMap
      val want = refPageRank(edges, iters = 3)
      assert(got == want, s"seed=$seed: distributed != sequential reference")
      // mass sanity: total rank stays within (teleport-only, full) bounds
      val total = got.values.sum
      assert(total > 0L && total <= GraphOps.Scale,
        s"seed=$seed: total rank $total outside (0, Scale]")
    }
  }

  test("triangleCounts: K4 + star + bridge counted exactly, star contributes none") {
    val sp = spark
    import sp.implicits._
    // K4 on {0,1,2,3}: C(4,3) = 4 triangles, each node in exactly 3.
    // Star hub 10 -> {11..15}: no triangles. Bridge 3-10 closes nothing.
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val star = (11L to 15L).map(s => (10L, s))
    val und = (k4 ++ star :+ ((3L, 10L))).toDF("a", "b")
    val got = GraphOps.triangleCounts(und)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), s"got $got")
  }

  test("g6 scale boundary: unbounded recursion trips Spark's row guard; g5's BFS completes on the same graph", graft.Slow) {
    val sp = spark
    import sp.implicits._
    // g6 is a SEMANTICS PIN for the WITH RECURSIVE surface, deliberately
    // gated to a 20-node subgraph — it is NOT a scale path and must never be
    // widened into one. This test makes the boundary measured instead of
    // asserted: on a near-complete 100-node graph the 3-seed x 99^3 3-hop
    // path count (~2.9M) exceeds spark.sql.cteRecursionRowLimit (1M), so the
    // recursive-union spelling fails by design...
    val edges = (for (a <- 0L until 100L; b <- 0L until 100L if a != b)
      yield (a, b)).toDF("src", "dst")
    val ex = intercept[Throwable] {
      graft.core.Tables.sqlOn(spark, "edges" -> edges) { v =>
        s"""WITH RECURSIVE reach(node, d) AS (
           |  SELECT DISTINCT src AS node, 0 AS d FROM ${v("edges")} WHERE src < 3
           |  UNION ALL
           |  SELECT e.dst, r.d + 1
           |  FROM reach r JOIN ${v("edges")} e ON e.src = r.node
           |  WHERE r.d < 3)
           |SELECT node, min(d) AS dist FROM reach GROUP BY node""".stripMargin
      }.collect()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString(" | ")
    assert(chain.contains("RECURSION_ROW_LIMIT_EXCEEDED"),
      s"expected the recursion row guard to trip, got: $chain")
    // ...while g5's iterative per-round min-aggregate BFS keeps the frontier
    // node-sized and answers the SAME question on the SAME graph: every node
    // is 1 hop from a seed (complete graph), seeds are at 0.
    val seeds = Seq(0L, 1L, 2L).toDF("node")
    val bfs = GraphOps.bfsDistances(edges, seeds, hops = 3)
      .as[(Long, Int)].collect().toMap
    assert(bfs.size == 100)
    assert(Seq(0L, 1L, 2L).forall(bfs(_) == 0))
    assert((3L until 100L).forall(bfs(_) == 1))
  }

  test("pageRank concentrates rank on a sink hub (directional sanity)") {
    val sp = spark
    import sp.implicits._
    // star: every spoke points at the hub; hub points at node 1 only
    val edges = (1L to 9L).map(i => (i, 0L)) :+ ((0L, 1L))
    val r = GraphOps.pageRank(edges.toDF("src", "dst"), iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(r(0L) > r(2L) * 3, s"hub should dominate spokes: $r")
    assert(r(1L) > r(2L), s"hub's sole successor outranks plain spokes: $r")
  }
}
