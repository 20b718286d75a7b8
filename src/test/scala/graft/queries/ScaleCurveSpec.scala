package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Measures the scaling claims SCALE.md argues: the heaviest registry
  * queries run at sf0.01 and sf0.1 (10x the data) and every time ratio must
  * stay inside a superlinearity budget. A linear operator lands near 10x
  * minus fixed overheads (usually well under); a quadratic one lands near
  * 100x. The budget of 25x leaves room for shuffle-log factors and host
  * jitter while still failing hard on accidental all-pairs joins,
  * unbounded windows, or plan blowups — the failure classes the plan-shape
  * sweeps catch structurally, enforced here by measurement.
  *
  * Methodology mirrors graft.Bench: local[32], noop-sink writes (evaluates
  * every output column), one warm run (JVM/codegen + scratch artifacts)
  * then best-of-2 timed. Host contention inflates both scales of one run
  * roughly uniformly (BASELINE.md's variance caveat), so the RATIO
  * self-normalizes; the sf0.01 denominator is floored at 0.2 s so scheduler
  * jitter on a tiny run cannot manufacture a violation.
  *
  * g6 is deliberately absent: its input is k-bounded by an explicit scale
  * contract (GraphOps), not corpus-proportional, so a cross-sf ratio would
  * measure the contract, not the operator.
  */
class ScaleCurveSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(32)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The sf0.1 heavy hitters (r6 bench top list), one per operator family. */
  private val Queries = Seq(
    "d36_dedup_keep_best", "d16_dedup_apply", "d12_dedup_components",
    "d47_shared_span_dedup", "d2_dedup_ngram_jaccard",
    "d3_dedup_minhash_lsh", "d4_dedup_simhash",
    "d35_perplexity_gate", "d17_bigram_logprob",
    "e11_ann_ivf_pq_rerank", "e6_knn_graph", "m7_media_phash_neardup")

  private val SuperlinearityBudget = 25.0
  private val DenomFloorSec = 0.2

  private def timeOnce(name: String, sfDir: String): Double = {
    val fn = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val dt = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    dt
  }

  test("10x data stays inside the superlinearity budget on the heavy queries", graft.Slow) {
    val rows = Queries.map { q =>
      timeOnce(q, "/root/testdata/sf0.01") // warm: codegen + scratch artifacts
      val t001 = math.min(timeOnce(q, "/root/testdata/sf0.01"),
        timeOnce(q, "/root/testdata/sf0.01"))
      timeOnce(q, "/root/testdata/sf0.1")
      val t01 = math.min(timeOnce(q, "/root/testdata/sf0.1"),
        timeOnce(q, "/root/testdata/sf0.1"))
      val ratio = t01 / math.max(t001, DenomFloorSec)
      info(f"$q%-28s sf0.01 $t001%6.2f s   sf0.1 $t01%6.2f s   ratio ${ratio}%5.1fx")
      (q, t001, t01, ratio)
    }
    // print a paste-ready SCALE.md table
    println("| query | sf0.01 s | sf0.1 s | ratio |")
    println("|---|---|---|---|")
    rows.foreach { case (q, a, b, r) => println(f"| $q | $a%.2f | $b%.2f | ${r}%.1fx |") }
    rows.foreach { case (q, _, _, r) =>
      assert(r <= SuperlinearityBudget,
        f"$q scaled ${r}%.1fx on 10x data (budget ${SuperlinearityBudget}x) — superlinear")
    }
  }

  /** The SECOND measured decade (sf0.1 → sf1, 100× the small-test scale):
    * the dedup/ANN scale paths whose caps and banding are exactly the
    * things another 10× could break. sf1 is the deterministic amplified
    * corpus ([[graft.tools.ScaleUp]]) — ~10% exact clones, ~30% near-dups,
    * ~60% distinct — living under the JVM temp dir (the driver corpus is
    * read-only). Only `documents`/`embeddings` exist there, which covers
    * every query below.
    *
    * Shared scratch artifacts (the near-dup pair evidence, the trained ANN
    * index) are deleted per scale before the warm pass, so each scale's
    * warm run IS the cold artifact build and `Tables.artifactReport`
    * captures its seconds — the artifact BUILD ratio is asserted under the
    * same budget as the query ratios (it is the true scale path for
    * d2/d46/d47 and e11s). */
  test("sf0.1 -> sf1: dedup/ANN scale paths and artifact builds stay inside the budget", graft.Slow) {
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = graft.tools.ScaleUp.ensure(spark, sf01)
    val queries = Seq("d2_dedup_ngram_jaccard", "d3_dedup_minhash_lsh",
      "d4_dedup_simhash", "e2_ann_lsh_bucketed", "e11s_ann_serving")

    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
      f.delete(): Unit
    }
    def clearScratch(dir: String): Unit = {
      val mangled = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft-buckets")
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(s"_$mangled"))
        .foreach(deleteRec)
    }
    def leg(dir: String): (Map[String, Double], Map[String, Double]) = {
      clearScratch(dir)
      graft.core.Tables.artifactLedger.clear()
      queries.foreach(timeOnce(_, dir)) // warm pass pays the cold artifact builds
      val builds = graft.core.Tables.artifactReport.collect {
        case (n, Some(sec)) => n -> sec }
      val times = queries.map(q => q ->
        math.min(timeOnce(q, dir), timeOnce(q, dir))).toMap
      (times, builds)
    }
    val (t01, b01) = leg(sf01)
    val (t1, b1) = leg(sf1)

    println("| query | sf0.1 s | sf1 s | ratio |")
    println("|---|---|---|---|")
    val rows = queries.map { q =>
      val r = t1(q) / math.max(t01(q), DenomFloorSec)
      println(f"| $q | ${t01(q)}%.2f | ${t1(q)}%.2f | ${r}%.1fx |")
      (q, r)
    }
    val buildRows = b1.keySet.intersect(b01.keySet).toSeq.sorted.map { n =>
      val r = b1(n) / math.max(b01(n), DenomFloorSec)
      println(f"| artifact:$n | ${b01(n)}%.2f | ${b1(n)}%.2f | ${r}%.1fx |")
      (s"artifact:$n", r)
    }
    (rows ++ buildRows).foreach { case (q, r) =>
      assert(r <= SuperlinearityBudget,
        f"$q scaled ${r}%.1fx on 10x data (budget ${SuperlinearityBudget}x) — superlinear")
    }
  }

  /** The storage-layer scale claim: a SELECTIVE scan over a partitioned,
    * cluster-written table is priced by the matching slice, not the corpus.
    * Day partitioning + per-file user-range stats bound the scanned file
    * set structurally — the scanned FRACTION is a property of the layout
    * and the predicate, so it must hold as the table grows a decade
    * (amplified events keep the day span and the user_id domain fixed,
    * so the predicate's selectivity is scale-invariant). This is the
    * measured face of s18's 100 TB argument: at 10x the rows, pruning +
    * skipping still discard the overwhelming majority of files at plan
    * time, and the query pays near the matching-slice cost, not 10x. */
  /** The CDC cost contract measured across a decade: merging a FIXED-SIZE
    * batch into a table 10x larger must cost about the same, because
    * [[graft.sources.VersionedHiddenTable.merge]] writes only the batch era
    * plus a key-only equality-delete file (Iceberg's equality_ids form) and
    * never scans the target for pre-images — the structural face of that
    * claim is the delete file's schema, which must hold exactly the key
    * column. The changelog read of the merge commit is NOT flat by design —
    * identifying which rows a key mask hides requires one broadcast-filtered
    * (shuffle-free) pass over the covered eras — so it gets the ordinary
    * superlinearity budget, not the flat one. */
  test("sf0.1 -> sf1: a fixed-size CDC merge batch stays change-priced, not corpus-priced", graft.Slow) {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = graft.tools.ScaleUp.ensure(spark, sf01)
    val VHT = graft.sources.VersionedHiddenTable

    def leg(tag: String, ev: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-scale-cdc-$tag").toString + "/t"
      VHT.create(spark, path, ev,
        Seq(graft.sources.HiddenPartitioning.DayT("ts")))
      // the fixed-size batch: 2000 keyed updates, identical at both scales
      // (cached so batch prep never pollutes the merge timing)
      val batch = ev.orderBy("event_id").limit(2000)
        .withColumn("value", col("value") + lit(1.0)).cache()
      batch.count(): Unit
      val t0 = System.nanoTime()
      val v = VHT.merge(spark, path, batch, Seq("event_id"))
      val mergeSec = (System.nanoTime() - t0) / 1e9
      // structural: the published delete file is the batch's KEYS, nothing
      // else — proof the merge never staged target pre-images
      val delDir = new java.io.File(s"$path/data").listFiles()
        .filter(_.getName.startsWith("del-"))
      assert(delDir.length == 1, s"$tag: one key mask expected")
      assert(spark.read.parquet(delDir.head.getPath).columns.toSeq == Seq("event_id"),
        s"$tag: the delete file must hold only the merge keys")
      val t1 = System.nanoTime()
      val n = VHT.changes(spark, path, v - 1, Some(v)).count()
      val changesSec = (System.nanoTime() - t1) / 1e9
      assert(n == 4000L, s"$tag: 2000 deletes + 2000 inserts expected, got $n")
      batch.unpersist(): Unit
      (mergeSec, changesSec)
    }

    val (m01, c01) = leg("01", graft.core.Tables.load(spark, sf01, "events"))
    val (m1, c1) = leg("1", spark.read.parquet(s"$sf1/events.parquet"))
    info(f"merge: sf0.1 $m01%.2f s -> sf1 $m1%.2f s; changes: $c01%.2f s -> $c1%.2f s")
    println(f"| cdc merge (2000-row batch) | $m01%.2f | $m1%.2f | ${m1 / math.max(m01, DenomFloorSec)}%.1fx |")
    println(f"| cdc changelog of the commit | $c01%.2f | $c1%.2f | ${c1 / math.max(c01, DenomFloorSec)}%.1fx |")
    // merge is change-priced: a decade of extra data buys at most host
    // jitter + the longer key-broadcast planning, never a rescan (a
    // pre-image implementation lands near 10x). The STRUCTURAL assert
    // above (key-only delete schema) is the load-bearing proof; this
    // timing bound sits between "flat" and "rescan" with headroom for
    // suite-parallel contention, because a merge mutates and cannot be
    // re-timed best-of-2 like the read-only legs
    assert(m1 / math.max(m01, DenomFloorSec) <= 6.0,
      f"merge must stay flat across the decade: $m01%.2f -> $m1%.2f")
    // the changelog's covered-era pass is scan-bounded and shuffle-free
    assert(c1 / math.max(c01, DenomFloorSec) <= SuperlinearityBudget)
  }

  test("sf0.1 -> sf1: maintain decides from manifests; masked-read join input is mask-priced", graft.Slow) {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = graft.tools.ScaleUp.ensure(spark, sf01)
    val VHT = graft.sources.VersionedHiddenTable

    def flat(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flat)
    }

    def leg(tag: String, ev: org.apache.spark.sql.DataFrame)
        : (Double, Double, Long, Long) = {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-scale-svc-$tag").toString + "/t"
      VHT.create(spark, path, ev,
        Seq(graft.sources.HiddenPartitioning.DayT("ts")))
      // clustered layout: each file a narrow key span (what a scheduled
      // clustered compaction leaves behind)
      VHT.compact(spark, path, clusterBy = Seq("event_id"),
        targetBytes = 8L << 20)
      // one fixed-size keyed CDC batch (2000 CONSECUTIVE keys -> a narrow
      // mask box), identical at both scales
      val batch = ev.orderBy("event_id").limit(2000)
        .withColumn("value", col("value") + lit(1.0)).cache()
      batch.count(): Unit
      VHT.merge(spark, path, batch, Seq("event_id")): Unit
      batch.unpersist(): Unit
      // DECIDE cost: thresholds NOT tripped -> maintain reads manifests,
      // compacts nothing, retires nothing (keep window wider than history)
      val t0 = System.nanoTime()
      val rep = graft.sources.TableService.maintain(spark, path,
        graft.sources.TableService.Policy(maxLiveEras = 64, maxDelFiles = 64,
          keepSnapshots = 100))
      val decideSec = (System.nanoTime() - t0) / 1e9
      assert(!rep.compacted && rep.droppedSnapshots.isEmpty,
        s"$tag: the decide leg must not pay a rewrite: $rep")
      // MASKED READ: only files inside the mask's key box feed the anti
      // join — the change-priced read contract (del-file stats derive the
      // box; StatsFileSkipping prunes the join input to it)
      val read = VHT.read(spark, path).select(col("event_id"))
      val t1 = System.nanoTime()
      read.collect(): Unit
      val maskedSec = (System.nanoTime() - t1) / 1e9
      val plan = flat(read.queryExecution.executedPlan)
      val joined = plan.collect {
        case j: BaseJoinExec if j.joinType ==
            org.apache.spark.sql.catalyst.plans.LeftAnti =>
          flat(j.left).collect {
            case s: FileSourceScanExec => s.metrics("numFiles").value
          }.sum
      }.sum
      val scanned = plan.collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
      (decideSec, maskedSec, joined, scanned)
    }

    val (d01, r01, j01, s01) = leg("01", graft.core.Tables.load(spark, sf01, "events"))
    val (d1, r1, j1, s1) = leg("1", spark.read.parquet(s"$sf1/events.parquet"))
    info(f"decide: $d01%.2f s -> $d1%.2f s; masked read: $r01%.2f s -> $r1%.2f s; " +
      f"join input: $j01 of $s01 files -> $j1 of $s1 files")
    println(f"| maintain decide (tidy table) | $d01%.2f | $d1%.2f | ${d1 / math.max(d01, DenomFloorSec)}%.1fx |")
    println(f"| masked read join input | $j01/$s01 files | $j1/$s1 files | ${r1 / math.max(r01, DenomFloorSec)}%.1fx time |")
    // the decision is manifest-priced: a decade of extra data buys more
    // shard parses, never a data scan
    assert(d1 / math.max(d01, DenomFloorSec) <= 6.0,
      f"maintain's decide pass must stay manifest-priced: $d01%.2f -> $d1%.2f")
    // the mask's join input is priced by the MASK, not the corpus: a fixed
    // 2000-key box covers the same few clustered files at both scales
    assert(j01 > 0 && j1 > 0, "join-input metrics not populated")
    assert(s1 >= s01 * 2, s"precondition: the decade must multiply the file count ($s01 -> $s1)")
    assert(j1 <= j01 * 3,
      s"masked-read join input must stay flat across the decade: $j01 -> $j1 of $s1")
  }

  test("sf0.1 -> sf1: partition pruning + file-stats skipping keep the selective scan slice-priced", graft.Slow) {
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.1"
    val sf1 = graft.tools.ScaleUp.ensure(spark, sf01)

    def leg(tag: String, ev: org.apache.spark.sql.DataFrame): (Double, Long, Long) = {
      val path = java.nio.file.Files.createTempDirectory(s"graft-scale-skip-$tag").toString
      graft.sources.HiddenPartitioning.write(
        ev.repartitionByRange(16, col("user_id")), path,
        Seq(graft.sources.HiddenPartitioning.DayT("ts")))
      def q = graft.sources.HiddenPartitioning.read(spark, path)
        .filter(col("ts") >= "2024-01-08" && col("ts") < "2024-01-10" &&
          col("user_id").between(10L, 40L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      q.write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      q.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // metrics must come from the EXECUTED QueryExecution (a write builds
      // its own), and from a SHUFFLE-FREE plan: AQE wraps any plan with an
      // exchange in AdaptiveSparkPlanExec, whose final plan .collect does
      // not traverse — so inspect the filter-only read, which plans the
      // identical scan
      val inspected = graft.sources.HiddenPartitioning.read(spark, path)
        .filter(col("ts") >= "2024-01-08" && col("ts") < "2024-01-10" &&
          col("user_id").between(10L, 40L))
      inspected.collect(): Unit
      val scanned = inspected.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
      val total = {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sessionState.newHadoopConf())
        def walk(p: org.apache.hadoop.fs.Path): Long =
          fs.listStatus(p).map { st =>
            val n = st.getPath.getName
            if (n.startsWith(".") || (n.startsWith("_") && !n.contains("="))) 0L
            else if (st.isDirectory) walk(st.getPath)
            else if (n.endsWith(".parquet")) 1L else 0L
          }.sum
        walk(new org.apache.hadoop.fs.Path(path))
      }
      (sec, scanned, total)
    }

    val (t01, s01, n01) = leg("01", graft.core.Tables.load(spark, sf01, "events"))
    val (t1, s1, n1) = leg("1", spark.read.parquet(s"$sf1/events.parquet"))
    info(f"sf0.1: $t01%.2f s, scanned $s01 of $n01 files; sf1: $t1%.2f s, scanned $s1 of $n1 files")
    println(f"| selective hp scan | $t01%.2f ($s01/$n01 files) | $t1%.2f ($s1/$n1 files) | ${t1 / math.max(t01, DenomFloorSec)}%.1fx |")
    // structural: the layout bounds the scanned fraction at BOTH scales
    // (and the metric must be real — zero means the plan never executed)
    assert(s01 > 0 && s1 > 0, "scanned-file metrics not populated")
    assert(s01.toDouble / n01 <= 0.35, s"sf0.1 scanned $s01 of $n01 — layout not selective")
    assert(s1.toDouble / n1 <= 0.35, s"sf1 scanned $s1 of $n1 — selectivity lost at scale")
    // temporal: slice-priced, not corpus-priced (generous: host jitter on
    // sub-second runs; a full-scan regression would land near 10x+)
    assert(t1 / math.max(t01, DenomFloorSec) <= SuperlinearityBudget)
  }
}
