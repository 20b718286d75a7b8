package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Differential + scale-shape tests for the similarity/dedup operators:
  *   - d9 cell-ball-pruned cosine join is bit-identical to the all-pairs form
  *     and its prune actually fires on a clustered corpus;
  *   - d4 two-level banded hamming join is identical to brute force, and its
  *     candidate buckets stay tiny on a random corpus (the 2^20-key property);
  *   - e2 ANN carries a measured recall@10 floor against e1's exact top-10.
  */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def embDouble(dir: String): DataFrame =
    graft.core.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))

  // ---- d9 ----------------------------------------------------------------

  test("d9: ball-pruned pair join == all-pairs brute force (sf0.001 + sf0.01)", graft.Slow) {
    for (dir <- Seq(sf001, sf01)) {
      val emb = embDouble(dir)
      val pruned = VectorOps.cosineNearDupPairs(emb, 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val a = emb.select(col("vec_id").as("vec_a"), col("v").as("va"))
      val b = emb.select(col("vec_id").as("vec_b"), col("v").as("vb"))
      val brute = a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("sim", round(expr("graft_cosine(va, vb)"), 6))
        .filter(col("sim") >= 0.4)
        .select("vec_a", "vec_b", "sim")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pruned == brute, s"$dir: pruned join must equal brute force")
      assert(brute.nonEmpty, s"$dir: fixture should produce pairs")
    }
  }

  test("d9: cell ball prune eliminates cross-cell probes on a clustered corpus") {
    val s = spark; import s.implicits._
    // 3 tight clusters around orthogonal axes: inter-centroid angle 90deg
    // >> acos(0.4) + radii, so no vector may probe a foreign cell.
    val rnd = new scala.util.Random(11)
    val dim = 8
    val rows = for {
      c <- 0 until 3
      i <- 0 until 40
    } yield {
      val v = Array.tabulate(dim)(d =>
        (if (d == c) 1.0 else 0.0) + rnd.nextGaussian() * 0.01)
      (c.toLong * 100 + i, c.toLong, v)
    }
    val emb = rows.toDF("vec_id", "label", "v")
    val probes = VectorOps.cellProbes(emb, 0.4)
    val crossCell = probes.filter(col("cell_a") =!= col("cell")).count()
    assert(crossCell == 0, "orthogonal clusters: every cross-cell probe must prune")
    assert(probes.count() == rows.size, "own-cell probes always survive")
    // and the pruned join still finds exactly the within-cluster pairs
    val pairs = VectorOps.cosineNearDupPairs(emb, 0.4)
    assert(pairs.count() == 3L * 40 * 39 / 2,
      "within-cluster pairs (sim ~ 1) must all be found")
  }

  test("d9: physical plan has no nested-loop or cartesian join") {
    val df = graft.SparkEntry.queries("d9_dedup_embedding_cosine")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), "no BNLJ in d9")
    assert(!p.contains("CartesianProduct"), "no cartesian in d9")
  }

  // ---- d4 ----------------------------------------------------------------

  test("d4: two-level banded hamming join == brute force over signatures") {
    val sigs = TextOps.simhashSigs(spark, sf001)
    val banded = TextOps.hammingPairs(sigs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val raw = sigs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (da, sa) <- raw; (db, sb) <- raw if da < db
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 5
    } yield (da, db, d)).toSet
    assert(banded == brute, "banded join must equal brute-force hamming pairs")
    assert(brute.nonEmpty, "fixture should produce pairs")
  }

  test("d4: candidate buckets stay tiny on a random corpus (2^20 key space)") {
    val s = spark; import s.implicits._
    // 5000 random 60-bit signatures: with 2^20-key buckets the exact-entry
    // collision count stays O(1); the old 2^10 chunks would put ~5 docs in
    // EVERY bucket (15k pair-explosions per chunk level minimum).
    val rnd = new scala.util.Random(3)
    val sims = (0 until 5000).map(i => (i.toLong, rnd.nextLong() & ((1L << 60) - 1)))
      .toDF("doc_id", "sim")
    val exactBuckets = sims.select(col("doc_id"), explode(expr(
      """transform(sequence(0, 2),
        |  u -> struct(u as u, shiftright(sim, u * 20) & 1048575 as key))""".stripMargin)).as("x"))
      .groupBy(col("x.u"), col("x.key")).count()
    val maxBucket = exactBuckets.agg(max("count")).head().getLong(0)
    assert(maxBucket <= 4, s"random sigs must spread over 2^20 keys, got $maxBucket")
    // and the join finds nothing among random sigs (hamming <= 5 of 60 is rare)
    assert(TextOps.hammingPairs(sims, 5).count() == 0)
  }

  test("d4: bucket cap never fires on the driver corpus, and drops a degenerate bucket") {
    val s = spark; import s.implicits._
    // margin on the real corpus: the largest (chunk, key) bucket sits far
    // below BucketCap, so the capped join's CORRECTNESS output is identical
    val (nOver, _) = TextOps.oversizedBucketStats(
      TextOps.simhashSigs(spark, sf01), TextOps.BucketCap)
    assert(nOver === 0, "no driver-corpus bucket may reach the cap")
    // degenerate corpus: every doc shares one signature -> one same-signature
    // group of 200 docs; a cap of 10 drops it (and the cross path sees a
    // single signature, so no bucket ever pairs) — the join yields nothing
    // instead of emitting the quadratic 19 900-pair blob
    val degenerate = (0 until 200).map(i => (i.toLong, 12345L)).toDF("doc_id", "sim")
    val (nHot, entries) = TextOps.oversizedBucketStats(degenerate, 10)
    assert(nHot >= 1 && entries >= 200L,
      s"the shared-signature group must trip the cap, got ($nHot, $entries)")
    assert(TextOps.hammingPairs(degenerate, 5, cap = 10).count() === 0,
      "capped groups must be dropped, not exploded")
  }

  // ---- e5 k-means --------------------------------------------------------

  test("e5: k-means cells are pure on a clustered corpus and swap into the d9 prune") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 8
    val rows = for { c <- 0 until 3; i <- 0 until 40 } yield {
      val v = Array.tabulate(dim)(d =>
        (if (d == c * 2) 1.0 else 0.0) + rnd.nextGaussian() * 0.01)
      (c.toLong * 1000 + i, 0L, v) // all input labels identical: cells must be LEARNED
    }
    val emb = rows.toDF("vec_id", "label", "v")
    val cells = VectorOps.kmeansCells(emb, k = 8, iters = 3).cache()
    // purity: every learned cell contains vectors of exactly one true cluster
    val purity = cells.withColumn("truth", (col("vec_id") / 1000).cast("int"))
      .groupBy(col("label")).agg(countDistinct(col("truth")).as("nTruth"))
      .agg(max("nTruth")).head().getLong(0)
    assert(purity == 1L, "each k-means cell must be pure on orthogonal clusters")
    assert(cells.count() == rows.size, "every vector assigned")
    // learned cells drive the exact d9 prune just like given labels
    val pairs = VectorOps.cosineNearDupPairs(cells, 0.4)
    assert(pairs.count() == 3L * 40 * 39 / 2, "all within-cluster pairs found")
    cells.unpersist()
  }

  test("e8: raising nprobe raises recall — the IVF quality dial works (sf0.01)", graft.Slow) {
    val exact = graft.SparkEntry.queries("e1_ann_bruteforce_topk")(spark, sf01)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cells = VectorOps.kmeansCells(embDouble(sf01), k = 8, iters = 3).cache()
    def recallAt(nprobe: Int): Double = {
      val approx = VectorOps.ivfProbe(cells, nprobe)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect approx).size.toDouble / exact.size
    }
    val r2 = recallAt(2)
    val r4 = recallAt(4)
    cells.unpersist()
    info(f"e8 recall@10: nprobe=2 -> $r2%.3f, nprobe=4 -> $r4%.3f")
    assert(r4 > r2, f"more probed cells must not lose neighbors: $r4%.3f <= $r2%.3f")
    assert(r4 >= 0.6, f"nprobe=4 of 8 cells should pass 0.6: $r4%.3f")
  }

  test("e5: 10 Lloyd rounds stay map-only — no plan nesting, no window/join in assign") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (0 until 120).map { i =>
      (i.toLong, 0L, Array.fill(8)(rnd.nextGaussian()))
    }
    val emb = rows.toDF("vec_id", "label", "v")
    // driver-collected centroids truncate the plan every round: iters=10
    // must neither blow up analysis time nor deepen the final plan
    val cells = VectorOps.kmeansCells(emb, k = 4, iters = 10)
    val plan = cells.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"), s"assign must be map-only, no window:\n$plan")
    assert(!plan.contains("Join"), s"assign must be map-only, no join:\n$plan")
    assert(cells.count() === 120L, "every vector assigned after 10 rounds")
    assert(cells.select(countDistinct(col("label"))).head().getLong(0) <= 4L)
  }

  // ---- d2/d3 DF cap ------------------------------------------------------

  test("d2/d3: DF cap drops a degenerate corpus-wide shingle, pairs stay exact") {
    val s = spark; import s.implicits._
    // every doc opens with the universal shingle "a b c"; docs 1 and 2 are
    // identical apart from it, everything else is unique
    val docs = ((1 to 20).map { i =>
      val tail = if (i <= 2) "dup dup2" else s"t$i u$i"
      (i.toLong, s"a b c $tail")
    }).toDF("doc_id", "text")
    val (nHeavy, nPostings) = TextOps.heavyShingleStats(docs, 2)
    assert(nHeavy == 1 && nPostings == 20, "the universal shingle must trip the cap")
    // capped universe: docs 1,2 share all surviving shingles -> jaccard 1.0;
    // no other doc pair shares anything
    val d2 = TextOps.jaccardPairs(docs, 0.5, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(d2 == Set((1L, 2L, 1.0)), s"capped d2 pairs: $d2")
    val d3 = TextOps.minhashPairs(docs, 0.8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(d3 == Set((1L, 2L, 1.0)), s"capped d3 pairs: $d3")
    // with the cap out of reach the universal shingle is back in the
    // universe: jaccard(1,2) stays 1.0 and still nothing else qualifies
    val uncapped = TextOps.jaccardPairs(docs, 0.5, 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(uncapped == Set((1L, 2L, 1.0)))
  }

  // ---- d11 ---------------------------------------------------------------

  test("d11: sketched corpus stats sit within error bounds of exact values (sf0.01)") {
    val docs = graft.core.Tables.load(spark, sf01, "documents")
    val row = graft.SparkEntry.queries("d11_sketch_stats")(spark, sf01).first()
    val approxVocab = row.getLong(0).toDouble
    val exactVocab = docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok"))).first().getLong(0).toDouble
    assert(math.abs(approxVocab - exactVocab) / exactVocab < 0.05,
      f"HLL (rsd 0.02) vocab $approxVocab%.0f vs exact $exactVocab%.0f")
    val lens = docs.select(length(col("text")).cast("double").as("len"))
      .collect().map(_.getDouble(0)).sorted
    def exactQ(q: Double) = lens(math.min(lens.length - 1, (q * lens.length).toInt))
    for ((q, idx) <- Seq(0.5 -> 2, 0.9 -> 3, 0.99 -> 4)) {
      val approx = row.getInt(idx).toDouble
      val exact = exactQ(q)
      assert(math.abs(approx - exact) / exact < 0.05,
        f"p$q quantile: approx $approx%.0f vs exact $exact%.0f")
    }
  }

  // ---- d48 ---------------------------------------------------------------

  test("d48: per-source HLL sketches union to the one-shot global sketch exactly (sf0.01)") {
    val docs = graft.core.Tables.load(spark, sf01, "documents")
    val toks = docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // HLL register updates are max-merges: folding per-source partials must
    // yield the SAME estimate as one pass over all tokens — the property
    // that makes stored sketch columns re-aggregable at any grain
    val merged = toks.groupBy(col("source"))
      .agg(expr("hll_sketch_agg(tok, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")).first().getLong(0)
    val oneShot = toks.agg(expr("hll_sketch_estimate(hll_sketch_agg(tok, 12))"))
      .first().getLong(0)
    assert(merged === oneShot,
      s"sketch merge must be lossless: merged=$merged one-shot=$oneShot")
    val exact = toks.agg(countDistinct(col("tok"))).first().getLong(0).toDouble
    assert(math.abs(merged - exact) / exact < 0.05,
      f"lgK=12 estimate $merged%d vs exact $exact%.0f outside 5%%")
    // the registry query's global column agrees with the direct computation
    val row = graft.SparkEntry.queries("d48_hll_sketch_union")(spark, sf01).first()
    assert(row.getAs[Long]("est_vocab_global") === merged)
  }

  // ---- d49/d50 -------------------------------------------------------------

  test("d49/d50: corpus vocabulary stays well under the approx_top_k cut (k=100)") {
    // d49/d50's oracle is an UN-truncated GROUP BY while approx_top_k returns
    // at most k=100 items, so the hash equality silently relies on
    // vocab < k — and a NEAR-k vocabulary would make the kept set
    // tie-dependent at the truncation boundary. Pin the assumption here so
    // pointing the gate at a richer corpus fails with this explanation
    // instead of as an opaque driver hash mismatch.
    val docs = graft.core.Tables.load(spark, sf01, "documents")
    val vocab = docs.select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct(col("tok"))).first().getLong(0)
    assert(vocab <= 80,
      s"vocabulary $vocab approaches approx_top_k's k=100 — give d49/d50 a " +
        "truncated oracle with a deterministic tie-break before trusting the gate")
  }

  // ---- DfCap under adversarial skew ----------------------------------------

  test("adversarial skew: the DF cap bounds the near-dup inverted index, measured", graft.Slow) {
    // The classic near-dup scale-killer made concrete: ONE boilerplate
    // shingle in 50% of documents. Uncapped, its bucket explodes into
    // C(1000,2) candidate pairs; capped, the heavy shingle drops from the
    // index (warning diagnostics fire) and the candidate set collapses to
    // the genuine duplicates — turning the DfCap scale argument
    // (TextOps.DfCap) from structural into measured.
    val sp = spark
    import sp.implicits._
    val n = 2000
    val docs = (0 until n).map { i =>
      val common = if (i % 2 == 0) "click here subscribe " else ""
      (i.toLong, common + (0 until 6).map(j => s"u${i}w$j").mkString(" "))
    }.toDF("doc_id", "text")
    // one genuine duplicate pair that must SURVIVE the cap
    val dup = Seq((9000L, "alpha beta gamma delta epsilon zeta"),
      (9001L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = docs.union(dup)
    val cap = 100L
    // diagnostics: exactly the one heavy shingle, with all n/2 postings
    val (nHeavy, postings) = TextOps.heavyShingleStats(corpus, cap)
    assert(nHeavy == 1 && postings == n / 2,
      s"expected 1 heavy shingle with ${n / 2} postings, got ($nHeavy, $postings)")
    // capped index: candidate pairs = the genuine duplicate only
    val capped = TextOps.jaccardPairs(corpus, 0.0, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(capped.toSeq == Seq((9000L, 9001L, 1.0)),
      s"capped candidates must be exactly the real dup: ${capped.toSeq}")
    // uncapped: the heavy bucket alone contributes C(n/2, 2) candidates —
    // the quadratic blowup the cap exists to prevent
    val uncapped = TextOps.jaccardPairs(corpus, 0.0, Long.MaxValue).count()
    val blowup = (n / 2).toLong * (n / 2 - 1) / 2
    assert(uncapped >= blowup,
      s"uncapped candidate count $uncapped should include the $blowup-pair bucket")
  }

  // ---- e2 ----------------------------------------------------------------

  private def recallVsExact(name: String, dir: String): Double = {
    val exact = graft.SparkEntry.queries("e1_ann_bruteforce_topk")(spark, dir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.SparkEntry.queries(name)(spark, dir)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"$name recall@10 = $recall%.3f over ${exact.size} exact pairs")
    recall
  }

  test("e16: binary-Hamming + rerank recall@10 against e1's exact top-10 (sf0.01)", graft.Slow) {
    // 64 sign bits retain coarse direction; the top-50 Hamming shortlist +
    // exact rerank recovers most true neighbors. The floor is set from the
    // measured value with margin — the gate exists to catch packing/distance
    // regressions, not to certify a tuned recall.
    val recall = recallVsExact("e16_ann_binary_hamming", sf01)
    assert(recall >= 0.55, f"binary-ANN recall floor: $recall%.3f < 0.55")
  }

  test("e2: recall@10 >= 0.85 against e1's exact top-10 (sf0.01)", graft.Slow) {
    // the 30x5 banding math claims ~0.9 per-neighbor recall at this corpus's
    // sim range; a floor of 0.85 is tight enough to catch a real regression
    val recall = recallVsExact("e2_ann_lsh_bucketed", sf01)
    assert(recall >= 0.85, f"ANN recall floor: $recall%.3f < 0.85")
  }

  // ---- e4 / e8 IVF recall ------------------------------------------------

  test("e4/e8: IVF recall@10 vs e1 — trained k-means cells beat given labels (sf0.01)", graft.Slow) {
    // Measured on this corpus: e4 (given labels as cells) = 0.28 — barely
    // above the nprobe/k = 2/8 = 0.25 chance level, because the synthetic
    // labels are nearly independent of cosine geometry. e4 is fully
    // deterministic (no trained state), so its floor sits 0.03 under the
    // exact measured value. e8 (k-means cells through the same probe) is
    // measured across THREE Lloyd init seeds below — the floor binds the
    // MINIMUM, so an init-lottery win can't mask a machinery regression and
    // the floor sits within 0.15 of every measurement (r3 verdict ask).
    val e4r = recallVsExact("e4_ann_ivf_probe", sf01)
    assert(e4r >= 0.25, f"e4 probe-machinery floor: $e4r%.3f < 0.25")

    val exact = graft.SparkEntry.queries("e1_ann_bruteforce_topk")(spark, sf01)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e8rs = (0L to 2L).map { seed =>
      val cells = VectorOps.kmeansCellsForTest(spark, sf01, k = 8, iters = 3, initSeed = seed)
      val approx = VectorOps.ivfProbeForTest(cells, nprobe = 2)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val r = (exact intersect approx).size.toDouble / exact.size
      info(f"e8 recall@10 (init seed $seed) = $r%.3f")
      r
    }
    // measured (deterministic per seed, sf0.01): seed 0 = 0.460, seed 1 =
    // 0.630, seed 2 = 0.480 — floor 0.42 sits 0.04 under the worst seed
    // (within the 0.15-of-measured band the r3 verdict asked for), so a real
    // regression in the quantizer or probe machinery trips it while an init
    // re-roll cannot
    val e8min = e8rs.min
    assert(e8min >= 0.42, f"e8 trained-cell floor (min over 3 init seeds): $e8min%.3f < 0.42")
    assert(e8min > e4r,
      f"trained cells must beat geometry-blind labels at EVERY init: e8min $e8min%.3f <= e4 $e4r%.3f")
  }

  test("IVF index lifecycle: persisted cell assignments reload and probe identically", graft.Slow) {
    // The build-once / serve-many contract: train the quantizer, PERSIST
    // the cell-assignment table (the index), reload it cold, and the probe
    // must return byte-identical results — proving the index carries ALL
    // trained state (no hidden in-session dependence) and survives the
    // parquet round trip. This is the index-maintenance story a serving
    // deployment needs: rebuild on a cadence, version the table, reload
    // from storage.
    val tbl = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val cells = VectorOps.kmeansCellsForTest(spark, sf01, k = 8, iters = 3, initSeed = 1L)
    graft.sources.VersionedHiddenTable.overwrite(spark, tbl, cells): Unit
    val reloaded = graft.sources.VersionedHiddenTable.read(spark, tbl)
    val live = VectorOps.ivfProbeForTest(cells, nprobe = 2)
      .collect().map(_.toString).sorted
    val cold = VectorOps.ivfProbeForTest(reloaded, nprobe = 2)
      .collect().map(_.toString).sorted
    assert(live.sameElements(cold),
      "probe over the reloaded index must equal the in-session index")
  }

  test("e10: PQ+ADC recall@10 vs e1, and beats chance (sf0.01)", graft.Slow) {
    // 4x16-dim, 16-centroid codebooks = 128x compression on vectors that
    // spread information uniformly (the PQ-hostile floor case, like e9's
    // truncation measurement). Measured (deterministic): 0.170. The floor
    // guards the machinery within the 0.15-of-measured band: chance level
    // for top-10 of ~2000 candidates is ~0.005, so 0.1 is still two orders
    // above broken-code territory.
    val recall = recallVsExact("e10_ann_pq_adc", sf01)
    assert(recall >= 0.1, f"PQ+ADC machinery floor: $recall%.3f < 0.1")
  }

  test("e11: IVF+PQ+rerank recall@10 vs e1 — rerank must beat raw ADC (sf0.01)", graft.Slow) {
    // the composed serving stack: recall is bounded above by IVF candidate
    // coverage (nprobe=4 of 8 cells) and recovered within it by the exact
    // top-150 rerank. Measured (deterministic): 0.660; floor at
    // measured-minus-margin. Must decisively beat e10's raw-ADC top-10
    // (~0.17) — that margin IS the point of the rerank stage.
    val recall = recallVsExact("e11_ann_ivf_pq_rerank", sf01)
    assert(recall >= 0.55, f"IVF+PQ+rerank floor: $recall%.3f < 0.55")
  }

  test("e9: 16-of-64-dim truncation recall@10 vs full-dimension e1 (sf0.01)") {
    // these synthetic embeddings spread information uniformly across dims, so
    // 16/64 truncation measures the FLOOR of the truncation dial (MRL-trained
    // embeddings front-load and would sit far higher); the gate guards the
    // machinery, the info() line records the measurement
    val recall = recallVsExact("e9_ann_truncated_dims", sf01)
    assert(recall >= 0.15, f"truncation floor: $recall%.3f < 0.15")
  }

  // ---- e7 ----------------------------------------------------------------

  test("e7: int8-quantized ordering keeps recall@10 >= 0.9 vs e1's float-exact top-10 (sf0.01)") {
    // quantization perturbs similarities by ~1/127 per component — near-ties
    // can swap, but the top-10 sets should survive almost unchanged
    val exact = graft.SparkEntry.queries("e1_ann_bruteforce_topk")(spark, sf01)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = graft.SparkEntry.queries("e7_ann_int8_quantized")(spark, sf01)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect quant).size.toDouble / exact.size
    info(f"e7 recall@10 = $recall%.3f over ${exact.size} exact pairs")
    assert(recall >= 0.9, f"int8 quantization recall floor: $recall%.3f < 0.9")
  }

  // ---- e14 ---------------------------------------------------------------

  test("e14: distributed MMR selection == independent greedy replay (sf0.01)", graft.Slow) {
    // The gate for the oracle-less query: collect the SAME shortlist +
    // pair-sim inputs the query consumes, replay the Carbonell-Goldstein
    // greedy argmax in plain Scala (argmax of lambda*rel-(1-lambda)*maxsim,
    // smallest-nid ties), and demand pick-for-pick equality — an
    // independent reimplementation of the recursion, not a re-run.
    val lambda = 0.7
    val (cand, candPairs) = VectorOps.mmrInputs(spark, sf01)
    val rel = cand.select("qid", "nid", "rel").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => r.getLong(1) -> r.getDouble(2)).toMap }
    val psim = candPairs.select("qid", "nid", "mid", "psim").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.map(r => (r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap }
    val expected = rel.flatMap { case (q, rels) =>
      val picked = scala.collection.mutable.ArrayBuffer[Long]()
      (1 to 10).flatMap { rank =>
        val remaining = rels.keySet -- picked
        if (remaining.isEmpty) None
        else {
          val pick = remaining.minBy { n =>
            val ms = if (picked.isEmpty) 0.0
              else picked.map(p => psim(q)((n, p))).max
            (-(lambda * rels(n) - (1 - lambda) * ms), n)
          }
          picked += pick
          Some((q, rank, pick))
        }
      }
    }.toSet
    val got = graft.SparkEntry.queries("e14_mmr_diversified_topk")(spark, sf01)
      .select("qid", "rank", "nid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected, "distributed MMR must equal the greedy replay")
    assert(got.size == 100, s"10 queries x 10 picks expected, got ${got.size}")
    // slate invariant: the rank-1 pick is each query's relevance argmax
    val top1 = rel.map { case (q, rels) =>
      (q, 1, rels.toSeq.minBy { case (n, r) => (-r, n) }._1) }.toSet
    assert(top1.subsetOf(got), "rank-1 must be the pure-relevance argmax")
  }

  test("e14: mmrSelect tolerates a missing shortlist pair (left-join semantics)") {
    // mmrInputs builds the complete nid != mid cross today, but mmrSelect's
    // contract is the OLD left-join one: an absent (candidate, pick) sim
    // leaves that candidate's running max untouched — it must not throw.
    // Here (3, 1) is missing: after pick 1, n3 keeps maxsim "unset" (term
    // 0.0) while n2 is penalized by 0.95, so round 2 picks n3.
    val s = spark; import s.implicits._
    val cand = Seq((1L, 1L, 0.9), (1L, 2L, 0.8), (1L, 3L, 0.7))
      .toDF("qid", "nid", "rel")
    val pairs = Seq(
      (1L, 2L, 1L, 0.95), (1L, 1L, 2L, 0.95),
      (1L, 2L, 3L, 0.10), (1L, 3L, 2L, 0.10),
      (1L, 1L, 3L, 0.20)) // (3, 1) deliberately absent
      .toDF("qid", "nid", "mid", "psim")
    val got = VectorOps.mmrSelect(cand, pairs, k = 3, lambda = 0.7)
      .select("qid", "rank", "nid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1, 1L), (1L, 2, 3L), (1L, 3, 2L)),
      s"missing-pair greedy selection diverged: $got")
  }
}
