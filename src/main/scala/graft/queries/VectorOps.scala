package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GQuery, QueryPack, Tables}

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k (baseline), hyperplane-LSH bucketed ANN (scale
  * path), per-label centroids (IVF building block), and cosine near-dup pairs.
  *
  * All vector math is plain Catalyst expressions (`transform`/`zip_with`/
  * `aggregate`) — no UDFs, stays codegen-friendly. Floats are cast to double
  * once, and dot products fold sequentially so both engines sum in the same
  * order.
  */
object VectorOps extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Cosine over double arrays via the native codegen kernel
    * [[graft.functions.CosineSimilarity]] — a fused one-pass loop instead of
    * interpreted aggregate/zip_with lambdas (same ascending-index fold, so
    * results are bit-identical to the composed form). */
  private def cosine(a: String, b: String): Column = expr(s"graft_cosine($a, $b)")

  private def embDouble(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "embeddings").select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("v"))
  }

  // ---- shared machinery ------------------------------------------------------
  // One definition each for the ranking/centroid/probe building blocks the
  // e-queries compose; per-query copies of these were how a tie-break or
  // fold-order fix could silently fork between oracle-gated twins.

  /** Mean vector per key group over the `v` column: posexplode -> per-(key,
    * dim) mean -> array rebuild in dim order. The one shuffle a centroid
    * genuinely needs; output column is `cv`. */
  private def centroids(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.map(col) :+ posexplode(col("v")).as(Seq("dim", "x")): _*)
      .groupBy((keys :+ "dim").map(col): _*).agg(avg(col("x")).as("c"))
      .groupBy(keys.map(col): _*)
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), p -> p.c)").as("cv"))

  /** Deterministic per-query top-k over a scored frame: rank by (`sim`
    * desc, `nid`) within `qid`, keep `rn <= k`. The ROUNDED sim + unique
    * tie-break is what makes the cut oracle-gateable (memory: ties in
    * argmax need a unique orderer). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Exact cosine top-k: broadcast the (tiny) query side over the candidate
    * frame, score with the fused kernel rounded to 6 digits, rank. Expects
    * (nid, nv, ...) candidates and (qid, qv, ...) queries; `extraFilter`
    * adds a cross-side predicate (e.g. hard-negative label mismatch). */
  private def cosineTopK(cand: DataFrame, q: DataFrame, k: Int,
      extraFilter: Option[Column] = None): DataFrame = {
    val paired = cand.crossJoin(broadcast(q))
      .filter(extraFilter.foldLeft(col("qid") =!= col("nid"))(_ && _))
    rankTopK(paired.withColumn("sim", round(cosine("qv", "nv"), 6)), k)
  }

  /** Per-query top-`nprobe` cells by centroid similarity. The centroid sim
    * is ROUNDED to 6 digits before the rank-cutoff (label tie-break): the
    * Spark kernel folds ascending-index while a SQL oracle's hash aggregate
    * sums unordered, so an unrounded last-ulp difference could flip which
    * CELL gets scanned — a whole-result divergence, unlike a last-rank
    * flip. Output: (qid, qv, label). */
  private def probeCells(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("csim").desc, col("label"))
    q.crossJoin(broadcast(cent))
      .withColumn("csim", round(cosine("qv", "cv"), 6))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("label"))
  }

  // ---- trained-index artifacts ------------------------------------------------
  // The production index lifecycle: train ONCE per corpus, persist, serve
  // many — the same shared-evidence design as TextOps.pairStatsTable. The
  // k-means cell map and the PQ codebooks are deterministic integer-exact
  // state (md5-derived seeds, grid arithmetic), so the persisted artifact is
  // bit-identical to an in-query training run and every consumer stays under
  // the SAME DuckDB oracles that replay training from scratch — result
  // equality against those oracles is a per-gate proof that persist+reload
  // loses nothing. e11 keeps full in-query training as the train+serve
  // composition pin; e5/e8/e10 and the e11s serving face consume the
  // artifacts, which is what a deployment does on every query after the
  // first. Cold build cost is ledgered (Tables.artifactLedger → Bench
  // `artifacts` field), not hidden.

  /** (vec_id, cell) map of the registry-default k-means run (k=8, 3 Lloyd
    * rounds, seed 0), built once per scale dir. */
  private[queries] def kmeansArtifact(s: SparkSession, dir: String): DataFrame = {
    val path = Tables.scratchOnce(dir, "ann_kmeans_k8_i3_s0") { p =>
      kmeansCells(embDouble(s, dir), k = 8, iters = 3)
        .select(col("vec_id"), col("label").cast("int").as("cell"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** The (vec_id, label, v) cells frame served from [[kmeansArtifact]] —
    * a broadcast join of the tiny cell map back onto the vectors, preserving
    * the scan-side row order (so downstream double aggregates fold in the
    * same order as the in-query-training frame they replace). */
  private[queries] def cellsFromArtifact(s: SparkSession, dir: String): DataFrame =
    embDouble(s, dir).join(broadcast(kmeansArtifact(s, dir)), Seq("vec_id"))
      .select(col("vec_id"), col("cell").as("label"), col("v"))

  /** The registry-default PQ codebooks (M=4 × K=16, 2 Lloyd rounds), built
    * once per scale dir; collected sorted by (m, cell) — planning-scale
    * state, M*K rows of PqSub longs. */
  private[queries] def pqBooksArtifact(s: SparkSession, dir: String): Seq[(Int, Int, Seq[Long])] = {
    val path = Tables.scratchOnce(dir, s"ann_pq_m${PqM}_k${PqK}_i2") { p =>
      val sp = s
      import sp.implicits._
      pqTrainAllQ(pqSubspacesQ(embDouble(s, dir)), PqK, iters = 2)
        .toDF("m", "cell", "cv").write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2)))
      .sortBy(t => (t._1, t._2)).toSeq
  }

  /** Base-slice-trained IVF centroids (vec_id % 5 <> 0), persisted once per
    * scale dir — the index state e17's incremental maintenance folds new
    * batches against. Planning-scale: k rows of d longs. */
  private[queries] def baseCentsArtifact(s: SparkSession, dir: String): Seq[(Int, Seq[Long])] = {
    val path = Tables.scratchOnce(dir, "ann_kmeans_base_mod5_k8_i3") { p =>
      val sp = s
      import sp.implicits._
      kmeansCentroidsQ(
        embDouble(s, dir).filter(pmod(col("vec_id"), lit(5)) =!= 0), k = 8, iters = 3)
        .toDF("cell", "cv").write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
  }

  /** Fold-vs-retrain decision for the persisted IVF index (the e17
    * maintenance contract): the folded assignment's recomputed centroids vs
    * the persisted ones, as the max per-cell relative shift. Everything the
    * driver holds is k×(d+1) longs — the same planning-scale discipline as
    * training itself. A deployment retrains when this trips its threshold
    * (IvfMaintainSpec pins both directions); below it, the fold stands and
    * the batch cost stays one map-only assign pass. */
  private[queries] def ivfDriftRatio(folded: DataFrame,
      cents: Seq[(Int, Seq[Long])]): Double = {
    val dims = cents.head._2.length
    val recomputed = recomputeCentsQ(folded, dims).toMap
    cents.map { case (cell, old) =>
      recomputed.get(cell).fold(0.0) { nu =>
        val shift = math.sqrt(old.zip(nu)
          .map { case (a, b) => val d = (a - b).toDouble; d * d }.sum)
        val norm = math.sqrt(old.map(x => x.toDouble * x).sum)
        if (norm == 0) 0.0 else shift / norm
      }
    }.max
  }

  /** e17 fold surface for the spec: the WHOLE corpus assigned to the
    * base-trained centroids (raw assignment columns retained for
    * [[ivfDriftRatio]]). */
  private[queries] def foldedCellsForTest(s: SparkSession, dir: String): DataFrame =
    assignToCellsQ(quantized(embDouble(s, dir)), baseCentsArtifact(s, dir))

  /** Assignment of an arbitrary (vec_id, v) frame to given centroids —
    * the fold primitive, exposed for IvfMaintainSpec's drift legs. */
  private[queries] def assignedForTest(emb: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame =
    assignToCellsQ(quantized(emb), cents)

  /** Multi-seed gate hooks (SimilaritySpec): the e8 pipeline with a chosen
    * Lloyd init seed, split so the spec can measure recall per seed. */
  private[queries] def kmeansCellsForTest(s: SparkSession, dir: String,
      k: Int, iters: Int, initSeed: Long): DataFrame =
    kmeansCells(embDouble(s, dir), k, iters, initSeed)
  private[queries] def ivfProbeForTest(cells: DataFrame, nprobe: Int): DataFrame =
    ivfProbe(cells, nprobe)

  // ---- E1: brute-force cosine top-k (the exactness baseline) --------------------
  private val e1 = GQuery(
    "e1_ann_bruteforce_topk",
    (s, dir) => {
      val emb = embDouble(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val c = emb.select(col("vec_id").as("nid"), col("v").as("nv"))
      // Query side is tiny: broadcast it so the candidate scan never shuffles.
      cosineTopK(c, q, 10)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    },
    Some("""WITH e AS (
           |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
           |q AS (SELECT * FROM e WHERE vec_id < 10),
           |dots AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS nid, sum(q.x * c.x) AS dp
           |  FROM q JOIN e c ON q.i = c.i AND q.vec_id != c.vec_id
           |  GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN norms nq ON qid = nq.vec_id
           |  JOIN norms nc ON nid = nc.vec_id)
           |SELECT qid, nid, sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "Brute-force cosine top-10 per query vector (similarity #1).")

  // ---- E2: hyperplane-LSH bucketed ANN (the scale path; hash-gated) ----------
  // 150 signed hyperplanes -> 30 bands x 5 bits. Band width trades
  // recall vs pruning: this corpus's true top-10 neighbors sit at sim
  // 0.4-0.6 (bit-agreement p = 1 - acos(sim)/pi ~ 0.63-0.70), so per-band
  // hit probability is p^5 ~ 0.10-0.17 and 30 OR-ed bands give per-neighbor
  // recall ~0.9+ (gated by SimilaritySpec's recall@10 >= 0.7 floor against
  // e1's exact top-10 — an ANN operator without a measured recall gate is
  // unverifiable). The band hash is grouped per-band rather than packed into
  // one 64-bit signature, so the plane count is not capped at 64 and
  // widening bands is a constant-change; the (band, bh) shuffle key is what
  // scales the bucket join.
  //
  // The bucketing is EXACTLY replayable in the DuckDB oracle (the e10
  // integer-replay discipline): the ±1 planes derive from md5 — a hash both
  // engines share — instead of a JVM PRNG, and projections run on the
  // power-of-two integer grid, so every sign bit is an exact-integer
  // comparison both engines agree on. Only the final cosine over bucket
  // mates is float math, rounded to 6 digits before the rank cutoff (the
  // e1 discipline).
  private val Planes = 150
  private val BandBits = 5
  private val Dim = 64
  /** plane(p)(d) = +1 iff the top bit of md5("lsh:p:d") is 0 — the same
    * test the oracle spells `substring(md5(...), 1, 1) BETWEEN '0' AND '7'`. */
  private val planeW: Array[Array[Int]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Planes, Dim) { (p, d) =>
      val h = digest.digest(s"lsh:$p:$d".getBytes("UTF-8"))
      if ((h(0) & 0x80) == 0) 1 else -1
    }
  }

  /** (vec_id, band, bh) LSH bucket entries — shared by e2 and its recall
    * test. The plane matrix is a compile-time constant, so the whole
    * signature computation is a MAP-ONLY expression: `transform` over the
    * literal plane array gives all 150 exact-integer projections per row —
    * no explode, no broadcast join, no re-aggregation shuffle. At cluster
    * scale this means signatures cost one narrow pass over the vectors;
    * only the tiny (vec_id, band, bh) triples ever shuffle. */
  private[queries] def lshBands(s: SparkSession, dir: String): DataFrame = {
    val emb = embDouble(s, dir)
    val planesSql = planeW.map(r => r.map(w => s"${w}L").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val bands = Planes / BandBits
    val bhExpr = (0 until BandBits).map(r =>
      s"(CASE WHEN element_at(proj, b * $BandBits + $r + 1) > 0" +
        s" THEN ${1L << r}L ELSE 0L END)").mkString(" + ")
    emb.select(col("vec_id"),
        expr("transform(v, x -> cast(floor(x * 4096.0d + 0.5d) AS BIGINT))").as("qv"))
      .select(col("vec_id"),
        // graft_qmatmul: all 150 projections in one fused primitive loop —
        // the foldable plane matrix unpacks to long[][] once per task
        // instead of paying the higher-order-lambda toll per plane per row
        // (bit-identical: exact long sums, same ascending fold)
        expr(s"graft_qmatmul(qv, $planesSql)").as("proj"))
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> struct(b as band, $bhExpr as bh))"))
        .as("x"))
      .select(col("vec_id"), col("x.band").as("band"), col("x.bh").as("bh"))
  }

  private val e2 = GQuery(
    "e2_ann_lsh_bucketed",
    (s, dir) => {
      val emb = embDouble(s, dir)
      val banded = lshBands(s, dir)
      val q = banded.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("band"), col("bh"))
      val cand = q.join(banded.withColumnRenamed("vec_id", "nid"), Seq("band", "bh"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid")).distinct()
      val withV = cand
        .join(emb.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
        .join(emb.select(col("vec_id").as("nid"), col("v").as("nv")), Seq("nid"))
        .withColumn("sim", round(cosine("qv", "nv"), 6))
      rankTopK(withV, 10)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    },
    Some(s"""WITH qv AS (
           |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS d,
           |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 4096.0 + 0.5) AS BIGINT) AS q
           |  FROM embeddings),
           |planes AS (
           |  SELECT p, d, CASE WHEN substring(md5('lsh:' || p || ':' || d), 1, 1)
           |                    BETWEEN '0' AND '7' THEN 1 ELSE -1 END AS w
           |  FROM generate_series(0, ${Planes - 1}) t1(p),
           |       generate_series(0, ${Dim - 1}) t2(d)),
           |proj AS (
           |  SELECT qv.vec_id, pl.p, sum(qv.q * pl.w) AS pr
           |  FROM qv JOIN planes pl ON pl.d = qv.d GROUP BY 1, 2),
           |bands AS (
           |  SELECT vec_id, p // $BandBits AS band,
           |    sum(CASE WHEN pr > 0 THEN 1::BIGINT << (p % $BandBits) ELSE 0 END) AS bh
           |  FROM proj GROUP BY 1, 2),
           |cand AS (
           |  SELECT DISTINCT b1.vec_id AS qid, b2.vec_id AS nid
           |  FROM bands b1 JOIN bands b2 ON b1.band = b2.band AND b1.bh = b2.bh
           |  WHERE b1.vec_id < 10 AND b1.vec_id <> b2.vec_id),
           |e AS (
           |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
           |dots AS (
           |  SELECT cand.qid, cand.nid, sum(a.x * b.x) AS dp
           |  FROM cand
           |  JOIN e a ON a.vec_id = cand.qid
           |  JOIN e b ON b.vec_id = cand.nid AND b.i = a.i
           |  GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN norms nq ON qid = nq.vec_id
           |  JOIN norms nc ON nid = nc.vec_id)
           |SELECT qid, nid, sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "Sign-LSH bucketed ANN (30 bands x 5 bits, md5-derived planes, integer-grid signatures replayed in the oracle); scores only bucket mates (similarity #2).")

  // ---- E3: per-label centroids (IVF coarse quantizer building block) --------------
  private val e3 = GQuery(
    "e3_label_centroids",
    (s, dir) =>
      embDouble(s, dir)
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(round(avg(col("x")), 6).as("centroid"), count(lit(1)).as("n")),
    Some("""SELECT label, dim, round(avg(x), 6) AS centroid, count(*) AS n FROM (
           |  SELECT label, unnest(embedding::DOUBLE[]) AS x,
           |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim
           |  FROM embeddings) sub
           |GROUP BY label, dim""".stripMargin),
    doc = "Per-cluster mean vectors — IVF coarse centroids (similarity #3).")

  // ---- E4: IVF probe search — coarse quantize to centroids, scan 2 cells -------------
  // The label column is the (pre-assigned) coarse cluster; centroids are the
  // per-label means (e3). Queries score all centroids (tiny), pick nprobe=2
  // cells, and scan only those cells' vectors — the classic IVF recall/cost
  // trade, expressed as joins the optimizer can distribute.
  /** IVF probe over any (vec_id, label, v) frame where `label` is the coarse
    * cell: rank per-cell mean centroids per query (tiny, broadcast), scan the
    * top-`nprobe` cells' members, exact-score within. Shared by e4 (given
    * labels as cells) and e8 (k-means cells) — the coarse quantizer is
    * pluggable, the probe machinery identical. */
  private[queries] def ivfProbe(emb: DataFrame, nprobe: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probes = probeCells(q, centroids(emb, Seq("label")), nprobe)
    val cand = broadcast(probes)
      .join(emb.select(col("vec_id").as("nid"), col("label"), col("v").as("nv")), Seq("label"))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", round(cosine("qv", "nv"), 6))
    rankTopK(cand, 10)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  private val e4 = GQuery(
    "e4_ann_ivf_probe",
    (s, dir) => ivfProbe(embDouble(s, dir), nprobe = 2),
    Some("""WITH e AS (
           |  SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |cent AS (SELECT label, i, avg(x) AS cx FROM e GROUP BY 1, 2),
           |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
           |cnorm AS (SELECT label, sqrt(sum(cx * cx)) AS cn FROM cent GROUP BY 1),
           |q AS (SELECT * FROM e WHERE vec_id < 10),
           |qc AS (
           |  SELECT q.vec_id AS qid, c.label, sum(q.x * c.cx) AS dp
           |  FROM q JOIN cent c ON q.i = c.i GROUP BY 1, 2),
           |probe AS (
           |  SELECT qid, label FROM (
           |    SELECT qid, qc.label, row_number() OVER (
           |      PARTITION BY qid
           |      ORDER BY round(dp / (nq.nrm * cn.cn), 6) DESC, qc.label) AS rn
           |    FROM qc JOIN norms nq ON qid = nq.vec_id JOIN cnorm cn ON qc.label = cn.label) z
           |  WHERE rn <= 2),
           |cand AS (
           |  SELECT p.qid, e.vec_id AS nid, e.i, e.x
           |  FROM probe p JOIN e ON e.label = p.label AND e.vec_id != p.qid),
           |dots AS (
           |  SELECT c.qid, c.nid, sum(q.x * c.x) AS dp
           |  FROM cand c JOIN e q ON q.vec_id = c.qid AND q.i = c.i GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots JOIN norms nq ON qid = nq.vec_id JOIN norms nc ON nid = nc.vec_id)
           |SELECT qid, nid, sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "IVF: rank centroids, probe 2 cells, exact-score within cells (similarity #4).")

  // ---- E5: k-means coarse quantizer ---------------------------------------------
  // Lloyd's k-means in cosine geometry via DRIVER-COLLECTED centroids (the
  // MLlib pattern): each round collects k cells x d dims of doubles —
  // planning-scale metadata, NOT a data-path collect — and the assign step
  // becomes a MAP-ONLY argmax over that literal centroid matrix. Per round:
  //   assign:    one narrow codegen'd pass — transform over the literal
  //              centroids with the fused graft_cosine kernel, array_max
  //              picks (best sim, lowest cell). No n x k join fan-out, no
  //              per-vector window, no shuffle at all.
  //   recompute: posexplode + per-(cell, dim) mean + array rebuild (the one
  //              shuffle a round genuinely needs), then collect.
  // Collecting the centroids each round also truncates the logical plan —
  // round r+1 references only literals, so iters=10+ cannot nest plans the
  // way the former dataflow-only loop did (no localCheckpoint needed).
  // Data-adaptive cells replace the given labels as the coarse quantizer for
  // the IVF/ball-pruning operators (e4/e8/d9 accept any cell column) —
  // tighter radii mean more pruning.

  /** Map-only nearest-centroid assign against a collected INTEGER-GRID
    * centroid matrix, in cosine geometry: csim = dot / (|qv| * |c|) where
    * the dot and both squared norms are exact integers and the two sqrts,
    * the multiply and the divide are single correctly-rounded IEEE ops — so
    * the double is BIT-IDENTICAL in any engine and the argmax (highest sim,
    * then lowest cell; array_max is lexicographic on (sim, -cell)) replays
    * exactly. Expects the quantized frame from [[quantized]]. */
  private def assignToCellsQ(q: DataFrame, cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val centLit = typedLit(cents.map { case (c, v) => (c, v, v.map(x => x * x).sum) })
    val scored = transform(centLit, c => struct(
      (call_function("graft_qdot", col("qv"), c.getField("_2")).cast("double")
        / (sqrt(col("qn2").cast("double")) * sqrt(c.getField("_3").cast("double")))).as("s"),
      (-c.getField("_1")).as("nc")))
    q.withColumn("_pick", array_max(scored))
      .select(col("vec_id"), (-col("_pick.nc")).cast("int").as("cell"),
        col("v"), col("qv"), col("qn2"))
  }

  /** emb plus its integer-grid shadow (the e10 quantization: power-of-two
    * scale is exact, floor(+0.5) is the cross-engine round-half-up). */
  private def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("v"),
        expr("transform(v, x -> cast(floor(x * 4096.0d + 0.5d) AS BIGINT))").as("qv"))
      .withColumn("qn2", expr("graft_qnorm2(qv)"))

  /** (vec_id, label, v) -> (vec_id, label := cell id, v). `initSeed` shifts
    * which k vectors seed Lloyd's rounds (0 = the registry default) — the
    * multi-seed recall gate in SimilaritySpec measures how sensitive the
    * trained cells are to initialization.
    *
    * Training state is integer-exact end to end (the e10 replay
    * discipline): vectors quantize to the 4096 grid, assignment compares
    * bit-identical csim doubles built from exact integer dots/norms, and
    * recomputed centroids round back to the grid via one correctly-rounded
    * division + floor(+0.5) per dim. Seeds order by md5 (a hash both
    * engines share — xxhash64 is Spark-only), keeping their vec_id as the
    * cell id. The whole loop therefore replays in a DuckDB oracle, which
    * puts the e5/e8 compositions under the driver hash gate. */
  private[queries] def kmeansCells(emb: DataFrame, k: Int, iters: Int,
      initSeed: Long = 0L): DataFrame =
    assignToCellsQ(quantized(emb), kmeansCentroidsQ(emb, k, iters, initSeed))
      .select(col("vec_id"), col("cell").as("label"), col("v"))

  /** WIDTH-WISE centroid recompute: one groupBy(cell) with d per-dim long
    * sums instead of posexplode + two shuffles. Map-side partials are
    * k×(d+1) longs — at corpus scale this never shuffles d× the data the
    * explode form did. Long sums are exact and order-insensitive, and the
    * per-dim floor(sum/n + 0.5) runs the SAME correctly-rounded op chain
    * (long→double exact below 2^53, one divide, floor) driver-side, so
    * collected centroids are bit-identical to the explode form's. */
  private def recomputeCentsQ(assigned: DataFrame, dims: Int): Seq[(Int, Seq[Long])] = {
    val sums = (0 until dims).map(i => sum(element_at(col("qv"), i + 1)).as(s"s$i"))
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .collect().map { r =>
        val n = r.getLong(1)
        (r.getInt(0),
          (0 until dims).map(i => math.floor(r.getLong(2 + i).toDouble / n + 0.5d).toLong))
      }.toSeq
  }

  /** The final Lloyd centroids on the integer grid — the PERSISTABLE
    * training state ([[kmeansCells]] is this plus one assignment pass;
    * the e17 maintenance folds new batches against these without
    * retraining). Dimensionality comes from the collected seeds (any
    * vector width — the spec fixtures run 8-dim corpora). */
  private[queries] def kmeansCentroidsQ(emb: DataFrame, k: Int, iters: Int,
      initSeed: Long = 0L): Seq[(Int, Seq[Long])] = {
    // r14 (guide §1.2/§5): every Lloyd round's collect re-scanned parquet
    // and re-ran the 64-dim quantize transform; the grid frame is
    // loop-invariant, so cache it for the seeds collect + `iters` round
    // collects and release it before returning (all uses are the bounded
    // driver collects inside this function — self-contained lifecycle).
    val q = quantized(emb).persist()
    var cents = q
      .orderBy(md5((col("vec_id") + initSeed).cast("string")), col("vec_id")).limit(k)
      .select(col("vec_id").cast("int").as("cell"), col("qv"))
      .collect().map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq
    val vdims = cents.head._2.length
    (0 until iters).foreach { _ =>
      cents = recomputeCentsQ(assignToCellsQ(q, cents), vdims)
    }
    q.unpersist()
    cents
  }

  /** DuckDB CTE chain replaying [[kmeansCells]] (k=8, iters=3, seed 0)
    * exactly — integer-grid vectors, md5-ordered seeds, three unrolled
    * assign/recompute rounds — ending in `lab(vec_id, cell)`, plus the
    * double-precision long form `qv(vec_id, i, x, q)` and norms `vn` the
    * e5/e8 faces score with. Shared so the two oracles can never drift. */
  private def kmeansOracleCtes: String = kmeansOracleCtesOver()

  /** `trainWhere` restricts the TRAINING corpus (seeds + Lloyd rounds) to a
    * slice of `embeddings` while the final `lab` assignment still covers the
    * whole table — exactly the e17 maintenance fold: assign everything to
    * centroids trained on the base slice. Empty = train on everything (the
    * e5/e8 replay). */
  private def kmeansOracleCtesOver(trainWhere: String = ""): String = {
    val tv = if (trainWhere.isEmpty) "qv" else "qtrain"
    def cnorm(c: String, out: String) =
      s"$out AS (SELECT cell, sum(c * c) AS cn2 FROM $c GROUP BY 1)"
    def assign(vecs: String, cents: String, cn: String, out: String) =
      s"""$out AS (SELECT vec_id, cell FROM (
         |  SELECT qv.vec_id, c.cell,
         |    row_number() OVER (PARTITION BY qv.vec_id ORDER BY
         |      CAST(sum(qv.q * c.c) AS DOUBLE) /
         |        (sqrt(CAST(max(qn.qn2) AS DOUBLE)) * sqrt(CAST(max(n.cn2) AS DOUBLE))) DESC,
         |      c.cell) AS arn
         |  FROM $vecs qv JOIN $cents c ON c.i = qv.i
         |  JOIN qn ON qn.vec_id = qv.vec_id
         |  JOIN $cn n ON n.cell = c.cell
         |  GROUP BY qv.vec_id, c.cell) WHERE arn = 1)""".stripMargin
    def recompute(a: String, out: String) =
      s"""$out AS (
         |  SELECT a.cell, qv.i,
         |    CAST(floor(CAST(sum(qv.q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
         |  FROM $a a JOIN qv ON qv.vec_id = a.vec_id GROUP BY 1, 2)""".stripMargin
    val rounds = (1 to 3).map(r =>
      Seq(assign(tv, s"kc${r - 1}", s"kn${r - 1}", s"ka$r"),
        recompute(s"ka$r", s"kc$r"), cnorm(s"kc$r", s"kn$r")).mkString(",\n"))
    (Seq(
      """qv AS (
        |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS x,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 4096.0 + 0.5) AS BIGINT) AS q
        |  FROM embeddings)""".stripMargin) ++
      (if (trainWhere.isEmpty) Nil
       else Seq(s"qtrain AS (SELECT * FROM qv WHERE $trainWhere)")) ++ Seq(
      "qn AS (SELECT vec_id, sum(q * q) AS qn2 FROM qv GROUP BY 1)",
      "vn AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM qv GROUP BY 1)",
      s"""seeds AS (
         |  SELECT CAST(vec_id AS INT) AS cell, vec_id
         |  FROM (SELECT DISTINCT vec_id FROM embeddings
         |        ${if (trainWhere.isEmpty) "" else s"WHERE $trainWhere"}
         |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8))""".stripMargin,
      s"kc0 AS (SELECT s.cell, qv.i, qv.q AS c FROM $tv qv JOIN seeds s USING (vec_id))",
      cnorm("kc0", "kn0")) ++ rounds :+
      assign("qv", "kc3", "kn3", "lab")).mkString(",\n")
  }

  /** Per-cell double-precision centroids of the final labels + their norms
    * (the scoring side of e5/e8, not the training state). */
  private val kmeansCentroidCtes: String =
    """cvd AS (SELECT l.cell, qv.i, avg(qv.x) AS cx
      |        FROM lab l JOIN qv ON qv.vec_id = l.vec_id GROUP BY 1, 2),
      |cvn AS (SELECT cell, sqrt(sum(cx * cx)) AS cn FROM cvd GROUP BY 1)""".stripMargin

  private val e5 = GQuery(
    "e5_kmeans_cells",
    (s, dir) => {
      // cells from the persisted index artifact (train-once lifecycle);
      // the oracle still replays training from scratch, so the hash gate
      // proves artifact == fresh-train every run
      val cells = cellsFromArtifact(s, dir)
      // centroid frame directly — cellMeta's angular radii (an extra
      // corpus-wide acos pass) are the ball-prune machinery, not needed here
      cells.join(broadcast(centroids(cells, Seq("label"))), Seq("label"))
        .groupBy(col("label").as("cell"))
        .agg(count(lit(1)).as("n"),
          round(avg(cosine("v", "cv")), 6).as("mean_sim_to_centroid"))
    },
    Some(s"""WITH $kmeansOracleCtes,
           |$kmeansCentroidCtes,
           |simr AS (
           |  SELECT l.vec_id, l.cell,
           |    sum(qv.x * cvd.cx) / (max(vn.nrm) * max(cvn.cn)) AS sim
           |  FROM lab l
           |  JOIN qv ON qv.vec_id = l.vec_id
           |  JOIN cvd ON cvd.cell = l.cell AND cvd.i = qv.i
           |  JOIN vn ON vn.vec_id = l.vec_id
           |  JOIN cvn ON cvn.cell = l.cell
           |  GROUP BY 1, 2)
           |SELECT cell, count(*) AS n, round(avg(sim), 6) AS mean_sim_to_centroid
           |FROM simr GROUP BY cell""".stripMargin),
    doc = "k-means coarse quantizer (k=8, 3 Lloyd rounds on the integer grid, training replayed exactly in the oracle) + cell cohesion stats (similarity #5).")

  // ---- E8: the composed IVF stack — probe over k-means cells ---------------
  // e4 proves the probe machinery over GIVEN labels; e5 proves the k-means
  // coarse quantizer; e8 is the composition a real deployment runs: train
  // data-adaptive cells, then IVF-probe them. No oracle (cells are
  // k-means-derived, not expressible in DuckDB); the gate is a measured
  // recall@10 >= floor vs e1's exact top-10 in SimilaritySpec, same posture
  // as e2. At corpus scale this is THE serving path: map-only assigns,
  // broadcast centroid ranking, per-cell scans.
  private val e8 = GQuery(
    "e8_ann_ivf_kmeans",
    // cells from the persisted index artifact; oracle replays training
    (s, dir) => ivfProbe(cellsFromArtifact(s, dir), nprobe = 2),
    Some(s"""WITH $kmeansOracleCtes,
           |$kmeansCentroidCtes,
           |qq AS (SELECT * FROM qv WHERE vec_id < 10),
           |qc AS (
           |  SELECT q.vec_id AS qid, c.cell,
           |    round(sum(q.x * c.cx) / (max(vn.nrm) * max(cn.cn)), 6) AS csim
           |  FROM qq q
           |  JOIN cvd c ON c.i = q.i
           |  JOIN vn ON vn.vec_id = q.vec_id
           |  JOIN cvn cn ON cn.cell = c.cell
           |  GROUP BY 1, 2),
           |probes AS (SELECT qid, cell FROM (
           |  SELECT qid, cell,
           |    row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cell) AS prn
           |  FROM qc) WHERE prn <= 2),
           |cand AS (
           |  SELECT p.qid, l.vec_id AS nid
           |  FROM probes p JOIN lab l ON l.cell = p.cell
           |  WHERE l.vec_id <> p.qid),
           |dots AS (
           |  SELECT cand.qid, cand.nid, sum(a.x * b.x) AS dp
           |  FROM cand
           |  JOIN qv a ON a.vec_id = cand.qid
           |  JOIN qv b ON b.vec_id = cand.nid AND b.i = a.i
           |  GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN vn nq ON qid = nq.vec_id
           |  JOIN vn nc ON nid = nc.vec_id)
           |SELECT qid, nid, sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "IVF probe over trained k-means cells (training replayed exactly in the oracle) — the composed coarse-quantizer stack (similarity #8).")

  // ---- E10: product quantization + ADC scoring ------------------------------
  // The memory-compression quadrant of the serving stack (e4/e8 cover cell
  // pruning, e7 scalar quantization, e9 dimension truncation): each vector
  // compresses to M=4 one-byte codes (one per 16-dim subspace, K=16-centroid
  // L2-trained codebooks — 4 bytes/vector vs 512), and queries score
  // candidates via Asymmetric Distance Computation — per (query, subspace,
  // centroid) partial dots computed ONCE (a 10 x 4 x 16 = 640-row broadcast
  // table), then each candidate's approximate cosine is the sum of 4 table
  // lookups through a hash join + hash aggregate. |x| is approximated by the
  // reconstruction norm sqrt(sum |c_m|^2). No exact re-rank on purpose: the
  // measured recall@10 vs e1 (SimilaritySpec, floor + info line) is the
  // honest cost of 128x compression on these uniform synthetic vectors.
  //
  // Both PQ faces (e10 raw ADC, e11's IVF-pruned ADC + rerank) train on the
  // integer grid, so codebook training replays in their DuckDB oracles and
  // both sit under the driver hash gate alongside the measured recall
  // floors.

  private val PqM = 4
  private val PqSub = 16
  private val PqK = 16

  // The e10 pipeline is INTEGER-EXACT end to end so the whole composition —
  // codebook training included — replays in the DuckDB oracle and sits under
  // the driver hash gate (the d40/g1 unrolled-replay discipline, applied to
  // an ANN composite):
  //   - inputs quantize to a power-of-two grid (float * 4096 is an exponent
  //     shift — EXACT — and floor(x + 0.5) is the cross-engine-safe
  //     round-half-up);
  //   - Lloyd assignment is an argmin of exact integer L2 with a cell
  //     tie-break; centroids round back to the grid via ONE correctly-
  //     rounded IEEE division + floor(+0.5) per dim, so every round's state
  //     is integers both engines agree on bit-for-bit;
  //   - seeding orders by md5(vec_id) — a hash both engines share (xxhash64
  //     is Spark-only);
  //   - ADC partial dots and norms are exact BIGINTs (all < 2^53, so even a
  //     HUGEINT->DOUBLE cast is exact); the final score is three correctly-
  //     rounded ops (two sqrts, one multiply, one divide) on identical
  //     inputs, ranked with a unique nid tie-break BEFORE the 6-digit
  //     display rounding.
  private val PqGrid = 4096.0

  /** (vec_id, m, q): every vector quantized to the integer grid and exploded
    * into its M subspace slices. */
  private def pqSubspacesQ(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        expr(s"transform(v, x -> cast(floor(x * $PqGrid + 0.5d) AS BIGINT))").as("qfull"))
      .select(col("vec_id"), explode(array((0 until PqM).map(m =>
        struct(lit(m).as("m"),
          expr(s"slice(qfull, ${m * PqSub + 1}, $PqSub)").as("q"))): _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.q").as("q"))

  /** Map-only nearest-centroid assign, exact integer L2; ties go to the
    * lowest cell (array_min on (d, cell) is lexicographic). */
  private def pqAssignAllQ(subAll: DataFrame,
      cents: Seq[(Int, Int, Seq[Long])]): DataFrame = {
    val byM = cents.groupBy(_._1).map { case (m, cs) =>
      m -> cs.map { case (_, c, v) => (c, v) }.toSeq
    }
    val centMap = typedLit(byM)
    val scored = transform(element_at(centMap, col("m")), c => struct(
      call_function("graft_ql2", col("q"), c.getField("_2")).as("d"),
      c.getField("_1").as("cell")))
    subAll.withColumn("_pick", array_min(scored))
      .select(col("vec_id"), col("m"), col("_pick.cell").as("cell"), col("q"))
  }

  /** Integer-grid Lloyd rounds for all M codebooks in one dataflow (the e5
    * driver-collected pattern; collected state is M*K centroids of PqSub
    * longs — planning-scale). Seeds are the k md5-lowest vec_ids (cells
    * 0..k-1 in that order); empty cells drop out of the next round on both
    * engines identically. */
  private def pqTrainAllQ(subAll: DataFrame, k: Int, iters: Int): Seq[(Int, Int, Seq[Long])] = {
    // k-bounded driver collect, same class as e5's centroid collects.
    // r14: ONE TakeOrdered collect replaces the old distinct+limit collect
    // plus a second join-back collect — every vector contributes exactly
    // PqM subspace rows sharing its (md5, vec_id) sort key, so the
    // k*PqM-row prefix of the totally-ordered stream IS the k seed vectors
    // with all their slices; cell ids are assigned in encounter (= md5)
    // order, identical to the old zipWithIndex.
    val seedRows = subAll
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k * PqM)
      .select(col("vec_id"), col("m"), col("q"))
      .collect()
    val cellOf = scala.collection.mutable.LinkedHashMap[Long, Int]()
    seedRows.foreach(r => cellOf.getOrElseUpdate(r.getLong(0), cellOf.size))
    var cents: Seq[(Int, Int, Seq[Long])] = seedRows.toSeq.map(r =>
      (r.getInt(1), cellOf(r.getLong(0)), r.getSeq[Long](2)))
    // width-wise recompute, same argument as kmeansCells.recomputeQ: one
    // groupBy(m, cell) with PqSub exact long sums replaces posexplode plus
    // a second shuffle; the per-dim floor(sum/n + 0.5) chain is identical
    val subSums = (0 until PqSub).map(i => sum(element_at(col("q"), i + 1)).as(s"s$i"))
    (0 until iters).foreach { _ =>
      cents = pqAssignAllQ(subAll, cents)
        .groupBy(col("m"), col("cell"))
        .agg(count(lit(1)).as("n"), subSums: _*)
        .collect().map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getInt(1),
            (0 until PqSub).map(i => math.floor(r.getLong(3 + i).toDouble / n + 0.5d).toLong): Seq[Long])
        }.toSeq
    }
    cents
  }

  /** PQ-replay CTE builders, parameterized by the subspace frame name
    * (`sub` must expose (vec_id, m, i, q)) so e10 (its own `qv`) and e11
    * (an `sv` view derived from the k-means chain's `qv`) share them. */
  private def pqOracleAssign(sub: String, cents: String, out: String): String =
    s"""$out AS (SELECT vec_id, m, cell FROM (
       |  SELECT $sub.vec_id, $sub.m, c.cell,
       |    row_number() OVER (PARTITION BY $sub.vec_id, $sub.m
       |      ORDER BY sum(($sub.q - c.c) * ($sub.q - c.c)), c.cell) AS arn
       |  FROM $sub JOIN $cents c ON c.m = $sub.m AND c.i = $sub.i
       |  GROUP BY $sub.vec_id, $sub.m, c.cell) WHERE arn = 1)""".stripMargin

  private def pqOracleRecompute(sub: String, assign: String, out: String): String =
    s"""$out AS (
       |  SELECT a.m, a.cell, $sub.i,
       |    CAST(floor(CAST(sum($sub.q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS c
       |  FROM $assign a JOIN $sub ON $sub.vec_id = a.vec_id AND $sub.m = a.m
       |  GROUP BY a.m, a.cell, $sub.i)""".stripMargin

  /** The unrolled PQ training chain over subspace frame `sub` with
    * CTE-name prefix `p`: seeds (md5-lowest vec_ids as cells 0..k-1),
    * two Lloyd rounds, final codes in `${p}codes`, centroid norms in
    * `${p}cn` (from `${p}c2`). */
  private def pqOracleChain(sub: String, p: String): String = Seq(
    s"""${p}s AS (
       |  SELECT vec_id,
       |    CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cell
       |  FROM (SELECT DISTINCT vec_id FROM embeddings
       |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $PqK))""".stripMargin,
    s"${p}c0 AS (SELECT s.cell, $sub.m, $sub.i, $sub.q AS c FROM $sub JOIN ${p}s s USING (vec_id))",
    pqOracleAssign(sub, s"${p}c0", s"${p}a1"),
    pqOracleRecompute(sub, s"${p}a1", s"${p}c1"),
    pqOracleAssign(sub, s"${p}c1", s"${p}a2"),
    pqOracleRecompute(sub, s"${p}a2", s"${p}c2"),
    pqOracleAssign(sub, s"${p}c2", s"${p}codes"),
    s"${p}cn AS (SELECT m, cell, sum(c * c) AS cn2 FROM ${p}c2 GROUP BY 1, 2)"
  ).mkString(",\n")

  private val e10 = GQuery(
    "e10_ann_pq_adc",
    (s, dir) => {
      val emb = embDouble(s, dir)
      val subAll = pqSubspacesQ(emb)
      // codebooks from the persisted index artifact (train-once lifecycle);
      // the oracle still replays PQ training from scratch
      val books = pqBooksArtifact(s, dir)
      val codes = pqAssignAllQ(subAll, books)
        .select(col("vec_id").as("nid"), col("m"), col("cell"))
      import s.implicits._
      val centDf = books.toDF("m", "cell", "cv")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          expr(s"transform(v, x -> cast(floor(x * $PqGrid + 0.5d) AS BIGINT))").as("qv"))
        .withColumn("qn2", expr("graft_qnorm2(qv)"))
      // ADC tables: per (qid, m, cell) partial dot + centroid norm piece —
      // exact BIGINTs, a 10 x 4 x 16 = 640-row broadcast
      val cdots = q.crossJoin(broadcast(centDf))
        .select(col("qid"), col("m"), col("cell"),
          expr(s"graft_qdot(slice(qv, m * $PqSub + 1, $PqSub), cv)").as("pdot"),
          expr("graft_qnorm2(cv)").as("cn2"),
          col("qn2"))
      val scored = codes.join(broadcast(cdots), Seq("m", "cell"))
        .filter(col("qid") =!= col("nid"))
        .groupBy(col("qid"), col("nid"))
        .agg((sum(col("pdot")).cast("double")
          / (sqrt(max(col("qn2")).cast("double"))
            * sqrt(sum(col("cn2")).cast("double")))).as("sim_approx"))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim_approx").desc, col("nid"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(col("qid"), col("nid"),
          round(col("sim_approx"), 6).as("sim_approx"), col("rn"))
    },
    Some(s"""WITH raw AS (
           |  SELECT vec_id, unnest(embedding) AS x,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |qv AS (
           |  SELECT vec_id, (pos - 1) // $PqSub AS m, (pos - 1) % $PqSub AS i,
           |    CAST(floor(CAST(x AS DOUBLE) * $PqGrid + 0.5) AS BIGINT) AS q
           |  FROM raw),
           |${pqOracleChain("qv", "pq")},
           |qn AS (SELECT vec_id AS qid, sum(q * q) AS qn2
           |       FROM qv WHERE vec_id < 10 GROUP BY 1),
           |cd AS (SELECT qv.vec_id AS qid, c.m, c.cell, sum(qv.q * c.c) AS pdot
           |       FROM qv JOIN pqc2 c ON c.m = qv.m AND c.i = qv.i
           |       WHERE qv.vec_id < 10 GROUP BY 1, 2, 3),
           |sc AS (
           |  SELECT cd.qid, k.vec_id AS nid,
           |    CAST(sum(cd.pdot) AS DOUBLE) /
           |      (sqrt(CAST(max(qn.qn2) AS DOUBLE)) * sqrt(CAST(sum(cn.cn2) AS DOUBLE))) AS sim
           |  FROM pqcodes k
           |  JOIN cd ON cd.m = k.m AND cd.cell = k.cell
           |  JOIN qn ON qn.qid = cd.qid
           |  JOIN pqcn cn ON cn.m = k.m AND cn.cell = k.cell
           |  WHERE cd.qid <> k.vec_id
           |  GROUP BY 1, 2)
           |SELECT qid, nid, round(sim, 6) AS sim_approx, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sc) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "Product quantization (4x16-dim, 16-centroid integer-grid codebooks) + ADC top-10, training replayed exactly in the oracle (similarity #10).")

  // ---- E11: the full serving stack — IVF prune + PQ ADC + exact rerank ------
  // The composition a production vector store actually runs (FAISS's
  // IVF-PQ,re-rank): the trained coarse quantizer prunes to nprobe cells
  // (e5/e8 machinery), PQ ADC scores ONLY the surviving candidates from
  // 4-byte codes (e10 machinery), and the top `rerankDepth` ADC candidates
  // get ONE exact full-vector pass. Each stage cuts what the next touches:
  // at corpus scale, exact scoring reads ~rerankDepth rows per query instead
  // of the corpus, and the memory-resident structure is codes (4 B/vector),
  // not vectors (512 B). Recall is gated vs e1 in SimilaritySpec — the
  // rerank recovers most of what raw ADC top-10 (e10's honest 128x-
  // compression floor) gives up.
  /** The composed IVF+PQ+rerank oracle — shared verbatim by e11 (in-query
    * training) and e11s (persisted-index serving): both faces must produce
    * the same rows, which is the per-gate proof that the persisted index
    * equals a fresh training run. */
  private lazy val e11OracleSql: String =
    s"""WITH $kmeansOracleCtes,
           |$kmeansCentroidCtes,
           |qq AS (SELECT * FROM qv WHERE vec_id < 10),
           |qc AS (
           |  SELECT q.vec_id AS qid, c.cell,
           |    round(sum(q.x * c.cx) / (max(vn.nrm) * max(cn.cn)), 6) AS csim
           |  FROM qq q
           |  JOIN cvd c ON c.i = q.i
           |  JOIN vn ON vn.vec_id = q.vec_id
           |  JOIN cvn cn ON cn.cell = c.cell
           |  GROUP BY 1, 2),
           |probes AS (SELECT qid, cell FROM (
           |  SELECT qid, cell,
           |    row_number() OVER (PARTITION BY qid ORDER BY csim DESC, cell) AS prn
           |  FROM qc) WHERE prn <= 4),
           |ivfcand AS (
           |  SELECT p.qid, l.vec_id AS nid
           |  FROM probes p JOIN lab l ON l.cell = p.cell
           |  WHERE l.vec_id <> p.qid),
           |sv AS MATERIALIZED (SELECT vec_id, i // $PqSub AS m, i % $PqSub AS i, q FROM qv),
           |${pqOracleChain("sv", "pq")},
           |pd AS (SELECT sv.vec_id AS qid, c.m, c.cell, sum(sv.q * c.c) AS pdot
           |       FROM sv JOIN pqc2 c ON c.m = sv.m AND c.i = sv.i
           |       WHERE sv.vec_id < 10 GROUP BY 1, 2, 3),
           |adc AS (
           |  SELECT iv.qid, k.vec_id AS nid,
           |    CAST(sum(pd.pdot) AS DOUBLE) / sqrt(CAST(sum(cn.cn2) AS DOUBLE)) AS adc_score
           |  FROM ivfcand iv
           |  JOIN pqcodes k ON k.vec_id = iv.nid
           |  JOIN pd ON pd.qid = iv.qid AND pd.m = k.m AND pd.cell = k.cell
           |  JOIN pqcn cn ON cn.m = k.m AND cn.cell = k.cell
           |  GROUP BY 1, 2),
           |shortlist AS (SELECT qid, nid FROM (
           |  SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY adc_score DESC, nid) AS arn
           |  FROM adc) WHERE arn <= 150),
           |dots AS (
           |  SELECT s.qid, s.nid, sum(a.x * b.x) AS dp
           |  FROM shortlist s
           |  JOIN qv a ON a.vec_id = s.qid
           |  JOIN qv b ON b.vec_id = s.nid AND b.i = a.i
           |  GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN vn nq ON qid = nq.vec_id
           |  JOIN vn nc ON nid = nc.vec_id)
           |SELECT qid, nid, sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) sub
           |WHERE rn <= 10""".stripMargin

  private val e11 = GQuery(
    "e11_ann_ivf_pq_rerank",
    (s, dir) => {
      import s.implicits._
      val emb = embDouble(s, dir)
      val nprobe = 4
      val rerankDepth = 150
      // The two training stages are INDEPENDENT (coarse quantizer reads full
      // vectors, PQ codebooks read subspace slices) — train them on
      // CONCURRENT driver threads, the standard Spark idiom for independent
      // job chains (each round's collect is a separate job; running the two
      // chains side by side overlaps their per-round latency on an
      // otherwise-idle scheduler). Results are collected driver state, so
      // interleaving cannot change either training outcome.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      // r14 (guide §1.2/§5): cache the subspace slices — the PQ seeds
      // collect, both Lloyd round collects AND the later corpus encode
      // (`codes`) all fold the same exploded frame; uncached, each of those
      // four jobs re-ran the scan + slice explode. Released by the bench's
      // per-query clearCache (the minhashPairs lifecycle).
      val cellsF = Future { kmeansCells(emb, k = 8, iters = 3) }
      val subAll = pqSubspacesQ(emb).persist()
      val booksF = Future { pqTrainAllQ(subAll, PqK, iters = 2) }
      // cut the trained cell assignment once: probes (centroid ranking) and
      // cand (cell membership) both reference it — uncut, the corpus-wide
      // assign subtree executed twice in the serving plan (§2.4)
      val cells = graft.core.Lineage.cut(Await.result(cellsF, Duration.Inf))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val probes = probeCells(q, centroids(cells, Seq("label")), nprobe)
        .select(col("qid"), col("label"))
      val cand = broadcast(probes)
        .join(cells.select(col("vec_id").as("nid"), col("label")), Seq("label"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"))
      // PQ: integer-grid codebooks + 4-byte codes over the corpus (one
      // exploded-subspace pass trains all M codebooks — the e10 machinery,
      // so the training replays exactly in the oracle), ADC tables per query
      val books = Await.result(booksF, Duration.Inf)
      val codes = pqAssignAllQ(subAll, books)
        .select(col("vec_id").as("nid"), col("m"), col("cell"))
      val centDf = books.toDF("m", "cell", "cv")
      val qq = q.select(col("qid"),
        expr(s"transform(qv, x -> cast(floor(x * $PqGrid + 0.5d) AS BIGINT))").as("qiv"))
      val cdots = qq.crossJoin(broadcast(centDf))
        .select(col("qid"), col("m"), col("cell"),
          expr(s"graft_qdot(slice(qiv, m * $PqSub + 1, $PqSub), cv)").as("pdot"),
          expr("graft_qnorm2(cv)").as("cn2"))
      // ADC over IVF survivors only (exact-integer partial dots; the
      // query-norm factor is constant per qid and drops out of the rank),
      // keep rerankDepth per query
      val adc = cand.join(codes, Seq("nid"))
        .join(broadcast(cdots), Seq("qid", "m", "cell"))
        .groupBy(col("qid"), col("nid"))
        .agg((sum(col("pdot")).cast("double")
          / sqrt(sum(col("cn2")).cast("double"))).as("adc_score"))
      val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc_score").desc, col("nid"))
      val shortlist = adc.withColumn("arn", row_number().over(wAdc))
        .filter(col("arn") <= rerankDepth)
        .select(col("qid"), col("nid"))
      // exact rerank: one full-vector pass over <= rerankDepth rows/query
      rankTopK(shortlist
          .join(emb.select(col("vec_id").as("nid"), col("v").as("nv")), Seq("nid"))
          .join(broadcast(q), Seq("qid"))
          .withColumn("sim", round(cosine("qv", "nv"), 6)), 10)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    },
    Some(e11OracleSql),
    doc = "IVF prune + PQ ADC shortlist + exact top-150 rerank, every training stage replayed exactly in the oracle — the composed serving stack (similarity #11).")

  // ---- E11s: the probe-only SERVING face of e11 ----------------------------
  // e11 pins the train+serve composition (everything in one query); e11s is
  // what the deployment runs on every query after the first: coarse cell
  // map, PQ codebooks AND the corpus PQ codes all come from persisted index
  // artifacts — the only per-request work is centroid ranking for nprobe
  // cells, ADC over survivors from 4-byte codes, and the exact top-150
  // rerank. Same oracle as e11 (which replays training from scratch), so
  // the hash gate proves persist+reload loses nothing, and the bench
  // separates train cost (e11) from serve cost (e11s).

  /** (vec_id, m, cell) PQ codes of the whole corpus under the registry
    * codebooks — the 4-byte-per-vector index payload, built once per scale
    * dir (encode is one map-only pass over the subspace slices). */
  private[queries] def pqCodesArtifact(s: SparkSession, dir: String): DataFrame = {
    val path = Tables.scratchOnce(dir, s"ann_pqcodes_m${PqM}_k${PqK}_i2") { p =>
      pqAssignAllQ(pqSubspacesQ(embDouble(s, dir)), pqBooksArtifact(s, dir))
        .select(col("vec_id"), col("m"), col("cell"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  /** (label, cv) double-precision per-cell centroids of the registry cells —
    * the probe-ranking side of the IVF index. Persisted from the SAME frame
    * e8/e11 compute live (parquet round-trips doubles exactly), so probe
    * ranking over the artifact is bit-identical to ranking over a fresh
    * recompute. */
  private[queries] def cellCentroidsArtifact(s: SparkSession, dir: String): DataFrame = {
    val path = Tables.scratchOnce(dir, "ann_kmeans_centroids_k8_i3_s0") { p =>
      centroids(cellsFromArtifact(s, dir), Seq("label"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(path)
  }

  private val e11s = GQuery(
    "e11s_ann_serving",
    (s, dir) => {
      import s.implicits._
      val emb = embDouble(s, dir)
      val nprobe = 4
      val rerankDepth = 150
      val cells = cellsFromArtifact(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val probes = probeCells(q, cellCentroidsArtifact(s, dir), nprobe)
        .select(col("qid"), col("label"))
      val cand = broadcast(probes)
        .join(cells.select(col("vec_id").as("nid"), col("label")), Seq("label"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"))
      val books = pqBooksArtifact(s, dir)
      val codes = pqCodesArtifact(s, dir)
        .select(col("vec_id").as("nid"), col("m"), col("cell"))
      val centDf = books.toDF("m", "cell", "cv")
      val qq = q.select(col("qid"),
        expr(s"transform(qv, x -> cast(floor(x * $PqGrid + 0.5d) AS BIGINT))").as("qiv"))
      val cdots = qq.crossJoin(broadcast(centDf))
        .select(col("qid"), col("m"), col("cell"),
          expr(s"graft_qdot(slice(qiv, m * $PqSub + 1, $PqSub), cv)").as("pdot"),
          expr("graft_qnorm2(cv)").as("cn2"))
      val adc = cand.join(codes, Seq("nid"))
        .join(broadcast(cdots), Seq("qid", "m", "cell"))
        .groupBy(col("qid"), col("nid"))
        .agg((sum(col("pdot")).cast("double")
          / sqrt(sum(col("cn2")).cast("double"))).as("adc_score"))
      val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc_score").desc, col("nid"))
      val shortlist = adc.withColumn("arn", row_number().over(wAdc))
        .filter(col("arn") <= rerankDepth)
        .select(col("qid"), col("nid"))
      rankTopK(shortlist
          .join(emb.select(col("vec_id").as("nid"), col("v").as("nv")), Seq("nid"))
          .join(broadcast(q), Seq("qid"))
          .withColumn("sim", round(cosine("qv", "nv"), 6)), 10)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    },
    Some(e11OracleSql),
    doc = "Probe-only IVF+PQ+rerank serving over persisted index artifacts (cell map, codebooks, codes) — e11's per-request face; same oracle as e11 proves persist+reload is lossless (similarity #11, serving).")

  // ---- E9: truncated-dimension ANN (Matryoshka-style prefix search) ---------
  // Score on only the first 16 of 64 dims: 4x less arithmetic and candidate
  // memory per comparison — the dimension-truncation dial (MRL-trained
  // embeddings front-load information exactly so this works; on these
  // synthetic vectors it measures the floor). Map-only slice + the same
  // exact top-k machinery as e1; DuckDB oracle truncates by subscript, so
  // the whole reduced-cost path is hash-checked, and SimilaritySpec gates
  // its recall against the full-dimension e1 top-10.
  private val e9 = GQuery(
    "e9_ann_truncated_dims",
    (s, dir) => {
      val emb = embDouble(s, dir).withColumn("v16", expr("slice(v, 1, 16)"))
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v16").as("qv"))
      val c = emb.select(col("vec_id").as("nid"), col("v16").as("nv"))
      cosineTopK(c, q, 10)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    },
    Some("""WITH e AS (
           |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |e16 AS (SELECT * FROM e WHERE i <= 16),
           |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e16 GROUP BY vec_id),
           |q AS (SELECT * FROM e16 WHERE vec_id < 10),
           |dots AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS nid, sum(q.x * c.x) AS dp
           |  FROM q JOIN e16 c ON q.i = c.i AND q.vec_id != c.vec_id
           |  GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN norms nq ON qid = nq.vec_id
           |  JOIN norms nc ON nid = nc.vec_id)
           |SELECT qid, nid, sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "Prefix-dimension (16/64) exact top-10: the truncation cost/recall dial (ANN #9).")

  // ---- D9: embedding-cosine near-dup pairs ------------------------------------------
  // Exact threshold join WITHOUT an all-pairs nested loop. Candidates come
  // from metric ball pruning over coarse cells (the label column is the
  // assigned cell, exactly as e4 treats it): per-cell centroid + angular
  // radius, and vector a probes cell c only if
  //   angle(a, centroid_c) <= acos(threshold) + radius_c
  // — the spherical triangle inequality, so no qualifying pair can be
  // missed. Surviving (vector, cell) probes then EQUI-join the cell's
  // members (hash/merge join partitioned by cell — no BroadcastNestedLoop,
  // asserted in PlanShapeSpec) and candidates are exact-verified with the
  // fused graft_cosine kernel, so the output is bit-identical to the
  // all-pairs form.
  //
  // Why not LSH candidates here: at threshold 0.4 (acos ~ 66deg) the
  // bit-agreement probability is 0.63 vs 0.50 for random pairs — LSH
  // exponent rho ~ ln(0.63)/ln(0.5) ~ 0.66 — so any banding with
  // near-recall-1 admits nearly all pairs; exact low-threshold similarity
  // joins are worst-case Omega(n^2) (cf. Bayardo et al., WWW'07 "Scaling Up
  // All Pairs Similarity Search"). Ball pruning makes clustered corpora
  // sub-quadratic (far cell pairs never score — SimilaritySpec proves the
  // prune fires) and degrades to a partitioned, spillable blocked all-pairs
  // on adversarially uniform data, never a nested-loop or driver-side plan.
  // At 100 TB the cells would be k-means coarse cells (~10^4), giving both
  // finer pruning and an un-skewed join key; the approximate-recall LSH
  // path for high thresholds is d3/e2.
  private val D9Threshold = 0.4

  /** acos error near +-1 amplifies ~1e-15 cosine noise to ~1e-7 radians;
    * the bound check carries this slack so fp never prunes a true pair. */
  private val AngleSlack = 1e-6

  private def clampedAngle(v: String, c: String): Column =
    acos(least(lit(1.0), greatest(lit(-1.0), cosine(v, c))))

  /** Per-cell centroid vector + angular radius (max member angle). */
  private[queries] def cellMeta(emb: DataFrame): DataFrame = {
    val cent = centroids(emb, Seq("label"))
    emb.join(broadcast(cent), Seq("label"))
      .withColumn("ang", clampedAngle("v", "cv"))
      .groupBy(col("label")).agg(max(col("ang")).as("rad"))
      .join(broadcast(cent), Seq("label"))
  }

  /** Ball-bound-surviving (vector -> cell) probes, canonically routed (a
    * vector only probes cells >= its own) so each cross-cell pair
    * materializes once. The K-row cell table attaches via a constant-key
    * broadcast HASH join (not a nested loop). */
  private[queries] def cellProbes(emb: DataFrame, threshold: Double): DataFrame = {
    // constant-key broadcast HASH join to fan each vector out over the K-row
    // cell table; BOTH key sides must be non-foldable (pmod of a real
    // column) — a literal key gets inlined into a one-sided predicate,
    // leaving no equi keys, and the join degenerates to a nested loop
    val meta = cellMeta(emb)
      .select(col("label").as("cell"), col("cv"), col("rad"),
        pmod(col("label"), lit(1)).cast("int").as("k"))
    // The verify filter downstream admits pairs with round(sim, 6) >=
    // threshold, i.e. TRUE sim down to threshold - 5e-7 — so the prune
    // bound must open the ball to acos(threshold - 5e-7), not
    // acos(threshold): at high thresholds the rounding margin's angular
    // width 5e-7/sin(acos t) exceeds any fixed fp slack (1.15e-6 rad at
    // t = 0.9), and a fixed-slack bound would drop qualifying pairs.
    // AngleSlack then covers only what it was sized for: fp noise in the
    // cosine/acos evaluation itself.
    val admitted = math.max(-1.0, threshold - 5e-7)
    emb.withColumn("k", pmod(col("vec_id"), lit(1)).cast("int"))
      .join(broadcast(meta), Seq("k"))
      .filter(col("cell") >= col("label"))
      .filter(clampedAngle("v", "cv") <=
        lit(math.acos(admitted) + AngleSlack) + col("rad"))
      .select(col("vec_id").as("vec_a"), col("label").as("cell_a"),
        col("v").as("va"), col("cell"))
  }

  /** Exact cosine >= threshold pair join over (vec_id, label, v).
    *
    * r13 (guide §1.2 per-task work): each side's norm is computed ONCE per
    * vector before the pair join instead of inside the fused kernel per
    * PAIR — the fused graft_cosine runs three accumulators (dot, |a|²,
    * |b|²) over every candidate, so on the ~n²/ball candidate stream 2/3
    * of the FLOPs re-derived norms already known at vector granularity.
    * Bit-exactness is preserved by construction: graft_dot(v, v) is the
    * same ascending-index fold the kernel's norm accumulator runs, and
    * `dot / (sqrt(na) * sqrt(nb))` is the kernel's exact operation chain
    * (CosineSimilarity.doGenCode), so every admitted sim is IEEE-identical
    * to the fused form the oracle gate was proven against. */
  private[queries] def cosineNearDupPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val members = emb.select(col("vec_id").as("vec_b"), col("label").as("cell"),
      col("v").as("vb"))
      .withColumn("nb", sqrt(expr("graft_dot(vb, vb)")))
    cellProbes(emb, threshold)
      .withColumn("na", sqrt(expr("graft_dot(va, va)")))
      .join(members, Seq("cell"))
      .filter(col("cell_a") < col("cell") ||
        (col("cell_a") === col("cell") && col("vec_a") < col("vec_b")))
      .withColumn("sim", round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("sim"))
  }

  /** DuckDB CTE chain ending in `flt(vec_a, vec_b, sim)`: exact all-pairs
    * cosine >= 0.4 with vec_a < vec_b — the oracle twin of
    * [[cosineNearDupPairs]], shared by d9 and e6. */
  private val pairSqlCtes: String =
    """e AS (
      |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings),
      |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, sum(a.x * b.x) AS dp
      |  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |flt AS (
      |  SELECT vec_a, vec_b, round(dp / (na.nrm * nb.nrm), 6) AS sim
      |  FROM dots
      |  JOIN norms na ON vec_a = na.vec_id
      |  JOIN norms nb ON vec_b = nb.vec_id
      |  WHERE round(dp / (na.nrm * nb.nrm), 6) >= 0.4)""".stripMargin

  private val d9 = GQuery(
    "d9_dedup_embedding_cosine",
    (s, dir) => cosineNearDupPairs(embDouble(s, dir), D9Threshold),
    Some(s"""WITH $pairSqlCtes
            |SELECT vec_a, vec_b, sim FROM flt""".stripMargin),
    doc = "Embedding-cosine near-dup pairs via cell ball-pruning + exact verify, sim >= 0.4 (dedup #5).")

  // ---- E6: radius-bounded exact k-NN graph -----------------------------------------
  // Each vector's top-3 neighbors among pairs with cosine >= 0.4 — the
  // standard scalable k-NN-graph construction (radius-bound first, then
  // rank): the edge set comes from the same cell-ball-pruned exact pair
  // join as d9 (never all-pairs), symmetrized, and ranked by a
  // PER-VECTOR window (bounded state). A floor-free exact top-k would
  // need adaptive per-vector radii; the bounded-radius graph is what
  // NN-Descent-style refinements start from.
  private val e6 = GQuery(
    "e6_knn_graph",
    (s, dir) => {
      // r14 (guide §2.4): the symmetrize union references the pair table
      // twice, and the static plan embeds the WHOLE ball-pruned pair join
      // once per branch — cut the (output-scale) pair set so the join runs
      // once. Measured ~35% off e6 solo warm.
      val pairs = graft.core.Lineage.cut(
        cosineNearDupPairs(embDouble(s, dir), D9Threshold))
      val sym = pairs
        .select(col("vec_a").as("vec_id"), col("vec_b").as("neighbor"), col("sim"))
        .union(pairs
          .select(col("vec_b").as("vec_id"), col("vec_a").as("neighbor"), col("sim")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("neighbor"))
      sym.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("vec_id"), col("rank").cast("long").as("rank"),
          col("neighbor"), col("sim"))
    },
    Some(s"""WITH $pairSqlCtes,
            |sym AS (
            |  SELECT vec_a AS vec_id, vec_b AS neighbor, sim FROM flt
            |  UNION ALL
            |  SELECT vec_b, vec_a, sim FROM flt)
            |SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor, sim FROM (
            |  SELECT vec_id, neighbor, sim,
            |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor) AS rank
            |  FROM sym) t
            |WHERE rank <= 3""".stripMargin),
    doc = "Exact radius-bounded k-NN graph: top-3 neighbors per vector at sim >= 0.4 (ANN #6).")

  // ---- E7: int8 scalar quantization (memory-footprint scale path) ----------
  // At 10^9+ vectors the float corpus dominates cluster memory; per-vector
  // symmetric int8 quantization (scale = max|x|/127) cuts the candidate-side
  // footprint 4x while keeping cosine ordering nearly intact. The quantized
  // dot/norms are INTEGER sums — order-insensitive, so unlike float fold
  // order this operator is trivially bit-exact against the oracle. Recall of
  // the quantized ordering vs e1's exact top-10 is gated in SimilaritySpec.
  // Quantization is DEFINED as floor(x/s + 0.5), not round(x/s): floor is a
  // correctly-rounded IEEE op both engines compute identically, while the
  // engines cut exact .5 double ties differently (the memory-documented
  // round() trap) — an x that is a dyadic fraction of max|x| would desync
  // the codes under round().
  private val e7 = GQuery(
    "e7_ann_int8_quantized",
    (s, dir) => {
      val emb = embDouble(s, dir)
        .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / lit(127.0))
        .withColumn("q", transform(col("v"),
          x => floor(x / col("scale") + lit(0.5)).cast("long")))
        .withColumn("n2", call_function("graft_qnorm2", col("q")))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("q").as("qq"), col("n2").as("qn2"))
      val c = emb.select(col("vec_id").as("nid"), col("q").as("nq"), col("n2").as("nn2"))
      val sims = c.crossJoin(broadcast(qs))
        .filter(col("qid") =!= col("nid"))
        .withColumn("dp", call_function("graft_qdot", col("qq"), col("nq")))
        .withColumn("sim", round(col("dp").cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("nn2").cast("double"))), 6))
      val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    },
    Some("""WITH e AS (
           |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |sc AS (SELECT vec_id, max(abs(x)) / 127 AS s FROM e GROUP BY vec_id),
           |qz AS (SELECT e.vec_id, i, CAST(floor(x / s + 0.5) AS BIGINT) AS q
           |       FROM e JOIN sc USING (vec_id)),
           |nrm AS (SELECT vec_id, sum(q * q) AS n2 FROM qz GROUP BY vec_id),
           |qs AS (SELECT * FROM qz WHERE vec_id < 10),
           |dots AS (
           |  SELECT qs.vec_id AS qid, c.vec_id AS nid, sum(qs.q * c.q) AS dp
           |  FROM qs JOIN qz c ON qs.i = c.i AND qs.vec_id != c.vec_id
           |  GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid,
           |    round(CAST(dp AS DOUBLE) / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))), 6) AS sim
           |  FROM dots
           |  JOIN nrm a ON qid = a.vec_id
           |  JOIN nrm b ON nid = b.vec_id)
           |SELECT qid, nid, sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "Int8 scalar-quantized cosine top-10: 4x memory cut, integer-exact compare (ANN #7).")

  // ---- E12: attribute-filtered similarity search ---------------------------
  // The "filtered vector search" serving shape: top-k neighbors AMONG
  // candidates matching a metadata predicate (here: a label class). The
  // filter applies BEFORE scoring — a pre-filter, pushed into the candidate
  // scan — so the distance kernel touches only qualifying vectors. The
  // post-filter alternative (score everything, filter, hope k survive) both
  // over-scans and under-returns when the predicate is selective; at
  // corpus scale, pre-filtering composes with the IVF route (probe cells,
  // then filter within) while keeping exactness here as the oracle-checked
  // baseline.
  private val e12 = GQuery(
    "e12_ann_filtered",
    (s, dir) => {
      val emb = embDouble(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      // metadata pre-filter on the candidate side only — pushed to the scan
      val c = emb.filter(col("label") % 2 === 0)
        .select(col("vec_id").as("nid"), col("v").as("nv"))
      cosineTopK(c, q, 10)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    },
    Some("""WITH e AS (
           |  SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
           |q AS (SELECT * FROM e WHERE vec_id < 10),
           |c AS (SELECT * FROM e WHERE label % 2 = 0),
           |dots AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS nid, sum(q.x * c.x) AS dp
           |  FROM q JOIN c ON q.i = c.i AND q.vec_id != c.vec_id
           |  GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN norms nq ON qid = nq.vec_id
           |  JOIN norms nc ON nid = nc.vec_id)
           |SELECT qid, nid, sim, rn FROM (
           |  SELECT qid, nid, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "Filtered vector search: metadata pre-filter, then exact cosine top-10 (serving shape).")

  // ---- E13: hard-negative mining -------------------------------------------
  // The contrastive-training data shape: for each query, the top-k most
  // similar vectors of a DIFFERENT class — maximally confusing negatives.
  // Unlike e12's static pre-filter, the predicate here is cross-side
  // (candidate label != query label), so it can only apply after the
  // attach — but the attach is the same broadcast of the tiny probe side,
  // and the filter runs before the (dominant) scoring kernel. At corpus
  // scale this rides the IVF route exactly like e12: probe cells, drop
  // same-label candidates, score survivors.
  private val e13 = GQuery(
    "e13_hard_negatives",
    (s, dir) => {
      val emb = embDouble(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
      val c = emb.select(col("vec_id").as("nid"), col("label").as("nlabel"),
        col("v").as("nv"))
      cosineTopK(c, q, 10, extraFilter = Some(col("nlabel") =!= col("qlabel")))
        .select(col("qid"), col("nid"), col("nlabel"), col("sim"), col("rn"))
    },
    Some("""WITH e AS (
           |  SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
           |lab AS (SELECT DISTINCT vec_id, label FROM embeddings),
           |q AS (SELECT * FROM e WHERE vec_id < 10),
           |dots AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS nid, sum(q.x * c.x) AS dp
           |  FROM q JOIN e c ON q.i = c.i AND q.label != c.label
           |  GROUP BY 1, 2),
           |sims AS (
           |  SELECT qid, nid, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN norms nq ON qid = nq.vec_id
           |  JOIN norms nc ON nid = nc.vec_id)
           |SELECT qid, nid, nlabel, sim, rn FROM (
           |  SELECT qid, nid, l.label AS nlabel, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims JOIN lab l ON nid = l.vec_id) sub
           |WHERE rn <= 10""".stripMargin),
    doc = "Hard-negative mining: top-10 most similar wrong-class vectors per query (contrastive data).")

  // ---- D39: semantic dedup (SemDeDup-style greedy near-dup drop) -------------
  // The embedding-space dedup POLICY on top of d9's machinery: at a stricter
  // threshold (0.6), drop every vector that has a smaller-id near-dup
  // partner; the survivor set is what a SemDeDup pass keeps (Abbas et al.
  // 2023 dedup within k-means clusters — here the exact ball-pruned pair
  // join finds ALL qualifying pairs, so cluster-boundary misses don't
  // exist). Greedy-by-id is deterministic and one anti-join; per-label
  // output carries n_kept plus a kept-id checksum so the oracle hash pins
  // exact survivor MEMBERSHIP, not just counts. Scale shape: pair join is
  // d9's (sub-quadratic on clustered data), then one distinct + anti-join.
  private val d39 = GQuery(
    "d39_semantic_dedup",
    (s, dir) => {
      val emb = embDouble(s, dir)
      val dropped = cosineNearDupPairs(emb, 0.6)
        .select(col("vec_b").as("vec_id")).distinct()
      val kept = emb.join(dropped, Seq("vec_id"), "left_anti")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("kept_id_sum"))
      emb.groupBy(col("label")).agg(count(lit(1)).as("n_total"))
        .join(kept, Seq("label"), "left")
        .select(col("label"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
    },
    Some(s"""WITH $pairSqlCtes,
            |dropped AS (
            |  SELECT DISTINCT vec_b AS vec_id FROM flt WHERE sim >= 0.6),
            |kept AS (
            |  SELECT label, count(*) AS n_kept,
            |    CAST(sum(vec_id) AS BIGINT) AS kept_id_sum
            |  FROM embeddings
            |  WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
            |  GROUP BY label)
            |SELECT t.label, t.n_total,
            |  coalesce(k.n_kept, 0) AS n_kept,
            |  coalesce(k.kept_id_sum, 0) AS kept_id_sum
            |FROM (SELECT label, count(*) AS n_total FROM embeddings GROUP BY label) t
            |LEFT JOIN kept k ON t.label = k.label""".stripMargin),
    doc = "Semantic dedup: greedy smaller-id-wins drop over exact near-dup pairs at 0.6 (dedup policy #3).")

  /** MMR (maximal marginal relevance) greedy re-ranking over a bounded
    * shortlist: pick argmax of lambda*rel - (1-lambda)*max_sim_to_picked,
    * k rounds, ties by smallest nid. State is (queries x shortlist) rows —
    * bounded by the SHORTLIST size, never the corpus — and each round is
    * one per-query window argmax + one broadcast pick-join, so the loop
    * costs k small stages regardless of data scale. Deterministic: total
    * tie order + synchronous rounds (SimilaritySpec replays the greedy
    * selection independently and asserts identical picks). */
  private[queries] def mmrSelect(cand: DataFrame, candPairs: DataFrame,
      k: Int, lambda: Double): DataFrame = {
    // cand: (qid, nid, rel, v); candPairs: (qid, nid, mid, psim)
    //
    // r13 (guide §8 "decide with small rows"): the greedy selection runs
    // MAP-SIDE, one pass per query. The previous form iterated k
    // distributed rounds — each an eager localCheckpoint, a per-round
    // broadcast build and a pair join, ~2k cluster jobs for a decision
    // over a SHORTLIST-BOUNDED block (q × 30 rel values + q × 30² pair
    // sims, a few KB per query by construction — the reason the loop was
    // affordable at all is the same reason it never needed to be
    // distributed). Grouping each query's block into one row and folding
    // the greedy argmax in compiled Scala does the identical selection in
    // one stage. Arithmetic is preserved operation for operation:
    // lambda * rel - (1 - lambda) * maxsim with the same Scala-computed
    // (1 - lambda) double, maxsim as an incremental max fold (== the old
    // `greatest` chain; no NaNs exist here), ties on exact mmr equality
    // broken by smallest nid — the exact ordering SimilaritySpec's
    // independent replay pins, and the DuckDB oracle replays the same
    // rounds, so the hash gate re-proves equality end to end.
    val sp = cand.sparkSession
    import sp.implicits._
    val candG = cand.groupBy(col("qid"))
      .agg(collect_list(struct(col("nid").as("_1"), col("rel").as("_2"))).as("cs"))
    val pairG = candPairs.groupBy(col("qid"))
      .agg(collect_list(struct(col("nid").as("_1"), col("mid").as("_2"),
        col("psim").as("_3"))).as("ps"))
    candG.join(pairG, Seq("qid"), "left")
      .select(col("qid").as("_1"), col("cs").as("_2"),
        coalesce(col("ps"),
          expr("cast(array() AS array<struct<_1:bigint,_2:bigint,_3:double>>)"))
          .as("_3"))
      .as[(Long, Seq[(Long, Double)], Seq[(Long, Long, Double)])]
      .flatMap { case (qid, cs, ps) =>
        val psim = ps.map { case (n, m, s) => (n, m) -> s }.toMap
        val picked = scala.collection.mutable.ArrayBuffer[Long]()
        // absent key = no picked-pair sim yet (the NULL state of the old
        // fold): the empty-set diversity term is 0.0 in the score, but the
        // running max starts from the first REAL sim — seeding with 0.0
        // would clip negative cosines
        val maxsim = scala.collection.mutable.HashMap[Long, Double]()
        val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Double)]()
        var r = 1
        while (r <= k && picked.size < cs.size) {
          val remaining = cs.filterNot(c => picked.contains(c._1))
          val pick = remaining.minBy { case (n, rv) =>
            (-(lambda * rv - (1 - lambda) * maxsim.getOrElse(n, 0.0)), n)
          }
          picked += pick._1
          out += ((qid, r, pick._1, pick._2))
          remaining.foreach { case (n, _) =>
            // .get, not apply: the old left-join form tolerated an absent
            // shortlist pair (greatest skips nulls) — a missing (n, pick)
            // sim leaves n's running max untouched instead of crashing.
            // mmrInputs builds the complete nid != mid cross today, so this
            // is behavior-identical for every current caller.
            if (n != pick._1) psim.get((n, pick._1)).foreach { s =>
              maxsim(n) = maxsim.get(n).fold(s)(math.max(_, s))
            }
          }
          r += 1
        }
        out
      }
      .toDF("qid", "rank", "nid", "rel")
      .select(col("qid"), col("rank"), col("nid"), round(col("rel"), 6).as("rel"))
  }

  // ---- E14: MMR-diversified top-k (serving-side diversification) -------------
  // The retrieval-serving step after ANN: from each query's INTEGER-GRID
  // cosine top-30 shortlist (rel/psim over the 4096-grid quantized shadow —
  // exact-REPLAYABLE arithmetic, not exact cosine; near-ties can cut the
  // shortlist differently than true cosine would), select 10 by maximal
  // marginal relevance (lambda=0.7) so
  // near-duplicate candidates don't crowd the slate — the standard
  // Carbonell-Goldstein re-ranker LLM retrieval stacks run on every
  // request. Shortlist build is e1's machinery; candidate-pair sims are a
  // per-query 30x30 block (shortlist-bounded, never corpus-bounded). No
  // SQL oracle — the greedy argmax recursion isn't ANSI-expressible — the
  // gate is SimilaritySpec's independent driver-side replay of the exact
  // selection plus slate-invariant checks.
  /** The e14 oracle unrolls the ten greedy selection rounds as CTEs: each
    * round recomputes maxsim(candidate) = max pair-sim to the picks so far
    * (equal to the query's incremental `greatest` fold), anti-joins the
    * picked set out, and takes the per-query argmax with the nid tie-break.
    * Every compared double is bit-identical to the engine's
    * ([[exactCos]] + literal arithmetic `0.7 * rel - (1 - 0.7) * maxsim`,
    * where `(1 - 0.7)` reproduces the Scala-side `1 - lambda` double), so
    * the sequential selection replays exactly. */
  private def e14OracleSql: String = {
    val rounds = (1 to 10).map { r =>
      if (r == 1)
        """p1 AS (SELECT qid, nid AS pnid FROM (
          |  SELECT qid, nid, row_number() OVER (PARTITION BY qid
          |    ORDER BY 0.7 * rel - (1 - 0.7) * 0.0 DESC, nid) AS prn
          |  FROM cand) WHERE prn = 1),
          |pall1 AS MATERIALIZED (SELECT qid, pnid, 1 AS rank FROM p1)""".stripMargin
      else
        s"""ms$r AS (SELECT c.qid, c.nid, max(cp.psim) AS maxsim
           |  FROM cand c
           |  JOIN pall${r - 1} p ON p.qid = c.qid
           |  JOIN cp ON cp.qid = c.qid AND cp.nid = c.nid AND cp.mid = p.pnid
           |  GROUP BY 1, 2),
           |p$r AS (SELECT qid, nid AS pnid FROM (
           |  SELECT c.qid, c.nid, row_number() OVER (PARTITION BY c.qid
           |    ORDER BY 0.7 * c.rel - (1 - 0.7) * coalesce(ms$r.maxsim, 0.0) DESC, c.nid) AS prn
           |  FROM cand c
           |  LEFT JOIN ms$r ON ms$r.qid = c.qid AND ms$r.nid = c.nid
           |  ANTI JOIN pall${r - 1} pp ON pp.qid = c.qid AND pp.pnid = c.nid) WHERE prn = 1),
           |pall$r AS MATERIALIZED (SELECT * FROM pall${r - 1}
           |  UNION ALL SELECT qid, pnid, $r AS rank FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH qv AS MATERIALIZED (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
       |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 4096.0 + 0.5) AS BIGINT) AS q
       |  FROM embeddings),
       |qn AS MATERIALIZED (SELECT vec_id, sum(q * q) AS qn2 FROM qv GROUP BY 1),
       |dq AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.q * b.q) AS d
       |  FROM qv a JOIN qv b ON b.i = a.i AND b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 10 GROUP BY 1, 2),
       |rel0 AS (
       |  SELECT qid, nid,
       |    CAST(d AS DOUBLE) /
       |      (sqrt(CAST(na.qn2 AS DOUBLE)) * sqrt(CAST(nb.qn2 AS DOUBLE))) AS rel
       |  FROM dq JOIN qn na ON na.vec_id = qid JOIN qn nb ON nb.vec_id = nid),
       |cand AS MATERIALIZED (SELECT qid, nid, rel FROM (
       |  SELECT qid, nid, rel,
       |    row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS srn
       |  FROM rel0) WHERE srn <= 30),
       |cpd AS (
       |  SELECT a.qid, a.nid, b.nid AS mid, sum(x.q * y.q) AS d
       |  FROM cand a
       |  JOIN cand b ON b.qid = a.qid AND b.nid <> a.nid
       |  JOIN qv x ON x.vec_id = a.nid
       |  JOIN qv y ON y.vec_id = b.nid AND y.i = x.i
       |  GROUP BY 1, 2, 3),
       |cp AS MATERIALIZED (
       |  SELECT qid, nid, mid,
       |    CAST(d AS DOUBLE) /
       |      (sqrt(CAST(na.qn2 AS DOUBLE)) * sqrt(CAST(nb.qn2 AS DOUBLE))) AS psim
       |  FROM cpd JOIN qn na ON na.vec_id = nid JOIN qn nb ON nb.vec_id = mid),
       |$rounds
       |SELECT p.qid, p.rank, p.pnid AS nid, round(c.rel, 6) AS rel
       |FROM pall10 p JOIN cand c ON c.qid = p.qid AND c.nid = p.pnid""".stripMargin
  }

  private val e14 = GQuery(
    "e14_mmr_diversified_topk",
    (s, dir) => {
      val (cand, candPairs) = mmrInputs(s, dir)
      // cut both inputs once: every greedy round joins candPairs, and
      // without the cut each of the k joins re-derives the corpus-wide
      // shortlist scan; both tables are shortlist-bounded (q x 30, q x 30^2)
      mmrSelect(cand.localCheckpoint(), candPairs.localCheckpoint(),
        k = 10, lambda = 0.7)
    },
    Some(e14OracleSql),
    doc = "MMR diversified top-10 from integer-grid cosine top-30 shortlists (4096-grid quantized scores, exact-replayable rather than exact-cosine), lambda=0.7, greedy rounds replayed exactly in the oracle (similarity #14).")

  /** Bit-identical-in-any-engine cosine over the integer-grid shadow: the
    * dot and both squared norms are exact integers, the two sqrts, multiply
    * and divide are single correctly-rounded ops (the assignToCellsQ
    * argument — no multi-term double sum anywhere). */
  private def exactCos(av: String, an2: String, bv: String, bn2: String): Column =
    expr(s"graft_qdot($av, $bv)").cast("double") /
      (sqrt(col(an2).cast("double")) * sqrt(col(bn2).cast("double")))

  /** e14's shortlist + in-shortlist pair sims (shared with the spec gate).
    * Sims come from [[exactCos]] over the quantized shadow, so the
    * shortlist cut, every pairwise sim, and therefore every greedy MMR
    * argmax is bit-identical in the DuckDB oracle — what lets the whole
    * sequential selection sit under the driver hash gate. */
  private[queries] def mmrInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = quantized(embDouble(s, dir))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"), col("qn2").as("qqn2"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val cand = emb.select(col("vec_id").as("nid"), col("qv").as("nqv"),
        col("qn2").as("nqn2"))
      .crossJoin(broadcast(q))
      .filter(col("qid") =!= col("nid"))
      .withColumn("sim", exactCos("qqv", "qqn2", "nqv", "nqn2"))
      .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 30)
      .select(col("qid"), col("nid"), col("sim").as("rel"), col("nqv"), col("nqn2"))
    val candPairs = cand.select(col("qid"), col("nid"), col("nqv"), col("nqn2"))
      .join(cand.select(col("qid"), col("nid").as("mid"), col("nqv").as("mqv"),
        col("nqn2").as("mqn2")), Seq("qid"))
      .filter(col("nid") =!= col("mid"))
      .select(col("qid"), col("nid"), col("mid"),
        exactCos("nqv", "nqn2", "mqv", "mqn2").as("psim"))
    (cand, candPairs)
  }

  // ---- E15: hybrid retrieval — RRF fusion of dense + lexical (similarity #15)
  // The RAG serving shape: a dense branch (e1's exact cosine top-20 over the
  // query vectors) and a lexical branch (full-query Okapi BM25: every distinct
  // token of the query document scored against the corpus inverted index,
  // d30's integer-exact DECIMAL term scores) fused by Reciprocal Rank Fusion
  // (Cormack et al.: score = Σ 1/(60+rank)), which needs no score calibration
  // between branches — exactly why production hybrid search uses it.
  //
  // Scale shape: the 10 query term-sets and the query vectors BROADCAST, so
  // neither the candidate embedding scan nor the postings scan shuffles;
  // the only wide exchange is the (qid, doc) partial-score aggregate, bounded
  // by queries x corpus. RRF terms are IEEE doubles derived from integer
  // ranks only — bit-identical across engines with no rounding step.
  private val e15 = GQuery(
    "e15_hybrid_rrf_retrieval",
    (s, dir) => {
      val emb = embDouble(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val cand = emb.select(col("vec_id").as("nid"), col("v").as("nv"))
      val dense = cosineTopK(cand, q, 20)
        .select(col("qid"), col("nid").as("id"), col("rn").as("rd"))

      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("len", size(col("w")))
      // (r13 note: restricting the token stream to query-document tokens
      // before this aggregate was measured SLOWER at sf0.1 — Zipf means the
      // 10 query docs' tokens cover most of the occurrence stream, so the
      // semi join added cost without shrinking the exchange; left as-is.)
      //
      // (r14 note: cutting the postings aggregate — referenced by scored +
      // the dfreq/qterms broadcast subtrees — measured FLAT-TO-SLOWER at
      // sf0.1: the three references share one identical aggregate subtree,
      // which AQE's runtime exchange reuse already executes once, so the
      // eager materialization only added cost. Left uncut.) `stats` however
      // derives from postings instead of its own corpus split+size pass:
      // every doc emits >= 1 posting row (split() of an empty text still
      // yields one "" token), so distinct (doc_id, len) is one row per doc
      // and the counts/sums are exactly the old ones.
      val postings = docs
        .select(col("doc_id"), col("len"), explode(col("w")).as("tok"))
        .groupBy(col("doc_id"), col("len"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val stats = postings.select(col("doc_id"), col("len")).distinct()
        .agg(count(lit(1)).as("n_docs"), sum(col("len").cast("long")).as("sum_len"))
      val dfreq = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val qterms = postings.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("tok")).distinct()
      val scored = postings.join(broadcast(qterms), Seq("tok"))
        .filter(col("doc_id") =!= col("qid"))
        .join(broadcast(dfreq), Seq("tok"))
        .crossJoin(broadcast(stats))
        .withColumn("tscore", expr(
          """round(ln((cast(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
            |  * (tf * 2.2)
            |  / (tf + 1.2 * (0.25 + 0.75 * (len / (cast(sum_len AS DOUBLE) / n_docs)))),
            |  9)""".stripMargin).cast("decimal(18,9)"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("tscore")).as("score"))
      val wl = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
      val lex = scored.withColumn("rl", row_number().over(wl))
        .filter(col("rl") <= 20)
        .select(col("qid"), col("doc_id").as("id"), col("rl"))

      val fused = dense.join(lex, Seq("qid", "id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)))
      val wf = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("id"))
      fused.withColumn("rank", row_number().over(wf)).filter(col("rank") <= 10)
        .select(col("qid"), col("id"), col("rrf"), col("rank"),
          coalesce(col("rd"), lit(0)).as("rank_dense"),
          coalesce(col("rl"), lit(0)).as("rank_lex"))
    },
    Some("""WITH e AS (
           |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
           |qe AS (SELECT * FROM e WHERE vec_id < 10),
           |dots AS (
           |  SELECT qe.vec_id AS qid, c.vec_id AS id, sum(qe.x * c.x) AS dp
           |  FROM qe JOIN e c ON qe.i = c.i AND qe.vec_id != c.vec_id
           |  GROUP BY 1, 2),
           |dsims AS (
           |  SELECT qid, id, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN norms nq ON qid = nq.vec_id
           |  JOIN norms nc ON id = nc.vec_id),
           |dense AS (
           |  SELECT qid, id, rd FROM (
           |    SELECT qid, id,
           |      row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rd
           |    FROM dsims) x WHERE rd <= 20),
           |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |docs2 AS (SELECT doc_id, CAST(len(w) AS INT) AS len, w FROM docs),
           |stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM docs2),
           |postings AS (
           |  SELECT doc_id, len, tok, count(*) AS tf
           |  FROM (SELECT doc_id, len, unnest(w) AS tok FROM docs2) x
           |  GROUP BY 1, 2, 3),
           |dfreq AS (SELECT tok, count(*) AS df FROM postings GROUP BY 1),
           |qterms AS (SELECT DISTINCT doc_id AS qid, tok FROM postings WHERE doc_id < 10),
           |scored AS (
           |  SELECT qid, p.doc_id AS id,
           |    sum(CAST(round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
           |      * (tf * 2.2)
           |      / (tf + 1.2 * (0.25 + 0.75 * (len / (CAST(sum_len AS DOUBLE) / n_docs)))),
           |      9) AS DECIMAL(18,9))) AS score
           |  FROM postings p JOIN qterms USING (tok) JOIN dfreq USING (tok)
           |  CROSS JOIN stats
           |  WHERE p.doc_id != qid GROUP BY 1, 2),
           |lex AS (
           |  SELECT qid, id, rl FROM (
           |    SELECT qid, id,
           |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rl
           |    FROM scored) y WHERE rl <= 20),
           |fused AS (
           |  SELECT coalesce(dense.qid, lex.qid) AS qid,
           |         coalesce(dense.id, lex.id) AS id, rd, rl,
           |         coalesce(CAST(1 AS DOUBLE) / (60 + rd), 0) +
           |         coalesce(CAST(1 AS DOUBLE) / (60 + rl), 0) AS rrf
           |  FROM dense FULL OUTER JOIN lex
           |    ON dense.qid = lex.qid AND dense.id = lex.id)
           |SELECT qid, id, rrf, rank, rank_dense, rank_lex FROM (
           |  SELECT qid, id, rrf,
           |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, id) AS rank,
           |    CAST(coalesce(rd, 0) AS INT) AS rank_dense,
           |    CAST(coalesce(rl, 0) AS INT) AS rank_lex
           |  FROM fused) z
           |WHERE rank <= 10""".stripMargin),
    doc = "Hybrid retrieval: RRF fusion of dense cosine + full-query BM25 top-20s (similarity #15).")

  // ---- E16: binary sign quantization + Hamming shortlist + exact rerank ------
  // The third quantization face next to int8 (e7) and PQ (e10/e11): keep one
  // SIGN BIT per dimension — 16 bytes/vector here (64 dims), a 16× cut under
  // the raw floats and the representation a RAM-resident 10^10-vector index
  // actually uses, because Hamming distance is two XOR+popcount instructions.
  // Sign bits pack into two 32-bit halves (bit 63 of a single BIGINT would
  // overflow signed arithmetic on either engine); distance is
  // bit_count(lo^lo') + bit_count(hi^hi'). The Hamming top-50 shortlist is
  // then reranked by exact cosine to top-10 — the standard binary-ANN
  // pipeline, and the rerank bounds full-vector reads by rerankDepth exactly
  // like e11. Every step is integer-or-rounded math, so unlike the
  // training-dependent ANN faces this one carries a FULL DuckDB oracle (same
  // packing, same xor/popcount, same two-stage cut with nid tie-breaks).
  // Recall vs e1's exact top-10 is gated in SimilaritySpec.
  private val e16 = GQuery(
    "e16_ann_binary_hamming",
    (s, dir) => {
      val emb = embDouble(s, dir)
      def sigHalf(off: Int): Column = expr(
        s"""aggregate(sequence(1, 32), 0L,
           |  (acc, i) -> acc + CASE WHEN element_at(v, i + $off) > 0d
           |                         THEN shiftleft(1L, i - 1) ELSE 0L END)""".stripMargin)
      val sigs = emb.select(col("vec_id"), col("v"),
        sigHalf(0).as("lo"), sigHalf(32).as("hi"))
      val q = sigs.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("lo").as("qlo"), col("hi").as("qhi"))
      val c = sigs.select(col("vec_id").as("nid"), col("v").as("nv"),
        col("lo").as("nlo"), col("hi").as("nhi"))
      val ham = c.crossJoin(broadcast(q))
        .filter(col("qid") =!= col("nid"))
        .withColumn("hamming",
          expr("bit_count(qlo ^ nlo) + bit_count(qhi ^ nhi)"))
      val wH = Window.partitionBy(col("qid")).orderBy(col("hamming"), col("nid"))
      val shortlist = ham.withColumn("hrn", row_number().over(wH))
        .filter(col("hrn") <= 50)
      val wS = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
      shortlist.withColumn("sim", round(cosine("qv", "nv"), 6))
        .withColumn("rn", row_number().over(wS)).filter(col("rn") <= 10)
        .select(col("qid"), col("nid"), col("hamming"), col("sim"), col("rn"))
    },
    Some("""WITH vl AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |sig AS (
           |  SELECT vec_id,
           |    CAST(list_sum([CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1))
           |                        ELSE 0::BIGINT END for i in range(1, 33)]) AS BIGINT) AS lo,
           |    CAST(list_sum([CASE WHEN v[i + 32] > 0 THEN (1::BIGINT << (i - 1))
           |                        ELSE 0::BIGINT END for i in range(1, 33)]) AS BIGINT) AS hi
           |  FROM vl),
           |ham AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS nid,
           |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS INT)
           |      AS hamming
           |  FROM sig q JOIN sig c ON q.vec_id != c.vec_id
           |  WHERE q.vec_id < 10),
           |sl AS (
           |  SELECT qid, nid, hamming FROM (
           |    SELECT qid, nid, hamming,
           |      row_number() OVER (PARTITION BY qid ORDER BY hamming, nid) AS hrn
           |    FROM ham) x WHERE hrn <= 50),
           |e AS (
           |  SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
           |         generate_subscripts(embedding, 1) AS i
           |  FROM embeddings),
           |norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY vec_id),
           |dots AS (
           |  SELECT sl.qid, sl.nid, sl.hamming, sum(qe.x * ce.x) AS dp
           |  FROM sl
           |  JOIN e qe ON qe.vec_id = sl.qid
           |  JOIN e ce ON ce.vec_id = sl.nid AND ce.i = qe.i
           |  GROUP BY 1, 2, 3),
           |sims AS (
           |  SELECT qid, nid, hamming, round(dp / (nq.nrm * nc.nrm), 6) AS sim
           |  FROM dots
           |  JOIN norms nq ON qid = nq.vec_id
           |  JOIN norms nc ON nid = nc.vec_id)
           |SELECT qid, nid, hamming, sim, rn FROM (
           |  SELECT qid, nid, hamming, sim,
           |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
           |  FROM sims) z
           |WHERE rn <= 10""".stripMargin),
    doc = "Binary sign-bit ANN: XOR+popcount Hamming top-50, exact cosine rerank to top-10 (similarity #16).")

  // ---- E17: ANN index incremental maintenance (fold, don't retrain) ----------
  // The i-series fold==rebuild discipline applied to the IVF index: the
  // persisted index state is the base-slice-trained centroids
  // (baseCentsArtifact — k×d longs); an appended batch (vec_id % 5 == 0 as
  // the stand-in) FOLDS in with one map-only assign pass against those
  // centroids — no Lloyd rounds, no corpus rescan — and the retrain
  // trigger is a manifest-scale drift aggregate (ivfDriftRatio; both
  // trigger directions pinned in IvfMaintainSpec, recall floor vs exact in
  // the same spec). The DuckDB oracle replays base-slice training exactly
  // and assigns the WHOLE corpus to the final centroids, so the hash gate
  // proves folded assignment == replayed fold for every vector — the
  // assignment-level "fold == rebuild". At 100 TB the batch costs the
  // batch: assign is a broadcast of k centroids over the new rows only.
  private val e17 = GQuery(
    "e17_ann_incremental_fold",
    (s, dir) => {
      val cents = baseCentsArtifact(s, dir)
      val all = embDouble(s, dir)
      // fold = stored base assignment ∪ map-only assign of the new batch;
      // the base arm recomputes deterministically from the persisted
      // centroids (the cellsFromArtifact persist==fresh proof pattern)
      val baseA = assignToCellsQ(quantized(
          all.filter(pmod(col("vec_id"), lit(5)) =!= 0)), cents)
        .select(col("vec_id"), col("cell"), lit(0L).as("is_new"))
      val newA = assignToCellsQ(quantized(
          all.filter(pmod(col("vec_id"), lit(5)) === 0)), cents)
        .select(col("vec_id"), col("cell"), lit(1L).as("is_new"))
      baseA.unionByName(newA)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("is_new")).as("n_new"),
          sum(col("vec_id")).as("id_sum"))
    },
    Some(s"""WITH ${kmeansOracleCtesOver("vec_id % 5 <> 0")}
           |SELECT cell, count(*) AS n,
           |  count(CASE WHEN vec_id % 5 = 0 THEN 1 END) AS n_new,
           |  CAST(sum(vec_id) AS BIGINT) AS id_sum
           |FROM lab GROUP BY cell""".stripMargin),
    doc = "ANN index incremental maintenance: a new batch folds into the persisted IVF index with one map-only assign (no retrain), per-vector assignment hash-proven against a replayed fold; drift-triggered retrain pinned in IvfMaintainSpec (similarity #17).")

  override val all: Seq[GQuery] =
    Seq(e1, e2, e3, e4, e5, e6, e7, e8, e9, e10, e11, e11s, e12, e13, e14, e15,
      e16, e17, d9, d39)
}
