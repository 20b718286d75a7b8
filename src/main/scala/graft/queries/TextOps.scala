package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GQuery, QueryPack, Tables}

/** Training-data text pipeline operators over the `documents` table:
  * deduplication (exact, n-gram Jaccard, MinHash+LSH, SimHash), language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * Scale notes (100 TB posture):
  *   - near-dup candidate generation is always inverted-index / LSH-band joins
  *     (shuffle on shingle/band key), never an all-pairs cross join;
  *   - MinHash signatures are 128 universal hashes derived from ONE xxhash64
  *     pass per shingle (cheap arithmetic, stays in whole-stage codegen);
  *   - SimHash banding uses a two-level pigeonhole guarantee (3 super-chunks
  *     of 20 bits, multi-probed for ≤1-bit error ⇒ no pair at hamming ≤ 5 is
  *     missed), so the LSH output is exact with 2^20-key buckets.
  */
object TextOps extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Whitespace tokens (the corpus is single-space separated). */
  private def words(c: Column): Column = split(c, " ")

  /** Exploded (doc_id, hv) distinct 3-shingle hashes — the d2/d3 postings
    * stream. Words are split and xxhash64'd ONCE per document into an array
    * of longs; each shingle hash then combines three word hashes with a
    * second xxhash64 — measured ~7x faster than building shingle STRINGS and
    * hashing those, because `element_at(split(text), i)` re-evaluates the
    * split per lambda element while `hw[i]` is one array load. Equal shingle
    * strings ⇒ equal hv (the property the DF cap, buckets, and Jaccard
    * counts need); the collision exposure is the same xxhash64 risk the
    * string-hash path already accepted. The DuckDB oracle keeps computing
    * over shingle strings, so the compare stays implementation-independent. */
  // the ONE spelling of the hashed-shingle alphabet: word-hash array +
  // triple combine. hashedShingles (d2/d3/d45/d46) and the positional
  // variant (d47) both build from these, so a width/seed change can never
  // desynchronize the pair universe from the span evidence.
  private val HashedWordsSql = "transform(split(text, ' '), x -> xxhash64(x))"
  private val TripleHashSql = "xxhash64(hw[i-1], hw[i], hw[i+1])"

  private[queries] def hashedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(HashedWordsSql).as("hw"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(hw) >= 3 THEN
           |  array_distinct(transform(sequence(1, size(hw) - 2),
           |    i -> $TripleHashSql))
           |ELSE cast(array() as array<bigint>) END""".stripMargin)).as("hv"))

  /** Positional variant: every shingle occurrence with its position —
    * same alphabet as [[hashedShingles]], duplicates kept (span evidence
    * needs them), so (doc_id, hv) pairs here are a superset refinement of
    * the distinct postings d2 indexes. */
  private[queries] def hashedShinglesPos(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(HashedWordsSql).as("hw"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(hw) >= 3 THEN transform(sequence(1, size(hw) - 2),
           |  i -> struct(i AS pos, $TripleHashSql AS hv))
           |ELSE cast(array() AS array<struct<pos:int,hv:bigint>>) END""".stripMargin))
        .as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.hv").as("hv"))

  /** Distinct k=3 word shingles, 1-based element_at to mirror the SQL oracle. */
  private[queries] def shingleExpr: Column = {
    val w = words(col("text"))
    when(size(w) >= 3,
      array_distinct(transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Shared SQL fragment: doc_id -> distinct 3-word shingle list (DuckDB). */
  private[queries] val shingleSqlCte =
    """docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(w) >= 3 THEN
      |    list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])
      |  ELSE []::VARCHAR[] END AS s
      |  FROM docs)""".stripMargin

  /** Shared oracle core over the DF-capped shingle universe: the
    * shingle/keep/pairs/sizes CTE chain written ONCE, parameterized by the
    * per-pair measure (`selectSql` may use inter, sa.n, sb.n) and its
    * admission predicate — so the Jaccard (d2/d3) and containment (d46)
    * oracles can never drift from the shared [[pairStats]] engine core. */
  private def cappedPairOracle(dfCap: Long, selectSql: String,
      whereSql: String): String =
    s"""WITH $shingleSqlCte,
       |ex0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |keep AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) <= $dfCap),
       |ex AS (SELECT ex0.doc_id, ex0.shingle FROM ex0 JOIN keep USING (shingle)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id)
       |SELECT doc_a, doc_b,
       |  $selectSql
       |FROM pairs
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE $whereSql""".stripMargin

  /** Exact-Jaccard oracle over the DF-capped shingle universe (shingles with
    * doc frequency > dfCap are excluded on both engines — see [[DfCap]]). */
  private def exactJaccardOracle(threshold: Double, dfCap: Long): String =
    cappedPairOracle(dfCap,
      "round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard",
      s"CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $threshold")

  /** Doc-frequency cap for the near-dup inverted indexes: a shingle occurring
    * in more than this many documents is dropped from the index, the
    * signature input, AND the Jaccard universe (both engines — the oracle
    * carries the same filter, so correctness does not depend on the cap
    * never firing). Why: one degenerate corpus-wide shingle ("click here to
    * subscribe") makes a bucket of df docs and an O(df^2) pairwise explode —
    * the classic near-dup scale-killer. An ultra-common shingle also carries
    * ~zero similarity signal, so dropping it is standard practice. Sized so
    * nothing fires at test scale (max fixture DF ~25); observable via
    * [[heavyShingleStats]]. */
  private[queries] val DfCap = 10000L

  /** DF-cap diagnostics: (# distinct shingles over the cap, # postings they
    * contribute). Logged at WARN when non-zero so capped production runs are
    * visible. */
  def heavyShingleStats(docs: DataFrame, dfCap: Long): (Long, Long) = {
    val heavy = docs.select(col("doc_id"), explode(shingleExpr).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
    val rows = heavy.agg(count(lit(1)), coalesce(sum("df"), lit(0L))).head()
    val (n, postings) = (rows.getLong(0), rows.getLong(1))
    if (n > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"DF cap $dfCap dropped $n shingles ($postings postings) from the near-dup index")
    (n, postings)
  }

  // ---- D1: exact dedup (hash group-by) ----------------------------------------
  private val d1 = GQuery(
    "d1_dedup_exact",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
           |FROM documents GROUP BY md5(text)""".stripMargin),
    doc = "Exact duplicate grouping by content hash (dedup #1).")

  // ---- D2: n-gram Jaccard near-dup via inverted-index join -----------------------

  /** Shared pair-statistics core of the set-similarity faces: DF-capped
    * inverted index -> bucket pairwise explode -> (doc_a, doc_b, inter,
    * na, nb). Jaccard and overlap-coefficient faces derive their measure
    * from these exact integers; the expensive index/bucket work is written
    * once. */
  private def pairStats(docs: DataFrame, dfCap: Long): DataFrame =
    pairStatsWithHandle(docs, dfCap)._1

  /** [[pairStats]] plus the cached postings handle, so a caller that
    * materializes the result can unpersist the intermediate. */
  private def pairStatsWithHandle(docs: DataFrame, dfCap: Long): (DataFrame, DataFrame) = {
    // cache the narrow (doc_id, hv) table — two longs/row — since the heavy
    // set, the bucket index, and the per-doc sizes all derive from it.
    // DISK_ONLY: this table is CORPUS-SIZED (shingles × docs); at 100 TB it
    // must never compete with execution memory — it's read three times
    // sequentially inside one artifact build and unpersisted right after,
    // exactly the access pattern disk-backed storage is for.
    val ex0 = hashedShingles(docs)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val heavy = ex0.groupBy(col("hv")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
    val ex = ex0.join(broadcast(heavy), Seq("hv"), "left_anti")
    val buckets = ex.groupBy(col("hv"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    // pairwise combos of the (<= dfCap, typically tiny) bucket list
    val pairs = buckets.select(explode(expr(
      """flatten(transform(sequence(1, size(ids) - 1),
        |  i -> transform(slice(ids, i + 1, size(ids) - i),
        |    j -> struct(element_at(ids, i) as doc_a, j as doc_b))))""".stripMargin))
      .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // no broadcast hint: `sizes` is one row PER DOCUMENT (unbounded at corpus
    // scale) while `pairs` is bounded by the bucket combinatorics — AQE
    // broadcasts whichever side is actually small at runtime
    val result = pairs
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
    (result, ex0)
  }

  /** The near-dup EVIDENCE TABLE — [[pairStats]] materialized once per
    * (scale dir, DF cap) under the scratch warehouse and read back by every
    * consumer. Six queries derive from the identical capped-index pair
    * list (d2 jaccard, d46 containment, d12/d16/d36 components, d47 span
    * evidence); per-query rebuilds recomputed the corpus-wide shingle
    * explode + bucket join five extra times (~17 s of the sf0.1 bench,
    * VERDICT r6). A production dedup run does exactly this: the pair list
    * is a pipeline ARTIFACT, built by one job and consumed by many — the
    * x2 bucketing discipline applied to dedup evidence. Deterministic
    * content (exact integers, set semantics), so skip-if-exists is sound;
    * the cap is part of the artifact name, so a cap change can never reuse
    * stale evidence. */
  /** The artifact keeps only pairs whose OVERLAP COEFFICIENT clears this
    * floor. Overlap >= jaccard for every pair (min(na,nb) <= na+nb-inter),
    * so the floor is lossless for any jaccard- OR overlap-thresholded
    * consumer with threshold >= the floor — while cutting the stored pair
    * list from every co-bucketed pair (quadratic-ish noise: one shared
    * shingle makes a "pair") to actual near-dup evidence, ~20x fewer rows
    * at sf0.1. Callers assert their threshold clears it. */
  private[queries] val PairFloor = 0.5

  private[queries] def pairStatsTable(s: SparkSession, dir: String,
      dfCap: Long): DataFrame = {
    val tag = s"cap${dfCap}_ov${(PairFloor * 100).toInt}"
    val path = Tables.scratchOnce(dir, s"neardup_pairs_$tag") { p =>
      val (ps, ex0) = pairStatsWithHandle(t(s, dir, "documents"), dfCap)
      // no coalesce: it would cap the UPSTREAM join stages' parallelism;
      // AQE already collapses the post-filter output to few partitions
      try ps
        .filter(col("inter").cast("double") / least(col("na"), col("nb"))
          >= lit(PairFloor))
        .write.mode("overwrite").parquet(p)
      finally ex0.unpersist(): Unit
    }
    s.read.parquet(path)
  }

  private def jaccardFrom(ps: DataFrame, threshold: Double): DataFrame =
    ps.withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  private def overlapFrom(ps: DataFrame, threshold: Double): DataFrame =
    ps.withColumn("overlap",
        col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("overlap") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("overlap"), 6).as("overlap"),
        least(col("na"), col("nb")).as("n_small"))

  /** d2's jaccard pairs served from the shared evidence artifact. */
  private[queries] def jaccardPairsShared(s: SparkSession, dir: String,
      threshold: Double, dfCap: Long): DataFrame = {
    require(threshold >= PairFloor,
      s"threshold $threshold below the artifact's overlap floor $PairFloor")
    jaccardFrom(pairStatsTable(s, dir, dfCap), threshold)
  }

  /** d46's containment pairs served from the shared evidence artifact. */
  private[queries] def overlapPairsShared(s: SparkSession, dir: String,
      threshold: Double, dfCap: Long): DataFrame = {
    require(threshold >= PairFloor,
      s"threshold $threshold below the artifact's overlap floor $PairFloor")
    overlapFrom(pairStatsTable(s, dir, dfCap), threshold)
  }

  private[queries] def jaccardPairs(docs: DataFrame, threshold: Double,
      dfCap: Long): DataFrame =
    jaccardFrom(pairStats(docs, dfCap), threshold)

  /** Overlap coefficient |A∩B| / min(|A|,|B|) — the asymmetric measure that
    * catches CONTAINMENT duplication (a short doc quoted whole inside a long
    * one), which Jaccard structurally under-scores when sizes differ. */
  private[queries] def overlapPairs(docs: DataFrame, threshold: Double,
      dfCap: Long): DataFrame =
    overlapFrom(pairStats(docs, dfCap), threshold)

  private val d2 = GQuery(
    "d2_dedup_ngram_jaccard",
    (s, dir) => jaccardPairsShared(s, dir, 0.5, DfCap),
    Some(exactJaccardOracle(0.5, DfCap)),
    doc = "3-word-shingle Jaccard >= 0.5 via DF-capped shared-shingle join (dedup #2).")

  // ---- D3: MinHash + LSH banding, exact-Jaccard verified ---------------------------
  private val NumHashes = 128
  private val Bands = 32 // 32 bands x 4 rows: P(miss | j=0.8) ~ 5e-8
  private val RowsPerBand = NumHashes / Bands
  private val P = 2147483647L // 2^31 - 1
  private val (hashA, hashB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(NumHashes)(1 + rnd.nextLong().abs % (P - 1)),
      Array.fill(NumHashes)(rnd.nextLong().abs % P))
  }

  /** MinHash+LSH Jaccard >= threshold pairs over docs (doc_id, text), DF-cap
    * applied to the postings BEFORE signatures and the verify universe, so
    * signatures, candidates, and exact verification all agree on the capped
    * shingle set (and with the oracle, which carries the same filter).
    *
    * The whole pipeline — cap, signatures, AND exact verify — runs in
    * 64-bit-hash space: the cached postings table is two longs per row, the
    * heavy-set agg and the per-doc verify arrays shuffle longs, never the
    * shingle strings (3-8x less bytes moved; same collision exposure d2
    * already accepts, ~1e-9 at fixture vocabulary sizes). */
  private[queries] def minhashPairs(docs: DataFrame, threshold: Double,
      dfCap: Long): DataFrame = {
    // capped postings feed two consumers (heavy set, per-doc arrays) —
    // cache the one narrow exploded scan
    val ex0 = hashedShingles(docs).cache()
    val heavy = ex0.groupBy(col("hv")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
    val exF = ex0.join(broadcast(heavy), Seq("hv"), "left_anti")
    // the per-doc sorted shingle arrays feed THREE consumers (signature
    // fold + both verify sides) — cache the doc-sized frame
    val sh = exF.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("hv"))).as("shingles"))
      .cache()
    // 128 universal hashes, folded per DOCUMENT by the graft_minhash kernel
    // over the array the verify stage materializes anyway (r13, guide §1.2):
    // the previous 128-column min AGGREGATE evaluated 128 expressions and
    // updated 128 hash-aggregate slots per POSTING ROW and paid its own
    // doc-keyed exchange — measured ~1.2-1.8 s of the sf0.1 query, the
    // single heaviest stage. Arithmetic and results are bit-identical
    // (see MinHashSignature's doc); the bands below hash the same values.
    val abConst = typedLit((0 until NumHashes).flatMap(i => Seq(hashA(i), hashB(i))))
    val sig = sh.select(col("doc_id"),
      call_function("graft_minhash", col("shingles"), abConst).as("ms"))
    // Band signatures: hash of each 4-row slice; explode to (band, bandHash),
    // then bucket-group and emit pairwise combos — no self-join, so the
    // shingle pipeline executes exactly once.
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r =>
        element_at(col("ms"), b * RowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(lit(b) +: cols: _*).as("bh"))
    }
    val bands = sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("doc_id"), col("x.band"), col("x.bh"))
    val cand = bands.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(slice(ids, i + 1, size(ids) - i),
          |    j -> struct(element_at(ids, i) as doc_a, j as doc_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    // Exact verification of LSH candidates (so output matches the exact
    // oracle). Candidates are rare; broadcast them across the two
    // shingle-array scans.
    val verified = broadcast(cand)
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
    verified.select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  private val d3 = GQuery(
    "d3_dedup_minhash_lsh",
    (s, dir) => minhashPairs(t(s, dir, "documents"), 0.8, DfCap),
    Some(exactJaccardOracle(0.8, DfCap)),
    doc = "MinHash (128 hashes) + 32x4 LSH bands + DF cap + exact verify (dedup #3).")

  // ---- D4: SimHash near-dup with pigeonhole-exact two-level banded join -------------
  private val SimBits = 60 // 15 hex chars of md5 -> portable across engines
  private val HamMax = 5
  // Two-level banding: 3 super-chunks of 20 bits. A pair at hamming <= 5 has
  // <= floor(5/3) = 1 differing bit in SOME super-chunk (pigeonhole), so the
  // banded join stays exact — but the bucket key space is 2^20 per chunk
  // instead of 2^10, which is the difference between O((n/2^10)^2) and
  // O((n/2^20)^2) pairwise-explode cost per bucket at corpus scale. The
  // <=1-bit tolerance is realized by multi-probing: each doc emits its exact
  // chunk value plus the 20 single-bit flips, and pairs form probe x exact.
  private val SuperChunks = 3
  private val SuperBits = 20
  private val ChunkMask = (1L << SuperBits) - 1

  /** (doc_id, sim) 60-bit SimHash signatures — exposed for the brute-force
    * differential test in SimilaritySpec. */
  private[queries] def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("tok"))
      .withColumn("hv", expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"))
    val bitSums = (0 until SimBits).map(b =>
      sum(expr(s"(shiftright(hv, $b) & 1) * 2 - 1")).as(s"s$b"))
    val sums = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val simExpr = (0 until SimBits).map(b =>
      s"(CASE WHEN s$b > 0 THEN shiftleft(cast(1 as bigint), $b) ELSE cast(0 as bigint) END)")
      .mkString(" + ")
    sums.select(col("doc_id"), expr(simExpr).as("sim"))
  }

  /** Degenerate-bucket guard for [[hammingPairs]]: a (chunk, key) bucket
    * larger than this is dropped instead of pairwise-exploded. On a
    * self-similar corpus (boilerplate-heavy web text) many documents share
    * identical 20-bit chunks, and one such bucket turns the explode
    * quadratic — the same failure class the d2/d3 [[DfCap]] guards against.
    * The cap is far above any bucket the driver corpus produces (the
    * SimilaritySpec cap test pins the margin), so CORRECTNESS output is
    * unchanged; at corpus scale it bounds the worst bucket at O(cap²) and
    * [[oversizedBucketStats]] reports what a run dropped. */
  private[graft] val BucketCap = 10000

  /** (capped units, doc-entries inside them) — the drop a capped run logs,
    * summed over BOTH drop paths of [[hammingPairs]]: signature buckets
    * holding more than `cap` distinct signatures (those buckets' CROSS
    * pairs are skipped), and same-signature doc groups larger than `cap`
    * (only their INTRA dist-0 pairs are skipped — the group's signature
    * still bands and its docs still appear in surviving cross pairs, so
    * the entry counts here bound lost PAIRS, not removed documents). */
  def oversizedBucketStats(sims: DataFrame, cap: Int): (Long, Long) = {
    val groups = sigGroups(sims)
    val hotBuckets = sigBucketEntries(groups)
      .groupBy(col("u"), col("key"))
      .agg(count(lit(1)).as("n"), sum(size(col("docs"))).as("nd"))
      .filter(col("n") > cap)
      .agg(coalesce(count(lit(1)), lit(0L)).as("units"),
        coalesce(sum(col("nd")), lit(0L)).as("entries")).head()
    val hotGroups = groups.select(size(col("docs")).as("n"))
      .filter(col("n") > cap)
      .agg(coalesce(count(lit(1)), lit(0L)).as("units"),
        coalesce(sum(col("n")), lit(0L)).as("entries")).head()
    (hotBuckets.getLong(0) + hotGroups.getLong(0),
      hotBuckets.getLong(1) + hotGroups.getLong(1))
  }

  /** Distinct signatures with their (sorted) member doc lists — the unit the
    * banded join operates on. Docs sharing a signature (exact-dup boilerplate
    * is common in web corpora) collapse to ONE banding/verify participant. */
  private[queries] def sigGroups(sims: DataFrame): DataFrame =
    sims.groupBy(col("sim"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))

  /** The multi-probed per-SIGNATURE (sim, docs, u, key, is_exact) bucket-entry
    * frame shared by [[hammingPairs]] and [[oversizedBucketStats]]. 63 entries
    * per distinct signature: 3 super-chunks x (exact value + 20 one-bit
    * probe flips). */
  private[queries] def sigBucketEntries(groups: DataFrame): DataFrame =
    groups.select(col("sim"), col("docs"), explode(expr(
      s"""flatten(transform(sequence(0, ${SuperChunks - 1}), u ->
         |  transform(sequence(-1, ${SuperBits - 1}), b ->
         |    struct(u as u,
         |      CASE WHEN b = -1 THEN shiftright(sim, u * $SuperBits) & $ChunkMask
         |           ELSE (shiftright(sim, u * $SuperBits) & $ChunkMask)
         |                ^ shiftleft(cast(1 as bigint), b) END as key,
         |      b = -1 as is_exact))))""".stripMargin)).as("x"))
      .select(col("sim"), col("docs"),
        col("x.u").as("u"), col("x.key").as("key"), col("x.is_exact").as("is_exact"))

  /** Exact hamming <= maxDist pairs over (doc_id, sim) signatures via the
    * two-level banded bucket join, operating on DISTINCT SIGNATURES:
    *
    *   1. docs collapse into signature groups ([[sigGroups]]) — exact-dup
    *      boilerplate (sf0.1: 5000 docs -> 3812 signatures) never enters the
    *      banding; same-signature pairs emit directly at dist 0,
    *      output-sized, from groups of <= `cap` docs.
    *   2. signature pairs band over (chunk, key) buckets with multi-probe;
    *      the hamming verify runs INSIDE the pair lambda so the dedup
    *      shuffle carries only true near-dup signature pairs, and each
    *      surviving pair expands to its doc cross-product (output-sized).
    *
    * Grouping by signature cuts the banding-verify work from sum(bucket²)
    * over doc entries to sum over signature entries — 67M -> 15M candidate
    * slots on the sf0.1 corpus (the r3 d4 profile ask) — and the win GROWS
    * with corpus self-similarity, exactly when the old form degraded.
    * Buckets holding more than `cap` signatures and same-signature groups
    * larger than `cap` docs are dropped (see [[BucketCap]],
    * [[oversizedBucketStats]]). */
  private[graft] def hammingPairs(sims: DataFrame, maxDist: Int,
      cap: Int = BucketCap): DataFrame = {
    require(maxDist < 2 * SuperChunks,
      s"pigeonhole banding needs maxDist < ${2 * SuperChunks}")
    val groups = sigGroups(sims)
    // same-signature pairs: all (i < j) combos of the sorted doc list
    val intra = groups
      .filter(size(col("docs")).between(2, cap))
      .select(explode(expr(
        """flatten(transform(docs, (a, i) ->
          |  transform(slice(docs, 1, i), b ->
          |    struct(b as doc_a, a as doc_b))))""".stripMargin)).as("c"))
      .select(col("c.doc_a").as("doc_a"), col("c.doc_b").as("doc_b"),
        lit(0).as("dist"))
    // cross-signature pairs: banded buckets of signatures, then the n² pair
    // verify as TWO codegen'd explodes (exact entries x all entries) with the
    // hamming test as a codegen'd filter directly behind the generator —
    // per-slot cost is generated code, not an interpreted nested lambda
    // (which measured ~210 ns/slot and dominated the query; the 15M
    // candidate slots are the irreducible banding-verify work, interpreting
    // them was not).
    // r13 (guide §2.3 "shuffle keys and metadata instead of payloads"): the
    // bucket entries carry ONLY (sim, is_exact) — the member doc lists ride
    // neither the bucket collect_list nor the pair explode. A surviving
    // signature pair is found once per shared bucket (up to 3 chunks x the
    // probe multiplicity), so deduplication happens at the SIGNATURE-pair
    // level (a few thousand 2-long rows) BEFORE the doc cross-product
    // expands; the old form exploded the doc product per duplicate bucket
    // hit and then distinct'd the expanded stream — on m7's 125-doc
    // signature groups that was ~2 s of redundant struct traffic. Doc lists
    // partition the corpus across signatures, so expanding each distinct
    // signature pair exactly once emits each doc pair exactly once — no
    // post-expansion distinct needed.
    // b = -1 is the exact entry; b in [0, 20) are the single-bit probe flips
    // (docs is not referenced below, so Catalyst prunes it out of the
    // bucket shuffle — only sim/is_exact/u/key cross the exchange)
    val sigPairs = sigBucketEntries(groups)
      .groupBy(col("u"), col("key"))
      .agg(collect_list(struct(col("sim"), col("is_exact"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= cap)
      .select(col("ds"), explode(expr("filter(ds, x -> x.is_exact)")).as("e"))
      .select(explode(col("ds")).as("p"), col("e"))
      .filter(expr(s"p.sim < e.sim AND bit_count(p.sim ^ e.sim) <= $maxDist"))
      .select(col("p.sim").as("sim_a"), col("e.sim").as("sim_b"))
      .distinct()
    val cross = sigPairs
      .join(groups.select(col("sim").as("sim_a"), col("docs").as("da")), Seq("sim_a"))
      .join(groups.select(col("sim").as("sim_b"), col("docs").as("db")), Seq("sim_b"))
      .select(explode(expr(
        """flatten(transform(da, a ->
          |  transform(db, b ->
          |    struct(least(a, b) as doc_a, greatest(a, b) as doc_b))))""".stripMargin)).as("c"),
        expr(s"bit_count(sim_a ^ sim_b)").as("dist"))
      .select(col("c.doc_a").as("doc_a"), col("c.doc_b").as("doc_b"),
        col("dist"))
    intra.union(cross)
  }

  private val d4 = GQuery(
    "d4_dedup_simhash",
    (s, dir) => hammingPairs(simhashSigs(s, dir), HamMax),
    Some {
      val sumCols = (0 until SimBits)
        .map(b => s"sum(((hv >> $b) & 1) * 2 - 1) AS s$b").mkString(",\n  ")
      val simExpr = (0 until SimBits)
        .map(b => s"(CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
         |  FROM documents),
         |hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks),
         |sums AS (SELECT doc_id,
         |  $sumCols
         |  FROM hv GROUP BY doc_id),
         |sims AS (SELECT doc_id, $simExpr AS sim FROM sums)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.sim, b.sim)) AS dist
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= $HamMax""".stripMargin
    },
    doc = "60-bit SimHash, hamming<=5 pairs via two-level pigeonhole banding (dedup #4).")

  // ---- D5: language ID by stopword-lexicon voting -------------------------------------
  private val lexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "and", "en" -> "of", "en" -> "to", "en" -> "a",
    "de" -> "der", "de" -> "und", "de" -> "die", "de" -> "das", "de" -> "ist",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "y", "es" -> "los",
    "fr" -> "le", "fr" -> "la", "fr" -> "les", "fr" -> "et", "fr" -> "des")

  private val d5 = GQuery(
    "d5_lang_id",
    (s, dir) => {
      import s.implicits._
      val lex = lexicon.toDF("lang", "word")
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("tok"))
      val scores = toks.join(broadcast(lex), col("tok") === col("word"))
        .groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("score"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("lang"))
      val best = scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      docs.select(col("doc_id"))
        .join(best.select(col("doc_id"), col("lang"), col("score")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lang"), lit("und")).as("pred_lang"),
          coalesce(col("score"), lit(0L)).as("score"))
    },
    Some {
      val values = lexicon.map { case (l, wd) => s"('$l','$wd')" }.mkString(",")
      s"""WITH lex(lang, word) AS (VALUES $values),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |scores AS (SELECT doc_id, lang, count(*) AS score
         |           FROM toks JOIN lex ON tok = word GROUP BY 1, 2),
         |best AS (SELECT doc_id, lang, score,
         |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
         |         FROM scores)
         |SELECT d.doc_id, coalesce(b.lang, 'und') AS pred_lang,
         |  CAST(coalesce(b.score, 0) AS BIGINT) AS score
         |FROM documents d
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id""".stripMargin
    },
    doc = "Stopword-lexicon language vote with deterministic argmax (text #1).")

  // ---- D6: quality scoring --------------------------------------------------------------

  /** Per-document quality features — a pure row-local projection, so the SAME
    * plan runs on a batch frame or a document stream (the streaming suite
    * pins that parity). */
  private[graft] def qualityFeatures(docs: DataFrame): DataFrame = {
    val w = words(col("text"))
    docs.select(
      col("doc_id"),
      size(w).as("n_words"),
      round(size(array_distinct(w)).cast("double") / size(w), 6).as("distinct_ratio"),
      round((length(col("text")) - (size(w) - 1)).cast("double") / size(w), 6)
        .as("avg_word_len"),
      round(least(lit(1.0), size(w) / lit(100.0))
        * (size(array_distinct(w)).cast("double") / size(w)), 6).as("quality"))
  }

  private val d6 = GQuery(
    "d6_quality_score",
    (s, dir) => qualityFeatures(t(s, dir, "documents")),
    Some("""SELECT doc_id,
           |  len(string_split(text, ' ')) AS n_words,
           |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           |        / len(string_split(text, ' ')), 6) AS distinct_ratio,
           |  round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
           |        / len(string_split(text, ' ')), 6) AS avg_word_len,
           |  round(least(1.0, len(string_split(text, ' ')) / 100.0)
           |        * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           |           / len(string_split(text, ' '))), 6) AS quality
           |FROM documents""".stripMargin),
    doc = "Length/diversity quality features + composite score (text #2).")

  // ---- D7: token counting (whitespace + BPE-ish regex) ------------------------------------
  private val d7 = GQuery(
    "d7_token_count",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(words(col("text"))).as("ws_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
          .as("bpe_ish_tokens")),
    Some("""SELECT doc_id,
           |  len(string_split(text, ' ')) AS ws_tokens,
           |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
           |FROM documents""".stripMargin),
    doc = "Whitespace + regex-segmented token counts (text #3).")

  // ---- D8: document fingerprinting (normalized hash + rolling polynomial hash) ------------
  private val d8 = GQuery(
    "d8_fingerprint",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("fp_norm"),
        expr("""aggregate(
                 transform(split(text, ' '),
                   x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint) % 2147483647),
                 cast(0 as bigint),
                 (acc, h) -> (acc * 31 + h) % 2147483647)""").as("fp_rolling")),
    Some("""SELECT doc_id,
           |  md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fp_norm,
           |  list_reduce(
           |    list_prepend(0::BIGINT,
           |      list_transform(string_split(text, ' '),
           |        x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647)),
           |    (acc, h) -> (acc * 31 + h) % 2147483647) AS fp_rolling
           |FROM documents""".stripMargin),
    doc = "Normalized-content MD5 + order-sensitive rolling hash (text #4).")

  // ---- D10: corpus vocabulary statistics ---------------------------------------
  // Training-data staple: global token frequencies + document frequencies,
  // top-100. Pure two-level aggregation (map-side partials absorb the heavy
  // token explosion); the top-K is a distributed TakeOrdered, no global sort.
  private val d10 = GQuery(
    "d10_vocab_stats",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("tok"))
        .limit(100)
    },
    Some("""SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
           |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) t
           |GROUP BY tok
           |ORDER BY tf DESC, tok LIMIT 100""".stripMargin),
    doc = "Corpus vocabulary: term + document frequency, top-100 (text #5).")

  // ---- D11: sketched corpus statistics -----------------------------------------
  // The 100 TB face of d10: at corpus scale exact countDistinct/percentile
  // need a full shuffle of every token; the sketch versions (HyperLogLog++,
  // KLL/GK quantiles) aggregate in fixed memory with map-side partials and
  // merge associatively across executors. Engine-specific sketch internals
  // mean no DuckDB oracle (rows-only) — the accuracy gate lives in
  // SimilaritySpec: each estimate must sit within the sketch's documented
  // error bound of the exact value computed on the same corpus.
  private val d11 = GQuery(
    "d11_sketch_stats",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"), explode(words(col("text"))).as("tok"))
      val lens = docs.select(length(col("text")).as("len"))
      val vocab = toks.agg(
        approx_count_distinct(col("tok"), 0.02).as("approx_vocab"),
        count(lit(1)).as("n_tokens"))
      val quant = lens.agg(
        expr("approx_percentile(len, array(0.5, 0.9, 0.99), 1000)").as("len_q"))
      vocab.crossJoin(quant)
        .select(col("approx_vocab"), col("n_tokens"),
          element_at(col("len_q"), 1).as("len_p50"),
          element_at(col("len_q"), 2).as("len_p90"),
          element_at(col("len_q"), 3).as("len_p99"))
    },
    None,
    doc = "HLL++ vocabulary + KLL length quantiles — fixed-memory corpus stats (text #6).")

  // ---- D48: HLL sketch COLUMNS — storable, mergeable distinct state ----------
  // d11 estimates with approx_count_distinct, whose sketch lives only inside
  // one aggregation. hll_sketch_agg materializes the Datasketches HLL state
  // AS A COLUMN: per-source sketches are bytes a 100 TB pipeline writes to a
  // stats table once, then answers any rollup (source → corpus, day → month)
  // by hll_union_agg over the stored partials — never rescanning the tokens.
  // This is the approximate twin of a20's exact bitmap rollup; register
  // updates are max-merges, so the fold is order-insensitive and
  // merge-of-parts equals the one-shot sketch EXACTLY (SimilaritySpec pins
  // that, plus the estimate's error vs exact countDistinct).
  // Sketch internals are engine-specific -> no DuckDB oracle (rows-only).
  private val d48 = GQuery(
    "d48_hll_sketch_union",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val perSource = toks.groupBy(col("source"))
        .agg(hll_sketch_agg(col("tok"), lit(12)).as("sk"),
          count(lit(1)).as("n_tokens"))
      val global = perSource.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("est_vocab_global"))
      perSource
        .select(col("source"), col("n_tokens"),
          hll_sketch_estimate(col("sk")).as("est_vocab"))
        .crossJoin(broadcast(global))
    },
    None,
    doc = "HLL sketch columns: stored per-source partials union to the corpus estimate (text #21).")

  // ---- D49: approx_top_k — the built-in frequent-items sketch -----------------
  // The native counterpart of d23's Misra-Gries UDAF: one fixed-memory
  // aggregate tracking up to maxItemsTracked items. Capacity (10k) exceeds
  // this corpus's vocabulary, so every count is exact and the full result
  // oracles against GROUP BY — the same "sized-to-exact at test scale"
  // discipline as a19's power sums. At 100 TB vocabularies the capacity
  // becomes the memory dial and the d23 certified-heavy threshold gate is
  // the right check instead; k exceeds the vocabulary here so no tie at a
  // truncation boundary can make the kept set engine-dependent.
  private val d49 = GQuery(
    "d49_approx_top_k",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .agg(expr("approx_top_k(tok, 100, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("tok"), col("e.count").as("cnt")),
    Some("""SELECT tok, count(*) AS cnt
           |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
           |WHERE tok <> '' GROUP BY tok""".stripMargin),
    doc = "approx_top_k frequent-items sketch, capacity-sized to exactness == GROUP BY (text #22).")

  // ---- D50: approx_top_k partial sketches (accumulate / combine / estimate) --
  // d49's storable face and the third member of the sketch-rollup trilogy
  // (a20 exact bitmaps, d48 HLL distinct, d50 frequent items): per-source
  // `approx_top_k_accumulate` partials are STATE a stats table persists;
  // `approx_top_k_combine` merges them and `approx_top_k_estimate` answers
  // the corpus-level question without rescanning tokens. Capacity exceeds
  // this vocabulary, so combine-of-partials is exact and the full estimate
  // oracles against GROUP BY — the merge==rescan property a capacity-
  // bounded deployment gives up knowingly (d23's threshold gate is then
  // the check).
  private val d50 = GQuery(
    "d50_approx_top_k_partials",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), explode(words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("source"))
        .agg(expr("approx_top_k_accumulate(tok, 10000)").as("sk"))
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(sk), 100)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("tok"), col("e.count").as("cnt")),
    Some("""SELECT tok, count(*) AS cnt
           |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
           |WHERE tok <> '' GROUP BY tok""".stripMargin),
    doc = "approx_top_k partial sketches: accumulate per source, combine, estimate == GROUP BY (text #23).")

  // ---- D20: repetition ratios (Gopher-style quality signals) ---------------
  // Within-document repetition is a strong low-quality signal for training
  // corpora (boilerplate, keyword stuffing, generator loops). Distinct-token
  // ratio and top-token mass are per-document hash aggregates over the token
  // explode — one shuffle keyed by doc_id, bounded state per doc, no
  // corpus-level join, so the operator is embarrassingly scalable.
  private val d20 = GQuery(
    "d20_repetition_ratio",
    (s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 6).as("distinct_ratio"),
          round(col("top_c").cast("double") / col("n_tokens"), 6).as("top_tok_frac"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
           |tf AS (SELECT doc_id, tok, count(*) AS c FROM toks WHERE tok <> ''
           |       GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
           |  count(*) AS n_distinct,
           |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS distinct_ratio,
           |  round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_tok_frac
           |FROM tf GROUP BY doc_id""".stripMargin),
    doc = "Gopher-style repetition signals: distinct-token ratio + top-token mass (text #7).")

  // ---- D21: mean-IDF informativeness ---------------------------------------
  // Documents made of only corpus-ubiquitous words (navigation chrome, SEO
  // filler) score near ln(N/df)≈0; rare-word-dense docs score high. The df
  // table is an equi-join back onto the token stream with NO broadcast hint:
  // vocabulary grows with the corpus (Heaps' law), so AQE broadcasts it while
  // small and shuffles when it is not. N arrives via the whitelisted 1-row
  // cross join.
  private val d21 = GQuery(
    "d21_mean_idf",
    (s, dir) => {
      // r14 (guide §2.3/§2.4, the d17 derived-counts trick): the raw token
      // stream was exploded TWICE (once under df's distinct, once as the
      // join probe). Collapse to per-(doc, tok) counts c in ONE corpus
      // pass; df is then the count of rows per tok over that frame, and the
      // per-doc occurrence algebra is exact with weights: Σ_occurrences
      // term == Σ_(doc,tok) c * term (DECIMAL times an exact long — no
      // rounding anywhere new), and count(*) over occurrences == Σ c. Cut
      // so the df subtree and the probe side share the materialization.
      val tf = graft.core.Lineage.cut(
        t(s, dir, "documents")
          .select(col("doc_id"), explode(words(col("text"))).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c")))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      // per-token IDF terms round to 9 digits and sum in DECIMAL (the d30
      // discipline): a raw avg() of doubles merges partials in partition
      // order, and a doc whose mean sits on a 6th-digit boundary would
      // round differently run-to-run / engine-to-engine
      val term = round(log(col("n_docs").cast("double") / col("df")), 9)
        .cast("decimal(18,9)")
      // c rides as DECIMAL(10,0): a bare long would promote the product to
      // precision 39 > 38 and Spark would TRIM THE SCALE to 8, silently
      // rounding the 9th digit the oracle keeps; (18,9) x (10,0) = (29,9)
      // stays exact (per-doc token counts are far below 10^10)
      tf.join(df, "tok")
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(round((sum(term * col("c").cast("decimal(10,0)")).cast("double")
          / sum(col("c"))), 6).as("mean_idf"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
           |t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
           |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
           |n AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT doc_id,
           |  round(CAST(sum(CAST(round(ln(CAST(n_docs AS DOUBLE) / df), 9)
           |                      AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6)
           |    AS mean_idf
           |FROM t2 JOIN df USING (tok) CROSS JOIN n
           |GROUP BY doc_id""".stripMargin),
    doc = "Informativeness score: token-frequency-weighted mean IDF per document (text #8).")

  // ---- D22: source mixing weights (temperature-scaled sampling) ------------
  // Multi-source corpora are rarely sampled proportionally: p^alpha
  // (alpha<1) upweights small high-quality sources (GPT-3/Pile recipe).
  // alpha = 0.75, spelled sqrt(sqrt(p*p*p)): multiply and sqrt are
  // correctly-rounded IEEE ops both engines compute bit-identically,
  // where pow()'s libm differs in the last ulp (the rule that broke other
  // formulas — see the repo's oracle-compat notes); the z normalizer sums
  // 9-digit DECIMAL terms, so partial-merge order can't move it.
  // Two-level shape: per-source hash aggregate (5 rows by construction),
  // then 1-row totals attached by the whitelisted broadcast cross join —
  // the global normalizers never route through a single-partition window.
  private val d22 = GQuery(
    "d22_source_mix_weights",
    (s, dir) => {
      val bySrc = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      val tot = bySrc.agg(sum(col("chars")).as("tot"))
      val p = bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("chars"),
          (col("chars").cast("double") / col("tot")).as("p_raw"))
      def p34(c: org.apache.spark.sql.Column) = sqrt(sqrt(c * c * c))
      val z = p.agg(sum(round(p34(col("p_raw")), 9).cast("decimal(18,9)")).as("z"))
      p.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), col("chars"),
          round(col("p_raw"), 6).as("p"),
          round(p34(col("p_raw")) / col("z").cast("double"), 6).as("mix_weight"))
    },
    Some("""WITH s AS (SELECT source, count(*) AS n_docs,
           |            CAST(sum(n_chars) AS BIGINT) AS chars
           |          FROM documents GROUP BY 1),
           |t AS (SELECT CAST(sum(chars) AS DOUBLE) AS tot FROM s),
           |p AS (SELECT source, n_docs, chars, chars / tot AS p_raw FROM s, t),
           |z AS (SELECT sum(CAST(round(sqrt(sqrt(p_raw * p_raw * p_raw)), 9)
           |                      AS DECIMAL(18,9))) AS z FROM p)
           |SELECT source, n_docs, chars, round(p_raw, 6) AS p,
           |  round(sqrt(sqrt(p_raw * p_raw * p_raw)) / CAST(z AS DOUBLE), 6)
           |    AS mix_weight
           |FROM p, z""".stripMargin),
    doc = "Temperature-scaled source sampling weights p^0.75 (text #9, GPT-3/Pile recipe).")

  // ---- D23: Misra–Gries heavy hitters (bounded-memory frequent tokens) -----
  // d10's exact top-100 shuffles one row per DISTINCT token; at web-corpus
  // vocabulary that is billions of rows. The MG sketch holds k counters per
  // partial, reduces map-side, and merges in O(k) — and the mergeable-
  // summaries bound (est >= true - n/(k+1), ANY merge tree) guarantees
  // every token with true frequency > n/(k+1) SURVIVES the sketch
  // (FreqSketchSpec proves the guarantees against exact counts). The
  // classic two-pass certify makes the output engine-deterministic and
  // therefore hashable: pass 1's <= k survivors (a merge-order-dependent
  // SUPERSET of the true heavy hitters) semi-join the token stream for
  // EXACT counts, and the integer filter cnt*(k+1) > n keeps exactly the
  // true heavy hitters — so the oracle is a plain GROUP BY ... HAVING,
  // while the engine never shuffles more than k candidate tokens plus one
  // broadcast. (Until round 9 this was a rows-only entry because pass 1's
  // estimates ride the merge tree; certifying with pass 2 is what turns
  // the sketch into a gateable operator.)
  private val d23 = GQuery(
    "d23_heavy_hitters_sketch",
    (s, dir) => {
      val sketch = graft.functions.FreqSketchAggregator.freqSketch(50)
      val toks = t(s, dir, "documents")
        .select(explode(words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      // pass 1: candidates (<= 50 rows) + the exact stream length
      val agg = toks.agg(sketch(col("tok")).as("mg"), count(lit(1)).as("n"))
      val cands = agg.select(explode(col("mg")).as(Seq("tok", "est")), col("n"))
      // pass 2: exact counts of the candidates only — broadcast semi-join,
      // map-side filter, O(k) aggregate state
      toks.join(broadcast(cands.select(col("tok"), col("n"))), Seq("tok"))
        .groupBy(col("tok"), col("n"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * lit(51L) > col("n")) // integer-exact threshold
        .select(col("tok"), col("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
    },
    Some("""WITH toks AS (
           |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
           |t2 AS (SELECT tok FROM toks WHERE tok <> ''),
           |n AS (SELECT count(*) AS n FROM t2)
           |SELECT tok, count(*) AS cnt
           |FROM t2, n GROUP BY tok, n.n
           |HAVING count(*) * 51 > n
           |ORDER BY cnt DESC, tok""".stripMargin),
    doc = "Misra-Gries heavy hitters, two-pass certified: O(k) sketch survivors re-counted exactly, output == GROUP BY HAVING (text #10).")

  // ---- D24: quality-classifier inference (linear model scoring) ------------
  // The production successor to d6's hand-tuned thresholds: a trained
  // logistic-regression quality classifier applied at corpus scale. Training
  // happens offline; INFERENCE is the 100 TB problem, and for a linear model
  // it is a pure per-row projection — weights are literals folded into
  // whole-stage codegen, no UDF, no shuffle, no model server. The weights
  // here are illustrative; the operator is the w·x+b -> sigmoid shape.
  private val d24 = GQuery(
    "d24_quality_classifier",
    (s, dir) => {
      val toks = words(col("text"))
      val nTok = size(toks).cast("double")
      val avgWordLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nTok
      val fracThe = size(filter(toks, x => x === "the")).cast("double") / nTok
      // greatest(..., 1): an empty document must score, not NULL the row
      // (Spark log(0) is NULL; DuckDB ln(0) errors) — log(1) = 0 is the
      // natural "no length signal" value
      val logLen = log(greatest(col("n_chars"), lit(1L)).cast("double"))
      val z = lit(-3.0) + lit(0.45) * avgWordLen + lit(4.0) * fracThe +
        lit(0.35) * logLen
      t(s, dir, "documents").select(
        col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("quality_score"),
        (lit(1.0) / (lit(1.0) + exp(-z)) >= 0.5).as("keep"))
    },
    Some("""SELECT doc_id,
           |  round(1.0 / (1.0 + exp(-z)), 6) AS quality_score,
           |  1.0 / (1.0 + exp(-z)) >= 0.5 AS keep
           |FROM (
           |  SELECT doc_id,
           |    -3.0 + 0.45 * (CAST(len(replace(text, ' ', '')) AS DOUBLE)
           |                   / len(string_split(text, ' ')))
           |         + 4.0 * (CAST(len(list_filter(string_split(text, ' '),
           |                                       x -> x = 'the')) AS DOUBLE)
           |                  / len(string_split(text, ' ')))
           |         + 0.35 * ln(CAST(greatest(n_chars, 1) AS DOUBLE)) AS z
           |  FROM documents) f""".stripMargin),
    doc = "Logistic quality-classifier inference: codegen'd per-row w*x+b -> sigmoid (text #11).")

  // ---- D25: sequence-length histogram (batch-packing planner input) --------
  // Training batches pack sequences into power-of-2 length buckets; the
  // bucket histogram is what a packing planner sizes batches from. The bin
  // is INTEGER-exact on both engines — length of the base-2 string rather
  // than floor(log2(n)), whose float rounding can flip at exact powers of
  // two. One narrow scan + a tiny hash aggregate: trivially 100 TB-shaped.
  private val d25 = GQuery(
    "d25_length_histogram",
    (s, dir) =>
      t(s, dir, "documents")
        .select(size(words(col("text"))).cast("long").as("n_tok"))
        .select(expr("length(bin(n_tok))").as("len_bin"), col("n_tok"))
        .groupBy(col("len_bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
          min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok")),
    Some("""SELECT length(bin(n_tok)) AS len_bin, count(*) AS n_docs,
           |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           |  min(n_tok) AS min_tok, max(n_tok) AS max_tok
           |FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           |      FROM documents) f
           |GROUP BY 1""".stripMargin),
    doc = "Power-of-2 sequence-length histogram for batch packing, integer-exact bins (text #12).")

  // ---- D26: shingle novelty — per-doc fraction of first-seen n-grams --------
  // The diversity face of dedup: how much of each document's shingle set is
  // NEW to the corpus (first occurrence by doc_id order)? Low-novelty docs
  // are near-dups or boilerplate even when no single pair crosses the d2
  // threshold. No global window: first-occurrence is min(doc_id) per shingle
  // (hash agg), novelty a ratio of two per-doc integers. The engine works on
  // the word-hash shingle combine (d2's measured idiom); the oracle on the
  // literal shingle strings — same universe.
  private val d26 = GQuery(
    "d26_shingle_novelty",
    (s, dir) => {
      val sh = hashedShingles(t(s, dir, "documents"))
      val first = sh.groupBy(col("hv")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, Seq("hv"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_shingles").cast("double"))
    },
    Some(s"""WITH $shingleSqlCte,
            |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            |first AS (SELECT shingle, min(doc_id) AS fd FROM ex GROUP BY shingle)
            |SELECT doc_id, count(*) AS n_shingles,
            |  CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
            |  CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
            |    / count(*) AS novelty
            |FROM ex JOIN first USING (shingle)
            |GROUP BY doc_id""".stripMargin),
    doc = "Per-doc first-occurrence shingle fraction — corpus novelty/boilerplate signal (text #13).")

  // ---- D27: cross-source contamination matrix -------------------------------
  // How much n-gram material do source pairs share? The between-subcorpora
  // face of d19's decontamination: a high shared-shingle count between two
  // sources means one is leaking into the other (mirrors, scrapes of the
  // same site, benchmark contamination). Engine shape: distinct (source,
  // shingle-hash) pairs — at most |sources| rows per shingle — inverted-
  // index self-join on the hash, aggregate to the |sources|^2/2 matrix. The
  // shuffle carries (source, hash) longs only; output is metadata-scale.
  private val d27 = GQuery(
    "d27_source_overlap",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val ex = hashedShingles(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("hv")).distinct()
      val a = ex.select(col("source").as("src_a"), col("hv"))
      val b = ex.select(col("source").as("src_b"), col("hv"))
      a.join(b, Seq("hv")).filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("shared_shingles"))
    },
    Some(s"""WITH $shingleSqlCte,
            |ex AS (SELECT DISTINCT d.source, t.shingle
            |       FROM sh JOIN documents d USING (doc_id),
            |            unnest(sh.s) AS t(shingle))
            |SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_shingles
            |FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.source < b.source
            |GROUP BY 1, 2""".stripMargin),
    doc = "Shared-shingle counts per source pair — cross-source leakage matrix (text #14).")

  // ---- D28: overlapping document chunking -----------------------------------
  // The standard pre-tokenization chunker: fixed-length word windows with a
  // stride overlap (64/48 here — 16 words of context bleed between
  // neighbors), the shape every training-data and retrieval pipeline cuts
  // long documents into. Pure per-row explode of a bounded sequence — no
  // shuffle at all; chunk identity travels as an md5 digest so the oracle
  // compares content, not just counts. Output rows ~ corpus tokens / stride.
  /** (doc_id, chunk_no, start_word, chunk_words, chunk_digest) — shared by
    * d28 (the chunk stream) and d29 (chunk-level dedup). */
  private[queries] def docChunks(docs: DataFrame,
                                 chunkLen: Int = 64, stride: Int = 48): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .withColumn("nc", when(col("n") <= chunkLen, lit(1))
        .otherwise(expr(s"(n - $chunkLen + ${stride - 1}) div $stride + 1")))
      .select(col("doc_id"), col("w"), col("n"),
        explode(expr("sequence(0, nc - 1)")).as("i"))
      .select(col("doc_id"),
        col("i").cast("int").as("chunk_no"),
        (col("i") * stride + 1).cast("long").as("start_word"),
        expr(s"slice(w, i * $stride + 1, least($chunkLen, n - i * $stride))").as("cw"))
      .select(col("doc_id"), col("chunk_no"), col("start_word"),
        size(col("cw")).as("chunk_words"),
        md5(concat_ws(" ", col("cw")).cast("binary")).as("chunk_digest"))

  private val d28 = GQuery(
    "d28_doc_chunking",
    (s, dir) => docChunks(t(s, dir, "documents")),
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
           |         len(string_split(text, ' ')) AS n FROM documents),
           |c AS (SELECT doc_id, w, n,
           |        CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc FROM d),
           |ex AS (SELECT doc_id, w, n, unnest(range(0, nc)) AS i FROM c)
           |SELECT doc_id, CAST(i AS INT) AS chunk_no,
           |  CAST(i * 48 + 1 AS BIGINT) AS start_word,
           |  CAST(len(w[(i*48+1):least(i*48+64, n)]) AS INT) AS chunk_words,
           |  md5(array_to_string(w[(i*48+1):least(i*48+64, n)], ' ')) AS chunk_digest
           |FROM ex""".stripMargin),
    doc = "Overlapping 64/48 word-window chunking with content digests (text #15).")

  // ---- D29: chunk-level exact dedup ------------------------------------------
  // d1 finds whole-document duplicates; boilerplate (headers, footers,
  // license blocks) repeats at CHUNK granularity inside otherwise-unique
  // docs and survives doc-level dedup. Group d28's digests: any digest seen
  // more than once is repeated material — the hash-aggregate face of what
  // suffix-array dedup does exactly. Output is the repeated-chunk table a
  // removal pass would anti-join against.
  private val d29 = GQuery(
    "d29_chunk_dedup",
    (s, dir) =>
      docChunks(t(s, dir, "documents"))
        .groupBy(col("chunk_digest"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_occurrences") > 1),
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
           |         len(string_split(text, ' ')) AS n FROM documents),
           |c AS (SELECT doc_id, w, n,
           |        CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc FROM d),
           |ex AS (SELECT doc_id, w, n, unnest(range(0, nc)) AS i FROM c),
           |ch AS (SELECT doc_id,
           |         md5(array_to_string(w[(i*48+1):least(i*48+64, n)], ' ')) AS chunk_digest
           |       FROM ex)
           |SELECT chunk_digest, count(*) AS n_occurrences,
           |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
           |FROM ch GROUP BY chunk_digest HAVING count(*) > 1""".stripMargin),
    doc = "Chunk-granularity exact dedup: repeated 64-word windows across the corpus (text #16).")

  // ---- D30: BM25 retrieval scoring ------------------------------------------
  // Okapi BM25 (k1 = 1.2, b = 0.75, Lucene's +1-inside-the-ln idf) for a fixed
  // query-term set over the corpus — the lexical face of the retrieval stack
  // (e1-e9 are the dense face). Everything is built from integer-exact corpus
  // stats (tf, df, doc length, corpus size), so the only float divergence
  // surface is ln/divide on identical inputs; per-term scores are rounded to
  // 9 decimals and summed in DECIMAL so the per-doc total is accumulation-
  // order-proof. Stats attach via 1-row/3-row broadcasts; the term filter
  // prunes the exploded token stream before any shuffle; top-20 lands via
  // TakeOrdered, never a global window.
  private val Bm25Terms = Seq("dup", "spark", "query")
  private val d30 = GQuery(
    "d30_bm25_scoring",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("len", size(col("w")))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        sum(col("len").cast("long")).as("sum_len"))
      val tf = docs.select(col("doc_id"), col("len"), explode(col("w")).as("tok"))
        .filter(col("tok").isin(Bm25Terms: _*))
        .groupBy(col("doc_id"), col("len"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(stats))
        .withColumn("tscore", expr(
          """round(ln((cast(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
            |  * (tf * 2.2)
            |  / (tf + 1.2 * (0.25 + 0.75 * (len / (cast(sum_len AS DOUBLE) / n_docs)))),
            |  9)""".stripMargin).cast("decimal(18,9)"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("tscore")).cast("double"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |docs AS (SELECT doc_id, CAST(len(w) AS INT) AS len, w FROM d),
           |stats AS (SELECT count(*) AS n_docs, sum(len) AS sum_len FROM docs),
           |tf AS (SELECT doc_id, len, tok, count(*) AS tf
           |       FROM (SELECT doc_id, len, unnest(w) AS tok FROM docs) x
           |       WHERE tok IN ('dup', 'spark', 'query')
           |       GROUP BY 1, 2, 3),
           |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
           |scored AS (
           |  SELECT doc_id,
           |    CAST(round(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
           |      * (tf * 2.2)
           |      / (tf + 1.2 * (0.25 + 0.75 * (len / (CAST(sum_len AS DOUBLE) / n_docs)))),
           |      9) AS DECIMAL(18,9)) AS tscore
           |  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats)
           |SELECT doc_id, round(CAST(sum(tscore) AS DOUBLE), 6) AS score
           |FROM scored GROUP BY doc_id
           |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    doc = "Okapi BM25 top-20 for a fixed term set — lexical retrieval from integer-exact stats (text #17).")

  // ---- D31: weighted sampling without replacement ---------------------------
  // Efraimidis-Spirakis A-ES: sample k docs with probability proportional to a
  // weight (n_chars — token-budget-proportional corpus sampling) by ranking on
  // u^(1/w) with u uniform per doc, equivalently ln(u)/w (one ln, monotone).
  // u is a DETERMINISTIC md5-derived uniform — the sample is reproducible
  // across runs and engines, which is what a training-data pipeline wants from
  // its sampling step (and what makes an exact oracle possible). The rank is
  // a map-only projection + TakeOrdered(k): no shuffle beyond the top-k
  // reduction, no global window, scales to any corpus.
  private val d31 = GQuery(
    "d31_weighted_sample",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .withColumn("skey", expr(
          """round(ln(cast(conv(substring(md5(cast(doc_id AS string)), 1, 15), 16, 10)
            |           AS DOUBLE) / 1152921504606846976.0D)
            |      / n_chars, 9)""".stripMargin))
        .orderBy(col("skey").desc, col("doc_id"))
        .limit(50),
    Some("""SELECT doc_id, n_chars,
           |  round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)::DOUBLE
           |           / 1152921504606846976.0)
           |        / n_chars, 9) AS skey
           |FROM documents
           |ORDER BY skey DESC, doc_id LIMIT 50""".stripMargin),
    doc = "A-ES weighted sampling: deterministic-hash u, rank ln(u)/weight, top-k (text #18).")

  // ---- D32: PII redaction ---------------------------------------------------
  // The scrubbing pass every training-data pipeline runs before anything else:
  // emails, URLs and phone numbers replaced by typed placeholder tokens, with
  // per-document match counts kept as audit columns. Map-only per-row regex —
  // no shuffle, codegen'd regexp_replace/regexp_count kernels, scales as a
  // pure scan at any corpus size. Patterns stay in the Java-regex/RE2 common
  // subset so the DuckDB oracle runs the IDENTICAL expressions. The driver
  // corpus is PII-free word salad, so the query plants deterministic PII
  // derived from doc_id (the m3/m4 synthetic-payload pattern: fake data, REAL
  // kernel) and the oracle recomputes redaction byte-for-byte: placement,
  // repeat counts, and digests all hash-checked.
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val UrlRe = "https?://[a-z0-9./_-]+"
  private val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  /** Scrub emails, then URLs, then phone numbers (email first: its pattern
    * is the most specific; none of the three can match a placeholder). */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      PhoneRe, "<PHONE>")

  private val d32 = GQuery(
    "d32_pii_redaction",
    (s, dir) => {
      val planted = t(s, dir, "documents")
        .select(col("doc_id"), concat(
          col("text"),
          expr("repeat(concat(' contact user', cast(doc_id AS string), " +
            "'@mail.example.com'), cast(1 + doc_id % 3 AS int))"),
          expr("concat(' or +1-555-', lpad(cast(doc_id % 10000 AS string), 4, '0'))"),
          expr("concat(' via https://site', cast(doc_id % 7 AS string), " +
            "'.example.com/p/', cast(doc_id AS string))")).as("txt"))
      planted.select(
        col("doc_id"),
        regexp_count(col("txt"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("txt"), lit(UrlRe)).as("n_urls"),
        regexp_count(col("txt"), lit(PhoneRe)).as("n_phones"),
        length(redactPii(col("txt"))).as("redacted_len"),
        md5(redactPii(col("txt")).cast("binary")).as("redacted_digest"))
    },
    Some(s"""WITH planted AS (
            |  SELECT doc_id,
            |    text
            |      || repeat(' contact user' || CAST(doc_id AS VARCHAR)
            |           || '@mail.example.com', CAST(1 + doc_id % 3 AS INT))
            |      || ' or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            |      || ' via https://site' || CAST(doc_id % 7 AS VARCHAR)
            |           || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS txt
            |  FROM documents),
            |red AS (
            |  SELECT doc_id, txt,
            |    regexp_replace(
            |      regexp_replace(
            |        regexp_replace(txt, '$EmailRe', '<EMAIL>', 'g'),
            |        '$UrlRe', '<URL>', 'g'),
            |      '$PhoneRe', '<PHONE>', 'g') AS r
            |  FROM planted)
            |SELECT doc_id,
            |  CAST(len(regexp_extract_all(txt, '$EmailRe')) AS INT) AS n_emails,
            |  CAST(len(regexp_extract_all(txt, '$UrlRe')) AS INT) AS n_urls,
            |  CAST(len(regexp_extract_all(txt, '$PhoneRe')) AS INT) AS n_phones,
            |  CAST(len(r) AS INT) AS redacted_len,
            |  md5(r) AS redacted_digest
            |FROM red""".stripMargin),
    doc = "PII redaction: email/URL/phone scrub with audit counts, digest-exact (text #19).")

  // ---- D33: blocked fuzzy matching (Pass-Join segment pigeonhole) -----------
  // Entity resolution's core primitive: match corrupted strings to their
  // originals within edit distance k WITHOUT the all-pairs scan. The
  // pigeonhole scheme (Pass-Join): split each original into k+1 = 2 exact
  // segments — a single edit damages at most one, so the OTHER matches
  // exactly, at a position shifted by at most 1 in the corrupted string.
  // Each corrupted string therefore probes 2 segment keys; candidates come
  // from an EQUI-join on (segment#, text), and only candidates pay the
  // levenshtein verify — the d4 banding design applied to edit distance.
  // Strings are md5-derived (the planted-PII pattern: the corpus's own
  // c_name is constant-prefixed and near-uniform, which defeats ANY
  // realistic blocking demo; fake data, REAL kernel) and the corruption
  // deletes one deterministic char. The DuckDB oracle brute-forces ALL
  // pairs — hash equality PROVES the blocking lost no match.
  private val d33 = GQuery(
    "d33_fuzzy_match_blocked",
    (s, dir) => {
      val orig = t(s, dir, "customer")
        .select(col("c_custkey").as("okey"),
          md5(col("c_custkey").cast("string").cast("binary")).as("oname"))
      val corr = t(s, dir, "customer")
        .select(col("c_custkey").as("ckey"),
          md5(col("c_custkey").cast("string").cast("binary")).as("full"),
          (pmod(col("c_custkey"), lit(32)) + 1).cast("int").as("p"))
        .select(col("ckey"),
          concat(expr("substring(full, 1, p - 1)"),
            expr("substring(full, p + 1, 32)")).as("cname"))
      val segs = orig.select(col("okey"), col("oname"),
          explode(array(
            struct(lit(1).as("seg"), expr("substring(oname, 1, 16)").as("k")),
            struct(lit(2).as("seg"), expr("substring(oname, 17, 16)").as("k")))).as("sk"))
        .select(col("okey"), col("oname"), col("sk.seg").as("seg"), col("sk.k").as("k"))
      val probes = corr.select(col("ckey"), col("cname"),
          explode(array(
            struct(lit(1).as("seg"), expr("substring(cname, 1, 16)").as("k")),
            struct(lit(2).as("seg"), expr("substring(cname, 16, 16)").as("k")))).as("sk"))
        .select(col("ckey"), col("cname"), col("sk.seg").as("seg"), col("sk.k").as("k"))
      probes.join(segs, Seq("seg", "k"))
        .select(col("ckey"), col("okey"), col("cname"), col("oname")).distinct()
        .withColumn("dist", levenshtein(col("cname"), col("oname")))
        .filter(col("dist") <= 1)
        .select(col("ckey"), col("okey"), col("dist"))
    },
    Some("""WITH orig AS (
           |  SELECT c_custkey AS okey, md5(CAST(c_custkey AS VARCHAR)) AS oname
           |  FROM customer),
           |corr AS (
           |  SELECT c_custkey AS ckey,
           |    substr(md5(CAST(c_custkey AS VARCHAR)), 1,
           |           CAST(c_custkey % 32 AS INT))
           |      || substr(md5(CAST(c_custkey AS VARCHAR)),
           |           CAST(c_custkey % 32 AS INT) + 2) AS cname
           |  FROM customer)
           |SELECT c.ckey, o.okey,
           |  CAST(levenshtein(c.cname, o.oname) AS INT) AS dist
           |FROM corr c, orig o
           |WHERE levenshtein(c.cname, o.oname) <= 1""".stripMargin),
    doc = "Blocked fuzzy match: Pass-Join segment pigeonhole + levenshtein verify; oracle brute-forces all pairs, equality proves blocking lossless (text #20).")

  // ---- D37: boilerplate scrub (apply chunk-level dedup back to the text) -----
  // The removal pass d29's repeated-chunk table exists for: tile every doc
  // into NON-overlapping 32-word tiles (removal needs a partition of the
  // text, unlike d28's overlapping windows), keep each distinct tile's
  // globally FIRST occurrence (ordered by doc_id, tile_no — deterministic),
  // drop every later occurrence, and reassemble the surviving text in tile
  // order. The only wide operations are a hash-partitioned ranking window
  // keyed by the tile digest (bounded by that digest's occurrence count —
  // the d29 duplication profile, not the corpus) and the per-doc
  // reassembly aggregate. Output carries the cleaned text as a digest so
  // the whole reassembly is hash-pinned.
  private val d37 = GQuery(
    "d37_boilerplate_scrub",
    (s, dir) => {
      val w = split(col("text"), " ")
      val tiles = t(s, dir, "documents")
        .select(col("doc_id"), w.as("w"), size(w).as("n"))
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0), (col("n") + 31).divide(32).cast("int") - 1))
            .as("i"))
        .select(col("doc_id"), col("i"),
          array_join(slice(col("w"), col("i") * 32 + 1, lit(32)), " ").as("tile"))
        .withColumn("digest", md5(col("tile")))
      val rankW = Window.partitionBy(col("digest"))
        .orderBy(col("doc_id"), col("i"))
      tiles.withColumn("rn", row_number().over(rankW))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tiles"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("i"), col("tile"))))),
            x => x.getField("tile")), " ")).as("cleaned_digest"))
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
           |         len(string_split(text, ' ')) AS n FROM documents),
           |ex AS (SELECT doc_id, w, unnest(range(0, (n + 31) // 32)) AS i FROM d),
           |tl AS (SELECT doc_id, CAST(i AS INT) AS i,
           |         array_to_string(w[(i*32+1):(i*32+32)], ' ') AS tile
           |       FROM ex),
           |rk AS (SELECT doc_id, i, tile,
           |         row_number() OVER (PARTITION BY md5(tile)
           |           ORDER BY doc_id, i) AS rn
           |       FROM tl)
           |SELECT doc_id, count(*) AS n_tiles,
           |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  md5(coalesce(string_agg(CASE WHEN rn = 1 THEN tile END, ' ' ORDER BY i),
           |               '')) AS cleaned_digest
           |FROM rk GROUP BY doc_id""".stripMargin),
    doc = "Boilerplate scrub: drop repeated 32-word tiles (global first occurrence wins), reassembled text hash-pinned (text #16).")

  // ---- D34: BPE merge statistics (adjacent-pair frequency counting) ---------
  // The distributed kernel inside byte-pair-encoding tokenizer training:
  // count every adjacent symbol pair across the corpus and surface the
  // top candidates for the next merge. Pair extraction is a map-side
  // explode (per word: len-1 pairs via transform over an index sequence —
  // no shuffle until the count), the count is one hash aggregate with
  // map-side partials, and the top-50 is TakeOrdered with a deterministic
  // (count desc, pair) total order. A full BPE trainer loops this kernel,
  // collecting ONE winning pair per round to the driver (bounded, the e5
  // centroid discipline) and re-tokenizing map-side.
  private val d34 = GQuery(
    "d34_bpe_pair_stats",
    (s, dir) => {
      val w = col("w")
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(w) >= 2)
        .select(explode(transform(sequence(lit(1), length(w) - 1),
          i => w.substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(50)
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
           |pairs AS (
           |  SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair
           |  FROM words WHERE len(w) >= 2)
           |SELECT pair, count(*) AS cnt FROM pairs
           |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin),
    doc = "BPE training kernel: corpus-wide adjacent-pair counts, top-50 merge candidates (tokenizer #1).")

  // ---- D41: BPE merge application (one full train->apply->recount round) ----
  // The loop d34's kernel exists for, demonstrated end to end: pick the top
  // adjacent-pair merge (restricted to pairs with DISTINCT halves, which
  // cannot self-overlap — so the greedy left-to-right merge is a pure
  // per-position decision, no sequential scan state), re-tokenize every
  // word map-side (chars -> symbols via flag/filter/transform lambdas — no
  // UDF, no shuffle), and recount adjacent SYMBOL pairs for the next
  // round's candidates. The winning pair is driver-collected (ONE row — the
  // documented d34/e5 bounded-collect discipline); the oracle re-derives
  // the same winner as a scalar CTE and replays the identical merge with
  // list comprehensions.
  private val d41 = GQuery(
    "d41_bpe_apply_merge",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // r14 (guide §2.3/§2.4 — the d51 trainer shape applied to the single
      // round): collapse the corpus ONCE into the (word, freq) vocabulary
      // table; the pair count, merge tally and recount are then
      // frequency-weighted aggregates over thousands of distinct words
      // instead of three separate corpus-sized explode passes. The algebra
      // is exact — counting a pair over word OCCURRENCES equals summing
      // freq over distinct words (integer sums) — so the argmax, the
      // tie-break (cnt desc, pair asc) and every output count are
      // unchanged, which the oracle hash re-proves.
      val wordFreq = docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .persist() // vocabulary-sized; reclaimed by the bench's clearCache
      val top = wordFreq
        .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"), col("freq"))
        .filter(substring(col("pair"), 1, 1) =!= substring(col("pair"), 2, 1))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .head().getString(0)
      // apply the merge by MARKER SUBSTITUTION: the winning pair has distinct
      // halves, so occurrences cannot overlap and left-to-right replace IS
      // the greedy merge. One regexp_replace (literal-quoted) collapses each
      // occurrence to a 1-char sentinel (corpus is ASCII —  cannot
      // collide), after which every symbol is exactly one char of w2:
      // merge count = length shrink, symbol pairs = adjacent chars with the
      // sentinel mapped back to the merged token. No per-position array
      // lambdas at all — each pair label is two O(1) substrs.
      val marker = ""
      val w2 = regexp_replace(col("w"),
        lit(java.util.regex.Pattern.quote(top)), lit(marker))
      // one BPE round's output: the re-tokenized vocabulary (what the next
      // round trains on) — derives from the cached wordFreq per reference
      val merged = wordFreq.select(w2.as("w2"), col("freq"),
        ((length(col("w")) - length(w2)).cast("long") * col("freq")).as("nm"))
      val nMerges = merged.agg(sum(col("nm"))).head().getLong(0)
      def sym(j: Column) = {
        val ch = col("w2").substr(j, lit(1))
        when(ch === marker, lit(top)).otherwise(ch)
      }
      val next = merged
        .filter(length(col("w2")) >= 2)
        .select(explode(transform(sequence(lit(1), length(col("w2")) - 1),
          i => concat(sym(i), lit("+"), sym(i + 1)))).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(10)
        .select(lit("next").as("kind"), col("pair"), col("cnt"))
      import s.implicits._
      next.unionAll(
        Seq(("applied", top, nMerges)).toDF("kind", "pair", "cnt"))
    },
    Some("""WITH words AS (
           |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
           |ww AS (SELECT w FROM words WHERE len(w) >= 2),
           |cand AS (
           |  SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair
           |  FROM ww),
           |top AS (
           |  SELECT pair FROM cand
           |  WHERE substr(pair, 1, 1) <> substr(pair, 2, 1)
           |  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1),
           |ch AS (SELECT w, [w[i] for i in range(1, len(w) + 1)] AS c FROM ww),
           |fl AS (SELECT w, c,
           |  [CASE WHEN i < len(c) AND c[i] = substr(t.pair, 1, 1)
           |             AND c[i+1] = substr(t.pair, 2, 1)
           |        THEN 1 ELSE 0 END for i in range(1, len(c) + 1)] AS f
           |  FROM ch CROSS JOIN top t),
           |sy AS (SELECT w,
           |  [CASE WHEN f[i] = 1 THEN c[i] || c[i+1] ELSE c[i] END
           |   for i in range(1, len(c) + 1) if NOT (i > 1 AND f[i-1] = 1)] AS syms,
           |  len(list_filter(f, x -> x = 1)) AS nm
           |  FROM fl),
           |np AS (
           |  SELECT unnest([syms[i] || '+' || syms[i+1]
           |                 for i in range(1, len(syms))]) AS pair
           |  FROM sy WHERE len(syms) >= 2),
           |topnext AS (
           |  SELECT 'next' AS kind, pair, count(*) AS cnt FROM np
           |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 10)
           |SELECT kind, pair, cnt FROM topnext
           |UNION ALL
           |SELECT 'applied', t.pair, (SELECT CAST(sum(nm) AS BIGINT) FROM sy)
           |FROM top t""".stripMargin),
    doc = "BPE round closed: train top merge, apply map-side (overlap-free by construction), recount (tokenizer #2).")

  // ---- D51: multi-round BPE training loop (the loop d34/d41 exist for) -------
  // Five full train->apply rounds of byte-pair encoding, driver-iterated:
  // each round counts adjacent symbol pairs (d34's kernel), collects ONE
  // winning merge to the driver (bounded state — 5 strings total), and
  // applies it map-side by d41's marker substitution, so after round r every
  // symbol is exactly one char (original chars + r private-use markers).
  // Candidates are restricted to distinct-halves pairs (cannot self-overlap,
  // so replace-all IS the greedy merge) — the same restriction both engines
  // share. The trainer works the way a REAL tokenizer trainer does: the
  // corpus collapses ONCE into a (word, freq) table — the only corpus-sized
  // shuffle — and every round's pair count, merge application and metric is
  // a frequency-weighted aggregate over the distinct-word table (vocabulary-
  // sized, thousands of rows at any corpus scale), which is why a 32k-merge
  // production run of this loop is affordable: per-round cost is independent
  // of corpus size. Marker substitution is INJECTIVE (the marker is fresh,
  // the pair fully determines the preimage), so the frequency keys stay
  // distinct across rounds with no regrouping. Round metrics need no extra
  // shape: n_merges = freq-weighted total-char shrink between rounds,
  // vocabulary = distinct chars over distinct words. Winners are collected
  // one per round (driver state: 5 strings, the d34/e5 bounded-collect
  // discipline) and expanded through the marker table; the oracle replays
  // the identical five rounds unrolled (same tie-break: count desc, raw
  // pair asc — byte order agrees across engines) and expands winners
  // through the same marker CASE chain.
  private val d51 = GQuery(
    "d51_bpe_train_loop",
    (s, dir) => {
      import s.implicits._
      val pairsOf = (w: Column) => explode(transform(
        sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2))))
      // (r14 negative A/B, kept as the guide's §1.3 "ideal plan is slower"
      // case: replacing the per-round EAGER localCheckpoint with persist()
      // measured 1.2 -> 1.9 s — DF caching builds compressed columnar
      // batches per round — and with a LAZY checkpoint 1.2 -> 1.6 s. The
      // eager cut's extra job per round is cheaper than either on this
      // vocabulary-sized state; left as-is.)
      var w = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      def stats(df: DataFrame): (Long, Long) = {
        // split(w, "") keeps a trailing "" (Java split, limit -1) — drop it
        // from the symbol set or vocab counts one phantom symbol
        val r = df.agg(
          sum(length(col("w")) * col("freq")),
          size(array_remove(
            array_distinct(flatten(collect_list(split(col("w"), "")))), ""))
            .cast("long")).head()
        (r.getLong(0), r.getLong(1))
      }
      var (totChars, _) = stats(w)
      var expand = Map.empty[Char, String]
      val rounds = (1 to 5).map { r =>
        val marker = (0xE000 + r).toChar
        // re-filter len >= 2 EVERY round (the oracle's c$r does too): a word
        // that collapsed to one symbol has no pairs — without the filter,
        // sequence(1, 0) degenerates and emits phantom 1-char "pairs" that
        // could flip the argmax against the oracle
        val top = w.filter(length(col("w")) >= 2)
          .select(pairsOf(col("w")).as("pair"), col("freq"))
          .filter(substring(col("pair"), 1, 1) =!= substring(col("pair"), 2, 1))
          .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1)
          .head().getString(0)
        val prev = w
        w = w.select(regexp_replace(col("w"),
            lit(java.util.regex.Pattern.quote(top)), lit(marker.toString)).as("w"),
            col("freq"))
          .localCheckpoint()
        prev.unpersist()
        val (tot, vocab) = stats(w)
        val nMerges = totChars - tot
        totChars = tot
        val token = top.map(ch => expand.getOrElse(ch, ch.toString)).mkString
        expand += marker -> token
        (r, token, nMerges, vocab)
      }
      w.unpersist()
      rounds.toDF("round", "merged_token", "n_merges", "vocab_size")
    },
    Some {
      // the same five rounds unrolled: w{r} applies round r's winner, tok{r}
      // expands it through the prior winners' marker mapping
      def exp(half: String, r: Int): String =
        if (r == 1) half
        else s"CASE $half " + (1 until r).map(j =>
          s"WHEN chr(${0xE000 + j}) THEN (SELECT tok FROM tok$j) ").mkString +
          s"ELSE $half END"
      val roundCtes = (1 to 5).map { r =>
        s"""c$r AS (
           |  SELECT unnest([substr(w, i, 2) for i in range(1, len(w))]) AS pair
           |  FROM w${r - 1} WHERE len(w) >= 2),
           |win$r AS (
           |  SELECT pair FROM c$r
           |  WHERE substr(pair, 1, 1) <> substr(pair, 2, 1)
           |  GROUP BY pair ORDER BY count(*) DESC, pair LIMIT 1),
           |tok$r AS (
           |  SELECT ${exp("substr(pair, 1, 1)", r)} ||
           |         ${exp("substr(pair, 2, 1)", r)} AS tok FROM win$r),
           |w$r AS (
           |  SELECT replace(w, (SELECT pair FROM win$r), chr(${0xE000 + r})) AS w
           |  FROM w${r - 1}),
           |s$r AS (SELECT CAST(sum(len(w)) AS BIGINT) AS tot FROM w$r),
           |v$r AS (
           |  SELECT count(DISTINCT c) AS vocab FROM (
           |    SELECT unnest([w[i] for i in range(1, len(w) + 1)]) AS c
           |    FROM w$r) t)""".stripMargin
      }.mkString(",\n")
      val roundRows = (1 to 5).map { r =>
        s"""SELECT $r AS round, (SELECT tok FROM tok$r) AS merged_token,
           |  (SELECT tot FROM s${r - 1}) - (SELECT tot FROM s$r) AS n_merges,
           |  (SELECT vocab FROM v$r) AS vocab_size""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH words AS (
         |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
         |w0 AS (SELECT w FROM words WHERE len(w) >= 2),
         |s0 AS (SELECT CAST(sum(len(w)) AS BIGINT) AS tot FROM w0),
         |$roundCtes
         |$roundRows""".stripMargin
    },
    doc = "Multi-round BPE training: 5 train->apply rounds, one driver-collected winner each, oracle replays the unrolled loop (tokenizer #3).")

  // ---- D45: incremental dedup-index fold --------------------------------------
  // The i-series fold==rebuild discipline applied to the DEDUP domain: the
  // exact-dup index (content hash -> kept id, copy count) is maintained by
  // folding per-batch partial indexes through a merge whose algebra
  // (min, sum) is associative and commutative — so ingest order, batch
  // boundaries and retry interleavings all converge to d1's one-shot answer,
  // which is exactly what the oracle states. At 100 TB this is the
  // difference between re-hashing the corpus per ingest and hashing only
  // the new batch: merge cost is index-sized, not corpus-sized.
  private val d45 = GQuery(
    "d45_incremental_dedup_index",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      def state(b: DataFrame): DataFrame = b
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      Seq(0, 1, 2)
        .map(r => state(docs.filter(pmod(col("doc_id"), lit(3)) === r)))
        .reduce { (a, b) =>
          a.union(b).groupBy(col("text_hash"))
            .agg(min(col("keep_id")).as("keep_id"),
              sum(col("n_copies")).as("n_copies"))
        }
    },
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           |  count(*) AS n_copies
           |FROM documents GROUP BY md5(text)""".stripMargin),
    doc = "Incremental dedup index: per-batch partials folded via (min, sum) == one-shot d1 (dedup #6).")

  // ---- D46: containment near-dup (overlap coefficient) ------------------------
  // |A∩B| / min(|A|,|B|): the asymmetric face of d2 — a 30-word notice
  // quoted verbatim inside a 3000-word page scores ~1.0 here but ~0.01
  // Jaccard, so threshold-on-Jaccard pipelines systematically MISS
  // containment duplication. Same DF-capped inverted index and bucket
  // explode as d2 (shared pairStats core — the measure is derived from the
  // identical exact integers), so the scale shape is d2's.
  private val d46 = GQuery(
    "d46_containment_dedup",
    (s, dir) => overlapPairsShared(s, dir, 0.8, DfCap),
    Some(cappedPairOracle(DfCap,
      """round(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap,
        |  least(sa.n, sb.n) AS n_small""".stripMargin,
      "CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8")),
    doc = "Containment dedup: overlap coefficient >= 0.8 over the d2 capped index (dedup #7).")

  // ---- D47: shared-span evidence (order-sensitive dedup) ----------------------
  // Set-similarity (d2/d3/d46) says HOW MUCH two docs share; d47 says HOW —
  // the longest CONTIGUOUS run of shared 3-gram shingles per near-dup pair,
  // the evidence a substring-level dedup (Lee et al.'s "Deduplicating
  // Training Data" family) acts on. Positional shingles of each d2 pair are
  // matched, runs are found by the diagonal trick (a match at (ia, ib) and
  // its successor at (ia+1, ib+1) share ia-ib — so islands of consecutive ia
  // within one diagonal ARE the contiguous spans; one partitioned window,
  // integer-exact). Scope is bounded twice: only d2's near-dup pairs are
  // span-scanned (pair-count-scale, not corpus-scale), and the positional
  // postings ride the same distinct-doc DF cap as d2's index.
  private val d47 = GQuery(
    "d47_shared_span_dedup",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = jaccardPairsShared(s, dir, 0.5, DfCap).select(col("doc_a"), col("doc_b"))
      // r13 (guide §2.3): only pair MEMBERS need positional shingles — the
      // span scan is pair-scoped by construction, so the positional explode
      // runs over the (broadcast) member set instead of the whole corpus.
      // The DF cap must stay CORPUS-wide (df counts every document), so the
      // heavy set derives from the distinct-shingle stream hashedShingles
      // already defines — the identical (doc_id, hv) distinct universe the
      // old positional-distinct spelling produced.
      // r14 (scale-hardening, VERDICT r13 #3): no forced broadcast on the
      // pair-member set or the heavy-shingle set — neither is driver-
      // bounded at corpus scale (near-dup membership and df>cap vocabulary
      // both grow with the data). AQE picks broadcast at runtime while the
      // materialized sides are small and degrades to a shuffled join when
      // they are not, instead of OOMing the driver.
      val members = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      val psh0 = hashedShinglesPos(
        docs.join(members, Seq("doc_id"), "left_semi"))
      val heavy = hashedShingles(docs)
        .groupBy(col("hv")).agg(count(lit(1)).as("df"))
        .filter(col("df") > DfCap)
      val psh = psh0.join(heavy, Seq("hv"), "left_anti")
      val m = pairs
        .join(psh.select(col("doc_id").as("doc_a"), col("pos").as("ia"), col("hv")),
          Seq("doc_a"))
        .join(psh.select(col("doc_id").as("doc_b"), col("pos").as("ib"), col("hv")),
          Seq("doc_b", "hv"))
        .withColumn("diag", col("ia") - col("ib"))
      val wD = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
        .orderBy(col("ia"))
      m.withColumn("island", col("ia") - row_number().over(wD))
        .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
        .agg(count(lit(1)).as("run"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("run")).as("max_run_shingles"))
        .withColumn("max_run_words", col("max_run_shingles") + 2)
    },
    Some(s"""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            |dq AS (SELECT doc_id, w FROM docs WHERE len(w) >= 3),
            |sh2 AS (SELECT doc_id,
            |  [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)] AS s
            |  FROM dq),
            |psh AS (SELECT doc_id, unnest(s) AS shingle,
            |        generate_subscripts(s, 1) AS pos FROM sh2),
            |dd AS (SELECT DISTINCT doc_id, shingle FROM psh),
            |keep AS (SELECT shingle FROM dd GROUP BY shingle
            |         HAVING count(*) <= $DfCap),
            |pshk AS (SELECT psh.doc_id, psh.shingle, psh.pos
            |         FROM psh JOIN keep USING (shingle)),
            |ex AS (SELECT dd.doc_id, dd.shingle FROM dd JOIN keep USING (shingle)),
            |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            |       FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            |       GROUP BY 1, 2),
            |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
            |pairs AS (SELECT doc_a, doc_b FROM pr
            |          JOIN sizes sa ON doc_a = sa.doc_id
            |          JOIN sizes sb ON doc_b = sb.doc_id
            |          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
            |m AS (SELECT p.doc_a, p.doc_b, a.pos AS ia, b.pos AS ib
            |      FROM pairs p
            |      JOIN pshk a ON a.doc_id = p.doc_a
            |      JOIN pshk b ON b.doc_id = p.doc_b AND b.shingle = a.shingle),
            |isl AS (SELECT doc_a, doc_b, ia - ib AS diag, ia,
            |          ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
            |                                  ORDER BY ia) AS island
            |        FROM m),
            |runs AS (SELECT doc_a, doc_b, diag, island, count(*) AS run
            |         FROM isl GROUP BY 1, 2, 3, 4)
            |SELECT doc_a, doc_b, max(run) AS max_run_shingles,
            |  max(run) + 2 AS max_run_words
            |FROM runs GROUP BY 1, 2""".stripMargin),
    doc = "Shared-span evidence: longest contiguous shingle run per near-dup pair via the diagonal trick (dedup #8).")

  // ---- D54: tokenizer vocabulary coverage / OOV rate --------------------------
  // The acceptance test every tokenizer swap runs before a training
  // launch: with a FIXED vocabulary (here: the corpus top-500 by
  // frequency, deterministically tie-broken — a stand-in for a shipped
  // tokenizer's vocab file), what fraction of each document's tokens are
  // out-of-vocabulary, and what corpus-level coverage does the vocab buy?
  // Scale shape: the vocab is bounded by construction (broadcast), the
  // membership test is a broadcast LEFT SEMI-style join flag on the token
  // stream (no shuffle of the corpus), and the per-doc/per-corpus rates
  // are one hash aggregate — exact integer counts; the single
  // rate division is two exact ints into one IEEE double, gateable
  // unrounded.
  private val d54 = GQuery(
    "d54_oov_rate",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), explode(words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok")).limit(500)
        .select(col("tok"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
          countDistinct(when(col("in_vocab").isNull, col("tok"))).as("n_oov_types"),
          (sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("double")
            / count(lit(1))).as("oov_rate"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
           |  FROM documents),
           |t2 AS (SELECT * FROM toks WHERE tok <> ''),
           |vocab AS (
           |  SELECT tok FROM (
           |    SELECT tok, count(*) AS tf FROM t2 GROUP BY tok
           |    ORDER BY tf DESC, tok LIMIT 500) v),
           |flagged AS (
           |  SELECT t2.source, t2.tok,
           |    CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END AS oov
           |  FROM t2 LEFT JOIN vocab ON t2.tok = vocab.tok)
           |SELECT source, count(*) AS n_tokens,
           |  CAST(sum(oov) AS BIGINT) AS n_oov,
           |  count(DISTINCT CASE WHEN oov = 1 THEN tok END) AS n_oov_types,
           |  CAST(CAST(sum(oov) AS BIGINT) AS DOUBLE) / count(*) AS oov_rate
           |FROM flagged GROUP BY source""".stripMargin),
    doc = "Tokenizer-vocab OOV screen: top-500 vocab coverage per source, exact counts + one-division rate (text #23).")

  // ---- D55: intra-document repetition filters (Gopher-style) ------------------
  // The OTHER repetition axis next to cross-document dedup (d1/d2/d3): a
  // single document repeating ITSELF — boilerplate loops, templated spans,
  // decoding artifacts — which the Gopher/MassiveText quality rules screen
  // with n-gram repetition fractions (Rae et al. 2021, public). Two of the
  // battery here, exact-arithmetic so the whole screen sits under the hash
  // gate:
  //   - top-2-gram fraction: characters covered by occurrences of the most
  //     frequent word 2-gram / document characters (threshold 0.20);
  //   - duplicate-5-gram fraction: 5-gram positions whose gram occurs more
  //     than once / all 5-gram positions (threshold 0.15).
  // Ties on the top gram break to the lexicographically smallest (the
  // deterministic-argmax discipline); short documents yield NULL fractions
  // and pass. Scale shape: per-doc explode -> hash aggregates keyed by
  // (doc_id, gram) — map-side combinable, no window over the corpus, output
  // one row per document.
  private val d55 = GQuery(
    "d55_gopher_repetition",
    (s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("tl"),
          split(col("text"), " ").as("w"))
        .withColumn("nw", size(col("w")))
      val g2 = base.filter(col("nw") >= 2).select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1)," +
          " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))")).as("g"))
      val c2 = g2.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      val wTop = Window.partitionBy(col("doc_id")).orderBy(col("c").desc, col("g"))
      val top2 = c2.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
        .select(col("doc_id"), col("g").as("top2_gram"), col("c").as("c2"))
      // r13 (guide §2.3): the 5-gram branch outputs only COUNTS, never a
      // gram string, so it counts by 64-bit hashes — one word-hash array
      // per doc, one xxhash64 combine per position — instead of building
      // and shuffling ~50-char concat strings per position (equal grams
      // hash equal; the d2/d3 collision exposure). The 2-gram branch keeps
      // strings: its output and tie-break need them.
      val g5 = base.filter(col("nw") >= 5)
        .select(col("doc_id"), expr("transform(w, x -> xxhash64(x))").as("hw"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(hw) - 4)," +
            " i -> xxhash64(hw[i-1], hw[i], hw[i+1], hw[i+2], hw[i+3]))")).as("g"))
      val d5 = g5.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("c") >= 2, col("c")).otherwise(0L)).cast("long").as("dup_pos"),
          sum(col("c")).cast("long").as("tot_pos"))
      base.select(col("doc_id"), col("tl"), col("nw"))
        .join(top2, Seq("doc_id"), "left")
        .join(d5, Seq("doc_id"), "left")
        .withColumn("top2_frac",
          (col("c2") * length(col("top2_gram"))).cast("double") / col("tl"))
        .withColumn("dup5_frac", col("dup_pos").cast("double") / col("tot_pos"))
        .withColumn("keep", (coalesce(col("top2_frac") <= 0.2, lit(true)) &&
          coalesce(col("dup5_frac") <= 0.15, lit(true))).cast("int"))
        .select(col("doc_id"), col("nw").as("n_words"), col("top2_gram"),
          col("top2_frac"), col("dup5_frac"), col("keep"))
    },
    Some("""WITH w AS (
           |  SELECT doc_id, length(text) AS tl, string_split(text, ' ') AS w
           |  FROM documents),
           |sh AS (SELECT doc_id, tl, len(w) AS nw,
           |  [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS g2s,
           |  [w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
           |   for i in range(1, len(w) - 3)] AS g5s
           |  FROM w),
           |c2 AS (SELECT doc_id, g, count(*) AS c
           |       FROM (SELECT doc_id, unnest(g2s) AS g FROM sh) GROUP BY 1, 2),
           |top2 AS (SELECT doc_id, g AS top2_gram, c FROM (
           |  SELECT doc_id, g, c,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
           |  FROM c2) WHERE rn = 1),
           |c5 AS (SELECT doc_id, g, count(*) AS c
           |       FROM (SELECT doc_id, unnest(g5s) AS g FROM sh) GROUP BY 1, 2),
           |d5 AS (SELECT doc_id,
           |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_pos,
           |         CAST(sum(c) AS BIGINT) AS tot_pos
           |       FROM c5 GROUP BY 1)
           |SELECT sh.doc_id, CAST(sh.nw AS INT) AS n_words, top2.top2_gram,
           |  CAST(top2.c * length(top2.top2_gram) AS DOUBLE) / sh.tl AS top2_frac,
           |  CAST(d5.dup_pos AS DOUBLE) / d5.tot_pos AS dup5_frac,
           |  CAST((coalesce(CAST(top2.c * length(top2.top2_gram) AS DOUBLE) / sh.tl <= 0.2, TRUE)
           |    AND coalesce(CAST(d5.dup_pos AS DOUBLE) / d5.tot_pos <= 0.15, TRUE)) AS INT) AS keep
           |FROM sh
           |LEFT JOIN top2 ON top2.doc_id = sh.doc_id
           |LEFT JOIN d5 ON d5.doc_id = sh.doc_id""".stripMargin),
    doc = "Gopher-style intra-doc repetition screen: top-2-gram coverage + duplicate-5-gram fraction, exact arithmetic (text #22).")

  override val all: Seq[GQuery] =
    Seq(d1, d2, d3, d4, d5, d6, d7, d8, d10, d11, d20, d21, d22, d23, d24, d25, d26,
      d27, d28, d29, d30, d31, d32, d33, d34, d37, d41, d45, d46, d47, d48, d49,
      d50, d51, d54, d55)
}
