package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{GQuery, QueryPack, Tables}

/** Corpus-curation operators a large-scale training-data pipeline needs on
  * top of pairwise dedup: duplicate-cluster resolution, deterministic
  * train/test splitting, staged quality filtering, and token-budget packing.
  *
  * Scale notes (100 TB posture):
  *   - d12 connected components is iterative min-label propagation over the
  *     near-dup edge list: every step is a shuffle-join + hash aggregate
  *     (both distributed), lineage is cut per iteration with a checkpoint,
  *     and convergence is O(max component diameter) rounds — near-dup
  *     clusters are shallow (dup chains, not long paths), so a handful of
  *     rounds suffices at any corpus size. No driver-side graph state.
  *   - d13 split assignment is a pure per-row hash — no sampling state, no
  *     shuffle, and the assignment of an existing doc never changes when the
  *     corpus grows (the property that matters for reproducible evals).
  *   - d14 is per-row expressions + one hash aggregate: map-side partials,
  *     5-row output.
  *   - d15 uses the two-level distributed prefix scan: per-block cumulative
  *     sums in parallel, then a tiny global window over ONE ROW PER BLOCK
  *     (n/blockSize rows) to compute block offsets — the classic fix for
  *     the single-partition global-window anti-pattern.
  */
object CorpusOps extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- D12: duplicate clusters via distributed connected components ---------

  /** Min-label propagation with pointer jumping, to a fixpoint. `edgesIn`
    * must carry (u, v) with BOTH directions present. Each doc converges to
    * the minimum doc_id reachable from it (its component id).
    *
    * Each round does two distributed steps:
    *   1. neighbor propagation — every doc takes the min of its own and its
    *      neighbors' labels (shuffle-join on the edge list + hash agg);
    *   2. pointer jump — `lbl(v) := lbl(lbl(v))` via a self-join of the
    *      label table (labels are always doc ids of the vertex set, so the
    *      lookup is closed). The jump halves the length of every label
    *      chain, so convergence is O(log diameter) rounds rather than
    *      O(diameter) — the difference that matters if a duplicate "chain"
    *      (a → b → c → …) ever gets long at corpus scale.
    *
    * Iterations are bounded and the fixpoint is detected by the
    * (monotone-decreasing) label checksum, so termination never depends on
    * a guess. Lineage is cut every round so plan size stays O(1): by
    * `localCheckpoint` (executor-local blocks) by default, or by a RELIABLE
    * `checkpoint` when `spark.graft.checkpointDir` is set — on a real
    * cluster localCheckpoint blocks die with their executor mid-job, so a
    * production run points the knob at durable storage (HDFS/S3) and every
    * round's cut survives executor loss.
    */
  private[queries] def connectedComponents(edgesIn: DataFrame, maxIters: Int = 25): DataFrame = {
    def cut(df: DataFrame): DataFrame = graft.core.Lineage.cut(df)
    val edges = edgesIn.select(col("u"), col("v")).persist()
    def checksum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    // r14 (guide §1.2 job-count discipline): the round state only needs an
    // EAGER cut where it is referenced twice inside one plan (the
    // pointer-jump self-join of `stepped`). The round OUTPUT is referenced
    // once per consumer, so `next` takes a LAZY localCheckpoint — the
    // checksum collect materializes it as a side effect, where the old
    // eager cut + checksum paid two jobs per round. (A DataFrame persist()
    // measured slower here: DF caching builds compressed columnar batches
    // per round; the checkpoint stores raw rows.) The initial fixpoint
    // checksum also folds away: prev starts empty and the first round
    // always runs (labels == fixpoint already is detected one round later,
    // exactly as before — the checksum is monotone).
    var labels = cut(edges.select(col("u").as("doc")).distinct()
      .select(col("doc"), col("doc").as("lbl")))
    var prev: Option[java.math.BigDecimal] = None
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      val prop = edges.join(labels, edges("u") === labels("doc"))
        .select(edges("v").as("doc"), col("lbl"))
      // materialize BEFORE the self-join below — otherwise both join sides
      // recompute the whole union+aggregate and the round costs double
      val stepped = cut(labels.union(prop)
        .groupBy(col("doc")).agg(min(col("lbl")).as("lbl")))
      // pointer jump: lbl(v) := lbl(lbl(v)); lbl(x) <= x invariantly, so the
      // jumped label can only improve and stays within the component. The
      // lookup side re-aliases to fresh attributes — a raw self-join of the
      // same plan collides on attribute ids.
      val lookup = stepped.select(col("doc").as("p_doc"), col("lbl").as("p_lbl"))
      val next = graft.core.Lineage.cutLazy(
        stepped.join(lookup, col("lbl") === col("p_doc"))
          .select(col("doc"), col("p_lbl").as("lbl")))
      val cur = checksum(next)
      labels.unpersist()
      done = prev.exists(_.compareTo(cur) == 0)
      prev = Some(cur)
      labels = next
      it += 1
    }
    edges.unpersist()
    labels
  }

  /** DuckDB CTE chain ending in `comp(doc, lbl)`: the d2 exact-Jaccard edge
    * list resolved to connected components by a recursive min-label walk —
    * the oracle twin of [[connectedComponents]], shared by d12 and d16. */
  private val componentsSqlCtes: String =
    s"""${TextOps.shingleSqlCte},
       |ex0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |keep AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) <= ${TextOps.DfCap}),
       |ex AS (SELECT ex0.doc_id, ex0.shingle FROM ex0 JOIN keep USING (shingle)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
       |jp AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |          UNION ALL SELECT doc_b, doc_a FROM jp),
       |verts AS (SELECT DISTINCT u AS doc FROM edges),
       |walk AS (
       |  SELECT doc, doc AS lbl FROM verts
       |  UNION
       |  SELECT e.v AS doc, w.lbl FROM walk w JOIN edges e ON e.u = w.doc),
       |comp AS (SELECT doc, min(lbl) AS lbl FROM walk GROUP BY doc)""".stripMargin

  /** Near-dup pairs (d2 semantics, same threshold + DF cap) resolved into
    * duplicate clusters; output is one row per cluster with its canonical id
    * (the minimum member — the doc a dedup pass would keep). The DuckDB
    * oracle computes the same components with a recursive CTE over the
    * identical exact-Jaccard edge list. */
  /** (doc, lbl) membership of every doc that has at least one near-dup edge:
    * the d2 pairs turned into an undirected edge list and collapsed by
    * [[connectedComponents]]. Shared by d12 (cluster stats) and d16 (apply). */
  private def dupComponents(s: SparkSession, dir: String): DataFrame = {
    val jp = TextOps.jaccardPairsShared(s, dir, 0.5, TextOps.DfCap)
      .select(col("doc_a"), col("doc_b"))
    val edges = jp.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(jp.select(col("doc_b").as("u"), col("doc_a").as("v")))
    connectedComponents(edges)
  }

  private val d12 = GQuery(
    "d12_dedup_components",
    (s, dir) =>
      dupComponents(s, dir)
        .groupBy(col("lbl").as("component"))
        .agg(count(lit(1)).as("csize"), max(col("doc")).as("max_doc")),
    Some(s"""WITH RECURSIVE $componentsSqlCtes
            |SELECT lbl AS component, count(*) AS csize, max(doc) AS max_doc
            |FROM comp GROUP BY lbl""".stripMargin),
    doc = "Near-dup pairs resolved to duplicate clusters (connected components).")

  // ---- D16: apply the dedup — drop non-canonical members, keep the rest -----

  /** The operational end of the dedup story: every clustered doc EXCEPT its
    * cluster's canonical (minimum) member goes on the drop list, and the
    * surviving corpus is `documents LEFT ANTI JOIN drops`. No broadcast hint
    * on purpose: a lightly-duplicated corpus gives a broadcastable drop list
    * (AQE picks broadcast at runtime from the real size), while a heavily-
    * duplicated one gives a corpus-scale drop list that must shuffle — a
    * forced broadcast would OOM exactly when dedup matters most. Output is a
    * per-language survivor summary so the result stays compact and
    * hash-comparable. */
  private val d16 = GQuery(
    "d16_dedup_apply",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val drops = dupComponents(s, dir)
        .filter(col("doc") =!= col("lbl"))
        .select(col("doc").as("doc_id"))
      docs.join(drops, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("n_chars"))
    },
    Some(s"""WITH RECURSIVE $componentsSqlCtes,
            |drops AS (SELECT doc FROM comp WHERE doc <> lbl)
            |SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
            |FROM documents
            |WHERE doc_id NOT IN (SELECT doc FROM drops)
            |GROUP BY lang""".stripMargin),
    doc = "Dedup applied: anti-join the drop list, per-language survivor stats.")

  // ---- D36: dedup keep-best (quality-canonical representative) --------------
  // d16 keeps each cluster's MINIMUM doc id — the arbitrary-but-stable
  // policy. Production dedup keeps the BEST member (usually the longest /
  // highest-quality), because boilerplate-trimmed fragments cluster with
  // their fuller originals. Same component resolution, then a per-component
  // ranking window (bounded: partitions are cluster-sized) ordered by
  // (n_chars desc, doc) picks the representative; the aggregate emits one
  // row per cluster with the kept member. The window formulation is shared
  // with the oracle — DuckDB's arg_max can't take a composite orderer, and
  // the ranking states the tie-break explicitly.
  private val d36 = GQuery(
    "d36_dedup_keep_best",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val w = Window.partitionBy(col("lbl"))
        .orderBy(col("n_chars").desc, col("doc"))
      dupComponents(s, dir)
        .join(docs.select(col("doc_id").as("doc"), col("n_chars")), Seq("doc"))
        .withColumn("rn", row_number().over(w))
        .groupBy(col("lbl").as("component"))
        .agg(count(lit(1)).as("csize"),
          max(when(col("rn") === 1, col("doc"))).as("kept_doc"),
          max(when(col("rn") === 1, col("n_chars"))).as("kept_chars"))
    },
    Some(s"""WITH RECURSIVE $componentsSqlCtes,
            |scored AS (
            |  SELECT c.lbl, c.doc, d.n_chars,
            |    row_number() OVER (PARTITION BY c.lbl
            |      ORDER BY d.n_chars DESC, c.doc) AS rn
            |  FROM comp c JOIN documents d ON d.doc_id = c.doc)
            |SELECT lbl AS component, count(*) AS csize,
            |  max(CASE WHEN rn = 1 THEN doc END) AS kept_doc,
            |  max(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars
            |FROM scored GROUP BY lbl""".stripMargin),
    doc = "Dedup keep-best: longest member represents each near-dup cluster (dedup policy #2).")

  // ---- D38: domain-balancing resample (deterministic mixture control) -------
  // The data-mixing step of corpus assembly: downsample over-represented
  // sources toward equal mass per source. Per-source acceptance
  // probability p = min(1, target/size) computes from two exact counts
  // (ONE double division — bit-identical), the threshold is
  // floor(p * 2^32) compared against a 32-bit hash-uniform of the doc id —
  // so membership is a pure function of (doc_id, corpus composition):
  // no RNG state, reproducible on any engine, and a doc's fate never
  // changes when OTHER sources grow. Counts are metadata-sized broadcast
  // attaches; the acceptance filter is map-side.
  private val d38 = GQuery(
    "d38_domain_resample",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val bySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
      val tgt = broadcast(bySrc.agg(
        (sum(col("n_orig")).cast("double") / count(lit(1))).as("target")))
      val withP = broadcast(bySrc.crossJoin(tgt)
        .withColumn("p", least(lit(1.0), col("target") / col("n_orig")))
        .withColumn("thresh", floor(col("p") * lit(4294967296.0)).cast("long"))
        .select(col("source"), col("n_orig"), col("p"), col("thresh")))
      val u = conv(substring(md5(concat(lit("graft-mix:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      docs.join(withP, Seq("source"))
        .filter(u < col("thresh"))
        .groupBy(col("source"))
        .agg(max(col("n_orig")).as("n_orig"), count(lit(1)).as("n_kept"),
          round(max(col("p")), 6).as("p"))
    },
    Some("""WITH bysrc AS (SELECT source, count(*) AS n_orig FROM documents GROUP BY source),
           |tgt AS (SELECT CAST(sum(n_orig) AS DOUBLE) / count(*) AS target FROM bysrc),
           |wp AS (SELECT source, n_orig,
           |         least(1.0, target / n_orig) AS p,
           |         CAST(floor(least(1.0, target / n_orig) * 4294967296.0) AS BIGINT)
           |           AS thresh
           |       FROM bysrc CROSS JOIN tgt)
           |SELECT source, max(n_orig) AS n_orig, count(*) AS n_kept,
           |  round(max(p), 6) AS p
           |FROM documents JOIN wp USING (source)
           |WHERE CAST(('0x' || substring(md5('graft-mix:' || CAST(doc_id AS VARCHAR)), 1, 8))
           |           AS BIGINT) < thresh
           |GROUP BY source""".stripMargin),
    doc = "Domain-balancing resample: hash-threshold acceptance toward equal source mass (mixing #2).")

  // ---- D13: deterministic hash split (train/test) ---------------------------

  /** Salted-md5 bucket on doc_id: buckets 00..19 hex (26/256 ~ 10.2%) go to
    * test. Pure per-row function of the key — stable under corpus growth,
    * no RNG state, identical on any engine with md5. */
  private val d13 = GQuery(
    "d13_split_assign",
    (s, dir) => {
      val bucket = substring(
        md5(concat(lit("graft-split:"), col("doc_id").cast("string"))), 1, 2)
      t(s, dir, "documents").select(
        col("doc_id"),
        bucket.as("bucket"),
        when(bucket < lit("1a"), lit("test")).otherwise(lit("train")).as("split"))
    },
    Some("""SELECT doc_id,
           |  substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
           |  CASE WHEN substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
           |       THEN 'test' ELSE 'train' END AS split
           |FROM documents""".stripMargin),
    doc = "Deterministic hash-bucketed train/test assignment per document.")

  // ---- D14: staged quality-rule funnel (Gopher-style) -----------------------

  /** Four cumulative quality gates with per-stage survivor counts:
    * word count in [10, 5000]; mean word length in [2, 12]; symbol fraction
    * <= 0.10; contains the stopword " the ". Counts use count(CASE WHEN ..
    * THEN 1 END) on both engines so every output stays BIGINT (DuckDB's
    * sum() would widen to HUGEINT and break the hash compare). */
  private val d14 = GQuery(
    "d14_quality_funnel",
    (s, dir) => {
      val nw = size(split(col("text"), " "))
      val compact = length(regexp_replace(col("text"), " ", ""))
      val alnum = length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))
      val mwl = compact.cast("double") / nw
      val symFrac = (length(col("text")) - alnum).cast("double") / length(col("text"))
      val c1 = nw.between(10, 5000)
      val c2 = c1 && mwl.between(2.0, 12.0)
      val c3 = c2 && symFrac <= 0.10
      val c4 = c3 && concat(lit(" "), col("text"), lit(" ")).contains(" the ")
      t(s, dir, "documents")
        .agg(
          count(lit(1)).as("r0"),
          count(when(c1, lit(1))).as("r1"),
          count(when(c2, lit(1))).as("r2"),
          count(when(c3, lit(1))).as("r3"),
          count(when(c4, lit(1))).as("r4"))
        .select(expr(
          """stack(5,
            |  'r0_total', r0,
            |  'r1_words', r1,
            |  'r2_wordlen', r2,
            |  'r3_symbols', r3,
            |  'r4_stopword', r4) AS (stage, n_docs)""".stripMargin))
    },
    Some("""WITH f AS (
           |  SELECT
           |    len(string_split(text, ' ')) AS nw,
           |    CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mwl,
           |    CAST(len(text) - len(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
           |      / len(text) AS sym_frac,
           |    (' ' || text || ' ') LIKE '% the %' AS has_stop
           |  FROM documents),
           |g AS (
           |  SELECT
           |    nw BETWEEN 10 AND 5000 AS c1,
           |    nw BETWEEN 10 AND 5000 AND mwl BETWEEN 2.0 AND 12.0 AS c2,
           |    nw BETWEEN 10 AND 5000 AND mwl BETWEEN 2.0 AND 12.0 AND sym_frac <= 0.10 AS c3,
           |    nw BETWEEN 10 AND 5000 AND mwl BETWEEN 2.0 AND 12.0 AND sym_frac <= 0.10
           |      AND has_stop AS c4
           |  FROM f),
           |a AS (
           |  SELECT count(*) AS r0,
           |    count(CASE WHEN c1 THEN 1 END) AS r1,
           |    count(CASE WHEN c2 THEN 1 END) AS r2,
           |    count(CASE WHEN c3 THEN 1 END) AS r3,
           |    count(CASE WHEN c4 THEN 1 END) AS r4
           |  FROM g)
           |SELECT 'r0_total' AS stage, r0 AS n_docs FROM a
           |UNION ALL SELECT 'r1_words', r1 FROM a
           |UNION ALL SELECT 'r2_wordlen', r2 FROM a
           |UNION ALL SELECT 'r3_symbols', r3 FROM a
           |UNION ALL SELECT 'r4_stopword', r4 FROM a""".stripMargin),
    doc = "Staged quality-rule funnel with per-stage survivor counts.")

  // ---- D15: token-budget corpus packing (distributed prefix scan) -----------

  /** RECURSIVE distributed prefix sum: adds an inclusive running total
    * `cum` of `valueCol` in `orderCol` order. Each level scans blocks of
    * `fanout` order-units with a PARTITIONED window, then recurses on the
    * one-row-per-block totals; only at `depth` 1 does a global window run,
    * over rows the upper levels have already reduced by fanout^(depth-1).
    * No window at any level ever sees more than one block's rows — or, at
    * the base, more than (corpus / fanout^(depth-1)) rows — in a single
    * partition: depth 2 @ fanout 100 covers 10^4-row test corpora, depth 3
    * @ fanout 10^5 covers 10^15 docs. The join fanning offsets back is
    * hint-free: AQE broadcasts small levels, shuffles big ones. */
  private[queries] def prefixSum(df: DataFrame, orderCol: String,
                                 valueCol: String, fanout: Long,
                                 depth: Int): DataFrame = {
    require(depth >= 1, "prefixSum depth must be >= 1")
    if (depth == 1) {
      val w = Window.orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("cum", sum(col(valueCol)).over(w))
    } else {
      // depth-suffixed temp names: the recursive call's block column must
      // not collide with this level's (its orderCol IS this level's _blk)
      val blk = s"_blk$depth"
      val blocked = df.withColumn(blk, expr(s"`$orderCol` div $fanout"))
      val wIn = Window.partitionBy(col(blk)).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inBlock = blocked.withColumn("_cum_in", sum(col(valueCol)).over(wIn))
      val totals = blocked.groupBy(col(blk))
        .agg(sum(col(valueCol)).as("_btot"))
      val offsets = prefixSum(totals, blk, "_btot", fanout, depth - 1)
        .select(col(blk), (col("cum") - col("_btot")).as("_off"))
      inBlock.join(offsets, Seq(blk))
        .withColumn("cum", col("_cum_in") + col("_off"))
        .drop(blk, "_cum_in", "_off")
    }
  }

  /** Contiguous sharding by cumulative token budget (4096 tokens/shard):
    * shard(doc) = floor(tokens-before-doc / budget) in doc_id order, via the
    * recursive [[prefixSum]] at depth 3 — two partitioned levels reduce the
    * corpus by fanout^2 before the single global window runs, so no window
    * ever orders more than corpus/10^4 rows in one partition (raise fanout
    * with the corpus for deeper headroom; results are scan-shape invariant). */
  private val d15 = GQuery(
    "d15_pack_token_budget",
    (s, dir) => {
      val tok = t(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      prefixSum(tok, "doc_id", "n_tok", fanout = 100L, depth = 3)
        .withColumn("shard", expr("(cum - n_tok) div 4096"))
        .groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("shard_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           |  FROM documents),
           |cum AS (
           |  SELECT doc_id, n_tok,
           |    sum(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
           |      AND CURRENT ROW) AS cum
           |  FROM tok),
           |sh AS (SELECT doc_id, n_tok, CAST((cum - n_tok) // 4096 AS BIGINT) AS shard FROM cum)
           |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM sh GROUP BY shard""".stripMargin),
    doc = "Token-budget packing: contiguous 4096-token shards via a recursive depth-3 prefix scan.")

  // ---- D17: bigram language-model log-probability (perplexity-style filter) --

  /** Corpus-trained bigram LM score per document: sum over the doc's bigrams
    * of ln( count(w1 w2) / count(w1 ·) ) — the KenLM-style signal quality
    * filters threshold on ("does this doc read like the corpus?"). No global
    * scalar is needed because the model is conditional (prefix-normalized),
    * so everything is equi-joins and hash aggregates.
    *
    * Scale notes: the exploded bigram stream is reduced to 64-bit hashes
    * immediately (caching exploded STRINGS is the measured d3 perf trap) and
    * cached once — the bigram counts, prefix counts, and the scoring join
    * all reuse it. The count joins are big-big shuffle joins on the hash
    * key; the log terms go through DECIMAL(28,12) so the per-doc sum is
    * order-insensitive (ln() can differ in the last ulp across engines —
    * 12 fractional digits is far above that noise, far below the signal). */
  private[queries] def bigramLogProb(docs: DataFrame): DataFrame = {
      // r13 (guide §2.3/§2.4): two structural cuts vs the string-keyed form.
      // (1) Words are xxhash64'd ONCE into an array and each bigram key
      //     combines two array loads (the d2/d3 hashedShingles trick —
      //     building "w1 w2" strings re-evaluates split() per element and
      //     shuffles strings where two longs do); counts are unchanged
      //     because equal bigrams hash equal (the same collision exposure
      //     d2/d3 already accept).
      // (2) The prefix counts DERIVE from the distinct-bigram counts:
      //     c_pre(w1) = sum of c_bg over bigrams starting with w1, so the
      //     second corpus-wide aggregate and the second corpus-wide join of
      //     the old form collapse into vocabulary-sized work. The stream is
      //     aggregated once (by (hb, hw)) and joined once (on hb).
      val bg = docs
        .select(col("doc_id"), expr("transform(split(text, ' '), x -> xxhash64(x))").as("hw"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(hw) >= 2 THEN transform(sequence(1, size(hw) - 1),
            |  i -> struct(xxhash64(hw[i-1], hw[i]) AS hb, hw[i-1] AS hw1))
            |ELSE cast(array() AS array<struct<hb:bigint,hw1:bigint>>) END""".stripMargin))
          .as("e"))
        .select(col("doc_id"), col("e.hb").as("hb"), col("e.hw1").as("hw"))
        .cache() // two consumers (count + scoring join); 3 longs/row
      // one corpus-wide aggregate: occurrence count per distinct bigram
      // (hw rides in the key — it is determined by hb, so cardinality is
      // unchanged and no second pass is needed to recover the prefix)
      val cbg = bg.groupBy(col("hb"), col("hw")).agg(count(lit(1)).as("c_bg"))
      val cpre = cbg.groupBy(col("hw")).agg(sum(col("c_bg")).as("c_pre"))
      val lp = cbg.join(cpre, Seq("hw"))
        .select(col("hb"),
          (log(col("c_bg")) - log(col("c_pre"))).cast("decimal(28,12)").as("lp"))
      bg.join(lp, Seq("hb"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("lp")).cast("double").as("logprob_sum"))
  }

  private val d17 = GQuery(
    "d17_bigram_logprob",
    (s, dir) => bigramLogProb(t(s, dir, "documents")),
    Some("""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |bgl AS (SELECT doc_id,
           |  CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
           |       ELSE []::VARCHAR[] END AS l
           |  FROM docs),
           |bgw AS (SELECT doc_id, unnest(l) AS bg FROM bgl),
           |bgp AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bgw),
           |cbg AS (SELECT bg, count(*) AS c_bg FROM bgp GROUP BY bg),
           |cpre AS (SELECT w1, count(*) AS c_pre FROM bgp GROUP BY w1)
           |SELECT doc_id, count(*) AS n_bigrams,
           |  CAST(sum(CAST(ln(c_bg) - ln(c_pre) AS DECIMAL(28,12))) AS DOUBLE) AS logprob_sum
           |FROM bgp JOIN cbg USING (bg) JOIN cpre USING (w1)
           |GROUP BY doc_id""".stripMargin),
    doc = "Bigram LM log-prob per doc: corpus-conditional ln p(w2|w1) sums (quality filter).")

  // ---- D18: stratified (balanced per-group) sampling ------------------------

  /** Deterministic balanced subsample: at most K docs per language, chosen
    * by salted-hash order — the "equal representation per source/language"
    * sampling step of corpus assembly. Per-group windows keep state bounded
    * (no global sort), and the hash order makes the sample a pure function
    * of doc_id: re-running on a grown corpus can only swap docs whose hash
    * order changed within a stratum, never reshuffle across strata. */
  private val SamplePerLang = 100

  private val d18 = GQuery(
    "d18_stratified_sample",
    (s, dir) => {
      val h = md5(concat(lit("graft-sample:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= SamplePerLang)
        .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))
    },
    Some(s"""SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn FROM (
            |  SELECT doc_id, lang,
            |    row_number() OVER (PARTITION BY lang
            |      ORDER BY md5('graft-sample:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
            |  FROM documents) t
            |WHERE rn <= $SamplePerLang""".stripMargin),
    doc = "Stratified sampling: deterministic hash-ordered top-K per language.")

  // ---- D19: train/eval decontamination (shingle-overlap screening) ----------

  /** Contamination screen between the d13 train and test splits: a test doc
    * is contaminated if it shares any (DF-capped) 3-word shingle with any
    * train doc. Exactly the published-benchmark decontamination shape —
    * n-gram collision via an inverted-index equi-join, never a doc×doc
    * comparison. The DF cap drops boilerplate shingles from the screen on
    * BOTH engines (an ultra-common n-gram is not contamination evidence),
    * which is also what bounds the join fan-out at corpus scale. Output:
    * per test doc, how many of its shingles collide and with how many
    * distinct train docs. */
  private val d19 = GQuery(
    "d19_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val split = substring(
        md5(concat(lit("graft-split:"), col("doc_id").cast("string"))), 1, 2)
      // word-hash shingle combine (TextOps.hashedShingles) — same postings
      // optimization as d2/d3; is_test derives from doc_id so it rides along
      val ex0 = TextOps.hashedShingles(docs)
        .withColumn("is_test", split < lit("1a"))
        .select(col("doc_id"), col("is_test"), col("hv"))
        .cache()
      val heavy = ex0.groupBy(col("hv")).agg(count(lit(1)).as("df"))
        .filter(col("df") > TextOps.DfCap)
      val ex = ex0.join(broadcast(heavy), Seq("hv"), "left_anti")
      val train = ex.filter(!col("is_test"))
        .select(col("hv"), col("doc_id").as("train_doc")).distinct()
      val test = ex.filter(col("is_test"))
        .select(col("doc_id"), col("hv")).distinct()
      // (r13 note: splitting the two COUNT(DISTINCT)s — semi join for the
      // shingle count, pre-deduped fan-out for the doc count — measured
      // SLOWER at sf0.1 (1.5 → 2.2 s, OPTIMIZATION_r13.md): the DF cap keeps the
      // fan-out small enough that one Expand beats two joins. Left as-is.)
      test.join(train, Seq("hv"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("hv")).as("n_shared_shingles"),
          countDistinct(col("train_doc")).as("n_train_docs"))
    },
    Some(s"""WITH ${TextOps.shingleSqlCte},
            |tagged AS (
            |  SELECT doc_id, s,
            |    substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' AS is_test
            |  FROM sh),
            |ex0 AS (SELECT doc_id, is_test, unnest(s) AS shingle FROM tagged),
            |keep AS (SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) <= ${TextOps.DfCap}),
            |ex AS (SELECT ex0.doc_id, ex0.is_test, ex0.shingle FROM ex0 JOIN keep USING (shingle)),
            |train AS (SELECT DISTINCT shingle, doc_id AS train_doc FROM ex WHERE NOT is_test),
            |test AS (SELECT DISTINCT doc_id, shingle FROM ex WHERE is_test)
            |SELECT test.doc_id,
            |  count(DISTINCT test.shingle) AS n_shared_shingles,
            |  count(DISTINCT train.train_doc) AS n_train_docs
            |FROM test JOIN train ON test.shingle = train.shingle
            |GROUP BY test.doc_id""".stripMargin),
    doc = "Decontamination: test docs sharing capped 3-gram shingles with train docs.")

  // ---- D35: LM-perplexity quality gate --------------------------------------
  // The KenLM-style fluency filter: score every document under the corpus
  // bigram LM (d17's pipeline, reused verbatim), normalize to per-bigram
  // average log-probability, and keep documents at or above the corpus
  // mean — "reads like the corpus" as a filter. The mean is an exact
  // DECIMAL sum / count (order-insensitive), attached as a 1-row broadcast
  // (the sanctioned a5/d21 scalar pattern); the per-doc average is ONE
  // IEEE division of two exact values, so the filter boundary is
  // bit-identical across engines.
  private val d35 = GQuery(
    "d35_perplexity_gate",
    (s, dir) => {
      // cache the PER-DOC scores (one row per document — orders of magnitude
      // smaller than the corpus): the threshold pass and the filter pass
      // both read it, and without the cache each would re-run the whole
      // bigram pipeline
      val scored = bigramLogProb(t(s, dir, "documents"))
        .withColumn("avg_lp", col("logprob_sum") / col("n_bigrams"))
        .cache()
      val thr = scored.agg(
        (sum(col("avg_lp").cast("decimal(28,12)")).cast("double") / count(lit(1)))
          .as("m"))
      scored.crossJoin(broadcast(thr))
        .filter(col("avg_lp") >= col("m"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("avg_lp"), 6).as("avg_lp"))
    },
    Some("""WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |bgl AS (SELECT doc_id,
           |  CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
           |       ELSE []::VARCHAR[] END AS l
           |  FROM docs),
           |bgw AS (SELECT doc_id, unnest(l) AS bg FROM bgl),
           |bgp AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bgw),
           |cbg AS (SELECT bg, count(*) AS c_bg FROM bgp GROUP BY bg),
           |cpre AS (SELECT w1, count(*) AS c_pre FROM bgp GROUP BY w1),
           |lp AS (SELECT doc_id, count(*) AS n_bigrams,
           |  CAST(sum(CAST(ln(c_bg) - ln(c_pre) AS DECIMAL(28,12))) AS DOUBLE) AS lsum
           |  FROM bgp JOIN cbg USING (bg) JOIN cpre USING (w1)
           |  GROUP BY doc_id),
           |sc AS (SELECT doc_id, n_bigrams, lsum / n_bigrams AS avg_lp FROM lp),
           |thr AS (SELECT CAST(sum(CAST(avg_lp AS DECIMAL(28,12))) AS DOUBLE)
           |               / count(*) AS m FROM sc)
           |SELECT doc_id, n_bigrams, round(avg_lp, 6) AS avg_lp
           |FROM sc, thr WHERE avg_lp >= m""".stripMargin),
    doc = "Perplexity quality gate: per-doc avg bigram log-prob vs the corpus mean (quality filter #2).")

  // ---- D40: quality-classifier TRAINING (distributed logistic regression) ---
  // The training half of the d24 inference story: fit the logistic
  // language/quality probe with full-batch gradient descent, distributed.
  // Each round is ONE aggregate over the materialized feature table —
  // per-row gradient terms (sigmoid(w.x) - y) * x_j are fixed IEEE
  // expression dags (bit-identical on any engine), and the sums are
  // DECIMAL(28,12) (the d17 discipline), so the gradient is EXACT and
  // partition-order-free — the property that lets a 1000-executor run be
  // verified against a single-node oracle replaying the identical unrolled
  // rounds. Per round the driver collects 4 gradient scalars + a count
  // (dimension-bounded — the e5 centroid discipline) and updates w in
  // closed form; weights never live in the data plane. Output is the
  // trained parameter vector + training accuracy — model-sized, not
  // data-sized.
  private val GdLr = 0.05
  private val GdRounds = 3

  private def gdFeatures(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("double")
    docs.select(
      col("doc_id"),
      lit(1.0).as("x0"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") / nTok).as("x1"),
      (size(filter(toks, x => x === "the")).cast("double") / nTok).as("x2"),
      log(col("n_chars").cast("double")).as("x3"),
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
  }

  private val d40 = GQuery(
    "d40_classifier_training",
    (s, dir) => {
      // feature table materialized once (row-per-doc, 5 doubles — the
      // feature-store step every trainer pays); 3 GD rounds re-scan it
      val f = gdFeatures(t(s, dir, "documents")).localCheckpoint()
      def zCol(w: Array[Double]) =
        lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
      var w = Array(0.0, 0.0, 0.0, 0.0)
      for (_ <- 1 to GdRounds) {
        val p = lit(1.0) / (lit(1.0) + exp(-zCol(w)))
        val err = p - col("y")
        val g = f.agg(
          sum((err * col("x0")).cast("decimal(28,12)")).as("g0"),
          sum((err * col("x1")).cast("decimal(28,12)")).as("g1"),
          sum((err * col("x2")).cast("decimal(28,12)")).as("g2"),
          sum((err * col("x3")).cast("decimal(28,12)")).as("g3"),
          count(lit(1)).as("n")).head()
        val n = g.getLong(4).toDouble
        w = Array.tabulate(4)(j => w(j) - GdLr * (g.getDecimal(j).doubleValue / n))
      }
      val pFinal = lit(1.0) / (lit(1.0) + exp(-zCol(w)))
      val acc = f.agg(
        sum(when((pFinal >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L))
          .as("n_correct"),
        count(lit(1)).as("n")).head()
      import s.implicits._
      Seq(("w0", w(0)), ("w1", w(1)), ("w2", w(2)), ("w3", w(3)),
        ("train_acc", acc.getLong(0).toDouble / acc.getLong(1)))
        .toDF("param", "value")
    },
    Some(s"""WITH f AS (
            |  SELECT doc_id, 1.0 AS x0,
            |    CAST(len(replace(text, ' ', '')) AS DOUBLE)
            |      / len(string_split(text, ' ')) AS x1,
            |    CAST(len(list_filter(string_split(text, ' '), t -> t = 'the'))
            |      AS DOUBLE) / len(string_split(text, ' ')) AS x2,
            |    ln(CAST(n_chars AS DOUBLE)) AS x3,
            |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            |  FROM documents),
            |g1 AS (SELECT
            |    CAST(sum(CAST((1.0/(1.0+exp(-(0.0*x0+0.0*x1+0.0*x2+0.0*x3))) - y) * x0
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(0.0*x0+0.0*x1+0.0*x2+0.0*x3))) - y) * x1
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(0.0*x0+0.0*x1+0.0*x2+0.0*x3))) - y) * x2
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g2,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(0.0*x0+0.0*x1+0.0*x2+0.0*x3))) - y) * x3
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g3,
            |    count(*) AS n FROM f),
            |w1 AS (SELECT 0.0 - $GdLr*(g0/n) AS w0, 0.0 - $GdLr*(g1/n) AS w1,
            |              0.0 - $GdLr*(g2/n) AS w2, 0.0 - $GdLr*(g3/n) AS w3 FROM g1),
            |g2 AS (SELECT
            |    CAST(sum(CAST((1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) - y) * x0
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) - y) * x1
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) - y) * x2
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g2,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) - y) * x3
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g3,
            |    count(*) AS n, min(w.w0) AS pw0, min(w.w1) AS pw1,
            |    min(w.w2) AS pw2, min(w.w3) AS pw3
            |  FROM f CROSS JOIN w1 w),
            |w2 AS (SELECT pw0 - $GdLr*(g0/n) AS w0, pw1 - $GdLr*(g1/n) AS w1,
            |              pw2 - $GdLr*(g2/n) AS w2, pw3 - $GdLr*(g3/n) AS w3 FROM g2),
            |g3 AS (SELECT
            |    CAST(sum(CAST((1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) - y) * x0
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g0,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) - y) * x1
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g1,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) - y) * x2
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g2,
            |    CAST(sum(CAST((1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) - y) * x3
            |      AS DECIMAL(28,12))) AS DOUBLE) AS g3,
            |    count(*) AS n, min(w.w0) AS pw0, min(w.w1) AS pw1,
            |    min(w.w2) AS pw2, min(w.w3) AS pw3
            |  FROM f CROSS JOIN w2 w),
            |w3 AS (SELECT pw0 - $GdLr*(g0/n) AS w0, pw1 - $GdLr*(g1/n) AS w1,
            |              pw2 - $GdLr*(g2/n) AS w2, pw3 - $GdLr*(g3/n) AS w3 FROM g3),
            |acc AS (SELECT
            |    sum(CASE WHEN (1.0/(1.0+exp(-(w.w0*x0+w.w1*x1+w.w2*x2+w.w3*x3))) >= 0.5)
            |                  = (y = 1.0) THEN 1 ELSE 0 END) AS n_correct,
            |    count(*) AS n FROM f CROSS JOIN w3 w)
            |SELECT 'w0' AS param, w0 AS value FROM w3
            |UNION ALL SELECT 'w1', w1 FROM w3
            |UNION ALL SELECT 'w2', w2 FROM w3
            |UNION ALL SELECT 'w3', w3 FROM w3
            |UNION ALL SELECT 'train_acc', CAST(n_correct AS DOUBLE) / n FROM acc""".stripMargin),
    doc = "Classifier training: 3 full-batch logistic GD rounds, decimal-exact gradients, driver-held weights (ML #2).")

  // ---- D42: fractional contamination score ----------------------------------
  // The GPT-3/PaLM decontamination METRIC next to d19's binary screen: for
  // every test document, the fraction of its distinct 3-gram shingles that
  // occur anywhere in the train split. d19 answers "which test docs collide
  // at all" (DF-capped, inner-join — only colliders surface); d42 scores
  // EVERY test doc in [0,1], zero-overlap docs included, so a pipeline can
  // threshold at e.g. 0.15 instead of dropping on any collision.
  //
  // Scale shape: the train side collapses to its DISTINCT shingle set — one
  // row per shingle, so no DF cap is needed (presence, not postings: the
  // join's build side has unique keys by construction, no skew amplification).
  // Test-doc shingles left-join that set on the 64-bit word-hash key; one
  // (doc) aggregate finishes. The contamination ratio is a single IEEE
  // division of two exact counts — bit-identical across engines, no rounding.
  private val d42 = GQuery(
    "d42_contamination_fraction",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val split = substring(
        md5(concat(lit("graft-split:"), col("doc_id").cast("string"))), 1, 2)
      val ex = TextOps.hashedShingles(docs)
        .withColumn("is_test", split < lit("1a"))
        .select(col("doc_id"), col("is_test"), col("hv"))
      val trainSet = ex.filter(!col("is_test")).select(col("hv")).distinct()
        .withColumn("in_train", lit(1))
      val testSh = ex.filter(col("is_test"))
        .select(col("doc_id"), col("hv")).distinct()
      testSh.join(trainSet, Seq("hv"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(col("in_train")).as("n_contaminated"))
        .withColumn("contamination",
          col("n_contaminated") / col("n_shingles"))
    },
    Some(s"""WITH ${TextOps.shingleSqlCte},
            |tagged AS (
            |  SELECT doc_id, s,
            |    substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' AS is_test
            |  FROM sh),
            |ex AS (SELECT doc_id, is_test, unnest(s) AS shingle FROM tagged),
            |train AS (SELECT DISTINCT shingle FROM ex WHERE NOT is_test),
            |test AS (SELECT DISTINCT doc_id, shingle FROM ex WHERE is_test)
            |SELECT test.doc_id,
            |  count(*) AS n_shingles,
            |  count(train.shingle) AS n_contaminated,
            |  count(train.shingle) / count(*) AS contamination
            |FROM test LEFT JOIN train ON test.shingle = train.shingle
            |GROUP BY test.doc_id""".stripMargin),
    doc = "Fractional contamination: share of each test doc's shingles present in train (decontam #2).")

  // ---- D44: end-to-end curation pipeline --------------------------------------
  // The composition flagship: the individually-pinned stages chained the way
  // a production corpus build runs them — d14's quality gates, d1's exact
  // dedup (keep-first), d19's capped decontamination screen against the d13
  // test split — finishing in per-(lang, source) corpus stats. Stage ORDER is
  // the scale design: the map-side quality filter runs before any shuffle,
  // dedup is one hash aggregate on the content hash, and only the survivors'
  // id set meets the expensive shingle screen (whose DF cap is computed over
  // the FULL corpus, d19's contract, so the screen's shingle universe does
  // not drift as upstream stages change). The id-sum checksum pins survivor
  // MEMBERSHIP, not just counts.
  private val d44 = GQuery(
    "d44_curation_pipeline",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val nwE = size(split(col("text"), " "))
      val compact = length(regexp_replace(col("text"), " ", ""))
      val alnum = length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))
      val mwl = compact.cast("double") / col("nw")
      val symFrac = (length(col("text")) - alnum).cast("double") / length(col("text"))
      val isTest = substring(
        md5(concat(lit("graft-split:"), col("doc_id").cast("string"))), 1, 2) < lit("1a")
      val qual = docs
        .withColumn("nw", nwE)
        .filter(col("nw").between(10, 5000) && mwl.between(2.0, 12.0) &&
          symFrac <= 0.10 &&
          concat(lit(" "), col("text"), lit(" ")).contains(" the "))
        .withColumn("is_test", isTest)
      // r14 (guide §2.4): keep-first as ONE ranking window over qual
      // instead of a groupBy + join-back — the join-back re-ran the whole
      // regexp-heavy quality screen (two regexp_replace passes over every
      // text) as a second corpus subtree. row_number ordered by doc_id
      // with rn=1 IS min(doc_id) membership, row for row.
      val wFirst = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      val surv = qual.withColumn("rn", row_number().over(wFirst))
        .filter(col("rn") === 1 && !col("is_test")).drop("rn")
      val ex0 = TextOps.hashedShingles(docs).cache()
      val heavy = ex0.groupBy(col("hv")).agg(count(lit(1)).as("df"))
        .filter(col("df") > TextOps.DfCap)
      val ex = ex0.join(broadcast(heavy), Seq("hv"), "left_anti")
      val testDocs = docs.select(col("doc_id"))
        .filter(isTest)
      val testSh = ex.join(testDocs, Seq("doc_id")).select(col("hv")).distinct()
      val contam = ex.join(testSh, Seq("hv")).select(col("doc_id")).distinct()
      surv.join(contam, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nw").cast("long")).as("n_tokens"),
          sum(col("doc_id")).as("id_sum"))
    },
    Some(s"""WITH ${TextOps.shingleSqlCte},
            |f AS (
            |  SELECT doc_id, lang, source, text,
            |    len(string_split(text, ' ')) AS nw,
            |    CAST(len(replace(text, ' ', '')) AS DOUBLE)
            |      / len(string_split(text, ' ')) AS mwl,
            |    CAST(len(text) - len(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
            |      / len(text) AS sym_frac,
            |    (' ' || text || ' ') LIKE '% the %' AS has_stop,
            |    substring(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' AS is_test
            |  FROM documents),
            |qual AS (
            |  SELECT * FROM f
            |  WHERE nw BETWEEN 10 AND 5000 AND mwl BETWEEN 2.0 AND 12.0
            |    AND sym_frac <= 0.10 AND has_stop),
            |keep1 AS (SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)),
            |surv AS (
            |  SELECT q.* FROM qual q JOIN keep1 USING (doc_id) WHERE NOT q.is_test),
            |ex0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            |keep AS (SELECT shingle FROM ex0 GROUP BY shingle
            |         HAVING count(*) <= ${TextOps.DfCap}),
            |ex AS (SELECT ex0.doc_id, ex0.shingle FROM ex0 JOIN keep USING (shingle)),
            |testsh AS (
            |  SELECT DISTINCT ex.shingle FROM ex JOIN f USING (doc_id) WHERE f.is_test),
            |contam AS (SELECT DISTINCT ex.doc_id FROM ex JOIN testsh USING (shingle))
            |SELECT lang, source, count(*) AS n_docs,
            |  CAST(sum(nw) AS BIGINT) AS n_tokens,
            |  CAST(sum(doc_id) AS BIGINT) AS id_sum
            |FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM contam)
            |GROUP BY 1, 2""".stripMargin),
    doc = "Curation pipeline: quality gate -> exact dedup -> decontamination -> corpus stats, stages individually pinned (corpus #3).")

  // ---- D52: one-pass column profiling (corpus data-quality summary) -----------
  // The profiling sweep every ingestion run fronts a training pipeline with
  // (what Deequ/dbt-profiler compute): per column — null count, distinct
  // count, min/max, byte volume, average width. ONE scan computes all five
  // columns' metrics: the multi-COUNT(DISTINCT) plans as a single
  // Expand-based aggregate (map-side partials, no per-column re-scan), and
  // the wide 1-row result unpivots via stack() — at 100 TB this is one pass
  // over the corpus instead of ten. Byte semantics (octet_length/strlen) on
  // both engines, so multibyte text can never skew the width metrics; the
  // single avg division is two exact integers into one IEEE double —
  // bit-identical cross-engine, no rounding needed. The text column's
  // distinct leg counts 64-bit CONTENT HASHES, not the bodies (the d1
  // exact-dedup discipline): an Expand distinct group keyed by full
  // document texts would ship the corpus across the shuffle to fill one
  // cell — 8-byte keys carry the same count (collision odds ~n²/2⁶⁵,
  // deterministic per corpus), so the 5-row profile never shuffles a
  // document body; the min/max legs run as ordinary partial aggregates
  // (one candidate value per partition, not per row).
  private val d52Cols = Seq("doc_id", "text", "lang", "source", "n_chars")
  // string columns' min/max run over a 64-char prefix: the aggregate's
  // state is one candidate VALUE per partition, and for a document-body
  // column that value is a full body — megabyte comparison state shuffled
  // corpus-wide for a profile cell. A profile needs the ordering locality
  // of the value, not the body; 64 chars is identical for every short
  // column and bounds the wide ones. The oracle truncates the same way.
  private val d52StringCols = Set("text", "lang", "source")
  private val d52 = GQuery(
    "d52_column_profile",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val cols = d52Cols
      val aggs = cols.flatMap { c =>
        val distinctKey = // wide columns dedup by content hash, never by body
          if (c == "text") when(col(c).isNotNull, xxhash64(col(c)))
          else col(c)
        val rangeKey = // bounded min/max comparison state for string columns
          if (d52StringCols(c)) substring(col(c), 1, 64) else col(c)
        Seq(
          count(col(c)).as(s"${c}__nn"),
          countDistinct(distinctKey).as(s"${c}__nd"),
          min(rangeKey).cast("string").as(s"${c}__min"),
          max(rangeKey).cast("string").as(s"${c}__max"),
          sum(expr(s"octet_length(cast($c AS STRING))")).cast("bigint")
            .as(s"${c}__bytes"))
      } :+ count(lit(1)).as("n_rows")
      val one = d.agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', ${c}__nn, ${c}__nd, ${c}__min, ${c}__max, ${c}__bytes").mkString(", ")
      one.select(col("n_rows"), expr(
          s"stack(${cols.size}, $stackArgs) AS (col_name, non_null, n_distinct, min_s, max_s, total_bytes)"))
        .select(col("col_name"), col("n_rows"),
          (col("n_rows") - col("non_null")).as("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"), col("total_bytes"),
          (col("total_bytes").cast("double") / col("non_null")).as("avg_bytes"))
    },
    Some(d52Cols.map { c =>
      val rk = if (d52StringCols(c)) s"substring($c, 1, 64)" else c
      s"""SELECT '$c' AS col_name,
         |  (SELECT count(*) FROM documents) AS n_rows,
         |  (SELECT count(*) FROM documents) - count($c) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  CAST(min($rk) AS VARCHAR) AS min_s, CAST(max($rk) AS VARCHAR) AS max_s,
         |  CAST(sum(strlen(CAST($c AS VARCHAR))) AS BIGINT) AS total_bytes,
         |  CAST(CAST(sum(strlen(CAST($c AS VARCHAR))) AS BIGINT) AS DOUBLE)
         |    / count($c) AS avg_bytes
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n")),
    doc = "One-pass column profiling: nulls/distincts/min/max/byte widths for every column in a single Expand aggregate (corpus QA).")

  // ---- D53: robust per-source outlier gate (median/MAD) ----------------------
  // The length-anomaly screen a curation pipeline runs per source: a mean/
  // stddev z-score is itself dragged by the outliers it hunts, so the
  // robust form uses the MEDIAN and the Median Absolute Deviation —
  // |x - med| > 3 * 1.4826 * MAD (1.4826 scales MAD to sigma under
  // normality). Two grouped exact-percentile aggregates (per-source state,
  // never global) with the tiny per-source stats broadcast back between
  // them — at corpus scale each pass is one shuffle by source. Exact
  // interpolated percentile is cross-engine gateable (the a21 precedent):
  // integer inputs make every median a representable half, the per-row
  // deviation arithmetic is bit-identical IEEE, and the counts are ints —
  // no rounding anywhere.
  private val d53 = GQuery(
    "d53_mad_outlier_gate",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val med = d.groupBy(col("source"))
        .agg(expr("percentile(n_chars, 0.5)").as("med"))
      val withDev = d.join(broadcast(med), Seq("source"))
        .withColumn("dev", abs(col("n_chars").cast("double") - col("med")))
      val mad = withDev.groupBy(col("source"))
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      withDev.join(broadcast(mad), Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          min(col("med")).as("med"), min(col("mad")).as("mad"),
          sum((col("dev") > lit(3.0) * lit(1.4826) * col("mad")).cast("long"))
            .as("n_outliers"))
    },
    Some("""WITH med AS (
           |  SELECT source, median(n_chars) AS med FROM documents GROUP BY 1),
           |dev AS (
           |  SELECT d.source, abs(CAST(d.n_chars AS DOUBLE) - m.med) AS dev, m.med
           |  FROM documents d JOIN med m USING (source)),
           |mad AS (SELECT source, median(dev) AS mad FROM dev GROUP BY 1)
           |SELECT dev.source, count(*) AS n,
           |  min(dev.med) AS med, min(mad.mad) AS mad,
           |  CAST(sum(CAST(dev.dev > 3.0 * 1.4826 * mad.mad AS INT)) AS BIGINT)
           |    AS n_outliers
           |FROM dev JOIN mad USING (source)
           |GROUP BY dev.source""".stripMargin),
    doc = "Robust outlier gate: per-source median/MAD screen, |x-med| > 3*1.4826*MAD (corpus QA #2).")

  override val all: Seq[GQuery] =
    Seq(d12, d13, d14, d15, d16, d17, d18, d19, d35, d36, d38, d40, d42, d44,
      d52, d53)
}
