package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus amplifier for the scaling measurements
  * (`ScaleCurveSpec`'s sf0.1 → sf1 leg): `documents` and `embeddings`
  * grown `copies`× with remapped ids and a FIXED hash-derived mix of clone
  * classes, so the dedup/ANN operators see realistic structure at 10× the
  * rows instead of 10 exact copies of everything (which the
  * distinct-signature collapse would make artificially cheap):
  *
  *   - ~10% of clones are EXACT duplicates (id aside) — the exact-dup rate
  *     stays corpus-like;
  *   - ~30% are NEAR duplicates — ~9% of tokens (documents) or a 2%-amplitude
  *     element jitter (embeddings) rewritten, landing above typical
  *     similarity thresholds;
  *   - ~60% are DISTINCT — ~a third of tokens / a 25%-amplitude jitter,
  *     landing well below them.
  *
  * Everything derives from `xxhash64(id, copy, position)` — no RNG, no
  * timestamps — so the generated corpus is bit-identical across runs and
  * hosts, and the measured scale ratios are reproducible. Generation is all
  * Spark-side (explode + codegen'd higher-order functions): the same code
  * path would amplify a 10 TB corpus.
  *
  * Output lands under the JVM temp dir (the driver corpus at
  * `/root/testdata` is read-only); `ensure` is skip-if-exists via the
  * parquet `_SUCCESS` markers.
  */
object ScaleUp {

  /** Disjoint id space per copy — original ids are far below this. */
  private val IdStride = 1000000L

  def defaultOut: String =
    s"${sys.props("java.io.tmpdir")}/graft-testdata/sf1"

  /** Amplified documents: clone class by `xxhash64(doc_id, copy) % 10`. */
  private def amplifyDocuments(df: DataFrame, copies: Int): DataFrame =
    df.select(explode(sequence(lit(0), lit(copies - 1))).as("copy"), col("*"))
      .selectExpr(
        s"doc_id + copy * ${IdStride}L AS doc_id",
        """CASE
          |  WHEN copy = 0 OR pmod(xxhash64(doc_id, copy), 10) = 0 THEN text
          |  ELSE array_join(zip_with(
          |    split(text, ' '),
          |    sequence(1, size(split(text, ' '))),
          |    (w, i) -> CASE
          |      WHEN pmod(xxhash64(doc_id, copy, i),
          |             CASE WHEN pmod(xxhash64(doc_id, copy), 10) < 4
          |                  THEN 11 ELSE 3 END) = 0
          |      THEN concat('w', pmod(xxhash64(doc_id, copy, i, 7L), 5000))
          |      ELSE w END), ' ')
          |END AS text""".stripMargin,
        "lang", "source")
      .withColumn("n_chars", length(col("text")))

  /** Amplified embeddings: jitter amplitude by clone class; elements stay
    * FLOAT (the source schema) and the zero-jitter copy is bit-identical. */
  private def amplifyEmbeddings(df: DataFrame, copies: Int): DataFrame =
    df.select(explode(sequence(lit(0), lit(copies - 1))).as("copy"), col("*"))
      .selectExpr(
        s"vec_id + copy * ${IdStride}L AS vec_id",
        """CASE WHEN copy = 0 OR pmod(xxhash64(vec_id, copy), 10) = 0 THEN embedding
          |ELSE transform(embedding, (x, i) -> CAST(x +
          |  CASE WHEN pmod(xxhash64(vec_id, copy), 10) < 4 THEN 0.02d ELSE 0.25d END
          |  * (CAST(pmod(xxhash64(vec_id, copy, i), 1000) AS DOUBLE) / 1000.0d - 0.5d)
          |  AS FLOAT))
          |END AS embedding""".stripMargin,
        "label")

  /** Amplified events: ids remapped to a disjoint space per copy, the
    * timestamp shifted by `copy` seconds MODULO the UTC day (the shift wraps
    * at midnight back into the same day's start, so every copy provably
    * stays inside its source row's calendar day — a day-partitioned layout
    * keeps its directory count and a fixed day-range predicate keeps its
    * selectivity even for rows within `copies` seconds of 23:59:59),
    * user/value/type carried verbatim (the user_id domain must not grow — a
    * fixed user-range predicate's selectivity is the thing the skipping
    * scale measurement holds constant). Reads must come through
    * `graft.core.Tables.load` (the source file is TIMESTAMP(NANOS)). */
  private def amplifyEvents(df: DataFrame, copies: Int): DataFrame =
    df.select(explode(sequence(lit(0), lit(copies - 1))).as("copy"), col("*"))
      .select(
        (col("event_id") + col("copy") * lit(IdStride)).as("event_id"),
        // second-of-day is pure epoch arithmetic (UTC day, matching DayT);
        // epoch seconds are positive for this corpus, so pmod == mod
        expr("timestampadd(SECOND, CAST(pmod(pmod(unix_seconds(ts), 86400L) " +
          "+ copy, 86400L) - pmod(unix_seconds(ts), 86400L) AS INT), ts)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))

  /** Build (or reuse) the amplified corpus; returns its directory, laid out
    * like a test-data scale dir (`<out>/documents.parquet`, …). */
  def ensure(spark: SparkSession, srcDir: String, copies: Int = 10,
      out: String = defaultOut): String = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def done(table: String) = fs.exists(
      new org.apache.hadoop.fs.Path(s"$out/$table.parquet/_SUCCESS"))
    if (!done("documents"))
      amplifyDocuments(spark.read.parquet(s"$srcDir/documents.parquet"), copies)
        .repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
    if (!done("embeddings"))
      amplifyEmbeddings(spark.read.parquet(s"$srcDir/embeddings.parquet"), copies)
        .repartition(8).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    if (!done("events"))
      amplifyEvents(graft.core.Tables.load(spark, srcDir, "events"), copies)
        .repartition(8).write.mode("overwrite").parquet(s"$out/events.parquet")
    out
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Graft.session(32)
    spark.sparkContext.setLogLevel("WARN")
    val out = ensure(spark, src, copies)
    Seq("documents", "embeddings", "events").foreach { t =>
      println(s"$out/$t.parquet: " +
        spark.read.parquet(s"$out/$t.parquet").count() + " rows")
    }
    spark.stop()
  }
}
