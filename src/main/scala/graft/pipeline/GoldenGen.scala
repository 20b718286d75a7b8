package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Regenerates the golden content digests PipelineSpec pins the parity DAG
  * against (one line per gated model, paste-ready for `PipelineSpec.golden`).
  *
  * The digests cover ALL 40 models — every source, stage and mart layer —
  * over the deterministic [[FixtureGen]] corpus in MATERIALIZED mode (each
  * model written to parquet and read back, the dbt-equivalent execution),
  * which makes every cell bit-reproducible. Run after any INTENDED
  * model-semantics change:
  *
  * {{{ sbt "runMain graft.pipeline.GoldenGen" }}}
  *
  * then copy the printed map into PipelineSpec and let the suite confirm.
  * An UNINTENDED change — a smoothing constant, a join key, a filter — shows
  * up as a digest mismatch in PipelineSpec without this step, which is the
  * point: every reference model output carries the same bit-level gate as
  * the query registry, and the first failing digest localizes the drift.
  */
object GoldenGen {

  /** The gated models: ALL 40 — every source, stage and mart output is
    * bit-pinned, so a drift anywhere in the DAG fails the suite AT the
    * first model whose content moved (the digest diff localizes the bug to
    * one model's inputs, not just "a mart changed"). `_loaddatetime` (the
    * wall-clock audit stamp) is the only excluded column. */
  val gated: Seq[String] =
    Pipeline.models("unused-root").map(_.name).sorted

  def digests(spark: SparkSession): Map[String, String] = {
    val root = Files.createTempDirectory("graft-golden-fixtures").toString
    FixtureGen.generate(root)
    val out = Pipeline.run(spark, root,
      materializeDir = Some(Files.createTempDirectory("graft-golden-mat").toString))
    gated.map(n => n -> Checks.contentDigest(out(n))).toMap
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = digests(spark)
    gated.foreach(n => println(s"""    "$n" -> "${d(n)}","""))
    spark.stop()
  }
}
