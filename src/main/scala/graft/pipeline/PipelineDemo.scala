package graft.pipeline

import java.nio.file.Files

/** End-to-end demo of the reference-parity DAG: generate reference-shaped
  * fixture feeds, run all 40 models (dbt-style materialization), print the
  * marts a reference user would query.
  *
  * Usage: runMain graft.pipeline.PipelineDemo [dataRoot] [warehouseDir]
  * (defaults: fresh temp dirs with generated fixtures)
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val dataRoot = args.headOption.getOrElse {
      val d = Files.createTempDirectory("graft-feeds").toString
      FixtureGen.generate(d)
      println(s"[demo] generated fixture feeds under $d")
      d
    }
    val warehouse = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-warehouse").toString)
    val spark = graft.Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val out = Pipeline.run(spark, dataRoot, Materialization.ParquetDir(warehouse))
    println(s"[demo] built ${out.size} models into $warehouse")
    for (mart <- Seq("mart_sgp_factors", "mart_sgp_percentiles",
        "mart_preseason_overall_rankings_oc")) {
      println(s"\n== $mart ==")
      out(mart).show(10, truncate = false)
    }
    println("\n== serving: top of the draft board (app/app.py:419-430 shape) ==")
    Pipeline.servingRankings(out("mart_preseason_overall_rankings_oc")).show(10)
    spark.stop()
  }
}
