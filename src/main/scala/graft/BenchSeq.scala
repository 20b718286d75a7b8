package graft
/** Dev harness: time individual registry queries one at a time
  * (`runMain graft.BenchSeq x <name> <name> ...`; no names runs them all)
  * with [[Bench]]'s noop sink, which evaluates every output column where
  * `count()` would let Catalyst prune computed ones. A watchdog dumps the
  * executor thread stacks if a query exceeds 90 s — for diagnosing
  * intermittent local-mode stalls. */
object BenchSeq {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    val names = args.drop(1).toSeq match {
      case Nil => SparkEntry.queries.keys.toSeq
      case more => more
    }
    names.foreach { name =>
      val t0 = System.nanoTime()
      @volatile var done = false
      val watchdog = new Thread(() => {
        var waited = 0
        while (!done && waited < 90) { Thread.sleep(1000); waited += 1 }
        if (!done) {
          println(s"[watchdog] $name stuck >90s; dumping stacks")
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
            if (st.nonEmpty && t.getName.contains("Executor task launch")) {
              println(s"--- ${t.getName} ${t.getState}")
              st.take(8).foreach(f => println(s"    $f"))
            }
          }
        }
      })
      watchdog.setDaemon(true)
      watchdog.start()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[seq] $name FAILED ${e.getMessage.take(100)}") }
      done = true
      println(f"[seq] $name ${(System.nanoTime()-t0)/1e9}%.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
