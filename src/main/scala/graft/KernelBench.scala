package graft
import org.apache.spark.sql.functions._
object KernelBench {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    // exclude the rewrite rule so the composed form stays composed
    spark.conf.set("spark.sql.optimizer.excludedRules",
      graft.functions.RewriteVectorFolds.ruleName)
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) AS v")
    emb.createOrReplaceTempView("e")
    def dot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (p, q) -> p * q), cast(0 as double), (acc, w) -> acc + w)"
    val composed = s"${dot("a.v","b.v")} / (sqrt(${dot("a.v","a.v")}) * sqrt(${dot("b.v","b.v")}))"
    def time(label: String, sql: String): Unit = {
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = spark.sql(sql).filter(col("s") > 0.95).count()
        println(f"[kb] $label run$i ${(System.nanoTime()-t0)/1e9}%.2f s (n=$n)")
      }
    }
    time("composed", s"SELECT $composed AS s FROM e a JOIN e b ON a.vec_id < b.vec_id")
    time("kernel  ", "SELECT graft_cosine(a.v, b.v) AS s FROM e a JOIN e b ON a.vec_id < b.vec_id")
    // integer-grid variants (the hash-gated ANN scoring shape: exact long
    // dot + two integer norms, one correctly-rounded divide)
    spark.sql("SELECT vec_id, transform(v, x -> cast(floor(x * 4096.0d + 0.5d) AS BIGINT)) AS qv FROM e")
      .createOrReplaceTempView("q")
    def qdot(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (p, w) -> p * w), 0L, (acc, w) -> acc + w)"
    def qnorm(a: String) = s"aggregate($a, 0L, (acc, w) -> acc + w * w)"
    def qtime(label: String, sql: String): Unit = {
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val n = spark.sql(sql).filter(col("s") > 0.95).count()
        println(f"[kb] $label run$i ${(System.nanoTime()-t0)/1e9}%.2f s (n=$n)")
      }
    }
    qtime("qcomposed", s"SELECT CAST(${qdot("a.qv","b.qv")} AS DOUBLE)" +
      s" / (sqrt(CAST(${qnorm("a.qv")} AS DOUBLE)) * sqrt(CAST(${qnorm("b.qv")} AS DOUBLE))) AS s" +
      " FROM q a JOIN q b ON a.vec_id < b.vec_id")
    qtime("qkernel  ", "SELECT CAST(graft_qdot(a.qv, b.qv) AS DOUBLE)" +
      " / (sqrt(CAST(graft_qnorm2(a.qv) AS DOUBLE)) * sqrt(CAST(graft_qnorm2(b.qv) AS DOUBLE))) AS s" +
      " FROM q a JOIN q b ON a.vec_id < b.vec_id")
    spark.stop()
  }
}
