package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The graft-kv DSv2 connector (S9's DynamoDB-shaped draft-state store as a
  * first-class table): round trip, bucket pruning via key predicates (the
  * GetItem access path), column pruning, and the serving-join parity with
  * the reference's `isin` approach.
  */
class KvSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: String = _
  private val Fmt = "graft.sources.KvTableProvider"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    dir = java.nio.file.Files.createTempDirectory("graft-kv").toString
    val sp = spark
    import sp.implicits._
    val state = (0 until 200).map { i =>
      (s"player-$i", i % 3 == 0, 1700000000L + i)
    }.toDF("player_id", "drafted", "updated_at")
    KvStore.write(state, dir, key = "player_id", buckets = 8)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def kv = spark.read.format(Fmt).load(dir)

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get

  test("round trip: every row and column survives the write/read cycle") {
    val got = kv
    assert(got.count() == 200)
    assert(got.schema.fieldNames.sorted.sameElements(
      Array("drafted", "player_id", "updated_at")))
    assert(got.filter(col("player_id") === "player-7").count() == 1)
    assert(got.agg(sum(when(col("drafted"), 1).otherwise(0))).head.getLong(0) == 67)
    assert(got.agg(max("updated_at")).head.getLong(0) == 1700000199L)
  }

  test("key equality prunes the scan to ONE bucket partition (GetItem path)") {
    val full = scanOf(kv).inputRDD.getNumPartitions
    assert(full == 8, s"unfiltered scan should plan all 8 buckets, got $full")
    val one = kv.filter(col("player_id") === "player-42")
    val pruned = scanOf(one).inputRDD.getNumPartitions
    assert(pruned == 1, s"key-equality scan should plan 1 bucket, got $pruned")
    val row = one.collect()
    assert(row.length == 1 && row(0).getAs[String]("player_id") == "player-42")
  }

  test("IN-list prunes to at most the list's bucket set; results exact") {
    val keys = Seq("player-1", "player-2", "player-3", "player-199")
    val q = kv.filter(col("player_id").isin(keys: _*))
    val planned = scanOf(q).inputRDD.getNumPartitions
    assert(planned <= keys.size,
      s"IN-list scan should plan <= ${keys.size} buckets, got $planned")
    assert(q.collect().map(_.getAs[String]("player_id")).sorted
      .sameElements(keys.sorted))
  }

  test("column pruning reaches the scan: only requested fields are read") {
    val q = kv.select("player_id", "drafted")
    assert(scanOf(q).output.map(_.name).sorted.sameElements(
      Array("drafted", "player_id")))
    assert(q.count() == 200)
  }

  test("non-key predicates scan all buckets but stay correct (Scan path)") {
    val q = kv.filter(col("drafted"))
    assert(scanOf(q).inputRDD.getNumPartitions == 8)
    assert(q.count() == 67)
  }

  test("streaming put/delete updates fold into the KV store via foreachBatch") {
    // The reference mutates draft state through DynamoDB put/delete API
    // calls (app.py:139-245); the engine face folds a stream of (key, op)
    // updates into the same graft-kv snapshot: each micro-batch merges
    // latest-op-wins state over the previous snapshot and rewrites — the
    // streaming-merge-sink discipline applied to the KV layout. A 'delete'
    // op removes the key (the tombstone path).
    val sp = spark
    import sp.implicits._
    val updDir = java.nio.file.Files.createTempDirectory("graft-kv-stream").toString
    implicit val sql: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Long)](99)
    val q = ms.toDF().toDF("player_id", "op", "ts").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val cur =
          try sp.read.format(Fmt).load(updDir)
          catch { case _: Exception =>
            Seq.empty[(String, String, Long)].toDF("player_id", "op", "ts") }
        // latest op per key over (previous state + this batch); materialize
        // BEFORE the overwrite so the rewrite never reads its own target
        val merged = cur.unionByName(batch)
          .groupBy("player_id")
          .agg(max_by(struct(col("op"), col("ts")), col("ts")).as("s"))
          .select(col("player_id"), col("s.op").as("op"), col("s.ts").as("ts"))
          .filter(col("op") =!= "delete")
          .localCheckpoint(true)
        KvStore.write(merged, updDir, key = "player_id", buckets = 4)
        ()
      }
      .start()
    ms.addData(("a", "put", 1L), ("b", "put", 2L), ("c", "put", 3L))
    q.processAllAvailable()
    ms.addData(("b", "delete", 4L), ("d", "put", 5L))
    q.processAllAvailable()
    ms.addData(("b", "put", 6L), ("c", "delete", 7L))
    q.processAllAvailable()
    q.stop()
    val state = sp.read.format(Fmt).load(updDir)
      .select("player_id", "ts").as[(String, Long)].collect().sorted
    // a: put@1 survives; b: deleted@4 then re-put@6; c: deleted@7; d: put@5
    assert(state.sameElements(Array(("a", 1L), ("b", 6L), ("d", 5L))),
      s"folded KV state drifted: ${state.mkString(", ")}")
  }

  test("serving-join parity: joining the KV table == the reference isin filter") {
    val sp = spark
    import sp.implicits._
    val rankings = (0 until 200).map(i => (s"player-$i", 200 - i))
      .toDF("player_id", "rank")
    // reference approach (app.py isin): driver-collected drafted id set
    val draftedIds = kv.filter(col("drafted"))
      .select("player_id").as[String].collect().toSet
    val viaIsin = rankings
      .filter(!col("player_id").isin(draftedIds.toSeq: _*))
      .orderBy(col("rank").desc).collect()
    // engine approach: anti join against the KV table, no driver round trip
    val viaJoin = rankings.join(
        kv.filter(col("drafted")).select("player_id"), Seq("player_id"), "left_anti")
      .orderBy(col("rank").desc).collect()
    assert(viaJoin.sameElements(viaIsin))
  }

  test("expression-shaped key names bucket by the COLUMN, not a parsed expression") {
    // regression: SQL-text splicing would parse key 'a-b' as subtraction
    // over columns a and b, bucketing by the wrong value while meta records
    // the name — the pruner would then probe the wrong bucket and silently
    // return zero rows for a key that exists
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-hyphen").toString
    val df = Seq(("k1", 5L, 3L, 10.0), ("k2", 7L, 2L, 20.0))
      .toDF("a-b", "a", "b", "v")
    KvStore.write(df, dir, "a-b", 8)
    val got = sp.read.format("graft.sources.KvTableProvider").load(dir)
      .filter(col("`a-b`") === "k2").select("v").collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(20.0), s"hyphenated key must probe its true bucket, got ${got.toSeq}")
  }

  test("unsupported column types fail at WRITE time, driver-side") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kv-badtype").toString
    val df = Seq(("k1", new java.sql.Timestamp(0L))).toDF("k", "ts")
    val e = intercept[IllegalArgumentException] {
      KvStore.write(df, dir, "k", 4)
    }
    assert(e.getMessage.contains("does not support") && e.getMessage.contains("ts"),
      s"write must reject unsupported types before landing bytes: ${e.getMessage}")
  }
}
