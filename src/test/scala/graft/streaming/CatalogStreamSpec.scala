package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{GraftCatalog, HiddenPartitioning, VersionedHiddenTable => VHT}

/** Catalog-addressed streaming (st10): `spark.readStream.table("graft.db.t")`
  * resolves to the changelog source through the analysis-time splice — the
  * same feed, offsets and restart semantics as the format-addressed st9
  * path, with reader options riding through. */
class CatalogStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-cs-$tag").toString

  private def events: DataFrame = graft.core.Tables.load(spark, dir, "events")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def drain(stream: DataFrame, out: String, checkpoint: String)
      : Seq[Set[Long]] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val vs = df.select(col("_commit_version")).distinct()
          .collect().map(_.getLong(0)).toSet
        seen.synchronized { seen += vs }
        df.write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()
    seen.toSeq.filter(_.nonEmpty)
  }

  test("readStream.table == the format-addressed changelog path: same feed, bounded batches, restart") {
    val wh = tmp("st10")
    val cat = GraftCatalog.register(spark, "gcstream", wh)
    val t = s"$wh/db/t"
    val ev = events
    VHT.create(spark, t, ev.filter(col("ts") < "2024-01-16"),
      Seq(HiddenPartitioning.DayT("ts"))): Unit                          // v0
    assert(VHT.append(spark, t, ev.filter(col("ts") >= "2024-01-16"))().isRight) // v1
    assert(VHT.deleteMergeOnRead(spark, t, col("user_id") < 10L) == 2L)  // v2
    assert(VHT.update(spark, t, col("user_id").between(10L, 14L),
      Map("value" -> (col("value") + 100))) == 3L)                        // v3

    // catalog stream: CDC schema (meta columns selectable), per-step batches
    val outCat = tmp("st10cat")
    val ckptCat = tmp("st10catck")
    def catStream = spark.readStream
      .option("startingVersion", 0).option("maxVersionsPerTrigger", 1)
      .table(s"$cat.db.t")
    assert(catStream.columns.takeRight(2).toSeq ==
      Seq("_change_type", "_commit_version"),
      "a streaming read of a graft table IS its changelog")
    val batches = drain(catStream, outCat, ckptCat)
    assert(batches.map(_.max).sorted == Seq(1L, 2L, 3L),
      s"per-step batching through the catalog: $batches")

    // identical feed to the format-addressed st9 path
    val outFmt = tmp("st10fmt")
    drain(ChangelogStream.changelog(spark, t, startingVersion = Some(0L)),
      outFmt, tmp("st10fmtck")): Unit
    assert(canon(spark.read.parquet(outCat)) == canon(spark.read.parquet(outFmt)),
      "catalog stream fold must equal the format-addressed fold")

    // restart from the checkpoint: only NEW commits arrive
    assert(VHT.deleteMergeOnRead(spark, t, col("user_id") === 12L) == 4L)
    val batches2 = drain(catStream, outCat, ckptCat)
    assert(batches2.flatten.toSet == Set(4L),
      s"restart must resume at the committed version: $batches2")
  }
}
