package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.types.LongType

/** User-facing face of the native [[BandJoin]] operator. */
object Band {

  /** Band join `early` with `late`: every (early, late) pair sharing `key`
    * with 0 < late.ts - early.ts <= range. Output columns are early's then
    * late's (the two sides must not share column names besides `key`, which
    * the caller disambiguates by renaming). Both ts columns must be LONG
    * (epoch micros/millis — `range` is in the same unit); key types must
    * match across sides.
    */
  def join(early: DataFrame, late: DataFrame, key: String,
           earlyTs: String, lateTs: String, range: Long): DataFrame = {
    // enforce the documented contract at build time (AsOf requires its
    // analogue): shared non-key names would emit an output with duplicate
    // columns that fails far from here with AMBIGUOUS_REFERENCE
    require(early.columns.toSet.intersect(late.columns.toSet) == Set(key),
      "band join sides must not share column names besides the key; " +
        s"shared: ${early.columns.toSet.intersect(late.columns.toSet) - key}")
    val spark = early.sparkSession
    val lPlan = early.queryExecution.analyzed
    // self-join lineage split — see NativePlans.realiased
    val rPlan = NativePlans.realiased(late)
    import NativePlans.attr
    val (lkA, rkA) = (attr(lPlan, key), attr(rPlan, key))
    require(lkA.dataType == rkA.dataType,
      s"band join key type mismatch: early $key is ${lkA.dataType}, late is ${rkA.dataType}")
    val (ltA, rtA) = (attr(lPlan, earlyTs), attr(rPlan, lateTs))
    require(ltA.dataType == LongType && rtA.dataType == LongType,
      s"band join ts columns must be LONG, got ${ltA.dataType}/${rtA.dataType}")
    require(range > 0, "band range must be positive")
    val node = BandJoin(lPlan, rPlan, lkA, rkA, ltA, rtA, range)
    org.apache.spark.sql.graftbridge.GraftSqlBridge.ofRows(spark, node)
  }
}
