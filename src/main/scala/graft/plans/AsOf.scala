package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute

/** User-facing face of the native [[AsOfJoin]] operator. */
object AsOf {

  /** As-of join `left` with `right`: for each left row, the payload of the
    * last right row of the same `key` with (ts, tie) at or before the left
    * row's. `payload` names right-side columns to carry (they must not
    * collide with left column names); all other right columns are dropped.
    *
    * The key/ts/tieBreak columns must have identical data types on both
    * sides (the exec compares values across sides with orderings built from
    * the left types), and tieBreak values must be non-null.
    *
    * `tolerance` (merge_asof semantics): when set, a last-visible right row
    * older than `tolerance` time units yields the null payload instead —
    * "the latest quote, but only if fresh". Requires LONG ts columns (epoch
    * micros/millis; the tolerance is in the same unit).
    */
  def join(left: DataFrame, right: DataFrame, key: String,
           leftTs: String, rightTs: String, payload: Seq[String],
           tieBreak: String, tolerance: Option[Long] = None): DataFrame = {
    require(payload.forall(c => !left.columns.contains(c)),
      "payload columns must not collide with left columns")
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    // self-join lineage split — see NativePlans.realiased
    val rPlan = NativePlans.realiased(right)
    import NativePlans.attr
    // Fail at plan-build time on cross-side type drift: the exec's orderings
    // come from the LEFT types only, so an INT-vs-BIGINT key would
    // ClassCastException (or miscompare) deep inside execution otherwise.
    Seq((key, key), (leftTs, rightTs), (tieBreak, tieBreak)).foreach {
      case (lName, rName) =>
        val (lt, rt) = (attr(lPlan, lName).dataType, attr(rPlan, rName).dataType)
        require(lt == rt,
          s"as-of join column type mismatch: left $lName is $lt, right $rName is $rt")
    }
    tolerance.foreach { t =>
      require(t >= 0, "as-of tolerance must be non-negative")
      require(attr(lPlan, leftTs).dataType == org.apache.spark.sql.types.LongType,
        s"as-of tolerance requires LONG ts columns, got ${attr(lPlan, leftTs).dataType}")
    }
    val node = AsOfJoin(lPlan, rPlan,
      leftKey = attr(lPlan, key), rightKey = attr(rPlan, key),
      leftTs = attr(lPlan, leftTs), rightTs = attr(rPlan, rightTs),
      leftTie = attr(lPlan, tieBreak), rightTie = attr(rPlan, tieBreak),
      payload = payload.map(attr(rPlan, _)), tolerance = tolerance)
    org.apache.spark.sql.graftbridge.GraftSqlBridge.ofRows(spark, node)
  }
}
