package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Minimal `private[sql]` bridge: turning a hand-built [[LogicalPlan]] back
  * into a [[DataFrame]] (`Dataset.ofRows`) has no public API, so this one
  * forwarding call (and the few below) lives inside the
  * `org.apache.spark.sql` package scope. Nothing else in the repo reaches
  * into Spark internals this way.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap a catalyst Expression as a user-facing [[org.apache.spark.sql.Column]]
    * (`ExpressionUtils.column` is `private[sql]` in Spark 4's classic
    * shim) — the SQL-DML converters hand library calls the predicates and
    * SET values the parser produced, with attribute references unresolved
    * back to names. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The grouping-key normalization Spark's aggregates apply
    * (`NormalizeFloatingNumbers.normalize` is `private[sql]`): `-0.0`
    * becomes `0.0` and every NaN one NaN, through nested structs and
    * arrays; an expression with no floating value comes back unchanged. */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Mark a batch frame streaming-legal for a V1 `Source.getBatch` result —
    * the micro-batch runner asserts `isStreaming`, and the only sanctioned
    * spelling (Delta's own) is the `private[sql]` internalCreateDataFrame
    * over the frame's execution RDD. Lazy and fully distributed: the RDD is
    * the optimized plan of the batch, nothing materializes here. */
  def asStreaming(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** The rows of a driver-bounded `df` as Catalyst rows, in ONE job: the
    * executed plan runs under one SQL execution id, as `Dataset.collect`
    * runs it, so listeners and tracers see one execution and one job. No
    * row deserializer is generated, and the job's task function is the
    * small [[CopyRows]] object, so the closure cleaner parses no large
    * class file (as it does for `RDD.collect`'s closure). */
  def collectRows(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      rdd.sparkContext.runJob(rdd, CopyRows).flatten
    }
  }

  // Scans reuse one row object per partition, so each row is copied
  private object CopyRows
      extends ((TaskContext, Iterator[InternalRow]) => Array[InternalRow]) with Serializable {
    def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[InternalRow] =
      rows.map(_.copy()).toArray
  }

  /** The rows of `df` when its plan is a local relation, read without
    * planning it, in `df.schema`'s column order; None for any other plan. */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] = df.queryExecution.logical match {
    case l: LocalRelation if !l.isStreaming => Some(l.data)
    case _ => None
  }

  /** A local relation over Catalyst `rows` of `schema`, built with no row
    * serializer: the counterpart of [[localRows]]. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `schema` with every field nullable, nested fields included, as a
    * parquet file stores it (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: StructType): StructType = schema.asNullable

  // expression code generation off: interpreted projections, predicates
  // and orderings, and no whole-stage code
  private val noCodegen = Seq(
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN",
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false")

  /** Runs `body` with code generation off for the calling thread only;
    * other threads on `spark` still compile. Driver-side planning reads
    * `SQLConf.get`, which prefers the thread's existing conf, so `body`
    * runs under a clone of the session conf with the two settings. The
    * job's tasks read their SQL conf from local properties, so the two
    * keys are set there too, and restored on exit (pool threads are
    * reused). A key the session sets itself keeps the session's value:
    * `SQLExecution` copies the session's explicit settings over the local
    * properties anyway. */
  def interpreted[T](spark: SparkSession)(body: => T): T = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val off = noCodegen.filterNot { case (k, _) => session.sessionState.conf.contains(k) }
    val conf = session.sessionState.conf.clone()
    off.foreach { case (k, v) => conf.setConfString(k, v) }
    val sc = spark.sparkContext
    val saved = off.map { case (k, _) => k -> sc.getLocalProperty(k) }
    try {
      off.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      SQLConf.withExistingConf(conf)(body)
    } finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
