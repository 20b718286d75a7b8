package graft.sources

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The engine's one session wiring, installed at session build by
  * `spark.sql.extensions=graft.sources.GraftSqlExtensions` (which
  * [[graft.Graft.session]] sets). Nothing is registered per call, and
  * sessions derived with `newSession()` inherit all of it:
  *
  *  - the native functions ([[graft.functions.GraftFunctions]]) and the
  *    table functions ([[GraftTableFunctions]]);
  *  - the SQL catalog's analysis-time rewrite ([[GraftCatalogRewrite]]);
  *  - the vector-fold rewrite and the storage rules
  *    ([[HiddenPartitionPruning]], then [[StatsFileSkipping]], then
  *    [[StatsCountPushdown]]) as pre-CBO rules: that batch runs once, in
  *    this order, after the operator-optimization fixpoint, so filters
  *    already sit on their relations with folded literals, and before the
  *    scan push-down batch prunes partitions;
  *  - the native as-of and band join planner strategies. */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.fns.foreach(ext.injectFunction)
    GraftTableFunctions.fns.foreach { case (name, builder) =>
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftTableFunctions.getClass.getName, name), builder))
    }
    ext.injectResolutionRule(session => GraftCatalogRewrite(session))
    Seq(graft.functions.RewriteVectorFolds, HiddenPartitionPruning,
      StatsFileSkipping, StatsCountPushdown)
      .foreach(rule => ext.injectPreCBORule(_ => rule))
    Seq(graft.plans.AsOfJoinStrategy, graft.plans.BandJoinStrategy)
      .foreach(strategy => ext.injectPlannerStrategy(_ => strategy))
  }
}
