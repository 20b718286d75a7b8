package graft.sources

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, InSubquery, ListQuery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit, not}

/** SQL `UPDATE` and `MERGE INTO` (and subquery-conditioned `DELETE`) for the
  * `graft` catalog — the row-level DML verbs a lakehouse SQL user types
  * daily (the reference's platform takes them on Iceberg tables,
  * `dbt_project.yml:40-43`).
  *
  * Architecture: the resolved command plans are converted at ANALYSIS time
  * ([[GraftCatalogRewrite]]) into eager commands that delegate to the ONE
  * existing DML implementation — [[VersionedHiddenTable.update]] /
  * [[VersionedHiddenTable.merge]] / [[VersionedHiddenTable.delete]] — the
  * same splice-to-the-library discipline as the read path, so SQL DML and
  * Scala DML cannot drift. This is Delta Lake's own pattern (convert
  * `UpdateTable`/`MergeIntoTable` in an injected resolution rule) rather
  * than DSv2 `SupportsRowLevelOperations`, deliberately: Spark's group-based
  * row-level framework would plan a SECOND rewrite pipeline (row-level scan
  * + ReplaceData) around a storage layer that already owns era-scoped
  * copy-on-write and mask-based merge-on-read — one code path, one set of
  * semantics, one test surface. The operations stay GROUP-based by
  * construction: `update` rewrites only the eras whose stats admit a match,
  * `merge` writes one key mask + one upsert era, never a per-row rescan.
  *
  * Expression handoff: a resolved SQL condition references the DSv2
  * relation's attributes by exprId, but the library applies predicates to
  * FRESH reads — so top-level attribute references unresolve back to names
  * ([[GraftSqlDml.toColumn]]) while non-correlated subquery plans ride
  * along fully resolved (their own graft relations already spliced).
  * Correlated subqueries in DML conditions refuse loudly. */
object GraftSqlDml {

  /** The DSv2 graft table a DML target resolves to, through any
    * SubqueryAlias wrapping the analyzer added. */
  private[sources] def graftTarget(plan: LogicalPlan): Option[GraftSqlTable] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftSqlTable => Some(t)
        case _ => None
      }
      case _ => None
    }

  /** Resolved condition/value expression -> a [[Column]] applicable to a
    * FRESH library read: top-level attribute references unresolve by name
    * (the library resolves them against its own plan); subquery plans stay
    * resolved and spliced. `transform` does not descend into subquery
    * plans, so inner attributes keep their (correct) resolved identities. */
  private[sources] def toColumn(e: Expression): Column = {
    e.foreach {
      case se: SubqueryExpression if se.getOuterAttrs.nonEmpty =>
        throw new UnsupportedOperationException(
          "graft DML: correlated subqueries in DML conditions are not " +
            s"supported (found ${se.getClass.getSimpleName} with outer " +
            s"references ${se.getOuterAttrs.mkString(", ")})")
      case _ => ()
    }
    org.apache.spark.sql.graftbridge.GraftSqlBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  /** Does the condition tree contain a subquery expression? (Plain-filter
    * DELETEs keep the pushdown-translated `SupportsDelete` path.) */
  private[sources] def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[SubqueryExpression])
}

/** Eager `UPDATE graft.db.t SET ... WHERE ...` — copy-on-write
  * ([[VersionedHiddenTable.update]]): only the eras whose stats admit a
  * matching row are rewritten; every older snapshot keeps pre-update
  * values; the changelog nets the update as its deletes + inserts. */
case class GraftUpdateCommand(dir: String, ident: String,
    assignments: Seq[(String, Column)], condition: Option[Column])
  extends LeafRunnableCommand {
  // fields are Columns, not Expressions, ON PURPOSE: an eager command's
  // expression fields would re-enter CheckAnalysis, whose subquery
  // allowlist knows only the built-in DML nodes — the conversion
  // (attribute unresolve + subquery splice) happened at rewrite time
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedHiddenTable.update(spark, dir,
      condition.getOrElse(lit(true)), assignments.toMap): Unit
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"GraftUpdateCommand $ident [${assignments.map(_._1).mkString(", ")}]"
}

/** Eager `DELETE FROM graft.db.t WHERE <condition with subquery>` —
  * [[VersionedHiddenTable.delete]] (copy-on-write). Plain-filter DELETEs
  * never reach this command (they ride the `SupportsDelete` pushdown
  * translation); this covers exactly the conditions V1 `Filter`s cannot
  * carry, e.g. `WHERE id IN (SELECT ... FROM graft.u)`. */
case class GraftDeleteCommand(dir: String, ident: String,
    condition: Column) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedHiddenTable.delete(spark, dir, condition): Unit
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"GraftDeleteCommand $ident"
}

/** Eager `MERGE INTO graft.db.t USING src ON ... WHEN ...` — delegates to
  * the merge-on-read [[VersionedHiddenTable.merge]] (one key mask + one
  * upsert era in a single snapshot; no existing data file rewritten).
  *
  * Supported shape — the canonical CDC upsert the storage merge implements:
  *   - `ON` is a conjunction of same-named target/source key equalities;
  *   - `WHEN MATCHED [AND c] THEN UPDATE SET *` (full source image);
  *   - `WHEN MATCHED [AND c] THEN DELETE`;
  *   - `WHEN NOT MATCHED [AND c] THEN INSERT *`;
  *   - action conditions reference SOURCE columns only (the mask-based
  *     merge never scans target pre-images — that is what makes it one
  *     bounded write at 100 TB, and why a target-side condition refuses).
  * Anything else refuses loudly at analysis with the unsupported clause
  * named ([[GraftCatalogRewrite.toMergeCommand]]).
  *
  * Exact SQL semantics are reconstructed around the one-shot upsert by a
  * per-row keep/delete classification against the CURRENT target key set
  * (an IN-subquery on the key columns — a broadcast-sized semi-join probe,
  * never a target scan). SQL fires the FIRST admitting clause in syntax
  * order, so with matched clauses (isDelete_i, c_i) in order:
  *   keep(matched row)   = OR_i c_i
  *   delete(matched row) = OR_i (isDelete_i && c_i && AND_j<i !c_j)
  *   keep(unmatched row) = inserts && c_ins
  * A matched row failing every clause leaves the target row UNTOUCHED
  * (dropped from the source batch); an unmatched row inserts exactly when
  * the INSERT clause admits it. */
case class GraftMergeCommand(dir: String, ident: String,
    source: LogicalPlan, keys: Seq[String],
    // WHEN MATCHED clauses in syntax order: (isDelete, actionCondition)
    matchedActions: Seq[(Boolean, Option[Column])],
    // Some(actionCondition) when WHEN NOT MATCHED INSERT * is present
    insert: Option[Option[Column]])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graftbridge.GraftSqlBridge.ofRows(spark, source)
    // matched(row): key tuple ∈ current target keys — expressed as a
    // multi-column IN-subquery over the distinct key projection, which the
    // optimizer plans as a (typically broadcast) semi/anti join
    def matched: Column = {
      val keysPlan = VersionedHiddenTable.read(spark, dir)
        .select(keys.map(col): _*).distinct().queryExecution.analyzed
      org.apache.spark.sql.graftbridge.GraftSqlBridge.column(InSubquery(
        keys.map(k => UnresolvedAttribute.quoted(k)), ListQuery(keysPlan)))
    }
    def condCol(c: Option[Column]): Column = c.getOrElse(lit(true))
    val conds = matchedActions.map { case (_, c) => condCol(c) }
    val insKeep = insert.map(condCol).getOrElse(lit(false))
    val simpleUpsert = matchedActions == Seq((false, None)) &&
      insert.contains(None)
    // the canonical full upsert skips the classification probe entirely —
    // every source row is kept and none deletes
    val (kept, deleteWhen) =
      if (simpleUpsert) (src, None)
      else {
        val matchKeep = conds.foldLeft(lit(false))(_ || _)
        val keep = org.apache.spark.sql.functions.when(matched, matchKeep)
          .otherwise(insKeep)
        // first-admitting-clause-is-DELETE, in syntax order
        val firstIsDelete = matchedActions.zipWithIndex.collect {
          case ((true, _), i) =>
            conds.take(i).foldLeft(conds(i))((acc, prior) => acc && not(prior))
        }.foldLeft(lit(false))(_ || _)
        val del = if (!matchedActions.exists(_._1)) None
          else Some(matched && firstIsDelete)
        (src.filter(keep), del)
      }
    VersionedHiddenTable.merge(spark, dir, kept, keys, deleteWhen): Unit
    Nil
  }
  override def simpleString(maxFields: Int): String =
    s"GraftMergeCommand $ident keys=[${keys.mkString(", ")}]"
}
