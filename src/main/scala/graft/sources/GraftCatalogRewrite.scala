package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** The [[GraftCatalog]] READ path: replace every resolved
  * `DataSourceV2Relation(GraftSqlTable)` with the library's own analyzed
  * read plan, aliased onto the relation's output attributes — at ANALYSIS
  * time, so the whole downstream optimizer (filter pushdown,
  * [[HiddenPartitionPruning]], [[StatsFileSkipping]]) treats a SQL catalog
  * read exactly like a Scala-API read. This is the TVF splice discipline
  * ([[GraftTableFunctions]]) extended to three-part names and time travel;
  * without it the relation would reach physical planning and
  * [[GraftSqlTable.newScanBuilder]] refuses loudly.
  *
  * DML commands get the same one-code-path treatment from the WRITE side
  * ([[GraftSqlDml]]): resolved `UPDATE` / `MERGE INTO` / subquery-`DELETE`
  * plans convert here into eager commands that call the library's own DML —
  * Delta's conversion pattern, firing before `CheckAnalysis` would reject
  * the commands for a table without `SupportsRowLevelOperations`. Their
  * TARGET relations are never spliced (plain-filter `DELETE FROM` must stay
  * a V2 relation for `SupportsDelete` planning; unresolved DML must keep
  * its relation for reference resolution), while merge SOURCES and
  * condition subqueries are spliced like any read. */
case class GraftCatalogRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    // O(1) fast path: a plan can only hold a GraftSqlTable relation if a
    // GraftCatalog has been instantiated in this JVM — until then the rule
    // never pays a tree traversal, so the injected extension costs nothing
    // on the (vast) majority of queries that never touch the catalog
    if (!GraftCatalog.instantiated) plan
    else plan match {
      case d @ DeleteFromTable(target, cond) =>
        GraftSqlDml.graftTarget(target) match {
          // a condition a V1 Filter cannot carry (subquery) bypasses the
          // SupportsDelete path — Spark would refuse it at planning — and
          // runs as the library's copy-on-write delete instead
          case Some(t) if d.resolved && GraftSqlDml.hasSubquery(cond) =>
            requireUnpinned(t, "DELETE FROM")
            GraftDeleteCommand(t.dir, t.name(),
              GraftSqlDml.toColumn(spliceSubqueries(cond)))
          case _ => d // plain-filter DELETE rides SupportsDelete planning
        }
      case u @ UpdateTable(target, assignments, cond) =>
        GraftSqlDml.graftTarget(target) match {
          case Some(t) if u.resolved =>
            requireUnpinned(t, "UPDATE")
            toUpdateCommand(t, assignments, cond)
          case _ => u // unresolved yet (or not ours): keep the relation
        }
      case m: MergeIntoTable =>
        GraftSqlDml.graftTarget(m.targetTable) match {
          case Some(t) if m.resolved =>
            requireUnpinned(t, "MERGE INTO")
            toMergeCommand(t, m)
          case _ => m
        }
      case _ => splice(plan)
    }

  private def requireUnpinned(t: GraftSqlTable, verb: String): Unit = {
    require(t.pinned.isEmpty,
      s"cannot $verb a version-pinned read of ${t.name()}")
    require(t.branch.isEmpty,
      s"cannot $verb branch face ${t.name()} — branch DML is append-only " +
        "until fast-forward")
  }

  private def splice(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] =>
        val read = r.table.asInstanceOf[GraftSqlTable].readPlan(spark)
        Project(r.output.zip(read.output).map { case (to, from) =>
          Alias(from, to.name)(exprId = to.exprId)
        }, read)
      // `spark.readStream.table("graft.db.t")` — the catalog-addressed
      // STREAMING read resolves to the changelog source (st9's machinery):
      // a streaming read of a graft table IS its CDC feed (source columns
      // + _change_type/_commit_version), documented loudly on
      // ChangelogStream. The V2 relation is replaced whole — downstream
      // expressions resolve against the spliced CDC schema on the next
      // fixed-point iteration, so meta columns are selectable — and reader
      // options (startingVersion, maxVersionsPerTrigger) ride through to
      // the source. Without this splice the relation reaches
      // MicroBatchExecution, which finds no MICRO_BATCH_READ capability.
      case s: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
          if s.table.isInstanceOf[GraftSqlTable] =>
        val t = s.table.asInstanceOf[GraftSqlTable]
        require(t.pinned.isEmpty,
          s"cannot stream a version-pinned read of ${t.name()}")
        require(t.branch.isEmpty,
          s"cannot stream branch face ${t.name()} — the changelog is a " +
            "main-lineage contract; stream the table after fast-forward")
        val reader = spark.readStream
          .format(graft.streaming.ChangelogStream.FormatName)
        for (k <- Seq("startingVersion", "maxVersionsPerTrigger"))
          Option(s.extraOptions.get(k)).foreach(v => reader.option(k, v))
        reader.load(t.dir).queryExecution.analyzed
    }

  private def spliceSubqueries(e: Expression): Expression = e.transform {
    case se: SubqueryExpression => se.withNewPlan(splice(se.plan))
  }

  private def toUpdateCommand(t: GraftSqlTable,
      assignments: Seq[Assignment], cond: Option[Expression]): LogicalPlan = {
    val named = assignments.map { a =>
      a.key match {
        case attr: AttributeReference =>
          attr.name -> GraftSqlDml.toColumn(spliceSubqueries(a.value))
        case other => throw new UnsupportedOperationException(
          s"graft UPDATE: only top-level columns can be SET (got $other)")
      }
    }
    GraftUpdateCommand(t.dir, t.name(), named,
      cond.map(c => GraftSqlDml.toColumn(spliceSubqueries(c))))
  }

  /** Validate + translate `MERGE INTO` to [[GraftMergeCommand]] — the
    * supported shape is documented on the command; anything else refuses
    * loudly HERE (analysis time), naming the unsupported clause. */
  private def toMergeCommand(t: GraftSqlTable, m: MergeIntoTable): LogicalPlan = {
    def refuse(what: String): Nothing = throw new UnsupportedOperationException(
      s"graft MERGE INTO ${t.name()}: $what. Supported shape: ON a conjunction " +
        "of same-named key equalities; WHEN MATCHED [AND c] THEN UPDATE SET * " +
        "| DELETE; WHEN NOT MATCHED [AND c] THEN INSERT *; action conditions " +
        "over source columns only")
    if (m.notMatchedBySourceActions.nonEmpty)
      refuse("WHEN NOT MATCHED BY SOURCE is not supported")
    if (m.withSchemaEvolution) refuse("WITH SCHEMA EVOLUTION is not supported")
    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet

    // ON clause -> key column names: every conjunct a same-named
    // target/source attribute equality
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name.equalsIgnoreCase(b.name) &&
            ((targetOut.contains(a) && sourceOut.contains(b)) ||
              (targetOut.contains(b) && sourceOut.contains(a))) =>
        if (targetOut.contains(a)) a.name else b.name
      case other => refuse(s"ON conjunct '${other.sql}' is not a same-named " +
        "target/source key equality")
    }

    def sourceOnly(c: Option[Expression], where: String): Option[org.apache.spark.sql.Column] = {
      c.foreach { e =>
        val foreign = e.references.filterNot(sourceOut.contains)
        if (foreign.nonEmpty) refuse(s"$where condition references target " +
          s"columns ${foreign.map(_.name).mkString(", ")} — the mask-based " +
          "merge never scans target pre-images")
        if (GraftSqlDml.hasSubquery(e)) refuse(s"$where condition holds a subquery")
      }
      c.map(GraftSqlDml.toColumn)
    }

    // a full-source-image assignment set: every target column set to the
    // same-named source attribute (the analyzer expands SET * / INSERT *
    // into exactly this)
    def requireFullImage(assigns: Seq[Assignment], what: String): Unit = {
      val pairs = assigns.map { a =>
        (a.key, a.value) match {
          case (k: AttributeReference, v: AttributeReference)
              if k.name.equalsIgnoreCase(v.name) && targetOut.contains(k) &&
                sourceOut.contains(v) => k.name
          case (k, v) => refuse(s"$what assignment '${k.sql} = ${v.sql}' is " +
            "not the same-named source column (only the full source image — " +
            "SET * / INSERT * — is supported)")
        }
      }
      if (pairs.distinct.size != t.schema.size)
        refuse(s"$what must cover every target column (the storage merge " +
          s"writes full rows); got ${pairs.distinct.size} of ${t.schema.size}")
    }

    val matched = m.matchedActions.map {
      case DeleteAction(c) => (true, sourceOnly(c, "WHEN MATCHED DELETE"))
      case UpdateAction(c, assigns, _) =>
        requireFullImage(assigns, "WHEN MATCHED UPDATE")
        (false, sourceOnly(c, "WHEN MATCHED UPDATE"))
      case UpdateStarAction(c) => (false, sourceOnly(c, "WHEN MATCHED UPDATE"))
      case other => refuse(s"unsupported WHEN MATCHED action $other")
    }
    val insert = m.notMatchedActions match {
      case Seq() => None
      case Seq(InsertAction(c, assigns)) =>
        requireFullImage(assigns, "WHEN NOT MATCHED INSERT")
        Some(sourceOnly(c, "WHEN NOT MATCHED INSERT"))
      case Seq(InsertStarAction(c)) =>
        Some(sourceOnly(c, "WHEN NOT MATCHED INSERT"))
      case other => refuse(s"multiple WHEN NOT MATCHED actions: $other")
    }
    if (matched.isEmpty && insert.isEmpty) refuse("no actions")

    GraftMergeCommand(t.dir, t.name(), splice(m.sourceTable), keys,
      matched, insert)
  }
}
