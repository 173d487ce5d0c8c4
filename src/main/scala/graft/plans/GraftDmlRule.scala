package graft.plans

import graft.sources.{GraftTableV2, ManifestTable}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Exists, Expression, InSubquery, ListQuery, Literal, Not, OuterReference, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, Filter, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, Project, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit}

/** SQL row-level DML on graft tables — `DELETE FROM graft.t WHERE …` and
  * `UPDATE graft.t SET … WHERE …` rewritten onto the copy-on-write verbs
  * (the Delta pattern: an analysis rule turns the catalyst DML node into
  * a table-format command, instead of implementing the
  * SupportsRowLevelOperations machinery). Runs post-hoc BEFORE
  * [[GraftTableResolution]], so the v2 relation under the DML node is
  * still intact when matched.
  *
  * The resolved condition/assignment expressions are rebased onto a
  * fresh read of the table by swapping their `AttributeReference`s for
  * by-name `UnresolvedAttribute`s — the verbs re-resolve them over the
  * snapshot they mutate. Subqueries in the condition are materialized at
  * RUN time by [[GraftDmlSubqueries]] (`x IN (SELECT …)`, scalar
  * subqueries, and equality-correlated `EXISTS` become literal row-local
  * predicates; anything else fails loud naming the programmatic
  * alternative). All verb semantics carry over unchanged: partition +
  * stats localization, constraint enforcement, CDC capture,
  * metadata-only fast paths, OCC retry.
  */
object GraftDmlRule extends Rule[LogicalPlan] {

  /** The v2 relation under a DML target, looking through the
    * `SubqueryAlias` the resolver wraps catalog tables in. */
  private def graftTable(plan: LogicalPlan): Option[GraftTableV2] = plan match {
    case SubqueryAlias(_, child) => graftTable(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTableV2 => Some(t)
      case _ => None
    }
    case _ => None
  }

  /** Rebase a RESOLVED expression for re-resolution over a fresh frame:
    * attribute references become by-name unresolved attributes. Must be
    * subquery-free by this point (see [[GraftDmlSubqueries]]). */
  private[plans] def rebase(e: Expression): Column =
    GraftSqlBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(a.name)
    })

  /** Carry a RAW resolved condition (possibly holding subquery
    * expressions) into a command as an opaque Column: the Column facade
    * keeps the expression out of the command's `expressions` so analyzer
    * checks don't trip on a subquery outside a Filter; the command's
    * `run` materializes + rebases it via [[GraftDmlSubqueries.resolve]]. */
  private def defer(e: Expression): Column = GraftSqlBridge.column(e)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case d @ DeleteFromTable(target, condition) if graftTable(target).isDefined
        && condition.resolved =>
      val t = graftTable(target).get
      requireLive(t, "DELETE")
      GraftDeleteCommand(t.root, defer(condition))

    case u @ UpdateTable(target, assignments, condition) if graftTable(target).isDefined
        && assignments.forall(_.resolved) && condition.forall(_.resolved) =>
      val t = graftTable(target).get
      requireLive(t, "UPDATE")
      val set = assignments.map { case Assignment(key, value) =>
        val name = key match {
          case a: AttributeReference => a.name
          case other => throw new UnsupportedOperationException(
            s"graft SQL UPDATE supports top-level column assignments only, got ${other.sql}")
        }
        name -> defer(value)
      }.toMap
      GraftUpdateCommand(t.root, condition.map(defer).getOrElse(lit(true)), set)

    case m: MergeIntoTable if graftTable(m.targetTable).isDefined && m.resolved =>
      convertMerge(m, graftTable(m.targetTable).get)
  }

  /** `MERGE INTO` for the keyed-upsert shapes [[ManifestTable.merge]]
    * covers (Delta's canonical usage):
    *
    *   - `WHEN MATCHED THEN UPDATE SET *` and/or
    *     `WHEN NOT MATCHED THEN INSERT *` (either alone narrows the
    *     source to matched / not-matched keys first);
    *   - an optional `WHEN MATCHED [AND <source-only cond>] THEN DELETE`
    *     → the verb's `deleteCol` tombstones.
    *
    * The ON clause must be an equality conjunction of same-named target
    * and source columns (the verb is keyed by shared names). Row-varying
    * update assignments (non-star), not-matched-by-source clauses, and
    * schema evolution fall outside the verb and fail loud with the
    * programmatic alternative named. */
  private def convertMerge(m: MergeIntoTable, t: GraftTableV2): LogicalPlan = {
    requireLive(t, "MERGE")
    val unsupported = new UnsupportedOperationException(
      "graft SQL MERGE supports the keyed upsert shapes: WHEN MATCHED THEN UPDATE SET * " +
        "[/ WHEN MATCHED [AND cond-over-source] THEN DELETE] / WHEN NOT MATCHED THEN " +
        "INSERT *, with ON as an equality of same-named key columns; for other shapes " +
        "use ManifestTable.merge / exactlyOnceMergeWriter directly")
    if (m.notMatchedBySourceActions.nonEmpty || m.withSchemaEvolution) throw unsupported

    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet

    // ON: conjunction of target.k = source.k with matching names
    def keysOf(e: Expression): Seq[String] = e match {
      case And(l, r) => keysOf(l) ++ keysOf(r)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name == b.name &&
            ((targetOut.contains(a) && sourceOut.contains(b)) ||
              (targetOut.contains(b) && sourceOut.contains(a))) => Seq(a.name)
      case _ => throw unsupported
    }
    val keys = keysOf(m.mergeCondition).distinct

    // star-expanded assignments: EVERY target column <- the same-named
    // source column, nothing else (explicit full-coverage same-name
    // assignment lists qualify too — they are what the resolver expands
    // the star into)
    val targetCols = m.targetTable.output.map(_.name)
    def isStar(assigns: Seq[Assignment]): Boolean =
      assigns.forall {
        case Assignment(k: AttributeReference, v: AttributeReference) =>
          k.name == v.name && targetOut.contains(k) && sourceOut.contains(v)
        case _ => false
      } && assigns.map(_.key.asInstanceOf[AttributeReference].name).toSet == targetCols.toSet

    var update: Option[UpdateAction] = None
    var delete: Option[DeleteAction] = None
    m.matchedActions.foreach {
      case ua: UpdateAction if ua.condition.isEmpty && isStar(ua.assignments) &&
          update.isEmpty => update = Some(ua)
      case da: DeleteAction if delete.isEmpty => delete = Some(da)
      case _ => throw unsupported
    }
    val insert: Option[InsertAction] = m.notMatchedActions match {
      case Seq() => None
      case Seq(ia: InsertAction) if ia.condition.isEmpty && isStar(ia.assignments) => Some(ia)
      case _ => throw unsupported
    }
    if (update.isEmpty && delete.isEmpty && insert.isEmpty) throw unsupported
    // a delete condition may reference SOURCE columns only — target refs
    // would silently rebind to same-named source columns after rebase
    delete.flatMap(_.condition).foreach { c =>
      if (!c.references.subsetOf(sourceOut)) throw new UnsupportedOperationException(
        "graft SQL MERGE: a WHEN MATCHED ... THEN DELETE condition may reference " +
          s"source columns only (got: ${c.sql}); put target-side logic in the source query")
    }
    GraftMergeCommand(t.root, m.sourceTable, keys,
      update.isDefined, insert.isDefined,
      delete.map(_.condition.map(defer).getOrElse(lit(true))))
  }

  private def requireLive(t: GraftTableV2, verb: String): Unit =
    require(t.pinnedVersion.isEmpty,
      s"$verb targets the live table; ${t.name} is version-pinned (time travel)")
}

/** `DELETE FROM` → [[ManifestTable.delete]] (copy-on-write with
  * metadata-only and stats-localized paths). */
final case class GraftDeleteCommand(root: String, pred: Column)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    ManifestTable.delete(spark, root, GraftDmlSubqueries.resolve(spark, pred))
    Seq.empty
  }
}

/** `UPDATE … SET` → [[ManifestTable.update]] (SET evaluated over the OLD
  * row, Delta semantics). */
final case class GraftUpdateCommand(root: String, pred: Column, set: Map[String, Column])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    ManifestTable.update(spark, root, GraftDmlSubqueries.resolve(spark, pred),
      set.map { case (k, v) => k -> GraftDmlSubqueries.resolve(spark, v) })
    Seq.empty
  }
}

/** `MERGE INTO` → [[ManifestTable.merge]]. The verb always upserts every
  * source row, so the SQL clause set is enforced by narrowing the source
  * first: with only some of UPDATE/INSERT/DELETE present, a left join
  * against the target's distinct keys computes a matched flag `M`, rows
  * are kept per `M && (update || deleteCond) || !M && insert` (exactly
  * the rows some clause touches — matched rows with no applicable clause
  * stay untouched, unmatched DELETE-condition rows still INSERT, Delta's
  * clause semantics), and `M && deleteCond` becomes the verb's tombstone
  * column. The narrowing runs inside each merge attempt, against that
  * attempt's snapshot ([[ManifestTable.mergeWith]]), so the matched flag
  * and the localization never see two versions of the target. With the
  * full UPDATE-star + INSERT-star pair and no DELETE, the source passes
  * through un-joined — the verb IS that upsert. */
final case class GraftMergeCommand(root: String, source: LogicalPlan, keys: Seq[String],
    hasUpdate: Boolean, hasInsert: Boolean, deleteCond: Option[Column])
    extends LeafRunnableCommand {

  private val MatchFlag = "__graft_sql_matched"
  private val TombCol = "__graft_sql_tomb"

  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftSqlBridge.ofRows(spark, source)
    // conform to the target's declared columns: source extras (e.g. a
    // tombstone marker) are projected away; columns a delete-only source
    // does not carry are null-filled (tombstones only need keys)
    val tgt = ManifestTable.read(spark, root).schema
    def conform(df: DataFrame, extra: Seq[String]): DataFrame = {
      val have = df.columns.toSet
      df.select(tgt.fields.toIndexedSeq.map { f =>
        if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
      } ++ extra.map(col): _*)
    }
    if (deleteCond.isEmpty && hasUpdate && hasInsert) {
      ManifestTable.merge(spark, root, conform(src, Nil), keys)
      return Seq.empty
    }
    def narrow(target: DataFrame): DataFrame = {
      val existing = target.select(keys.map(col): _*).distinct().withColumn(MatchFlag, lit(true))
      val m = org.apache.spark.sql.functions.coalesce(col(MatchFlag), lit(false))
      val flagged = src.join(existing, keys, "left")
      deleteCond match {
        case Some(c) =>
          val keep = (m && (lit(hasUpdate) || c)) || (!m && lit(hasInsert))
          conform(flagged.filter(keep).withColumn(TombCol, m && c), Seq(TombCol))
        case None =>
          conform(flagged.filter((m && lit(hasUpdate)) || (!m && lit(hasInsert))), Nil)
      }
    }
    ManifestTable.mergeWith(spark, root, keys, Right(narrow _),
      deleteCol = deleteCond.map(_ => TombCol))
    Seq.empty
  }
}

/** Run-time materialization of subquery expressions inside DML
  * conditions — `DELETE FROM t WHERE id IN (SELECT …)` is the first
  * statement a migrating Delta user writes. The supported shapes are
  * evaluated INTO the condition so the existing row-local verbs (with
  * their localization, constraints, CDC, OCC) run unchanged:
  *
  *   - `x IN (uncorrelated subquery)` → `x IN (<distinct values>)`,
  *     exact three-valued IN semantics preserved (so `NOT IN` null traps
  *     behave per SQL). Value lists are capped at [[MaxInlineValues]]
  *     distinct values — beyond that a row-local predicate is the wrong
  *     tool and the error names the join-based verbs.
  *   - uncorrelated scalar subqueries → a literal (also usable in
  *     `UPDATE … SET x = (SELECT …)`).
  *   - `EXISTS (SELECT … FROM s WHERE s.k = t.k [AND inner-conds])` —
  *     the single-equality-correlated shape → `coalesce(t.k IN
  *     (SELECT s.k WHERE inner-conds), false)`, which is exactly EXISTS
  *     (never NULL), so `NOT EXISTS` keeps null-keyed rows per SQL.
  *
  * Anything else (correlated IN, multi-column IN, non-equality or
  * multi-equality correlation, correlation above other operators) fails
  * loud naming `ManifestTable.merge/delete` with a join. At cluster
  * scale the cap bounds driver memory: the inlined list is only ever
  * the subquery's distinct key set, and past the cap the user is told
  * to use the shuffle-join path instead.
  */
object GraftDmlSubqueries {

  /** Most distinct values inlined into a condition. Catalyst converts
    * lists past `spark.sql.optimizer.inSetConversionThreshold` to a hash
    * `InSet`, so evaluation stays O(1) per row; the cap bounds the
    * driver collect and the plan size. */
  val MaxInlineValues = 100000

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft SQL DML supports uncorrelated IN/scalar subqueries and single-equality-" +
        s"correlated EXISTS in conditions; $what is not supported — materialize the " +
        "subquery and use ManifestTable.merge/delete with a join instead")

  /** Deferred-condition resolution: unwrap the raw Column, evaluate any
    * subqueries to literals, rebase attributes by name for the verbs. */
  def resolve(spark: SparkSession, raw: Column): Column =
    GraftDmlRule.rebase(materialize(spark, GraftSqlBridge.expression(raw)))

  // transformDown: the enclosing InSubquery/Exists must rewrite BEFORE
  // its ListQuery/plan child is visited (bottom-up would feed the bare
  // ListQuery to the catch-all); nested subqueries inside a subquery's
  // plan are executed by ofRows, not rewritten here
  private def materialize(spark: SparkSession, e: Expression): Expression =
    e.transformDown {
      case in @ InSubquery(values, lq: ListQuery) =>
        if (lq.outerAttrs.nonEmpty) unsupported("a correlated IN subquery")
        if (values.length != 1) unsupported("a multi-column IN subquery")
        inList(values.head, collectVals(spark, lq.plan))
      case ex: Exists => rewriteExists(spark, ex)
      case s: ScalarSubquery =>
        if (s.outerAttrs.nonEmpty) unsupported("a correlated scalar subquery")
        val rows = GraftSqlBridge.ofRows(spark, s.plan).limit(2).collect()
        require(rows.length <= 1,
          "scalar subquery in a DML condition returned more than one row")
        Literal.create(if (rows.isEmpty) null else rows(0).get(0), s.dataType)
      case sub: SubqueryExpression => unsupported(s"subquery shape ${sub.getClass.getSimpleName}")
    }

  /** `x IN (<vals>)` — with SQL's empty-set semantics made explicit:
    * `x IN ()` is FALSE for every x (nulls included), so `NOT IN` over
    * an empty subquery is TRUE; Catalyst's `In` requires a non-empty
    * list, so the empty case becomes a literal. */
  private def inList(value: Expression, vals: Seq[Expression]): Expression =
    if (vals.isEmpty) Literal(false)
    else org.apache.spark.sql.catalyst.expressions.In(value, vals)

  /** Distinct single-column values of an uncorrelated subquery, capped. */
  private def collectVals(spark: SparkSession, plan: LogicalPlan): Seq[Expression] = {
    val df = GraftSqlBridge.ofRows(spark, plan)
    require(df.schema.length == 1, "IN subquery must produce exactly one column")
    val dt = df.schema.head.dataType
    val rows = df.distinct().limit(MaxInlineValues + 1).collect()
    if (rows.length > MaxInlineValues)
      unsupported(s"an IN subquery with more than $MaxInlineValues distinct values")
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      rows.map(r => Literal.create(r.get(0), dt)))
  }

  /** EXISTS → a null-safe IN over the correlated equality. */
  private def rewriteExists(spark: SparkSession, ex: Exists): Expression = {
    if (ex.outerAttrs.isEmpty)
      return Literal(!GraftSqlBridge.ofRows(spark, ex.plan).isEmpty)

    def conjuncts(c: Expression): Seq[Expression] = c match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def hasOuter(x: Expression): Boolean = x.exists(_.isInstanceOf[OuterReference])

    // Find the correlated Filter reachable through Project/SubqueryAlias
    // layers only (the canonical WHERE shape); everything else is loud.
    def find(plan: LogicalPlan): (Expression, Expression, LogicalPlan) = plan match {
      case Project(exprs, child) =>
        if (exprs.exists(hasOuter)) unsupported("correlation outside the WHERE clause")
        find(child)
      case SubqueryAlias(_, child) => find(child)
      case Filter(cond, child) if hasOuter(cond) =>
        val (corr, rest) = conjuncts(cond).partition(hasOuter)
        val (outerSide, innerSide) = corr match {
          case Seq(EqualTo(OuterReference(a), inner)) if !hasOuter(inner) => (a, inner)
          case Seq(EqualTo(inner, OuterReference(a))) if !hasOuter(inner) => (a, inner)
          case _ => unsupported("EXISTS correlation that is not a single equality")
        }
        val base = if (rest.isEmpty) child else Filter(rest.reduce(And), child)
        (outerSide, innerSide, base)
      case Filter(cond, child) if !hasOuter(cond) =>
        val (o, i, base) = find(child); (o, i, Filter(cond, base))
      case other =>
        unsupported(s"EXISTS correlation below a ${other.nodeName} operator")
    }
    val (outerAttr, innerExpr, base) = find(ex.plan)
    if (base.exists(p => p.expressions.exists(hasOuter)))
      unsupported("EXISTS with correlation in more than one place")

    val innerVals = collectVals(spark,
      Project(Seq(org.apache.spark.sql.catalyst.expressions.Alias(innerExpr, "__graft_in")()), base))
    // coalesce(…, false): EXISTS is two-valued — a null key or null inner
    // values must yield FALSE (not NULL), so NOT EXISTS negates correctly
    org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
      inList(outerAttr, innerVals), Literal(false)))
  }
}
