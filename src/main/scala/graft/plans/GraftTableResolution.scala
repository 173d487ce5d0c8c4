package graft.plans

import graft.sources.{DeltaLake, GraftDataSource, GraftDeltaSource, GraftDeltaTableV2, GraftTableV2}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Swaps the analyzer's `DataSourceV2Relation` over a [[GraftTableV2]]
  * for the engine's V1 scan relation — the DeltaTableV2 conversion
  * pattern: the catalog hands SQL a thin `Table` handle, and this rule
  * makes every READ of it run through the same `GraftFileIndex` +
  * parquet path as `format("graft")`, so SQL queries get manifest
  * partition pruning, per-file stats skipping, and pushed filters
  * identically to the DataFrame face.
  *
  * The v2 relation's output attributes are preserved via an aliasing
  * `Project` (same names, SAME exprIds), so references already resolved
  * against the relation stay valid. Write commands (`INSERT` → V1
  * fallback) keep their v2 relation — the fallback needs the `Table`
  * handle, not a scan.
  */
object GraftTableResolution extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // INSERT targets stay v2: V1_BATCH_WRITE resolves through the Table
    val writeTargets = plan.collect {
      case w: V2WriteCommand => w.table
    }.toSet[LogicalPlan]
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftTableV2] && !writeTargets.contains(r) =>
        val t = r.table.asInstanceOf[GraftTableV2]
        val v1 = LogicalRelation(GraftDataSource.relationFor(SparkSession.active, t.state, None))
        val byName = v1.output.map(a => a.name -> a).toMap
        // declared order with the v2 relation's exprIds
        val cols: Seq[NamedExpression] = r.output.map { o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId)
        }
        Project(cols, v1)

      // a foreign Delta lake answered by the catalog: pruned DeltaFileIndex
      // scan when representable; the DV-/mapping-honoring composed read
      // otherwise (a SELECT face is read-only, so any plan shape works)
      // a foreign Iceberg table answered by the catalog: the composed
      // read (pruned IcebergFileIndex scan; v2 deletes applied when the
      // snapshot carries them — a SELECT face is read-only, so any plan
      // shape works)
      case r: DataSourceV2Relation if r.table.isInstanceOf[graft.sources.GraftIcebergTableV2] =>
        val t = r.table.asInstanceOf[graft.sources.GraftIcebergTableV2]
        val spark = SparkSession.active
        val ls = t.lazySnap
        // the manifests stay unread, executors prune them at listFiles
        // time (r11); delete-carrying snapshots compose the v2 deletes
        // over the SAME lazy scan via the __seq column (r12) — only a
        // live-entry-free snapshot takes the (trivially empty) eager
        // read, seeded from the same lazy resolution
        val scan: LogicalPlan =
          graft.sources.IcebergTable.lazyScanSchemas(spark, ls) match {
            case None => GraftSqlBridge.analyzedPlan(
              graft.sources.IcebergTable.readSnapshot(spark, t.root,
                graft.sources.IcebergTable.materialize(spark, ls)))
            case Some(s) if ls.deleteFiles.isEmpty && s._4.isEmpty =>
              LogicalRelation(
                graft.sources.GraftIcebergSource.lazyRelationFrom(spark, t.root, ls, s))
            case Some(s) => GraftSqlBridge.analyzedPlan(
              graft.sources.IcebergTable.readLazyFrom(spark, t.root, ls, s))
          }
        val byName = scan.output.map(a => a.name -> a).toMap
        val cols: Seq[NamedExpression] = r.output.map { o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId)
        }
        Project(cols, scan)

      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftDeltaTableV2] =>
        val t = r.table.asInstanceOf[GraftDeltaTableV2]
        val spark = SparkSession.active
        val scan: LogicalPlan = t.resolved match {
          // checkpoint-resident adds: the distributed-prune file index
          case Right(ls) =>
            LogicalRelation(GraftDeltaSource.lazyRelationFor(spark, t.root, ls))
          case Left(snap) if snap.columnMapping || snap.files.exists(_.dv.isDefined) =>
            GraftSqlBridge.analyzedPlan(
              DeltaLake.readEntries(spark, t.root, snap, snap.files))
          case Left(snap) =>
            LogicalRelation(GraftDeltaSource.relationFor(spark, t.root, snap))
        }
        val byName = scan.output.map(a => a.name -> a).toMap
        val cols: Seq[NamedExpression] = r.output.map { o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId)
        }
        Project(cols, scan)
    }
  }
}
