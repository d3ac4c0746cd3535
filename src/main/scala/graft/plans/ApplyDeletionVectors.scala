package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Cast, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.GraftTable

/** Analyzer rule making the SQL front door correct for the two table
  * states a raw file scan cannot express — rewriting, at analysis and
  * before any scan is built, a catalog relation over a
  * [[graft.catalog.GraftTable]] snapshot that:
  *
  *  1. carries merge-on-read deletion vectors — into the commit log's
  *     tombstone-applied read (parquet scan ANTI JOIN tombstones on
  *     (file, position), the same plan the DataFrame plane uses);
  *  2. has renamed columns (metadata-only ALTER TABLE RENAME COLUMN) —
  *     into the physical-name read projected back to logical names, so
  *     files written before the rename keep serving their bytes under
  *     the new name with zero data rewrite. A logical column missing
  *     from the snapshot entirely (time travel to before its ADD
  *     COLUMN) reads as NULL, the standard evolution contract.
  *
  * Output attributes keep the relation's ExprIds, so every already-
  * resolved parent reference survives the substitution. Plain tables
  * (no tombstones, no renames — the overwhelmingly common case) don't
  * match and keep Spark's native V2 parquet scan path untouched: full
  * pushdown, pruning, vectorization. Filters and column pruning above a
  * rewritten relation still reach the scan through Catalyst's normal
  * pushdown (the Project is alias-transparent), so neither rewrite
  * changes the scale shape of the plan.
  *
  * Installed via `spark.sql.extensions=graft.functions.GraftExtensions`.
  * Sessions WITHOUT the rule fail loudly instead of resurrecting deleted
  * rows or NULLing renamed columns:
  * [[graft.catalog.GraftTable.newScanBuilder]] refuses to bind a raw
  * file scan in either state.
  */
class ApplyDeletionVectors extends Rule[LogicalPlan] {

  /** Only READ positions are rewritten. A write/row-level command's
    * target relation must stay the V2 table (the command machinery
    * resolves it to a write or a row-level operation; rewriting it to a
    * Project makes the command unresolvable) — the commit paths are
    * mapping- and tombstone-aware on their own, and SQL MERGE/UPDATE on
    * a tombstoned or renamed table is refused at the table
    * ([[GraftTable]]) with a pointer to the maintenance procedure.
    */
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case w: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
      w.withNewQuery(rewriteReads(w.query))
    case m: org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable =>
      m.copy(sourceTable = rewriteReads(m.sourceTable))
    case _: org.apache.spark.sql.catalyst.plans.logical.UpdateTable |
         _: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable => plan
    case other => rewriteReads(other)
  }

  private def rewriteReads(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case r @ DataSourceV2Relation(t: GraftTable, _, _, _, _, _)
        if t.hasDeletes || t.hasRenames =>
      val child = t.snapshotRead().queryExecution.analyzed
      val byName = child.output.map(a => a.name -> a).toMap
      Project(r.output.map { o =>
        byName.get(t.renameMapping.getOrElse(o.name, o.name)) match {
          case Some(a) =>
            val e = if (a.dataType == o.dataType) a else Cast(a, o.dataType)
            Alias(e, o.name)(exprId = o.exprId)
          case None =>
            // declared after this snapshot (time travel across ADD COLUMN)
            Alias(Literal(null, o.dataType), o.name)(exprId = o.exprId)
        }
      }, child)
  }
}
