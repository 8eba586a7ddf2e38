package graft.sources

import org.apache.spark.sql.{Column, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

import graft.sources.VersionedTable.{MergeIntoAction, MergeIntoDelete, MergeIntoInsert, MergeIntoUpdate}

/** SQL-text row-level DML over graft tables: an injected post-hoc
  * resolution rule (the pattern Delta Lake's `DeltaAnalysis` uses publicly)
  * converts resolved `UPDATE` / `MERGE INTO` plans targeting a
  * [[GraftTable]] into runnable commands that execute the table's own
  * conflict-retried copy-on-write primitives ([[VersionedTable.update]],
  * [[VersionedTable.mergeInto]]) — one commit protocol for SQL and API.
  * `DELETE FROM` / `TRUNCATE` already ride DSv2's `SupportsDelete`; with
  * this rule the whole DML family is speakable as SQL text.
  *
  * Expression handoff: the resolved Catalyst expressions reference the
  * statement's relations by `exprId`. The rule rewrites every attribute
  * to a NAME — target attributes to their logical column names, source
  * attributes to fresh `__src_<i>` slots (so a source column can never
  * shadow a target column) — and hands name-based `Column`s to the
  * primitives, which re-resolve them against their own scan frames.
  */
object GraftSqlDml {

  /** Strip subquery aliases down to the underlying relation. */
  @scala.annotation.tailrec
  private def unwrap(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => unwrap(child)
    case other => other
  }

  private def graftTableOf(p: LogicalPlan): Option[(GraftTable, DataSourceV2Relation)] =
    unwrap(p) match {
      case r: DataSourceV2Relation =>
        r.table match {
          case gt: GraftTable => Some((gt, r))
          case _ => None
        }
      case _ => None
    }

  private def partitionedOf(p: LogicalPlan): Option[(GraftPartitionedTable, DataSourceV2Relation)] =
    unwrap(p) match {
      case r: DataSourceV2Relation =>
        r.table match {
          case gpt: GraftPartitionedTable => Some((gpt, r))
          case _ => None
        }
      case _ => None
    }

  /** Rewrite attribute references to names via `names`, then convert to a
    * Column the DML primitives can re-resolve by name.
    */
  private def toColumn(e: Expression, names: Map[ExprId, String]): Column =
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference =>
        UnresolvedAttribute(Seq(names.getOrElse(a.exprId,
          throw new IllegalArgumentException(
            s"expression references a column outside the DML statement: $a"))))
    })

  private def assignmentTarget(e: Expression,
                               names: Map[ExprId, String]): String = e match {
    case a: AttributeReference => names.getOrElse(a.exprId,
      throw new IllegalArgumentException(s"assignment to unknown column: $a"))
    case other => throw new UnsupportedOperationException(
      s"graft tables support only top-level column assignments, got: $other")
  }

  private def toAction(a: MergeAction,
                       names: Map[ExprId, String]): MergeIntoAction = a match {
    case u: UpdateAction =>
      MergeIntoUpdate(u.condition.map(toColumn(_, names)),
        u.assignments.map(as =>
          assignmentTarget(as.key, names) -> toColumn(as.value, names)).toMap)
    case d: DeleteAction =>
      MergeIntoDelete(d.condition.map(toColumn(_, names)))
    case i: InsertAction =>
      MergeIntoInsert(i.condition.map(toColumn(_, names)),
        i.assignments.map(as =>
          assignmentTarget(as.key, names) -> toColumn(as.value, names)).toMap)
    case other => throw new UnsupportedOperationException(
      s"MERGE action not supported on graft tables: $other")
  }

  /** The injected rule (see `GraftExtensions`). Matches only resolved
    * top-level UPDATE / MERGE plans whose target is a graft table;
    * everything else passes through untouched.
    */
  final class GraftSqlDmlRule(session: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan match {
      case u: UpdateTable if u.resolved =>
        graftTableOf(u.table) match {
          case Some((gt, rel)) =>
            val names = rel.output.map(a => a.exprId -> a.name).toMap
            GraftUpdateCommand(gt.vt,
              u.assignments.map(as =>
                assignmentTarget(as.key, names) ->
                  toColumn(as.value, names)).toMap,
              u.condition.map(toColumn(_, names)))
          case None => partitionedOf(u.table) match {
            case Some((gpt, rel)) =>
              val names = rel.output.map(a => a.exprId -> a.name).toMap
              GraftPartitionedUpdateCommand(gpt.pvt,
                u.assignments.map(as =>
                  assignmentTarget(as.key, names) ->
                    toColumn(as.value, names)).toMap,
                u.condition.map(toColumn(_, names)))
            case None => u
          }
        }
      case m: MergeIntoTable if m.resolved =>
        graftTableOf(m.targetTable) match {
          case Some((gt, rel)) =>
            val srcNames = m.sourceTable.output.zipWithIndex
              .map { case (a, i) => a.exprId -> s"__src_$i" }
            val names = rel.output.map(a => a.exprId -> a.name).toMap ++ srcNames
            GraftMergeCommand(gt.vt, m.sourceTable,
              srcNames.map(_._2),
              toColumn(m.mergeCondition, names),
              m.matchedActions.map(toAction(_, names)),
              m.notMatchedActions.map(toAction(_, names)),
              m.notMatchedBySourceActions.map(toAction(_, names)))
          case None => partitionedOf(m.targetTable) match {
            case Some((gpt, rel)) =>
              val srcNames = m.sourceTable.output.zipWithIndex
                .map { case (a, i) => a.exprId -> s"__src_$i" }
              val names = rel.output.map(a => a.exprId -> a.name).toMap ++ srcNames
              // per-partition-log routing needs the ON condition to pin a
              // target row's partition to ONE source expression: find the
              // `t.<partitionCol> = s.<col>` conjunct (either side order)
              val srcIds = srcNames.map(_._1).toSet
              val tgtPartIds = rel.output
                .filter(_.name == gpt.partitionCol).map(_.exprId).toSet
              def conjuncts(e: Expression): Seq[Expression] = e match {
                case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
                  conjuncts(l) ++ conjuncts(r)
                case other => Seq(other)
              }
              val srcPartId = conjuncts(m.mergeCondition).collectFirst {
                case org.apache.spark.sql.catalyst.expressions.EqualTo(
                    a: AttributeReference, b: AttributeReference)
                  if tgtPartIds.contains(a.exprId) && srcIds.contains(b.exprId) =>
                  b.exprId
                case org.apache.spark.sql.catalyst.expressions.EqualTo(
                    a: AttributeReference, b: AttributeReference)
                  if tgtPartIds.contains(b.exprId) && srcIds.contains(a.exprId) =>
                  a.exprId
              }
              // conjunct present → partition-pruned fast path (no probe);
              // absent → the global merge derives the routing in one
              // distributed pass ([[PartitionedVersionedTable.mergeIntoGlobal]])
              GraftPartitionedMergeCommand(gpt.pvt, gpt.schema(),
                m.sourceTable, srcNames.map(_._2),
                srcPartId.map(srcNames.toMap),
                toColumn(m.mergeCondition, names),
                m.matchedActions.map(toAction(_, names)),
                m.notMatchedActions.map(toAction(_, names)),
                m.notMatchedBySourceActions.map(toAction(_, names)))
            case None => m
          }
        }
      case other => other
    }
  }
}

/** `UPDATE t SET ... WHERE ...` as the table's conflict-retried
  * copy-on-write update.
  */
final case class GraftUpdateCommand(vt: VersionedTable,
                                    assignments: Map[String, Column],
                                    condition: Option[Column])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    vt.updateRetrying(condition.getOrElse(lit(true)), assignments)
    Nil
  }
}

/** `MERGE INTO t USING s ON ... WHEN ...` as the table's conflict-retried
  * three-arm merge. The source plan re-executes per attempt (a retry must
  * see a fresh snapshot-consistent read), its columns renamed to the
  * `__src_<i>` slots the rewritten expressions reference.
  */
/** `UPDATE` on a partitioned graft table: the predicate's partition
  * bounds prune which logs the sweep even opens.
  */
final case class GraftPartitionedUpdateCommand(pvt: PartitionedVersionedTable,
                                               assignments: Map[String, Column],
                                               condition: Option[Column])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val pred = condition.getOrElse(lit(true))
    val kept = pvt.partitionsFor(pred)
    // empty = the predicate excludes every partition: a complete no-op
    // (an empty hint means "no hint" and would sweep every log)
    if (kept.nonEmpty) pvt.update(pred, assignments, partitionsHint = kept)
    Nil
  }
}

/** `MERGE INTO` on a partitioned graft table. With a
  * `t.<partitionCol> = s.<col>` ON conjunct (`srcPartName` defined) each
  * source row's member is that column and only the touched logs open —
  * the partition-pruned fast path ([[PartitionedVersionedTable.mergeInto]]).
  * Without it, the textbook global `ON t.id = s.id` routes through
  * [[PartitionedVersionedTable.mergeIntoGlobal]], which derives each
  * source row's member from a single source⋈table probe pass. Either way
  * the clauses then run as one pass over all touched members, not one
  * flat merge per member.
  */
final case class GraftPartitionedMergeCommand(pvt: PartitionedVersionedTable,
                                              tableSchema: org.apache.spark.sql.types.StructType,
                                              sourcePlan: LogicalPlan,
                                              sourceNames: Seq[String],
                                              srcPartName: Option[String],
                                              condition: Column,
                                              matched: Seq[MergeIntoAction],
                                              notMatched: Seq[MergeIntoAction],
                                              notMatchedBySource: Seq[MergeIntoAction])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val source = GraftColumnBridge.ofRows(spark, sourcePlan)
      .toDF(sourceNames: _*)
    srcPartName match {
      case Some(p) =>
        pvt.mergeInto(source, org.apache.spark.sql.functions.col(p),
          condition, matched, notMatched, notMatchedBySource,
          schemaForNewPartitions = Some(tableSchema))
      case None =>
        pvt.mergeIntoGlobal(source, condition, matched, notMatched,
          notMatchedBySource, schemaForNewPartitions = Some(tableSchema))
    }
    Nil
  }
}

final case class GraftMergeCommand(vt: VersionedTable,
                                   sourcePlan: LogicalPlan,
                                   sourceNames: Seq[String],
                                   condition: Column,
                                   matched: Seq[MergeIntoAction],
                                   notMatched: Seq[MergeIntoAction],
                                   notMatchedBySource: Seq[MergeIntoAction])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val source = GraftColumnBridge.ofRows(spark, sourcePlan)
      .toDF(sourceNames: _*)
    vt.mergeIntoRetrying(source, condition, matched, notMatched,
      notMatchedBySource)
    Nil
  }
}
