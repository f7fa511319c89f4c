package graft.operators

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{ByteType, DateType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, TimestampType}

import graft.sources.SnapshotV2Table

/** SQL DML over catalog-mounted snapshot tables: rewrites resolved
  * `DELETE FROM` / `UPDATE` / `MERGE INTO` statements whose target is a
  * [[SnapshotV2Table]] into runnable commands backed by the format's
  * copy-on-write ops ([[Snapshots.deleteWhere]], [[Snapshots.updateWhere]],
  * [[Snapshots.mergeApply]]) — the architecture public lakehouse
  * connectors ship (Delta's DeltaAnalysis → MergeIntoCommand): the rewrite
  * happens at analysis, every write still funnels through the format's one
  * commit choke point (constraints, schema gate, stats, change feed), and
  * the heavy work stays a fully distributed DataFrame plan. Spark's DSv2
  * group-based row-level-operation rewrite (ReplaceData) was considered
  * and rejected: its write side requires a from-scratch executor parquet
  * writer that would bypass that choke point.
  *
  * Condition/assignment expressions arrive resolved against the target
  * relation and (for MERGE) the source plan; the rule re-keys every
  * attribute by NAME (qualified `__t` / `__s` for MERGE's two sides) so
  * the commands can re-resolve them against the frames the ops build.
  * Simple range/equality conjuncts are additionally extracted as stats
  * prune hints, so a `DELETE … WHERE day = X` only ever opens the files
  * whose envelope can hold X.
  */
case class SnapshotDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def target(plan: LogicalPlan): Option[SnapshotV2Table] = plan match {
    case SubqueryAlias(_, child) => target(child)
    case r: DataSourceV2Relation => r.table match {
      case t: SnapshotV2Table => Some(t)
      case _ => None
    }
    case _ => None
  }

  /** Inline `With` common-subexpression nodes (BETWEEN and friends resolve
    * to them): a `With` rebuilt around an UnresolvedAttribute asks its defs
    * for dataType and dies, so the re-keyed tree must not contain any. The
    * inlined twin is semantically identical (the sharing is a pure
    * execution-cost optimization Catalyst re-derives after re-analysis).
    */
  private def inlineWith(e: Expression): Expression = e.transformUp {
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val defs = w.defs.foldLeft(
        Map.empty[org.apache.spark.sql.catalyst.expressions.CommonExpressionId,
          Expression]) { (acc, d) =>
        acc + (d.id -> d.child.transformUp {
          case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef
              if acc.contains(r.id) => acc(r.id)
        })
      }
      w.child.transformUp {
        case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef
            if defs.contains(r.id) => defs(r.id)
      }
  }

  /** Re-key every target/source attribute by (qualified) name so the
    * expression re-resolves against the op-built frames. */
  private def byName(e: Expression, targetAttrs: AttributeSet,
      sourceAttrs: AttributeSet, qualify: Boolean): Expression =
    inlineWith(e).transform {
      case a: AttributeReference if targetAttrs.contains(a) =>
        if (qualify) UnresolvedAttribute(Seq("__t", a.name))
        else UnresolvedAttribute.quoted(a.name)
      case a: AttributeReference if sourceAttrs.contains(a) =>
        UnresolvedAttribute(Seq("__s", a.name))
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(t, cond) if d.resolved =>
      target(t) match {
        case Some(tbl) =>
          require(tbl.pinned.isEmpty,
            s"${tbl.dir}: cannot DELETE through a pinned reference — history is immutable")
          val tAttrs = AttributeSet(t.output)
          SnapshotDeleteCommand(tbl.dir,
            Boxed(byName(cond, tAttrs, AttributeSet.empty, qualify = false)))
        case None => plan
      }

    case u @ UpdateTable(t, assignments, cond) if u.resolved =>
      target(t) match {
        case Some(tbl) =>
          require(tbl.pinned.isEmpty,
            s"${tbl.dir}: cannot UPDATE through a pinned reference — history is immutable")
          val tAttrs = AttributeSet(t.output)
          SnapshotUpdateCommand(tbl.dir,
            assignments.map(a => SnapshotDmlRule.pathOf(a.key, tbl.dir) ->
              Boxed(byName(a.value, tAttrs, AttributeSet.empty, qualify = false))),
            cond.map(c => Boxed(byName(c, tAttrs, AttributeSet.empty, qualify = false))))
        case None => plan
      }

    // `INSERT OVERWRITE` in dynamic partition-overwrite mode: Spark plans
    // OverwritePartitionsDynamic for a partitioned DSv2 table, but ships
    // no V1 fallback exec for it — rewrite to the format's dynamic
    // overwrite (only the touched partitions' files replace, everything
    // else carries by reference)
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic
        if o.resolved =>
      target(o.table) match {
        case Some(tbl) =>
          require(tbl.pinned.isEmpty,
            s"${tbl.dir}: cannot INSERT through a pinned reference — history is immutable")
          SnapshotDynamicOverwriteCommand(tbl.dir, o.query)
        case None => plan
      }

    case m: MergeIntoTable if m.resolved =>
      target(m.targetTable) match {
        case Some(tbl) =>
          require(tbl.pinned.isEmpty,
            s"${tbl.dir}: cannot MERGE through a pinned reference — history is immutable")
          // MERGE ... WITH SCHEMA EVOLUTION needs no handling here: the
          // analyzer's ResolveMergeIntoSchemaEvolution has ALREADY run by
          // the time this MergeIntoTable is resolved — it pushed the new
          // source columns into the target through the catalog's
          // alterTable(AddColumn) path (one empty evolve commit, old rows
          // NULL-backfill), so m.targetTable.output below includes them
          // and the rewrite proceeds like any other merge.
          val tAttrs = AttributeSet(m.targetTable.output)
          val sAttrs = AttributeSet(m.sourceTable.output)
          val tCols = m.targetTable.output.map(_.name)
          val sCols = m.sourceTable.output.map(_.name).toSet
          def rekey(e: Expression): Boxed =
            Boxed(byName(e, tAttrs, sAttrs, qualify = true))
          def keyName(k: Expression): String =
            SnapshotDmlRule.pathOf(k, tbl.dir)
          def starSets: Seq[(String, Boxed)] = {
            val missing = tCols.filterNot(sCols)
            require(missing.isEmpty,
              s"${tbl.dir}: MERGE * needs every target column in the source " +
                s"(missing ${missing.mkString(", ")})")
            tCols.map(c => c -> Boxed(UnresolvedAttribute(Seq("__s", c))))
          }
          def sets(as: Seq[Assignment]): Seq[(String, Boxed)] =
            as.map(a => keyName(a.key) -> rekey(a.value))
          val matched = m.matchedActions.map {
            case UpdateAction(c, as, _) => (c.map(rekey), Some(sets(as)))
            case UpdateStarAction(c) => (c.map(rekey), Some(starSets))
            case DeleteAction(c) => (c.map(rekey), None)
            case other => throw new UnsupportedOperationException(
              s"${tbl.dir}: unsupported WHEN MATCHED action $other")
          }
          val notMatched = m.notMatchedActions.map {
            case InsertAction(c, as) => (c.map(rekey), sets(as))
            case InsertStarAction(c) => (c.map(rekey), starSets)
            case other => throw new UnsupportedOperationException(
              s"${tbl.dir}: unsupported WHEN NOT MATCHED action $other")
          }
          val bySource = m.notMatchedBySourceActions.map {
            case UpdateAction(c, as, _) => (c.map(rekey), Some(sets(as)))
            case DeleteAction(c) => (c.map(rekey), None)
            case other => throw new UnsupportedOperationException(
              s"${tbl.dir}: unsupported WHEN NOT MATCHED BY SOURCE action $other")
          }
          // stats prune hint: one target-col = source-expr equi conjunct
          val pruneKey = SnapshotDmlRule.conjuncts(m.mergeCondition).collectFirst {
            case EqualTo(a: AttributeReference, b)
                if tAttrs.contains(a) && b.references.subsetOf(sAttrs) &&
                  b.references.nonEmpty => (a.name, rekey(b))
            case EqualTo(b, a: AttributeReference)
                if tAttrs.contains(a) && b.references.subsetOf(sAttrs) &&
                  b.references.nonEmpty => (a.name, rekey(b))
          }
          SnapshotMergeCommand(tbl.dir, m.sourceTable, rekey(m.mergeCondition),
            matched, notMatched, bySource, pruneKey)
        case None => plan
      }

    case _ => plan
  }
}

object SnapshotDmlRule {
  private[operators] def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Assignment key → dot path: a bare column, or a GetStructField chain
    * (`UPDATE t SET s.f = …`) flattened to `s.f`. The ops rebuild the
    * struct with withField surgery ([[Snapshots.updateWhere]]/mergeApply).
    */
  private[operators] def pathOf(k: Expression, dir: String): String = k match {
    case a: Attribute => a.name
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      s"${pathOf(g.child, dir)}.${g.extractFieldName}"
    case other => throw new UnsupportedOperationException(
      s"$dir: unsupported assignment target $other — assign a column or a " +
        "nested struct field (a.b.c)")
  }

  /** Range/equality conjuncts over plain (name-rekeyed) attributes →
    * stats prune hints. Conservative: anything else contributes nothing
    * (pruning is advisory; the full predicate always re-applies). */
  private[operators] def ranges(e: Expression): Seq[(String, Option[Any], Option[Any])] = {
    def ext(lit: Literal): Option[Any] = lit.dataType match {
      case StringType => Option(lit.value).map(_.toString)
      case IntegerType | LongType | ShortType | ByteType | DoubleType |
           FloatType | DateType | TimestampType => Option(lit.value)
      case _ => None
    }
    def name(a: Expression): Option[String] = a match {
      case u: UnresolvedAttribute if u.nameParts.length == 1 => Some(u.nameParts.head)
      case r: AttributeReference => Some(r.name)
      case _ => None
    }
    conjuncts(e).flatMap {
      case EqualTo(a, l: Literal) =>
        for (n <- name(a); v <- ext(l)) yield (n, Some(v): Option[Any], Some(v): Option[Any])
      case EqualTo(l: Literal, a) =>
        for (n <- name(a); v <- ext(l)) yield (n, Some(v): Option[Any], Some(v): Option[Any])
      case GreaterThan(a, l: Literal) =>
        for (n <- name(a); v <- ext(l)) yield (n, Some(v): Option[Any], None: Option[Any])
      case GreaterThanOrEqual(a, l: Literal) =>
        for (n <- name(a); v <- ext(l)) yield (n, Some(v): Option[Any], None: Option[Any])
      case LessThan(a, l: Literal) =>
        for (n <- name(a); v <- ext(l)) yield (n, None: Option[Any], Some(v): Option[Any])
      case LessThanOrEqual(a, l: Literal) =>
        for (n <- name(a); v <- ext(l)) yield (n, None: Option[Any], Some(v): Option[Any])
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        for {
          n <- name(a)
          ex = vs.map(v => ext(v.asInstanceOf[Literal]))
          if ex.forall(_.isDefined)
          nums = ex.flatten
          if nums.nonEmpty && (nums.forall(_.isInstanceOf[Number]) ||
            nums.forall(_.isInstanceOf[String]))
        } yield {
          val (lo, hi) =
            if (nums.forall(_.isInstanceOf[String])) {
              val ss = nums.map(_.asInstanceOf[String]); (ss.min, ss.max)
            } else {
              val ds = nums.map(_.asInstanceOf[Number])
              (ds.minBy(_.doubleValue), ds.maxBy(_.doubleValue))
            }
          (n, Some(lo): Option[Any], Some(hi): Option[Any])
        }
      case _ => Seq.empty
    }
  }
}

/** Opaque expression holder: the boxed tree is name-rekeyed (it contains
  * UnresolvedAttributes re-resolved later against op-built frames), so it
  * must be invisible to the analyzer's resolution check on the command —
  * deliberately NOT a Product/Expression field.
  */
final class Boxed(val e: Expression) extends Serializable {
  override def toString: String = e.sql
}
object Boxed { def apply(e: Expression): Boxed = new Boxed(e) }

// Every command below re-derives its commit from the CURRENT version per
// attempt, so it retries version-slot races as Delta does: a SQL user sees
// the statement land, not a raw ConcurrentModificationException from a
// racing appender.

/** Dynamic `INSERT OVERWRITE` on a partitioned snapshot table. */
case class SnapshotDynamicOverwriteCommand(dir: String, query: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshots.withCommitRetry(Snapshots.RecomputeRetries) {
      Snapshots.insertOverwritePartitions(spark, dir, Shims.ofRows(spark, query))
    }
    Seq.empty
  }
}

/** `DELETE FROM <snapshot table> WHERE <any predicate>`. */
case class SnapshotDeleteCommand(dir: String, cond: Boxed)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshots.withCommitRetry(Snapshots.RecomputeRetries) {
      Snapshots.deleteWhere(spark, dir, Shims.column(cond.e),
        prune = SnapshotDmlRule.ranges(cond.e))
    }
    Seq.empty
  }
}

/** `UPDATE <snapshot table> SET … WHERE …`. */
case class SnapshotUpdateCommand(dir: String,
    sets: Seq[(String, Boxed)], cond: Option[Boxed])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.lit
    Snapshots.withCommitRetry(Snapshots.RecomputeRetries) {
      Snapshots.updateWhere(spark, dir,
        cond.map(b => Shims.column(b.e)).getOrElse(lit(true)),
        sets.map { case (n, b) => n -> Shims.column(b.e) },
        prune = cond.map(b => SnapshotDmlRule.ranges(b.e)).getOrElse(Seq.empty))
    }
    Seq.empty
  }
}

/** `MERGE INTO <snapshot table> USING … ON … WHEN …`. */
case class SnapshotMergeCommand(dir: String, source: LogicalPlan,
    onCond: Boxed,
    matched: Seq[(Option[Boxed], Option[Seq[(String, Boxed)]])],
    notMatched: Seq[(Option[Boxed], Seq[(String, Boxed)])],
    bySource: Seq[(Option[Boxed], Option[Seq[(String, Boxed)]])],
    pruneKey: Option[(String, Boxed)])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    def c(b: Boxed): Column = Shims.column(b.e)
    Snapshots.withCommitRetry(Snapshots.RecomputeRetries) {
      Snapshots.mergeApply(spark, dir, Shims.ofRows(spark, source),
        c(onCond),
        matched.map { case (w, s) =>
          Snapshots.WhenMatched(w.map(c), s.map(_.map { case (n, b) => n -> c(b) })) },
        notMatched.map { case (w, s) =>
          Snapshots.WhenNotMatched(w.map(c), s.map { case (n, b) => n -> c(b) }) },
        bySource.map { case (w, s) =>
          Snapshots.WhenNotMatchedBySource(w.map(c),
            s.map(_.map { case (n, b) => n -> c(b) })) },
        pruneKey.map { case (n, b) => (n, c(b)) })
    }
    Seq.empty
  }
}
