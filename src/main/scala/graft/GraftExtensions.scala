package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, Cast, Expression, ExpressionInfo, GreaterThanOrEqual, InterpretedUnsafeProjection, LessThanOrEqual, Literal, NamedExpression, PlanExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, truncatedString}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.sources.{GridAggScan, GridScan}
import graft.functions.{ApproxTopK, CmsEstimate, CosineSimilarity, DotProduct, GramMatrixAgg, GramMergeCov, GramSketch, HistogramBreaks, HistogramMergeQuantiles, HistogramSketch, MinHashSignature, PointInPolygon, SimHash64, TopKByScore, ZOrder64}

/** Session extension (`spark.sql.extensions=graft.GraftExtensions`) wiring the
  * library's native expressions into SQL and the optimizer:
  *
  *   - SQL functions: `dot_product(a, b)`, `cosine_sim(a, b)`,
  *     `simhash64(arr)`, `point_in_polygon(lat, lon, ring)` with `ring` a
  *     constant `array(lon0, lat0, lon1, lat1, …)`, `zorder64(x, y)`,
  *     `cms_estimate(sketch, item)`, and the aggregate sketches
  *     `approx_top_k`, `histogram_breaks`, `histogram_sketch` +
  *     `histogram_merge_quantiles` (two-stage quantile rollup),
  *     `minhash_signature`, `top_k_by_score`, and the covariance moments
  *     `gram_matrix` / `gram_sketch` + `gram_merge_cov` (two-stage
  *     spectrum rollup) — so a SQL-only user of
  *     the reference's query surface needs no Scala.
  *   - SQL table functions: `FROM grid_scan('<dir>')` — the DSv2
  *     NetCDF/HDF5/GRF scan with its full pushdown surface — and
  *     `FROM snapshot_scan('<dir>'[, version])` — manifest-versioned
  *     snapshot reads with SQL-native time travel —
  *     `FROM snapshot_changes('<dir>', from, to)` — the row-level change
  *     feed (inserts/updates/deletes across merges) as a relation — and
  *     `FROM bm25_search('<indexDir>'[, k])` / `FROM phrase_search(
  *     '<indexDir>'[, limit])` — retrieval from a persistent
  *     [[graft.text.TextIndex]] directory.
  *   - `PolygonEnvelopeRule`: rewrites `point_in_polygon` predicates inside
  *     `Filter` conditions to `bbox(ring) AND point_in_polygon` (under filter
  *     semantics NULL and FALSE both drop the row, so this is an equivalence;
  *     in a projection the rewrite could turn NULL into FALSE for a NULL
  *     coordinate, which is why it applies to filters only). The derived bbox
  *     is a plain conjunction of range
  *     predicates, which Catalyst's existing machinery then pushes into the
  *     scan (`PushedFilters` on parquet, a Section on the grid source) — the
  *     automated form of the manual envelope in `GridQuery.select`
  *     (reference: bbox-then-mask, `Gddp.scala:206-235`). At 100 TB this is
  *     the difference between masking every cell and reading only the
  *     envelope's row groups.
  *   - Small grid requests plan small: [[OnePartitionPlan]] drops the
  *     shuffles of a plan that provably runs in one partition, so a box
  *     `/sql` aggregate over one packed grid partition is one Spark job, and
  *     [[GridAggLocalStrategy]] answers a completely pushed metadata
  *     aggregate (`/getBoundary`) on the driver with no job at all.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  // Builders run BEFORE analysis finishes, so no implicit casts will be
  // inserted around what they return — every argument type the expressions
  // don't natively read (SQL numeric literals arrive as DECIMAL arrays) must
  // be cast here explicitly.
  private def numArray(e: Expression): Expression = {
    import org.apache.spark.sql.types._
    e.dataType match {
      case ArrayType(DoubleType | FloatType | IntegerType | LongType, _) => e
      case ArrayType(_, n) => Cast(e, ArrayType(DoubleType, n))
      case _ => e // non-array: let analysis raise its own type error
    }
  }
  private def longArray(e: Expression): Expression = {
    import org.apache.spark.sql.types._
    e.dataType match {
      case ArrayType(LongType, _) => e
      case ArrayType(_, n) => Cast(e, ArrayType(LongType, n))
      case _ => e
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("dot_product"), info("dot_product"),
      (args: Seq[Expression]) => DotProduct(numArray(args(0)), numArray(args(1)))))
    ext.injectFunction((FunctionIdentifier("cosine_sim"), info("cosine_sim"),
      (args: Seq[Expression]) => CosineSimilarity(numArray(args(0)), numArray(args(1)))))
    ext.injectFunction((FunctionIdentifier("zorder64"), info("zorder64"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "zorder64(x, y)")
        ZOrder64(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("cms_estimate"), info("cms_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cms_estimate(sketch, item)")
        CmsEstimate(args(0), args(1))
      }))
    ext.injectFunction((FunctionIdentifier("simhash64"), info("simhash64"),
      (args: Seq[Expression]) => SimHash64(longArray(args(0)))))
    ext.injectFunction((FunctionIdentifier("point_in_polygon"), info("point_in_polygon"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "point_in_polygon(lat, lon, ring)")
        require(args(2).foldable, "ring must be a constant array")
        // toDoubleArray needs exactly double elements — cast any other
        // numeric element type (decimal literals, floats) first
        val ringExpr = args(2).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, _) => args(2)
          case _ => Cast(args(2), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))
        }
        val ring = ringExpr.eval().asInstanceOf[ArrayData].toDoubleArray()
        // SQL literals/arithmetic may arrive as DECIMAL; the expression (and
        // the envelope rule) require double children. Builders run before
        // analysis completes, so insert the casts explicitly.
        def dbl(e: Expression): Expression =
          if (e.dataType == org.apache.spark.sql.types.DoubleType) e
          else Cast(e, org.apache.spark.sql.types.DoubleType)
        PointInPolygon(dbl(args(0)), dbl(args(1)), ring)
      }))
    // aggregate sketches: the analyzer wraps a bare AggregateFunction from a
    // builder in an AggregateExpression, so SQL users get the partial+final
    // bounded-state paths too. Size parameters must be literal ints.
    def litInt(e: Expression, what: String): Int = {
      require(e.foldable, s"$what must be a literal")
      e.eval() match {
        case i: Int => i
        // exact conversions only: a wrapped Long/Decimal would silently
        // change the requested size parameter
        case l: Long => Math.toIntExact(l)
        case d: java.math.BigDecimal => d.intValueExact()
        case dec: org.apache.spark.sql.types.Decimal =>
          Math.toIntExact(dec.toJavaBigDecimal.longValueExact())
        case other => throw new IllegalArgumentException(s"$what: not an int ($other)")
      }
    }
    def litDouble(e: Expression, what: String): Double = {
      require(e.foldable, s"$what must be a literal")
      e.eval() match {
        case d: Double => d
        case f: Float => f.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
        case d: java.math.BigDecimal => d.doubleValue()
        case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
        case other => throw new IllegalArgumentException(s"$what: not numeric ($other)")
      }
    }
    ext.injectFunction((FunctionIdentifier("approx_top_k"), info("approx_top_k"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "approx_top_k(col, k, capacity)")
        ApproxTopK(args(0), litInt(args(1), "k"), litInt(args(2), "capacity"))
      }))
    ext.injectFunction((FunctionIdentifier("histogram_breaks"), info("histogram_breaks"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "histogram_breaks(col, numBreaks, maxBins)")
        HistogramBreaks(args(0), litInt(args(1), "numBreaks"), litInt(args(2), "maxBins"))
      }))
    ext.injectFunction((FunctionIdentifier("histogram_sketch"), info("histogram_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "histogram_sketch(col, maxBins)")
        HistogramSketch(args(0), litInt(args(1), "maxBins"))
      }))
    ext.injectFunction((FunctionIdentifier("histogram_merge_quantiles"),
      info("histogram_merge_quantiles"),
      (args: Seq[Expression]) => {
        require(args.length >= 3, "histogram_merge_quantiles(sketch, maxBins, p1, p2, ...)")
        HistogramMergeQuantiles(args(0),
          args.drop(2).map(litDouble(_, "probability")),
          litInt(args(1), "maxBins"))
      }))
    ext.injectFunction((FunctionIdentifier("top_k_by_score"), info("top_k_by_score"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "top_k_by_score(struct(sim, id), k)")
        TopKByScore(args(0), litInt(args(1), "k"))
      }))
    ext.injectFunction((FunctionIdentifier("minhash_signature"), info("minhash_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_signature(arr, numPerms)")
        MinHashSignature(longArray(args(0)), litInt(args(1), "numPerms"))
      }))
    ext.injectFunction((FunctionIdentifier("gram_matrix"), info("gram_matrix"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "gram_matrix(vec)")
        GramMatrixAgg(args(0))
      }))
    ext.injectFunction((FunctionIdentifier("gram_sketch"), info("gram_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "gram_sketch(vec)")
        GramSketch(args(0))
      }))
    ext.injectFunction((FunctionIdentifier("gram_merge_cov"), info("gram_merge_cov"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "gram_merge_cov(sketch)")
        GramMergeCov(args(0))
      }))
    // ---- table-valued functions: the library's TABLE surfaces for
    // SQL-only users — `FROM grid_scan('<dir>')` serves a NetCDF/HDF5/GRF
    // directory through the DSv2 grid source (full pushdown: the returned
    // plan is the same relation `spark.read.format(GridSource)` builds), and
    // `FROM snapshot_scan('<dir>'[, version])` reads a manifest-versioned
    // snapshot table, pinned to `version` when given (SQL-native time
    // travel). Builders run at resolution time on the driver; arguments must
    // be constants, exactly like a path in plain SQL `parquet.<path>`.
    def litString(e: Expression, what: String): String = {
      require(e.foldable, s"$what must be a constant string")
      val v = e.eval()
      require(v != null, s"$what must be a non-null string")
      v.toString
    }
    ext.injectTableFunction((FunctionIdentifier("grid_scan"), info("grid_scan"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "grid_scan('<dir>') takes exactly one path")
        val spark = org.apache.spark.sql.SparkSession.active
        spark.read.format(classOf[graft.sources.GridSource].getName)
          .option("path", litString(args.head, "grid_scan path")).load()
          .queryExecution.logical
      }))
    ext.injectTableFunction((FunctionIdentifier("snapshot_scan"), info("snapshot_scan"),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.length <= 2,
          "snapshot_scan('<dir>'[, version])")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Snapshots.read(spark,
          litString(args.head, "snapshot_scan path"),
          args.lift(1).map(litInt(_, "snapshot_scan version")))
          .queryExecution.logical
      }))
    // `FROM snapshot_changes('<dir>', from, to)` — the row-level change
    // feed as a relation: SQL users consume inserts/updates/deletes across
    // merges without the API (the CDC half of snapshot_scan's time travel)
    ext.injectTableFunction((FunctionIdentifier("snapshot_changes"),
      info("snapshot_changes"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "snapshot_changes('<dir>', from, to)")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Snapshots.readChangeFeed(spark,
          litString(args.head, "snapshot_changes path"),
          litInt(args(1), "snapshot_changes from"),
          litInt(args(2), "snapshot_changes to"))
          .queryExecution.logical
      }))
    // `FROM snapshot_history('<dir>')` — DESCRIBE HISTORY: one row per
    // version (commit time, file count, feed/DV/maintenance markers,
    // commit metadata) — the admin surface before expire/compact/purge
    ext.injectTableFunction((FunctionIdentifier("snapshot_history"),
      info("snapshot_history"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "snapshot_history('<dir>')")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Snapshots.history(spark,
          litString(args.head, "snapshot_history path"))
          .queryExecution.logical
      }))
    // `FROM snapshot_diff('<dir>', v1, v2)` — the rewrite-crossing semantic
    // diff as a relation: content rows + `_change_type` (insert/delete)
    ext.injectTableFunction((FunctionIdentifier("snapshot_diff"),
      info("snapshot_diff"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "snapshot_diff('<dir>', fromV, toV)")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Snapshots.diffVersions(spark,
          litString(args.head, "snapshot_diff path"),
          litInt(args(1), "fromVersion"), litInt(args(2), "toVersion"))
          .queryExecution.logical
      }))
    // `FROM snapshot_tags('<dir>')` — named refs as a relation: the tag
    // table a steward joins against snapshot_history before retention ops
    ext.injectTableFunction((FunctionIdentifier("snapshot_tags"),
      info("snapshot_tags"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "snapshot_tags('<dir>')")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Snapshots.tagsDf(spark,
          litString(args.head, "snapshot_tags path"))
          .queryExecution.logical
      }))
    // `FROM snapshot_branches('<dir>')` — live branches (name, fork point,
    // commit count): the WAP-branch admin relation
    ext.injectTableFunction((FunctionIdentifier("snapshot_branches"),
      info("snapshot_branches"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "snapshot_branches('<dir>')")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Snapshots.branchesDf(spark,
          litString(args.head, "snapshot_branches path"))
          .queryExecution.logical
      }))
    // `FROM snapshot_constraints('<dir>')` / `FROM snapshot_staged('<dir>')`
    // — the remaining admin relations: active CHECK constraints and live
    // WAP candidates, next to snapshot_history/snapshot_tags
    ext.injectTableFunction((FunctionIdentifier("snapshot_constraints"),
      info("snapshot_constraints"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "snapshot_constraints('<dir>')")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Snapshots.checkConstraintsDf(spark,
          litString(args.head, "snapshot_constraints path"))
          .queryExecution.logical
      }))
    ext.injectTableFunction((FunctionIdentifier("snapshot_staged"),
      info("snapshot_staged"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "snapshot_staged('<dir>')")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.operators.Snapshots.stagedDf(spark,
          litString(args.head, "snapshot_staged path"))
          .queryExecution.logical
      }))
    // `FROM bm25_search('<indexDir>'[, k])` / `FROM phrase_search('<indexDir>'
    // [, limit])` — retrieval served from a persistent text.TextIndex
    // directory. Like snapshot_scan's manifest read, the metadata-sized
    // term/phrase derivation (8-row / 1-row collect) runs at resolution
    // time on the driver; the returned plan is the pruned index scan.
    ext.injectTableFunction((FunctionIdentifier("bm25_search"), info("bm25_search"),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.length <= 2, "bm25_search('<indexDir>'[, k])")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.text.TextIndex.bm25Indexed(spark,
          litString(args.head, "bm25_search index dir"),
          k = args.lift(1).map(litInt(_, "bm25_search k")).getOrElse(20))
          .queryExecution.logical
      }))
    ext.injectTableFunction((FunctionIdentifier("phrase_search"), info("phrase_search"),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.length <= 2,
          "phrase_search('<indexDir>'[, limit])")
        val spark = org.apache.spark.sql.SparkSession.active
        graft.text.TextIndex.phraseSearch(spark,
          litString(args.head, "phrase_search index dir"),
          args.lift(1).map(litInt(_, "phrase_search limit")).getOrElse(50))
          .queryExecution.logical
      }))
    ext.injectOptimizerRule(_ => PolygonEnvelopeRule)
    // SQL DELETE/UPDATE/MERGE over catalog-mounted snapshot tables — the
    // Delta-style analysis rewrite into the format's CoW commands
    ext.injectPostHocResolutionRule(session =>
      graft.operators.SnapshotDmlRule(session))
    // automatic materialized-view query rewrite (operators.MviewRewrite):
    // an aggregate over a registered snapshot source answers from its
    // fresh Mview instead — registration-gated, no-op otherwise
    ext.injectOptimizerRule(session => new graft.operators.MviewRewriteRule(session))
    ext.injectQueryStagePrepRule(_ => OnePartitionPlan)
    ext.injectPlannerStrategy(_ => GridAggLocalStrategy)
  }
}

/** AQE query-stage preparation: a plan that provably runs in ONE partition
  * needs none of the shuffles `EnsureRequirements` put in, because a single
  * partition already satisfies every distribution a node can require
  * (clustered, ordered, all tuples). With those exchanges gone AQE creates
  * no stage and runs the plan as one job — a daily box aggregate over one
  * packed grid partition, the serving path's `/sql` shape. Spark cannot
  * see this on its own: `BatchScanExec` reports `UnknownPartitioning(0)`.
  *
  * "Provably one partition" means every leaf is a `BatchScanExec` over a
  * [[GridScan]] that planned exactly one input partition, and every node
  * above it keeps the count at one: unary nodes, and joins whose sides both
  * do. Anything else leaves the plan untouched — a union (it concatenates
  * its children's partitions), a scan with zero partitions (a global
  * aggregate over it needs the exchange to emit its one row), any other
  * leaf, a broadcast, a subquery, or a shuffle the user asked for
  * (`repartition`, rebalance). With AQE off the rule never runs.
  */
object OnePartitionPlan extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!onePartition(plan)) plan
    else plan.transformUp {
      case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS => e.child
    }

  private def onePartition(p: SparkPlan): Boolean =
    !p.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) && (p match {
      case b: BatchScanExec => b.scan.isInstanceOf[GridScan] && b.inputPartitions.size == 1
      case e: ShuffleExchangeExec => e.shuffleOrigin == ENSURE_REQUIREMENTS && onePartition(e.child)
      case _: Exchange => false
      case u: UnaryExecNode => onePartition(u.child)
      case j: BaseJoinExec => j.children.forall(onePartition)
      case _ => false
    })
}

/** Plans a completely pushed grid aggregate — the
  * `Project(aliases, DataSourceV2ScanRelation(GridAggScan))` that
  * `V2ScanRelationPushDown` leaves — as a [[GridAggLocalExec]] holding its
  * projected row. The scan computes that row from metadata on the driver
  * anyway; planned as a `ProjectExec` over the scan it still cost a Spark
  * job to fetch it back.
  */
object GridAggLocalStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // a subquery in the projection is planned and run later, not here
    case Project(list, r: DataSourceV2ScanRelation) if r.scan.isInstanceOf[GridAggScan] &&
        list.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) =>
      val scan = r.scan.asInstanceOf[GridAggScan]
      // one row: interpreting the projection beats compiling it
      val project = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(list, r.output))
      GridAggLocalExec(list.map(_.toAttribute),
        Seq(project(InternalRow.fromSeq(scan.resultRow())).copy()), scan.description()) :: Nil
    case _ => Nil
  }
}

/** A pushed grid aggregate's rows, already projected: `collect` and `take`
  * return them without a job; `execute` ships them as one partition. The
  * plan string keeps the scan's description (`…GridAggScan …
  * pushedAggregates=[…]`).
  */
case class GridAggLocalExec(output: Seq[Attribute], rows: Seq[InternalRow], scanDescription: String)
    extends LeafExecNode {
  override def nodeName: String = "LocalGridAgg"
  override def simpleString(maxFields: Int): String =
    s"$nodeName${truncatedString(output, "[", ", ", "]", maxFields)} $scanDescription"

  override def executeCollect(): Array[InternalRow] = rows.toArray
  override def executeTake(limit: Int): Array[InternalRow] = rows.take(limit).toArray
  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(rows, 1)
}

object PolygonEnvelopeRule extends Rule[LogicalPlan] {
  // Filter conditions ONLY: there NULL and FALSE are both "drop the row", so
  // `bbox AND pip` ≡ `pip`. In any other context (projection, join output
  // column) a NULL coordinate outside the envelope would flip NULL → FALSE.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = cond.transform {
        // double children only: optimizer rules run after analysis, so any
        // comparison this rule emits must already be type-correct (no implicit
        // cast insertion will happen)
        case p @ PointInPolygon(lat, lon, ring, true)
            if ring.length >= 6 && lat.dataType == org.apache.spark.sql.types.DoubleType &&
              lon.dataType == org.apache.spark.sql.types.DoubleType =>
          val lons = ring.indices.collect { case i if i % 2 == 0 => ring(i) }
          val lats = ring.indices.collect { case i if i % 2 == 1 => ring(i) }
          val bbox = And(
            And(GreaterThanOrEqual(lat, Literal(lats.min)), LessThanOrEqual(lat, Literal(lats.max))),
            And(GreaterThanOrEqual(lon, Literal(lons.min)), LessThanOrEqual(lon, Literal(lons.max))))
          And(bbox, p.copy(needsEnvelope = false))
      }
      if (rewritten fastEquals cond) f else f.copy(condition = rewritten)
  }
}
