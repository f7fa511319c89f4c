package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysFalse, AlwaysTrue, And, BaseRelation, EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, InsertableRelation, IsNotNull, IsNull, LessThan, LessThanOrEqual, Not, Or, StringContains, StringEndsWith, StringStartsWith, TableScan}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Snapshots
import graft.streaming.SnapshotRelation

/** DSv2 CATALOG over the snapshots table format — the SQL-catalog face of
  * [[graft.operators.Snapshots]] (Delta/Iceberg's `spark_catalog` role):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[SnapshotCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/tables")
  *   spark.sql("SELECT count(*) FROM graft.db.events")          // metadata-only
  *   spark.sql("DELETE FROM graft.db.events WHERE k < 100")     // CoW delete
  *   spark.sql("INSERT INTO graft.db.events SELECT ...")        // atomic commit
  *   spark.sql("SELECT * FROM graft.db.events VERSION AS OF 3") // time travel
  * }}}
  *
  * Identifiers map to warehouse paths (`graft.ns.t` → `<warehouse>/ns/t`);
  * a directory is a table iff it has a `_manifests` dir. The returned
  * [[SnapshotV2Table]] negotiates DSv2 pushdown (filters → manifest
  * data-skipping, column pruning, complete aggregate pushdown answered from
  * the stats sidecar) and EXECUTES through the format's existing V1
  * machinery via [[V1Scan]] — the public bridge Spark itself uses for JDBC
  * pushdown — so every read still funnels through the single masked-scan
  * choke point (deletion vectors, column mapping) and every write through
  * the single commit choke point (constraints, schema gate, stats, CDC).
  * `VERSION AS OF` accepts a version number or a TAG name; `TIMESTAMP AS
  * OF` shares the UTC contract of the `snapshots` relation options.
  *
  * Reference scope: the reference engine exposes one fixed query over
  * HTTP (`main.py:1-135`); a SQL catalog generalizes its "query the
  * archive in place" surface to the lakehouse-standard DML face.
  */
class SnapshotCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def fs(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.warehouse=<dir>"))
  }

  override def name(): String = catalogName

  /** Identifier parts map 1:1 to path segments — reject anything that
    * could escape the warehouse root. */
  private def segment(s: String): String = {
    require(s.nonEmpty && !s.contains("/") && s != "." && s != "..",
      s"catalog $catalogName: illegal identifier segment '$s'")
    s
  }
  private def dirOf(ident: Identifier): String =
    (warehouse +: (ident.namespace.toSeq :+ ident.name).map(segment(_))).mkString("/")
  private def dirOf(ns: Seq[String]): String =
    (warehouse +: ns.map(segment(_))).mkString("/")

  private def isTable(dir: String): Boolean = {
    val (f, p) = fs(s"$dir/_manifests")
    f.exists(p)
  }

  override def tableExists(ident: Identifier): Boolean = isTable(dirOf(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = dirOf(namespace.toSeq)
    val (f, p) = fs(base)
    if (!f.exists(p)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => isTable(s"$base/$n"))
      .map(Identifier.of(namespace, _)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (isTable(dir)) return new SnapshotV2Table(dir, ident.toString, None)
    // Iceberg-style METADATA TABLES: `db.t.history` (and .tags/.branches/
    // .constraints/.staged) — the identifier's last segment selects the
    // admin relation of the PARENT table
    if (ident.namespace.nonEmpty) {
      val parent = dirOf(ident.namespace.toSeq)
      if (isTable(parent)) {
        val body: Option[SparkSession => org.apache.spark.sql.DataFrame] =
          ident.name match {
            case "history" => Some(s => Snapshots.history(s, parent))
            case "tags" => Some(s => Snapshots.tagsDf(s, parent))
            case "branches" => Some(s => Snapshots.branchesDf(s, parent))
            case "constraints" => Some(s => Snapshots.checkConstraintsDf(s, parent))
            case "staged" => Some(s => Snapshots.stagedDf(s, parent))
            case "partitions" => Some(s => Snapshots.partitionsDf(s, parent))
            case _ => None
          }
        body.foreach(b => return new SnapshotMetaTable(ident.toString, b))
      }
    }
    throw new NoSuchTableException(ident)
  }

  /** SQL `VERSION AS OF x` — a version number or a tag name. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = scala.util.Try(version.toInt).getOrElse {
      Snapshots.tags(spark, dir).getOrElse(version,
        throw new IllegalArgumentException(s"$dir: no version or tag '$version'"))
    }
    require(Snapshots.versions(spark, dir).contains(v),
      s"$dir: version $v does not exist (expired?)")
    new SnapshotV2Table(dir, ident.toString, Some(v))
  }

  /** SQL `TIMESTAMP AS OF x` — micros since epoch per the DSv2 contract. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val tsMillis = timestamp / 1000L
    val vs = Snapshots.versions(spark, dir)
      .filter(v => Snapshots.commitTime(spark, dir, v) <= tsMillis)
    require(vs.nonEmpty, s"$dir: no snapshot existed at $tsMillis")
    new SnapshotV2Table(dir, ident.toString, Some(vs.max))
  }

  /** `PARTITIONED BY (<transform>)` → the format's hidden partition spec
    * (one transform: identity, `days(ts)`, or `bucket(n, col)` — Iceberg's
    * three workhorses). Multi-column layouts cluster better through the
    * format's Z-order/Hilbert maintenance, so multiple transforms refuse
    * with that pointer instead of pretending to nest directories.
    */
  private def toPartitionSpec(t: Transform,
      schema: StructType): Snapshots.PartitionSpec = {
    // match on the PUBLIC Transform face (name/references/arguments): the
    // IdentityTransform/DaysTransform/BucketTransform case classes are
    // private[sql]
    def oneCol(what: String): String = {
      val refs = t.references.toSeq
      require(refs.length == 1 && refs.head.fieldNames.length == 1,
        s"catalog $catalogName: $what supports exactly one top-level column")
      val c = refs.head.fieldNames.head
      require(schema.fieldNames.contains(c),
        s"catalog $catalogName: partition column '$c' is not in the schema")
      c
    }
    def temporalCol(what: String, dateOk: Boolean): String = {
      val c = oneCol(what)
      val dt = schema(c).dataType
      require(dt == org.apache.spark.sql.types.TimestampType ||
          (dateOk && dt == org.apache.spark.sql.types.DateType),
        s"catalog $catalogName: $what($c) needs a timestamp" +
          (if (dateOk) "/date" else "") + s" column, got $dt")
      c
    }
    def intArg(what: String): Int = t.arguments.collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value.asInstanceOf[Number].intValue
    }.getOrElse(throw new IllegalArgumentException(
      s"catalog $catalogName: $what without its integer argument"))
    t.name match {
      case "identity" =>
        Snapshots.IdentityPart(oneCol("identity partitioning"))
      case "days" => Snapshots.DaysPart(temporalCol("days", dateOk = true))
      case "hours" => Snapshots.HoursPart(temporalCol("hours", dateOk = false))
      case "months" => Snapshots.MonthsPart(temporalCol("months", dateOk = true))
      case "years" => Snapshots.YearsPart(temporalCol("years", dateOk = true))
      case "bucket" =>
        Snapshots.BucketPart(intArg("bucket()"), oneCol("bucket()"))
      case "truncate" =>
        val c = oneCol("truncate()")
        val dt = schema(c).dataType
        require(dt == org.apache.spark.sql.types.StringType ||
            Seq[org.apache.spark.sql.types.DataType](ByteType, ShortType,
              IntegerType, LongType).contains(dt),
          s"catalog $catalogName: truncate($c) needs a string or integral " +
            s"column, got $dt")
        Snapshots.TruncatePart(intArg("truncate()"), c)
      case _ => throw new UnsupportedOperationException(
        s"catalog $catalogName: partition transform ${t.describe} is " +
          "unsupported — use identity(col), days/hours/months/years(col), " +
          "bucket(n, col) or truncate(w, col); for multi-dimensional " +
          "layouts cluster via the Z-order/Hilbert maintenance procedures")
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    require(partitions.length <= 4,
      s"catalog $catalogName: at most FOUR partition transforms — " +
        "deeper layouts cluster better via Z-order/Hilbert maintenance")
    val specs = partitions.toSeq.map(toPartitionSpec(_, schema))
    val dir = dirOf(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    // an empty first commit pins the schema (read() derives it from the
    // committed footers, so an empty table still DESCRIBEs correctly)
    Snapshots.commit(spark, dir,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    if (specs.nonEmpty) Snapshots.setPartitionSpecs(spark, dir, specs)
    val user = properties.asScala.filterNot(_._1.startsWith("option."))
      .filterNot(kv => Seq(TableCatalog.PROP_COMMENT, TableCatalog.PROP_PROVIDER,
        TableCatalog.PROP_OWNER, TableCatalog.PROP_LOCATION,
        TableCatalog.PROP_EXTERNAL, "table-type").contains(kv._1))
    if (user.nonEmpty) Snapshots.setProperties(spark, dir, user.toMap)
    new SnapshotV2Table(dir, ident.toString, None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    changes.foreach {
      case set: TableChange.SetProperty =>
        // a partition spec set through TBLPROPERTIES must parse NOW —
        // deferring the failure to the next write would strand the table
        if (set.property == "graft.partition")
          set.value.split(';').filter(_.nonEmpty)
            .foreach(Snapshots.parsePartitionSpec)
        Snapshots.setProperties(spark, dir, Map(set.property -> set.value))
      case rm: TableChange.RemoveProperty =>
        Snapshots.removeProperties(spark, dir, Seq(rm.property))
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"$dir: nested rename unsupported")
        Snapshots.renameColumn(spark, dir, rn.fieldNames.head, rn.newName)
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"$dir: nested ADD COLUMN unsupported")
        require(add.position == null,
          s"$dir: ADD COLUMN honors append order only (no FIRST/AFTER) — " +
            "the physical layout appends evolved columns")
        // schema evolution the format's way: one empty evolve commit pins
        // the new column; pre-evolution files surface typed NULLs
        val cur = Snapshots.read(spark, dir).schema
        val next = StructType(cur.fields :+
          StructField(add.fieldNames.head, add.dataType, nullable = true))
        Snapshots.commit(spark, dir,
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], next),
          evolve = true)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"$dir: nested DROP COLUMN unsupported")
        Snapshots.dropColumn(spark, dir, del.fieldNames.head)
      case other => throw new UnsupportedOperationException(
        s"$dir: unsupported ALTER TABLE change $other — schema evolves " +
          "through evolve=true writes, not DDL")
    }
    new SnapshotV2Table(dir, ident.toString, None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTable(dir)) return false
    val (f, p) = fs(dir)
    f.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val (f, from) = fs(dirOf(oldIdent))
    require(f.rename(from, new org.apache.hadoop.fs.Path(dirOf(newIdent))),
      s"rename $oldIdent -> $newIdent failed")
  }

  // ------------------------------------------------------- procedures
  /** `CALL <catalog>.system.<proc>(tbl => 'ns.table', …)` — the SQL face
    * of the maintenance ops ([[SnapshotProcedures]]). */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    SnapshotProcedures.load(ident, parts => {
      val d = dirOf(parts)
      require(isTable(d), s"catalog $catalogName: no table ${parts.mkString(".")}")
      d
    }, parts => dirOf(parts))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      SnapshotProcedures.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  // ------------------------------------------------------- namespaces
  override def listNamespaces(): Array[Array[String]] = {
    val (f, p) = fs(warehouse)
    if (!f.exists(p)) Array.empty
    else f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => !isTable(s"$warehouse/$n")).map(Array(_)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val base = dirOf(namespace.toSeq)
    val (f, p) = fs(base)
    if (!f.exists(p)) throw new NoSuchNamespaceException(namespace)
    f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => !isTable(s"$base/$n"))
      .map(n => namespace :+ n).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    if (namespace.isEmpty) return true
    val dir = dirOf(namespace.toSeq)
    val (f, p) = fs(dir)
    f.exists(p) && !isTable(dir)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val (f, p) = fs(dirOf(namespace.toSeq))
    f.mkdirs(p)
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata is not stored")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val (f, p) = fs(dirOf(namespace.toSeq))
    if (!cascade && f.listStatus(p).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} not empty")
    f.delete(p, true)
  }
}

/** One snapshots table through the DSv2 lens. Reads negotiate pushdown and
  * execute through [[V1Scan]] (see [[SnapshotCatalog]]); INSERT/OVERWRITE
  * land as atomic commits through [[V1Write]]; `DELETE FROM <any
  * predicate>` delegates to [[Snapshots.deleteWhere]] — a copy-on-write
  * rewrite of only the files holding matching live rows, arbitrary
  * predicates included, so [[SupportsDelete.canDeleteWhere]] accepts every
  * translatable filter. A version/tag/timestamp-pinned instance refuses
  * writes (history is immutable).
  */
private[graft] class SnapshotV2Table(val dir: String, ident: String,
    val pinned: Option[Int]) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark = SparkSession.active

  override def name(): String = ident

  override def schema(): StructType =
    Snapshots.read(spark, dir, pinned).schema

  override def version(): String =
    pinned.orElse(Snapshots.currentVersion(spark, dir))
      .map(_.toString).orNull

  override def properties(): util.Map[String, String] =
    Snapshots.properties(spark, dir).asJava

  /** Surface the hidden partition spec through DESCRIBE/SHOW. */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    Snapshots.partitionSpecs(spark, dir).map {
      case Snapshots.IdentityPart(c) => Expressions.identity(c)
      case Snapshots.DaysPart(c) => Expressions.days(c)
      case Snapshots.HoursPart(c) => Expressions.hours(c)
      case Snapshots.MonthsPart(c) => Expressions.months(c)
      case Snapshots.YearsPart(c) => Expressions.years(c)
      case Snapshots.BucketPart(n, c) => Expressions.bucket(n, c)
      case Snapshots.TruncatePart(w, c) => Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(c))
    }.toArray
  }

  override def capabilities(): util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION arms `MERGE ... WITH SCHEMA EVOLUTION`:
    // the analyzer's ResolveMergeIntoSchemaEvolution then lands the new
    // source columns through alterTable(AddColumn) — one empty evolve
    // commit, old rows NULL-backfill — before the DML rewrite runs.
    // Evolution stays opt-in per statement (the WITH clause), Delta's
    // posture; a plain MERGE still refuses unknown columns.
    // no OVERWRITE_DYNAMIC: Spark has no V1 fallback exec for it, so the
    // dynamic path is an analysis-time rewrite instead (SnapshotDmlRule →
    // insertOverwritePartitions); without the graft extensions the check
    // rule then refuses loudly rather than crashing in toBatch
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(dir, pinned, schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty,
      s"$dir: cannot write through a version-pinned reference — history is immutable")
    new SnapshotWriteBuilder(dir)
  }

  // ---------------------------------------------- SQL DELETE FROM
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && filters.forall(f => SnapshotV2Table.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinned.isEmpty, s"$dir: cannot DELETE through a pinned reference")
    import org.apache.spark.sql.functions.lit
    val cond = filters.flatMap(SnapshotV2Table.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    Snapshots.withCommitRetry(Snapshots.RecomputeRetries) {
      Snapshots.deleteWhere(spark, dir, cond,
        prune = filters.toSeq.flatMap(SnapshotRelation.translate))
    }
    ()
  }
}

private[graft] object SnapshotV2Table {
  /** V1 filter → the equivalent `Column`, None when not translatable —
    * the exactness gate for metadata DELETE (an over-approximation here
    * would delete rows the predicate never matched). */
  def toColumn(f: Filter): Option[Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case Not(c) => toColumn(c).map(!_)
      case StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case StringEndsWith(a, s) => Some(col(a).endsWith(s))
      case StringContains(a, s) => Some(col(a).contains(s))
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}

/** A read-only metadata table (`db.t.history` and friends): the admin
  * relation re-derives per scan, so it always reflects the CURRENT table
  * state — these are driver-side manifest reads, metadata-sized by
  * construction.
  */
private[graft] class SnapshotMetaTable(ident: String,
    body: SparkSession => org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  override def name(): String = ident
  override def schema(): StructType = body(SparkSession.active).schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new V1Scan {
      override def readSchema(): StructType = schema()
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T = {
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType =
            body(context.sparkSession).schema
          override def buildScan(): RDD[Row] = body(context.sparkSession).rdd
        }.asInstanceOf[T]
      }
    }
}

/** Pushdown negotiation for one scan: filters are accepted for manifest
  * data-skipping but ALWAYS returned as residuals (skipping is file-level,
  * not row-exact); column pruning narrows the parquet read schema; and a
  * whole-query aggregate (`COUNT(*)`, `MIN/MAX/COUNT(col)` with no WHERE
  * and no GROUP BY) pushes down COMPLETELY when the stats sidecar answers
  * it exactly — the physical plan then carries a single metadata row and
  * zero data-file scans, Delta/Iceberg's `SELECT count(*)` behavior.
  */
private[graft] class SnapshotScanBuilder(dir: String, pinned: Option[Int],
    fullSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private def spark = SparkSession.active
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggPlan: Option[Seq[SnapshotScanBuilder.MetaAgg]] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => SnapshotRelation.translate(f).nonEmpty)
    filters // all residual: stats skipping prunes files, rows re-check
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Complete-only: partial aggregate rows can't be derived from a
    * file-level stats sidecar any more precisely than the full answer. */
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    plan(aggregation).nonEmpty

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    aggPlan = plan(aggregation)
    aggPlan.nonEmpty
  }

  private def plan(agg: Aggregation): Option[Seq[SnapshotScanBuilder.MetaAgg]] = {
    import SnapshotScanBuilder._
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return None
    val v = pinned.orElse(Snapshots.currentVersion(spark, dir)).getOrElse(return None)
    val idx = Snapshots.stats(spark, dir, v)
    val fls = Snapshots.files(spark, dir, v)
    val hasDv = Snapshots.dvRel(spark, dir, v).isDefined
    // COUNT(*) subtracts the DV mask exactly; per-column extrema and null
    // counts cannot (the masked rows' values are unknown to the sidecar)
    def colStats(name: String) = {
      val phys = Snapshots.toPhysical(spark, dir, name)
      val sts = fls.map(f => idx.get(f).flatMap(_.get(phys)))
      if (sts.exists(_.isEmpty)) None else Some(sts.flatten)
    }
    def statType(name: String): Option[String] = fullSchema.find(_.name == name)
      .map(_.dataType).collect {
        case IntegerType | LongType | ShortType | ByteType => "long"
        case DoubleType | FloatType => "double"
        case StringType => "string"
      }
    val outs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        if (fls.forall(f => idx.get(f).exists(_.values.headOption.exists(_.rows >= 0))))
          Some(MetaCountStar)
        else None
      case c: Count if !c.isDistinct && !hasDv =>
        fieldName(c.column).flatMap { n =>
          colStats(n).filter(_.forall(_.nulls >= 0)).map(_ => MetaCountCol(n))
        }
      case m: Min if !hasDv =>
        fieldName(m.column).flatMap { n =>
          for {
            t <- statType(n)
            sts <- colStats(n)
            // an all-null file contributes nothing; any other file must
            // carry a usable [min, max] or the answer is not exact
            if sts.forall(s => s.minMax.nonEmpty || (s.nulls == s.rows && s.nulls >= 0))
            if sts.exists(_.minMax.nonEmpty) || sts.isEmpty
          } yield MetaMin(n, t)
        }
      case m: Max if !hasDv =>
        fieldName(m.column).flatMap { n =>
          for {
            t <- statType(n)
            sts <- colStats(n)
            if sts.forall(s => s.minMax.nonEmpty || (s.nulls == s.rows && s.nulls >= 0))
            if sts.exists(_.minMax.nonEmpty) || sts.isEmpty
          } yield MetaMax(n, t)
        }
      case _ => None
    }
    if (outs.exists(_.isEmpty)) None else Some(outs.flatten)
  }

  override def build(): Scan = aggPlan match {
    case Some(plan) => new SnapshotMetaAggScan(dir, pinned, fullSchema, plan)
    case None => new SnapshotDataScan(dir, pinned, required, pushed)
  }
}

private[graft] object SnapshotScanBuilder {
  sealed trait MetaAgg
  case object MetaCountStar extends MetaAgg
  final case class MetaCountCol(name: String) extends MetaAgg
  final case class MetaMin(name: String, tpe: String) extends MetaAgg
  final case class MetaMax(name: String, tpe: String) extends MetaAgg

  def fieldName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case ref: org.apache.spark.sql.connector.expressions.NamedReference
          if ref.fieldNames.length == 1 => Some(ref.fieldNames.head)
      case _ => None
    }
}

/** The ordinary data scan: DSv2 negotiation, V1 execution — buildScan
  * reuses [[SnapshotRelation]]'s stats/bloom file-skipping and masked read.
  */
private[graft] class SnapshotDataScan(dir: String, pinned: Option[Int],
    required: StructType, pushed: Array[Filter])
    extends V1Scan with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val rel = new SnapshotRelation(context, dir, pinned)
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def sizeInBytes: Long = rel.sizeInBytes
      override def buildScan(): RDD[Row] =
        rel.buildScan(required.fieldNames, pushed)
    }.asInstanceOf[T]
  }

  override def estimateStatistics(): Statistics = {
    val spark = SparkSession.active
    val rel = new SnapshotRelation(spark.sqlContext, dir, pinned)
    val rows: util.OptionalLong = try {
      val v = pinned.orElse(Snapshots.currentVersion(spark, dir)).get
      val idx = Snapshots.stats(spark, dir, v)
      val per = Snapshots.files(spark, dir, v)
        .map(f => idx.get(f).flatMap(_.values.headOption).map(_.rows))
      if (per.exists(_.isEmpty)) util.OptionalLong.empty()
      else util.OptionalLong.of(per.flatten.sum)
    } catch { case _: Exception => util.OptionalLong.empty() }
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        util.OptionalLong.of(rel.sizeInBytes)
      override def numRows(): util.OptionalLong = rows
    }
  }

  override def description(): String =
    s"snapshots $dir${pinned.map(v => s" v$v").getOrElse("")} " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}"
}

/** The metadata-aggregate scan: ONE locally-built row from the stats
  * sidecar (COUNT(*) minus the deletion-vector mask, per-column extrema /
  * non-null counts) — no data file is planned, the `SELECT count(*)`
  * fast path at any table size.
  */
private[graft] class SnapshotMetaAggScan(dir: String, pinned: Option[Int],
    fullSchema: StructType, plan: Seq[SnapshotScanBuilder.MetaAgg])
    extends V1Scan {
  import SnapshotScanBuilder._

  private def colType(name: String): DataType = fullSchema(name).dataType

  override def readSchema(): StructType = StructType(plan.zipWithIndex.map {
    case (MetaCountStar, i) => StructField(s"a$i", LongType, nullable = false)
    case (MetaCountCol(_), i) => StructField(s"a$i", LongType, nullable = false)
    case (MetaMin(n, _), i) => StructField(s"a$i", colType(n), nullable = true)
    case (MetaMax(n, _), i) => StructField(s"a$i", colType(n), nullable = true)
  })

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val out = readSchema()
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = out
      override def buildScan(): RDD[Row] = {
        val spark = sqlContext.sparkSession
        val v = pinned.orElse(Snapshots.currentVersion(spark, dir)).getOrElse(
          throw new IllegalArgumentException(s"$dir: no published snapshots"))
        val idx = Snapshots.stats(spark, dir, v)
        val fls = Snapshots.files(spark, dir, v)
        def sts(name: String) = {
          val phys = Snapshots.toPhysical(spark, dir, name)
          fls.flatMap(f => idx.get(f).flatMap(_.get(phys)))
        }
        def parse(t: String, raw: String): Any = t match {
          case "long" => raw.toLong
          case "double" => raw.toDouble
          case _ => raw
        }
        def narrow(name: String, v: Any): Any = (colType(name), v) match {
          case (IntegerType, l: Long) => l.toInt
          case (ShortType, l: Long) => l.toShort
          case (ByteType, l: Long) => l.toByte
          case (FloatType, d: Double) => d.toFloat
          case (_, x) => x
        }
        val values: Seq[Any] = plan.map {
          case MetaCountStar => Snapshots.countRows(spark, dir, Some(v))
          case MetaCountCol(n) => sts(n).map(s => s.rows - s.nulls).sum
          case MetaMin(n, t) =>
            val mins = sts(n).flatMap(_.minMax.map(m => parse(t, m._1)))
            if (mins.isEmpty) null else narrow(n, t match {
              case "long" => mins.map(_.asInstanceOf[Long]).min
              case "double" => mins.map(_.asInstanceOf[Double]).min
              case _ => mins.map(_.asInstanceOf[String]).min
            })
          case MetaMax(n, t) =>
            val maxs = sts(n).flatMap(_.minMax.map(m => parse(t, m._2)))
            if (maxs.isEmpty) null else narrow(n, t match {
              case "long" => maxs.map(_.asInstanceOf[Long]).max
              case "double" => maxs.map(_.asInstanceOf[Double]).max
              case _ => maxs.map(_.asInstanceOf[String]).max
            })
        }
        spark.sparkContext.parallelize(Seq(Row.fromSeq(values)), 1)
      }
    }.asInstanceOf[T]
  }

  override def description(): String =
    s"snapshots $dir metadata-only aggregate ${plan.mkString("[", ", ", "]")}"
}

/** INSERT INTO → append commit; INSERT OVERWRITE / TRUNCATE → replace
  * commit — both atomic, both through the format's single write choke
  * point (constraints, schema gate, stats, change feed).
  */
/** The V1 write bridge: plain INSERT appends, `INSERT OVERWRITE` replaces
  * the whole table (truncate = overwrite-by-AlwaysTrue), and a STATIC
  * partition overwrite — `INSERT OVERWRITE t PARTITION (day = 'x')`, which
  * Spark plans as OverwriteByExpression with the partition equality — maps
  * to the format's [[Snapshots.replaceWhere]]: one atomic region swap,
  * untouched files carried by reference. Only a single-column equality (or
  * AlwaysTrue) is claimed; anything else refuses at analysis instead of
  * over- or under-deleting a region.
  */
private[graft] class SnapshotWriteBuilder(dir: String) extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var filters: Option[Array[Filter]] = None // None = append

  override def canOverwrite(fs: Array[Filter]): Boolean =
    fs.forall(_.isInstanceOf[AlwaysTrue]) ||
      (fs.length == 1 && (fs.head match {
        // Spark spells the static PARTITION (col = v) region as a
        // null-safe equality; for a non-null literal the two coincide
        case EqualTo(_, v) => v != null
        case EqualNullSafe(_, v) => v != null
        case _ => false
      }))

  override def overwrite(fs: Array[Filter]): WriteBuilder = {
    require(canOverwrite(fs),
      s"$dir: unsupported overwrite region ${fs.mkString(", ")} — " +
        "AlwaysTrue or one column equality")
    filters = Some(fs)
    this
  }

  override def build(): V1Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
        val spark = SparkSession.active
        filters match {
          case Some(fs) if !fs.forall(_.isInstanceOf[AlwaysTrue]) =>
            val (c, v) = (fs.head: @unchecked) match {
              case EqualTo(c0, v0) => (c0, v0)
              case EqualNullSafe(c0, v0) => (c0, v0)
            }
            Snapshots.withCommitRetry(Snapshots.RecomputeRetries)(
              Snapshots.replaceWhere(spark, dir, data, c, Some(v), Some(v)))
          case Some(_) => Snapshots.commit(spark, dir, data, replace = true)
          case None => Snapshots.commit(spark, dir, data, replace = overwrite)
        }
        ()
      }
  }
}
