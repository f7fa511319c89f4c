package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.Snapshots

/** The `CALL` face of the snapshot format's maintenance ops (Iceberg's
  * `CALL catalog.system.rewrite_data_files` convention, on Spark 4's
  * stored-procedure connector API):
  *
  * {{{
  *   CALL graft.system.compact(tbl => 'db.events', target_mb => 128)
  *   CALL graft.system.expire_older_than(tbl => 'db.events', ts_millis => ...)
  *   CALL graft.system.vacuum(tbl => 'db.events', grace_hours => 24)
  *   CALL graft.system.zorder(tbl => 'db.events', cols => 'lat,lon')
  *   CALL graft.system.restore(tbl => 'db.events', version => 7)
  *   CALL graft.system.set_tag(tbl => 'db.events', name => 'golden', version => 7)
  *   CALL graft.system.create_branch(tbl => 'db.events', name => 'audit')
  *   CALL graft.system.fast_forward(tbl => 'db.events', name => 'audit')
  *   CALL graft.system.expire_staged(tbl => 'db.events', older_than_millis => ...)
  * }}}
  *
  * Each procedure resolves `tbl` against the owning catalog's warehouse,
  * delegates to the library op (one code path — the SQL face can never
  * drift from the API), and returns a one-row result.
  */
private[graft] object SnapshotProcedures {

  /** name → (parameters, output schema, body(spark, dir, args) → row). */
  private type Body =
    (SparkSession, String, InternalRow, Seq[String] => String) => Seq[Any]
  /** `tblIsNew`: the `tbl` argument names a table the procedure CREATES
    * (clone) — resolve its warehouse path without the exists check. */
  private final case class Spec(params: Seq[ProcedureParameter],
      out: StructType, body: Body, tblIsNew: Boolean = false)

  private def p(name: String, t: DataType) =
    ProcedureParameter.in(name, t).build()
  private def pd(name: String, t: DataType, default: String) =
    ProcedureParameter.in(name, t).defaultValue(default).build()

  private def str(r: InternalRow, i: Int): String = r.getUTF8String(i).toString

  private val specs: Map[String, Spec] = Map(
    "compact" -> Spec(
      Seq(p("tbl", StringType), pd("target_mb", LongType, "128")),
      new StructType().add("version", IntegerType),
      (s, dir, r, _) => Seq(Snapshots.compact(s, dir, r.getLong(1) * 1024 * 1024))),
    "expire_older_than" -> Spec(
      Seq(p("tbl", StringType), p("ts_millis", LongType)),
      new StructType().add("swept_files", IntegerType),
      (s, dir, r, _) => Seq(Snapshots.expireOlderThan(s, dir, r.getLong(1)))),
    "vacuum" -> Spec(
      Seq(p("tbl", StringType), pd("grace_hours", LongType, "24")),
      new StructType().add("swept_orphans", IntegerType),
      (s, dir, r, _) => Seq(Snapshots.vacuumOrphans(s, dir,
        r.getLong(1) * 3600 * 1000))),
    "zorder" -> Spec(
      Seq(p("tbl", StringType), p("cols", StringType),
        pd("target_files", IntegerType, "8")),
      new StructType().add("version", IntegerType),
      (s, dir, r, _) => Seq(Snapshots.cluster(s, dir,
        str(r, 1).split(",").map(_.trim).toSeq, targetFiles = r.getInt(2)))),
    "hilbert" -> Spec(
      Seq(p("tbl", StringType), p("x_col", StringType), p("y_col", StringType),
        pd("target_files", IntegerType, "8")),
      new StructType().add("version", IntegerType),
      (s, dir, r, _) => Seq(Snapshots.cluster(s, dir, Seq(str(r, 1), str(r, 2)),
        targetFiles = r.getInt(3), curve = Snapshots.Curve.Hilbert))),
    "repartition" -> Spec(
      Seq(p("tbl", StringType)),
      new StructType().add("version", IntegerType),
      (s, dir, r, _) => Seq(Snapshots.rewritePartitioned(s, dir))),
    "restore" -> Spec(
      Seq(p("tbl", StringType), p("version", IntegerType)),
      new StructType().add("version", IntegerType),
      (s, dir, r, _) => Seq(Snapshots.restore(s, dir, r.getInt(1)))),
    "set_tag" -> Spec(
      Seq(p("tbl", StringType), p("name", StringType), p("version", IntegerType)),
      new StructType().add("tag", StringType).add("version", IntegerType),
      (s, dir, r, _) => {
        Snapshots.setTag(s, dir, str(r, 1), r.getInt(2))
        Seq(str(r, 1), r.getInt(2))
      }),
    "create_branch" -> Spec(
      Seq(p("tbl", StringType), p("name", StringType)),
      new StructType().add("branch", StringType).add("base_version", IntegerType),
      (s, dir, r, _) => Seq(str(r, 1),
        Snapshots.createBranch(s, dir, str(r, 1)))),
    "fast_forward" -> Spec(
      Seq(p("tbl", StringType), p("name", StringType)),
      new StructType().add("version", IntegerType),
      (s, dir, r, _) => Seq(Snapshots.fastForward(s, dir, str(r, 1)))),
    "expire_staged" -> Spec(
      Seq(p("tbl", StringType), p("older_than_millis", LongType)),
      new StructType().add("swept_tokens", IntegerType),
      (s, dir, r, _) => Seq(
        Snapshots.expireStagedOlderThan(s, dir, r.getLong(1)).length)),
    // `tbl` is the NEW table (the clone), `src` the table being cloned;
    // version -1 (the default) = the source's current version
    "clone" -> Spec(
      Seq(p("tbl", StringType), p("src", StringType),
        pd("version", IntegerType, "-1")),
      new StructType().add("version", IntegerType),
      (s, dir, r, dirOf) => {
        val srcDir = dirOf(str(r, 1).split("\\.").toSeq)
        val v = r.getInt(2)
        Seq(Snapshots.cloneTable(s, srcDir, dir,
          if (v < 0) None else Some(v)))
      }, tblIsNew = true)
  )

  def names: Seq[String] = specs.keys.toSeq.sorted

  /** `dirOf` maps a dotted, catalog-relative table argument to the owning
    * catalog's warehouse path (requiring the table to exist); `dirOfNew`
    * resolves the path WITHOUT the exists check — for the `tbl` of a
    * procedure that creates its table (clone). */
  def load(ident: Identifier, dirOf: Seq[String] => String,
      dirOfNew: Seq[String] => String): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got $ident")
    val spec = specs.getOrElse(ident.name,
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name}' — have ${names.mkString(", ")}"))
    new UnboundProcedure {
      override def name(): String = ident.name
      override def description(): String = s"snapshots maintenance: ${ident.name}"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = ident.name
        override def description(): String = s"snapshots maintenance: ${ident.name}"
        override def parameters(): Array[ProcedureParameter] = spec.params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val spark = SparkSession.active
          val resolve = if (spec.tblIsNew) dirOfNew else dirOf
          val dir = resolve(str(input, 0).split("\\.").toSeq)
          val values = spec.body(spark, dir, input,
            segs => dirOf(segs)).map {
            case s: String => UTF8String.fromString(s)
            case x => x
          }
          val row: InternalRow = new GenericInternalRow(values.toArray[Any])
          val scan: Scan = new LocalScan {
            override def readSchema(): StructType = spec.out
            override def rows(): Array[InternalRow] = Array(row)
          }
          java.util.List.of(scan).iterator()
        }
      }
    }
  }
}
