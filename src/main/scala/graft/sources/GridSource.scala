package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the raster-grid domain — the faithful Spark
  * port of the reference's one real optimization: translating query
  * predicates into a NetCDF hyperslab *section read* so only the requested
  * `[t, y, x]` ranges are ever materialized (`Gddp.scala:206-226`,
  * README.md:96-108).
  *
  * Every container — NetCDF (classic or NetCDF-4), the library's GRF1 and
  * tiled GRF2 codecs, and the closed-form generator — is a
  * [[GridContainer]] that turns its files into [[GridUnit]]s sharing one
  * [[GridLayout]]. ONE table, builder, scan, agg scan, partition packer,
  * reader and stream serve them all:
  *
  * - `SupportsPushDownRequiredColumns` ⇒ only requested variables/coords are
  *   produced (the reference's variable projection, `Gddp.scala:134-137`).
  * - `SupportsPushDownFilters` ⇒ `variable =`/`IN` prunes units; `ts` and
  *   1-D `lat`/`lon` comparisons narrow the section by binary search on the
  *   table's stored or closed-form axis; `y`/`x` ranges via
  *   [[GridSource.Section.narrow]]. Pushed filters are *fully* handled;
  *   everything else stays in Spark.
  * - A unit's (t) slices inside the section pack into few partitions
  *   ([[GridPartition.pack]]); units and slices the filters exclude are
  *   never planned, which is file/partition pruning (F1).
  */
class GridSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GridSource.schema
  /** `option("path", dir)` → file-backed table: `*.nc`/`*.nc4`/`*.h5` (real
    * NetCDF — classic or NetCDF-4, container sniffed per file) or `*.grf`
    * (the library's own codec), both with byte-offset section reads; no
    * path → the closed-form generator table (full oracle coverage).
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    Option(properties.get("path")) match {
      case Some(dir) =>
        // ONE directory snapshot: every decision below (mixed-dir reject,
        // format agreement, magic sniff) and the table itself see the same
        // file set — a second listing would leave a race window where a
        // file lands between them without having passed the checks
        val listing = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName)
        val ncFiles = listing.filter(f => FileFamily.NetCdf.accepts(f.getName))
        val grfFiles = listing.filter(f => FileFamily.Grf.accepts(f.getName))
        // a mixed directory must fail loudly: picking one format would
        // silently drop the other's files from every query
        require(!(ncFiles.nonEmpty && grfFiles.nonEmpty),
          s"$dir mixes NetCDF and .grf files; split them into separate directories")
        // the first .grf's magic decides GRF1 (one cube per file) vs GRF2
        // (tiled container); the other kind's header read rejects a mix
        val tiled = grfFiles.headOption
          .exists(f => GridFile.readMagic(f.getAbsolutePath) == GridFile.MagicTiled)
        // `option("format", nc|grf|grf2)` pins the table kind for a COLD
        // START (no GRID files to sniff yet — stray entries like checkpoint
        // dirs or _SUCCESS markers don't count); when grid files exist it
        // must agree with them
        val format = Option(properties.get("format"))
        format.foreach { f =>
          require(Set("nc", "grf", "grf2").contains(f),
            s"unknown grid format '$f' (nc|grf|grf2)")
          val actual =
            if (ncFiles.nonEmpty) Some("nc")
            else if (grfFiles.nonEmpty) Some(if (tiled) "grf2" else "grf")
            else None
          actual.foreach(a => require(a == f,
            s"$dir: format option '$f' contradicts the $a files present"))
        }
        // An EMPTY dir cold-starts as the pinned format (default: plain
        // .grf): batch reads return zero rows, a declared stream adopts the
        // first arrival's layout — a file of another format landing instead
        // fails loudly at its header read or the listing guard, never a
        // misparse
        val (container, files) =
          if (ncFiles.nonEmpty || format.contains("nc")) (NcGrid.Container, ncFiles)
          else if (tiled || format.contains("grf2")) (GridSource.Grf2, grfFiles)
          else (GridSource.Grf1, grfFiles)
        GridTable.open(container, dir, files.map(_.getAbsolutePath).toSeq)
      case None => GridTable.generator
    }
}

object GridSource {
  import graft.domain.GridData.{T, X, Y}

  val schema: StructType = StructType(Seq(
    StructField("variable", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  val epochMicros: Long = java.time.Instant.parse("1990-01-01T00:00:00Z").toEpochMilli * 1000L

  /** Estimated on-heap row width for statistics (7 columns, strings short). */
  val RowWidthBytes = 64L

  /** Cells in the section. */
  def sectionDims(s: Section): Long =
    math.max(s.t1 - s.t0 + 1, 0).toLong *
      math.max(s.y1 - s.y0 + 1, 0) * math.max(s.x1 - s.x0 + 1, 0)

  /** THE per-unit clamp: `s` cut to the table's `t` steps and the unit's
    * (y, x) window — agg pushdown, statistics and partition planning all
    * derive their bounds from this one definition.
    */
  def clamp(s: Section, t: Int, u: GridUnit): Section = {
    val (y0, y1, x0, x1) = u.window
    Section(math.max(s.t0, 0), math.min(s.t1, t - 1), math.max(s.y0, y0),
      math.min(s.y1, y1), math.max(s.x0, x0), math.min(s.x1, x1))
  }

  /** Inclusive index bounds per dimension, narrowed by pushed filters. */
  case class Section(
    t0: Int = 0, t1: Int = T - 1,
    y0: Int = 0, y1: Int = Y - 1,
    x0: Int = 0, x1: Int = X - 1) {

    def isEmpty: Boolean = t0 > t1 || y0 > y1 || x0 > x1

    /** Keep only indices `lo..hi` of dimension `dim` ("t", "y" or "x"). */
    def keep(dim: String, lo: Int, hi: Int): Section = dim match {
      case "t" => copy(t0 = math.max(t0, lo), t1 = math.min(t1, hi))
      case "y" => copy(y0 = math.max(y0, lo), y1 = math.min(y1, hi))
      case _ => copy(x0 = math.max(x0, lo), x1 = math.min(x1, hi))
    }

    /** y/x index ranges. Strict bounds saturate instead of wrapping:
      * y > Int.MaxValue must empty the section, not wrap to MinValue and
      * silently pass every row through a claimed-handled filter.
      */
    def narrow(f: Filter): Option[Section] = f match {
      case GreaterThanOrEqual(d @ ("y" | "x"), v: Int) => Some(keep(d, v, Int.MaxValue))
      case GreaterThan(d @ ("y" | "x"), v: Int) => Some(keep(d, satInc(v), Int.MaxValue))
      case LessThanOrEqual(d @ ("y" | "x"), v: Int) => Some(keep(d, Int.MinValue, v))
      case LessThan(d @ ("y" | "x"), v: Int) => Some(keep(d, Int.MinValue, satDec(v)))
      case _ => None
    }

    private def satInc(v: Int): Int = if (v == Int.MaxValue) v else v + 1
    private def satDec(v: Int): Int = if (v == Int.MinValue) v else v - 1
  }

  /** Orientation of a 1-D coordinate axis a binary search can be trusted
    * on: Some(true) strictly ascending, Some(false) strictly descending
    * under the primitive `<`, NaN-free — then Spark's double comparison (NaN
    * largest, -0.0 == 0.0) agrees with the primitive one on every value.
    * None (curvilinear, non-monotone, NaN, fewer than 2 values) leaves the
    * filter with Spark.
    */
  def orientation(a: Axis[Double]): Option[Boolean] = {
    val n = a.length
    if (n < 2 || (0 until n).exists(a(_).isNaN)) None
    else if ((1 until n).forall(i => a(i - 1) < a(i))) Some(true)
    else if ((1 until n).forall(i => a(i - 1) > a(i))) Some(false)
    else None
  }

  /** The index range `(i0, i1)` of a monotone axis whose values pass the
    * comparison `f` against `v`. The passing values form one contiguous
    * run of the ascending view, found by binary search — exact, so the
    * filter is reported handled. An empty run comes back as `i0 > i1`.
    */
  def range[A](a: Axis[A], ascending: Boolean, f: Filter, v: A)(
      implicit o: Ordering[A]): (Int, Int) = {
    val last = a.length - 1
    val at: Int => A = if (ascending) a(_) else i => a(last - i)
    def first(p: A => Boolean): Int = { // first index of the ascending view passing p
      var lo = 0; var hi = a.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (p(at(m))) hi = m else lo = m + 1 }
      lo
    }
    val (i0, i1) = f match {
      case _: GreaterThanOrEqual => (first(o.gteq(_, v)), last)
      case _: GreaterThan => (first(o.gt(_, v)), last)
      case _: LessThanOrEqual => (0, first(o.gt(_, v)) - 1)
      case _ => (0, first(o.gteq(_, v)) - 1) // LessThan
    }
    if (ascending) (i0, i1) else (last - i1, last - i0)
  }

  // full microsecond precision (Timestamp.getTime alone drops sub-ms)
  def tsMicrosOf(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      Some(math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case _ => None
  }

  /** The layout of a GRF header: time and coordinates in closed form. */
  private[sources] def stepLayout(path: String, t: Int, y: Int, x: Int,
      epoch: Long, step: Long, lat0: Double, dlat: Double, lon0: Double, dlon: Double,
      tiling: Option[(Int, Int)]): GridLayout = {
    require(step > 0, s"$path: non-positive time step")
    require(BigInt(epoch) + BigInt(math.max(t - 1, 0)) * step <= Long.MaxValue,
      s"$path: time axis overflows")
    GridLayout(t, y, x, Axis.LongSteps(epoch, step, t), Axis.Steps(lat0, dlat, y),
      Axis.Steps(lon0, dlon, x), curvilinear = false, tiling)
  }

  private def files(units: Seq[GridUnit]): String =
    s"files=${units.map(_.path).distinct.mkString(",")} "

  /** GRF1: one variable's whole cube per file. */
  object Grf1 extends GridContainer {
    val label = "File"
    val tableName = "graft_grid_files"
    val family: FileFamily = FileFamily.Grf
    def listing(units: Seq[GridUnit]): String = files(units)
    def open(path: String): Seq[(GridLayout, Seq[GridUnit])] = {
      val u = FileUnit(path, GridFile.readHeader(path))
      Seq(u.layout -> Seq(u))
    }
  }

  /** GRF2: several spatial tiles of one variable's global cube per file;
    * each tile is a unit, so a pushed 2-D range skips whole files — the
    * layout [[graft.operators.Scale.writeZOrderedGrid]] produces by packing
    * Morton-consecutive tiles together.
    */
  object Grf2 extends GridContainer {
    val label = "Tiled"
    val tableName = "graft_grid_tiled"
    val family: FileFamily = FileFamily.Grf
    def listing(units: Seq[GridUnit]): String = files(units)
    def open(path: String): Seq[(GridLayout, Seq[GridUnit])] = {
      val h = GridFile.readTiledHeader(path)
      Seq(TileUnit.layout(path, h) -> h.tiles.map(TileUnit(path, h, _)))
    }
  }
}

/** A 1-D axis of a grid: the values as stored, or the closed form
  * `c0 + i·d` — the very expression the closed-form readers emit, so a
  * binary search on the axis and the rows read agree bit for bit. A
  * curvilinear coordinate is a stored y·x matrix.
  */
sealed trait Axis[A] extends Serializable {
  def length: Int
  def apply(i: Int): A
}

object Axis {
  final case class Stored[A](values: Array[A]) extends Axis[A] {
    def length: Int = values.length
    def apply(i: Int): A = values(i)
    // element-wise, like java.util.Arrays.equals: equal arrays = same axis
    override def equals(o: Any): Boolean = o match {
      case o: Stored[_] =>
        java.util.Objects.deepEquals(values.asInstanceOf[AnyRef], o.values.asInstanceOf[AnyRef])
      case _ => false
    }
    override def hashCode: Int = length
  }
  final case class Steps(c0: Double, d: Double, length: Int) extends Axis[Double] {
    def apply(i: Int): Double = c0 + i * d
  }
  final case class LongSteps(c0: Long, d: Long, length: Int) extends Axis[Long] {
    def apply(i: Int): Long = c0 + i * d
  }
}

/** The axes every unit of one grid table shares: dims, the time axis
  * (epoch micros, strictly increasing) and the lat/lon coordinates. The
  * driver keeps ONE per table — units and partitions never carry it, so
  * driver state stays O(1) per file.
  */
final case class GridLayout(t: Int, y: Int, x: Int, times: Axis[Long],
    lat: Axis[Double], lon: Axis[Double], curvilinear: Boolean,
    tiling: Option[(Int, Int)] = None) {

  def latAt(yy: Int, xx: Int): Double = if (curvilinear) lat(yy * x + xx) else lat(yy)
  def lonAt(yy: Int, xx: Int): Double = if (curvilinear) lon(yy * x + xx) else lon(xx)

  /** The `lat` or `lon` values over section `s`. */
  def coordsIn(field: String, s: GridSource.Section): Seq[Double] =
    if (curvilinear)
      for (yy <- s.y0 to s.y1; xx <- s.x0 to s.x1)
        yield if (field == "lat") latAt(yy, xx) else lonAt(yy, xx)
    else if (field == "lat") (s.y0 to s.y1).map(lat(_))
    else (s.x0 to s.x1).map(lon(_))

  lazy val latOrder: Option[Boolean] = if (curvilinear) None else GridSource.orientation(lat)
  lazy val lonOrder: Option[Boolean] = if (curvilinear) None else GridSource.orientation(lon)

  /** One table = one grid: a section narrowed on one unit's axes is applied
    * to all of them, so a unit whose dims, time axis or coordinates differ
    * would be read at wrong offsets or silently lose rows the filter keeps.
    */
  def requireSame(path: String, base: GridLayout, context: String): Unit = {
    require(t == base.t && y == base.y && x == base.x && tiling == base.tiling &&
      curvilinear == base.curvilinear,
      s"$path: heterogeneous grid layout (dims/tiling/coordinate shape) — $context")
    require(times == base.times, s"$path: heterogeneous time axis — $context")
    require(lat == base.lat && lon == base.lon, s"$path: coordinate arrays differ — $context")
  }
}

/** The smallest thing a grid scan prunes, packs and reads: a NetCDF cube, a
  * GRF1 file, one tile of a GRF2 file, or one generated variable. It covers
  * the global index `window` (y0, y1, x0, x1) of its table's layout — the
  * whole grid for all but GRF2 tiles. Metadata only: it travels in
  * partitions, and only [[open]] touches bytes, on the executor.
  */
trait GridUnit extends Serializable {
  def variable: String
  def path: String
  def window: (Int, Int, Int, Int)
  def fill: Option[Double]
  def scale: Double = 1.0
  def offset: Double = 0.0
  def open(): UnitReader

  /** A stored value as the `value` column: fill → SQL NULL, CF unpacking. */
  final def value(v: Double): Any =
    if (fill.exists(f => if (f.isNaN) v.isNaN else v == f)) null
    else if (scale == 1.0 && offset == 0.0) v
    else v * scale + offset
}

/** Executor-side reads of one unit: a positioned `[t, y, x0..x1]` row read
  * (`Gddp.scala:224-226`) plus the coordinates of a cell.
  */
trait UnitReader extends NcIo.RowReader {
  def latAt(y: Int, x: Int): Double
  def lonAt(y: Int, x: Int): Double
}

/** Reader of a unit whose coordinates are its layout's closed form. */
abstract class StepReader(l: GridLayout) extends UnitReader {
  def latAt(y: Int, x: Int): Double = l.latAt(y, x)
  def lonAt(y: Int, x: Int): Double = l.lonAt(y, x)
}

final case class FileUnit(path: String, h: GridFile.Header) extends GridUnit {
  def variable: String = h.variable
  def window: (Int, Int, Int, Int) = (0, h.y - 1, 0, h.x - 1)
  def fill: Option[Double] = Some(h.fill)
  def layout: GridLayout = GridSource.stepLayout(path, h.t, h.y, h.x, h.epochMicros,
    h.stepMicros, h.lat0, h.dlat, h.lon0, h.dlon, None)
  def open(): UnitReader = new StepReader(layout) {
    private val r = new GridFile.SectionReader(path, h)
    def readRow(t: Int, y: Int, x0: Int, x1: Int): Array[Double] = r.readRow(t, y, x0, x1)
    def close(): Unit = r.close()
  }
}

final case class TileUnit(path: String, h: GridFile.TiledHeader, tile: GridFile.TileEntry)
    extends GridUnit {
  def variable: String = h.variable
  def window: (Int, Int, Int, Int) = h.tileBounds(tile)
  def fill: Option[Double] = Some(h.fill)
  // global indices in, tile-local offsets at the byte layer
  def open(): UnitReader = new StepReader(TileUnit.layout(path, h)) {
    private val r = new GridFile.TiledSectionReader(path, h)
    def readRow(t: Int, y: Int, x0: Int, x1: Int): Array[Double] = r.readRow(tile, t, y, x0, x1)
    def close(): Unit = r.close()
  }
}

object TileUnit {
  def layout(path: String, h: GridFile.TiledHeader): GridLayout =
    GridSource.stepLayout(path, h.t, h.y, h.x, h.epochMicros, h.stepMicros,
      h.lat0, h.dlat, h.lon0, h.dlon, Some((h.tileY, h.tileX)))
}

/** One generated variable: `GridData.cells` minus the `file` column (same
  * closed form), so correctness is oracle-checkable against the DuckDB
  * generator.
  */
final case class GenUnit(v: Int) extends GridUnit {
  import graft.domain.GridData.{X, Y}
  def variable: String = if (v == 0) "tasmax" else "tasmin"
  def path: String = ""
  def window: (Int, Int, Int, Int) = (0, Y - 1, 0, X - 1)
  def fill: Option[Double] = Some(Double.NaN)
  def open(): UnitReader = new StepReader(GenUnit.layout) {
    def readRow(t: Int, y: Int, x0: Int, x1: Int): Array[Double] =
      Array.tabulate(x1 - x0 + 1) { i =>
        val x = x0 + i
        if ((t + y + x) % 17 == 0) Double.NaN
        else ((t * 31 + y * 7 + x * 13 + v * 5) % 100).toDouble / 2.0 - 10.0
      }
    def close(): Unit = ()
  }
}

object GenUnit {
  import graft.domain.GridData.{DLat, DLon, Lat0, Lon0, T, X, Y}
  val layout: GridLayout = GridLayout(T, Y, X,
    Axis.LongSteps(GridSource.epochMicros, 24L * 3600 * 1000000L, T),
    Axis.Steps(Lat0, DLat, Y), Axis.Steps(Lon0, DLon, X), curvilinear = false)
}

/** The two file families a grid dir may hold — one at a time. */
sealed abstract class FileFamily(val name: String, val accepts: String => Boolean)

object FileFamily {
  case object NetCdf extends FileFamily("NetCDF", NcGrid.isNcName)
  case object Grf extends FileFamily(".grf", _.endsWith(".grf"))

  /** The family of a file name; None for checkpoint dirs, markers and
    * stray files.
    */
  def of(name: String): Option[FileFamily] = Seq(NetCdf, Grf).find(_.accepts(name))
}

/** One kind of file container: which file family it reads, how a file
  * becomes [[GridUnit]]s, and what its table and scans are called.
  */
trait GridContainer {
  /** Scan labels: `<label>GridScan`, `<label>GridAggScan`. */
  def label: String
  def tableName: String
  def family: FileFamily
  /** What a scan description lists of its units (trailing space). */
  def listing(units: Seq[GridUnit]): String
  /** Driver-side metadata open of one file: its units, grouped by the
    * layout they claim — the reference's file-catalog step
    * (`Gddp.scala:61-68,118-131`). Cell data is never touched here.
    */
  def open(path: String): Seq[(GridLayout, Seq[GridUnit])]
}

/** Holds every arriving unit to the first layout admitted (or a given one):
  * the one layout check of table open and of each micro-batch.
  */
private[sources] final class LayoutGuard(var base: Option[(String, GridLayout)]) {
  def admit(path: String, l: GridLayout, context: String): Unit = base match {
    case Some((p0, b)) => l.requireSame(path, b, s"$context $p0")
    case None => base = Some(path -> l)
  }
}

/** Table over a grid's units: a dir's files read by one container
  * (`source`), or the generator's variables (no source). An EMPTY dir is a
  * valid cold-start state (declare the stream, then land files): batch
  * reads plan zero partitions, the micro-batch stream adopts the first
  * arrival's layout, and filters stay Spark-applied until a layout exists
  * to resolve them against.
  */
class GridTable(private[sources] val label: String, tableName: String,
    private[sources] val source: Option[(String, GridContainer)],
    private[sources] val units: Seq[GridUnit],
    private[sources] val base: Option[(String, GridLayout)]) extends Table with SupportsRead {
  def layout: Option[GridLayout] = base.map(_._2)
  /** What a scan description lists of `units` (trailing space), or "". */
  private[sources] def listing(units: Seq[GridUnit]): String =
    source.fold("")(_._2.listing(units))
  override def name(): String = tableName + source.fold("")(s => s"(${s._1})")
  override def schema(): StructType = GridSource.schema
  override def capabilities(): util.Set[TableCapability] =
    if (source.isEmpty) util.EnumSet.of(TableCapability.BATCH_READ)
    else util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GridScanBuilder(this)
}

object GridTable {
  /** Open each of `files` (the listing `getTable` took) ONCE, holding every
    * unit to the first one's layout. Only that first layout is kept. Two
    * units of one variable over the same cells would emit every such cell
    * twice, so a dir holding them is refused.
    */
  def open(container: GridContainer, dir: String, files: Seq[String]): GridTable = {
    val guard = new LayoutGuard(None)
    val units = files.flatMap { p =>
      container.open(p).flatMap { case (l, us) => guard.admit(p, l, "must match"); us }
    }
    units.groupBy(u => (u.variable, u.window)).collectFirst {
      case ((v, _), us) if us.size > 1 => throw new IllegalArgumentException(
        s"$dir: variable $v is stored twice over the same cells (${us.map(_.path).distinct.mkString(", ")})")
    }
    new GridTable(container.label, container.tableName, Some(dir -> container), units, guard.base)
  }

  /** The closed-form generator: one unit per variable, no files. */
  lazy val generator: GridTable = new GridTable("", "graft_grid", None,
    Seq(GenUnit(0), GenUnit(1)), Some("" -> GenUnit.layout))
}

/** The one pushdown rule set of every grid table (see [[GridSource]]).
  * Every filter it reports handled leaves no post-scan re-evaluation
  * behind, so the generated code of a request-shaped query carries no
  * request literals.
  */
class GridScanBuilder(table: GridTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  // cold start (no layout): nothing section-shaped is reported pushed —
  // Spark keeps applying the filters itself, which stays correct once
  // files land
  private var section = table.layout match {
    case Some(l) => GridSource.Section(0, l.t - 1, 0, l.y - 1, 0, l.x - 1)
    case None => GridSource.Section(0, Int.MaxValue - 1, 0, Int.MaxValue - 1, 0, Int.MaxValue - 1)
  }
  private var varNames: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GridSource.schema
  private var aggPlan: Option[Seq[GridAgg]] = None

  // varNames holds the FILTER's values, not their intersection with the
  // units present at open: a streaming read must admit units for a
  // filtered variable that arrive AFTER the stream starts (the filter is
  // reported pushed, so Spark never re-applies it)
  private def keepVars(names: Set[String]): Unit =
    varNames = Some(varNames.fold(names)(_.intersect(names)))

  /** Narrow the section by one comparison; true = handled exactly. NaN
    * literals and curvilinear or non-monotone coordinate axes stay
    * unhandled and untouched.
    */
  private def narrow(l: GridLayout, f: Filter): Boolean = {
    val (field, v) = f match {
      case GreaterThanOrEqual(c, v) => (c, v)
      case GreaterThan(c, v) => (c, v)
      case LessThanOrEqual(c, v) => (c, v)
      case LessThan(c, v) => (c, v)
      case _ => (null, null)
    }
    def keep(dim: String, r: (Int, Int)): Boolean = { section = section.keep(dim, r._1, r._2); true }
    def coord(dim: String, a: Axis[Double], order: Option[Boolean], d: Double): Boolean =
      !d.isNaN && order.exists(asc =>
        keep(dim, GridSource.range(a, asc, f, d)(Ordering.Double.IeeeOrdering)))
    (field, v) match {
      case ("ts", _) => GridSource.tsMicrosOf(v).exists(k =>
        keep("t", GridSource.range(l.times, ascending = true, f, k)))
      case ("lat", d: Double) => coord("y", l.lat, l.latOrder, d)
      case ("lon", d: Double) => coord("x", l.lon, l.lonOrder, d)
      case _ => section.narrow(f).exists { s => section = s; true }
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, rest) = filters.partition {
      case EqualTo("variable", v: String) => keepVars(Set(v)); true
      case In("variable", vs) => keepVars(vs.collect { case s: String => s }.toSet); true
      case f => table.layout.exists(narrow(_, f))
    }
    pushed = handled
    rest // Spark re-evaluates these; handled ones are fully enforced here
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** COUNT(*) / MIN / MAX over the index and coordinate columns are pure
    * metadata: the section and the layout's axes answer them without
    * reading a single cell — the DSv2 form of "the catalog answers it" (the
    * reference reads ranges from attributes/coord arrays,
    * `Gddp.scala:121-130`, never the cube). Spark only offers complete
    * pushdown when every filter was already pushed, so the section is
    * exact. `value` aggregates are refused — NODATA nulls require scanning;
    * so is a cold start, whose empty scan Spark aggregates itself.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    table.layout.nonEmpty && GridAgg.translate(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (table.layout.nonEmpty) aggPlan = GridAgg.translate(agg)
    aggPlan.isDefined
  }

  override def build(): Scan = {
    val kept = table.units.filter(u => varNames.forall(_.contains(u.variable)))
    aggPlan match {
      case Some(plan) => new GridAggScan(table, kept, section, plan)
      case None => new GridScan(table, kept, section, required, pushed, varNames)
    }
  }
}

/** One pushed aggregate column over the grid's metadata dimensions. */
sealed trait GridAgg
object GridAgg {
  case object CountAll extends GridAgg
  final case class MinOf(field: String) extends GridAgg
  final case class MaxOf(field: String) extends GridAgg

  private val metaCols = Set("ts", "y", "x", "lat", "lon")

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }

  def translate(agg: Aggregation): Option[Seq[GridAgg]] = {
    if (agg.groupByExpressions.nonEmpty) return None
    val out = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CountAll)
      case m: Min => colName(m.column).filter(metaCols).map(MinOf)
      case m: Max => colName(m.column).filter(metaCols).map(MaxOf)
      case _ => None
    }
    if (out.forall(_.isDefined)) Some(out.flatten) else None
  }

  def fieldType(f: String): DataType = f match {
    case "ts" => TimestampType
    case "y" | "x" => IntegerType
    case _ => DoubleType
  }
}

/** Completely-pushed aggregate: one partition, one row, zero cells read.
  * The row is computed driver-side at planning time from the per-unit
  * section clamps and the table's axes, and shipped in the partition.
  */
class GridAggScan(table: GridTable, units: Seq[GridUnit], section: GridSource.Section,
    plan: Seq[GridAgg]) extends Scan with Batch {
  override def readSchema(): StructType = StructType(plan.zipWithIndex.map {
    case (GridAgg.CountAll, i) => StructField(s"agg$i", LongType, nullable = false)
    case (GridAgg.MinOf(f), i) => StructField(s"agg$i", GridAgg.fieldType(f), nullable = true)
    case (GridAgg.MaxOf(f), i) => StructField(s"agg$i", GridAgg.fieldType(f), nullable = true)
  })
  override def toBatch: Batch = this
  override def description(): String =
    s"${table.label}GridAggScan ${table.listing(units)}" +
      s"section=$section pushedAggregates=[${plan.mkString(", ")}]"

  /** The result row (Catalyst internal values: long/int/double/null). */
  private def resultRow(): Seq[Any] = {
    val l = table.layout.get
    val clamps = units.map(GridSource.clamp(section, l.t, _)).filterNot(_.isEmpty)
    val windows = clamps.distinct // units sharing a window share its bounds
    def bound(f: String, lo: Boolean): Any = {
      def pick[A](vs: Seq[A])(implicit o: Ordering[A]): A = if (lo) vs.min else vs.max
      if (windows.isEmpty) null
      else f match {
        case "ts" => pick(windows.map(c => l.times(if (lo) c.t0 else c.t1)))
        case "y" => pick(windows.map(c => if (lo) c.y0 else c.y1))
        case "x" => pick(windows.map(c => if (lo) c.x0 else c.x1))
        case _ => pick(windows.map(c => pick(l.coordsIn(f, c))(Ordering.Double.TotalOrdering)))(
          Ordering.Double.TotalOrdering)
      }
    }
    plan.map {
      case GridAgg.CountAll => clamps.map(GridSource.sectionDims).sum
      case GridAgg.MinOf(f) => bound(f, lo = true)
      case GridAgg.MaxOf(f) => bound(f, lo = false)
    }
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(SingleRowPartition(resultRow()))
  override def createReaderFactory(): PartitionReaderFactory = SingleRowReaderFactory
}

case class SingleRowPartition(values: Seq[Any]) extends InputPartition

object SingleRowReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        InternalRow.fromSeq(p.asInstanceOf[SingleRowPartition].values)
      override def close(): Unit = ()
    }
}

class GridScan(table: GridTable, units: Seq[GridUnit], section: GridSource.Section,
    required: StructType, pushed: Array[Filter], varNames: Option[Set[String]])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  /** Streaming micro-batch form of the same scan: new files arriving in the
    * table's dir become micro-batches, with the SAME section/variable
    * pushdown narrowing every batch's reads (filters on a `readStream` DSv2
    * relation push down like batch). See [[DirMicroBatchStream]].
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new DirMicroBatchStream(table, varNames, section, required)
  override def description(): String =
    s"${table.label}GridScan ${table.listing(units)}" +
      s"section=$section pushed=[${pushed.mkString(", ")}]"

  /** Exact statistics from the per-unit clamps — a narrowed slice reports a
    * small size, so Catalyst can broadcast it in joins instead of
    * defaulting to a conservative estimate.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = table.layout.fold(0L)(l =>
      units.map(u => GridSource.sectionDims(GridSource.clamp(section, l.t, u))).sum)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * GridSource.RowWidthBytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
  }

  override def planInputPartitions(): Array[InputPartition] =
    table.layout.fold(Array.empty[InputPartition])(GridPartition.pack(units, _, section))

  override def createReaderFactory(): PartitionReaderFactory = new GridReaderFactory(required)
}

/** A run of consecutive time steps `ts` of ONE unit (`tsMicros` their
  * stamped times), read over the same clamped, non-empty `section`.
  */
case class GridPartition(unit: GridUnit, ts: Array[Int], tsMicros: Array[Long],
    section: GridSource.Section) extends InputPartition

object GridPartition {
  /** Pack every (unit, t) slice of `section` into partitions, unit-major
    * then t, never mixing units; units the section misses plan nothing. A
    * slice weighs its clamped cells × [[GridSource.RowWidthBytes]] (the
    * scan's size estimate), and a partition takes as many consecutive
    * slices as fit in Spark's file-split size, `FilePartition.maxSplitBytes`:
    * `min(spark.sql.files.maxPartitionBytes, max(spark.sql.files.openCostInBytes,
    * totalBytes / minPartitionNum))`, where `minPartitionNum` is
    * `spark.sql.files.minPartitionNum` or else the default parallelism. A
    * small section is one partition per unit; a large scan still splits
    * into at least `minPartitionNum` partitions (a slice is never split).
    * Each partition is stamped with its slices' ts values — executors never
    * re-derive the time axis.
    */
  def pack(units: Seq[GridUnit], l: GridLayout, section: GridSource.Section): Array[InputPartition] = {
    val runs = units.map(u => u -> GridSource.clamp(section, l.t, u)).filterNot(_._2.isEmpty)
    def sliceBytes(s: GridSource.Section): Long =
      GridSource.RowWidthBytes * (s.y1 - s.y0 + 1) * (s.x1 - s.x0 + 1)
    val split = org.apache.spark.sql.execution.datasources.FilePartition.maxSplitBytes(
      org.apache.spark.sql.SparkSession.active,
      runs.map { case (_, s) => (s.t1 - s.t0 + 1) * sliceBytes(s) }.sum)
    runs.flatMap { case (u, s) =>
      val perPartition = math.min(math.max(split / sliceBytes(s), 1L), Int.MaxValue.toLong).toInt
      (s.t0 to s.t1).grouped(perPartition).map { run =>
        val ts = run.toArray
        GridPartition(u, ts, ts.map(l.times(_)), s)
      }
    }.toArray
  }
}

class GridReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GridReader(p.asInstanceOf[GridPartition], required)
}

/** Executor-side section read of one unit: opens it once per partition,
  * then walks the partition's time slices in turn with one positioned read
  * per `[t, y, x0..x1]` row; fill → SQL NULL, scale/offset applied.
  */
class GridReader(p: GridPartition, required: StructType) extends PartitionReader[InternalRow] {
  private val s = p.section
  private val u = p.unit
  private val rdr = u.open()
  private val name = UTF8String.fromString(u.variable)
  private var i = 0 // the slice being read: p.ts(i)
  private var y = s.y0 - 1
  private var x = s.x1 // forces a row load on first next()
  private var row: Array[Double] = _

  private val fieldGen: Array[(Int, Int) => Any] = required.fields.map { f =>
    f.name match {
      case "variable" => (_: Int, _: Int) => name
      case "ts" => (_: Int, _: Int) => p.tsMicros(i)
      case "y" => (yy: Int, _: Int) => yy
      case "x" => (_: Int, xx: Int) => xx
      case "lat" => (yy: Int, xx: Int) => rdr.latAt(yy, xx)
      case "lon" => (yy: Int, xx: Int) => rdr.lonAt(yy, xx)
      case "value" => (_: Int, xx: Int) => u.value(row(xx - s.x0))
    }
  }

  override def next(): Boolean = {
    if (i == p.ts.length) return false
    x += 1
    if (x > s.x1) {
      y += 1
      if (y > s.y1) {
        i += 1
        if (i == p.ts.length) return false
        y = s.y0
      }
      row = rdr.readRow(p.ts(i), y, s.x0, s.x1)
      x = s.x0
    }
    true
  }

  override def get(): InternalRow =
    InternalRow.fromSeq(fieldGen.toSeq.map(g => g(y, x)))

  override def close(): Unit = rdr.close()
}

/** Offset = the set of files already processed (paths only — the same
  * seen-files bookkeeping Spark's own FileStreamSource keeps in its log;
  * bounded by file count, not data volume). Correct for ANY arrival
  * order — no monotone-naming assumption.
  */
case class GridFilesOffset(names: Seq[String]) extends Offset {
  override def json(): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.JsonDSL.seq2jvalue(names.sorted.map(
        org.json4s.JString(_): org.json4s.JValue)))
}
object GridFilesOffset {
  def fromJson(json: String): GridFilesOffset = {
    import org.json4s._
    GridFilesOffset(jackson.JsonMethods.parse(json)
      .asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s))
  }
}

/** Micro-batch streaming ingest of a grid dir: each trigger lists the
  * directory, and files not in the start offset become the batch — opened
  * by the table's container, held to the table's layout (a cold-start
  * stream adopts the first arrival's), and packed with the SAME pushed
  * section/variable narrowing the batch scan uses. At scale this is the
  * nightly-archive ingest shape: an object-store prefix accrues one
  * container per (variable, day) and each trigger reads only the new
  * arrivals, metadata-first (headers on the driver, cell bytes in executor
  * tasks).
  *
  * ATOMIC-PUBLISH CONTRACT (same as Spark's own FileStreamSource): a file
  * must appear in the directory complete — write it elsewhere (or under a
  * temp name) and rename into place. A listed name is read immediately; a
  * file still being written in place races header vs payload. As a guard,
  * names carrying the common in-progress suffixes (`.tmp`, `.inprogress`,
  * `._COPYING_`, or a leading `.`/`_` hidden marker) are skipped until the
  * rename lands.
  */
class DirMicroBatchStream(table: GridTable, varNames: Option[Set[String]],
    section: GridSource.Section, required: StructType) extends MicroBatchStream {
  private val (dir, container) = table.source.get
  private val family = container.family
  private val guard = new LayoutGuard(table.base)

  private def listNow(): Seq[String] = {
    val names = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filterNot(f => DirMicroBatchStream.isInProgressName(f.getName))
    // the mixed-dir reject at table open only sees files present THEN; a
    // file of the other family landing mid-stream (or after a cold start on
    // an empty dir) would otherwise be silently ignored forever
    for (f <- names; other <- FileFamily.of(f.getName) if other != family)
      throw new IllegalArgumentException(
        s"${f.getAbsolutePath}: ${other.name} file arrived in a ${family.name} streaming dir — " +
          s"this table reads ${family.name} containers only; split formats into separate dirs")
    names.filter(f => family.accepts(f.getName)).map(_.getAbsolutePath).sorted.toSeq
  }

  override def initialOffset(): Offset = GridFilesOffset(Nil)
  override def latestOffset(): Offset = GridFilesOffset(listNow())
  override def deserializeOffset(json: String): Offset = GridFilesOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // seen files compare by name inside the one dir: offsets hold absolute
    // paths, but NetCDF streams checkpointed bare names before the grid
    // streams were unified, and a resumed stream must not re-ingest those
    def name(p: String): String = new java.io.File(p).getName
    val seen = start.asInstanceOf[GridFilesOffset].names.map(name).toSet
    val units = end.asInstanceOf[GridFilesOffset].names.filterNot(p => seen(name(p))).flatMap { p =>
      container.open(p).flatMap { case (l, us) =>
        guard.admit(p, l, "arrived mid-stream; must match"); us }
    }
    guard.base.fold(Array.empty[InputPartition])(b => GridPartition.pack(
      units.filter(u => varNames.forall(_.contains(u.variable))), b._2, section))
  }

  override def createReaderFactory(): PartitionReaderFactory = new GridReaderFactory(required)
}

object DirMicroBatchStream {
  /** In-progress naming conventions honored by the listing (HDFS
    * `._COPYING_`, Flink/Spark `.tmp`/`.inprogress`, hidden `.`/`_`
    * prefixes) — such files are invisible until renamed into place.
    */
  def isInProgressName(n: String): Boolean =
    n.startsWith(".") || n.startsWith("_") ||
      n.endsWith(".tmp") || n.endsWith(".inprogress") || n.endsWith("._COPYING_")
}
