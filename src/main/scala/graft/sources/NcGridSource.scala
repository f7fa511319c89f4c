package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Metadata-open result for ONE data variable in one `.nc` file: everything
  * the scan needs, extracted driver-side from the header + coordinate
  * variables only (`Gddp.scala:118-131` reads exactly this much before any
  * data access). Coordinate VALUES for the data rows are read executor-side
  * from the file itself — the partition ships names and offsets, not arrays,
  * so a 100 TB deployment's coord matrices never travel through the driver
  * per task.
  *
  * The cube holds only (tMin, tMax, t) of the time axis — O(1) per file, so
  * a million-file catalog costs the driver megabytes, not the ~29 GB that
  * retaining every file's full time array would. Exact ts pushdown still
  * binary-searches the STORED coordinate (no uniform-step assumption, so
  * irregular calendars stay exact): the scan re-reads ONE dim-sized array
  * per table, lazily (`NcGrid.timesOf`), and each planned partition is
  * stamped with its single ts value — executors never re-derive time.
  * Lat/lon carry no affine assumption either: 1-D coord arrays or full 2-D
  * curvilinear matrices (`geopy.py:52-61`) are both surfaced as stored.
  */
final case class NcCube(
    path: String, varName: String, longName: String,
    t: Int, y: Int, x: Int,
    tMin: Long, tMax: Long,
    fill: Option[Double], scale: Double, offset: Double,
    curvilinear: Boolean,
    latVar: String, lonVar: String)

object NcGrid {
  import NcIo._

  /** Files this source serves; the CONTAINER is sniffed per file from the
    * magic (classic vs NetCDF-4/HDF5), not from the extension.
    */
  private[sources] def isNcName(n: String): Boolean =
    n.endsWith(".nc") || n.endsWith(".nc4") || n.endsWith(".h5")

  /** Parse a CF-style time unit string: `<unit> since <date>[ <time>]`. */
  private[graft] def timeUnit(units: String): (Long, Long) = {
    val parts = units.trim.split("\\s+since\\s+")
    require(parts.length == 2, s"unsupported time units: $units")
    val per = parts(0).toLowerCase match {
      case "days" | "day" => 86400000000L
      case "hours" | "hour" => 3600000000L
      case "minutes" | "minute" => 60000000L
      case "seconds" | "second" => 1000000L
      case u => throw new IllegalArgumentException(s"unsupported time unit: $u")
    }
    val dt = parts(1).trim
    val iso = if (dt.contains(" ")) dt.replace(" ", "T") else dt + "T00:00:00"
    val epoch = java.time.LocalDateTime.parse(iso)
      .toInstant(java.time.ZoneOffset.UTC)
    (epoch.getEpochSecond * 1000000L + epoch.getNano / 1000L, per)
  }

  /** Convert a file's time coordinate for one time dim to epoch micros —
    * a dim-sized read, used TRANSIENTLY (validation, narrowing, partition
    * stamping); never retained per file.
    */
  private def readTimes(h: NcHandle, tName: String, tSize: Int): Array[Long] = {
    // time coordinate: the 1-D variable named after the time dimension
    val timeVar = h.variable(tName).getOrElse(
      throw new IllegalArgumentException(s"${h.path}: no time coordinate '$tName'"))
    val units = timeVar.attr("units").map(_.valueString).getOrElse(
      throw new IllegalArgumentException(s"${h.path}: time '$tName' has no units"))
    val (epoch, per) = timeUnit(units)
    val raw = h.readAll(timeVar)
    val times = raw.map(d => epoch + math.round(d * per))
    require(times.length == tSize, s"${h.path}: time coord length ${times.length} != $tSize")
    require(times.zip(times.drop(1)).forall { case (a, b) => a < b },
      s"${h.path}: time coordinate must be strictly increasing")
    times
  }

  /** Open one file: a cube per 3-D data variable, paired with its (transient)
    * time axis so callers can validate/narrow without the cube retaining it.
    * Container-neutral: the classic and NetCDF-4 paths are the same code
    * from here up.
    */
  def openCubesT(path: String): Seq[(NcCube, Array[Long])] = {
    val h = NcIo.open(path)
    val dataVars = h.vars.filter(_.dimNames.length == 3)
    require(dataVars.nonEmpty, s"$path: no 3-D variable found")
    dataVars.map { dv =>
      val Seq(tName, yName, xName) = dv.dimNames
      val Seq(tSize, ySize, xSize) = dv.dimSizes
      val times = readTimes(h, tName, tSize)
      // spatial coords: 1-D vars named after the dims, or 2-D curvilinear
      // lat/lon matrices over (yName, xName) — the Five Lakes shape
      def coord1d(d: String): Option[NcVar] =
        h.variable(d).filter(_.dimNames == Seq(d))
      val (curv, latV, lonV) = (coord1d(yName), coord1d(xName)) match {
        case (Some(la), Some(lo)) => (false, la, lo)
        case _ =>
          def coord2d(names: Seq[String]): Option[NcVar] =
            h.vars.find(v => names.contains(v.name.toLowerCase) &&
              v.dimNames == Seq(yName, xName))
          val la = coord2d(Seq("lat", "latitude")).getOrElse(throw new IllegalArgumentException(
            s"$path: no 1-D '$yName' or 2-D lat coordinate"))
          val lo = coord2d(Seq("lon", "longitude")).getOrElse(throw new IllegalArgumentException(
            s"$path: no 1-D '$xName' or 2-D lon coordinate"))
          (true, la, lo)
      }
      (NcCube(path, dv.name,
        dv.attr("long_name").map(_.valueString).getOrElse(dv.name),
        tSize, ySize, xSize,
        tMin = if (times.isEmpty) Long.MaxValue else times.head,
        tMax = if (times.isEmpty) Long.MinValue else times.last,
        fill = dv.attr("_FillValue").flatMap(_.firstNum),
        scale = dv.attr("scale_factor").flatMap(_.firstNum).getOrElse(1.0),
        offset = dv.attr("add_offset").flatMap(_.firstNum).getOrElse(0.0),
        curvilinear = curv, latVar = latV.name, lonVar = lonV.name), times)
    }
  }

  /** Open one file and extract a cube per 3-D data variable. */
  def openCubes(path: String): Seq[NcCube] = openCubesT(path).map(_._1)

  /** Re-read a cube's time axis (epoch micros) — ONE dim-sized driver read
    * per table/scan, the trade for not retaining the array on every cube.
    */
  def timesOf(c: NcCube): Array[Long] = {
    val h = NcIo.open(c.path)
    val dv = h.variable(c.varName).getOrElse(
      throw new IllegalArgumentException(s"${c.path}: variable '${c.varName}' missing"))
    readTimes(h, dv.dimNames.head, dv.dimSizes.head)
  }

  /** Read a cube's coordinate arrays (lat, lon) — dim-sized driver read. */
  def coordArrays(c: NcCube): (Array[Double], Array[Double]) = {
    val h = NcIo.open(c.path)
    (h.readAll(h.variable(c.latVar).get), h.readAll(h.variable(c.lonVar).get))
  }

  /** Every cube must carry the SAME coordinate arrays (and curvilinear
    * shape) as the first: section narrowing derived from one cube's coords
    * is applied to all of them, and a divergent axis would silently prune
    * rows the filter keeps.
    */
  def requireSameCoords(cubes: Seq[NcCube]): Unit = cubes.headOption.foreach { c0 =>
    val (lat0, lon0) = coordArrays(c0)
    cubes.drop(1).foreach { c =>
      require(c.curvilinear == c0.curvilinear,
        s"${c.path}#${c.varName}: curvilinear/1-D coord shape differs from ${c0.path}")
      val (la, lo) = coordArrays(c)
      require(java.util.Arrays.equals(la, lat0) && java.util.Arrays.equals(lo, lon0),
        s"${c.path}#${c.varName}: coordinate arrays differ from ${c0.path}")
    }
  }

  /** First index with `a(i) >= key` (array strictly increasing). */
  def lowerBound(a: Array[Long], key: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) < key) lo = mid + 1 else hi = mid }
    lo
  }
  /** First index with `a(i) > key`. */
  def upperBound(a: Array[Long], key: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) <= key) lo = mid + 1 else hi = mid }
    lo
  }
}

/** Attribute catalog over a `.nc` directory: one row per (file, variable,
  * attribute), including global attributes under variable `""` — the
  * schema-on-read surface the reference uses to FIND variables by their
  * `long_name` instead of hardcoding names (`geopy.py:51-55`). Header-only
  * driver reads; catalog-sized.
  */
object NcCatalog {
  def attrs(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val rows = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => NcGrid.isNcName(f.getName)).sortBy(_.getName).toSeq
      .flatMap { f =>
        val h = NcIo.open(f.getAbsolutePath)
        h.gatts.map(a => (f.getName, "", a.name, a.valueString)) ++
          h.vars.flatMap(v => v.attrs.map(a => (f.getName, v.name, a.name, a.valueString)))
      }
    import s.implicits._
    rows.toDF("file", "variable", "attr_name", "attr_value")
  }

  /** Driver-side variable discovery by `long_name` predicate — the
    * reference's attribute-based lookup. Returns matching data-variable names.
    */
  def discoverByLongName(dir: String, p: String => Boolean): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => NcGrid.isNcName(f.getName)).sortBy(_.getName).toSeq
      .flatMap(f => NcGrid.openCubes(f.getAbsolutePath))
      .collect { case c if p(c.longName) => c.varName }
}

/** Table over a directory of NetCDF-3 classic files — the reference's native
  * container (`Gddp.scala:121-131`), read without NetCDF-Java. Header +
  * coordinate reads happen here (driver, metadata-sized); cell data is only
  * touched by executors, and only the pushed-down sections of it.
  */
class NcGridTable(dir: String) extends Table with SupportsRead {
  // one table = one grid: every cube must share dims, the time axis, AND the
  // coordinate arrays, so a single Section (including the exact bbox
  // narrowing derived from the FIRST cube's coords) is valid for all of
  // them (same contract as FileGridTable). Time-axis equality is checked
  // EXACTLY but file-by-file against the first file's (transient) array —
  // at no point does the driver hold more than two time arrays, and the
  // retained cubes carry only (tMin, tMax, t).
  private[sources] val cubes: Seq[NcCube] = {
    var refTimes: Array[Long] = null
    var refPath: String = null
    val opened = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => NcGrid.isNcName(f.getName)).sortBy(_.getName).iterator
      .flatMap { f =>
        val ct = NcGrid.openCubesT(f.getAbsolutePath)
        ct.map { case (c, times) =>
          if (refTimes == null) { refTimes = times; refPath = c.path }
          else require(java.util.Arrays.equals(times, refTimes),
            s"${c.path}#${c.varName}: heterogeneous time axis vs $refPath")
          c
        }
      }.toList
    // empty dir = valid cold start (stream declared before the first drop
    // lands; batch reads plan zero rows) — same contract as FileGridTable
    opened.headOption.foreach { c0 =>
      opened.foreach { c =>
        require(c.t == c0.t && c.y == c0.y && c.x == c0.x,
          s"${c.path}#${c.varName}: heterogeneous grid layout vs ${c0.path}#${c0.varName}")
      }
      require(opened.map(_.varName).distinct.size == opened.size,
        s"$dir: duplicate variable names across files")
      NcGrid.requireSameCoords(opened)
    }
    opened
  }

  override def name(): String = s"graft_grid_nc($dir)"
  override def schema(): StructType = GridSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NcGridScanBuilder(cubes, dir)
}

/** Same pushdown contract as the other grid paths — variable equality/IN
  * prunes whole cubes, y/x ranges narrow the Section — plus EXACT ts and
  * lat/lon narrowing by binary search on the stored coordinates (any
  * strictly monotone axis, not just uniform steps). Every pushed filter
  * this reports handled leaves no post-scan re-evaluation behind, so the
  * generated code of a request-shaped query carries no request literals.
  */
class NcGridScanBuilder(cubes: Seq[NcCube], dir: String) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  // cold start (empty dir): no layout exists, nothing section-shaped is
  // reported pushed — see FileGridScanBuilder
  private val dims0: Option[NcCube] = cubes.headOption
  // ONE dim-sized read per scan, lazily: queries with no ts predicate and no
  // planned partitions never pay it, and the builder — not every cube —
  // holds the array, keeping driver state O(1) per file
  private lazy val times =
    dims0.map(NcGrid.timesOf).getOrElse(Array.empty[Long])
  private val timesFn: () => Array[Long] = () => times
  private var section = dims0 match {
    case Some(d) => GridSource.Section(t1 = d.t - 1, y1 = d.y - 1, x1 = d.x - 1)
    case None => GridSource.Section(
      t1 = Int.MaxValue - 1, y1 = Int.MaxValue - 1, x1 = Int.MaxValue - 1)
  }
  private var varNames: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GridSource.schema
  private var aggPlan: Option[Seq[GridAgg]] = None

  private def narrowTs(f: Filter): Boolean = {
    def m(v: Any): Option[Long] = GridSource.tsMicrosOf(v)
    f match {
      case GreaterThanOrEqual("ts", v) => m(v).exists { k =>
        section = section.copy(t0 = math.max(section.t0, NcGrid.lowerBound(times, k))); true }
      case GreaterThan("ts", v) => m(v).exists { k =>
        section = section.copy(t0 = math.max(section.t0, NcGrid.upperBound(times, k))); true }
      case LessThanOrEqual("ts", v) => m(v).exists { k =>
        section = section.copy(t1 = math.min(section.t1, NcGrid.upperBound(times, k) - 1)); true }
      case LessThan("ts", v) => m(v).exists { k =>
        section = section.copy(t1 = math.min(section.t1, NcGrid.lowerBound(times, k) - 1)); true }
      case _ => false
    }
  }

  // 1-D coordinate arrays for exact lat/lon narrowing, each with its
  // orientation — ascending view precomputed ONCE (the direction scan and
  // any reversal must not rerun per filter). A dim-sized driver read, done
  // lazily on the first lat/lon range filter (the reference's metadata open
  // reads exactly these, `geopy.py:52-61`). Axis dropped (None) when
  // curvilinear, not strictly monotonic, or containing NaN — anything the
  // binary search can't be trusted on; those filters stay with Spark.
  private case class Axis(ascending: Array[Double], wasDescending: Boolean)
  private lazy val coordAxes: (Option[Axis], Option[Axis]) =
    if (dims0.forall(_.curvilinear)) (None, None) // incl. cold start: no coords
    else {
      val (lats, lons) = NcGrid.coordArrays(dims0.get)
      def axis(a: Array[Double]): Option[Axis] = {
        // STRICT one-direction monotonicity under the primitive `<`, no NaN:
        // then Spark's double comparison (NaN largest, -0.0 == 0.0) agrees
        // with the primitive one on every stored value
        if (a.length < 2 || a.exists(_.isNaN)) return None
        val pairs = a.zip(a.drop(1))
        if (pairs.forall { case (p, q) => p < q }) Some(Axis(a, wasDescending = false))
        else if (pairs.forall { case (p, q) => p > q }) Some(Axis(a.reverse, wasDescending = true))
        else None
      }
      (axis(lats), axis(lons))
    }

  /** The index range (in the ORIGINAL orientation) whose stored coordinate
    * satisfies the comparison `f` against the non-NaN literal `v`. The
    * values that pass form one contiguous run of the ascending view, found
    * by binary search — exact, so the filter is reported handled. An empty
    * run comes back as `lo > hi`.
    */
  private def coordRange(ax: Axis, f: Filter, v: Double): (Int, Int) = {
    val a = ax.ascending
    def firstAtLeast(strict: Boolean): Int = { // first index with a(i) >= v (> v if strict)
      var lo = 0; var hi = a.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (a(m) < v || (strict && a(m) == v)) lo = m + 1 else hi = m
      }
      lo
    }
    val last = a.length - 1
    val (i0, i1) = f match {
      case _: GreaterThanOrEqual => (firstAtLeast(strict = false), last)
      case _: GreaterThan => (firstAtLeast(strict = true), last)
      case _: LessThanOrEqual => (0, firstAtLeast(strict = true) - 1)
      case _ => (0, firstAtLeast(strict = false) - 1) // LessThan
    }
    if (ax.wasDescending) (last - i1, last - i0) else (i0, i1)
  }

  /** Narrow the section by a lat/lon comparison; true = handled exactly.
    * NaN literals, curvilinear or non-monotone axes and cold start stay
    * unhandled and untouched.
    */
  private def narrowCoord(f: Filter): Boolean = {
    val (field, v) = f match {
      case GreaterThanOrEqual(c, x: Double) => (c, x)
      case GreaterThan(c, x: Double) => (c, x)
      case LessThanOrEqual(c, x: Double) => (c, x)
      case LessThan(c, x: Double) => (c, x)
      case _ => return false
    }
    if (v.isNaN) return false
    val axis = field match {
      case "lat" => coordAxes._1
      case "lon" => coordAxes._2
      case _ => None
    }
    axis.exists { ax =>
      val (lo, hi) = coordRange(ax, f, v)
      section =
        if (field == "lat") section.copy(y0 = math.max(section.y0, lo), y1 = math.min(section.y1, hi))
        else section.copy(x0 = math.max(section.x0, lo), x1 = math.min(section.x1, hi))
      true
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (handled, rest) = filters.partition {
      case EqualTo("variable", v: String) =>
        // filter values only — NOT intersected with the cubes present at
        // open: a stream must admit a filtered variable arriving later
        varNames = Some(varNames.map(_.intersect(Set(v))).getOrElse(Set(v)))
        true
      case In("variable", vs) =>
        val names = vs.collect { case s: String => s }.toSet
        varNames = Some(varNames.map(_.intersect(names)).getOrElse(names))
        true
      case f if dims0.nonEmpty && narrowTs(f) => true
      // ts is handled ONLY by narrowTs above: Section.narrow's epoch/step
      // mapping assumes a uniform axis, which the nc coord array need not be
      case f if f.references.contains("ts") => false
      case f if dims0.nonEmpty && narrowCoord(f) => true
      case f if dims0.nonEmpty => section.narrow(f) match {
        case Some(s) => section = s; true
        case None => false
      }
      case _ => false
    }
    pushed = handled
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    dims0.nonEmpty && GridAgg.translate(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    if (dims0.isEmpty) false // cold start: let Spark aggregate the empty scan
    else GridAgg.translate(agg) match {
      case some @ Some(_) => aggPlan = some; true
      case None => false
    }

  private def kept: Seq[NcCube] =
    cubes.filter(c => varNames.forall(_.contains(c.varName)))

  override def build(): Scan = aggPlan match {
    case Some(plan) => new NcGridAggScan(kept, section, plan, timesFn)
    case None => new NcGridScan(kept, section, required, pushed, dir, varNames,
      timesFn, cubes.headOption)
  }
}

/** Metadata-answered aggregate: count from section bounds; ts bounds from the
  * time coordinate; lat/lon bounds from the stored coordinate arrays (the
  * section's slice of them) — all dim-sized driver reads, zero data cells.
  */
class NcGridAggScan(cubes: Seq[NcCube], section: GridSource.Section,
    plan: Seq[GridAgg], timesFn: () => Array[Long]) extends SingleRowAggScan(plan) {

  override def description(): String =
    s"NcGridAggScan vars=${cubes.map(_.varName).mkString(",")} section=$section " +
      s"pushedAggregates=[${plan.mkString(", ")}]"

  override protected def resultRow(): Seq[Any] = {
    val clamped = cubes.headOption
      .map(c => GridSource.clampTo(section, c.t, c.y, c.x))
      .getOrElse(section)
    val n = cubes.size.toLong * GridSource.sectionDims(clamped)
    // one header parse per file and one read per (file, coord var) across
    // ALL aggregate elements — min(lat)+max(lat)+min(lon)+max(lon) must not
    // cost 4 opens per cube
    val headerCache = scala.collection.mutable.Map[String, NcIo.NcHandle]()
    val coordCache = scala.collection.mutable.Map[(String, String), Array[Double]]()
    def coordsOf(c: NcCube, varName: String): Array[Double] =
      coordCache.getOrElseUpdate((c.path, varName), {
        val h = headerCache.getOrElseUpdate(c.path, NcIo.open(c.path))
        h.readAll(h.variable(varName).get)
      })
    def bound(f: String, lo: Boolean): Any =
      if (n == 0) null
      else f match {
        case "ts" => timesFn()(if (lo) clamped.t0 else clamped.t1)
        case "y" => if (lo) clamped.y0 else clamped.y1
        case "x" => if (lo) clamped.x0 else clamped.x1
        case "lat" | "lon" =>
          val vals = cubes.map { c =>
            val a = coordsOf(c, if (f == "lat") c.latVar else c.lonVar)
            val slice: Seq[Double] =
              if (c.curvilinear)
                for (yy <- clamped.y0 to clamped.y1; xx <- clamped.x0 to clamped.x1)
                  yield a(yy * c.x + xx)
              else if (f == "lat") (clamped.y0 to clamped.y1).map(a(_))
              else (clamped.x0 to clamped.x1).map(a(_))
            if (lo) slice.min else slice.max
          }
          if (lo) vals.min else vals.max
      }
    plan.map {
      case GridAgg.CountAll => n
      case GridAgg.MinOf(f) => bound(f, lo = true)
      case GridAgg.MaxOf(f) => bound(f, lo = false)
    }
  }
}

class NcGridScan(cubes: Seq[NcCube], section: GridSource.Section,
    required: StructType, pushed: Array[Filter],
    // no defaults: a scan built without dir/baseline would stream empty
    // batches (or skip layout checks) with no diagnostic
    dir: String, varNames: Option[Set[String]],
    timesFn: () => Array[Long],
    baseline: Option[NcCube]) extends Scan with Batch
    with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming read: every NEW `.nc` file that lands in the directory becomes
    * (part of) a micro-batch — continuous ingest of raster drops. The same
    * pushed section/variable pruning applies to the streamed cubes.
    */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    // baseline = the TABLE's first cube (not the variable-pruned list's —
    // layout checks must hold even when the filtered variable has no file
    // yet); None only on a cold start, where the first arrival adopts it
    new NcGridMicroBatchStream(dir, section, varNames, required, baseline, timesFn)
  override def description(): String =
    s"NcGridScan vars=${cubes.map(_.varName).mkString(",")} section=$section " +
      s"pushed=[${pushed.mkString(", ")}]"

  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = cubes.headOption.map { c =>
      cubes.size * GridSource.sectionDims(GridSource.clampTo(section, c.t, c.y, c.x))
    }.getOrElse(0L)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * GridSource.RowWidthBytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
  }

  /** One partition per (cube, t) slice in the section, each stamped with its
    * single ts value at planning — executors never re-derive the time axis.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val times = if (cubes.isEmpty) Array.empty[Long] else timesFn()
    (for {
      c <- cubes
      t <- section.t0 to math.min(section.t1, c.t - 1)
      if t >= 0
    } yield NcGridPartition(c, t, times(t), section): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NcGridReaderFactory(required)
}

case class NcGridPartition(cube: NcCube, t: Int, tsMicros: Long,
    section: GridSource.Section)
  extends InputPartition

/** Micro-batch streaming over a `.nc` directory: an offset is the SET of
  * file names already ingested (serialized sorted, so offsets are stable
  * regardless of arrival order or lexicographic position of new names); a
  * batch is the cubes of `end − start`. Every streamed file must match the
  * reference cube's grid layout (dims + time axis) — same contract the
  * batch open enforces, checked here as each new file arrives.
  */
class NcGridMicroBatchStream(dir: String, section: GridSource.Section,
    varNames: Option[Set[String]], required: StructType,
    reference: Option[NcCube], timesFn: () => Array[Long])
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class FilesOffset(files: Set[String]) extends Offset {
    override def json(): String =
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.JsonDSL.seq2jvalue(files.toSeq.sorted.map(
          org.json4s.JString(_): org.json4s.JValue)))
  }

  private def listNc(): Set[String] = {
    // same atomic-publish contract as DirMicroBatchStream: in-progress
    // names are invisible until renamed into place
    val names = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filterNot(f => DirMicroBatchStream.isInProgressName(f.getName))
    // mirror of DirMicroBatchStream's guard: a .grf container landing in a
    // NetCDF streaming dir would be silently invisible to this listing
    names.find(_.getName.endsWith(".grf")).foreach { f =>
      throw new IllegalArgumentException(
        s"${f.getAbsolutePath}: .grf file arrived in a NetCDF streaming dir — " +
          "this table reads NetCDF containers only; split formats into separate dirs")
    }
    names.filter(f => NcGrid.isNcName(f.getName)).map(_.getName).toSet
  }

  override def initialOffset(): Offset = FilesOffset(Set.empty)

  override def latestOffset(): Offset = FilesOffset(listNc())

  override def deserializeOffset(json: String): Offset = {
    import org.json4s._
    FilesOffset(jackson.JsonMethods.parse(json)
      .asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s).toSet)
  }

  // cold start: the first arrival's cube (and its time axis) becomes the
  // stream's layout baseline — same adoption as FileGridMicroBatchStream
  private var ref: Option[NcCube] = reference
  private var refTimesCold: Array[Long] = Array.empty

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val newFiles = (end.asInstanceOf[FilesOffset].files --
      start.asInstanceOf[FilesOffset].files).toSeq.sorted
    val opened = newFiles.flatMap(f => NcGrid.openCubesT(s"$dir/$f"))
    if (ref.isEmpty) opened.headOption.foreach { case (c, times) =>
      ref = Some(c); refTimesCold = times
    }
    ref.foreach { r =>
      // the reference time axis is re-read once per micro-batch (dim-sized)
      // and each new file's axis compared EXACTLY — the pushed section's ts
      // narrowing was derived from it. (A cold-adopted baseline keeps the
      // first arrival's axis instead; nothing was pushed in that case.)
      val refTimes = if (reference.nonEmpty) timesFn() else refTimesCold
      opened.foreach { case (c, times) => require(
        c.t == r.t && c.y == r.y && c.x == r.x &&
          java.util.Arrays.equals(times, refTimes),
        s"${c.path}#${c.varName}: heterogeneous grid layout vs ${r.path}#${r.varName}") }
      // coords too: the pushed section was narrowed from the reference
      // cube's coordinate arrays (see NcGrid.requireSameCoords)
      NcGrid.requireSameCoords(r +: opened.map(_._1))
    }
    (for {
      (c, times) <- opened
      if varNames.forall(_.contains(c.varName))
      clamped = GridSource.clampTo(section, c.t, c.y, c.x)
      t <- clamped.t0 to clamped.t1
      if t >= 0
    } yield NcGridPartition(c, t, times(t), clamped): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NcGridReaderFactory(required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class NcGridReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new NcGridReader(p.asInstanceOf[NcGridPartition], required)
}

/** Executor-side section read of real NetCDF bytes (either container):
  * re-opens the header (small), reads only the section's coordinate slices,
  * then one positioned read per `[t, y, x0..x1]` row of the data variable
  * (`Gddp.scala:224-226`); `_FillValue` → SQL NULL,
  * `scale_factor`/`add_offset` applied.
  */
class NcGridReader(p: NcGridPartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val s = p.section
  private val c = p.cube
  private val header = NcIo.open(c.path)
  private val dataVar = header.variable(c.varName).get
  private val rdr = header.rowReader(dataVar)
  // coord values for the section only (executor-local read, never shipped)
  private val needLat = required.fieldNames.contains("lat")
  private val needLon = required.fieldNames.contains("lon")
  private val lats: Array[Double] =
    if (needLat) header.readAll(header.variable(c.latVar).get) else null
  private val lons: Array[Double] =
    if (needLon) header.readAll(header.variable(c.lonVar).get) else null

  private var y = s.y0 - 1
  private var x = s.x1 // forces a row load on first next()
  private var row: Array[Double] = _

  private val fieldGen: Array[(Int, Int) => Any] = required.fields.map { f =>
    f.name match {
      case "variable" => (_: Int, _: Int) => UTF8String.fromString(c.varName)
      case "ts" => (_: Int, _: Int) => p.tsMicros
      case "y" => (yy: Int, _: Int) => yy
      case "x" => (_: Int, xx: Int) => xx
      case "lat" => (yy: Int, xx: Int) =>
        if (c.curvilinear) lats(yy * c.x + xx) else lats(yy)
      case "lon" => (yy: Int, xx: Int) =>
        if (c.curvilinear) lons(yy * c.x + xx) else lons(xx)
      case "value" => (_: Int, xx: Int) =>
        val v = row(xx - s.x0)
        val isFill = c.fill.exists(fv => if (fv.isNaN) v.isNaN else v == fv)
        if (isFill) null else v * c.scale + c.offset
    }
  }

  override def next(): Boolean = {
    if (s.x0 > s.x1) return false
    x += 1
    if (x > s.x1) {
      y += 1
      if (y > s.y1) return false
      row = rdr.readRow(p.t, y, s.x0, s.x1)
      x = s.x0
    }
    y <= s.y1
  }

  override def get(): InternalRow =
    InternalRow.fromSeq(fieldGen.toSeq.map(g => g(y, x)))

  override def close(): Unit = rdr.close()
}
