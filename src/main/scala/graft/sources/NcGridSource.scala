package graft.sources

/** Metadata-open result for ONE data variable in one `.nc` file: the
  * [[GridUnit]] of a NetCDF grid table, extracted driver-side from the
  * header only (`Gddp.scala:118-131` reads exactly this much before any
  * data access). It holds no arrays: the table keeps ONE time axis and ONE
  * pair of coordinate arrays for all its cubes ([[GridLayout]]), so a
  * million-file catalog costs the driver megabytes. Coordinate VALUES for
  * the data rows are read executor-side from the file itself — the
  * partition ships names and offsets, not arrays. Lat/lon carry no affine
  * assumption: 1-D coord arrays or full 2-D curvilinear matrices
  * (`geopy.py:52-61`) are both surfaced as stored.
  */
final case class NcCube(
    path: String, varName: String, longName: String,
    t: Int, y: Int, x: Int,
    fill: Option[Double], override val scale: Double, override val offset: Double,
    curvilinear: Boolean,
    latVar: String, lonVar: String) extends GridUnit {
  def variable: String = varName
  def window: (Int, Int, Int, Int) = (0, y - 1, 0, x - 1)

  /** Re-opens the header (small) once per partition; the data variable's
    * row reader opens on the first row read, and the coordinate arrays are
    * read only if a lat/lon column asks for them.
    */
  def open(): UnitReader = new UnitReader {
    private val h = NcIo.open(path)
    private var rows: NcIo.RowReader = null
    private lazy val lats = h.readAll(h.variable(latVar).get)
    private lazy val lons = h.readAll(h.variable(lonVar).get)
    def readRow(t: Int, yy: Int, x0: Int, x1: Int): Array[Double] = {
      if (rows == null) rows = h.rowReader(h.variable(varName).get)
      rows.readRow(t, yy, x0, x1)
    }
    def latAt(yy: Int, xx: Int): Double = if (curvilinear) lats(yy * x + xx) else lats(yy)
    def lonAt(yy: Int, xx: Int): Double = if (curvilinear) lons(yy * x + xx) else lons(xx)
    def close(): Unit = if (rows != null) rows.close()
  }
}

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

  /** A file's time coordinate for one time dim, in epoch micros. */
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

  /** Open one file ONCE: a cube per 3-D data variable, each with the layout
    * its time and coordinate variables give it — all read from this one
    * handle, each variable once. Container-neutral: the classic and
    * NetCDF-4 paths are the same code from here up.
    */
  def openCubes(path: String): Seq[(NcCube, GridLayout)] = {
    val h = NcIo.open(path)
    val dataVars = h.vars.filter(_.dimNames.length == 3)
    require(dataVars.nonEmpty, s"$path: no 3-D variable found")
    val read = scala.collection.mutable.Map[String, Axis[Double]]()
    val times = scala.collection.mutable.Map[String, Axis[Long]]()
    def coord(v: NcVar): Axis[Double] = read.getOrElseUpdate(v.name, Axis.Stored(h.readAll(v)))
    dataVars.map { dv =>
      val Seq(tName, yName, xName) = dv.dimNames
      val Seq(tSize, ySize, xSize) = dv.dimSizes
      val ts = times.getOrElseUpdate(tName, Axis.Stored(readTimes(h, tName, tSize)))
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
        fill = dv.attr("_FillValue").flatMap(_.firstNum),
        scale = dv.attr("scale_factor").flatMap(_.firstNum).getOrElse(1.0),
        offset = dv.attr("add_offset").flatMap(_.firstNum).getOrElse(0.0),
        curvilinear = curv, latVar = latV.name, lonVar = lonV.name),
        GridLayout(tSize, ySize, xSize, ts, coord(latV), coord(lonV), curv))
    }
  }

  /** NetCDF (classic or NetCDF-4): one unit per cube. Every cube must carry
    * the SAME dims, time axis and coordinate arrays as the first: ts and
    * bbox narrowing derived from the table's one layout is applied to all.
    */
  object Container extends GridContainer {
    val label = "Nc"
    val tableName = "graft_grid_nc"
    val family: FileFamily = FileFamily.NetCdf
    def listing(units: Seq[GridUnit]): String = s"vars=${units.map(_.variable).mkString(",")} "
    def open(path: String): Seq[(GridLayout, Seq[GridUnit])] =
      openCubes(path).map { case (c, l) => l -> Seq(c) }
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
      .collect { case (c, _) if p(c.longName) => c.varName }
}

