package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** NetCDF-3 export sink: write grid cells back out as one classic `.nc` file
  * per variable — the inverse of a NetCDF [[GridTable]], closing the round trip
  * (query → transform → standard container another tool can open).
  *
  * Scale shape mirrors the PNG render sink: cells repartition by variable and
  * each file is written from `foreachPartition` on an executor — a NetCDF-3
  * cube is a single sequential container, so one file = one task, tasks scale
  * with the number of variables. The driver never sees cell data.
  *
  * Coordinates are written 1-D when they factor (lat a function of y alone,
  * lon of x alone) and as 2-D curvilinear matrices otherwise — whichever the
  * input grid actually is. Missing cells and SQL NULLs become `_FillValue`
  * (NaN).
  *
  * Deliberately NOT spatially tiled: the `.nc` table contract is one grid
  * layout per directory (a NetCDF [[GridTable]] reads every file at the same
  * byte offsets), so per-file spatial footprints would be a silent misparse
  * waiting to happen. The Morton-packed, file-skipping ingest layout lives
  * in the library's own container instead —
  * [[graft.operators.Scale.writeZOrderedGrid]] → GRF2
  * ([[GridFile.writeTiled]]), where the tile directory is part of the
  * format.
  */
object NcSink {

  /** `sel` needs columns (variable, ts, y, x, lat, lon, value). Indices are
    * re-based to the selection's own extent (a bbox slice exports as a
    * self-contained smaller grid).
    */
  def export(sel: DataFrame, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    sel
      .select(col("variable"), col("ts").cast("double").as("secs"),
        col("y"), col("x"), col("lat"), col("lon"), col("value"))
      .repartition(col("variable"))
      .foreachPartition { (rows: Iterator[Row]) =>
        rows.toSeq.groupBy(_.getString(0)).foreach { case (variable, cells) =>
          writeOne(s"$outDir/$variable.nc", variable, cells)
        }
      }
  }

  private def writeOne(path: String, variable: String, cells: Seq[Row]): Unit = {
    import NetCdf3._
    val times = cells.map(_.getDouble(1)).distinct.sorted.toArray
    val tIdx = times.zipWithIndex.toMap
    val ys = cells.map(_.getInt(2)); val xs = cells.map(_.getInt(3))
    val (y0, y1) = (ys.min, ys.max); val (x0, x1) = (xs.min, xs.max)
    val (yN, xN) = (y1 - y0 + 1, x1 - x0 + 1)
    // do lat/lon factor per-axis, or is the grid curvilinear?
    val latByY = new Array[Double](yN); val lonByX = new Array[Double](xN)
    val lat2 = Array.fill(yN * xN)(Double.NaN)
    val lon2 = Array.fill(yN * xN)(Double.NaN)
    java.util.Arrays.fill(latByY, Double.NaN); java.util.Arrays.fill(lonByX, Double.NaN)
    var factors = true
    cells.foreach { r =>
      val yy = r.getInt(2) - y0; val xx = r.getInt(3) - x0
      val la = r.getDouble(4); val lo = r.getDouble(5)
      if (latByY(yy).isNaN) latByY(yy) = la else if (latByY(yy) != la) factors = false
      if (lonByX(xx).isNaN) lonByX(xx) = lo else if (lonByX(xx) != lo) factors = false
      lat2(yy * xN + xx) = la; lon2(yy * xN + xx) = lo
    }
    val data = Array.fill(times.length * yN * xN)(Double.NaN)
    cells.foreach { r =>
      val t = tIdx(r.getDouble(1))
      val i = (t * yN + (r.getInt(2) - y0)) * xN + (r.getInt(3) - x0)
      data(i) = if (r.isNullAt(6)) Double.NaN else r.getDouble(6)
    }
    val timeVar = WVar("time", NcDouble, Seq("time"),
      Seq(WAttr("units", NcChar, text = "seconds since 1970-01-01")), times)
    val coordVars =
      if (factors) Seq(
        WVar("y", NcDouble, Seq("y"), Seq(WAttr("long_name", NcChar, text = "latitude")), latByY),
        WVar("x", NcDouble, Seq("x"), Seq(WAttr("long_name", NcChar, text = "longitude")), lonByX))
      else Seq(
        WVar("lat", NcDouble, Seq("y", "x"),
          Seq(WAttr("long_name", NcChar, text = "latitude")), lat2),
        WVar("lon", NcDouble, Seq("y", "x"),
          Seq(WAttr("long_name", NcChar, text = "longitude")), lon2))
    NetCdf3.write(path,
      dims = Seq("time" -> times.length, "y" -> yN, "x" -> xN),
      recordDim = Some("time"),
      gatts = Seq(WAttr("source", NcChar, text = "graft export")),
      vars = (timeVar +: coordVars) :+
        WVar(variable, NcDouble, Seq("time", "y", "x"),
          Seq(WAttr("_FillValue", NcDouble, nums = Seq(Double.NaN))), data))
  }
}
