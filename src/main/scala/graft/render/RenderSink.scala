package graft.render

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.domain.GridQuery

/** Raster render sink: bin cell values with fixed breaks and write one PNG
  * per (variable, timestep) — the reference's output contract
  * (`gddp<variable><dates>.png`, `Gddp.scala:236`, `main.py:114-127`).
  *
  * Two paths, same pixels:
  *   - [[writePngs]] (batch export): cells are repartitioned by (variable,
  *     day) and the PNGs are written from `foreachPartition` on the
  *     executors (the reference also wrote from the task,
  *     `Gddp.scala:234-236`); the driver never holds pixel data. One image's
  *     cells always land in one partition; images are bounded (one raster
  *     tile), tasks scale with the number of timesteps.
  *   - [[renderZip]] (the `/fetchResult` response): executors fold their
  *     cells into per-image partial rasters in the scan's own job (no
  *     shuffle, no temp files); the driver merges them, takes the value
  *     range, bins, encodes and zips in memory. Driver memory is
  *     O(response pixels) — the size of the reply it has to send anyway.
  */
object RenderSink {

  /** Blue→red ramp, nbins entries (the reference's `ColorRamps.BlueToRed`). */
  def blueToRed(nbins: Int): Array[Int] =
    Array.tabulate(nbins) { i =>
      val f = if (nbins == 1) 0.0 else i.toDouble / (nbins - 1)
      val r = (255 * f).toInt
      val b = (255 * (1 - f)).toInt
      val g = (96 * (1 - math.abs(2 * f - 1))).toInt
      (r << 16) | (g << 8) | b
    }

  val Nodata: Int = 0x202020 // dark gray for NULL cells

  /** An image's file / zip entry name. */
  def pngName(variable: String, day: String): String = s"grid_${variable}_$day.png"

  /** R2 archive sink: zip the rendered PNGs into one archive — the response
    * payload of the reference's `/fetchResult` (`main.py:114-127` zips
    * `gddp<variable><dates>.png` files into `result.zip`). Deflate-compressed,
    * entries in name order for a deterministic archive. Returns entry names.
    *
    * Driver-side by design: the PNGs are written distributed (one task per
    * image, below); the zip is response assembly over a bounded file list —
    * the same boundary the reference draws.
    */
  def zipPngs(dir: String, zipPath: String): Seq[String] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".png")).sortBy(_.getName).toSeq
    val out = new java.io.FileOutputStream(zipPath)
    writeZip(out, files.iterator.map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath)))
    files.map(_.getName)
  }

  /** THE archive writer: entries in the given order, each with a fixed mtime
    * (same content => byte-identical archive). Closes `out`.
    */
  private def writeZip(out: java.io.OutputStream, entries: Iterator[(String, Array[Byte])]): Unit = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val zos = new ZipOutputStream(out)
    try entries.foreach { case (name, bytes) =>
      val e = new ZipEntry(name)
      e.setTime(0L)
      zos.putNextEntry(e)
      zos.write(bytes)
      zos.closeEntry()
    } finally zos.close()
  }

  /** Writes `<outDir>/grid_<variable>_<yyyy-MM-dd>.png` per timestep.
    * `sel` needs columns (variable, ts, y, x, value); grid dims are taken
    * from the y/x extent of each image's own cells.
    */
  def writePngs(sel: DataFrame, outDir: String, lo: Double, step: Double, nbins: Int): Unit = {
    new java.io.File(outDir).mkdirs()
    val ramp = blueToRed(nbins)
    sel
      .select(col("variable"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("y"), col("x"),
        when(col("value").isNull, lit(-1))
          .otherwise(GridQuery.colorBin(col("value"), lo, step, nbins)).as("bin"))
      .repartition(col("variable"), col("day"))
      .sortWithinPartitions("variable", "day")
      .foreachPartition { (rows: Iterator[Row]) =>
        // images are sorted within the partition, so a single streaming pass
        // buffers ONE image's cells at a time (bounded: a raster tile) —
        // never the whole partition, however many images hash into it
        val it = rows.buffered
        while (it.hasNext) {
          val variable = it.head.getString(0); val day = it.head.getString(1)
          val cells = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
          while (it.hasNext && it.head.getString(0) == variable &&
              it.head.getString(1) == day) {
            val r = it.next()
            cells += ((r.getInt(2), r.getInt(3), r.getInt(4)))
          }
          var y0 = Int.MaxValue; var y1 = Int.MinValue
          var x0 = Int.MaxValue; var x1 = Int.MinValue
          cells.foreach { case (y, x, _) =>
            y0 = math.min(y0, y); y1 = math.max(y1, y)
            x0 = math.min(x0, x); x1 = math.max(x1, x)
          }
          val w = x1 - x0 + 1; val h = y1 - y0 + 1
          val px = Array.fill(w * h)(Nodata)
          cells.foreach { case (y, x, bin) =>
            // row 0 at the top = northmost latitude (flip y)
            px((y1 - y) * w + (x - x0)) = if (bin < 0) Nodata else ramp(bin)
          }
          Png.write(s"$outDir/${pngName(variable, day)}", w, h, px)
        }
      }
  }

  /** select → PNG per (variable, day) → zip, as the bytes of the archive
    * [[writePngs]] + [[zipPngs]] produce, with `lo`/`hi` taken over the
    * selection's non-NULL values the way Spark's `min`/`max` order doubles
    * (NaN largest) and `(0.0, 1.0)` for an empty range. One Spark job: each
    * task folds its cells into partial rasters ([[foldCells]]), the driver
    * merges them per image, bins with [[GridQuery.binOf]], encodes and zips.
    *
    * The only expressions this adds to `sel`'s plan are literal-free, so a
    * selection whose filters the scan fully handles compiles the same code
    * for every request.
    */
  def renderZip(sel: DataFrame, nbins: Int): Array[Byte] = {
    val cells = sel.select(col("variable"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
      col("y"), col("x"), col("value"))
    val images = cells.queryExecution.toRdd.mapPartitions(foldCells).collect()
      .groupBy(r => (r.variable, r.day)).values.map(_.reduce(_ merge _))
      .toSeq.sortBy(_.name)
    val (lo, hi) = valueRange(images)
    val step = math.max((hi - lo) / nbins, 1e-9)
    val ramp = blueToRed(nbins)
    val out = new java.io.ByteArrayOutputStream()
    writeZip(out, images.iterator.map(r => r.name -> r.png(lo, step, nbins, ramp)))
    out.toByteArray
  }

  /** min/max over every image's values under Spark's double ordering. */
  private def valueRange(images: Seq[Raster]): (Double, Double) = {
    var lo = 0.0; var hi = 1.0; var seen = false
    for (r <- images; k <- r.state.indices if r.state(k) == Raster.Value) {
      val v = r.values(k)
      if (!seen) { lo = v; hi = v; seen = true }
      else {
        if (SQLOrderingUtil.compareDoubles(v, lo) < 0) lo = v
        if (SQLOrderingUtil.compareDoubles(v, hi) > 0) hi = v
      }
    }
    (lo, hi)
  }

  /** Executor side: one partial raster per image present in the partition.
    * Rows are (variable, day, y, x, value); one image's rows usually arrive
    * together (a grid scan partition is one (file, time step)), so the key
    * lookup runs once per image run, not per row.
    */
  private def foldCells(rows: Iterator[InternalRow]): Iterator[Raster] = {
    val images = new java.util.LinkedHashMap[(String, String), CellBuffer]()
    var lastVar: UTF8String = null
    var lastDay: UTF8String = null
    var buf: CellBuffer = null
    rows.foreach { r =>
      val v = r.getUTF8String(0); val d = r.getUTF8String(1)
      if (buf == null || v != lastVar || d != lastDay) {
        // the row is reused by the scan: keep copies, not views of it
        lastVar = v.clone(); lastDay = d.clone()
        buf = images.computeIfAbsent((lastVar.toString, lastDay.toString),
          k => new CellBuffer(k._1, k._2))
      }
      if (r.isNullAt(4)) buf.add(r.getInt(2), r.getInt(3), Raster.Null, 0.0)
      else buf.add(r.getInt(2), r.getInt(3), Raster.Value, r.getDouble(4))
    }
    import scala.jdk.CollectionConverters._
    images.values().asScala.iterator.map(_.raster())
  }

  /** One image's cells in arrival order, until the partition ends. */
  private final class CellBuffer(variable: String, day: String) {
    private val ys = new scala.collection.mutable.ArrayBuilder.ofInt
    private val xs = new scala.collection.mutable.ArrayBuilder.ofInt
    private val states = new scala.collection.mutable.ArrayBuilder.ofByte
    private val values = new scala.collection.mutable.ArrayBuilder.ofDouble

    def add(y: Int, x: Int, state: Byte, value: Double): Unit = {
      ys += y; xs += x; states += state; values += value
    }

    def raster(): Raster = {
      val (y, x, st, v) = (ys.result(), xs.result(), states.result(), values.result())
      val out = Raster.blank(variable, day, y.min, x.min, y.max - y.min + 1, x.max - x.min + 1)
      for (i <- y.indices) out.set(y(i), x(i), st(i), v(i))
      out
    }
  }

  /** An image's partial raster: the cells of the bbox
    * `[y0, y0 + h) × [x0, x0 + w)` row-major from `y0` up, each
    * [[Raster.Absent]] (no cell selected), [[Raster.Null]] (a NULL value) or
    * [[Raster.Value]] (then `values` holds it — NaN included).
    */
  private[render] final class Raster(val variable: String, val day: String,
      val y0: Int, val x0: Int, val h: Int, val w: Int,
      val state: Array[Byte], val values: Array[Double]) extends Serializable {
    def name: String = pngName(variable, day)

    private[RenderSink] def set(y: Int, x: Int, st: Byte, v: Double): Unit = {
      val k = (y - y0) * w + (x - x0)
      state(k) = st; values(k) = v
    }

    /** The union of two partial rasters of the same image. */
    def merge(o: Raster): Raster = {
      val ny0 = math.min(y0, o.y0); val nx0 = math.min(x0, o.x0)
      val out = Raster.blank(variable, day, ny0, nx0,
        math.max(y0 + h, o.y0 + o.h) - ny0, math.max(x0 + w, o.x0 + o.w) - nx0)
      for (r <- Seq(this, o); i <- 0 until r.h; j <- 0 until r.w) {
        val k = i * r.w + j
        if (r.state(k) != Raster.Absent) out.set(r.y0 + i, r.x0 + j, r.state(k), r.values(k))
      }
      out
    }

    /** PNG with row 0 at the top = northmost latitude, as [[writePngs]]. */
    def png(lo: Double, step: Double, nbins: Int, ramp: Array[Int]): Array[Byte] = {
      val px = new Array[Int](w * h)
      for (i <- 0 until h; j <- 0 until w) {
        val k = i * w + j
        px((h - 1 - i) * w + j) =
          if (state(k) == Raster.Value) ramp(GridQuery.binOf(values(k), lo, step, nbins))
          else Nodata
      }
      Png.encode(w, h, px)
    }
  }

  private[render] object Raster {
    val Absent: Byte = 0
    val Null: Byte = 1
    val Value: Byte = 2

    def blank(variable: String, day: String, y0: Int, x0: Int, h: Int, w: Int): Raster =
      new Raster(variable, day, y0, x0, h, w, new Array[Byte](h * w), new Array[Double](h * w))
  }
}
