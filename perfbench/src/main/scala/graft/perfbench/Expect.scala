package graft.perfbench

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.render.RenderSink

/** Expected serving outputs, computed from the closed-form field alone, and
  * the checks that compare a response against them. Each check returns None
  * when the response is right, or a one-line reason.
  */
object Expect {
  import Corpus._

  val NBins = 10

  /** Even-odd ray cast; ring is closed (lon, lat) pairs. */
  def inside(lat: Double, lon: Double, ring: Seq[(Double, Double)]): Boolean = {
    var in = false
    for (i <- 0 until ring.length - 1) {
      val (x1, y1) = ring(i); val (x2, y2) = ring(i + 1)
      if ((y1 > lat) != (y2 > lat) && lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1) in = !in
    }
    in
  }

  /** The grid cells a polygon selects, with their bounding box. */
  final case class Mask(cells: Seq[(Int, Int)]) {
    val set: Set[(Int, Int)] = cells.toSet
    def isEmpty: Boolean = cells.isEmpty
    lazy val y0: Int = cells.map(_._1).min; lazy val y1: Int = cells.map(_._1).max
    lazy val x0: Int = cells.map(_._2).min; lazy val x1: Int = cells.map(_._2).max
  }

  def mask(ring: Seq[(Double, Double)]): Mask = {
    val latLo = ring.map(_._2).min; val latHi = ring.map(_._2).max
    val lonLo = ring.map(_._1).min; val lonHi = ring.map(_._1).max
    Mask(for {
      y <- 0 until Y if lats(y) >= latLo && lats(y) <= latHi
      x <- 0 until X if lons(x) >= lonLo && lons(x) <= lonHi
      if inside(lats(y), lons(x), ring)
    } yield (y, x))
  }

  final case class FetchOut(names: Set[String], mask: Mask, lo: Double, hi: Double) {
    def selectedRows(req: Fetch): Long =
      mask.cells.size.toLong * req.vars.size * (req.day1 - req.day0 + 1)
  }

  def fetch(f: Field, req: Fetch): FetchOut = {
    val m = mask(req.ring)
    val vi = req.vars.map(Vars.indexOf(_))
    val values = for {
      v <- vi; t <- req.day0 to req.day1; (y, x) <- m.cells
      c <- f.cell(t, y, x, v)
    } yield c
    val (lo, hi) = if (values.isEmpty) (0.0, 1.0) else (values.min, values.max)
    val names =
      if (m.isEmpty) Set.empty[String]
      else (for (v <- req.vars; t <- req.day0 to req.day1)
        yield s"grid_${v}_${day(t)}.png").toSet
    FetchOut(names, m, lo, hi)
  }

  def unzip(body: Array[Byte]): Seq[(String, Array[Byte])] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(body))
    Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zis.readAllBytes()).toList
  }

  /** PNG width and height from the IHDR chunk. */
  def pngSize(png: Array[Byte]): (Int, Int) = {
    val b = java.nio.ByteBuffer.wrap(png)
    (b.getInt(16), b.getInt(20))
  }

  /** Entry names, every image's size and — when `pixels` — every pixel. */
  def checkFetch(f: Field, req: Fetch, body: Array[Byte], pixels: Boolean): Option[String] = {
    val exp = fetch(f, req)
    val entries = unzip(body)
    val names = entries.map(_._1)
    if (names.distinct.size != names.size) return Some("duplicate zip entries")
    if (names.toSet != exp.names)
      return Some(s"zip entries ${names.sorted.take(3)}… != expected ${exp.names.toSeq.sorted.take(3)}…")
    if (exp.mask.isEmpty) return None
    val m = exp.mask
    val w = m.x1 - m.x0 + 1; val h = m.y1 - m.y0 + 1
    val ramp = RenderSink.blueToRed(NBins)
    val step = math.max((exp.hi - exp.lo) / NBins, 1e-9)
    for ((name, png) <- entries) {
      if (pngSize(png) != ((w, h))) return Some(s"$name: size ${pngSize(png)} != ($w, $h)")
      if (pixels) {
        val v = Vars.indexOf(name.split('_')(1))
        val t = java.time.temporal.ChronoUnit.DAYS.between(Epoch,
          java.time.LocalDate.parse(name.stripSuffix(".png").split('_')(2))).toInt
        val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(png))
        for (row <- 0 until h; col <- 0 until w) {
          val y = m.y1 - row; val x = m.x0 + col
          val want =
            if (!m.set.contains((y, x))) RenderSink.Nodata
            else f.cell(t, y, x, v) match {
              case None => RenderSink.Nodata
              case Some(value) =>
                val bin = math.min(math.max(math.floor((value - exp.lo) / step).toLong, 0L),
                  NBins - 1L).toInt
                ramp(bin)
            }
          val got = img.getRGB(col, row) & 0xFFFFFF
          if (got != want) return Some(f"$name: pixel ($col, $row) = $got%06x, expected $want%06x")
        }
      }
    }
    None
  }

  /** One result row of a box aggregate: key, count, sum (None when n = 0). */
  final case class SqlRow(k: String, n: Long, s: Option[Double])

  def sql(f: Field, req: Sql): Seq[SqlRow] = {
    val (latLo, latHi, lonLo, lonHi) = req.bounds
    val ys = (0 until Y).filter(y => lats(y) >= latLo && lats(y) <= latHi)
    val xs = (0 until X).filter(x => lons(x) >= lonLo && lons(x) <= lonHi)
    if (ys.isEmpty || xs.isEmpty) return Nil
    val v = Vars.indexOf(req.variable)
    (req.day0 to req.day1).map { t =>
      val vals = for (y <- ys; x <- xs; c <- f.cell(t, y, x, v)) yield c
      SqlRow(day(t), vals.size.toLong, if (vals.isEmpty) None else Some(vals.sum))
    }
  }

  def checkSql(f: Field, req: Sql, body: Array[Byte]): Option[String] = {
    val j = JsonMethods.parse(new String(body, "UTF-8"))
    val rows = (j \ "rows") match {
      case JArray(rs) => rs
      case other => return Some(s"no rows array: ${other.toString.take(80)}")
    }
    val exp = sql(f, req)
    if (rows.size != exp.size) return Some(s"${rows.size} rows, expected ${exp.size}")
    for ((r, e) <- rows.zip(exp)) {
      val k = (r \ "k") match { case JString(s) => s; case JInt(i) => i.toString; case o => o.toString }
      val n = (r \ "n") match { case JInt(i) => i.toLong; case _ => -1L }
      val s = (r \ "s") match { case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble); case _ => None }
      val m = (r \ "m") match { case JDouble(d) => Some(d); case JInt(i) => Some(i.toDouble); case _ => None }
      if (k != e.k || n != e.n || s != e.s || m != e.s.map(_ / e.n))
        return Some(s"row ($k, $n, $s, $m) != expected (${e.k}, ${e.n}, ${e.s})")
    }
    None
  }

  /** The grid extent: `[[latMin, lonMin], [latMax, lonMax]]`. */
  def checkBoundary(body: Array[Byte]): Option[String] = {
    val nums = """-?\d+(\.\d+)?(E-?\d+)?""".r.findAllIn(new String(body, "UTF-8"))
      .map(_.toDouble).toSeq
    val exp = Seq(lats.min, lons.min, lats.max, lons.max)
    if (nums == exp) None else Some(s"boundary $nums != $exp")
  }
}
