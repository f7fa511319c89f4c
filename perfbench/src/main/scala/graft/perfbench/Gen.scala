package graft.perfbench

import java.time.LocalDate
import java.util.Locale

import graft.sources.Hdf5

/** The serving corpus: three daily variables over 30 days on a 100×150
  * grid at 0.05°, one NetCDF-4 file per variable, chunked (1, 40, 40) with
  * shuffle + deflate the way CMIP6-derived archives ship. A month, not a
  * year, keeps the three set-ups of a run affordable: the first catalog
  * materialization scans the whole corpus. Every value and every fill cell
  * is closed-form in (t, y, x, variable, seed), so expected outputs are
  * computed here without Spark.
  */
object Corpus {
  val Vars: Seq[String] = Seq("tasmax", "tasmin", "pr")
  val T = 30; val Y = 100; val X = 150
  val Chunk: Seq[Int] = Seq(1, 40, 40)
  val Lat0 = 40.0; val Lon0 = -80.0; val Step = 0.05
  val Epoch: LocalDate = LocalDate.of(2015, 1, 1)
  val Fill = -999.0

  // the coordinate arrays exactly as written: expected masks and extents use
  // these very doubles
  val lats: Array[Double] = Array.tabulate(Y)(y => Lat0 + y * Step)
  val lons: Array[Double] = Array.tabulate(X)(x => Lon0 + x * Step)

  def day(t: Int): String = Epoch.plusDays(t.toLong).toString

  /** Closed-form field. Values are multiples of 0.25 in [-20, 40), so they
    * are exact in float32 and their sums are exact in double whatever the
    * summation order.
    */
  final case class Field(seed: Long) {
    private val s = Math.floorMod(seed, 997L).toInt
    def isFill(t: Int, y: Int, x: Int, v: Int): Boolean =
      Math.floorMod(t * 5 + y * 3 + x * 7 + v * 11 + s, 29) == 0
    def value(t: Int, y: Int, x: Int, v: Int): Double =
      Math.floorMod(t * 3 + y * 2 + x + v * 37 + s, 240) / 4.0 - 20.0
    /** The cell as the grid table serves it: None for a fill cell. */
    def cell(t: Int, y: Int, x: Int, v: Int): Option[Double] =
      if (isFill(t, y, x, v)) None else Some(value(t, y, x, v))
  }

  /** Write the corpus into `dir`; returns the bytes written. */
  def write(dir: java.io.File, seed: Long): Long = {
    import Hdf5._
    dir.mkdirs()
    val f = Field(seed)
    Vars.zipWithIndex.map { case (name, v) =>
      val data = new Array[Double](T * Y * X)
      var i = 0
      for (t <- 0 until T; y <- 0 until Y; x <- 0 until X) {
        data(i) = if (f.isFill(t, y, x, v)) Fill else f.value(t, y, x, v)
        i += 1
      }
      val path = new java.io.File(dir, s"$name.nc4")
      Hdf5.write(path.getPath, Seq(
        WDataset("time", I32, Seq(T.toLong), Array.tabulate(T)(_.toDouble),
          strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "time",
            "units" -> s"days since $Epoch")),
        WDataset("lat", F64, Seq(Y.toLong), lats,
          strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lat",
            "long_name" -> "latitude")),
        WDataset("lon", F64, Seq(X.toLong), lons,
          strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lon",
            "long_name" -> "longitude")),
        WDataset(name, F32, Seq(T.toLong, Y.toLong, X.toLong), data,
          strAttrs = Seq("long_name" -> name),
          numAttrs = Seq(("_FillValue", F32, Seq(Fill))),
          refAttrs = Seq("DIMENSION_LIST" -> Seq(Seq("time"), Seq("lat"), Seq("lon"))),
          chunkDims = Some(Chunk),
          filters = Seq(Shuffle(F32.size), Deflate(4)))))
      path.length()
    }.sum
  }

  /** Chunks per variable file. */
  val ChunksPerVar: Int =
    T * ((Y + Chunk(1) - 1) / Chunk(1)) * ((X + Chunk(2) - 1) / Chunk(2))

  /** Chunks one (days × y-range × x-range) section covers, per variable. */
  def chunksCovered(days: Int, y0: Int, y1: Int, x0: Int, x1: Int): Long =
    if (y1 < y0 || x1 < x0) 0L
    else days.toLong * (y1 / Chunk(1) - y0 / Chunk(1) + 1) *
      (x1 / Chunk(2) - x0 / Chunk(2) + 1)
}

/** Requests the serving workloads send. */
sealed trait Req { def route: String }

/** `POST /fetchResult`: ring is (lon, lat) pairs, closed. Days inclusive. */
final case class Fetch(vars: Seq[String], day0: Int, day1: Int,
    ring: Seq[(Double, Double)]) extends Req {
  def route = "fetch"
  def body: String = {
    val coords = ring.map { case (lo, la) => s"[$lo, $la]" }.mkString(", ")
    s"""{"selectDate": "${Corpus.day(day0)},${Corpus.day(day1)}", """ +
      s""""variables": "${vars.mkString(",")}", """ +
      s""""geoJson": {"type": "Polygon", "coordinates": [[$coords]]}}"""
  }
}

/** `POST /sql` over `grid_scan`: a daily series of one variable's box
  * aggregate. Bounds are 4-decimal literals; [[bounds]] are the doubles
  * Spark compares against.
  */
final case class Sql(variable: String, day0: Int, day1: Int,
    latLo: String, latHi: String, lonLo: String, lonHi: String) extends Req {
  def route = "sql"
  def bounds: (Double, Double, Double, Double) =
    (latLo.toDouble, latHi.toDouble, lonLo.toDouble, lonHi.toDouble)
  def query(dir: String): String =
    "SELECT date_format(ts, 'yyyy-MM-dd') AS k, count(value) AS n, sum(value) AS s, " +
      s"avg(value) AS m FROM grid_scan('$dir') WHERE variable = '$variable' " +
      s"AND ts >= TIMESTAMP '${Corpus.day(day0)} 00:00:00' " +
      s"AND ts <= TIMESTAMP '${Corpus.day(day1)} 23:59:59' " +
      s"AND lat >= $latLo AND lat <= $latHi AND lon >= $lonLo AND lon <= $lonHi " +
      s"GROUP BY 1 ORDER BY 1"
}

case object Boundary extends Req { def route = "boundary" }

/** The seeded request stream of serve_small. It comes in blocks of
  * [[Decks.BlockSize]] requests with a fixed route order, whose parameters
  * are stratified over their ranges: only which request gets which stratum
  * and the jitter inside each stratum come from the seed, so any window of
  * a few blocks carries nearly the same work under every seed. Block b is
  * drawn from (seed, b) alone, so the stream is endless and no request
  * repeats.
  */
object Decks {
  private def fmt(d: Double): String = String.format(Locale.ROOT, "%.4f", Double.box(d))

  /** About twenty fixed "cities": request centres for the small workload,
    * the same for every seed.
    */
  val Cities: IndexedSeq[(Double, Double)] = {
    val r = new java.util.Random(20151L)
    IndexedSeq.fill(20)((
      Corpus.Lat0 + 0.4 + r.nextDouble() * (Corpus.Y * Corpus.Step - 0.8),
      Corpus.Lon0 + 0.4 + r.nextDouble() * (Corpus.X * Corpus.Step - 0.8)))
  }

  /** Zipf(1) draw over the cities, so small requests share work. */
  def city(r: java.util.Random): (Double, Double) = {
    val w = Cities.indices.map(i => 1.0 / (i + 1))
    var u = r.nextDouble() * w.sum
    var i = 0
    while (i < w.length - 1 && u >= w(i)) { u -= w(i); i += 1 }
    Cities(i)
  }

  /** Convex n-gon: vertices on a circle at sorted random angles, closed. */
  def ring(r: java.util.Random, lat: Double, lon: Double, diameter: Double,
      n: Int): Seq[(Double, Double)] = {
    val angles = Seq.fill(n)(r.nextDouble() * 2 * math.Pi).sorted
    val pts = angles.map(a => (lon + diameter / 2 * math.cos(a), lat + diameter / 2 * math.sin(a)))
    pts :+ pts.head
  }

  /** `n` values stratified over [lo, hi): one per equal-width stratum, in
    * seeded order.
    */
  def strata(r: java.util.Random, n: Int, lo: Double, hi: Double): Seq[Double] =
    shuffle(r, (0 until n).map(i => lo + (hi - lo) * (i + r.nextDouble()) / n))

  def shuffle[A](r: java.util.Random, xs: Seq[A]): Seq[A] = new scala.util.Random(r).shuffle(xs)

  private def days(r: java.util.Random, len: Int): (Int, Int) = {
    val d0 = r.nextInt(Corpus.T - len + 1)
    (d0, d0 + len - 1)
  }

  /** The routes of every block, in order: 60% fetch, 20% `/sql`, 20%
    * `/getBoundary`. A fixed order keeps the mix of any stretch of the
    * stream, and so of any window, the same under every seed.
    */
  val Routes: IndexedSeq[String] =
    IndexedSeq("fetch", "sql", "fetch", "boundary", "fetch", "fetch", "sql", "fetch", "boundary", "fetch")
  val BlockSize: Int = Routes.size

  /** Block `b` of the serve_small stream. Fetch parameters are stratified
    * over the block's six fetches and `/sql` ones over its two.
    */
  def small(seed: Long, b: Long): IndexedSeq[Req] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + b * 0xBF58476D1CE4E5B9L + 1)
    val nFetch = Routes.count(_ == "fetch"); val nSql = Routes.count(_ == "sql")
    val diam = strata(r, nFetch, 0.1, 0.5)
    val lens = strata(r, nFetch, 1, 8).map(_.toInt)
    val verts = strata(r, nFetch, 4, 9).map(_.toInt)
    val fetches = (0 until nFetch).map { i =>
      val (cl, co) = city(r)
      val (d0, d1) = days(r, lens(i))
      Fetch(Seq(Corpus.Vars(i % 3)), d0, d1,
        ring(r, cl + (r.nextDouble() - 0.5) * 0.1, co + (r.nextDouble() - 0.5) * 0.1,
          diam(i), verts(i)))
    }.iterator
    val sides = strata(r, nSql, 0.1, 0.25)
    val sqlLens = strata(r, nSql, 7, 29).map(_.toInt)
    val sqls = (0 until nSql).map { i =>
      val (cl, co) = city(r)
      val (d0, d1) = days(r, sqlLens(i))
      val h = sides(i) / 2
      Sql(Corpus.Vars(Math.floorMod(b * nSql + i, 3L).toInt), d0, d1, fmt(cl - h), fmt(cl + h), fmt(co - h), fmt(co + h))
    }.iterator
    Routes.map {
      case "fetch" => fetches.next()
      case "sql" => sqls.next()
      case _ => Boundary
    }
  }
}

/** The serve_small stream as one endless sequence: request `i` is entry
  * `i mod BlockSize` of block `floor(i / BlockSize)`. Blocks are drawn on
  * first use. Requests at `i >= 0` come from the seed; those at `i < 0`, for
  * set-up and warm-up, are the same under every seed: the requests a JVM
  * first serves shape what the JIT compiles, and runs then differ in speed.
  */
final class RequestStream(seed: Long) {
  private val blocks = new java.util.concurrent.ConcurrentHashMap[Long, IndexedSeq[Req]]()
  def apply(i: Long): Req = {
    val b = Math.floorDiv(i, Decks.BlockSize.toLong)
    blocks.computeIfAbsent(b, _ => Decks.small(if (b < 0) 0L else seed, b))(
      Math.floorMod(i, Decks.BlockSize.toLong).toInt)
  }
}
