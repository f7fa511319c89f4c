package graft.domain

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.functions.GeoFunctions.point_in_polygon

/** The NetCDF raster domain layer (SURVEY.md §1.4 / Phase 2): the reference's
  * data model — dense `[time, y, x]` float cubes with lat/lon coordinate
  * arrays and `_FillValue` NODATA (`Gddp.scala:121-191`) — re-expressed as a
  * tall relational cell table `(file, variable, ts, y, x, lat, lon, value)`
  * with NODATA as SQL NULL. Every reference operation then becomes a §2A
  * relational operator, and partitioning by (file, ts) scales the model to
  * arbitrarily many files.
  *
  * The deterministic synthetic grid below stands in for NetCDF ingest (no
  * NetCDF-Java in this environment): 2 variables × 8 days × 20×30 cells over
  * the reference's Five-Lakes-area extent, values closed-form in (t,y,x) so
  * the DuckDB oracle regenerates the identical table with `range()` — giving
  * the domain layer full oracle coverage, not just rows-only checks.
  */
object GridData {
  val T = 8; val Y = 20; val X = 30
  val PerVar: Int = T * Y * X // 4800
  val N: Int = 2 * PerVar

  /** The grid's coordinate affine — THE single definition; the generator, the
    * DSv2 readers, and the pushed-aggregate bounds all reference these (the
    * DuckDB oracle string interpolates them), so they cannot drift apart.
    */
  val Lat0 = 44.0; val DLat = 0.05
  val Lon0 = -80.0; val DLon = 0.05

  /** The reference's checked-in query polygon (`geojson.json:1`, Kawartha
    * Lakes rectangle), as (lon, lat) pairs.
    */
  val kawarthaRing: Seq[(Double, Double)] = Seq(
    (-79.317877, 44.292647), (-79.317877, 44.489801),
    (-78.987601, 44.489801), (-78.987601, 44.292647), (-79.317877, 44.292647))

  /** Synthetic cells: a single `spark.range` projection — no shuffle, fully
    * codegen'd, and partition-parallel like a real multi-file scan.
    */
  def cells(s: SparkSession): DataFrame =
    s.range(N).select(
      expr(s"id DIV $PerVar").as("v"),
      expr(s"(id % $PerVar) DIV ${Y * X}").as("t"),
      expr(s"((id % $PerVar) % ${Y * X}) DIV $X").as("y"),
      expr(s"id % $X").as("x"))
      .select(
        concat(lit("f"), col("v").cast("string"), lit("_"),
          expr("CAST(t DIV 4 AS STRING)")).as("file"),
        when(col("v") === 0, "tasmax").otherwise("tasmin").as("variable"),
        expr("timestampadd(HOUR, CAST(t * 24 AS INT), TIMESTAMP '1990-01-01 00:00:00')")
          .as("ts"),
        col("y").cast("int").as("y"), col("x").cast("int").as("x"),
        (lit(Lat0) + col("y") * DLat).as("lat"),
        (lit(Lon0) + col("x") * DLon).as("lon"),
        when((col("t") + col("y") + col("x")) % 17 === 0, lit(null))
          .otherwise(((col("t") * 31 + col("y") * 7 + col("x") * 13 + col("v") * 5) % 100)
            .cast("double") / 2.0d - 10.0d).as("value"))

  /** DuckDB twin of `cells` for oracle SQL (prefix every domain oracle). */
  val oracleCells: String =
    s"""WITH raw AS (
       |  SELECT CAST(range AS BIGINT) AS id,
       |         range // $PerVar AS v,
       |         (range % $PerVar) // ${Y * X} AS t,
       |         ((range % $PerVar) % ${Y * X}) // $X AS y,
       |         range % $X AS x
       |  FROM range($N)),
       |cells AS (
       |  SELECT concat('f', v, '_', t // 4) AS file,
       |         CASE WHEN v = 0 THEN 'tasmax' ELSE 'tasmin' END AS variable,
       |         TIMESTAMP '1990-01-01 00:00:00' + t * 24 * INTERVAL '1 hour' AS ts,
       |         CAST(y AS INT) AS y, CAST(x AS INT) AS x,
       |         44.0 + y * 0.05 AS lat,
       |         -80.0 + x * 0.05 AS lon,
       |         CASE WHEN (t + y + x) % 17 = 0 THEN NULL
       |              ELSE CAST((t * 31 + y * 7 + x * 13 + v * 5) % 100 AS DOUBLE) / 2.0 - 10.0
       |         END AS value
       |  FROM raw)
       |""".stripMargin
}

/** The reference's end-to-end query surface (`main.py:99-110` →
  * `Gddp.scala:102-239`): select variables, a date range, and a polygon;
  * prune files, slice time and space, mask the polygon, and derive quantile
  * color breaks + per-timestep bin counts for rendering.
  */
final case class QueryRequest(
  variables: Seq[String],
  start: String, end: String, // inclusive dates, yyyy-MM-dd
  polygon: Seq[(Double, Double)])

object GridQuery {
  import GridData._

  /** F1: file-catalog pruning by time-interval overlap (`Gddp.scala:132-138`).
    * The catalog is metadata-sized (one row per file) — at 100 TB it is the
    * only full enumeration; cells of pruned files are never scanned.
    *
    * Cached per (session, source plan): the catalog is ingest-time metadata —
    * in a real deployment it is maintained by a catalog service, not
    * recomputed per query — so every query against the same immutable source
    * reuses one dim-sized cached table instead of paying the enumeration
    * aggregate again (q_grid_render's round-2 constant overhead).
    */
  private val catalogCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Drop every cached catalog (unpersisting the backing blocks). Call after
    * appending files to a cataloged source — the cache assumes sources are
    * immutable between invalidations, the same contract a real catalog
    * service's refresh carries.
    */
  def invalidateCatalogCache(): Unit = {
    catalogCache.values().forEach(df => df.unpersist())
    catalogCache.clear()
  }

  def catalog(cellsDf: DataFrame): DataFrame = {
    // bounded: rebuilding a dim-sized catalog is cheap, pinned blocks for a
    // JVM lifetime of distinct plans are not
    if (catalogCache.size > 64) invalidateCatalogCache()
    // FULL canonicalized plan text, not a 32-bit hash: two distinct source
    // plans colliding would silently serve the wrong catalog. Catalog
    // sources are scans, so the canonical string is short and stable.
    val key = s"${System.identityHashCode(cellsDf.sparkSession)}:" +
      cellsDf.queryExecution.analyzed.canonicalized.toString
    catalogCache.computeIfAbsent(key, _ =>
      cellsDf.groupBy("file", "variable")
        .agg(min("ts").as("ts_min"), max("ts").as("ts_max"))
        .cache())
  }

  private def tsStart(req: QueryRequest): Column =
    lit(req.start + " 00:00:00").cast("timestamp")
  private def tsEnd(req: QueryRequest): Column =
    lit(req.end + " 23:59:59").cast("timestamp")

  /** The composed reference query: F1 → P1 → F2 → F3 → F4 (SURVEY.md §2A
    * "Query-level composition"). The bbox (polygon envelope) predicate goes
    * first so it can push down to the scan; the exact polygon mask runs as a
    * codegen'd expression on the survivors.
    *
    * F1's file pruning follows the input. A cell table with a `file` column
    * (the generator) joins the (file, variable) catalog. A DSv2 grid scan
    * has no such column and prunes files and time steps itself from the
    * pushed `variable IN (…)` and ts bounds, so it gets the plain filter —
    * no catalog aggregate, no join, no broadcast job.
    */
  def select(cellsDf: DataFrame, req: QueryRequest): DataFrame = {
    val lons = req.polygon.map(_._1); val lats = req.polygon.map(_._2)
    val pruned =
      if (cellsDf.columns.contains("file")) {
        val keep = catalog(cellsDf)
          .filter(col("variable").isin(req.variables: _*) &&
            col("ts_max") >= tsStart(req) && col("ts_min") <= tsEnd(req))
          .select("file", "variable")
        cellsDf.join(broadcast(keep), Seq("file", "variable")) // prune: catalog is dim-sized
      } else cellsDf.filter(col("variable").isin(req.variables: _*))
    pruned
      .filter(col("ts").between(tsStart(req), tsEnd(req)))
      .filter(col("lat").between(lats.min, lats.max) &&
        col("lon").between(lons.min, lons.max))
      .filter(point_in_polygon(col("lat"), col("lon"), req.polygon))
  }

  /** A1: per-variable quantile breaks over the selection (exact form; the
    * sketch form is percentile_approx — see Aggregates.qQuantileApprox).
    */
  def quantileBreaks(sel: DataFrame, probs: Seq[Double]): DataFrame = {
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      round(expr(s"percentile(value, $p)"), 4).as(s"b$i")
    }
    sel.groupBy("variable").agg(aggs.head, aggs.tail: _*)
  }

  /** R1: color binning with fixed breaks (value → bin index). */
  def colorBin(value: Column, lo: Double, step: Double, nbins: Int): Column =
    least(greatest(floor((value - lo) / step), lit(0L)), lit(nbins - 1L)).cast("int")

  /** [[colorBin]] on one non-NULL value, with Spark's arithmetic: `floor` of
    * a double is `(long) Math.floor` (NaN → 0, saturating), then the clamp.
    * `step` is never 0 (callers floor it at 1e-9), so the division cannot
    * take Spark's divide-by-zero NULL branch.
    */
  def binOf(value: Double, lo: Double, step: Double, nbins: Int): Int =
    math.min(math.max(math.floor((value - lo) / step).toLong, 0L), nbins - 1L).toInt

  /** Per-timestep bin histogram — the relational form of "render one PNG per
    * time step" (`Gddp.scala:232-236`): everything up to the pixel write.
    */
  def renderPlan(sel: DataFrame, lo: Double, step: Double, nbins: Int): DataFrame =
    sel.filter(col("value").isNotNull)
      .groupBy(col("variable"), col("ts"), colorBin(col("value"), lo, step, nbins).as("bin"))
      .agg(count(lit(1)).as("n"))

  /** L1: nearest grid cell to a (lat, lon) point — argmin of squared
    * Euclidean distance with the reference's first-index tie-break
    * (`Gddp.scala:25-38`). Runs on the distinct coord table (dim-sized).
    */
  def nearest(cellsDf: DataFrame, lat: Double, lon: Double): DataFrame = {
    val d2 = pow(col("lat") - lat, 2) + pow(col("lon") - lon, 2)
    cellsDf.select("y", "x", "lat", "lon").distinct()
      .select(col("y"), col("x"), col("lat"), col("lon"), round(d2, 6).as("dist2"))
      .orderBy(d2, col("y"), col("x"))
      .limit(1)
  }
}

/** Declared domain queries with full DuckDB oracles (the generator is
  * closed-form, so the oracle regenerates the identical grid).
  */
object GridQueries extends QueryModule {
  import GridData._

  private val req = QueryRequest(Seq("tasmax"), "1990-01-03", "1990-01-06", kawarthaRing)

  private def qGridSelect(s: SparkSession, d: String): DataFrame =
    GridQuery.select(cells(s), req)
      .select("ts", "y", "x", "lat", "lon", "value")
      .orderBy("ts", "y", "x")

  /** The domain question in PURE SQL: the cells table registered as a view
    * and queried with `spark.sql` — the SQL-first user surface. The view is
    * transparent to Catalyst, so the y/x predicates prune inside the same
    * codegen'd projection the DataFrame form uses; zero DataFrame code in
    * the query itself.
    */
  private def qGridSqlSurface(s: SparkSession, d: String): DataFrame = {
    cells(s).createOrReplaceTempView("graft_grid_cells_v")
    s.sql(
      """SELECT variable, CAST(ts AS DATE) AS day,
        |  count(value) AS n_obs, round(avg(value), 4) AS avg_val
        |FROM graft_grid_cells_v
        |WHERE y BETWEEN 4 AND 12 AND x < 16
        |GROUP BY variable, CAST(ts AS DATE)
        |ORDER BY variable, day""".stripMargin)
  }

  private def qGridCatalog(s: SparkSession, d: String): DataFrame =
    GridQuery.catalog(cells(s))
      .filter(col("ts_max") >= lit("1990-01-05 00:00:00").cast("timestamp"))
      .orderBy("file", "variable")

  private def qGridQuantile(s: SparkSession, d: String): DataFrame =
    GridQuery.quantileBreaks(cells(s), Seq(0.1, 0.5, 0.9)).orderBy("variable")

  private def qGridRender(s: SparkSession, d: String): DataFrame =
    GridQuery.renderPlan(GridQuery.select(cells(s), req), lo = -10.0, step = 5.0, nbins = 10)
      .orderBy("variable", "ts", "bin")

  private def qGridNearest(s: SparkSession, d: String): DataFrame =
    GridQuery.nearest(cells(s), lat = 44.2931, lon = -79.0)

  /** F4 proper: a genuinely non-convex polygon mask (L-shaped cut of the
    * grid extent) through the ray-casting expression. The ring is rectilinear,
    * so its interior is expressible in the oracle as a union of two open
    * bboxes; vertices sit on half-cell offsets (.025 where the grid steps by
    * .05 from .00) so no grid point ever lies ON an edge — boundary semantics
    * cannot differ between the ray-cast and the bbox formulation.
    * Non-convex correctness vs brute force stays covered in GeoSpec.
    */
  private val lRing: Seq[(Double, Double)] = Seq(
    (-79.975, 44.025), (-78.825, 44.025), (-78.825, 44.525), (-79.425, 44.525),
    (-79.425, 44.925), (-79.975, 44.925), (-79.975, 44.025))

  private def qPolygon(s: SparkSession, d: String): DataFrame =
    cells(s)
      .filter(col("variable") === "tasmax" &&
        graft.functions.GeoFunctions.point_in_polygon(col("lat"), col("lon"), lRing))
      .groupBy("ts")
      .agg(count(lit(1)).as("n_cells"), round(avg("value"), 4).as("mean_v"))
      .orderBy("ts")

  /** Zonal statistics — N polygon zones aggregated in ONE scan (the
    * reference answers one polygon per request; zonal stats is the
    * generalization every raster OLAP needs). Zone assignment is a CASE over
    * the ray-cast masks; the filter's pip predicates get envelope conjuncts
    * from PolygonEnvelopeRule, so the scan is bounded by the union bbox.
    * Zones here are rectilinear at half-cell offsets (same construction as
    * `lRing`) so the oracle can state them as bboxes.
    */
  private val zoneA: Seq[(Double, Double)] = Seq( // west block
    (-79.975, 44.025), (-79.425, 44.025), (-79.425, 44.925),
    (-79.975, 44.925), (-79.975, 44.025))
  private val zoneB: Seq[(Double, Double)] = Seq( // east block, disjoint
    (-79.375, 44.025), (-78.825, 44.025), (-78.825, 44.475),
    (-79.375, 44.475), (-79.375, 44.025))

  private def qZonalStats(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GeoFunctions.point_in_polygon
    val inA = point_in_polygon(col("lat"), col("lon"), zoneA)
    val inB = point_in_polygon(col("lat"), col("lon"), zoneB)
    cells(s)
      .filter(col("variable") === "tasmax" && (inA || inB))
      .select(col("ts"), when(inA, "west").otherwise("east").as("zone"), col("value"))
      .groupBy("ts", "zone")
      .agg(count(col("value")).as("n_obs"), round(avg("value"), 4).as("mean_v"))
      .orderBy("ts", "zone")
  }

  /** Regrid to a coarser resolution: 2×2 cell blocks aggregate to one output
    * cell (mean + sample count) — the downsampling step of any raster
    * pyramid. Pure partial+final aggregation; no shuffle beyond |groups|.
    */
  private def qRegrid(s: SparkSession, d: String): DataFrame =
    cells(s)
      .filter(col("variable") === "tasmax")
      .groupBy(col("ts"), floor(col("y") / 2).cast("int").as("yc"),
        floor(col("x") / 2).cast("int").as("xc"))
      .agg(count(col("value")).as("n_obs"), round(avg("value"), 4).as("mean_v"))
      .orderBy("ts", "yc", "xc")

  /** Temporal coarsening (CDO's weekmean/timselmean): the daily series
    * resampled to ISO-week stats per (variable, cell) — the spatial twin is
    * [[qRegrid]]; together they are the "daily 1 km → weekly 2 km product"
    * job every climate archive runs. One hash aggregate keyed on
    * (variable, period, y, x) with map-side partials; NODATA nulls fall
    * out of avg/min/max and `count(value)` is the per-period observation
    * count. No window, no sort — at 100 TB this is one embarrassingly
    * parallel pass whose shuffle carries only coarsened keys.
    */
  private def qTimeCoarsen(s: SparkSession, d: String): DataFrame =
    cells(s)
      .groupBy(col("variable"), date_trunc("week", col("ts")).as("period"),
        col("y"), col("x"))
      .agg(round(avg("value"), 4).as("mean_val"),
        min("value").as("min_val"), max("value").as("max_val"),
        count(col("value")).as("n_obs"))
      .orderBy("variable", "period", "y", "x")

  /** Consecutive-spell statistics (the ETCCDI CDD/CWD climate-index shape):
    * per cell, the number and maximum length of consecutive-day runs where
    * the value stays below a threshold — gaps-and-islands via the
    * day-index-minus-row-number trick (one window over the cell key, runs
    * collapse in two hash aggregates). NODATA days conservatively break a
    * spell (unknown ≠ dry). Per-cell series are independent, so at 100 TB
    * the single cell-keyed window shuffle is the whole cost.
    */
  private def qSpell(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("variable", "y", "x").orderBy("t")
    cells(s)
      .filter(col("value") < 20 && col("y") < 4 && col("x") < 8)
      .select(col("variable"), col("y"), col("x"),
        datediff(col("ts"), lit("1990-01-01")).as("t"))
      .withColumn("island", col("t") - row_number().over(w))
      .groupBy("variable", "y", "x", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("variable", "y", "x")
      .agg(count(lit(1)).as("n_spells"), max("len").as("max_spell"))
      .orderBy("variable", "y", "x")
  }

  /** Anomaly vs per-cell climatology: value minus that cell's own mean over
    * the time axis — the standard climate-analysis transform. One window
    * partitioned by (variable, y, x): shuffle carries cell keys once.
    */
  private def qAnomaly(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("variable", "y", "x")
    cells(s)
      .filter(col("variable") === "tasmin" && col("y") < 4 && col("x") < 8)
      .select(col("ts"), col("y"), col("x"),
        round(col("value") - avg("value").over(w), 4).as("anomaly"))
      .orderBy("ts", "y", "x")
  }

  /** Gap filling by forward-fill: NODATA cells take the last observed value
    * of their own (variable, y, x) series — the standard sensor-dropout
    * repair before downstream stats. One window shuffle on the cell key;
    * the running `last(ignoreNulls)` is computed incrementally per
    * partition, never materializing the series.
    */
  private def qGapFill(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("variable", "y", "x").orderBy("ts")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    cells(s)
      .filter(col("variable") === "tasmax" && col("y") < 4 && col("x") < 8)
      .select(col("ts"), col("y"), col("x"), col("value"),
        last("value", ignoreNulls = true).over(w).as("filled"))
      .orderBy("ts", "y", "x")
  }

  /** Distributed points-in-polygons spatial JOIN — the many-zones
    * generalization of the single-polygon mask (F4): bucket points by a
    * `cellDeg`-degree grid cell, replicate each zone over the cells its
    * bbox covers, equi-join on the cell key, then exact ray-cast on the
    * candidate pairs. No cartesian/BNLJ anywhere (GeoSpec locks the plan):
    * shuffle is on cell keys, zone replication is bbox-proportional, and
    * each (point, zone) candidate appears exactly once because a point
    * lives in exactly one cell. At 100 TB this is the standard spatial-hash
    * join: both sides partition by cell, the ray-cast runs on the
    * candidate-sized join output only.
    *
    * `zones`: (zone_id, ring `array<double>` of flat lon,lat pairs, closed).
    */
  def spatialJoin(points: DataFrame, zones: DataFrame,
      cellDeg: Double = 0.25): DataFrame = {
    val zb = zones
      .select(col("zone_id"), col("ring"), posexplode(col("ring")))
      .groupBy("zone_id")
      .agg(first("ring").as("ring"),
        min(when(col("pos") % 2 === 1, col("col"))).as("minLat"),
        max(when(col("pos") % 2 === 1, col("col"))).as("maxLat"),
        min(when(col("pos") % 2 === 0, col("col"))).as("minLon"),
        max(when(col("pos") % 2 === 0, col("col"))).as("maxLon"))
    val zcells = zb
      .select(col("zone_id"), col("ring"), col("minLon"), col("maxLon"),
        explode(sequence(floor(col("minLat") / cellDeg).cast("long"),
          floor(col("maxLat") / cellDeg).cast("long"))).as("clat"))
      .select(col("zone_id"), col("ring"), col("clat"),
        explode(sequence(floor(col("minLon") / cellDeg).cast("long"),
          floor(col("maxLon") / cellDeg).cast("long"))).as("clon"))
    points
      .withColumn("clat", floor(col("lat") / cellDeg).cast("long"))
      .withColumn("clon", floor(col("lon") / cellDeg).cast("long"))
      .join(zcells, Seq("clat", "clon"))
      .filter(graft.functions.GeoFunctions.point_in_ring(
        col("lat"), col("lon"), col("ring")))
      .drop("clat", "clon", "ring")
  }

  /** The five query triangles, one constant list feeding BOTH the Spark
    * zones frame and the oracle's VALUES — vertices are off-grid (offset
    * .0137) so no sampled point sits on an edge and the ray-cast and the
    * oracle's sign-test agree everywhere.
    */
  private[graft] val zoneTriangles: Seq[(Long, Seq[(Double, Double)])] = Seq(
    1L -> Seq((-79.9871, 44.0137), (-79.4871, 44.0137), (-79.7371, 44.4637)),
    2L -> Seq((-79.4371, 44.1137), (-78.9871, 44.1137), (-79.2371, 44.5637)),
    3L -> Seq((-78.9371, 44.0137), (-78.5871, 44.2137), (-78.9371, 44.5137)),
    4L -> Seq((-79.9371, 44.5137), (-79.4371, 44.5137), (-79.6871, 44.9137)),
    5L -> Seq((-79.3871, 44.6137), (-78.8871, 44.6137), (-79.1371, 44.9437)))

  private[graft] def zonesDf(s: SparkSession): DataFrame = {
    import s.implicits._
    zoneTriangles.map { case (id, vs) =>
      val closed = vs :+ vs.head
      (id, closed.flatMap { case (x, y) => Seq(x, y) }.toArray)
    }.toDF("zone_id", "ring")
  }

  private def qSpatialJoin(s: SparkSession, d: String): DataFrame =
    spatialJoin(
        cells(s).filter(col("variable") === "tasmax" && col("value").isNotNull),
        zonesDf(s))
      .groupBy("zone_id")
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_val"))
      .orderBy("zone_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_spatial_join" -> qSpatialJoin,
    "q_gap_fill" -> qGapFill,
    "q_polygon" -> qPolygon,
    "q_grid_select" -> qGridSelect,
    "q_grid_sql" -> qGridSqlSurface,
    "q_grid_catalog" -> qGridCatalog,
    "q_grid_quantile" -> qGridQuantile,
    "q_grid_render" -> qGridRender,
    "q_grid_nearest" -> qGridNearest,
    "q_zonal_stats" -> qZonalStats,
    "q_regrid" -> qRegrid,
    "q_time_coarsen" -> qTimeCoarsen,
    "q_spell" -> qSpell,
    "q_anomaly" -> qAnomaly
  )

  // The polygon is the reference's axis-aligned rectangle, so the mask oracle
  // is the equivalent bbox predicate (strict interior on the west/south edges
  // that the ring's even-odd parity excludes is not hit: grid lines fall
  // strictly inside).
  private val maskSql =
    """value IS NOT NULL AND variable = 'tasmax'
      |  AND ts BETWEEN TIMESTAMP '1990-01-03 00:00:00' AND TIMESTAMP '1990-01-06 23:59:59'
      |  AND lat > 44.292647 AND lat < 44.489801
      |  AND lon > -79.317877 AND lon < -78.987601""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the zone VALUES interpolate from the SAME zoneTriangles constant the
    // Spark side reads, so the two sides cannot drift; containment is the
    // sign test (all three edge cross-products one sign), which agrees with
    // the ray-cast on every sampled point because no point sits on an edge
    "q_spatial_join" -> (oracleCells + {
      val vals = zoneTriangles.map { case (id, vs) =>
        val Seq((x1, y1), (x2, y2), (x3, y3)) = vs
        s"($id, $x1, $y1, $x2, $y2, $x3, $y3)"
      }.mkString(", ")
      s""", zones(zone_id, x1, y1, x2, y2, x3, y3) AS (VALUES $vals)
         |SELECT z.zone_id, count(*) AS n, round(avg(c.value), 4) AS avg_val
         |FROM cells c JOIN zones z ON c.variable = 'tasmax' AND c.value IS NOT NULL
         |  AND (((z.x2-z.x1)*(c.lat-z.y1)-(z.y2-z.y1)*(c.lon-z.x1) > 0
         |    AND (z.x3-z.x2)*(c.lat-z.y2)-(z.y3-z.y2)*(c.lon-z.x2) > 0
         |    AND (z.x1-z.x3)*(c.lat-z.y3)-(z.y1-z.y3)*(c.lon-z.x3) > 0)
         |   OR ((z.x2-z.x1)*(c.lat-z.y1)-(z.y2-z.y1)*(c.lon-z.x1) < 0
         |    AND (z.x3-z.x2)*(c.lat-z.y2)-(z.y3-z.y2)*(c.lon-z.x2) < 0
         |    AND (z.x1-z.x3)*(c.lat-z.y3)-(z.y1-z.y3)*(c.lon-z.x3) < 0))
         |GROUP BY z.zone_id ORDER BY z.zone_id""".stripMargin
    }),
    "q_gap_fill" -> (oracleCells +
      """SELECT ts, y, x, value,
        |  last_value(value IGNORE NULLS) OVER (
        |    PARTITION BY variable, y, x ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS filled
        |FROM cells
        |WHERE variable = 'tasmax' AND y < 4 AND x < 8
        |ORDER BY ts, y, x""".stripMargin),
    "q_polygon" -> (oracleCells +
      """SELECT ts, count(*) AS n_cells, round(avg(value), 4) AS mean_v
        |FROM cells
        |WHERE variable = 'tasmax' AND (
        |  (lat > 44.025 AND lat < 44.525 AND lon > -79.975 AND lon < -78.825) OR
        |  (lat > 44.525 AND lat < 44.925 AND lon > -79.975 AND lon < -79.425))
        |GROUP BY ts ORDER BY ts""".stripMargin),
    "q_grid_sql" -> (oracleCells +
      """SELECT variable, CAST(ts AS DATE) AS day,
        |  count(value) AS n_obs, round(avg(value), 4) AS avg_val
        |FROM cells
        |WHERE y BETWEEN 4 AND 12 AND x < 16
        |GROUP BY variable, CAST(ts AS DATE)
        |ORDER BY variable, day""".stripMargin),
    "q_grid_select" -> (oracleCells +
      """SELECT ts, y, x, lat, lon, value FROM cells
        |WHERE variable = 'tasmax'
        |  AND ts BETWEEN TIMESTAMP '1990-01-03 00:00:00' AND TIMESTAMP '1990-01-06 23:59:59'
        |  AND lat > 44.292647 AND lat < 44.489801
        |  AND lon > -79.317877 AND lon < -78.987601
        |ORDER BY ts, y, x""".stripMargin),
    "q_grid_catalog" -> (oracleCells +
      """SELECT file, variable, min(ts) AS ts_min, max(ts) AS ts_max
        |FROM cells GROUP BY file, variable
        |HAVING max(ts) >= TIMESTAMP '1990-01-05 00:00:00'
        |ORDER BY file, variable""".stripMargin),
    "q_grid_quantile" -> (oracleCells +
      """SELECT variable,
        |  round(quantile_cont(value, 0.1), 4) AS b0,
        |  round(quantile_cont(value, 0.5), 4) AS b1,
        |  round(quantile_cont(value, 0.9), 4) AS b2
        |FROM cells GROUP BY variable ORDER BY variable""".stripMargin),
    "q_grid_render" -> (oracleCells +
      s"""SELECT variable, ts,
         |  CAST(least(greatest(floor((value + 10.0) / 5.0), 0), 9) AS INT) AS bin,
         |  count(*) AS n
         |FROM cells
         |WHERE $maskSql
         |GROUP BY variable, ts, bin
         |ORDER BY variable, ts, bin""".stripMargin),
    "q_grid_nearest" -> (oracleCells +
      """SELECT y, x, lat, lon,
        |  round(pow(lat - 44.2931, 2) + pow(lon - (-79.0), 2), 6) AS dist2
        |FROM (SELECT DISTINCT y, x, lat, lon FROM cells)
        |ORDER BY pow(lat - 44.2931, 2) + pow(lon - (-79.0), 2), y, x
        |LIMIT 1""".stripMargin),
    // zones are rectilinear rings at half-cell offsets, so strict-interior
    // bboxes state the masks exactly (no grid point lies on an edge)
    "q_zonal_stats" -> (oracleCells +
      """SELECT ts,
        |  CASE WHEN lon > -79.975 AND lon < -79.425
        |        AND lat > 44.025 AND lat < 44.925 THEN 'west'
        |       ELSE 'east' END AS zone,
        |  count(value) AS n_obs, round(avg(value), 4) AS mean_v
        |FROM cells
        |WHERE variable = 'tasmax' AND (
        |  (lon > -79.975 AND lon < -79.425 AND lat > 44.025 AND lat < 44.925) OR
        |  (lon > -79.375 AND lon < -78.825 AND lat > 44.025 AND lat < 44.475))
        |GROUP BY ts, zone ORDER BY ts, zone""".stripMargin),
    "q_regrid" -> (oracleCells +
      """SELECT ts, CAST(y // 2 AS INT) AS yc, CAST(x // 2 AS INT) AS xc,
        |  count(value) AS n_obs, round(avg(value), 4) AS mean_v
        |FROM cells WHERE variable = 'tasmax'
        |GROUP BY ts, yc, xc ORDER BY ts, yc, xc""".stripMargin),
    "q_anomaly" -> (oracleCells +
      """SELECT ts, y, x,
        |  round(value - avg(value) OVER (PARTITION BY variable, y, x), 4) AS anomaly
        |FROM cells WHERE variable = 'tasmin' AND y < 4 AND x < 8
        |ORDER BY ts, y, x""".stripMargin),
    "q_time_coarsen" -> (oracleCells +
      """SELECT variable, date_trunc('week', ts) AS period, y, x,
        |  round(avg(value), 4) AS mean_val,
        |  min(value) AS min_val, max(value) AS max_val,
        |  CAST(count(value) AS BIGINT) AS n_obs
        |FROM cells GROUP BY 1, 2, 3, 4
        |ORDER BY variable, period, y, x""".stripMargin),
    "q_spell" -> (oracleCells +
      """, cond AS (
        |  SELECT variable, y, x,
        |    date_diff('day', TIMESTAMP '1990-01-01 00:00:00', ts) AS t
        |  FROM cells WHERE value < 20 AND y < 4 AND x < 8),
        |isl AS (
        |  SELECT variable, y, x,
        |    t - row_number() OVER (PARTITION BY variable, y, x ORDER BY t) AS island
        |  FROM cond),
        |runs AS (
        |  SELECT variable, y, x, island, count(*) AS len
        |  FROM isl GROUP BY 1, 2, 3, 4)
        |SELECT variable, y, x,
        |  CAST(count(*) AS BIGINT) AS n_spells,
        |  CAST(max(len) AS BIGINT) AS max_spell
        |FROM runs GROUP BY 1, 2, 3
        |ORDER BY variable, y, x""".stripMargin)
  )
}
