package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.domain.GridData
import graft.sources.{GridSource, NcCatalog, NcGrid, SourceQueries}

/** The DSv2 scan over real NetCDF-3 bytes: results must be identical to the
  * closed-form generator, pushdown must prune partitions/sections, and the
  * metadata aggregate must be answered without reading cells.
  */
class NcGridSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def nc = SourceQueries.ncTable(spark)

  test("nc scan reproduces the generator grid exactly (both variables, both layouts)") {
    // tasmax is a record-layout CDF-1 file, tasmin fixed-layout CDF-2; both
    // must surface the identical cell table (file column aside)
    val got = nc.select("variable", "ts", "y", "x", "lat", "lon", "value")
      .orderBy("variable", "ts", "y", "x").collect()
    val expect = GridData.cells(spark)
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
      .orderBy("variable", "ts", "y", "x").collect()
    assert(got.length == expect.length && got.sameElements(expect))
  }

  test("variable + ts + y/x filters prune partitions and sections") {
    val df = nc.filter(col("variable") === "tasmax" &&
      col("ts").between(lit("1990-01-03 00:00:00").cast("timestamp"),
        lit("1990-01-05 23:59:59").cast("timestamp")) &&
      col("y") < 5 && col("x") >= 25)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("NcGridScan"), plan)
    assert(plan.contains("vars=tasmax"), plan)
    // 3 days * 5 ys * 5 xs
    assert(df.count() == 75)
    // partition count = surviving (cube, t) slices = 1 var * 3 days
    assert(df.rdd.getNumPartitions == 3)
  }

  test("sub-day ts bounds narrow exactly via the time-coordinate search") {
    for ((cond, tag) <- Seq(
      (col("ts") >= lit("1990-01-02 12:00:00").cast("timestamp"), "gte-mid"),
      (col("ts") > lit("1990-01-02 00:00:00").cast("timestamp"), "gt-exact"),
      (col("ts") < lit("1990-01-02 12:00:00").cast("timestamp"), "lt-mid"),
      (col("ts") <= lit("1990-01-02 00:00:00").cast("timestamp"), "lte-exact"))) {
      val got = nc.filter(cond).count()
      val expect = GridData.cells(spark).filter(cond).count()
      assert(got == expect, tag)
    }
  }

  test("metadata aggregate is answered from headers/coords: one row, zero cells") {
    val df = nc.filter(col("variable") === "tasmin" && col("y").between(3, 12))
      .agg(count(lit(1)).as("n"), min("ts").as("ts_min"), max("lat").as("lat_max"))
    assert(df.queryExecution.executedPlan.toString.contains("NcGridAggScan"))
    val row = df.collect()(0)
    assert(row.getLong(0) == 8L * 10 * 30)
    assert(row.getTimestamp(1).toInstant == java.time.Instant.parse("1990-01-01T00:00:00Z"))
    assert(row.getDouble(2) == 44.0 + 12 * 0.05)
  }

  test("curvilinear grid: coordinates come from the 2-D matrices") {
    val df = spark.read.format(classOf[GridSource].getName)
      .option("path", SourceQueries.ncCurvDir).load()
    val rows = df.filter(col("y") === 3 && col("x") === 5 && col("variable") === "temp")
      .select("lat", "lon").distinct().collect()
    assert(rows.length == 1)
    assert(rows(0).getDouble(0) == 44.0 + 3 * 0.05 + 5 * 0.001)
    assert(rows(0).getDouble(1) == -80.0 + 5 * 0.05 + 3 * 0.002)
    // nearest() needs no affine: it runs on the coord table as stored
    val nearest = graft.domain.GridQuery.nearest(
      df.withColumn("file", col("variable")), lat = 44.16, lon = -79.74).collect()(0)
    assert((nearest.getInt(0), nearest.getInt(1)) == (3, 5),
      s"nearest was (${nearest.getInt(0)}, ${nearest.getInt(1)})")
  }

  test("attribute catalog surfaces per-variable and global attributes") {
    val attrs = NcCatalog.attrs(spark, SourceQueries.ncDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(attrs.contains(("tasmax.nc", "", "title", "graft synthetic grid")))
    assert(attrs.contains(("tasmax.nc", "tasmax", "long_name",
      "Daily Maximum Near-Surface Air Temperature")))
    assert(attrs.contains(("tasmin.nc", "time", "units", "days since 1990-01-01")))
    assert(NcCatalog.discoverByLongName(SourceQueries.ncDir,
      _.contains("Minimum")) == Seq("tasmin"))
  }

  test("heterogeneous .nc layouts are rejected at open") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-het").toFile.getAbsolutePath
    for (p <- Seq(SourceQueries.ncDir + "/tasmax.nc", SourceQueries.ncCurvDir + "/fivelakes.nc"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(p),
        java.nio.file.Paths.get(dir, new java.io.File(p).getName))
    val e = intercept[Exception] {
      spark.read.format(classOf[GridSource].getName).option("path", dir).load().count()
    }
    assert(e.getMessage.contains("heterogeneous"), e.getMessage)
  }

  test("bbox filters narrow the nc section from the coordinate arrays; results exact") {
    val bbox = col("lat").between(44.29, 44.49) && col("lon").between(-79.32, -78.99)
    val df = nc.filter(bbox)
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val rel = df.queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r }.get
    val fullRows = BigInt(2L * 8 * 20 * 30) * 64
    assert(rel.stats.sizeInBytes < fullRows / 4, s"${rel.stats.sizeInBytes} vs $fullRows")
    assert(df.count() == GridData.cells(spark).filter(bbox).count())
    // curvilinear grids have no per-axis coord: no narrowing, still correct
    val curv = spark.read.format(classOf[GridSource].getName)
      .option("path", SourceQueries.ncCurvDir).load()
    assert(curv.filter(col("lat") > 44.3).count() ==
      curv.collect().count(r => r.getDouble(4) > 44.3))
  }

  test("divergent coordinate arrays are rejected even when dims/times match") {
    import graft.sources.NetCdf3, NetCdf3._
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-badcoord").toFile.getAbsolutePath
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(SourceQueries.ncDir, "tasmax.nc"),
      java.nio.file.Paths.get(dir, "tasmax.nc"))
    // same 8x20x30 dims + identical time axis, but DESCENDING latitudes:
    // a shared section narrowed from tasmax's ascending lats would silently
    // prune this cube's satisfying rows — must be rejected at open
    NetCdf3.write(s"$dir/other.nc",
      dims = Seq("time" -> 8, "lat" -> 20, "lon" -> 30), recordDim = None,
      gatts = Nil,
      vars = Seq(
        WVar("time", NcInt, Seq("time"),
          Seq(WAttr("units", NcChar, text = "days since 1990-01-01")),
          Array.tabulate(8)(_.toDouble)),
        WVar("lat", NcDouble, Seq("lat"), Nil,
          Array.tabulate(20)(y => 44.95 - y * 0.05)),
        WVar("lon", NcDouble, Seq("lon"), Nil,
          Array.tabulate(30)(x => -80.0 + x * 0.05)),
        WVar("other", NcFloat, Seq("time", "lat", "lon"), Nil,
          Array.fill(8 * 20 * 30)(1.0))))
    val e = intercept[Exception] {
      spark.read.format(classOf[GridSource].getName).option("path", dir).load().count()
    }
    assert(e.getMessage.contains("coordinate arrays differ"), e.getMessage)
  }

  /** A north-up raster: latitudes stored descending (the common real layout). */
  private lazy val descDir: String = {
    import graft.sources.NetCdf3, NetCdf3._
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-desc").toFile.getAbsolutePath
    NetCdf3.write(s"$dir/desc.nc",
      dims = Seq("time" -> 4, "lat" -> 10, "lon" -> 12), recordDim = None,
      gatts = Nil,
      vars = Seq(
        WVar("time", NcInt, Seq("time"),
          Seq(WAttr("units", NcChar, text = "days since 1990-01-01")),
          Array.tabulate(4)(_.toDouble)),
        WVar("lat", NcDouble, Seq("lat"), Nil,
          Array.tabulate(10)(y => 44.45 - y * 0.05)),
        WVar("lon", NcDouble, Seq("lon"), Nil,
          Array.tabulate(12)(x => -80.0 + x * 0.05)),
        WVar("temp", NcFloat, Seq("time", "lat", "lon"), Nil,
          Array.tabulate(4 * 10 * 12)(i => (i % 50).toDouble))))
    dir
  }

  private def gridAt(dir: String) =
    spark.read.format(classOf[GridSource].getName).option("path", dir).load()

  /** Filters left for Spark to re-evaluate above the scan on lat or lon. */
  private def postScanCoordFilters(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.references.exists(a => a.name == "lat" || a.name == "lon") => f
    }

  /** The filter evaluated by Spark over every collected row, no source involved. */
  private def fullEval(df: org.apache.spark.sql.DataFrame,
      cond: org.apache.spark.sql.Column): Long =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      .filter(cond).count()

  private val comparisons: Seq[(String, (org.apache.spark.sql.Column, Double) => org.apache.spark.sql.Column)] =
    Seq(">=" -> (_ >= _), ">" -> (_ > _), "<=" -> (_ <= _), "<" -> (_ < _))

  test("1-D lat/lon comparisons are handled exactly at a stored coordinate, both orientations") {
    for (dir <- Seq(SourceQueries.ncDir, descDir)) {
      val df = gridAt(dir)
      val cube = NcGrid.openCubes(new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".nc")).minBy(_.getName).getPath).head
      val (lats, lons) = NcGrid.coordArrays(cube)
      for ((field, coords) <- Seq("lat" -> lats, "lon" -> lons);
           v <- Seq(coords(3), coords(coords.length - 1));
           (op, cmp) <- comparisons) {
        val cond = cmp(col(field), v)
        val tag = s"$dir: $field $op $v"
        val filtered = df.filter(cond)
        assert(postScanCoordFilters(filtered).isEmpty, s"$tag\n${filtered.queryExecution.executedPlan}")
        val expect = fullEval(df, cond)
        assert(filtered.count() == expect, tag)
        assert(filtered.collect().length == expect, tag)
      }
    }
  }

  test("NaN literals, curvilinear axes and cold start stay unhandled and correct") {
    val nc = gridAt(SourceQueries.ncDir)
    for (field <- Seq("lat", "lon"); (op, cmp) <- comparisons) {
      val cond = cmp(col(field), Double.NaN)
      val filtered = nc.filter(cond)
      assert(postScanCoordFilters(filtered).nonEmpty, s"$field $op NaN")
      // Spark orders NaN above every double: `<`/`<=` keep all, `>`/`>=` none
      assert(filtered.count() == fullEval(nc, cond), s"$field $op NaN")
    }
    val curv = gridAt(SourceQueries.ncCurvDir)
    val curvLat = curv.select("lat").orderBy("lat").collect()(100).getDouble(0)
    for ((op, cmp) <- comparisons) {
      val cond = cmp(col("lat"), curvLat)
      val filtered = curv.filter(cond)
      assert(postScanCoordFilters(filtered).nonEmpty, s"curvilinear lat $op")
      assert(filtered.count() == fullEval(curv, cond), s"curvilinear lat $op")
    }
    val coldDir = java.nio.file.Files.createTempDirectory("graft-nc-cold-bbox").toString
    val cold = spark.read.format(classOf[GridSource].getName)
      .option("path", coldDir).option("format", "nc").load().filter(col("lat") >= 44.0)
    assert(postScanCoordFilters(cold).nonEmpty)
    assert(cold.count() == 0)
  }

  test("descending coordinate axes narrow correctly (orientation-mapped)") {
    val df = gridAt(descDir)
    val filtered = df.filter(col("lat") >= 44.2 && col("lon") < -79.7)
    // full evaluation agrees (narrowing never changed semantics) …
    val expect = df.collect().count(r => r.getDouble(4) >= 44.2 && r.getDouble(5) < -79.7)
    assert(filtered.count() == expect && expect > 0)
    // … and the section genuinely shrank (stats reflect the narrowed range)
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val rel = filtered.queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r }.get
    assert(rel.stats.sizeInBytes < BigInt(4L * 10 * 12) * 64 / 2, rel.stats.sizeInBytes)
  }

  test("micro-batch streaming ingests each new .nc drop exactly once") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-nc-stream").toFile.getAbsolutePath
    // seed with one file (the table needs at least one at open)
    Files.copy(Paths.get(SourceQueries.ncDir, "tasmax.nc"), Paths.get(dir, "tasmax.nc"))
    val stream = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .filter(col("y") < 5) // pushdown applies to streamed cubes too
      .groupBy("variable").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory")
      .queryName("nc_stream").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val after1 = spark.table("nc_stream").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(after1 == Map("tasmax" -> 8L * 5 * 30))
      // a new raster drop arrives
      Files.copy(Paths.get(SourceQueries.ncDir, "tasmin.nc"), Paths.get(dir, "tasmin.nc"))
      q.processAllAvailable()
      val after2 = spark.table("nc_stream").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(after2 == Map("tasmax" -> 8L * 5 * 30, "tasmin" -> 8L * 5 * 30))
    } finally q.stop()
  }

  test("nc stream cold start: format=nc on an empty dir, first drop fixes the layout") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-nc-cold").toFile.getAbsolutePath
    // the format option pins the table kind — an empty dir has nothing to
    // sniff. Batch reads are valid too (zero rows)
    assert(spark.read.format(classOf[GridSource].getName)
      .option("path", dir).option("format", "nc").load().count() == 0)
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).option("format", "nc").load()
      .filter(col("y") < 5)
      .writeStream.format("memory").queryName("nc_cold").outputMode("append").start()
    try {
      q.processAllAvailable() // nothing yet: empty batch, no crash
      assert(spark.table("nc_cold").count() == 0)
      Files.copy(Paths.get(SourceQueries.ncDir, "tasmax.nc"), Paths.get(dir, "tasmax.nc"))
      q.processAllAvailable()
      val rows = spark.table("nc_cold")
      // y < 5 was not pushable at declaration (no layout); Spark applied it
      assert(rows.count() == 8L * 5 * 30)
      assert(rows.select("y").collect().forall(_.getInt(0) < 5))
    } finally q.stop()
  }

  test("format option must agree with the files present") {
    val e = intercept[Exception] {
      spark.read.format(classOf[graft.sources.GridSource].getName)
        .option("path", SourceQueries.ncDir).option("format", "grf").load()
    }
    assert(e.getMessage.contains("contradicts"), e.getMessage)
  }

  test("NcCube holds O(1) time metadata, never the per-file time array") {
    // the driver retains one NcCube per (file, variable); at 100 TB that is
    // millions of cubes, so dim-sized arrays must not live on them — exact
    // ts narrowing re-reads ONE array per scan via NcGrid.timesOf instead
    assert(!classOf[graft.sources.NcCube].getDeclaredFields
      .exists(_.getType.isArray), "NcCube must not retain array-typed state")
    val cubes = graft.sources.NcGrid.openCubes(SourceQueries.ncDir + "/tasmax.nc")
    val times = graft.sources.NcGrid.timesOf(cubes.head)
    assert(cubes.head.tMin == times.head && cubes.head.tMax == times.last)
    assert(times.length == cubes.head.t)
  }

  test("NetCDF-4 (HDF5) table reproduces the generator grid exactly") {
    // tasmax chunked, tasmin contiguous — both through the HDF5 subset codec
    val nc4 = spark.read.format(classOf[GridSource].getName)
      .option("path", SourceQueries.nc4Dir).load()
    val got = nc4.select("variable", "ts", "y", "x", "lat", "lon", "value")
      .orderBy("variable", "ts", "y", "x").collect()
    val expect = GridData.cells(spark)
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
      .orderBy("variable", "ts", "y", "x").collect()
    assert(got.length == expect.length && got.sameElements(expect))
  }

  test("latest-format HDF5 (superblock v3, OHDR, layout v4) reproduces the grid exactly") {
    // tasmax decodes through a filtered Fixed Array chunk index, tasmin
    // through a fletcher32 Single Chunk index — same DSv2 contract as nc4Dir
    val nc4l = spark.read.format(classOf[GridSource].getName)
      .option("path", SourceQueries.nc4LatestDir).load()
    val got = nc4l.select("variable", "ts", "y", "x", "lat", "lon", "value")
      .orderBy("variable", "ts", "y", "x").collect()
    val expect = GridData.cells(spark)
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
      .orderBy("variable", "ts", "y", "x").collect()
    assert(got.length == expect.length && got.sameElements(expect))
  }

  test("a mixed classic + NetCDF-4 directory forms ONE table (magic-sniffed)") {
    // a format-migrated archive: tasmax as classic bytes, tasmin as HDF5
    val dir = java.nio.file.Files.createTempDirectory("graft-nc-mixed")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(SourceQueries.ncDir, "tasmax.nc"),
      dir.resolve("tasmax.nc"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(SourceQueries.nc4Dir, "tasmin.nc4"),
      dir.resolve("tasmin.nc4"))
    val mixed = spark.read.format(classOf[GridSource].getName)
      .option("path", dir.toString).load()
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
      .orderBy("variable", "ts", "y", "x").collect()
    val homogeneous = nc
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
      .orderBy("variable", "ts", "y", "x").collect()
    assert(mixed.sameElements(homogeneous))
  }

  test("NetCDF-4 attribute catalog surfaces user attrs, hides dim machinery") {
    val attrs = NcCatalog.attrs(spark, SourceQueries.nc4Dir)
    val names = attrs.select("attr_name").distinct().collect().map(_.getString(0)).toSet
    assert(names.contains("long_name") && names.contains("units"))
    assert(!names.exists(Set("CLASS", "NAME", "DIMENSION_LIST")),
      s"dimension-scale machinery leaked into the catalog: $names")
    val found = NcCatalog.discoverByLongName(SourceQueries.nc4Dir,
      _.startsWith("Daily Maximum"))
    assert(found == Seq("tasmax"))
  }

  test("NetCDF-4 external-link aggregation: stub file's data var reads from a sibling") {
    // the virtual-aggregation archive shape: the scan-visible .nc4 holds
    // only the coordinate scales plus an EXTERNAL link to the data
    // variable in a sibling payload file; the payload's name is outside
    // the scan filter, so only the stub forms a cube — yet cell reads
    // stream from the payload's bytes through the link redirect
    import graft.sources.{Hdf5, NcIo}
    import graft.sources.Hdf5.{F32, F64, I32, WDataset, WExternalLink, WSoftLink}
    val (td, yd, xd) = (3, 4, 5)
    val dir = java.nio.file.Files.createTempDirectory("graft-nc4link")
    val data = Array.tabulate(td * yd * xd)(i => (i % 23).toDouble)
    def coords = Seq(
      WDataset("time", I32, Seq(td), Array.tabulate(td)(_.toDouble),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "time",
          "units" -> "days since 1990-01-01")),
      WDataset("lat", F64, Seq(yd), Array.tabulate(yd)(44.0 + _ * 0.05),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lat")),
      WDataset("lon", F64, Seq(xd), Array.tabulate(xd)(-80.0 + _ * 0.05),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lon")))
    Hdf5.write(dir.resolve("payload.h5data").toString, coords :+
      WDataset("temp", F32, Seq(td, yd, xd), data,
        strAttrs = Seq("long_name" -> "air temperature"),
        refAttrs = Seq("DIMENSION_LIST" ->
          Seq(Seq("time"), Seq("lat"), Seq("lon")))), latest = true)
    Hdf5.write(dir.resolve("agg.nc4").toString, coords, latest = true,
      links = Seq(WExternalLink("temp", "payload.h5data", "/temp"),
        WSoftLink("lat_alias", "/lat")))
    val h = NcIo.open(dir.resolve("agg.nc4").toString)
    val v = h.variable("temp").get
    assert(v.dimNames == Seq("time", "lat", "lon"))
    assert(h.readAll(v).toSeq == data.toSeq)
    val rr = h.rowReader(v)
    try assert(rr.readRow(1, 2, 0, xd - 1).toSeq ==
      data.slice(yd * xd + 2 * xd, yd * xd + 3 * xd).toSeq)
    finally rr.close()
    // the DSv2 cube over the directory: one variable, every cell served
    val df = spark.read.format(classOf[GridSource].getName)
      .option("path", dir.toString).load()
    assert(df.select("variable").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("temp"))
    val got = df.orderBy("ts", "y", "x").select("value").collect()
      .map(_.getDouble(0)).toSeq
    assert(got == data.toSeq)
  }

  test("CF time-unit strings parse to (epoch, scale)") {
    assert(NcGrid.timeUnit("days since 1990-01-01") ==
      (631152000000000L, 86400000000L))
    assert(NcGrid.timeUnit("hours since 2000-06-15 12:00:00")._2 == 3600000000L)
    intercept[IllegalArgumentException](NcGrid.timeUnit("fortnights since 1990-01-01"))
  }
}
