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
    // the 75 cells pack into one partition …
    assert(df.rdd.getNumPartitions == 1)
    // … that plans exactly the surviving (cube, t) slices: tasmax, days 2..4
    assert(TestSpark.gridSlices(df) == Seq("tasmax" -> 2, "tasmax" -> 3, "tasmax" -> 4))
  }

  /** Run `f` with the given SQL confs set, restoring the previous values. */
  private def withSQLConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("packed partitions split mid-cube at the file split size; rows and order unchanged") {
    import org.apache.spark.sql.Row
    val cols = Seq("variable", "ts", "y", "x", "lat", "lon", "value")
    val cells = GridData.cells(spark).select(cols.map(col): _*).collect().toSeq
    // the curvilinear fixture in closed form (SourceQueries.ncCurvDir)
    val curvCells = for (t <- 0 until 4; y <- 0 until 10; x <- 0 until 12) yield Row(
      "temp", java.sql.Timestamp.from(java.time.Instant.parse("2000-01-01T00:00:00Z")
        .plus(java.time.Duration.ofDays(t))), y, x,
      44.0 + y * 0.05 + x * 0.001, -80.0 + x * 0.05 + y * 0.002,
      if ((t + 2 * y + x) % 13 == 0) null else ((t * 13 + y * 5 + x * 11) % 90).toDouble / 2.0 - 20.0)
    // (dir, rows in scan order, cells per (cube, t) slice, slices per cube)
    val fixtures = Seq(
      (SourceQueries.ncDir, cells, 20 * 30, 8),
      (SourceQueries.nc4Dir, cells, 20 * 30, 8),
      (SourceQueries.ncCurvDir, curvCells, 10 * 12, 4))
    def runs(df: org.apache.spark.sql.DataFrame) =
      TestSpark.gridPartitions(df).map(p => (p.unit.variable, p.ts.toSeq))
    for ((dir, expect, sliceCells, t) <- fixtures) {
      val cubes = expect.map(_.getString(0)).distinct
      // three slices a partition: each cube splits 3 + 3 + 2 (8 days) or 3 + 1
      withSQLConf(
          "spark.sql.files.maxPartitionBytes" -> (3L * sliceCells * GridSource.RowWidthBytes).toString,
          "spark.sql.files.openCostInBytes" -> "1",
          "spark.sql.files.minPartitionNum" -> "1") {
        val df = gridAt(dir).select(cols.map(col): _*)
        assert(runs(df) == cubes.flatMap(v => (0 until t).grouped(3).map(v -> _)), dir)
        assert(df.collect().toSeq == expect, dir)
        // no partition mixes cubes: each partition's rows carry one variable
        assert(df.select("variable").rdd.glom().collect()
          .forall(_.map(_.getString(0)).distinct.length == 1), dir)
      }
      // a section above the split size still feeds every core
      withSQLConf("spark.sql.files.openCostInBytes" -> "1") {
        val df = gridAt(dir).select(cols.map(col): _*)
        assert(runs(df).size >= spark.sparkContext.defaultParallelism, s"$dir: ${runs(df)}")
        assert(df.collect().toSeq == expect, dir)
      }
      // default confs: the whole (small) fixture is one partition per cube
      assert(runs(gridAt(dir)) == cubes.map(_ -> (0 until t)), dir)
    }
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
    // NetCDF (ascending, descending), GRF1 and the generator: the GRF and
    // generator axes are closed form, and their readers emit those very doubles
    for ((dir, df) <- Seq(SourceQueries.ncDir, descDir, SourceQueries.grfDir).map(d => d -> gridAt(d)) :+
        ("generator" -> SourceQueries.gridTable(spark))) {
      // the stored axis values in index order, as the scan surfaces them
      def axis(idx: String, c: String): Array[Double] =
        df.select(idx, c).distinct().orderBy(idx).collect().map(_.getDouble(1))
      val (lats, lons) = (axis("y", "lat"), axis("x", "lon"))
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
    // ts narrowing searches the ONE time axis the table keeps instead
    assert(!classOf[graft.sources.NcCube].getDeclaredFields
      .exists(_.getType.isArray), "NcCube must not retain array-typed state")
    val Seq((cube, layout)) = NcGrid.openCubes(SourceQueries.ncDir + "/tasmax.nc")
    assert(layout.times.length == cube.t)
    assert(layout.times(0) == GridSource.epochMicros &&
      layout.times(cube.t - 1) == GridSource.epochMicros + (cube.t - 1) * 86400000000L)
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

  // ---- projection-aware reads and the chunk-row band cache

  private val CY = 100
  private val CX = 150
  private val Day0 = java.time.Instant.parse("1990-01-01T00:00:00Z")

  /** The serving corpus's cell pattern: multiples of 0.25 (exact sums in
    * any order), -999 on a closed-form fill pattern.
    */
  private def corpusCell(t: Int, y: Int, x: Int, v: Int): Double =
    if ((t * 5 + y * 3 + x * 7 + v * 11) % 29 == 0) -999.0
    else ((t * 3 + y * 2 + x + v * 37) % 240) / 4.0 - 20.0

  /** A serving-corpus-shaped NetCDF-4 dir: tasmax and tasmin over `td`
    * days on a 100×150 grid in (1, 40, 40) chunks — y spans 3 chunks, x 4 —
    * so each file stores `td` × 12 chunks.
    */
  private def writeCorpus(td: Int, filters: Seq[graft.sources.Hdf5.H5Filter]): String = {
    import graft.sources.Hdf5, Hdf5._
    val dir = java.nio.file.Files.createTempDirectory("graft-nc4-corpus").toFile.getAbsolutePath
    for ((name, v) <- Seq("tasmax", "tasmin").zipWithIndex) {
      val data = Array.tabulate(td * CY * CX)(i => corpusCell(i / (CY * CX), (i / CX) % CY, i % CX, v))
      Hdf5.write(s"$dir/$name.nc4", Seq(
        WDataset("time", I32, Seq(td), Array.tabulate(td)(_.toDouble),
          strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "time",
            "units" -> "days since 1990-01-01")),
        WDataset("lat", F64, Seq(CY), Array.tabulate(CY)(40.0 + _ * 0.05),
          strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lat")),
        WDataset("lon", F64, Seq(CX), Array.tabulate(CX)(-80.0 + _ * 0.05),
          strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lon")),
        WDataset(name, F32, Seq(td, CY, CX), data,
          numAttrs = Seq(("_FillValue", F32, Seq(-999.0))),
          refAttrs = Seq("DIMENSION_LIST" -> Seq(Seq("time"), Seq("lat"), Seq("lon"))),
          chunkDims = Some(Seq(1, 40, 40)), filters = filters)))
    }
    dir
  }

  /** Chunks the section readers inflate and decode while `f` runs. */
  private def decoded[A](f: => A): (Long, A) = {
    val d0 = graft.sources.Hdf5.SectionReader.decodes.sum()
    val a = f
    (graft.sources.Hdf5.SectionReader.decodes.sum() - d0, a)
  }

  test("a full scan decodes each stored chunk once; a box decodes only its own chunks") {
    import graft.sources.Hdf5.{Deflate, F32, Shuffle}
    val td = 3
    val df = gridAt(writeCorpus(td, Seq(Shuffle(F32.size), Deflate(4))))
    val stored = for (v <- 0 to 1; t <- 0 until td; y <- 0 until CY; x <- 0 until CX)
      yield corpusCell(t, y, x, v)
    val (full, row) = decoded(df.agg(count("value"), sum("value")).collect()(0))
    assert(full == 2 * td * 3 * 4)
    assert(row.getLong(0) == stored.count(_ != -999.0))
    assert(row.getDouble(1) == stored.filter(_ != -999.0).sum)
    // 10×10 cells astride the x-chunk edge at 40, inside y-chunk 0: two
    // chunks a day, not one per row per chunk
    val box = df.filter(col("variable") === "tasmin" && col("y").between(5, 14) &&
      col("x").between(35, 44))
    val (n, got) = decoded(box.select("ts", "y", "x", "value").collect())
    assert(n == td * 2)
    assert(got.map(r => (r.getTimestamp(0).toInstant, r.getInt(1), r.getInt(2),
      Option(r.get(3)))).sortBy(_.toString).toSeq ==
      (for (t <- 0 until td; y <- 5 to 14; x <- 35 to 44) yield {
        val c = corpusCell(t, y, x, 1)
        (Day0.plus(java.time.Duration.ofDays(t)), y, x, if (c == -999.0) None else Some(c))
      }).sortBy(_.toString))
  }

  test("a variable/ts-only scan (the catalog shape) opens no data file and decodes nothing") {
    import graft.sources.Hdf5.{Deflate, F32, Shuffle}
    val td = 3
    val dir = writeCorpus(td, Seq(Shuffle(F32.size), Deflate(4)))
    val df = gridAt(dir)
    // the table holds all a variable/ts scan needs: it runs with the files gone
    new java.io.File(dir).listFiles().foreach(f => assert(f.delete(), f))
    val (n, (rows, catalog)) = decoded((
      df.select("variable", "ts").rdd.count(),
      graft.domain.GridQuery.catalog(df.withColumn("file", col("variable")))
        .orderBy("variable").collect()))
    assert(n == 0)
    assert(rows == 2L * td * CY * CX)
    assert(catalog.map(r => (r.getAs[String]("variable"),
      r.getAs[java.sql.Timestamp]("ts_min").toInstant,
      r.getAs[java.sql.Timestamp]("ts_max").toInstant)).toSeq ==
      Seq("tasmax", "tasmin").map(v =>
        (v, Day0, Day0.plus(java.time.Duration.ofDays(td - 1L)))))
    // a scan that does project value needs the bytes: it fails, loudly
    intercept[org.apache.spark.SparkException](df.agg(sum("value")).collect())
  }

  test("a corrupted chunk still fails loudly when value is projected") {
    import graft.sources.Hdf5, Hdf5.{Deflate, F32, Fletcher32, Shuffle}
    val dir = writeCorpus(2, Seq(Shuffle(F32.size), Deflate(4), Fletcher32))
    val f = s"$dir/tasmin.nc4"
    val raf = new java.io.RandomAccessFile(f, "rw")
    try { // the last chunk written is the file's last block: flip a byte in it
      raf.seek(raf.length() - 10)
      val b = raf.read(); raf.seek(raf.length() - 10); raf.write(b ^ 0xFF)
    } finally raf.close()
    val hit = intercept[IllegalArgumentException](
      Hdf5.readAll(f, Hdf5.open(f).dataset("tasmin").get))
    assert(hit.getMessage.contains("fletcher32 mismatch"), hit.getMessage)
    val df = gridAt(dir)
    for (q <- Seq(df.agg(sum("value")),
        df.filter(col("variable") === "tasmin").select("ts", "y", "x", "value"))) {
      val e = intercept[org.apache.spark.SparkException](q.collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.getMessage != null && c.getMessage.contains("fletcher32 mismatch")), e)
    }
    // a scan that never projects value never reads the chunk
    assert(df.select("variable", "ts").rdd.count() == 2L * 2 * CY * CX)
  }

  test("a sparse NetCDF-4 file's unwritten cells read as its _FillValue: NULL, not 0.0") {
    import graft.sources.Hdf5, Hdf5._
    val (td, yd, xd) = (4, 20, 30) // (1, 10, 16) chunks: 2 × 2 a day, 16 in all
    val sparse = Set(1, 6, 11, 12)
    val dir = java.nio.file.Files.createTempDirectory("graft-nc4-sparse").toFile.getAbsolutePath
    val data = Array.tabulate(td * yd * xd)(i => (i % 50) / 2.0 + 1.0) // never 0, never fill
    Hdf5.write(s"$dir/temp.nc4", Seq(
      WDataset("time", I32, Seq(td), Array.tabulate(td)(_.toDouble),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "time",
          "units" -> "days since 1990-01-01")),
      WDataset("lat", F64, Seq(yd), Array.tabulate(yd)(44.0 + _ * 0.05),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lat")),
      WDataset("lon", F64, Seq(xd), Array.tabulate(xd)(-80.0 + _ * 0.05),
        strAttrs = Seq("CLASS" -> "DIMENSION_SCALE", "NAME" -> "lon")),
      WDataset("temp", F32, Seq(td, yd, xd), data,
        numAttrs = Seq(("_FillValue", F32, Seq(-999.0))),
        refAttrs = Seq("DIMENSION_LIST" -> Seq(Seq("time"), Seq("lat"), Seq("lon"))),
        chunkDims = Some(Seq(1, 10, 16)), sparseChunks = sparse,
        fillValue = Some(-999.0))), latest = true)
    val cells = gridAt(dir).select("ts", "y", "x", "value").collect().map { r =>
      val t = java.time.Duration.between(Day0, r.getTimestamp(0).toInstant).toDays.toInt
      (t, r.getInt(1), r.getInt(2)) -> Option(r.get(3))
    }.toMap
    def chunkOf(t: Int, y: Int, x: Int): Int = (t * 2 + y / 10) * 2 + x / 16
    assert(cells.size == td * yd * xd)
    val want = (for (t <- 0 until td; y <- 0 until yd; x <- 0 until xd) yield
      (t, y, x) -> (if (sparse(chunkOf(t, y, x))) None else Some(data((t * yd + y) * xd + x)))).toMap
    assert(cells == want)
  }

  test("CF time-unit strings parse to (epoch, scale)") {
    assert(NcGrid.timeUnit("days since 1990-01-01") ==
      (631152000000000L, 86400000000L))
    assert(NcGrid.timeUnit("hours since 2000-06-15 12:00:00")._2 == 3600000000L)
    intercept[IllegalArgumentException](NcGrid.timeUnit("fortnights since 1990-01-01"))
  }
}
