package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.domain.GridData
import graft.sources.{GridFile, GridSource, SourceQueries}

/** The binary grid-file codec and the file-backed DSv2 path: section reads
  * against real byte offsets must be indistinguishable from the closed-form
  * generator (which the DuckDB oracle checks).
  */
class GridFileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val dir = SourceQueries.grfDir

  private def fileTable =
    spark.read.format(classOf[GridSource].getName).option("path", dir).load()

  test("header round-trips through the codec") {
    val h = GridFile.readHeader(s"$dir/tasmax.grf")
    assert(h.variable == "tasmax")
    assert((h.t, h.y, h.x) == (GridData.T, GridData.Y, GridData.X))
    assert(h.lat0 == 44.0 && h.dlat == 0.05 && h.lon0 == -80.0 && h.dlon == 0.05)
    assert(h.fill.isNaN)
  }

  test("section reader returns the exact requested byte range") {
    val h = GridFile.readHeader(s"$dir/tasmin.grf")
    val rdr = new GridFile.SectionReader(s"$dir/tasmin.grf", h)
    try {
      val row = rdr.readRow(t = 3, y = 7, x0 = 10, x1 = 14)
      assert(row.length == 5)
      row.zipWithIndex.foreach { case (v, i) =>
        val x = 10 + i
        if ((3 + 7 + x) % 17 == 0) assert(v.isNaN)
        else assert(v == ((3 * 31 + 7 * 7 + x * 13 + 1 * 5) % 100).toDouble / 2.0 - 10.0)
      }
    } finally rdr.close()
  }

  test("file-backed full scan equals the generator table") {
    val fromFiles = fileTable.collect().map(_.toString).sorted
    val generated = GridData.cells(spark)
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
      .collect().map(_.toString).sorted
    assert(fromFiles.length == GridData.N)
    assert(fromFiles.sameElements(generated))
  }

  test("pushdown prunes files and narrows the section to seek offsets") {
    val df = fileTable
      .filter(col("variable") === "tasmax" && col("y").between(5, 8) && col("x") < 4 &&
        col("ts") >= lit("1990-01-06 00:00:00").cast("timestamp"))
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("tasmax.grf") && !scanDesc.contains("tasmin.grf"), scanDesc)
    // Section(t0, t1, y0, y1, x0, x1): t narrowed to 5..7, y to 5..8, x to
    // 0..3 by the pushed predicates
    assert(scanDesc.contains("section=Section(5,7,5,8,0,3)"), scanDesc)
    // 3 surviving days x 1 file, packed into one partition; 4 y-rows x 4 xs each
    assert(TestSpark.gridSlices(df) == (5 to 7).map("tasmax" -> _))
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 3 * 4 * 4)
    // values identical to the generator under the same predicate
    val gen = GridData.cells(spark)
      .filter(col("variable") === "tasmax" && col("y").between(5, 8) && col("x") < 4 &&
        col("ts") >= lit("1990-01-06 00:00:00").cast("timestamp"))
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
      .collect().map(_.toString).sorted
    assert(df.collect().map(_.toString).sorted.sameElements(gen))
  }

  test("property: GRF2 tiled codec round-trips random dims/tiles/packings") {
    val rnd = new scala.util.Random(19)
    (1 to 12).foreach { trial =>
      val (tD, yD, xD) = (rnd.nextInt(4) + 1, rnd.nextInt(11) + 2, rnd.nextInt(13) + 2)
      val (tileY, tileX) = (rnd.nextInt(yD) + 1, rnd.nextInt(xD) + 1)
      val data = Array.tabulate(tD * yD * xD)(i => (i * 31 % 97).toDouble)
      val gridY = (yD + tileY - 1) / tileY
      val gridX = (xD + tileX - 1) / tileX
      // random tile ORDER in the container (packing must not matter)
      val tiles = rnd.shuffle(
        (for (ty <- 0 until gridY; tx <- 0 until gridX) yield (ty, tx)).toList)
        .map { case (ty, tx) =>
          val cy = math.min(yD, (ty + 1) * tileY) - ty * tileY
          val cx = math.min(xD, (tx + 1) * tileX) - tx * tileX
          val cube = Array.tabulate(tD * cy * cx) { j =>
            val t = j / (cy * cx); val ly = (j / cx) % cy; val lx = j % cx
            data((t * yD + (ty * tileY + ly)) * xD + (tx * tileX + lx))
          }
          (ty, tx, cube)
        }
      val p = java.nio.file.Files.createTempDirectory("grf2-prop")
        .resolve("v.grf").toString
      GridFile.writeTiled(p, "v", tD, yD, xD, tileY, tileX,
        0L, 1000000L, 0.0, 1.0, 0.0, 1.0, tiles)
      val h = GridFile.readTiledHeader(p)
      assert(h.tiles.length == gridY * gridX, s"trial $trial")
      val rdr = new GridFile.TiledSectionReader(p, h)
      try {
        h.tiles.foreach { e =>
          val (y0, y1, x0, x1) = h.tileBounds(e)
          for (t <- 0 until tD; y <- y0 to y1) {
            val got = rdr.readRow(e, t, y, x0, x1).toSeq
            val want = (x0 to x1).map(x => data((t * yD + y) * xD + x))
            assert(got == want,
              s"trial $trial tile(${e.ty},${e.tx}) t=$t y=$y: dims=($tD,$yD,$xD) tile=($tileY,$tileX)")
          }
        }
      } finally rdr.close()
    }
  }

  test("empty section (contradictory range) yields zero rows, no crash") {
    assert(fileTable.filter(col("x") > 100).count() == 0)
  }

  test("heterogeneous .grf layouts are rejected at metadata-open, not read at wrong offsets") {
    val dir2 = java.nio.file.Files.createTempDirectory("graft-grf-bad").toFile.getAbsolutePath
    GridFile.write(s"$dir2/a.grf", "a", 2, 4, 4, 0L, 1000000L, 0.0, 1.0, 0.0, 1.0) {
      (_, _, _) => Some(1.0) }
    GridFile.write(s"$dir2/b.grf", "b", 2, 8, 8, 0L, 1000000L, 0.0, 1.0, 0.0, 1.0) {
      (_, _, _) => Some(2.0) }
    val e = intercept[Exception] {
      spark.read.format(classOf[GridSource].getName).option("path", dir2).load().count()
    }
    assert(e.getMessage.contains("heterogeneous"), e.getMessage)
  }

  test("descending-latitude rasters: pushed min/max(lat) keep orientation-correct bounds") {
    val dir2 = java.nio.file.Files.createTempDirectory("graft-grf-desc").toFile.getAbsolutePath
    // north-up raster: row 0 at lat 50.0, stepping south
    GridFile.write(s"$dir2/v.grf", "v", 2, 5, 3, 0L, 86400000000L, 50.0, -0.5, 10.0, 0.5) {
      (t, y, x) => Some((t * 100 + y * 10 + x).toDouble) }
    val tbl = spark.read.format(classOf[GridSource].getName).option("path", dir2).load()
    val pushed = tbl.agg(org.apache.spark.sql.functions.min("lat"),
      org.apache.spark.sql.functions.max("lat")).collect()(0)
    assert(pushed.getDouble(0) == 48.0 && pushed.getDouble(1) == 50.0, pushed.toString)
    // matches the row-scan answer
    val scan = tbl.select("lat").distinct().collect().map(_.getDouble(0))
    assert(scan.min == 48.0 && scan.max == 50.0)
  }

  test("metadata aggregates are answered from headers without reading data bytes") {
    val df = fileTable
      .filter(col("variable") === "tasmax" && col("ts") >= lit("1990-01-04 00:00:00").cast("timestamp"))
      .agg(count(lit(1)).as("n"), min("ts").as("ts_min"),
        max("lat").as("lat_max"), min("x").as("x_min"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FileGridAggScan"), plan)
    val got = df.collect()(0)
    val expect = GridData.cells(spark)
      .filter(col("variable") === "tasmax" && col("ts") >= lit("1990-01-04 00:00:00").cast("timestamp"))
      .agg(count(lit(1)), min("ts"), max("lat"), min("x")).collect()(0)
    assert(got == expect, s"pushed $got vs computed $expect")
    // and a value aggregate refuses pushdown but still reads correctly
    val v = fileTable.agg(round(avg("value"), 4)).collect()(0).getDouble(0)
    val ev = GridData.cells(spark).agg(round(avg("value"), 4)).collect()(0).getDouble(0)
    assert(v == ev)
  }
}
