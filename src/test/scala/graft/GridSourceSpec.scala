package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.domain.GridData
import graft.sources.SourceQueries

class GridSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("DSv2 grid equals the DataFrame generator cell-for-cell") {
    val fromSource = SourceQueries.gridTable(spark)
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
    val fromRange = GridData.cells(spark)
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
    assert(fromSource.count() == GridData.N)
    assert(fromSource.except(fromRange).count() == 0)
    assert(fromRange.except(fromSource).count() == 0)
  }

  test("metadata aggregates push completely: one row, zero cells generated") {
    val df = SourceQueries.gridTable(spark)
      .filter(col("variable") === "tasmin" && col("y") >= 5 && col("x").between(2, 9))
      .agg(count(lit(1)).as("n"), min("y").as("y_min"), max("lon").as("lon_max"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GridAggScan"), plan)
    val row = df.collect()(0)
    val expect = GridData.cells(spark)
      .filter(col("variable") === "tasmin" && col("y") >= 5 && col("x").between(2, 9))
      .agg(count(lit(1)), min("y"), max("lon")).collect()(0)
    assert(row == expect, s"pushed $row vs computed $expect")
  }

  test("reported statistics are exact for the pushed section") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val narrow = SourceQueries.gridTable(spark)
      .filter(col("variable") === "tasmax" && col("y") < 2 && col("x") < 3 &&
        col("ts") <= lit("1990-01-01 23:59:59").cast("timestamp"))
    val rel = narrow.queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r }.get
    // 1 var x 1 day x 2 ys x 3 xs = 6 rows x 64 B
    assert(rel.stats.sizeInBytes == BigInt(6 * 64), rel.stats)
    val full = SourceQueries.gridTable(spark).queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r }.get
    assert(full.stats.sizeInBytes == BigInt(GridData.N) * 64)
  }

  test("sub-day ts bounds narrow exactly (no day-floor leakage through claimed-handled filters)") {
    // cells sit at day starts; a mid-day lower bound must exclude that day
    for ((cond, tag) <- Seq(
      (col("ts") >= lit("1990-01-02 12:00:00").cast("timestamp"), "gte-mid"),
      (col("ts") > lit("1990-01-02 00:00:00").cast("timestamp"), "gt-exact"),
      (col("ts") < lit("1990-01-02 12:00:00").cast("timestamp"), "lt-mid"),
      (col("ts") <= lit("1990-01-02 00:00:00").cast("timestamp"), "lte-exact"))) {
      val pushed = SourceQueries.gridTable(spark).filter(cond)
      val expect = GridData.cells(spark).filter(cond)
      assert(pushed.count() == expect.count(), tag)
      // the pushed COUNT(*) aggregate trusts the same section
      val aggN = SourceQueries.gridTable(spark).filter(cond)
        .agg(count(lit(1))).collect()(0).getLong(0)
      assert(aggN == expect.count(), s"$tag (agg)")
    }
  }

  test("far-out ts bounds with a tiny step clamp instead of wrapping toInt") {
    // step = 1 µs: a year-3000 bound sits ~3.2e16 slices past the epoch, far
    // past Int range. A bound mapped to a slice index by truncation wraps
    // (possibly negative) and corrupts the section silently; the scan must
    // keep the semantics of these claimed-handled filters exact.
    val dir = java.nio.file.Files.createTempDirectory("graft-grf-us").toFile.getAbsolutePath
    graft.sources.GridFile.write(s"$dir/v.grf", "v", 4, 2, 3,
      graft.sources.GridSource.epochMicros, 1L, 44.0, 0.05, -80.0, 0.05) {
      (t, y, x) => Some((t * 100 + y * 10 + x).toDouble) }
    val tbl = spark.read.format(classOf[graft.sources.GridSource].getName)
      .option("path", dir).load()
    val all = 4L * 2 * 3
    def ts(s: String) = lit(s).cast("timestamp")
    for ((cond, expect, tag) <- Seq(
      // lower bound far in the future -> EMPTY, not wrapped
      (col("ts") >= ts("3000-01-01 00:00:00"), 0L, "gte-far"),
      (col("ts") > ts("3000-01-01 00:00:00"), 0L, "gt-far"),
      // upper bound far in the future -> every row
      (col("ts") <= ts("3000-01-01 00:00:00"), all, "lte-far"),
      // upper bound before the epoch -> EMPTY, not clamped up to slice 0
      (col("ts") <= ts("1970-01-01 00:00:00"), 0L, "lte-before"),
      (col("ts") < ts("1970-01-01 00:00:00"), 0L, "lt-before"),
      // lower bound before the epoch -> every row
      (col("ts") >= ts("1970-01-01 00:00:00"), all, "gte-before"))) {
      val df = tbl.filter(cond)
      // handled by the scan: no ts filter left for Spark to re-evaluate
      assert(df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f
      }.isEmpty, s"$tag\n${df.queryExecution.executedPlan}")
      assert(df.count() == expect, s"$tag (pushed COUNT)")
      assert(df.collect().length == expect, tag)
    }
  }

  test("lat/lon bbox narrows the section conservatively; results stay exact") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val bbox = col("lat").between(44.29, 44.49) && col("lon").between(-79.32, -78.99)
    val df = SourceQueries.gridTable(spark).filter(bbox)
    val rel = df.queryExecution.optimizedPlan
      .collectFirst { case r: DataSourceV2ScanRelation => r }.get
    val full = BigInt(GridData.N) * 64
    // the scan's own cardinality shrank (bbox reached the section) …
    assert(rel.stats.sizeInBytes < full / 4, s"${rel.stats.sizeInBytes} vs $full")
    // … and the results are identical to the unpruned evaluation
    val expect = GridData.cells(spark).filter(bbox).count()
    assert(df.count() == expect && expect > 0)
    // same through the file-backed path (real seeks)
    val fdf = spark.read.format(classOf[graft.sources.GridSource].getName)
      .option("path", SourceQueries.grfDir).load().filter(bbox)
    assert(fdf.count() == expect)
  }

  test("strict y/x bounds at Int extremes saturate instead of wrapping") {
    import org.apache.spark.sql.sources.{GreaterThan, LessThan}
    val s = graft.sources.GridSource.Section()
    val gt = s.narrow(GreaterThan("y", Int.MaxValue)).get
    assert(gt.y0 > gt.y1, s"y > MaxValue must empty the section: $gt")
    val lt = s.narrow(LessThan("x", Int.MinValue)).get
    assert(lt.x0 > lt.x1, s"x < MinValue must empty the section: $lt")
    // and the scan agrees end to end (claimed-handled filter is enforced)
    assert(SourceQueries.gridTable(spark).filter(col("y") > Int.MaxValue).count() == 0)
  }

  test("pushed aggregate over an empty section: count 0, min/max NULL") {
    val df = SourceQueries.gridTable(spark)
      .filter(col("x") > 100) // contradicts the grid extent
      .agg(count(lit(1)).as("n"), min("ts").as("ts_min"), max("y").as("y_max"))
    assert(df.queryExecution.executedPlan.toString.contains("GridAggScan"))
    val row = df.collect()(0)
    assert(row.getLong(0) == 0L && row.isNullAt(1) && row.isNullAt(2), row.toString)
  }

  test("a pushed aggregate projected with a scalar subquery still answers") {
    SourceQueries.gridTable(spark).createOrReplaceTempView("graft_grid_subq_v")
    val q = "SELECT count(*) + (SELECT max(id) FROM range(3)) AS n FROM graft_grid_subq_v WHERE y < 3"
    val df = spark.sql(q)
    assert(df.queryExecution.executedPlan.toString.contains("GridAggScan"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L * GridData.T * 3 * GridData.X + 2))
  }

  test("aggregates the section cannot answer (value, groupBy) do NOT push") {
    val grouped = SourceQueries.gridTable(spark)
      .groupBy("variable").agg(count(lit(1)))
    assert(!grouped.queryExecution.executedPlan.toString.contains("GridAggScan"))
    val onValue = SourceQueries.gridTable(spark).agg(min("value"))
    assert(!onValue.queryExecution.executedPlan.toString.contains("GridAggScan"))
    // and the value aggregate still computes correctly through the scan
    val got = onValue.collect()(0).getDouble(0)
    val expect = GridData.cells(spark).agg(min("value")).collect()(0).getDouble(0)
    assert(got == expect)
  }

  test("variable + time predicates prune partitions at planning time") {
    val full = SourceQueries.gridTable(spark)
    // every (variable, day) slice, packed into one partition per variable
    assert(TestSpark.gridSlices(full) ==
      Seq("tasmax", "tasmin").flatMap(v => (0 until GridData.T).map(v -> _)))
    assert(full.rdd.getNumPartitions == 2)
    val sliced = full.filter(col("variable") === "tasmax" &&
      col("ts").between(lit("1990-01-03 00:00:00").cast("timestamp"),
        lit("1990-01-06 23:59:59").cast("timestamp")))
    // 1 variable × 4 days planned (12 slices pruned before read)
    assert(TestSpark.gridSlices(sliced) == (2 to 5).map("tasmax" -> _))
    assert(sliced.rdd.getNumPartitions == 1)
  }

  test("index-range pushdown generates only the hyperslab") {
    val sliced = SourceQueries.gridTable(spark)
      .filter(col("y").between(5, 8) && col("x") < 3)
    // generated rows = vars × days × 4 y × 3 x; count proves the loops shrank
    assert(sliced.count() == 2 * GridData.T * 4 * 3)
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("GridScan"), plan)
  }

  test("unsupported predicates still evaluate correctly above the scan") {
    val odd = SourceQueries.gridTable(spark).filter(col("value") > 10.0)
    assert(odd.select(min("value")).as[Double].head() > 10.0)
  }

  test("column pruning reaches the reader") {
    val two = SourceQueries.gridTable(spark).select("y", "x")
    assert(two.schema.fieldNames.toSeq == Seq("y", "x"))
    assert(two.distinct().count() == GridData.Y * GridData.X)
  }
}
