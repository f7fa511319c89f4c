package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Scale
import graft.streaming.Streaming

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming windowed counts equal the batch twin (file source, availableNow)") {
    val stream = Streaming.eventsStream(spark, TestSpark.sf)
    assert(stream.isStreaming)
    val q = Streaming.windowedCounts(stream)
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // append mode only emits windows the watermark has passed; compare those
    val streamed = spark.table("win_out")
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val batch = Tables.events(spark, TestSpark.sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed.subsetOf(batch), "streamed windows disagree with batch twin")
    assert(streamed.nonEmpty, "watermark emitted no closed windows")
  }

  test("streaming drift monitor (chained stateful aggs) matches the batch twin per closed window") {
    val stream = Streaming.eventsStream(spark, TestSpark.sf)
    val ref = Streaming.refDistribution(Tables.events(spark, TestSpark.sf))
    val q = Streaming.driftStream(stream, ref)
      .writeStream.format("memory").queryName("drift_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("drift_out")
      .select("window_start", "n_events", "psi")
      .as[(java.sql.Timestamp, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed.nonEmpty, "watermark emitted no closed windows")
    val batch = SparkEntry.queries("q_drift_stream")(spark, TestSpark.sf)
      .as[(java.sql.Timestamp, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    streamed.foreach { case (w, (n, psi)) =>
      val (bn, bpsi) = batch.getOrElse(w, fail(s"window $w not in batch twin"))
      assert(n == bn, s"window $w: streamed $n events vs batch $bn")
      assert(math.abs(psi - bpsi) <= 1e-3, s"window $w: streamed PSI $psi vs batch $bpsi")
    }
  }

  test("late events beyond the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("k"), col("n"))
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    mem.addData((t("2024-01-01 10:00:00"), "a"), (t("2024-01-01 10:05:00"), "a"))
    q.processAllAvailable()
    // advance event time far ahead -> watermark passes the first window
    mem.addData((t("2024-01-01 11:00:00"), "b"))
    q.processAllAvailable()
    // this event is an hour behind the watermark: must be dropped
    mem.addData((t("2024-01-01 10:01:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_out").as[(java.sql.Timestamp, String, Long)].collect()
    val firstWindow = out.filter(r => r._1 == t("2024-01-01 10:00:00") && r._2 == "a")
    assert(firstWindow.map(_._3).sum == 2, s"late event leaked into closed window: ${out.mkString(",")}")
  }

  test("ApproxTopK heavy hitters run under readStream (mergeable sketch state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = mem.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.ApproxTopKFunctions.approx_top_k(col("k"), 2, 16).as("top"))
      .select(col("window.start").as("ws"), col("top"))
      .writeStream.format("memory").queryName("topk_out").outputMode("complete").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    mem.addData((t("2024-01-01 10:00:00"), "a"), (t("2024-01-01 10:01:00"), "b"),
      (t("2024-01-01 10:02:00"), "a"), (t("2024-01-01 10:03:00"), "c"),
      (t("2024-01-01 10:04:00"), "a"), (t("2024-01-01 10:05:00"), "b"))
    q.processAllAvailable()
    q.stop()
    val top = spark.table("topk_out").collect()
      .head.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top == Seq(("a", 3L), ("b", 2L)), top)
  }

  test("histogram quantile sketch aggregates under readStream (mergeable state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val q = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(graft.functions.HistogramFunctions
        .histogram_breaks(col("v"), numBreaks = 4).as("breaks"))
      .select(col("window.start").as("ws"), col("breaks"))
      .writeStream.format("memory").queryName("hist_out")
      .outputMode("append").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    // 1..100 split over two micro-batches: the state-store merge path runs
    mem.addData((1 to 50).map(i => (t("2024-01-01 10:00:00"), i.toDouble)): _*)
    q.processAllAvailable()
    mem.addData((51 to 100).map(i => (t("2024-01-01 10:05:00"), i.toDouble)): _*)
    q.processAllAvailable()
    mem.addData((t("2024-01-01 11:00:00"), 0.0)) // advance watermark, close window
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("hist_out")
      .as[(java.sql.Timestamp, Seq[Double])].collect()
      .filter(_._1 == t("2024-01-01 10:00:00"))
    assert(rows.length == 1)
    val breaks = rows.head._2
    assert(breaks.length == 3)
    // 100 distinct values > 64 bins: sketch regime — bound, don't equate
    Seq(25.0, 50.0, 75.0).zip(breaks).foreach { case (e, b) =>
      assert(math.abs(b - e) <= 5.0, s"break $b vs quartile $e")
    }
  }

  test("stream-static join enriches every event, matching the batch join") {
    val dim = spark.range(1000).select(col("id").as("user_id"), (col("id") % 3).as("segment"))
    val q = Streaming.enriched(Streaming.eventsStream(spark, TestSpark.sf), dim)
      .groupBy("segment").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("enrich_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enrich_out").as[(Long, Long)].collect().toMap
    val batch = Streaming.enriched(Tables.events(spark, TestSpark.sf), dim)
      .groupBy("segment").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch && streamed.values.sum > 0)
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = Streaming.dedupedStream(mem.toDF().toDF("event_id", "ts"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    mem.addData((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:01:00")),
      (1L, t("2024-01-01 10:02:00"))) // duplicate id within the watermark
    q.processAllAvailable()
    mem.addData((1L, t("2024-01-01 10:03:00")), (3L, t("2024-01-01 10:04:00")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("stream-stream interval join attributes purchases to prior clicks with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = Streaming.purchaseAttribution(
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      clicks.toDF().toDF("event_id", "user_id", "ts"))
      .writeStream.format("memory").queryName("attr_out").outputMode("append").start()
    clicks.addData((100L, 7L, t("2024-01-01 10:00:00")), // within 30 min of purchase
      (101L, 7L, t("2024-01-01 09:00:00")), // too old
      (102L, 8L, t("2024-01-01 10:10:00"))) // other user
    purchases.addData((1L, 7L, t("2024-01-01 10:15:00")))
    q.processAllAvailable()
    // advance both watermarks so the joined result is emitted
    clicks.addData((103L, 9L, t("2024-01-01 12:00:00")))
    purchases.addData((2L, 9L, t("2024-01-01 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("attr_out").select("p_id", "c_id")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 100L)), s"got $out")
  }

  test("left-outer stream-stream join emits the null row only after the click watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = Streaming.purchaseAttributionLeft(
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      clicks.toDF().toDF("event_id", "user_id", "ts"))
      .writeStream.format("memory").queryName("attr_left_out").outputMode("append").start()
    clicks.addData((100L, 7L, t("2024-01-01 10:00:00")))
    purchases.addData((1L, 7L, t("2024-01-01 10:15:00")), // matched by click 100
      (2L, 8L, t("2024-01-01 10:15:00"))) // no click for user 8 — null row
    q.processAllAvailable()
    def rows() = spark.table("attr_left_out").select("p_id", "c_id")
      .as[(Long, Option[Long])].collect().toSet
    // purchase 2 is not yet provably unmatched (clicks could still arrive
    // inside its interval), so only the matched row may have been emitted
    assert(!rows().contains((2L, None)), s"null row emitted before watermark: ${rows()}")
    // advance both watermarks far past purchase 2's interval
    clicks.addData((103L, 9L, t("2024-01-01 12:00:00")))
    purchases.addData((3L, 9L, t("2024-01-01 12:00:00")))
    q.processAllAvailable()
    q.stop()
    assert(rows().contains((1L, Some(100L))), s"matched row missing: ${rows()}")
    assert(rows().contains((2L, None)), s"unmatched purchase never emitted: ${rows()}")
  }

  test("full-outer stream-stream join emits both sides' null rows after their watermarks") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val purchases = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = Streaming.purchaseAttributionFull(
      purchases.toDF().toDF("event_id", "user_id", "ts"),
      clicks.toDF().toDF("event_id", "user_id", "ts"))
      .writeStream.format("memory").queryName("attr_full_out")
      .outputMode("append").start()
    clicks.addData((100L, 7L, t("2024-01-01 10:00:00")), // matched by purchase 1
      (101L, 5L, t("2024-01-01 10:00:00"))) // no purchase for user 5
    purchases.addData((1L, 7L, t("2024-01-01 10:15:00")),
      (2L, 8L, t("2024-01-01 10:15:00"))) // no click for user 8
    q.processAllAvailable()
    def rows() = spark.table("attr_full_out").select("p_id", "c_id")
      .as[(Option[Long], Option[Long])].collect().toSet
    // neither unmatched row is provably final yet
    assert(!rows().contains((Some(2L), None)) && !rows().contains((None, Some(101L))),
      s"null row emitted before its watermark: ${rows()}")
    // advance both watermarks far past every open interval
    clicks.addData((103L, 9L, t("2024-01-01 12:00:00")))
    purchases.addData((3L, 9L, t("2024-01-01 12:00:00")))
    q.processAllAvailable()
    q.stop()
    assert(rows().contains((Some(1L), Some(100L))), s"matched row missing: ${rows()}")
    assert(rows().contains((Some(2L), None)), s"unmatched purchase missing: ${rows()}")
    assert(rows().contains((None, Some(101L))), s"unmatched click missing: ${rows()}")
  }

  test("session_window under readStream: late data dropped, closed sessions equal the batch twin") {
    // the true-streaming form of q_session_late's semantics: watermarked
    // session windows in append mode emit each session once it can no longer
    // merge; an event behind the watermark must not reopen or extend it
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"))
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    // two users' sessions, then an event far ahead to advance the watermark
    mem.addData((t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 10:10:00"), 1L),
      (t("2024-01-01 10:20:00"), 1L), (t("2024-01-01 10:05:00"), 2L))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 12:00:00"), 9L)) // watermark → 11:50
    q.processAllAvailable()
    // 10:40 is 70 min behind the watermark: if it leaked it would surface as
    // a spurious session (user 1's 10:00–10:50 session already emitted)
    mem.addData((t("2024-01-01 10:40:00"), 1L))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 14:00:00"), 9L)) // close user 9's 12:00 session
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("session_out")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    // batch twin: same composition over the ON-TIME events, keeping sessions
    // the final watermark (13:50) has closed — q_session_late's tail cut
    val onTime = Seq(
      (t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 10:10:00"), 1L),
      (t("2024-01-01 10:20:00"), 1L), (t("2024-01-01 10:05:00"), 2L),
      (t("2024-01-01 12:00:00"), 9L), (t("2024-01-01 14:00:00"), 9L)
    ).toDF("ts", "user_id")
    val twin = onTime
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"))
      .filter(col("session_end") <= t("2024-01-01 13:50:00"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    assert(streamed == twin,
      s"streamed $streamed vs batch twin $twin")
    assert(streamed.exists(_._1 == 1L) && streamed.size == 3)
  }

  test("grid file source streams new .grf arrivals as micro-batches (DSv2 MicroBatchStream)") {
    import graft.sources.{GridFile, GridSource}
    val dir = java.nio.file.Files.createTempDirectory("graft-grf-stream").toFile.getAbsolutePath
    def writeVar(v: String, vid: Int): Unit =
      GridFile.write(s"$dir/$v.grf", v, 4, 6, 6,
        GridSource.epochMicros, 24L * 3600 * 1000000L,
        lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05) { (t, y, x) =>
        if ((t + y + x) % 17 == 0) None
        else Some(((t * 31 + y * 7 + x * 13 + vid * 5) % 100).toDouble / 2.0 - 10.0)
      }
    writeVar("tasmax", 0)
    // the filters narrow every micro-batch's section reads, batch-identically.
    // the variable IN filter names BOTH variables while only tasmax exists
    // yet: the pushed filter must hold its OWN values (not their intersection
    // with the files present at start), or tasmin's later arrival is
    // silently dropped from the stream forever
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .filter(col("variable").isin("tasmax", "tasmin") &&
        col("y") >= 2 && col("y") <= 4 && col("x") <= 3)
      .writeStream.format("memory").queryName("grf_stream").outputMode("append").start()
    q.processAllAvailable()
    val afterFirst = spark.table("grf_stream").count()
    assert(afterFirst > 0)
    // a new container lands between triggers -> exactly its rows arrive
    writeVar("tasmin", 1)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("grf_stream")
      .select("variable", "ts", "y", "x", "value")
      .collect().toSet
    assert(streamed.size > afterFirst, "second file's rows never arrived")
    // accumulated stream = the batch read of the final directory, row for row
    val batch = spark.read.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .filter(col("variable").isin("tasmax", "tasmin") &&
        col("y") >= 2 && col("y") <= 4 && col("x") <= 3)
      .select("variable", "ts", "y", "x", "value")
      .collect().toSet
    assert(streamed.exists(_.getString(0) == "tasmin"),
      "later-arriving filtered variable was dropped from the stream")
    assert(streamed == batch, "streamed rows diverge from the batch twin")
    // offset round-trip: the seen-file set survives JSON serialization
    val off = graft.sources.GridFilesOffset(Seq(s"$dir/tasmax.grf", s"$dir/tasmin.grf"))
    assert(graft.sources.GridFilesOffset.fromJson(off.json()) == off)
    assert(graft.sources.GridFilesOffset.fromJson(
      graft.sources.GridFilesOffset(Nil).json()) == graft.sources.GridFilesOffset(Nil))
  }

  test("grid stream honors the atomic-publish contract: in-progress names invisible until renamed") {
    import graft.sources.{GridFile, GridSource}
    val dir = java.nio.file.Files.createTempDirectory("graft-grf-tmp").toFile.getAbsolutePath
    def write(path: String): Unit =
      GridFile.write(path, "tasmax", 2, 4, 4,
        GridSource.epochMicros, 24L * 3600 * 1000000L,
        lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05) { (t, y, x) =>
        Some((t * 16 + y * 4 + x).toDouble)
      }
    write(s"$dir/seed.grf")
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .writeStream.format("memory").queryName("grf_tmp").outputMode("append").start()
    q.processAllAvailable()
    val seeded = spark.table("grf_tmp").count()
    assert(seeded == 2 * 4 * 4)
    // a writer lands a complete container under an in-progress name: the
    // listing must NOT read it (the real hazard is a HALF-written file; a
    // complete one stands in deterministically)
    write(s"$dir/late.grf.tmp")
    q.processAllAvailable()
    assert(spark.table("grf_tmp").count() == seeded, "in-progress file was read")
    // the rename IS the publish
    assert(new java.io.File(s"$dir/late.grf.tmp").renameTo(new java.io.File(s"$dir/late.grf")))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("grf_tmp").count() == 2 * seeded, "renamed file never arrived")
    // json4s offset encoding round-trips names the old hand-rolled format
    // rejected (quotes, commas, whitespace)
    val awkward = graft.sources.GridFilesOffset(
      Seq("/tmp/ c .grf", """/tmp/a,"b".grf"""))
    assert(graft.sources.GridFilesOffset.fromJson(awkward.json()) == awkward)
  }

  test("grid stream cold start: declared on an empty dir, first arrival fixes the layout") {
    import graft.sources.{GridFile, GridSource}
    val dir = java.nio.file.Files.createTempDirectory("graft-grf-cold").toFile.getAbsolutePath
    // the nightly-ingest declaration order: stream first, data later. Batch
    // reads of the empty dir are valid too (zero rows, schema intact)
    assert(spark.read.format(classOf[GridSource].getName)
      .option("path", dir).load().count() == 0)
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .filter(col("variable") === "tasmax" && col("y") <= 2)
      .writeStream.format("memory").queryName("grf_cold").outputMode("append").start()
    q.processAllAvailable() // first trigger: nothing yet, empty batch
    assert(spark.table("grf_cold").count() == 0)
    GridFile.write(s"$dir/tasmax.grf", "tasmax", 2, 4, 4,
      GridSource.epochMicros, 24L * 3600 * 1000000L,
      lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05) { (t, y, x) =>
      Some((t * 16 + y * 4 + x).toDouble)
    }
    q.processAllAvailable()
    val rows = spark.table("grf_cold").select("variable", "y", "x", "value").collect()
    // y <= 2 was NOT pushable at declaration time (no layout existed), so
    // Spark applied it — rows must still respect it, with full x extent
    assert(rows.nonEmpty && rows.forall(r => r.getInt(1) <= 2))
    assert(rows.length == 2 * 3 * 4, s"expected 2 t x 3 y x 4 x rows, got ${rows.length}")
    // a mismatched layout arriving later still fails loudly against the
    // first arrival's adopted baseline
    GridFile.write(s"$dir/zz_bad.grf", "tasmax", 2, 5, 4,
      GridSource.epochMicros, 24L * 3600 * 1000000L,
      lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05) { (t, y, x) =>
      Some(0.0)
    }
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("heterogeneous") ||
      Option(e.getCause).exists(_.getMessage.contains("heterogeneous")))
  }

  test("tiled grid stream cold start via format=grf2") {
    import graft.sources.{GridFile, GridSource}
    val dir = java.nio.file.Files.createTempDirectory("graft-grf2-cold").toFile.getAbsolutePath
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).option("format", "grf2").load()
      .writeStream.format("memory").queryName("grf2_cold").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("grf2_cold").count() == 0)
      // first GRF2 container lands: its (tiled) layout becomes the baseline
      val tiles = for (ty <- 0 until 2; tx <- 0 until 2)
        yield (ty, tx, Array.tabulate(2 * 2 * 2)(i => (ty * 100 + tx * 10 + i).toDouble))
      GridFile.writeTiled(s"$dir/t0.grf", "tasmax", tDim = 2, yDim = 4, xDim = 4,
        tileY = 2, tileX = 2, epochMicros = GridSource.epochMicros,
        stepMicros = 24L * 3600 * 1000000L,
        lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05, tiles = tiles)
      q.processAllAvailable()
      assert(spark.table("grf2_cold").count() == 2L * 4 * 4)
    } finally q.stop()
  }

  test("grid stream rejects a NetCDF file arriving in a .grf dir, loudly") {
    import graft.sources.{GridFile, GridSource}
    val dir = java.nio.file.Files.createTempDirectory("graft-grf-mixed").toFile.getAbsolutePath
    GridFile.write(s"$dir/tasmax.grf", "tasmax", 2, 4, 4,
      GridSource.epochMicros, 24L * 3600 * 1000000L,
      lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05) { (t, y, x) =>
      Some((t * 16 + y * 4 + x).toDouble)
    }
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .writeStream.format("memory").queryName("grf_mixed").outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("grf_mixed").count() > 0)
    // a .nc drop lands in the wrong dir: the open-time mixed-dir reject
    // never saw it, and silently ignoring it would lose data — fail loudly
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/late.nc"),
      Array[Byte](0x43, 0x44, 0x46, 0x01)) // CDF-1 magic
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("NetCDF file arrived")), msgs(e).mkString(" | "))
    // and the other direction: a .grf landing in a NetCDF stream dir
    val ncDir = java.nio.file.Files.createTempDirectory("graft-nc-mixed").toFile.getAbsolutePath
    java.nio.file.Files.copy(java.nio.file.Paths.get(graft.sources.SourceQueries.ncDir, "tasmax.nc"),
      java.nio.file.Paths.get(ncDir, "tasmax.nc"))
    val q2 = spark.readStream.format(classOf[GridSource].getName)
      .option("path", ncDir).load()
      .writeStream.format("memory").queryName("nc_mixed").outputMode("append").start()
    q2.processAllAvailable()
    assert(spark.table("nc_mixed").count() > 0)
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/tasmax.grf"),
      java.nio.file.Paths.get(ncDir, "late.grf"))
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(msgs(e2).exists(_.contains(".grf file arrived in a NetCDF streaming dir")),
      msgs(e2).mkString(" | "))
  }

  test("grid stream restart recovers the seen-file offset from the checkpoint") {
    import graft.sources.{GridFile, GridSource}
    val dir = java.nio.file.Files.createTempDirectory("graft-grf-ckpt").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft-grf-ckpt-loc").toFile.getAbsolutePath
    def writeVar(v: String, vid: Int): Unit =
      GridFile.write(s"$dir/$v.grf", v, 2, 4, 4,
        GridSource.epochMicros, 24L * 3600 * 1000000L,
        lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05) { (t, y, x) =>
        Some((t * 16 + y * 4 + x + vid * 100).toDouble)
      }
    val outDir = java.nio.file.Files.createTempDirectory("graft-grf-ckpt-out").toFile.getAbsolutePath
    // the memory sink refuses checkpoint recovery; the file sink is the
    // recoverable one (and makes the no-duplicates assertion end-to-end)
    def start() = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    writeVar("tasmax", 0)
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(outDir).count() == 32, "expected 2*4*4 rows")
    // restart against the SAME checkpoint: the recovered offset must skip
    // the already-processed file — only the new arrival forms a batch
    // (deserializeOffset is on this path; a broken round-trip re-reads
    // everything, duplicating the first file's rows in the sink)
    writeVar("tasmin", 1)
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 64, s"restart re-read old files: ${out.count()} rows")
    import spark.implicits._
    val perVar = out.groupBy("variable").count()
      .as[(String, Long)].collect().toMap
    assert(perVar == Map("tasmax" -> 32L, "tasmin" -> 32L), s"got $perVar")
  }

  test("NetCDF stream restart resumes from a checkpoint offset of bare file names") {
    import java.nio.file.{Files, Paths}
    import graft.sources.{GridSource, SourceQueries}
    val dir = Files.createTempDirectory("graft-nc-ckpt").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft-nc-ckpt-loc").toFile.getAbsolutePath
    val outDir = Files.createTempDirectory("graft-nc-ckpt-out").toFile.getAbsolutePath
    def land(f: String): Unit = Files.copy(Paths.get(SourceQueries.ncDir, f), Paths.get(dir, f))
    def start() = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    land("tasmax.nc")
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    val first = spark.read.parquet(outDir).count()
    assert(first > 0)
    // NetCDF streams once checkpointed bare file names, not paths: rewrite
    // the committed offsets to that form (dropping their checksums) so the
    // restart resumes from an offset such a stream wrote
    val offsets = new java.io.File(ckpt, "offsets")
    val logs = offsets.listFiles().filter(_.getName.forall(_.isDigit))
    assert(logs.nonEmpty, "no committed offset to rewrite")
    logs.foreach { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      val bare = text.replace(s"$dir/", "")
      assert(bare != text && bare.contains("\"tasmax.nc\""), text)
      Files.write(f.toPath, bare.getBytes("UTF-8"))
      new java.io.File(offsets, s".${f.getName}.crc").delete()
    }
    land("tasmin.nc")
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(outDir)
    import spark.implicits._
    val perVar = out.groupBy("variable").count().as[(String, Long)].collect().toMap
    assert(perVar == Map("tasmax" -> first, "tasmin" -> first),
      s"restart re-read or lost files: $perVar")
    assert(out.select("variable", "ts", "y", "x").distinct().count() == out.count())
  }

  test("tiled GRF2 source streams new containers as micro-batches") {
    import graft.sources.{GridFile, GridSource}
    val dir = java.nio.file.Files.createTempDirectory("graft-grf2-stream").toFile.getAbsolutePath
    def writeVar(v: String, vid: Int): Unit = {
      val cube = Array.tabulate(2 * 5 * 5)(k => (k + vid * 7).toDouble)
      GridFile.writeTiled(s"$dir/$v.grf", v, 2, 5, 5, 5, 5,
        GridSource.epochMicros, 24L * 3600 * 1000000L,
        44.0, 0.05, -80.0, 0.05, Seq((0, 0, cube)))
    }
    writeVar("tasmax", 0)
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .filter(col("x") <= 2)
      .writeStream.format("memory").queryName("grf2_stream").outputMode("append").start()
    q.processAllAvailable()
    val afterFirst = spark.table("grf2_stream").count()
    assert(afterFirst > 0)
    writeVar("tasmin", 1)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("grf2_stream")
      .select("variable", "ts", "y", "x", "value").collect().toSet
    assert(streamed.size > afterFirst, "second container's rows never arrived")
    val batch = spark.read.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .filter(col("x") <= 2)
      .select("variable", "ts", "y", "x", "value").collect().toSet
    assert(streamed == batch, "streamed rows diverge from the batch twin")
  }

  test("HDF5 (NetCDF-4) drop dir streams new containers as micro-batches") {
    import java.nio.file.{Files, Paths}
    import graft.sources.{GridSource, SourceQueries}
    val dir = Files.createTempDirectory("graft-nc4-stream").toFile.getAbsolutePath
    // seed: the chunked shuffle+deflate container; the later drop is the
    // contiguous twin — both decode through the HDF5 subset codec
    Files.copy(Paths.get(SourceQueries.nc4Dir, "tasmax.nc4"),
      Paths.get(dir, "tasmax.nc4"))
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .filter(col("y") < 5) // pushdown applies to streamed HDF5 cubes too
      .writeStream.format("memory").queryName("nc4_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("nc4_stream").count()
      assert(afterFirst == 8L * 5 * 30)
      Files.copy(Paths.get(SourceQueries.nc4Dir, "tasmin.nc4"),
        Paths.get(dir, "tasmin.nc4"))
      q.processAllAvailable()
      val streamed = spark.table("nc4_stream")
        .select("variable", "ts", "y", "x", "value").collect().toSet
      assert(streamed.size > afterFirst, "second HDF5 container never arrived")
      // accumulated stream = the batch read of the final dir, row for row
      val batch = spark.read.format(classOf[GridSource].getName)
        .option("path", dir).load()
        .filter(col("y") < 5)
        .select("variable", "ts", "y", "x", "value").collect().toSet
      assert(streamed == batch, "streamed HDF5 rows diverge from the batch twin")
    } finally q.stop()
  }

  test("format-migrated stream: an HDF5 container arriving in a classic .nc dir is sniffed per file") {
    import java.nio.file.{Files, Paths}
    import graft.sources.{GridSource, SourceQueries}
    val dir = Files.createTempDirectory("graft-nc-migr").toFile.getAbsolutePath
    Files.copy(Paths.get(SourceQueries.ncDir, "tasmax.nc"),
      Paths.get(dir, "tasmax.nc"))
    val q = spark.readStream.format(classOf[GridSource].getName)
      .option("path", dir).load()
      .filter(col("y") < 5)
      .writeStream.format("memory").queryName("nc_migr").outputMode("append").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("nc_migr").count()
      assert(afterFirst == 8L * 5 * 30)
      // the archive migrated formats mid-stream: the same grid, HDF5 bytes.
      // NcIo sniffs the magic per file, so the arrival is just a new cube
      Files.copy(Paths.get(SourceQueries.nc4Dir, "tasmin.nc4"),
        Paths.get(dir, "tasmin.nc4"))
      q.processAllAvailable()
      val streamed = spark.table("nc_migr")
        .select("variable", "ts", "y", "x", "value").collect().toSet
      val batch = spark.read.format(classOf[GridSource].getName)
        .option("path", dir).load()
        .filter(col("y") < 5)
        .select("variable", "ts", "y", "x", "value").collect().toSet
      assert(streamed.exists(_.getString(0) == "tasmin"),
        "migrated-format container was dropped from the stream")
      assert(streamed == batch, "mixed-container stream diverges from the batch twin")
    } finally q.stop()
  }

  test("streaming ingest leaves small files; compaction maintenance preserves rows") {
    implicit val sqlCtx = spark.sqlContext
    // the production sequence the compaction op exists for: micro-batch
    // ingest appends a few small parquet files per trigger, the nightly
    // maintenance pass re-packs them, queries see identical rows either way
    val ingest = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val mem = MemoryStream[(Long, String, Double)]
    val q = mem.toDF().toDF("k", "tag", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.repartition(4).write.mode("append").parquet(ingest)
      }
      .start()
    (0 until 6).foreach { b =>
      mem.addData((0 until 50).map(i => (b * 50L + i, s"t${i % 3}", i * 1.5)))
      q.processAllAvailable()
    }
    q.stop()
    val nSmall = Scale.listParquet(spark, ingest).length
    assert(nSmall >= 20, s"expected many per-trigger files, got $nSmall")
    val out = java.nio.file.Files.createTempDirectory("graft-ingest-opt").toString
    val total = Scale.listParquet(spark, ingest).map(_._2).sum
    val nOut = Scale.compactParquet(spark, ingest, out, math.max(total / 3, 16L << 10))
    assert(nOut < nSmall / 3, s"compaction left $nOut of $nSmall files")
    val a = spark.read.parquet(ingest).as[(Long, String, Double)].collect().sortBy(_._1)
    val b = spark.read.parquet(out).as[(Long, String, Double)].collect().sortBy(_._1)
    assert(a.sameElements(b), "maintenance pass changed the row multiset")
  }

  test("foreachBatch maintains the on-disk IVF-PQ index across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.similarity.{IvfPq, Similarity}
    val (cents, cb) = Similarity.prepareIvfPqIndex(spark, TestSpark.sf)
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-ivfpq-stream").toString
    // the streaming twin of IvfPq.appendShard: each arriving micro-batch
    // pays ONE encode projection against the frozen coarse centroids +
    // codebooks and appends its codes to the cid-partitioned index table —
    // the on-disk layout where the probe-time cid filter IS partition
    // pruning (the local[] cache analogue is batch pruning, see IvfPq doc)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        IvfPq.encode(batch, cents, cb)
          .write.mode("append").partitionBy("cid").parquet(idxDir)
      }
      .start()
    val rows = emb.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val (first, second) = rows.partition(_._1 < 400)
    mem.addData(first.toSeq); q.processAllAvailable()
    mem.addData(second.toSeq); q.processAllAvailable()
    q.stop()
    val disk = spark.read.parquet(idxDir)
      .select(col("vec_id"), col("cid"), col("codes"), col("norm"))
    // the maintained on-disk index is row-identical to a full batch re-encode
    val full = IvfPq.encode(emb, cents, cb)
    assert(disk.orderBy("vec_id").collect()
      .sameElements(full.orderBy("vec_id").collect()),
      "streamed index diverged from full re-encode")
    // ...so the cell-pruned search over it is identical too
    val a = IvfPq.topK(emb, cents, cb, 1L, 20, Similarity.IvfPqNprobe,
      Similarity.PqRerank, encoded = Some(disk)).collect()
    val b = IvfPq.topK(emb, cents, cb, 1L, 20, Similarity.IvfPqNprobe,
      Similarity.PqRerank).collect()
    assert(a.sameElements(b), "topK over the streamed index diverged")
    // probe-time cid filter reaches the scan as a PARTITION filter: at
    // 100 TB the probed cells are the only files read
    val probed = disk.filter(col("cid") === 3)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:"), plan)
    assert(plan.split("PartitionFilters:").exists(_.take(200).contains("cid")), plan)
  }

  test("foreachBatch maintains the on-disk inverted index across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.TextIndex
    // the streaming twin of TextIndex.writeShard-at-ingest: each arriving
    // micro-batch of documents becomes one index shard (shard = batchId,
    // overwrite mode so a RETRIED batch replaces its own partial output
    // instead of erroring or duplicating), and retrieval over the streamed
    // index answers exactly what a one-shot batch build answers
    val docs = Tables.documents(spark, TestSpark.sf).select("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("graft-tix-stream").toString
    import spark.implicits._
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        TextIndex.writeShard(batch.toDF(), idxDir, batchId.toInt, overwrite = true)
      }
      .start()
    val rows = docs.as[(Long, String)].collect()
    val (first, second) = rows.partition(_._1 < 250)
    mem.addData(first.toSeq); q.processAllAvailable()
    mem.addData(second.toSeq); q.processAllAvailable()
    q.stop()
    // a retry of the LAST batch (same shard id, same data) must be a no-op
    TextIndex.writeShard(second.toSeq.toDF("doc_id", "text"), idxDir, 1,
      overwrite = true)
    val batchDir = java.nio.file.Files.createTempDirectory("graft-tix-batch").toString
    TextIndex.writeShard(docs, batchDir, 0)
    assert(TextIndex.mergedDf(spark, idxDir).orderBy("token").collect().toSeq ==
      TextIndex.mergedDf(spark, batchDir).orderBy("token").collect().toSeq,
      "streamed df state diverged from batch build")
    assert(TextIndex.bm25Indexed(spark, idxDir).collect().toSeq ==
      TextIndex.bm25Indexed(spark, batchDir).collect().toSeq,
      "retrieval over the streamed index diverged from batch build")
  }

  test("foreachBatch maintains containment-admission state across micro-batches (continuous corpus ingest)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.dedup.Dedup
    // the streaming corpus-ingest loop: every arriving shard is admitted
    // against the maintained posting state, admitted docs land in the
    // corpus sink, and the state folds the ADMITTED docs in — so a later
    // batch quoting an earlier-admitted doc is rejected without ever
    // rescanning the corpus
    val outDir = java.nio.file.Files.createTempDirectory("graft-cont-ingest").toString
    import spark.implicits._
    var state = Dedup.containmentPostings(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).localCheckpoint(true)
    val docA = "the famous historical speech begins with four score and seven years " +
      "ago our fathers brought forth a new nation conceived in liberty"
    val docC = "completely separate technical manual describing the operation of the " +
      "hydraulic pump assembly under sustained negative pressure conditions"
    val quoteA = "four score and seven years ago our fathers brought forth a new nation"
    val quoteC = "describing the operation of the hydraulic pump assembly under sustained"
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val admitted = Dedup.incrementalContainmentAdmit(batch.toDF(), state)
          .localCheckpoint(true)
        admitted.write.mode("append").parquet(outDir)
        state = Dedup.appendContainmentShard(state, admitted).localCheckpoint(true)
      }
      .start()
    mem.addData((1L, docA), (2L, "unrelated short note about lunch plans today"))
    q.processAllAvailable()
    mem.addData((3L, quoteA), (4L, docC)) // 3 quotes an ADMITTED doc → rejected
    q.processAllAvailable()
    mem.addData((5L, quoteC))             // quotes a doc admitted mid-stream
    q.processAllAvailable()
    q.stop()
    val admittedIds = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    assert(admittedIds == Set(1L, 2L, 4L), s"got $admittedIds")
    // and the maintained state equals a rebuild over exactly the admitted docs
    val admittedDocs = Seq((1L, docA),
      (2L, "unrelated short note about lunch plans today"), (4L, docC))
      .toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("g"), col("df"), array_sort(col("ds")).as("ds"))
      .as[(Long, Long, Seq[Long])].collect().toSet
    assert(canon(state) == canon(Dedup.containmentPostings(admittedDocs)),
      "maintained state diverged from rebuild over admitted docs")
  }

  test("foreachBatch maintains segment-df state across micro-batches (streaming boilerplate scrub)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.TextAnalysis
    // the streaming twin of q_segment_scrub: each arriving shard is scrubbed
    // against the maintained corpus segment-df state (C4's seen-more-than-
    // once rule), the scrubbed docs land in the sink, and the state folds
    // the shard's RAW segments in — so boilerplate introduced by earlier
    // batches scrubs later ones without a corpus rebuild
    val outDir = java.nio.file.Files.createTempDirectory("graft-seg-scrub").toString
    import spark.implicits._
    var state = TextAnalysis.segmentDf(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).localCheckpoint(true)
    // 6 tokens landing after a 4-token prefix → exactly 2 shared segments
    val boiler = "subscribe to our newsletter for updates"
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        TextAnalysis.scrubSegments(batch.toDF(), state, minDf = 2)
          .localCheckpoint(true)
          .write.mode("append").parquet(outDir)
        state = TextAnalysis.appendSegmentShard(state, batch.toDF()).localCheckpoint(true)
      }
      .start()
    mem.addData((1L, s"alpha beta gamma delta $boiler"),
      (2L, s"epsilon zeta eta theta $boiler"))
    q.processAllAvailable()
    mem.addData((3L, s"iota kappa lambda mu $boiler"))   // boiler now df=2 → scrubbed
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .select("doc_id", "n_dropped", "clean_text")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // batch 1: state was empty, nothing scrubbed
    assert(out(0) == ((1L, 0L, s"alpha beta gamma delta $boiler")))
    assert(out(1) == ((2L, 0L, s"epsilon zeta eta theta $boiler")))
    // batch 2: both boilerplate segments hit df=2 in the folded state
    assert(out(2) == ((3L, 2L, "iota kappa lambda mu")), s"got ${out(2)}")
    // the maintained state equals a rebuild over everything ingested
    val allDocs = Seq((1L, s"alpha beta gamma delta $boiler"),
      (2L, s"epsilon zeta eta theta $boiler"),
      (3L, s"iota kappa lambda mu $boiler")).toDF("doc_id", "text")
    assert(state.as[(String, Long)].collect().toSet ==
      TextAnalysis.segmentDf(allDocs).as[(String, Long)].collect().toSet,
      "maintained state diverged from full rebuild")
  }

  test("foreachBatch commits micro-batches as snapshot versions; a consumer tails readChanges") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Snapshots
    import spark.implicits._
    // streaming ingest INTO the versioned table: each micro-batch is one
    // atomic snapshot commit, so a downstream consumer reads exactly-once
    // increments via readChanges and a pinned reader never sees a torn batch
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-stream").toString
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) { Snapshots.commit(spark, dir, batch.toDF()); () }
      }
      .start()
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    val v1 = Snapshots.currentVersion(spark, dir).get
    mem.addData((3L, "c"))
    q.processAllAvailable()
    mem.addData((4L, "d"))
    q.processAllAvailable()
    q.stop()
    val head = Snapshots.currentVersion(spark, dir).get
    assert(head == v1 + 2, s"each micro-batch must be one version ($v1 -> $head)")
    // the consumer's incremental tail since v1 is exactly batches 2+3
    assert(Snapshots.readChanges(spark, dir, v1, head)
      .as[(Long, String)].collect().toSet == Set((3L, "c"), (4L, "d")))
    // and the pinned v1 read still returns only batch 1
    assert(Snapshots.read(spark, dir, Some(v1))
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("snapshots source tails commits as micro-batches, exactly-once") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snapsrc").toString
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val q = spark.readStream.format("snapshots").option("path", dir).load()
      .writeStream.format("memory").queryName("snap_tail").outputMode("append")
      .start()
    q.processAllAvailable()
    assert(spark.table("snap_tail").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")), "initial snapshot batch wrong")
    // two more commits while the stream runs: each arrives exactly once
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    q.processAllAvailable()
    Snapshots.commit(spark, dir, Seq((4L, "d")).toDF("k", "v"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("snap_tail").as[(Long, String)].collect().toSeq
    assert(got.size == 4 && got.toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")),
      s"tail diverged or duplicated: $got")
  }

  test("snapshots source startingVersion skips history; replace fails the stream loudly") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snapsrc2").toString
    Snapshots.commit(spark, dir, Seq((1L, "old")).toDF("k", "v"))
    val v1 = Snapshots.currentVersion(spark, dir).get
    val q = spark.readStream.format("snapshots").option("path", dir)
      .option("startingVersion", v1.toString).load()
      .writeStream.format("memory").queryName("snap_tail2").outputMode("append")
      .start()
    q.processAllAvailable()
    assert(spark.table("snap_tail2").isEmpty, "history leaked past startingVersion")
    Snapshots.commit(spark, dir, Seq((2L, "new")).toDF("k", "v"))
    q.processAllAvailable()
    assert(spark.table("snap_tail2").as[(Long, String)].collect().toSet ==
      Set((2L, "new")))
    // a REPLACE rewrites history: the tail must refuse, not misreport
    Snapshots.commit(spark, dir, Seq((9L, "rw")).toDF("k", "v"), replace = true)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(ex).exists(m => m != null && m.contains("replace commit")),
      s"stream failed for the wrong reason: ${chain(ex)}")
    q.stop()
  }

  test("snapshots source recovers its version offset from the checkpoint (kill + restart)") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snapsrc3").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snapsrc3-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-snapsrc3-out").toString
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    def run(): Unit = {
      val q = spark.readStream.format("snapshots").option("path", dir).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    run()
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    // restart from the SAME checkpoint: only the unseen commit may arrive
    run()
    val got = spark.read.parquet(out).as[(Long, String)].collect().toSeq
    assert(got.size == 2 && got.toSet == Set((1L, "a"), (2L, "b")),
      s"checkpoint recovery duplicated or lost rows: $got")
  }

  test("snapshots tail survives a retention sweep: the reader pin clamps expire") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snapsrc5").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snapsrc5-ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft-snapsrc5-out").toString
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    def run(): Unit = {
      val q = spark.readStream.format("snapshots").option("path", dir).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable(); q.stop()
    }
    run() // consumes v1, leaves a pin at its last-committed offset
    assert(Snapshots.readerPins(spark, dir).nonEmpty, "source left no pin")
    // commits land while the stream is DOWN; a compactor then runs an
    // aggressive retention sweep that would drop everything below head
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    Snapshots.expire(spark, dir, keepFrom = Snapshots.currentVersion(spark, dir).get)
    // the pinned offset version must have survived for the replay plan
    assert(Snapshots.versions(spark, dir).head <=
      Snapshots.readerPins(spark, dir).values.min,
      "expire dropped a version the checkpointed tail still needs")
    run() // restart: resumes from the checkpoint across the sweep
    val got = spark.read.parquet(out).as[(Long, String)].collect().toSeq
    assert(got.size == 3 && got.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"tail across an expire duplicated or lost rows: $got")
  }

  test("snapshots CDF tail survives merge and delete, delivering row-level changes") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snapcdf-src").toString
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val rows = new java.util.concurrent.CopyOnWriteArrayList[(Int, String, Long, String)]()
    val q = spark.readStream.format("snapshots").option("path", dir)
      .option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => rows.add((
          r.getAs[Int]("_commit_version"), r.getAs[String]("_change_type"),
          r.getAs[Long]("k"), r.getAs[String]("v"))))
        ()
      }
      .start()
    q.processAllAvailable()
    // a MERGE and a DELETE land while the tail runs — the plain tail would
    // fail on either; the CDF tail delivers them as row changes
    Snapshots.mergeInto(spark, dir, Seq((1L, "A"), (3L, "c")).toDF("k", "v"), "k")
    Snapshots.deleteRange(spark, dir, "k", Some(2L), Some(2L))
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Int, String, Long, String)]).toSet
    val want = Set(
      (1, "insert", 1L, "a"), (1, "insert", 2L, "b"),
      (2, "update_pre", 1L, "a"), (2, "update_post", 1L, "A"),
      (2, "insert", 3L, "c"),
      (3, "delete", 2L, "b"))
    assert(got == want, s"CDF tail diverged: extra ${got -- want}, missing ${want -- got}")
  }

  test("plain snapshot tail survives row-preserving maintenance with zero extra rows") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-tail-maint").toString
    val out = java.nio.file.Files.createTempDirectory("graft-tail-maint-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tail-maint-ck").toString
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val q = spark.readStream.format("snapshots").option("path", dir).load()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    // maintenance lands mid-tail: before r17 this killed the stream with
    // the replace refusal; a data-preserving rewrite now tails as zero rows
    Snapshots.compact(spark, dir, targetBytes = 1L << 20)
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"maintenance duplicated or dropped tail rows: $got")
  }

  test("snapshot tail binds to its declared schema across a mid-stream column add") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-tail-evo").toString
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val rows = new java.util.concurrent.CopyOnWriteArrayList[(Long, String)]()
    val q = spark.readStream.format("snapshots").option("path", dir).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the batch must carry EXACTLY the declared columns, in order —
        // an evolved extra column would misbind everything after it
        assert(b.columns.toSeq == Seq("k", "v"), b.columns.toSeq)
        b.collect().foreach(r => rows.add((r.getLong(0), r.getString(1))))
        ()
      }.start()
    q.processAllAvailable()
    // schema-evolving append lands MID-STREAM: the tail keeps delivering
    // the declared columns (the new one waits for a query restart)
    Snapshots.commit(spark, dir,
      Seq((2L, "b", 9.0)).toDF("k", "v", "extra"), evolve = true)
    q.processAllAvailable()
    q.stop()
    assert(rows.toArray.toSet == Set((1L, "a"), (2L, "b")),
      s"evolved append misbound the tail: ${rows.toArray.toSet}")
  }

  test("CDF tail delivers merge-on-read (deletion-vector) changes row-level") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf-mor").toString
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val rows = new java.util.concurrent.CopyOnWriteArrayList[(Int, String, Long, String)]()
    val q = spark.readStream.format("snapshots").option("path", dir)
      .option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => rows.add((
          r.getAs[Int]("_commit_version"), r.getAs[String]("_change_type"),
          r.getAs[Long]("k"), r.getAs[String]("v"))))
        ()
      }
      .start()
    q.processAllAvailable()
    // MoR upsert and MoR delete land mid-tail: zero data files rewrite,
    // yet the feed carries the same row-level changes the CoW ops would
    Snapshots.mergeIntoMor(spark, dir, Seq((1L, "A"), (3L, "c")).toDF("k", "v"), "k")
    Snapshots.deleteRangeMor(spark, dir, "k", Some(2L), Some(2L))
    q.processAllAvailable()
    q.stop()
    val got = rows.toArray.map(_.asInstanceOf[(Int, String, Long, String)]).toSet
    val want = Set(
      (1, "insert", 1L, "a"), (1, "insert", 2L, "b"),
      (2, "update_pre", 1L, "a"), (2, "update_post", 1L, "A"),
      (2, "insert", 3L, "c"),
      (3, "delete", 2L, "b"))
    assert(got == want, s"MoR CDF tail diverged: extra ${got -- want}, missing ${want -- got}")
  }

  test("live mview kill+restart: streamed view equals batch rebuild across merge/delete/compact") {
    import graft.operators.{Mview, Snapshots}
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft-mvkr-$tag").toFile.getAbsolutePath
    val (src, view, ckpt) = (tmp("src"), tmp("v"), tmp("ck"))
    Snapshots.commit(spark, src,
      Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (2L, 3L, 30.0)).toDF("g", "k", "p"))
    def serve() = Mview.serveViaFeed(spark, src, view, Seq("g"), Seq("p"), ckpt)
    val q1 = serve()
    q1.processAllAvailable()
    Snapshots.mergeInto(spark, src,
      Seq((1L, 2L, 200.0), (3L, 9L, 90.0)).toDF("g", "k", "p"), "k")
    q1.processAllAvailable()
    q1.stop() // kill mid-life
    // commits land while the serving loop is DOWN — including maintenance
    Snapshots.deleteRange(spark, src, "k", Some(3L), Some(3L))
    Snapshots.compact(spark, src, targetBytes = 1L << 20)
    Snapshots.commit(spark, src, Seq((2L, 11L, 40.0)).toDF("g", "k", "p"))
    val q2 = serve() // restart from the checkpoint
    q2.processAllAvailable()
    q2.stop()
    val got = Snapshots.read(spark, view)
      .select("g", "cnt", "sum_p", "cntv_p")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    // batch truth: aggregate the final source state directly
    val want = Snapshots.read(spark, src).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("p").as("sum_p"), count("p").as("cntv_p"))
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got == want, s"live view diverged from batch rebuild: $got vs $want")
    assert(got == Seq((1L, 2L, 210.0, 2L), (2L, 1L, 40.0, 1L), (3L, 1L, 90.0, 1L)),
      s"unexpected final state: $got")
  }

  test("live aggregate over an upsert table: CDF stream + signed weights equals batch") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snapcdf-agg").toString
    Snapshots.commit(spark, dir,
      Seq((1L, 1L, 10.0), (1L, 2L, 20.0), (2L, 3L, 30.0)).toDF("g", "k", "p"))
    // the live-mview pattern: a streaming aggregation over the change feed
    // with signed weights — updates and deletes FOLD into the running
    // totals instead of failing the stream or double-counting
    val w = when($"_change_type".isin("insert", "update_post"), 1L)
      .otherwise(lit(-1L))
    val q = spark.readStream.format("snapshots").option("path", dir)
      .option("readChangeFeed", "true").load()
      .groupBy("g")
      .agg(sum(w).as("cnt"), sum($"p" * w).as("sum_p"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("live_mv")
      .start()
    q.processAllAvailable()
    Snapshots.mergeInto(spark, dir,
      Seq((1L, 2L, 99.0), (2L, 4L, 40.0)).toDF("g", "k", "p"), "k")
    Snapshots.deleteRange(spark, dir, "k", Some(3L), Some(3L))
    q.processAllAvailable()
    q.stop()
    val live = spark.table("live_mv").filter($"cnt" > 0)
      .select($"g", $"cnt", $"sum_p").as[(Long, Long, Double)]
      .collect().toSet
    val batch = Snapshots.read(spark, dir).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("p").as("sum_p"))
      .as[(Long, Long, Double)].collect().toSet
    assert(live == batch, s"live aggregate diverged: live=$live batch=$batch")
  }

  test("snapshots source maxVersionsPerTrigger paces the tail one version per batch") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snapsrc4").toString
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val q = spark.readStream.format("snapshots").option("path", dir)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          batches.incrementAndGet()
          b.collect().foreach(r => rows.add(r.getLong(0)))
        }; ()
      }
      .start()
    q.processAllAvailable()
    assert(batches.get == 1, "initial snapshot should be one batch")
    // a 3-commit backlog must drain as THREE paced batches, not one
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((4L, "d")).toDF("k", "v"))
    q.processAllAvailable()
    q.stop()
    assert(batches.get == 4, s"expected 1 + 3 paced batches, got ${batches.get}")
    assert(rows.toArray.toSet == Set(1L, 2L, 3L, 4L), "paced tail lost/duplicated rows")
  }

  test("foreachBatch maintains bigram-LM state across micro-batches (streaming perplexity gate)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.text.TextAnalysis
    import spark.implicits._
    // the streaming twin of q_lm_admit's state side: each arriving train
    // shard folds its bigram counts and vocabulary into the maintained LM
    // state; the state must equal a full rebuild over everything ingested,
    // so admission scoring against it is EXACTLY the oracle-checked batch
    // scoring — no drift, no rescans
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    var (c12, vocab) = TextAnalysis.lmCounts(empty)
    c12 = c12.localCheckpoint(true); vocab = vocab.localCheckpoint(true)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (n12, nv) = TextAnalysis.appendLmShard(c12, vocab, batch.toDF())
        c12 = n12.localCheckpoint(true); vocab = nv.localCheckpoint(true)
      }
      .start()
    mem.addData((1L, "the cat sat on the mat"), (2L, "the dog sat on the rug"))
    q.processAllAvailable()
    mem.addData((3L, "the cat chased the dog"))
    q.processAllAvailable()
    q.stop()
    val allDocs = Seq((1L, "the cat sat on the mat"),
      (2L, "the dog sat on the rug"),
      (3L, "the cat chased the dog")).toDF("doc_id", "text")
    val (r12, rv) = TextAnalysis.lmCounts(allDocs)
    assert(c12.as[(String, String, Long)].collect().toSet ==
      r12.as[(String, String, Long)].collect().toSet,
      "maintained c12 state diverged from full rebuild")
    assert(vocab.as[String].collect().toSet == rv.as[String].collect().toSet,
      "maintained vocabulary diverged from full rebuild")
    // and scoring against the maintained state matches scoring on a rebuild
    val probe = Seq((9L, "en", "the cat sat"), (10L, "en", "zzz qqq xxx"))
      .toDF("doc_id", "lang", "text")
    val a = TextAnalysis.lmScoreAgainst(probe, c12, vocab)
      .as[(Long, String, Long, Double)].collect().toSet
    val b = TextAnalysis.lmScoreAgainst(probe, r12, rv)
      .as[(Long, String, Long, Double)].collect().toSet
    assert(a == b, s"state-scored $a != rebuild-scored $b")
    val byId = a.map(r => r._1 -> r._4).toMap
    assert(byId(9L) < byId(10L), "in-distribution probe must score better")
  }

  test("flatMapGroupsWithState sessionizer matches session_window on closed sessions") {
    val events = Tables.events(spark, TestSpark.sf)
      .select("event_id", "ts", "user_id").as[Streaming.Event]
    // compare at second precision: the sessionizer keeps ms timestamps while
    // session_window keeps µs (grouping is unaffected — the gap is 30 min)
    val custom = Streaming.sessionize(events)
      .select(col("user_id"), date_trunc("second", col("session_start")).as("s"),
        col("n_events"))
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val builtin = Tables.events(spark, TestSpark.sf)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), date_trunc("second", col("w.start")).as("s"), col("n"))
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    // the custom sessionizer holds the final (still-open) session per user in
    // state, so its output is the closed sessions — a strict subset
    assert(custom.subsetOf(builtin), "custom sessions disagree with session_window")
    assert(custom.nonEmpty)
  }

  test("transformWithState sessionizer closes idle sessions via event-time timers") {
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store (timers + column
    // families) — the provider a production cluster runs anyway
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Streaming.Event]
      val q = Streaming.sessionizeTws(mem.toDS())
        .writeStream.format("memory").queryName("tws_out").outputMode("append").start()
      def t(m: String) = java.sql.Timestamp.valueOf(m)
      mem.addData(
        Streaming.Event(1, t("2024-01-01 10:00:00"), 1),
        Streaming.Event(2, t("2024-01-01 10:10:00"), 1),
        Streaming.Event(3, t("2024-01-01 12:00:00"), 1),   // breaks user 1's gap
        Streaming.Event(4, t("2024-01-01 10:05:00"), 2))   // user 2 then goes idle
      q.processAllAvailable()
      // sentinel user far ahead: the WATERMARK (not a later same-key event)
      // passes every open session's gap — the case fMGWS can never emit
      mem.addData(Streaming.Event(99, t("2024-01-02 00:00:00"), 999))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("tws_out").as[Streaming.UserSession].collect()
        .map(s => (s.user_id, s.session_start.toString, s.session_end.toString,
          s.n_events)).toSet
      assert(out == Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L),
        (1L, "2024-01-01 12:00:00.0", "2024-01-01 12:30:00.0", 1L),
        (2L, "2024-01-01 10:05:00.0", "2024-01-01 10:35:00.0", 1L)), out)
      // the sentinel's own session stays open (watermark never passes it)
      assert(!out.exists(_._1 == 999L))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState sessionizer: cross-batch out-of-order event extends the session backward") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Streaming.Event]
      val q = Streaming.sessionizeTws(mem.toDS())
        .writeStream.format("memory").queryName("tws_ooo").outputMode("append").start()
      def t(m: String) = java.sql.Timestamp.valueOf(m)
      mem.addData(Streaming.Event(1, t("2024-01-01 10:10:00"), 1))
      q.processAllAvailable() // watermark now 10:00 (10-minute delay)
      // above the watermark but BEFORE the open session's start: the session
      // must extend backward (session_window semantics), not keep 10:10
      mem.addData(Streaming.Event(2, t("2024-01-01 10:05:00"), 1))
      q.processAllAvailable()
      mem.addData(Streaming.Event(99, t("2024-01-02 00:00:00"), 999)) // close via watermark
      q.processAllAvailable()
      q.stop()
      val out = spark.table("tws_ooo").as[Streaming.UserSession].collect()
        .filter(_.user_id == 1L)
        .map(s => (s.session_start.toString, s.session_end.toString, s.n_events))
      assert(out.toSeq == Seq(("2024-01-01 10:05:00.0", "2024-01-01 10:40:00.0", 2L)), out.toSeq)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState sessionizer recovers open sessions and timers from the checkpoint (kill + restart)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-tws-ckpt").toFile.getAbsolutePath
      val outDir = java.nio.file.Files.createTempDirectory("graft-tws-out").toFile.getAbsolutePath
      val mem = MemoryStream[Streaming.Event]
      // the memory sink refuses checkpoint recovery; the parquet sink makes
      // the no-duplicates/no-loss assertion end-to-end
      def start() = Streaming.sessionizeTws(mem.toDS())
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      def t(m: String) = java.sql.Timestamp.valueOf(m)
      // batch 1 leaves three OPEN sessions in RocksDB state (nothing emitted:
      // the watermark hasn't passed any gap) — every session this query will
      // ever emit depends on state and timers surviving the kill
      val q1 = start()
      mem.addData(
        Streaming.Event(1, t("2024-01-01 10:00:00"), 1),
        Streaming.Event(2, t("2024-01-01 10:10:00"), 1),
        Streaming.Event(3, t("2024-01-01 10:05:00"), 2))
      q1.processAllAvailable(); q1.stop()
      // restart against the SAME checkpoint: user 1's session must close with
      // BOTH pre-restart events (recovered value state), and user 2's must
      // close via the event-time timer armed before the kill (recovered
      // timer state) once the sentinel advances the watermark
      val q2 = start()
      mem.addData(Streaming.Event(4, t("2024-01-01 12:00:00"), 1))
      mem.addData(Streaming.Event(99, t("2024-01-02 00:00:00"), 999))
      q2.processAllAvailable(); q2.stop()
      val rows = spark.read.parquet(outDir).as[Streaming.UserSession].collect()
        .map(s => (s.user_id, s.session_start.toString, s.session_end.toString,
          s.n_events))
      assert(rows.length == rows.toSet.size, s"duplicate sessions after restart: ${rows.toSeq}")
      assert(rows.toSet == Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L),
        (1L, "2024-01-01 12:00:00.0", "2024-01-01 12:30:00.0", 1L),
        (2L, "2024-01-01 10:05:00.0", "2024-01-01 10:35:00.0", 1L)), rows.toSeq)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("streaming CDC apply upserts exactly-once across kill + restart and replayed batches") {
    implicit val sqlCtx = spark.sqlContext
    val tbl = java.nio.file.Files.createTempDirectory("graft-cdc-tbl").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ckpt").toFile.getAbsolutePath
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double, Long)]
    def start() = Streaming.cdcApply(
      mem.toDF().toDF("user_id", "ts", "value", "seq"),
      tbl, "user_id", Seq("ts", "seq"), ckpt)
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    // batch 0: creates the table; user 1 arrives TWICE in the batch — the
    // (ts, seq)-latest row must win the in-batch collapse
    val q1 = start()
    mem.addData(
      (1L, t("2024-01-01 10:00:00"), 1.0, 1L),
      (2L, t("2024-01-01 10:01:00"), 2.0, 2L),
      (1L, t("2024-01-01 10:05:00"), 3.0, 3L))
    q1.processAllAvailable(); q1.stop()
    assert(Streaming.lastAppliedCdcBatch(spark, tbl).contains(0L))
    val v1 = graft.operators.Snapshots.currentVersion(spark, tbl)
    // a replayed batch id (what foreachBatch does after a crash between the
    // snapshot commit and the checkpoint commit) must be a no-op
    Streaming.applyCdcBatch(
      Seq((1L, t("2024-01-01 10:05:00"), 99.0, 3L))
        .toDF("user_id", "ts", "value", "seq"),
      tbl, "user_id", Seq("ts", "seq"), 0L)
    assert(graft.operators.Snapshots.currentVersion(spark, tbl) == v1,
      "replayed batch re-applied: version advanced")
    // restart from the SAME checkpoint: batch 1 updates user 2, inserts 3
    val q2 = start()
    mem.addData(
      (2L, t("2024-01-01 11:00:00"), 9.0, 4L),
      (3L, t("2024-01-01 11:01:00"), 7.0, 5L))
    q2.processAllAvailable(); q2.stop()
    val rows = graft.operators.Snapshots.read(spark, tbl)
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 3.0), (2L, 9.0), (3L, 7.0)), rows)
    assert(Streaming.lastAppliedCdcBatch(spark, tbl).contains(1L))
    assert(graft.operators.Snapshots.currentVersion(spark, tbl).contains(2),
      "expected exactly one create + one merge commit")
  }

  test("streaming CEP emits exactly the users the batch pattern sweep finds") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.WindowOps
    val all = Tables.events(spark, TestSpark.sf)
      .select("event_id", "ts", "user_id", "event_type")
      .as[Streaming.TypedEvent].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Streaming.TypedEvent]
    val q = Streaming.patternMatches(mem.toDS(), maxTail = 100000)
      .writeStream.format("memory").queryName("cep_out").outputMode("append").start()
    // three time-ordered micro-batches, so matches complete mid-stream
    all.grouped(math.max(1, all.length / 3 + 1)).foreach { batch =>
      mem.addData(batch.toIndexedSeq); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("cep_out")
      .as[(Long, String)].collect().toSet
    // batch truth: the same sequences + the same regexes, per user
    val seqs = Tables.events(spark, TestSpark.sf)
      .groupBy("user_id")
      .agg(concat(lit(">"), concat_ws(">", transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        e => e.getField("event_type"))), lit(">")).as("seq"))
      .as[(Long, String)].collect()
    val expected = (for {
      (u, s) <- seqs
      (name, re) <- WindowOps.eventPatterns
      if java.util.regex.Pattern.compile(re).matcher(s).find()
    } yield (u, name)).toSet
    assert(streamed == expected, s"streamed ${streamed.size} vs batch ${expected.size}")
    assert(streamed.nonEmpty)
    // first-match-only: no (user, pattern) pair appears twice
    val dup = spark.table("cep_out").groupBy("user_id", "pattern")
      .count().filter(col("count") > 1).count()
    assert(dup == 0, "a match was emitted more than once")
  }

  test("streaming CEP abstains on anchored patterns once the tail is trimmed") {
    implicit val sqlCtx = spark.sqlContext
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    val mem = MemoryStream[Streaming.TypedEvent]
    // maxTail 2: by the time 'purchase' arrives, 'signup' has been trimmed
    // off the front — the anchored signup→purchase pattern must NOT fire
    // (the state can no longer prove where history began), while the
    // unanchored adjacency patterns still see the tail
    val q = Streaming.patternMatches(mem.toDS(), maxTail = 2)
      .writeStream.format("memory").queryName("cep_trim").outputMode("append").start()
    mem.addData(
      Streaming.TypedEvent(1, t("2024-01-01 10:00:00"), 7L, "signup"),
      Streaming.TypedEvent(2, t("2024-01-01 10:01:00"), 7L, "view"))
    q.processAllAvailable()
    mem.addData(
      Streaming.TypedEvent(3, t("2024-01-01 10:02:00"), 7L, "purchase"),
      Streaming.TypedEvent(4, t("2024-01-01 10:03:00"), 7L, "purchase"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("cep_trim").as[(Long, String)].collect().toSet
    assert(got == Set((7L, "immediate_rebuy")), got.toString)
  }

  test("probe scoring serves a document stream (stream-static broadcast, batch parity, stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val w = graft.analytics.Probe.weights(spark, TestSpark.sf)
    val sample = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text", "source").limit(50)
      .as[(Long, String, String)].collect()
    val mem = MemoryStream[(Long, String, String)]
    val docs = mem.toDF().toDF("doc_id", "text", "source")
    val q = graft.analytics.Probe.scoredStream(docs, w)
      .writeStream.format("memory").queryName("probe_stream_out")
      .outputMode("append").start()
    mem.addData(sample.take(30): _*)
    q.processAllAvailable()
    mem.addData(sample.drop(30): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("probe_stream_out").as[(Long, Double)].collect().toMap
    assert(streamed.size == sample.length)
    // batch twin over the same rows, same helper
    val batch = graft.analytics.Probe.scoredStream(
        sample.toSeq.toDF("doc_id", "text", "source"), w)
      .as[(Long, Double)].collect().toMap
    assert(streamed == batch, "stream-served scores diverge from batch scoring")
  }

  test("op-aware CDC apply stamps the watermark when the delete half matches nothing") {
    import graft.operators.Snapshots
    val tbl = java.nio.file.Files.createTempDirectory("graft-cdc-miss").toFile.getAbsolutePath
    def t(m: String) = java.sql.Timestamp.valueOf(m)
    Streaming.applyCdcBatchOps(
      Seq((1L, t("2024-01-01 10:00:00"), 1.0, "u"),
          (2L, t("2024-01-01 10:01:00"), 2.0, "u"))
        .toDF("user_id", "ts", "value", "op"),
      tbl, "user_id", Seq("ts"), "op", 0L)
    assert(Streaming.lastAppliedCdcBatch(spark, tbl).contains(0L))
    // batch 1: a lone delete whose key is ABSENT — deleteByKeysMor
    // publishes nothing, but the watermark must still advance, else every
    // restart replays the batch forever
    Streaming.applyCdcBatchOps(
      Seq((99L, t("2024-01-01 11:00:00"), 0.0, "d"))
        .toDF("user_id", "ts", "value", "op"),
      tbl, "user_id", Seq("ts"), "op", 1L)
    assert(Streaming.lastAppliedCdcBatch(spark, tbl).contains(1L),
      "no-match delete batch left no watermark")
    val v = Snapshots.currentVersion(spark, tbl).get
    // a replay of batch 1 must now be a pure no-op
    Streaming.applyCdcBatchOps(
      Seq((99L, t("2024-01-01 11:00:00"), 0.0, "d"))
        .toDF("user_id", "ts", "value", "op"),
      tbl, "user_id", Seq("ts"), "op", 1L)
    assert(Snapshots.currentVersion(spark, tbl).contains(v),
      "replayed no-match batch published a duplicate version")
    // batch 2 mixes an upsert with a no-match delete: the upsert half
    // commits (no marker), the delete half no-ops — fallback marker again
    Streaming.applyCdcBatchOps(
      Seq((3L, t("2024-01-01 12:00:00"), 3.0, "u"),
          (98L, t("2024-01-01 12:01:00"), 0.0, "d"))
        .toDF("user_id", "ts", "value", "op"),
      tbl, "user_id", Seq("ts"), "op", 2L)
    assert(Streaming.lastAppliedCdcBatch(spark, tbl).contains(2L))
    val v2 = Snapshots.currentVersion(spark, tbl).get
    Streaming.applyCdcBatchOps(
      Seq((3L, t("2024-01-01 12:00:00"), 3.0, "u"),
          (98L, t("2024-01-01 12:01:00"), 0.0, "d"))
        .toDF("user_id", "ts", "value", "op"),
      tbl, "user_id", Seq("ts"), "op", 2L)
    assert(Snapshots.currentVersion(spark, tbl).contains(v2),
      "replayed mixed batch republished its upsert half")
    val rows = Snapshots.read(spark, tbl)
      .select("user_id", "value").as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)), rows)
    // the marker commits are feed-invisible: the CDF fold over the whole
    // history reconstructs exactly the table (no duplicate change rows)
    val head = Snapshots.currentVersion(spark, tbl).get
    val feed = Snapshots.readChangeFeed(spark, tbl, 1, head)
    assert(feed.filter(col("_change_type") === "insert").count() == 1,
      "marker or replay leaked duplicate feed inserts")
  }

  test("stream-static join against a snapshots dim sees dim updates per micro-batch") {
    import graft.operators.Snapshots
    implicit val sqlCtx = spark.sqlContext
    val dim = java.nio.file.Files.createTempDirectory("graft-ss-dim").toString
    Snapshots.commit(spark, dim, Seq((1L, "bronze")).toDF("k", "tier"))
    val static = spark.read.format("snapshots").option("path", dim).load()
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("k").join(static, Seq("k"))
      .writeStream.format("memory").queryName("ss_dim_out")
      .outputMode("append").start()
    mem.addData(1L); q.processAllAvailable()
    // the dimension is UPSERTED between micro-batches: an unpinned
    // snapshots relation re-resolves LATEST per scan, so the next batch
    // must see the new tier and the new key
    Snapshots.mergeInto(spark, dim,
      Seq((1L, "gold"), (2L, "silver")).toDF("k", "tier"), "k")
    mem.addData(1L, 2L); q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_dim_out").as[(Long, String)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == Map((1L, "bronze") -> 1, (1L, "gold") -> 1, (2L, "silver") -> 1),
      s"stream-static join served a stale dimension: $got")
  }

  test("startingTimestamp resolves to the newest version at or before it") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-ts-src").toString
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    Thread.sleep(20)
    val cut = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    def tailFrom(opts: Map[String, String]): Set[Long] = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft-snap-ts-ck").toString
      val name = s"snap_ts_${ckpt.hashCode.abs}"
      val q = opts.foldLeft(spark.readStream.format("snapshots")
          .option("path", dir)) { case (r, (k, v)) => r.option(k, v) }
        .load().writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      q.processAllAvailable(); q.stop()
      spark.table(name).select("k").as[Long].collect().toSet
    }
    // tail from the cut — epoch-millis form (timezone-free)
    assert(tailFrom(Map("startingTimestamp" -> cut.getTime.toString)) ==
      Set(2L, 3L))
    // the string form shares timestampAsOf's contract: UTC, never JVM-local
    val utc = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(cut.getTime))
    assert(tailFrom(Map("startingTimestamp" -> utc)) == Set(2L, 3L))
    // a timestamp before the first commit = the full initial snapshot
    assert(tailFrom(Map("startingTimestamp" -> "0")) == Set(1L, 2L, 3L))
    intercept[Exception](tailFrom(Map(
      "startingTimestamp" -> cut.getTime.toString, "startingVersion" -> "1")))
  }

  test("snapshot tail fails loudly when a declared column is renamed mid-stream") {
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-ren-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snap-ren-ck").toString
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val q = spark.readStream.format("snapshots").option("path", dir).load()
      .writeStream.format("memory").queryName("snap_ren_tail")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    // the declared column "v" disappears mid-stream: the tail must refuse
    // (not silently NULL-fill every subsequent batch)
    Snapshots.renameColumn(spark, dir, "v", "val2")
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "val2"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("no longer exist")), messages(e).mkString(" | "))
    q.stop()
  }
  test("snapshots sink routes micro-batches through the table's partition spec") {
    import graft.operators.Snapshots
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-snapsink-part")
      .toFile.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft-snapsink-ck")
      .toFile.getAbsolutePath
    // the spec is table metadata, independent of any version — a sink
    // table declares it BEFORE the first micro-batch lands
    Snapshots.setPartitionSpec(spark, dir, Snapshots.IdentityPart("day"))
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "day").writeStream.format("snapshots")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      mem.addData((1L, "d0"), (2L, "d1"), (3L, "d0"))
      q.processAllAvailable()
      mem.addData((4L, "d1"), (5L, "d2"))
      q.processAllAvailable()
      val v = Snapshots.currentVersion(spark, dir).get
      val files = Snapshots.files(spark, dir, v)
      val vals = files.flatMap(Snapshots.partValueOf)
      assert(vals.length == files.length,
        s"a sink-written file lost its partition value: $files")
      assert(vals.toSet == Set("d0", "d1", "d2"), vals)
      // per-batch routing: batch 1 wrote {d0, d1}, batch 2 {d1, d2}
      assert(vals.sorted == Seq("d0", "d1", "d1", "d2"), vals)
      // and the identity values prune through the (value-tight) stats
      val (kept, all) = Snapshots.pruneFilesAll(spark, dir, v,
        Seq(("day", Some("d2"), Some("d2"))))
      assert(all.length == 4 && kept.length == 1, s"$kept of $all")
    } finally q.stop()
  }
}
