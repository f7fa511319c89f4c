package graft

import java.io.ByteArrayInputStream
import java.net.{HttpURLConnection, URI}
import java.util.zip.ZipInputStream

import org.scalatest.funsuite.AnyFunSuite
import graft.domain.{GridQuery, QueryRequest}
import graft.render.RenderSink
import graft.server.ApiServer

/** End-to-end test of the HTTP serving surface: the reference contract is
  * POST /fetchResult (request JSON → zip of per-variable-per-day PNGs) and
  * GET /getBoundary (data extent), `main.py:93-127`.
  */
class ApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def withServer[A](f: Int => A): A = {
    val srv = new ApiServer(spark, port = 0)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  private def get(url: String): (Int, Array[Byte]) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      (code, is.readAllBytes())
    } finally conn.disconnect()
  }

  private def post(url: String, body: String): (Int, Array[Byte]) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    try {
      conn.getOutputStream.write(body.getBytes("UTF-8"))
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      (code, is.readAllBytes())
    } finally conn.disconnect()
  }

  private val request =
    """{"selectDate": "1990-01-03,1990-01-06",
      | "variables": "tasmax",
      | "geoJson": {"type": "Polygon", "coordinates": [[
      |   [-79.317877, 44.292647], [-79.317877, 44.489801],
      |   [-78.987601, 44.489801], [-78.987601, 44.292647],
      |   [-79.317877, 44.292647]]]}}""".stripMargin

  test("getBoundary returns the grid extent") {
    withServer { port =>
      val (code, body) = get(s"http://127.0.0.1:$port/getBoundary")
      assert(code == 200)
      val nums = """-?\d+\.\d+""".r.findAllIn(new String(body, "UTF-8")).map(_.toDouble).toSeq
      assert(nums == Seq(44.0, -80.0, 44.95, -78.55))
    }
  }

  test("fetchResult returns a zip with one PNG per requested day") {
    withServer { port =>
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 200, new String(body.take(200), "UTF-8"))
      val zis = new ZipInputStream(new ByteArrayInputStream(body))
      val entries = Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
        .map { e =>
          val data = zis.readAllBytes()
          // PNG magic: \x89PNG
          assert(data.length > 8 && (data(0) & 0xFF) == 0x89 && data(1) == 'P', e.getName)
          e.getName
        }.toSeq
      assert(entries == (3 to 6).map(day => f"grid_tasmax_1990-01-0$day.png"))
    }
  }

  private def zipContents(body: Array[Byte]): Map[String, Seq[Byte]] = {
    val zis = new ZipInputStream(new ByteArrayInputStream(body))
    Iterator.continually(zis.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zis.readAllBytes().toSeq).toMap
  }

  test("fetchResult over the FILE-backed grid serves byte-identical PNGs to the generator") {
    val fileGrid = (s: org.apache.spark.sql.SparkSession) =>
      s.read.format(classOf[graft.sources.GridSource].getName)
        .option("path", graft.sources.SourceQueries.grfDir).load()
    val srv = new ApiServer(spark, port = 0, grid = fileGrid)
    val port = srv.start()
    try {
      val (bcode, bbody) = get(s"http://127.0.0.1:$port/getBoundary")
      assert(bcode == 200)
      val nums = """-?\d+\.\d+""".r.findAllIn(new String(bbody, "UTF-8")).map(_.toDouble).toSeq
      assert(nums == Seq(44.0, -80.0, 44.95, -78.55))
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 200, new String(body.take(200), "UTF-8"))
      val fromFiles = zipContents(body)
      assert(fromFiles.keySet == (3 to 6).map(day => f"grid_tasmax_1990-01-0$day.png").toSet)
      fromFiles.values.foreach { data =>
        assert(data.length > 8 && (data(0) & 0xFF) == 0x89 && data(1) == 'P')
      }
      // the .grf cubes hold the same closed-form grid, so the rendered PNGs
      // must be byte-identical to the generator-backed server's
      val fromGen = withServer { genPort =>
        zipContents(post(s"http://127.0.0.1:$genPort/fetchResult", request)._2)
      }
      assert(fromFiles == fromGen, "file-backed render differs from generator-backed render")
    } finally srv.stop()
  }

  test("fetchResult over the NetCDF-backed grid serves byte-identical PNGs to the generator") {
    val ncGrid = (s: org.apache.spark.sql.SparkSession) =>
      s.read.format(classOf[graft.sources.GridSource].getName)
        .option("path", graft.sources.SourceQueries.ncDir).load()
    val srv = new ApiServer(spark, port = 0, grid = ncGrid)
    val port = srv.start()
    try {
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 200, new String(body.take(200), "UTF-8"))
      val fromNc = zipContents(body)
      val fromGen = withServer { genPort =>
        zipContents(post(s"http://127.0.0.1:$genPort/fetchResult", request)._2)
      }
      assert(fromNc == fromGen, "nc-backed render differs from generator-backed render")
    } finally srv.stop()
  }

  private def ncGrid(s: org.apache.spark.sql.SparkSession) =
    s.read.format(classOf[graft.sources.GridSource].getName)
      .option("path", graft.sources.SourceQueries.ncDir).load()

  private def requestJson(r: QueryRequest): String = {
    val ring = r.polygon.map { case (lon, lat) => s"[$lon, $lat]" }.mkString(", ")
    s"""{"selectDate": "${r.start},${r.end}", "variables": "${r.variables.mkString(",")}",
       | "geoJson": {"type": "Polygon", "coordinates": [[$ring]]}}""".stripMargin
  }

  /** The batch render of the same request, composed the way the server did
    * before it rendered in one pass: catalog-joined select, Spark min/max
    * for the color range, executor-written PNGs, zip of the directory.
    */
  private def batchZip(r: QueryRequest): Array[Byte] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val sel = GridQuery.select(ncGrid(spark).withColumn("file", col("variable")), r)
      .select("variable", "ts", "y", "x", "value")
    val stats = sel.agg(min("value"), max("value")).collect()(0)
    val (lo, hi) = if (stats.isNullAt(0)) (0.0, 1.0) else (stats.getDouble(0), stats.getDouble(1))
    val tmp = java.nio.file.Files.createTempDirectory("graft-batch-render").toFile
    try {
      RenderSink.writePngs(sel, tmp.getPath, lo, math.max((hi - lo) / 10, 1e-9), 10)
      val zip = new java.io.File(tmp, "result.zip")
      RenderSink.zipPngs(tmp.getPath, zip.getPath)
      java.nio.file.Files.readAllBytes(zip.toPath)
    } finally {
      Option(tmp.listFiles()).getOrElse(Array.empty).foreach(_.delete())
      tmp.delete()
    }
  }

  test("a warm NetCDF fetch is one Spark job with no code compiled, byte-identical to the batch render") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.metrics.source.CodegenMetrics
    val distinct = Seq( // polygon, dates and variables all differ from `request` and each other
      QueryRequest(Seq("tasmin"), "1990-01-02", "1990-01-03",
        Seq((-79.9, 44.1), (-79.4, 44.1), (-79.65, 44.6), (-79.9, 44.1))),
      QueryRequest(Seq("tasmax", "tasmin"), "1990-01-05", "1990-01-08",
        Seq((-79.2, 44.5), (-78.7, 44.5), (-78.7, 44.9), (-79.2, 44.9), (-79.2, 44.5))),
      QueryRequest(Seq("tasmax"), "1990-01-01", "1990-01-01",
        Seq((-79.61, 44.21), (-79.31, 44.23), (-79.2, 44.45), (-79.45, 44.63),
          (-79.7, 44.4), (-79.61, 44.21))))
    val srv = new ApiServer(spark, port = 0, grid = ncGrid)
    val url = s"http://127.0.0.1:${srv.start()}/fetchResult"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(post(url, request)._1 == 200) // warm-up
      distinct.foreach { r =>
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        jobs.set(0)
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (code, body) = post(url, requestJson(r))
        val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        assert(code == 200, new String(body.take(200), "UTF-8"))
        assert(jobs.get == 1, s"$r ran ${jobs.get} jobs")
        assert(compiled == 0, s"$r compiled $compiled classes")
        assert(zipContents(body).nonEmpty, r)
        assert(body.sameElements(batchZip(r)), s"$r: zip differs from the batch render")
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      srv.stop()
    }
  }

  test("fetchResult over NetCDF: all-NULL and empty selections match the batch render") {
    // cell (y=0, x=17) on day 0 is NODATA ((t + y + x) % 17 == 0): a polygon
    // around it alone selects one cell whose value is NULL
    val allNull = QueryRequest(Seq("tasmax"), "1990-01-01", "1990-01-01",
      Seq((-79.16, 43.99), (-79.14, 43.99), (-79.14, 44.01), (-79.16, 44.01), (-79.16, 43.99)))
    // a polygon far outside the grid extent selects nothing
    val empty = QueryRequest(Seq("tasmax"), "1990-01-02", "1990-01-04",
      Seq((10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0), (10.0, 10.0)))
    val srv = new ApiServer(spark, port = 0, grid = ncGrid)
    val url = s"http://127.0.0.1:${srv.start()}/fetchResult"
    try {
      val (c1, b1) = post(url, requestJson(allNull))
      assert(c1 == 200)
      assert(zipContents(b1).keySet == Set("grid_tasmax_1990-01-01.png"))
      assert(b1.sameElements(batchZip(allNull)))
      val (c2, b2) = post(url, requestJson(empty))
      assert(c2 == 200)
      assert(zipContents(b2).isEmpty)
      assert(b2.sameElements(batchZip(empty)))
    } finally srv.stop()
  }

  test("a 500 logs the route and the stack trace; the client body stays the class name") {
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val events = new java.util.concurrent.ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("api-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = events.add(e.toImmutable)
    }
    capture.start()
    val logger = org.apache.logging.log4j.LogManager.getLogger(classOf[ApiServer])
      .asInstanceOf[CoreLogger]
    logger.addAppender(capture)
    val broken = (_: org.apache.spark.sql.SparkSession) =>
      throw new RuntimeException("grid unavailable")
    val srv = new ApiServer(spark, port = 0, grid = broken)
    val port = srv.start()
    try {
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 500)
      assert(new String(body, "UTF-8") == """{"message": "Server Error: RuntimeException"}""")
      assert(get(s"http://127.0.0.1:$port/getBoundary")._1 == 500)
      val logged = scala.jdk.CollectionConverters.CollectionHasAsScala(events).asScala.toSeq
      for (route <- Seq("/fetchResult", "/getBoundary"))
        assert(logged.exists(e => e.getMessage.getFormattedMessage.contains(route) &&
          Option(e.getThrown).exists(_.getMessage == "grid unavailable")), s"$route not logged")
    } finally {
      srv.stop()
      logger.removeAppender(capture)
    }
  }

  test("getBoundary failure yields a 500 JSON response, not a dropped connection") {
    val broken = (_: org.apache.spark.sql.SparkSession) =>
      throw new RuntimeException("grid unavailable")
    val srv = new ApiServer(spark, port = 0, grid = broken)
    val port = srv.start()
    try {
      val (code, body) = get(s"http://127.0.0.1:$port/getBoundary")
      assert(code == 500)
      assert(new String(body, "UTF-8").contains("Server Error"))
    } finally srv.stop()
  }

  test("malformed request yields a 400, not a hung connection") {
    withServer { port =>
      val (code, _) = post(s"http://127.0.0.1:$port/fetchResult", """{"nope": 1}""")
      assert(code == 400)
    }
  }

  test("well-formed request whose execution fails yields 500, not 400") {
    val broken = (_: org.apache.spark.sql.SparkSession) =>
      throw new RuntimeException("grid unavailable")
    val srv = new ApiServer(spark, port = 0, grid = broken)
    val port = srv.start()
    try {
      val (code, body) = post(s"http://127.0.0.1:$port/fetchResult", request)
      assert(code == 500, new String(body, "UTF-8"))
      assert(new String(body, "UTF-8").contains("Server Error"))
    } finally srv.stop()
  }

  private val request2 = // different polygon + different dates than `request`
    """{"selectDate": "1990-01-07,1990-01-08",
      | "variables": "tasmax",
      | "geoJson": {"type": "Polygon", "coordinates": [[
      |   [-79.8, 44.05], [-79.8, 44.2],
      |   [-79.5, 44.2], [-79.5, 44.05],
      |   [-79.8, 44.05]]]}}""".stripMargin

  test("concurrent fetchResult requests are isolated and byte-correct") {
    withServer { port =>
      val url = s"http://127.0.0.1:$port/fetchResult"
      // serial ground truth for each request
      val expect1 = zipContents(post(url, request)._2)
      val expect2 = zipContents(post(url, request2)._2)
      assert(expect1.keySet != expect2.keySet)
      // now issue both in parallel, several times over, on client threads
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val futures = (0 until 3).flatMap { _ =>
        Seq(
          Future(("r1", post(url, request))),
          Future(("r2", post(url, request2))))
      }
      Await.result(Future.sequence(futures), 120.seconds).foreach {
        case (tag, (code, body)) =>
          assert(code == 200, s"$tag -> $code")
          val expected = if (tag == "r1") expect1 else expect2
          assert(zipContents(body) == expected, s"$tag zip differs under concurrency")
      }
    }
  }

  test("POST /sql runs read-only SQL, including the grid_scan table function") {
    withServer { port =>
      val url = s"http://127.0.0.1:$port/sql"
      val (c1, b1) = post(url, """{"query": "SELECT 1 AS one, 'x' AS s"}""")
      assert(c1 == 200, new String(b1, "UTF-8"))
      val s1 = new String(b1, "UTF-8")
      assert(s1.contains("\"columns\":[\"one\",\"s\"]") &&
        s1.contains("\"rowCount\":1") && s1.contains("{\"one\":1,\"s\":\"x\"}"), s1)
      // the TVF surface over HTTP: count a real archive dir
      val dir = sources.SourceQueries.ncDir
      val (c2, b2) = post(url,
        s"""{"query": "SELECT count(*) AS n FROM grid_scan('$dir') WHERE y < 3"}""")
      assert(c2 == 200)
      val expected = spark.read.format(classOf[sources.GridSource].getName)
        .option("path", dir).load().filter("y < 3").count()
      assert(new String(b2, "UTF-8").contains(s"""{"n":$expected}"""))
    }
  }

  test("POST /sql rejects writes, bad SQL, and bad bodies as client errors") {
    withServer { port =>
      val url = s"http://127.0.0.1:$port/sql"
      // Command plans (DDL/DML/SET) are refused before execution
      for (q <- Seq("SET spark.graft.x=1",
          "CREATE TABLE t_should_not_exist(x INT) USING parquet",
          "SELEKT 1", "")) {
        val (code, body) = post(url, s"""{"query": "$q"}""")
        assert(code == 400, s"$q -> $code ${new String(body.take(120), "UTF-8")}")
      }
      assert(spark.catalog.tableExists("t_should_not_exist") == false)
      val (cBody, _) = post(url, "not json at all")
      assert(cBody == 400)
    }
  }

  test("POST /sql rejects INSERT statements (they are not Command plans)") {
    withServer { port =>
      val url = s"http://127.0.0.1:$port/sql"
      val dir = java.nio.file.Files.createTempDirectory("graft-sql-guard").toString
      // INSERT OVERWRITE DIRECTORY parses to InsertIntoDir, INSERT INTO to
      // InsertIntoStatement — neither is a Command, both must still refuse
      for (q <- Seq(
          s"INSERT OVERWRITE DIRECTORY '$dir/out' USING parquet SELECT 1 AS x",
          s"INSERT INTO parquet.`$dir/tbl` SELECT 1 AS x",
          s"WITH t AS (SELECT 1 AS x) INSERT OVERWRITE DIRECTORY '$dir/out' USING parquet SELECT * FROM t")) {
        val (code, _) = post(url, s"""{"query": "$q"}""")
        assert(code == 400, s"$q -> $code")
      }
      assert(new java.io.File(s"$dir/out").listFiles() == null &&
        new java.io.File(s"$dir/tbl").listFiles() == null,
        "a rejected INSERT left files behind")
    }
  }

  test("POST /sql caps huge results and says so") {
    withServer { port =>
      val (code, body) = post(s"http://127.0.0.1:$port/sql",
        """{"query": "SELECT id FROM range(20000)"}""")
      assert(code == 200)
      val s = new String(body, "UTF-8")
      assert(s.contains("\"rowCount\":10000") && s.contains("\"truncated\":true"), s.take(200))
    }
  }
}
