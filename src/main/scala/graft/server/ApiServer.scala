package graft.server

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.slf4j.LoggerFactory

import graft.domain.{GridData, GridQuery, QueryRequest}
import graft.render.RenderSink

/** The reference's serving surface (`main.py:93-127`), Spark-resident:
  *
  *   - `GET /getBoundary` → `[[latMin, lonMin], [latMax, lonMax]]` of the data
  *     extent (`main.py:93-96`; the reference hardcodes its dataset's corners —
  *     here the extent is computed from the grid catalog, metadata-sized).
  *   - `POST /fetchResult` → request `{selectDate: "start,end", variables:
  *     "v1,v2", geoJson: {coordinates: [[[lon, lat], …]]}}` (the shape
  *     `main.py:21-50` parses) → runs select → render → returns a zip of one
  *     PNG per (variable, day) (`main.py:114-127`).
  *
  * The key architectural difference from the reference: `main.py:106-110` pays
  * a full `spark-submit` JVM start per request; here ONE resident SparkSession
  * serves every request, so per-request latency is the query, not the JVM.
  * JSON via Spark's bundled json4s — no added dependencies.
  */
class ApiServer(spark: SparkSession, port: Int = 0,
    grid: SparkSession => org.apache.spark.sql.DataFrame = GridData.cells) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // JDK HttpServer's default executor is the dispatch thread — requests would
  // serialize behind one slow render. A small pool gives concurrent requests;
  // SparkSession is thread-safe, each request runs its own jobs.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  /** Serve `/getBoundary`: extent of the (dim-sized) distinct coord table.
    * With the default generator grid this is a closed-form scan; with a
    * file-backed grid (`grid = _.read.format(...).option("path", …).load()`)
    * the min/max push down to the table's coordinate axes (`NcGridAggScan`
    * over NetCDF, `FileGridAggScan`/`TiledGridAggScan` over GRF) — the
    * boundary request never reads a data byte, like the reference's
    * hardcoded corners.
    */
  private def boundary(): String = {
    val row = grid(spark)
      .agg(min("lat"), max("lat"), min("lon"), max("lon"))
      .collect()(0)
    // NULL aggregates mean an empty grid — fail loudly rather than unboxing
    // null to 0.0 and serving a fake [[0,0],[0,0]] extent
    require((0 to 3).forall(!row.isNullAt(_)), "grid has no cells — no boundary")
    val Seq(latMin, latMax, lonMin, lonMax) = row.toSeq.map(_.asInstanceOf[Double])
    s"[[$latMin, $lonMin], [$latMax, $lonMax]]"
  }

  /** Parse the reference's request JSON into the engine's QueryRequest. */
  private[server] def parseRequest(body: String): QueryRequest = {
    val j = JsonMethods.parse(body)
    val JString(dates) = (j \ "selectDate"): @unchecked
    val JString(vars) = (j \ "variables"): @unchecked
    val ring = (j \ "geoJson" \ "coordinates") match {
      case JArray(List(JArray(points))) => points.map {
        case JArray(List(lon, lat)) =>
          (lon.values.toString.toDouble, lat.values.toString.toDouble)
        case other => throw new IllegalArgumentException(s"bad point: $other")
      }
      case other => throw new IllegalArgumentException(s"bad coordinates: $other")
    }
    val Array(start, end) = dates.split(",").map(_.trim)
    QueryRequest(vars.split(",").map(_.trim).toSeq, start, end, ring)
  }

  /** select → one Spark job → color breaks, PNGs and zip on the driver
    * ([[RenderSink.renderZip]]). The value range comes from the same pass
    * that renders: executors ship per-image partial rasters, so the
    * selection runs once and the driver holds only the response's pixels.
    */
  private[server] def fetchResult(req: QueryRequest): Array[Byte] =
    RenderSink.renderZip(GridQuery.select(grid(spark), req), nbins = 10)

  /** `POST /sql` — the SQL face of the whole library over HTTP: body
    * `{"query": "SELECT …"}`, response `{"columns": […], "rowCount": n,
    * "truncated": bool, "rows": [{…}, …]}`. With the session extensions
    * registered, `FROM grid_scan('<dir>')` / `FROM snapshot_scan('<dir>')`
    * and every custom function work over plain HTTP — the Thrift-server
    *-style surface, minus a dependency. Read-only by construction: the
    * statement is parsed first and anything that is a Command (DDL/DML,
    * SET, CREATE VIEW) is rejected before execution — a guard at the plan
    * level, not a keyword regex. Results are capped at [[sqlRowCap]] rows
    * (one extra row is fetched to set `truncated` honestly); row values
    * serialize through Spark's own JSON writer so types and escaping are
    * the engine's, not hand-rolled.
    */
  private[server] val sqlRowCap = 10000

  private[server] def runSql(query: String): String = {
    import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, ParsedStatement}
    val parsed = spark.sessionState.sqlParser.parsePlan(query)
    // writes hide in THREE parse-time shapes, and Command alone misses two:
    // DDL/SET parse to Command subtypes, but INSERT INTO parses to
    // InsertIntoStatement (a ParsedStatement) and INSERT OVERWRITE
    // DIRECTORY to InsertIntoDir — neither extends Command. Scan the whole
    // tree so a write nested under a CTE cannot slip past either.
    if (parsed.exists(n => n.isInstanceOf[Command] ||
        n.isInstanceOf[ParsedStatement] || n.isInstanceOf[InsertIntoDir]))
      throw new IllegalArgumentException("only read-only queries are served")
    val df = spark.sql(query)
    val rows = df.limit(sqlRowCap + 1).toJSON.collect()
    val truncated = rows.length > sqlRowCap
    val kept = if (truncated) rows.take(sqlRowCap) else rows
    // full JSON string escaping for column names — Spark permits aliases
    // with control characters, and one raw newline would break the payload
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val cols = df.columns.map(jstr)
    s"""{"columns":[${cols.mkString(",")}],"rowCount":${kept.length},""" +
      s""""truncated":$truncated,"rows":[${kept.mkString(",")}]}"""
  }

  private def respond(ex: HttpExchange, code: Int, contentType: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    try ex.getResponseBody.write(body) finally ex.close()
  }

  /** A 500: the client gets the exception's class name only; the route and
    * the stack trace go to the server log.
    */
  private def serverError(ex: HttpExchange, route: String, e: Exception): Unit = {
    ApiServer.log.error(s"$route failed", e)
    respond(ex, 500, "application/json",
      s"""{"message": "Server Error: ${e.getClass.getSimpleName}"}""".getBytes("UTF-8"))
  }

  def start(): Int = {
    server.createContext("/getBoundary", (ex: HttpExchange) =>
      try respond(ex, 200, "application/json", boundary().getBytes("UTF-8"))
      catch {
        case e: Exception => serverError(ex, "/getBoundary", e)
      })
    server.createContext("/fetchResult", (ex: HttpExchange) =>
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        // malformed request JSON is the client's fault (400); a failure while
        // executing a well-formed request is the server's (500)
        val req = try parseRequest(body) catch {
          case e: Exception =>
            respond(ex, 400, "application/json",
              s"""{"message": "Bad Request: ${e.getClass.getSimpleName}"}""".getBytes("UTF-8"))
            null
        }
        if (req != null)
          respond(ex, 200, "application/zip", fetchResult(req))
      } catch {
        case e: Exception => serverError(ex, "/fetchResult", e)
      })
    server.createContext("/sql", (ex: HttpExchange) =>
      try {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        // malformed body JSON is the client's fault, whatever json4s throws
        val parsedBody = try JsonMethods.parse(body) catch {
          case e: Exception => throw new IllegalArgumentException(
            s"body is not JSON: ${e.getClass.getSimpleName}")
        }
        val query = parsedBody \ "query" match {
          case JString(q) if q.trim.nonEmpty => q
          case _ => throw new IllegalArgumentException("body must be {\"query\": \"…\"}")
        }
        respond(ex, 200, "application/json", runSql(query).getBytes("UTF-8"))
      } catch {
        // the client's fault: malformed body, unparseable SQL, unresolvable
        // names, or a write statement — all pre-execution
        case e @ (_: IllegalArgumentException |
                  _: org.apache.spark.sql.catalyst.parser.ParseException |
                  _: org.apache.spark.sql.AnalysisException) =>
          respond(ex, 400, "application/json",
            s"""{"message": "Bad Request: ${e.getClass.getSimpleName}"}""".getBytes("UTF-8"))
        case e: Exception => serverError(ex, "/sql", e)
      })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object ApiServer {
  /** Server-side log (slf4j, bound to the log4j2 Spark ships). */
  private val log = LoggerFactory.getLogger(classOf[ApiServer])

  /** Standalone entry: `runMain graft.server.ApiServer [port]`. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-api")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val port = new ApiServer(spark, args.headOption.map(_.toInt).getOrElse(8080)).start()
    println(s"graft API listening on http://127.0.0.1:$port")
    Thread.currentThread().join()
  }
}
