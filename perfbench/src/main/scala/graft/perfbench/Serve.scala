package graft.perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max, min}

import graft.domain.{GridQuery, QueryRequest}
import graft.render.RenderSink
import graft.server.ApiServer
import graft.sources.{GridSource, NcIo}

/** serve_small: closed-loop HTTP clients against an in-process `ApiServer`
  * whose grid is the NetCDF-4 corpus read through `GridSource`.
  */
final class Serve(ctx: Ctx) {
  import ctx.spark
  import Serve._

  private val seed = ctx.args.seed
  private val field = Corpus.Field(seed)
  private val stream = new RequestStream(seed)
  /** Set-up and warm-up draw the stream's seed-independent requests
    * (-1, -2, …), the windows its seeded ones (0, 1, …): no request is sent
    * twice.
    */
  private val warmCursor = new AtomicLong(-1)
  private val cursor = new AtomicLong(0)
  private def nextWarm(): Long = warmCursor.getAndDecrement()
  private def nextOp(): Long = cursor.getAndIncrement()
  private val clients = 4
  private val SetupCycles = 3
  private val WarmSeconds = 5.0
  /** Whether every pixel of op `i` is checked (a seeded third of the ops);
    * the rest get names and sizes.
    */
  private def pixels(i: Long): Boolean =
    Math.floorMod(java.lang.Long.hashCode(i * 0x9E3779B97F4A7C15L ^ seed), 3) == 0

  private var dir: File = _
  private var server: ApiServer = _
  private var port = 0
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def load(d: File): DataFrame =
    spark.read.format(classOf[GridSource].getName).option("path", d.getPath).load()

  private def send(req: Req): (Int, Array[Byte]) = {
    val base = HttpRequest.newBuilder().timeout(Duration.ofSeconds(120))
    val r = req match {
      case f: Fetch => base.uri(URI.create(s"http://127.0.0.1:$port/fetchResult"))
        .POST(HttpRequest.BodyPublishers.ofString(f.body)).build()
      case s: Sql => base.uri(URI.create(s"http://127.0.0.1:$port/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"query": ${Json.quote(s.query(dir.getPath))}}""")).build()
      case Boundary => base.uri(URI.create(s"http://127.0.0.1:$port/getBoundary")).GET().build()
    }
    try {
      val resp = http.send(r, HttpResponse.BodyHandlers.ofByteArray())
      (resp.statusCode(), resp.body())
    } catch { case e: Exception => (-1, e.toString.getBytes("UTF-8")) }
  }

  // ------------------------------------------------------------------ setup

  /** One set-up: write the corpus, materialize the grid catalog, start the
    * server and send it the next two warm-up requests.
    */
  private def setupCycle(i: Int): SetupCycle = {
    val d = new File(ctx.work, s"corpus-$i")
    Clock.deleteTree(d)
    val t0 = System.nanoTime()
    val (bytes, corpusS) = Clock.timed(Corpus.write(d, seed))
    dir = d
    val (_, catalogS) = Clock.timed(
      GridQuery.catalog(load(d).withColumn("file", col("variable"))).count())
    server = new ApiServer(spark, 0, grid = s =>
      s.read.format(classOf[GridSource].getName).option("path", d.getPath).load())
    port = server.start()
    val (_, warmS) = Clock.timed((0 until 2).foreach { _ =>
      val r = stream(nextWarm())
      val (code, body) = send(r)
      require(code == 200, s"warm-up ${r.route} returned $code: ${new String(body.take(200), "UTF-8")}")
    })
    SetupCycle((System.nanoTime() - t0) / 1e9, corpusS, catalogS, warmS, bytes)
  }

  // ------------------------------------------------------------------- load

  /** Closed loop: each client sends the next request of the stream once its
    * previous one has returned, until the window closes. Returns the ops and
    * the rate at which they completed inside the window.
    */
  private def loop(seconds: Double, tracer: Option[Tracer], draw: () => Long): (Seq[Rec], Double) = {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[Rec]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        while (System.nanoTime() < deadline) {
          val op = draw()
          val req = stream(op)
          val s = System.nanoTime()
          val (code, body) = send(req)
          val e = System.nanoTime()
          val r0 = System.nanoTime()
          val replayErr = tracer.flatMap { t =>
            try { replay(t, op, req); None }
            catch { case ex: Exception => Some(s"replay: $ex") }
          }
          val replayNs = if (tracer.isEmpty) 0L else System.nanoTime() - r0
          recs.add(Rec(op, req, code, s, e, body, replayNs, replayErr))
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = scala.jdk.CollectionConverters.CollectionHasAsScala(recs).asScala.toSeq
    (all, Stats.rate(all.map(r => (r.startNs, r.endNs + r.replayNs)), deadline, seconds))
  }

  // ----------------------------------------------------------------- replay

  private val pngs = new LongAdder
  private val pngBytes = new LongAdder
  private val decodeCells = new LongAdder

  /** The calls `ApiServer` composes for the request, made in-process with a
    * span (and job group) around each, plus a sibling decode of the request's
    * section straight through `NcIo`, outside Spark.
    */
  private def replay(t: Tracer, op: Long, req: Req): Unit =
    t.span(s"op.${req.route}", op) {
      def step[A](name: String)(f: => A): A = t.span(name, op)(ctx.inGroup(s"r:$op:$name")(f))
      req match {
        case f: Fetch =>
          val g = step("sources.load")(load(dir))
          val sel = step("domain.select")(GridQuery.select(g.withColumn("file", col("variable")),
            QueryRequest(f.vars, Corpus.day(f.day0), Corpus.day(f.day1), f.ring))
            .select("variable", "ts", "y", "x", "value"))
          val stats = step("domain.range_pass")(sel.agg(min("value"), max("value")).collect()(0))
          val (lo, hi) = if (stats.isNullAt(0)) (0.0, 1.0) else (stats.getDouble(0), stats.getDouble(1))
          val tmp = java.nio.file.Files.createTempDirectory(ctx.work.toPath, "render").toFile
          try {
            step("render.png")(RenderSink.writePngs(sel, tmp.getPath, lo,
              math.max((hi - lo) / Expect.NBins, 1e-9), Expect.NBins))
            step("render.zip")(RenderSink.zipPngs(tmp.getPath, new File(tmp, "result.zip").getPath))
            val out = Option(tmp.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".png"))
            pngs.add(out.length); pngBytes.add(out.map(_.length).sum)
          } finally Clock.deleteTree(tmp)
          val m = Expect.mask(f.ring)
          if (!m.isEmpty) step("sources.decode")(decode(f.vars, f.day0, f.day1, m.y0, m.y1, m.x0, m.x1))
        case s: Sql =>
          step("sources.load")(load(dir))
          step("exec.sql")(spark.sql(s.query(dir.getPath)).collect())
          val (y0, y1, x0, x1) = boxRange(s)
          if (y0 <= y1 && x0 <= x1) step("sources.decode")(decode(Seq(s.variable), s.day0, s.day1, y0, y1, x0, x1))
        case Boundary =>
          val g = step("sources.load")(load(dir))
          step("exec.boundary")(g.agg(min("lat"), max("lat"), min("lon"), max("lon")).collect())
      }
    }

  private def decode(vars: Seq[String], d0: Int, d1: Int, y0: Int, y1: Int, x0: Int, x1: Int): Unit =
    vars.foreach { v =>
      val h = NcIo.open(new File(dir, s"$v.nc4").getPath)
      val rr = h.rowReader(h.variable(v).get)
      try for (t <- d0 to d1; y <- y0 to y1) decodeCells.add(rr.readRow(t, y, x0, x1).length)
      finally rr.close()
    }

  private def boxRange(s: Sql): (Int, Int, Int, Int) = {
    val (la0, la1, lo0, lo1) = s.bounds
    val ys = Corpus.lats.indices.filter(y => Corpus.lats(y) >= la0 && Corpus.lats(y) <= la1)
    val xs = Corpus.lons.indices.filter(x => Corpus.lons(x) >= lo0 && Corpus.lons(x) <= lo1)
    if (ys.isEmpty || xs.isEmpty) (0, -1, 0, -1) else (ys.min, ys.max, xs.min, xs.max)
  }

  /** On-disk bytes of the chunks a request's section covers, from each
    * file's mean stored chunk size.
    */
  private def coveredBytes(req: Req): Double = {
    def perVar(v: String): Double = new File(dir, s"$v.nc4").length().toDouble / Corpus.ChunksPerVar
    req match {
      case f: Fetch =>
        val m = Expect.mask(f.ring)
        if (m.isEmpty) 0.0
        else f.vars.map(v => perVar(v) *
          Corpus.chunksCovered(f.day1 - f.day0 + 1, m.y0, m.y1, m.x0, m.x1)).sum
      case s: Sql =>
        val (y0, y1, x0, x1) = boxRange(s)
        perVar(s.variable) * Corpus.chunksCovered(s.day1 - s.day0 + 1, y0, y1, x0, x1)
      case Boundary => 0.0
    }
  }

  // ----------------------------------------------------------------- checks

  private def verify(recs: Seq[Rec]): (Int, Seq[String]) = {
    val failures = recs.flatMap { r =>
      val verdict =
        if (r.status != 200) Some(s"HTTP ${r.status}: ${new String(r.body.take(160), "UTF-8")}")
        else r.replayErr.orElse(r.req match {
          case f: Fetch => Expect.checkFetch(field, f, r.body, pixels(r.idx))
          case s: Sql => Expect.checkSql(field, s, r.body)
          case Boundary => Expect.checkBoundary(r.body)
        })
      verdict.map(m => s"${r.req.route}#${r.idx}: $m")
    }
    (failures.size, failures)
  }

  // ---------------------------------------------------------------- metrics

  private def p50(recs: Seq[Rec], route: String): Double =
    Stats.median(recs.filter(_.req.route == route).map(_.ms))

  def run(): Outcome = {
    val cycles = (0 until SetupCycles).map { i =>
      if (i > 0) { server.stop(); Clock.deleteTree(dir) }
      setupCycle(i)
    }
    val setupS = Stats.median(cycles.map(_.totalS))
    try {
      val window = if (ctx.args.trace) ctx.args.seconds / 2.0 else ctx.args.seconds.toDouble
      // unmeasured warm-up of the JIT; its requests are checked all the same
      val (warm, _) = loop(WarmSeconds, None, nextWarm)
      ctx.resetCounters()
      val (io0, cpu0) = (Proc.io(), Proc.cpuSeconds())
      val (recs, opsPerS) = loop(window, None, nextOp)
      ctx.drain()
      val (io1, cpu1) = (Proc.io(), Proc.cpuSeconds())
      val httpCounters = Layers.counters(ctx, _ == "-")
      val n = recs.size.toDouble
      val readBytes = (io1._1 - io0._1) / n
      val covered = recs.map(r => coveredBytes(r.req)).sum / n
      val common = Map(
        "ops_per_s" -> (opsPerS, "ops/s"),
        "p50_ms" -> (Stats.median(recs.map(_.ms)), "ms"),
        "setup_s" -> (setupS, "s"))
      val routes = Map(
        "fetch_p50_ms" -> (p50(recs, "fetch"), "ms"),
        "sql_p50_ms" -> (p50(recs, "sql"), "ms"),
        "boundary_p50_ms" -> (p50(recs, "boundary"), "ms"))
      val procM = Map(
        "sources.read_bytes" -> (readBytes, "bytes"),
        "sources.read_calls" -> ((io1._2 - io0._2) / n, "count"),
        "sources.read_amp" -> (if (covered > 0) readBytes / covered else 0.0, "ratio"),
        "proc.cpu_s_per_op" -> ((cpu1 - cpu0) / n, "s"),
        "proc.rss_peak_mb" -> (Proc.rssPeakMb(), "MB"))

      // traced window: the same closed loop, each request replayed in-process
      val (traced, perLayer, traceDetail) =
        if (!ctx.args.trace) (Seq.empty[Rec], Map.empty[String, (Double, String)], Map.empty[String, Any])
        else {
          ctx.resetCounters()
          val tracer = new Tracer
          // the traced half starts at a fixed op, so two runs of a seed trace
          // the same requests whatever the untraced half reached
          cursor.set(TracedFrom)
          val (trecs, traceOps) = loop(window, Some(tracer), nextOp)
          ctx.drain()
          val nr = trecs.size.toDouble
          val replay = Layers.counters(ctx, _ == "r")
          val total = tracer.totalMs
          def totalMs(name: String): Double = total.getOrElse(name, 0.0)
          def meanMs(name: String): Double = {
            val c = tracer.count(name)
            if (c == 0) 0.0 else totalMs(name) / c
          }
          val fetches = tracer.count("op.fetch").toDouble
          val decodeS = totalMs("sources.decode") / 1e3
          val overhead = trecs.map(r => (r.endNs - r.startNs - r.replayNs) / 1e6)
          val spansFile = new File(ctx.work, s"results/spans-${ctx.args.workload}-seed$seed.jsonl")
          tracer.write(spansFile)
          val layer = Map(
            "server.overhead_ms" -> (Stats.median(overhead), "ms"),
            "server.response_bytes" -> (recs.map(_.body.length.toDouble).sum / n, "bytes"),
            "server.errors_4xx" -> ((recs ++ trecs).count(r => r.status >= 400 && r.status < 500).toDouble, "count"),
            "server.errors_5xx" -> ((recs ++ trecs).count(r => r.status >= 500 || r.status < 0).toDouble, "count"),
            "sources.load_ms" -> (meanMs("sources.load"), "ms"),
            "sources.decode_ms" -> (meanMs("sources.decode"), "ms"),
            "sources.decode_cells_per_s" -> (if (decodeS > 0) decodeCells.sum() / decodeS else 0.0, "cells/s"),
            "domain.catalog_ms" -> (Stats.median(cycles.map(_.catalogS)) * 1e3, "ms"),
            "domain.select_ms" -> (meanMs("domain.select"), "ms"),
            "domain.range_pass_ms" -> (meanMs("domain.range_pass"), "ms"),
            "render.png_ms" -> (meanMs("render.png"), "ms"),
            "render.zip_ms" -> (meanMs("render.zip"), "ms"),
            "render.pngs" -> (if (fetches > 0) pngs.sum() / fetches else 0.0, "count"),
            "render.png_bytes" -> (if (fetches > 0) pngBytes.sum() / fetches else 0.0, "bytes"),
            "render.shuffle_bytes" -> (if (fetches > 0)
              ctx.exec.tally.get("r", "shuffle_write_bytes.render.png") / fetches else 0.0, "bytes"))
          val detail = Map(
            "trace" -> Map(
              "ops" -> trecs.size, "ops_per_s" -> traceOps,
              "untraced_ops_per_s" -> opsPerS,
              "overhead_pct" -> (if (opsPerS > 0) 100.0 * (1 - traceOps / opsPerS) else 0.0),
              "self_ms_per_op" -> tracer.selfMs.map { case (k, v) => k -> v / nr },
              "total_ms_per_op" -> total.map { case (k, v) => k -> v / nr },
              "spans_file" -> spansFile.getPath),
            "op_counters" -> Layers.opCounters(ctx, trecs.map(_.idx)),
            "deterministic" -> Seq("op_counters"))
          (trecs, Layers.perOp(replay, nr) ++ layer, detail)
        }

      val all = warm ++ recs ++ traced
      val (failed, failures) = verify(all)
      val errorRate = failed.toDouble / all.size
      val perLayerAll = if (!ctx.args.trace) Map.empty[String, (Double, String)]
        else Layers.zeroes ++ perLayer ++ routes ++ procM ++ Map("error_rate" -> (errorRate, "ratio"))
      val detail = Map[String, Any](
        "ops" -> recs.size, "window_s" -> window,
        "latency_ms" -> (Map("all" -> Stats.summary(recs.map(_.ms))) ++
          Seq("fetch", "sql", "boundary").map(r => r -> Stats.summary(recs.filter(_.req.route == r).map(_.ms)))),
        "routes" -> routes.map { case (k, v) => k -> v._1 },
        "error_rate" -> errorRate,
        "proc" -> procM.map { case (k, v) => k -> v._1 },
        "http_counters_per_op" -> Layers.perOp(httpCounters, n).map { case (k, v) => k -> v._1 },
        "http_counters_total" -> httpCounters,
        "setup_cycles" -> cycles.map(c => Map("total_s" -> c.totalS, "corpus_s" -> c.corpusS,
          "catalog_s" -> c.catalogS, "warm_s" -> c.warmS)),
        "corpus_bytes" -> cycles.last.corpusBytes,
        "clients" -> clients,
        "op_log" -> {
          val t0 = recs.map(_.startNs).minOption.getOrElse(0L)
          recs.sortBy(_.startNs).map(r => Seq(r.idx, r.req.route, r.status, (r.startNs - t0) / 1e6, r.ms))
        }) ++ traceDetail
      Outcome(all.size, failed, common, perLayerAll, detail, failures)
    } finally {
      server.stop()
      Clock.deleteTree(dir)
    }
  }
}

object Serve {
  /** First op of the traced half: far past any untraced window. */
  val TracedFrom: Long = 1L << 20

  final case class SetupCycle(totalS: Double, corpusS: Double, catalogS: Double,
      warmS: Double, corpusBytes: Long)

  /** One request: its op index in the stream, the response, and — traced —
    * the in-process replay's time and error.
    */
  final case class Rec(idx: Long, req: Req, status: Int, startNs: Long, endNs: Long,
      body: Array[Byte], replayNs: Long, replayErr: Option[String]) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}
