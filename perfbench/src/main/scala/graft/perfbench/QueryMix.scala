package graft.perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryModule, SparkEntry}

/** The TPC-H-shaped tables query_mix reads: region, nation, customer,
  * supplier, part, orders and lineitem, with the fixture schemas (dates as
  * `TIMESTAMP_NTZ`) and value domains. Every column is closed-form in the row
  * index, through `xxhash64`. The tables do not depend on the seed, so the
  * row count each declared query returns over them is pinned once (see
  * [[QueryMix.Pins]]).
  */
object QueryTables {
  val Orders = 3000; val Lineitems = 12000; val Customers = 300; val Parts = 400; val Suppliers = 20

  private def h(k: Int, n: Int): String = s"pmod(xxhash64(id, $k), $n)"
  private def int(k: Int, n: Int): String = s"CAST(${h(k, n)} AS INT)"
  private def money(k: Int, lo: Double, hi: Double): String =
    s"CAST(round($lo + ${h(k, ((hi - lo) * 100).toInt)} / 100.0, 2) AS DOUBLE)"
  private def date(k: Int, from: String, days: Int): String =
    s"CAST(date_add(DATE'$from', ${int(k, days)}) AS TIMESTAMP_NTZ)"
  private def pick(k: Int, xs: String*): String =
    s"element_at(array(${xs.map(x => s"'$x'").mkString(", ")}), ${int(k, xs.size)} + 1)"

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = Seq(
    "region" -> spark.range(5).selectExpr("CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name"),
    "nation" -> spark.range(25).selectExpr("CAST(id AS INT) AS n_nationkey",
      "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey"),
    "customer" -> spark.range(Customers).selectExpr("id AS c_custkey",
      "format_string('Customer#%09d', id) AS c_name", s"${int(1, 25)} AS c_nationkey",
      s"${money(2, -999.99, 9999.99)} AS c_acctbal",
      s"${pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")} AS c_mktsegment"),
    "supplier" -> spark.range(Suppliers).selectExpr("id AS s_suppkey",
      "format_string('Supplier#%09d', id) AS s_name", s"${int(1, 25)} AS s_nationkey",
      s"${money(2, -999.99, 9999.99)} AS s_acctbal"),
    "part" -> spark.range(Parts).selectExpr("id AS p_partkey",
      s"concat(${pick(1, "small", "new", "hot", "large", "cold", "red", "blue", "old")}, ' ', " +
        s"${pick(2, "widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")}) AS p_name",
      s"concat('Brand#', ${h(3, 25)} + 1) AS p_brand",
      s"${pick(4, "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")} AS p_type",
      s"${int(5, 50)} + 1 AS p_size", "CAST(round(900 + id / 10.0, 2) AS DOUBLE) AS p_retailprice"),
    "orders" -> spark.range(Orders).selectExpr("id AS o_orderkey",
      s"${h(1, Customers)} AS o_custkey", s"${pick(2, "O", "F", "P")} AS o_orderstatus",
      s"${money(3, 1000, 500000)} AS o_totalprice", s"${date(4, "1995-01-01", 2404)} AS o_orderdate",
      s"${pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")} AS o_orderpriority"),
    "lineitem" -> spark.range(Lineitems).selectExpr(s"${h(1, Orders)} AS l_orderkey",
      s"${h(2, Parts)} AS l_partkey", s"${h(3, Suppliers)} AS l_suppkey",
      s"${int(4, 7)} + 1 AS l_linenumber", s"CAST(${h(5, 50)} + 1 AS DOUBLE) AS l_quantity",
      s"${money(6, 900, 105000)} AS l_extendedprice", s"CAST(${h(7, 11)} / 100.0 AS DOUBLE) AS l_discount",
      s"CAST(${h(8, 9)} / 100.0 AS DOUBLE) AS l_tax", s"${pick(9, "A", "N", "R")} AS l_returnflag",
      s"${pick(10, "O", "F")} AS l_linestatus", s"${date(11, "1995-01-02", 2498)} AS l_shipdate"))

  /** Write every table as one parquet file `<dir>/<name>.parquet`, the
    * fixture layout; returns the bytes written.
    */
  def write(spark: SparkSession, dir: File): Long = {
    dir.mkdirs()
    tables(spark).map { case (name, df) =>
      val tmp = new File(dir, s"$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val out = new File(dir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, out.toPath)
      Clock.deleteTree(tmp)
      out.length()
    }.sum
  }

  /** `QueryTables <dir>`: write the tables, to re-pin the row counts. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master(Main.Master).appName("query-tables")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try println(s"${write(spark, new File(args(0)))} bytes in ${args(0)}")
    finally spark.stop()
  }
}

object QueryMix {
  /** The declared-query modules, in `SparkEntry`'s order. */
  val Modules: Seq[(String, QueryModule)] = Seq(
    "operators.Relational" -> graft.operators.Relational,
    "operators.Aggregates" -> graft.operators.Aggregates,
    "operators.WindowOps" -> graft.operators.WindowOps,
    "operators.Scalars" -> graft.operators.Scalars,
    "text.TextAnalysis" -> graft.text.TextAnalysis,
    "text.Privacy" -> graft.text.Privacy,
    "text.Monitoring" -> graft.text.Monitoring,
    "dedup.Dedup" -> graft.dedup.Dedup,
    "dedup.EntityResolution" -> graft.dedup.EntityResolution,
    "similarity.Similarity" -> graft.similarity.Similarity,
    "similarity.Pca" -> graft.similarity.Pca,
    "analytics.Behavioral" -> graft.analytics.Behavioral,
    "analytics.Probe" -> graft.analytics.Probe,
    "streaming.Streaming" -> graft.streaming.Streaming,
    "domain.GridQueries" -> graft.domain.GridQueries,
    "multimodal.Multimodal" -> graft.multimodal.Multimodal,
    "sources.SourceQueries" -> graft.sources.SourceQueries,
    "graph.GraphQueries" -> graft.graph.GraphQueries)

  def moduleOf(query: String): String =
    Modules.find(_._2.queries.contains(query)).map(_._1).getOrElse("other")

  /** Row count of every declared query whose inputs [[QueryTables]] covers,
    * pinned from a `graft.Verify` run over the tables that
    * `tools/oracle_check.py` passed in full (`query_mix_pins.tsv`).
    */
  lazy val Pins: Map[String, Long] = {
    val in = getClass.getResourceAsStream("/query_mix_pins.tsv")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, n) = l.split('\t'); q -> n.toLong }.toMap
    finally in.close()
  }

  val SampleSize = 12

  /** The two queries every set-up runs; the sample never holds them. */
  def warmQueries(eligible: Iterable[String]): Seq[String] = eligible.toSeq.sorted.take(2)

  /** Pass `pass` over `queries` in a seeded, module-stratified order: each
    * module's queries are shuffled and spread evenly along the pass, so
    * every prefix of it holds the modules in nearly their shares of the
    * whole.
    */
  def order(queries: Seq[String], seed: Long, pass: Long): IndexedSeq[String] = {
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + pass * 0xBF58476D1CE4E5B9L + 3)
    queries.sorted.groupBy(moduleOf).toSeq.sortBy(_._1).flatMap { case (_, qs) =>
      Decks.shuffle(r, qs).zipWithIndex.map { case (q, j) => (q, (j + r.nextDouble()) / qs.size) }
    }.sortBy(_._2).map(_._1).toIndexedSeq
  }

  final case class Rec(idx: Long, query: String, startNs: Long, buildNs: Long, endNs: Long,
      rows: Long, err: Option[String]) {
    def ms: Double = (endNs - startNs) / 1e6
    def buildMs: Double = (buildNs - startNs) / 1e6
    def actionMs: Double = (endNs - buildNs) / 1e6
  }
}

/** query_mix: one client runs declared queries back to back over the
  * generated tables, each timed as its build (`fn(spark, dir)`) and its
  * action (`.count()`), as `graft.Bench` times them. A run measures one
  * module-stratified sample of [[QueryMix.SampleSize]] queries, the same
  * for every seed so that runs of different seeds measure the same work.
  * Unmeasured passes over it come first (the first holds each query's
  * first execution in the JVM, and is reported apart); the window then
  * repeats the sample in a fresh seeded order per pass, as `graft.Bench`
  * reports the median of repeated passes.
  */
final class QueryMix(ctx: Ctx) {
  import ctx.spark
  import QueryMix._

  private val seed = ctx.args.seed
  private val SetupCycles = 3
  private val eligible: Map[String, Long] = Pins.filter { case (q, _) => SparkEntry.queries.contains(q) }
  private val warmSet = warmQueries(eligible.keys)
  private val sample: Seq[String] =
    order(eligible.keys.toSeq.filterNot(warmSet.contains), 0L, 0L).take(SampleSize)
  private val passes = new java.util.concurrent.ConcurrentHashMap[Long, IndexedSeq[String]]()
  /** Passes run before the window, in the same order under every seed: the
    * order a JVM first meets its code shapes what the JIT compiles, and
    * seeded warm-up passes made whole runs faster or slower than others.
    * After the first pass a pass takes a fifth of the time, and it levels
    * off by about the fifth: with two, the window opened while the JIT was
    * still compiling, and a run's rate hung on how much CPU the compiler
    * threads got beside the query.
    */
  private val WarmPasses = 5
  /** Query `i` of the run: entry `i % n` of pass `i / n` over the sample. */
  private def query(i: Long): String =
    passes.computeIfAbsent(i / sample.size,
      p => order(sample, if (p < WarmPasses) 0L else seed, p.longValue))((i % sample.size).toInt)
  private val cursor = new AtomicLong(0)
  private var dir: File = _

  private def runOne(idx: Long, q: String, t: Option[Tracer]): Rec = {
    def phase[A](name: String)(f: => A): A = {
      val g = s"q:$idx:$name"
      t.fold(ctx.inGroup(g)(f))(tr => tr.span(s"operators.$name", idx)(ctx.inGroup(g)(f)))
    }
    val fn = SparkEntry.queries(q)
    val s = System.nanoTime()
    var b = s
    val res = try {
      val work = () => {
        val df = phase("build")(fn(spark, dir.getPath))
        b = System.nanoTime()
        phase("action")(df.count())
      }
      Right(t.fold(work())(_.span("op.query", idx)(work())))
    } catch { case e: Exception => Left(s"$q: $e") }
    val e = System.nanoTime()
    if (b == s) b = e
    Rec(idx, q, s, b, e, res.getOrElse(-1L), res.left.toOption)
  }

  private def check(r: Rec): Option[String] = r.err.orElse(
    if (r.rows == eligible(r.query)) None
    else Some(s"${r.query}: ${r.rows} rows, pinned ${eligible(r.query)}"))

  /** One set-up: write the tables, then run the two warm queries. */
  private def setupCycle(i: Int): (Double, Long) = {
    val d = new File(ctx.work, s"qtables-$i")
    Clock.deleteTree(d)
    val t0 = System.nanoTime()
    val bytes = QueryTables.write(spark, d)
    dir = d
    warmSet.foreach { q =>
      check(runOne(-1, q, None)).foreach(m => throw new IllegalStateException(s"set-up query: $m"))
    }
    ((System.nanoTime() - t0) / 1e9, bytes)
  }

  private def next(tracer: Option[Tracer]): Rec = {
    val i = cursor.getAndIncrement()
    runOne(i, query(i), tracer)
  }

  /** Closed loop, one client: run the next query until the window closes.
    * Returns the ops and the rate of the window's median whole pass.
    */
  private def loop(seconds: Double, tracer: Option[Tracer]): (Seq[Rec], Double) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val recs = scala.collection.mutable.ArrayBuffer[Rec]()
    while (System.nanoTime() < deadline) recs += next(tracer)
    val rate = passSeconds(recs.toSeq) match {
      case Seq() => Stats.rate(recs.map(r => (r.startNs, r.endNs)).toSeq, deadline, seconds)
      case ps => sample.size / Stats.median(ps)
    }
    (recs.toSeq, rate)
  }

  /** Wall seconds of each whole pass in `recs`, in pass order. Every pass
    * runs the same queries, so the passes are like for like, and the median
    * of them sets aside a pass that a burst of host load slowed.
    */
  private def passSeconds(recs: Seq[Rec]): Seq[Double] =
    recs.groupBy(_.idx / sample.size).toSeq.sortBy(_._1).map(_._2).filter(_.size == sample.size)
      .map(p => (p.map(_.endNs).max - p.map(_.startNs).min) / 1e9)

  /** Jobs, stages, tasks and build-phase jobs of each op (job group
    * `q:<op>:<phase>`): op i of a seed's stream is the same query in every
    * run, so these repeat across runs of the seed.
    */
  private def opCounters(recs: Seq[Rec]): Map[Long, Map[String, Any]] = {
    val byOp = ctx.exec.byGroup.snapshot.toSeq.filter(_._1._1.startsWith("q:"))
      .groupBy { case ((g, _), _) => g.split(':')(1) }
    recs.map { r =>
      val mine = byOp.getOrElse(r.idx.toString, Nil)
      def sum(n: String, phase: String => Boolean = _ => true) =
        mine.collect { case ((g, k), v) if k == n && phase(g) => v }.sum
      r.idx -> Map[String, Any]("query" -> r.query, "jobs" -> sum("jobs"),
        "stages" -> sum("stages"), "tasks" -> sum("tasks"),
        "build_jobs" -> sum("jobs", _.endsWith(":build")))
    }.toMap
  }

  def run(): Outcome = {
    require(sample.size == SampleSize, s"only ${sample.size} pinned queries are declared in SparkEntry.queries")
    val cycles = (0 until SetupCycles).map { i =>
      if (i > 0) Clock.deleteTree(dir)
      setupCycle(i)
    }
    try {
      val window = if (ctx.args.trace) ctx.args.seconds / 2.0 else ctx.args.seconds.toDouble
      // the first pass holds every query's first execution in this JVM
      val cold = sample.map(_ => next(None))
      val warm = (1 until WarmPasses).flatMap(_ => sample.map(_ => next(None)))
      ctx.resetCounters()
      val cpu0 = Proc.cpuSeconds()
      val (recs, opsPerS) = loop(window, None)
      ctx.drain()
      val cpu1 = Proc.cpuSeconds()
      val n = recs.size.toDouble
      val counters = Layers.counters(ctx, _ == "q")
      val untracedCounters = opCounters(recs)

      val (traced, perLayer, traceDetail) =
        if (!ctx.args.trace) (Seq.empty[Rec], Map.empty[String, (Double, String)], Map.empty[String, Any])
        else {
          ctx.resetCounters()
          val tracer = new Tracer
          // the traced half starts at a fixed pass, so two runs of a seed
          // trace the same ops whatever the untraced half reached
          cursor.set(1000L * sample.size)
          val (trecs, traceOps) = loop(window, Some(tracer))
          ctx.drain()
          val nt = trecs.size.toDouble
          val c = Layers.counters(ctx, _ == "q")
          val spansFile = new File(ctx.work, s"results/spans-${ctx.args.workload}-seed$seed.jsonl")
          tracer.write(spansFile)
          val layer = Map(
            "operators.build_ms" -> (tracer.totalMs.getOrElse("operators.build", 0.0) / nt, "ms"),
            "operators.action_ms" -> (tracer.totalMs.getOrElse("operators.action", 0.0) / nt, "ms"))
          val detail = Map("trace" -> Map(
            "ops" -> trecs.size, "ops_per_s" -> traceOps, "untraced_ops_per_s" -> opsPerS,
            "overhead_pct" -> 100.0 * (1 - traceOps / opsPerS),
            "self_ms_per_op" -> tracer.selfMs.map { case (k, v) => k -> v / nt },
            "total_ms_per_op" -> tracer.totalMs.map { case (k, v) => k -> v / nt },
            "spans_file" -> spansFile.getPath))
          (trecs, Layers.perOp(c, nt) ++ layer, detail)
        }

      val all = cold ++ warm ++ recs ++ traced
      val failures = all.flatMap(check)
      val failed = failures.size
      val common = Map(
        "ops_per_s" -> (opsPerS, "ops/s"),
        "p50_ms" -> (Stats.median(recs.map(_.ms)), "ms"),
        "setup_s" -> (Stats.median(cycles.map(_._1)), "s"))
      val procM = Map(
        "error_rate" -> (failed.toDouble / all.size, "ratio"),
        "proc.cpu_s_per_op" -> ((cpu1 - cpu0) / n, "s"),
        "proc.rss_peak_mb" -> (Proc.rssPeakMb(), "MB"))
      val perLayerAll = if (!ctx.args.trace) Map.empty[String, (Double, String)]
        else Layers.zeroes ++ perLayer ++ procM
      val detail = Map[String, Any](
        "ops" -> recs.size, "window_s" -> window,
        "eligible_queries" -> eligible.size, "pinned_not_declared" -> (Pins.keySet -- eligible.keySet).toSeq.sorted,
        "sample" -> sample, "passes" -> (all.size.toDouble / sample.size),
        "latency_ms" -> Map("all" -> Stats.summary(recs.map(_.ms)), "first_pass" -> Stats.summary(cold.map(_.ms)),
          "build" -> Stats.summary(recs.map(_.buildMs)), "action" -> Stats.summary(recs.map(_.actionMs))),
        "warm_pass_ms" -> (cold ++ warm).grouped(sample.size).map(_.map(_.ms).sum).toSeq,
        "pass_ms" -> passSeconds(recs).map(_ * 1e3),
        "modules" -> recs.groupBy(r => moduleOf(r.query)).map { case (m, xs) => m -> xs.size },
        "error_rate" -> procM("error_rate")._1,
        "proc" -> procM.map { case (k, v) => k -> v._1 },
        "counters_per_op" -> Layers.perOp(counters, n).map { case (k, v) => k -> v._1 },
        "counters_total" -> counters,
        "op_counters" -> untracedCounters,
        "deterministic" -> Seq("op_counters"),
        "setup_cycles" -> cycles.map(_._1), "table_bytes" -> cycles.last._2,
        "op_log" -> recs.map(r => Seq(r.idx, r.query, r.rows, r.buildMs, r.actionMs))) ++ traceDetail
      Outcome(all.size, failed, common, perLayerAll, detail, failures)
    } finally Clock.deleteTree(dir)
  }
}
