package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

/** What a workload hands back: op counts, the metrics the result line
  * carries, and everything else for the detail record.
  */
final case class Outcome(attempted: Int, failed: Int,
    endToEnd: Map[String, (Double, String)], perLayer: Map[String, (Double, String)],
    detail: Map[String, Any], failures: Seq[String])

/** One benchmark run: `--workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir>`. Prints a detail record, then the result line last.
  */
object Main {
  val Master = "local[4]"
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "serve_small" -> (c => new Serve(c).run()),
    "query_mix" -> (c => new QueryMix(c).run()))

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      new File(m.getOrElse("work", "perfbench/work")).getAbsoluteFile)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload = Workloads.getOrElse(args.workload, {
      System.err.println(s"unknown workload ${args.workload}; known: ${Workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    val loadBefore = Proc.loadAvg()
    val steal0 = Proc.stealSeconds()
    val t0 = System.nanoTime()
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $msg")
    val ctx = new Ctx(args)
    log("session up")
    val out = try workload(ctx) catch {
      case e: Throwable =>
        // stray non-daemon threads (HTTP client, server pool) must not hold
        // the process open past a failed run
        e.printStackTrace()
        ctx.stop()
        sys.exit(1)
    } finally { log("workload done"); ctx.stop(); log("session stopped") }
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> Master,
      "load_before" -> loadBefore, "load_after" -> Proc.loadAvg(),
      "host_steal_s" -> (Proc.stealSeconds() - steal0),
      "jvm_flags" -> scala.jdk.CollectionConverters.ListHasAsScala(jvm).asScala.filterNot(_.startsWith("--add-opens")),
      "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "session_start_s" -> ctx.sessionStartS)
    val metrics = if (args.trace) out.perLayer else out.endToEnd
    val result = Map(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val detail = Map("workload" -> args.workload, "env" -> env, "result" -> result,
      "end_to_end" -> out.endToEnd.map { case (k, (v, _)) => k -> v },
      "per_layer" -> out.perLayer.map { case (k, (v, _)) => k -> v },
      "failures" -> out.failures.take(20)) ++ out.detail
    val resultsDir = new File(args.work, "results")
    resultsDir.mkdirs()
    val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    java.nio.file.Files.writeString(new File(resultsDir, s"$tag.json").toPath,
      Json(detail))
    out.failures.take(5).foreach(f => System.err.println(s"[perfbench] FAIL $f"))
    println("detail " + Json(detail - "op_log"))
    println(Json(result))
    System.out.flush()
    log("done")
    // stray non-daemon threads (HTTP client, server pool) must not hold the
    // process open past its result
    sys.exit(0)
  }
}

/** The session and the benchmark's own probes, shared by every workload. */
final class Ctx(val args: Args) {
  val work: File = args.work
  val exec = new ExecListener
  val plan = new PlanListener

  val (spark: SparkSession, sessionStartS: Double) = {
    val t0 = System.nanoTime()
    val s = SparkSession.builder()
      .master(Main.Master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    (s, (System.nanoTime() - t0) / 1e9)
  }
  spark.sparkContext.addSparkListener(exec)
  spark.sparkContext.addSparkListener(plan.execIds)
  spark.listenerManager.register(plan)
  require(org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
    spark.sessionState.newHadoopConf()).isInstanceOf[CountingFs],
    "the counting file system did not register")

  /** Run `f` with the job group (and FS tag) `group` on this thread. */
  def inGroup[A](group: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group, interruptOnCancel = false)
    Tags.set(group)
    try f
    finally {
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev, interruptOnCancel = false)
      Tags.set(prev)
    }
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = { org.apache.spark.ListenerBusDrain(spark.sparkContext); plan.settle() }

  def resetCounters(): Unit = {
    drain(); exec.tally.clear(); exec.byGroup.clear(); plan.clear()
    CountingFs.tally.clear(); CountingFs.byGroup.clear()
  }

  def stop(): Unit = spark.stop()
}

/** Time helpers. */
object Clock {
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else f.length()
}
