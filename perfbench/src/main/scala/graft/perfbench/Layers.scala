package graft.perfbench

/** The per-layer metric set and the counters behind it. */
object Layers {

  /** Every per-layer metric with its unit. A traced run prints all of them;
    * a layer a workload does not exercise reads 0 there.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "fetch_p50_ms" -> "ms", "sql_p50_ms" -> "ms", "boundary_p50_ms" -> "ms",
    "error_rate" -> "ratio",
    "server.overhead_ms" -> "ms", "server.response_bytes" -> "bytes",
    "server.errors_4xx" -> "count", "server.errors_5xx" -> "count",
    "sources.load_ms" -> "ms", "sources.partitions" -> "count",
    "sources.rows_scanned" -> "count", "sources.scan_selectivity" -> "ratio",
    "sources.read_bytes" -> "bytes", "sources.read_calls" -> "count", "sources.read_amp" -> "ratio",
    "sources.decode_ms" -> "ms", "sources.decode_cells_per_s" -> "cells/s",
    "domain.catalog_ms" -> "ms", "domain.select_ms" -> "ms", "domain.range_pass_ms" -> "ms",
    "render.png_ms" -> "ms", "render.zip_ms" -> "ms", "render.pngs" -> "count",
    "render.png_bytes" -> "bytes", "render.shuffle_bytes" -> "bytes",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.sched_delay_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "operators.build_ms" -> "ms", "operators.action_ms" -> "ms",
    "operators.build_jobs" -> "count", "operators.schema_jobs" -> "count",
    "snapshots.fs_meta_calls" -> "count", "snapshots.fs_opens" -> "count",
    "snapshots.fs_creates" -> "count",
    "proc.cpu_s_per_op" -> "s", "proc.rss_peak_mb" -> "MB")

  def zeroes: Map[String, (Double, String)] = PerLayer.map { case (k, u) => k -> (0.0, u) }.toMap

  /** Run totals of the listener and file-system counters over the op classes
    * `tags` accepts.
    */
  def counters(ctx: Ctx, tags: String => Boolean): Map[String, Double] = {
    val e = ctx.exec.tally; val p = ctx.plan.tally; val fs = CountingFs.tally
    def es(n: String) = e.sum(n, tags).toDouble
    def ps(n: String) = p.sum(n, tags).toDouble
    def fss(n: String) = fs.sum(n, tags).toDouble
    Map(
      "jobs" -> es("jobs"), "stages" -> es("stages"), "tasks" -> es("tasks"),
      "task_ms" -> es("task_ms"), "gc_ms" -> es("gc_ms"), "sched_delay_ms" -> es("sched_delay_ms"),
      "shuffle_write_bytes" -> es("shuffle_write_bytes"),
      "shuffle_read_bytes" -> es("shuffle_read_bytes"), "spill_bytes" -> es("spill_bytes"),
      "schema_jobs" -> es("schema_jobs"), "build_jobs" -> es("jobs.build"),
      "executions" -> ps("executions"),
      "analysis_ms" -> ps("analysis_ms"), "optimization_ms" -> ps("optimization_ms"),
      "planning_ms" -> ps("planning_ms"),
      "partitions" -> ps("partitions"), "rows_scanned" -> ps("rows_scanned"),
      "rows_kept" -> ps("rows_kept"),
      "fs_meta_calls" -> CountingFs.MetaKinds.map(fss).sum,
      "fs_opens" -> fss("open"), "fs_creates" -> fss("create"),
      "fs_bytes_written" -> fss("bytes_written"))
  }

  /** Per-op values of the counter-backed per-layer metrics. */
  def perOp(c: Map[String, Double], ops: Double): Map[String, (Double, String)] = {
    def per(k: String) = if (ops > 0) c(k) / ops else 0.0
    Map(
      "exec.jobs" -> (per("jobs"), "count"), "exec.stages" -> (per("stages"), "count"),
      "exec.tasks" -> (per("tasks"), "count"), "exec.task_ms" -> (per("task_ms"), "ms"),
      "exec.gc_ms" -> (per("gc_ms"), "ms"), "exec.sched_delay_ms" -> (per("sched_delay_ms"), "ms"),
      "exec.shuffle_write_bytes" -> (per("shuffle_write_bytes"), "bytes"),
      "exec.shuffle_read_bytes" -> (per("shuffle_read_bytes"), "bytes"),
      "exec.spill_bytes" -> (per("spill_bytes"), "bytes"),
      "catalyst.analysis_ms" -> (per("analysis_ms"), "ms"),
      "catalyst.optimization_ms" -> (per("optimization_ms"), "ms"),
      "catalyst.planning_ms" -> (per("planning_ms"), "ms"),
      "sources.partitions" -> (per("partitions"), "count"),
      "sources.rows_scanned" -> (per("rows_scanned"), "count"),
      "sources.scan_selectivity" ->
        (if (c("rows_scanned") > 0) c("rows_kept") / c("rows_scanned") else 0.0, "ratio"),
      "operators.build_jobs" -> (per("build_jobs"), "count"),
      "operators.schema_jobs" -> (per("schema_jobs"), "count"),
      "snapshots.fs_meta_calls" -> (per("fs_meta_calls"), "count"),
      "snapshots.fs_opens" -> (per("fs_opens"), "count"),
      "snapshots.fs_creates" -> (per("fs_creates"), "count"))
  }

  /** Structural counters of each traced op, from its replay (job group
    * `r:<op>:<span>`). Op i of a seed's stream is the same request in every
    * run, so its counts repeat exactly across runs of the seed.
    */
  def opCounters(ctx: Ctx, ops: Seq[Long]): Map[Long, Map[String, Long]] = {
    val src = ctx.exec.byGroup.snapshot ++ ctx.plan.byGroup.snapshot.filter(_._1._2 == "partitions")
    val byOp = src.toSeq.filter(_._1._1.startsWith("r:")).groupBy { case ((g, _), _) => g.split(':')(1) }
    ops.map { i =>
      val mine = byOp.getOrElse(i.toString, Nil)
      i -> Seq("jobs", "stages", "tasks", "partitions").map { n =>
        n -> mine.collect { case ((_, k), v) if k == n => v }.sum
      }.toMap
    }.toMap
  }
}
