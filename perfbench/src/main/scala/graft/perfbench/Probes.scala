package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters keyed by (tag, name), where the tag is the op class a piece of
  * work belongs to. Work is tagged through the Spark job group, which the
  * benchmark sets to `<tag>:<op>:<phase>` on the calling thread.
  */
final class Tally {
  private val m = new ConcurrentHashMap[(String, String), LongAdder]()
  def add(tag: String, name: String, n: Long): Unit =
    m.computeIfAbsent((tag, name), _ => new LongAdder).add(n)
  def get(tag: String, name: String): Long =
    Option(m.get((tag, name))).map(_.sum()).getOrElse(0L)
  /** Sum of `name` over every tag the predicate accepts. */
  def sum(name: String, tags: String => Boolean = _ => true): Long =
    m.asScala.collect { case ((t, n), a) if n == name && tags(t) => a.sum() }.sum
  def snapshot: Map[(String, String), Long] = m.asScala.map { case (k, a) => k -> a.sum() }.toMap
  def clear(): Unit = m.clear()
}

object Tags {
  /** The job group in force on the calling thread: the task's on an
    * executor thread, the driver's otherwise.
    */
  private val driverGroup = new InheritableThreadLocal[String]

  def set(group: String): Unit = driverGroup.set(group)

  def current: String = Option(TaskContext.get())
    .flatMap(tc => Option(tc.getLocalProperty("spark.jobGroup.id")))
    .orElse(Option(driverGroup.get())).getOrElse("")

  /** First component of a job group: the op class (`r`, `q`, …). */
  def tag(group: String): String =
    if (group == null || group.isEmpty) "-" else group.takeWhile(_ != ':')

  /** Last component: the phase (`build`, `action`, a span name, …). */
  def phase(group: String): String =
    if (group == null || !group.contains(':')) "" else group.substring(group.lastIndexOf(':') + 1)
}

/** A local `FileSystem` that counts calls by kind and bytes written, per
  * op class. Registered through `spark.hadoop.fs.file.impl`, so every
  * Hadoop-FS access to local files — snapshot manifests, parquet data and
  * footers — passes through it; NetCDF reads do not use Hadoop FS.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs.count

  override def open(f: Path, bufferSize: Int) = { count("open"); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = { count("stat"); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = { count("list"); super.listStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { count("rename"); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { count("delete"); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { count("mkdirs"); super.mkdirs(f, permission) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count("create")
    val tag = Tags.tag(Tags.current)
    val inner = super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
    new FSDataOutputStream(inner, null) {
      override def close(): Unit = {
        CountingFs.tally.add(tag, "bytes_written", getPos)
        super.close()
      }
    }
  }
}

object CountingFs {
  val tally = new Tally
  /** The same counts keyed by the whole job group (tagged work only). */
  val byGroup = new Tally
  val MetaKinds: Seq[String] = Seq("stat", "list", "rename", "delete", "mkdirs")
  private def count(kind: String): Unit = {
    val group = Tags.current
    tally.add(Tags.tag(group), kind, 1)
    if (group.nonEmpty) byGroup.add(group, kind, 1)
  }
}

/** Per-job, per-stage and per-task counters, tagged by job group. `tally`
  * keys by op class (also by phase for jobs and shuffle writes); `byGroup`
  * keys the structural counts by the whole job group.
  */
final class ExecListener extends SparkListener {
  val tally = new Tally
  val byGroup = new Tally
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val tag = Tags.tag(group)
    tally.add(tag, "jobs", 1)
    tally.add(tag, s"jobs.${Tags.phase(group)}", 1)
    byGroup.add(group, "jobs", 1)
    // parquet schema inference / merging runs as its own one-task job; its
    // call site names the schema-merge utility
    if (e.stageInfos.exists(s => s.details.contains("SchemaMergeUtils") ||
        s.details.contains("inferSchema")))
      tally.add(tag, "schema_jobs", 1)
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val group = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    tally.add(Tags.tag(group), "stages", 1)
    byGroup.add(group, "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = stageGroup.getOrDefault(e.stageId, "")
    val tag = Tags.tag(group)
    tally.add(tag, "tasks", 1)
    byGroup.add(group, "tasks", 1)
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      tally.add(tag, "task_ms", m.executorRunTime)
      tally.add(tag, "gc_ms", m.jvmGCTime)
      val shw = m.shuffleWriteMetrics.bytesWritten
      tally.add(tag, "shuffle_write_bytes", shw)
      tally.add(tag, s"shuffle_write_bytes.${Tags.phase(group)}", shw)
      byGroup.add(group, "shuffle_write_bytes", shw)
      tally.add(tag, "shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      tally.add(tag, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      if (i != null && i.finishTime > 0)
        tally.add(tag, "sched_delay_ms", math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime.max(0L)))
    }
  }
}

/** Catalyst phase times and DSv2 scan counters of every successful query
  * execution, tagged like [[ExecListener]]. The listener runs on the bus
  * thread, so each execution's counts wait in `pending` until [[settle]]
  * resolves its job group from the execution-start event; an execution
  * outside any group counts under `-`.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val tally = new Tally
  val byGroup = new Tally
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val qeExec = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Long]())
  private val pending =
    new java.util.concurrent.ConcurrentLinkedQueue[(QueryExecution, Seq[(String, Long)])]()

  /** Records which job group each SQL execution runs under, and which
    * execution each `QueryExecution` was.
    */
  val execIds: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.ExecutionEndQe(end).foreach(qe => qeExec.put(qe, end.executionId))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val counts = mutable.ArrayBuffer[(String, Long)]("executions" -> 1L)
    qe.tracker.phases.foreach { case (phase, s) => counts += (s"${phase}_ms" -> s.durationMs) }
    val plan = qe.executedPlan
    collect(plan) { case s: BatchScanExec => s }.foreach { s =>
      counts += ("partitions" -> s.partitions.map(_.size).sum.toLong)
      s.metrics.get("numOutputRows").foreach(m => counts += ("rows_scanned" -> m.value))
    }
    // rows the select keeps: the filter sitting directly on a grid scan
    collect(plan) { case f: FilterExec if scanBelow(f.child) => f }
      .foreach(f => f.metrics.get("numOutputRows").foreach(m => counts += ("rows_kept" -> m.value)))
    pending.add(qe -> counts.toSeq)
  }

  private def scanBelow(p: SparkPlan): Boolean = p match {
    case _: BatchScanExec => true
    case pr: ProjectExec => scanBelow(pr.child)
    case in: InputAdapter => scanBelow(in.child)
    case _ => false
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    pending.add(qe -> Seq("failed_executions" -> 1L))

  /** Move pending executions into the tallies; call after the bus drained. */
  def settle(): Unit = {
    var e = pending.poll()
    while (e != null) {
      val group = Option(qeExec.remove(e._1))
        .map(id => execGroup.getOrDefault(id.longValue, "")).getOrElse("")
      e._2.foreach { case (name, n) =>
        tally.add(Tags.tag(group), name, n)
        if (name == "partitions") byGroup.add(group, name, n)
      }
      e = pending.poll()
    }
  }

  def clear(): Unit = { settle(); tally.clear(); byGroup.clear(); qeExec.clear() }
}

/** Process counters from `/proc/self`. */
object Proc {
  private def fields(path: String): Map[String, Long] =
    scala.io.Source.fromFile(path).getLines().flatMap { l =>
      l.split(":\\s*", 2) match {
        case Array(k, v) => v.trim.split("\\s+").headOption.flatMap(_.toLongOption).map(k -> _)
        case _ => None
      }
    }.toMap

  /** (rchar, syscr): bytes and read calls the process has made. */
  def io(): (Long, Long) = {
    val f = fields("/proc/self/io")
    (f.getOrElse("rchar", 0L), f.getOrElse("syscr", 0L))
  }

  /** User + system CPU seconds of the process (clock ticks at 100 Hz). */
  def cpuSeconds(): Double = {
    val stat = scala.io.Source.fromFile("/proc/self/stat").mkString
    val rest = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
    (rest(11).toLong + rest(12).toLong) / 100.0
  }

  /** Peak resident set size in MB (`VmHWM`). */
  def rssPeakMb(): Double = fields("/proc/self/status").getOrElse("VmHWM", 0L) / 1024.0

  /** CPU seconds the hypervisor gave other guests while this one wanted to
    * run (`steal` in `/proc/stat`, all CPUs): host contention, which slows
    * a run without any change to the program.
    */
  def stealSeconds(): Double = {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toLong / 100.0 else 0.0
  }

  def loadAvg(): Seq[Double] =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").take(3).map(_.toDouble).toSeq
}

/** In-memory spans around calls into the program's layers. */
final class Tracer {
  final case class Span(id: Long, parent: Long, name: String, op: Long,
      startNs: Long, endNs: Long)

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[A](name: String, op: Long)(f: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0L)
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, parent, name, op, t0, System.nanoTime()))
      stack.set(stack.get().tail)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per span name, in ms: duration minus the part of it that
    * its children cover.
    */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, xs) =>
      name -> xs.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  /** Total duration per span name, in ms. */
  def totalMs: Map[String, Double] =
    all.groupBy(_.name).map { case (n, xs) => n -> xs.map(s => (s.endNs - s.startNs) / 1e6).sum }

  def count(name: String): Int = all.count(_.name == name)

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var end = Long.MinValue
    for ((a, b) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
