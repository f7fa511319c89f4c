package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (guide: one per suite).
  * Built WITH [[GraftExtensions]], matching every production entrypoint
  * (Verify/Bench/ApiServer/tools all set `spark.sql.extensions`) — declared
  * queries may use the SQL-registered functions and table functions.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Root paths of every file relation in the optimized plan — the shared
    * "which directories does this query actually scan" probe (mview-rewrite
    * locks in MviewSpec and PlansSpec assert on it).
    */
  def scannedDirs(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toUri.getPath).toSet
          case _ => Set.empty[String]
        }
    }.flatten.toSet

  /** The NetCDF scan partitions the physical plan of `df` reads. */
  def ncPartitions(df: org.apache.spark.sql.DataFrame): Seq[graft.sources.NcGridPartition] =
    df.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.inputPartitions
    }.flatten.collect { case p: graft.sources.NcGridPartition => p }

  /** The (variable, t) slices those partitions plan, in scan order. */
  def ncSlices(df: org.apache.spark.sql.DataFrame): Seq[(String, Int)] =
    ncPartitions(df).flatMap(p => p.ts.toSeq.map(p.cube.varName -> _))
}
