package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques that exist purely for 100 TB posture — each is the
  * standard mitigation for a failure mode that small-scale tests never hit,
  * with an equivalence test proving it does not change semantics.
  */
object Scale {

  /** Two-stage salted aggregation for skewed group keys: stage 1 aggregates
    * (key, salt) so one hot key spreads over `buckets` reducers; stage 2
    * combines the partials. Works for any algebraic aggregate — here sum and
    * count (avg derives). AQE handles moderate skew; salting is for the
    * pathological single-key case AQE cannot split further.
    */
  def saltedSumCount(df: DataFrame, key: Column, value: Column, buckets: Int): DataFrame = {
    df.select(key.as("k"), value.as("v"),
        (abs(xxhash64(monotonically_increasing_id())) % buckets).as("salt"))
      .groupBy(col("k"), col("salt"))
      .agg(sum("v").as("ps"), count(lit(1)).as("pc"))
      .groupBy(col("k"))
      .agg(sum("ps").as("total"), sum("pc").as("n"))
  }

  /** Bucketed-table setup for co-located joins: writing both sides bucketed
    * and sorted by the join key lets SortMergeJoin run with NO exchange —
    * the shuffle is paid once at layout time, not per query. (At 100 TB this
    * is the difference between a join that moves terabytes and one that
    * moves nothing.)
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a dropped in-memory-catalog table can leave its managed location behind
    // from a previous session; clear it or CTAS refuses the path
    val loc = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    df.write.bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Z-order-clustered parquet layout: range-partition and sort by the
    * Morton key of two quantized dimensions, so rows near in BOTH dims land
    * in the same files and a conjunctive 2-D range filter prunes by column
    * min/max stats instead of matching a sliver of every file. Like
    * [[writeBucketed]], this is the ingest-time layout cost a deployment
    * pays once; the z column itself is dropped (derivable, and the filter
    * columns' own stats do the pruning).
    */
  def writeZOrdered(df: DataFrame, x: Column, y: Column, path: String, files: Int): Unit =
    df.withColumn("__z", graft.functions.ZOrderFunctions.zorder64(x, y))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** The same Morton clustering for the DOMAIN container ([[graft.sources
    * .GridFile]] GRF2): split the global grid into (tileY × tileX) spatial
    * tiles, order tiles by the Morton code of their tile coordinates, and
    * pack `tilesPerFile` CONSECUTIVE tiles into each container file — so a
    * file's spatial footprint stays square-ish and a pushed 2-D range
    * prunes whole files from the tile directories at planning time (each
    * tile is a unit that `GridPartition.pack` skips when the section misses
    * it). `morton = false` packs in
    * row-major tile order instead: the strawman layout whose files are
    * long thin stripes, kept for the ScaleSpec files-touched comparison.
    *
    * Scale shape mirrors [[graft.sources.NcSink]]: rows route to their
    * (variable, file-group) by shuffle, each container file is written by
    * one executor task, and the driver only computes the tile→group map
    * (tile-grid-sized, catalog-scale).
    */
  /** Compact a small-file parquet directory into ~`targetBytes` output files
    * — the lake-table twin of [[compactTiledDir]] (the OPTIMIZE maintenance
    * pass a deployment runs after streaming/incremental ingest leaves
    * thousands of tiny files behind). Spark-first shape: the file-source
    * scan ALREADY greedy-bin-packs input splits into partitions of
    * `spark.sql.files.maxPartitionBytes` (+ `openCostInBytes` per file, the
    * knob that makes many tiny files coalesce), so setting those two confs
    * for one read and writing a file per task IS the compaction — zero
    * shuffle, no driver-side data movement, every bin assembled and written
    * by one executor task. Returns the output file count.
    *
    * At 100 TB the same call works unchanged: the driver handles only the
    * file LISTING (catalog-scale), and bin count = totalBytes/target tasks
    * run wherever the cluster has slots.
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String, targetBytes: Long): Int = {
    // an isolated session (shared SparkContext, private SQLConf) scopes the
    // split-packing knobs to THIS job: the caller's session — possibly
    // serving concurrent queries (ApiServer shares one session across its
    // request pool) — never sees them, and there is nothing to restore
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", targetBytes.toString)
    // near-zero open cost: pack by real bytes, not per-file padding (the
    // default 4 MB padding would cap every bin at a handful of files no
    // matter how tiny they are — exactly wrong for a compaction pass)
    s.conf.set("spark.sql.files.openCostInBytes", "1024")
    // without this the scan sizes splits as totalBytes/defaultParallelism
    // to feed every core, re-fragmenting the bins; a maintenance pass
    // wants target-sized bins, period (parallelism = bin count)
    s.conf.set("spark.sql.files.minPartitionNum", "1")
    s.read.parquet(srcDir).write.mode("overwrite").parquet(dstDir)
    listParquet(spark, dstDir).length
  }

  /** Parquet data files (name, bytes) under a directory, via the Hadoop
    * FileSystem API so any scheme the cluster mounts works — local, HDFS,
    * object store (a `java.io.File` listing would return nothing there).
    */
  def listParquet(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getLen))
  }

  /** Compact a GRF2 directory: re-pack every variable's tiles, Morton-
    * ordered, into containers of `tilesPerFile` — the maintenance pass that
    * fixes the small-file problem after incremental tile ingest (many tiny
    * containers → few full ones) without touching cell values. The driver
    * reads only tile DIRECTORIES (catalog-sized); each output container is
    * assembled and written by one executor task from raw source-tile reads.
    */
  def compactTiledDir(spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String, tilesPerFile: Int): Unit = {
    import graft.sources.{GridFile, TileUnit}
    new java.io.File(dstDir).mkdirs()
    val files = Option(new java.io.File(srcDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".grf")).sortBy(_.getName)
      .map(f => f.getAbsolutePath -> GridFile.readTiledHeader(f.getAbsolutePath))
    require(files.nonEmpty, s"no .grf files in $srcDir")
    val (p0, h0) = files.head
    // merged tiles are written at h0's offsets: one layout identity, the
    // same check grid tables and streams apply to their units
    files.foreach { case (p, h) =>
      TileUnit.layout(p, h).requireSame(p, TileUnit.layout(p0, h0), s"cannot compact with $p0")
    }
    // (variable, group) work units: every tile of a variable across ALL
    // source containers, Morton-sorted, sliced into output groups
    val units = files.groupBy(_._2.variable).toSeq.flatMap { case (v, vf) =>
      val tiles = vf.flatMap { case (p, h) => h.tiles.map(e => (p, e)) }.toSeq
      require(tiles.map(e => (e._2.ty, e._2.tx)).distinct.length == tiles.length,
        s"$srcDir: variable $v has duplicate tiles across containers")
      tiles
        .sortBy { case (_, e) =>
          graft.functions.ZOrder64.interleave(e.tx, e.ty) }
        .grouped(tilesPerFile).zipWithIndex
        .map { case (g, i) => (v, i, g) }.toSeq
    }
    val bc = spark.sparkContext.broadcast(h0)
    spark.sparkContext.parallelize(units, math.max(1, units.length)).foreach {
      case (variable, group, tileRefs) =>
        val h = bc.value
        val byPath = tileRefs.groupBy(_._1)
        val cubes = byPath.flatMap { case (path, refs) =>
          val raf = new java.io.RandomAccessFile(path, "r")
          try refs.map { case (_, e) =>
            val (cy, cx) = h.clipDims(e)
            val buf = new Array[Byte](h.t * cy * cx * 8)
            raf.seek(e.dataOffset); raf.readFully(buf)
            val vals = new Array[Double](h.t * cy * cx)
            java.nio.ByteBuffer.wrap(buf).asDoubleBuffer().get(vals)
            (e.ty, e.tx) -> vals
          } finally raf.close()
        }
        // keep the Morton packing order of the work unit in the output dir
        val ordered = tileRefs.map { case (_, e) =>
          (e.ty, e.tx, cubes((e.ty, e.tx))) }
        GridFile.writeTiled(s"$dstDir/$variable-g$group.grf", variable,
          h.t, h.y, h.x, h.tileY, h.tileX, h.epochMicros, h.stepMicros,
          h.lat0, h.dlat, h.lon0, h.dlon, ordered, h.fill)
    }
  }

  def writeZOrderedGrid(cells: DataFrame, dir: String,
      tDim: Int, yDim: Int, xDim: Int, epochMicros: Long, stepMicros: Long,
      lat0: Double, dlat: Double, lon0: Double, dlon: Double,
      tileY: Int, tileX: Int, tilesPerFile: Int,
      morton: Boolean = true): Unit = {
    new java.io.File(dir).mkdirs()
    val tilesX = (xDim + tileX - 1) / tileX
    val tilesY = (yDim + tileY - 1) / tileY
    val order = (for (ty <- 0 until tilesY; tx <- 0 until tilesX) yield (ty, tx))
      .sortBy { case (ty, tx) =>
        if (morton) graft.functions.ZOrder64.interleave(tx, ty)
        else ty.toLong * tilesX + tx
      }
    val tilesOfGroup: Map[Int, Seq[(Int, Int)]] =
      order.grouped(tilesPerFile).zipWithIndex.map(_.swap).toMap
    // tile → file-group routing as a broadcast equi-join against the
    // (tile-grid-sized) assignment table — no UDF, the row side stays one
    // codegen'd projection at any corpus size
    val groups = cells.sparkSession
      .createDataFrame(order.zipWithIndex.map { case ((ty, tx), i) =>
        (ty, tx, i / tilesPerFile) })
      .toDF("ty", "tx", "grp")
    cells
      .select(col("variable"), col("ts").cast("double").as("secs"),
        col("y"), col("x"), col("value"),
        (col("y") / tileY).cast("int").as("ty"),
        (col("x") / tileX).cast("int").as("tx"))
      .join(broadcast(groups), Seq("ty", "tx"))
      .select(col("variable"), col("secs"), col("y"), col("x"), col("value"),
        col("grp"))
      .repartition(col("variable"), col("grp"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.toSeq.groupBy(r => (r.getString(0), r.getInt(5))).foreach {
          case ((variable, group), cellRows) =>
            val tiles = tilesOfGroup(group).map { case (ty, tx) =>
              val cy = math.min(yDim, (ty + 1) * tileY) - ty * tileY
              val cx = math.min(xDim, (tx + 1) * tileX) - tx * tileX
              (ty, tx, cy, cx, Array.fill(tDim * cy * cx)(Double.NaN))
            }
            val byTile = tiles.map { case (ty, tx, cy, cx, arr) =>
              (ty, tx) -> (cy, cx, arr) }.toMap
            cellRows.foreach { r =>
              val t = ((r.getDouble(1) * 1e6 - epochMicros) / stepMicros).round.toInt
              val (y, x) = (r.getInt(2), r.getInt(3))
              val (ty, tx) = (y / tileY, x / tileX)
              val (cy, cx, arr) = byTile((ty, tx))
              arr((t * cy + (y - ty * tileY)) * cx + (x - tx * tileX)) =
                if (r.isNullAt(4)) Double.NaN else r.getDouble(4)
            }
            graft.sources.GridFile.writeTiled(
              s"$dir/$variable-g$group.grf", variable,
              tDim, yDim, xDim, tileY, tileX, epochMicros, stepMicros,
              lat0, dlat, lon0, dlon,
              tiles.map { case (ty, tx, _, _, arr) => (ty, tx, arr) })
        }
      }
  }
}
