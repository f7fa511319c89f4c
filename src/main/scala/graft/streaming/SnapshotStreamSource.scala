package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.operators.Snapshots
import graft.operators.Snapshots.ColStat

/** Structured-Streaming SOURCE over a [[graft.operators.Snapshots]] table —
  * the Delta-streaming-source twin, closing the loop with the foreachBatch
  * snapshot SINK (StreamingSpec's micro-batch-per-version ingest): a
  * downstream job tails the versioned table exactly-once instead of
  * re-reading it.
  *
  * The offset IS the snapshot version. Each micro-batch is the file-set
  * difference between two manifests ([[Snapshots.readChanges]]), so a batch
  * reads ONLY the files appended in `(start, end]` — never the table — and
  * the engine's checkpointed offsets + deterministic immutable manifests
  * give exactly-once delivery across restarts for free. A REPLACE commit
  * inside the tailed range rewrites history and fails the stream loudly
  * (the consumer must resync from a full snapshot), the same contract as
  * the batch `readChanges`.
  *
  * Options: `path` (the table directory, required) and `startingVersion`
  * (default 0 = deliver the whole table as the first batch; version N =
  * deliver only commits after N — "changes only", Delta's
  * `startingVersion`).
  *
  * {{{
  *   spark.readStream
  *     .format(classOf[SnapshotStreamSource].getName) // or "snapshots"
  *     .option("path", dir)
  *     .load()
  * }}}
  *
  * At 100 TB offset resolution and batch planning stay driver-side metadata
  * reads (two manifest lists + a set difference); data moves only through
  * the executor parquet scan of the appended files.
  */
class SnapshotStreamSource extends StreamSourceProvider with RelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "snapshots"

  /** `df.write.format("snapshots").mode(...).save()` with SaveMode
    * semantics: Append → append commit, Overwrite → replace commit,
    * ErrorIfExists → refuse on a non-empty table, Ignore → no-op on a
    * non-empty table. One commit per save — atomic like any other.
    */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.Dataset[Row]): BaseRelation = {
    val dir = dirOf(parameters)
    val spark = sqlContext.sparkSession
    val exists = Snapshots.currentVersion(spark, dir).nonEmpty
    import org.apache.spark.sql.SaveMode._
    mode match {
      case Append => Snapshots.commit(spark, dir, data.toDF())
      case Overwrite => Snapshots.commit(spark, dir, data.toDF(), replace = true)
      case ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"$dir: snapshot table exists (SaveMode.ErrorIfExists)")
        Snapshots.commit(spark, dir, data.toDF())
      case Ignore => if (!exists) { Snapshots.commit(spark, dir, data.toDF()); () }
    }
    createRelation(sqlContext, parameters)
  }

  /** `df.writeStream.format("snapshots")` — the exactly-once streaming
    * SINK: each micro-batch is one atomic snapshot commit carrying its
    * `batch_id` in the commit metadata, and a batch REPLAYED after a
    * restart (its id ≤ the last recorded one) is skipped instead of
    * re-committed. With the `snapshots` SOURCE on the other side this
    * closes the exactly-once pipeline end to end. One writer stream per
    * table (the id watermark is per-table state, like the mview marker).
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "snapshots sink does not support partitionBy")
    new SnapshotSink(sqlContext, dirOf(parameters))
  }

  private def dirOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "snapshots source requires option(\"path\", <snapshot table dir>)"))

  /** BATCH half of the format: `spark.read.format("snapshots")` / `CREATE
    * [TEMP] VIEW t USING snapshots OPTIONS (path '…')` — the SQL face of
    * the versioned table. `versionAsOf` pins a version, `timestampAsOf`
    * (epoch millis or `yyyy-MM-dd HH:mm:ss[.f…]`, UTC) resolves TIMESTAMP
    * AS OF; at most one of the two. Pushed-down filters drive manifest
    * data skipping automatically ([[SnapshotRelation]]), so a plain SQL
    * `WHERE` prunes files with no API call.
    */
  /** One timezone contract for every timestamp option the format accepts
    * (`timestampAsOf`, `startingTimestamp`): epoch millis, or
    * `yyyy-MM-dd HH:mm:ss[.f…]` interpreted as UTC — never the JVM-local
    * zone, so the same option string resolves to the same version on
    * every driver.
    */
  private[graft] def parseTsMillis(raw: String): Long =
    scala.util.Try(raw.toLong).getOrElse {
      val fmt = new java.time.format.DateTimeFormatterBuilder()
        .appendPattern("yyyy-MM-dd HH:mm:ss")
        .optionalStart()
        .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 0, 9, true)
        .optionalEnd()
        .toFormatter
      java.time.LocalDateTime.parse(raw, fmt)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val dir = dirOf(parameters)
    val spark = sqlContext.sparkSession
    val vOpt = parameters.get("versionAsOf").map(_.toInt)
    val tOpt = parameters.get("timestampAsOf").map(parseTsMillis)
    // tagAsOf resolves a named ref ([[Snapshots.setTag]]) — "read the
    // audited snapshot by NAME", no version numbers in the SQL
    val gOpt = parameters.get("tagAsOf").map { name =>
      Snapshots.tags(spark, dir).getOrElse(name,
        throw new IllegalArgumentException(s"$dir: no tag '$name'"))
    }
    require(Seq(vOpt, tOpt, gOpt).count(_.nonEmpty) <= 1,
      "pass at most one of versionAsOf, timestampAsOf, tagAsOf")
    val pinned = vOpt.orElse(gOpt).orElse(tOpt.map { ts =>
      val vs = Snapshots.versions(spark, dir)
        .filter(v => Snapshots.commitTime(spark, dir, v) <= ts)
      require(vs.nonEmpty, s"$dir: no snapshot existed at $ts")
      vs.max
    })
    require(pinned.nonEmpty || Snapshots.currentVersion(spark, dir).nonEmpty,
      s"$dir: no published snapshots")
    new SnapshotRelation(sqlContext, dir, pinned)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val dir = dirOf(parameters)
    val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
    // in CDF mode the batch always carries the two feed columns — a
    // user-supplied .schema(...) must end with them too (appended here when
    // absent, type-checked when present), or getBatch would return wider
    // rows than the declared schema and misbind positionally
    def withCdfCols(base: StructType): StructType = {
      import org.apache.spark.sql.types.{IntegerType, StringType}
      val want = Seq("_change_type" -> StringType, "_commit_version" -> IntegerType)
      want.foldLeft(base) { case (st, (name, tpe)) =>
        st.find(_.name == name) match {
          case Some(f) =>
            require(f.dataType == tpe,
              s"$dir: schema declares $name as ${f.dataType.simpleString}, " +
                s"the change feed emits ${tpe.simpleString}")
            st
          case None => st.add(name, tpe)
        }
      }
    }
    val base = schema.getOrElse {
      val spark = sqlContext.sparkSession
      require(Snapshots.currentVersion(spark, dir).nonEmpty,
        s"$dir: empty snapshot table — pass .schema(...) to start a stream " +
          "before the first commit")
      Snapshots.read(spark, dir).schema
    }
    (shortName(), if (cdf) withCdfCols(base) else base)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val dir = dirOf(parameters)
    // startingTimestamp: the tail delivers every commit AT or AFTER the
    // timestamp (Delta's rule), so `starting` — which is EXCLUSIVE — must
    // resolve to the newest version STRICTLY BEFORE it (contrast
    // timestampAsOf in createRelation, which reads the state AT the
    // timestamp and therefore uses <=). Mutually exclusive with
    // startingVersion; a timestamp older than the first commit starts
    // from 0 (the full initial snapshot).
    val starting = parameters.get("startingTimestamp") match {
      case Some(tsStr) =>
        require(!parameters.contains("startingVersion"),
          "pass startingVersion OR startingTimestamp, not both")
        val ts = parseTsMillis(tsStr)
        val spark = sqlContext.sparkSession
        Snapshots.versions(spark, dir)
          .filter(v => Snapshots.commitTime(spark, dir, v) < ts)
          .lastOption.getOrElse(0)
      case None => parameters.getOrElse("startingVersion", "0").toInt
    }
    val maxPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toInt)
    maxPerTrigger.foreach(m => require(m > 0, "maxVersionsPerTrigger must be > 0"))
    // retention pin identity: stable across restarts of the SAME query
    // (the checkpoint metadata path is the query's durable name); a
    // `readerId` option overrides for externally-managed pins
    val readerId = parameters.getOrElse("readerId", {
      val digest = java.security.MessageDigest.getInstance("SHA-1")
        .digest(metadataPath.getBytes("UTF-8"))
      "src-" + digest.take(6).map(b => f"$b%02x").mkString
    })
    val st = sourceSchema(sqlContext, schema, providerName, parameters)._2
    val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
    new SnapshotSource(sqlContext, dir, starting, st, maxPerTrigger,
      Some(readerId), cdf)
  }
}

/** Exactly-once micro-batch → snapshot-version sink. The engine replays
  * the last uncommitted batch after a restart; the `batch_id` recorded in
  * the commit metadata makes the replay detectable and skippable, so each
  * micro-batch lands in the table exactly once.
  */
private[graft] class SnapshotSink(sqlContext: SQLContext, dir: String)
    extends org.apache.spark.sql.execution.streaming.Sink {
  private def spark = sqlContext.sparkSession

  private def lastCommittedBatch: Option[Long] =
    // lazy scan newest-first: stops at the first version carrying a
    // batch_id (almost always the newest) instead of reading every
    // version's metadata per micro-batch
    Snapshots.versions(spark, dir).reverseIterator
      .flatMap(v => Snapshots.commitMeta(spark, dir, v).get("batch_id"))
      .nextOption().map(_.toLong)

  override def addBatch(batchId: Long, data: org.apache.spark.sql.Dataset[Row]): Unit = {
    if (lastCommittedBatch.exists(_ >= batchId)) return // replay → skip
    // commitRetry, not commit: a compactor (or any foreign writer) racing
    // the sink on the same table must cost a metadata rebase, not fail the
    // whole streaming query — appends never logically conflict
    Snapshots.commitRetry(spark, dir, StreamBridge.asBatch(data.toDF()),
      meta = Map("batch_id" -> batchId.toString))
    ()
  }
}

/** DSv1 relation over one snapshot version with filter-driven data
  * skipping: Catalyst pushes the query's filters here, [[translate]] turns
  * the provably-range-expressible ones into manifest stat checks, and only
  * surviving files reach the parquet scan. Filter translation is
  * conservative in both directions — untranslatable filters prune nothing,
  * and `unhandledFilters` (default: all) makes Spark re-apply EVERY filter
  * after the scan, so pruning can only skip files, never change results.
  * Column pruning is pushed into the inner parquet read.
  */
class SnapshotRelation(override val sqlContext: SQLContext, val dir: String,
    val pinned: Option[Int]) extends BaseRelation with PrunedFilteredScan
    with InsertableRelation {
  private def spark = sqlContext.sparkSession

  /** An unpinned relation re-resolves LATEST at every scan, so a mounted
    * view observes later commits (incl. its own `INSERT INTO`s); a
    * versionAsOf/timestampAsOf pin stays frozen, per time-travel contract.
    */
  private def version: Int = pinned.getOrElse(Snapshots.headVersion(spark, dir))

  override val schema: StructType = Snapshots.read(spark, dir, Some(version)).schema

  /** Catalyst table statistics from the manifest (sum of data-file
    * lengths): without this a DSv1 relation reports "huge" and a
    * nation-sized mounted view never auto-broadcasts in a join. Parquet
    * is compressed, so the on-disk sum UNDERSTATES in-memory width — the
    * safe direction for enabling broadcast is overstating, so scale by
    * the compression factor Spark itself assumes for columnar data.
    */
  override def sizeInBytes: Long = {
    val v = version
    val bytes = SnapshotRelation.sizeCache.computeIfAbsent((dir, v), _ => {
      // a version's file set is immutable, so the listing is paid once per
      // (table, version) per JVM — repeat planning costs a map lookup
      val conf = spark.sessionState.newHadoopConf()
      Snapshots.files(spark, dir, v).map { f =>
        val p = new org.apache.hadoop.fs.Path(Snapshots.dataPath(dir, f))
        p.getFileSystem(conf).getFileStatus(p).getLen
      }.sum
    })
    val factor = spark.sessionState.conf.fileCompressionFactor
    math.max(1L, (bytes * factor).toLong)
  }

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` on a mounted snapshot view —
    * one atomic commit (append / replace). Refused on a pinned view:
    * history is immutable.
    */
  override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
    require(pinned.isEmpty,
      s"$dir: cannot INSERT into a version-pinned view — history is immutable")
    // same partition-overwrite contract as the catalog write face: dynamic
    // mode on a partitioned table replaces only the touched partitions
    val dynamic = overwrite &&
      spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        .equalsIgnoreCase("dynamic") &&
      Snapshots.partitionSpec(spark, dir).nonEmpty
    if (dynamic) Snapshots.insertOverwritePartitions(spark, dir, data)
    else Snapshots.commit(spark, dir, data, replace = overwrite)
    ()
  }

  private def translate(f: Filter) = SnapshotRelation.translate(f)

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = version // resolve ONCE: a commit landing mid-plan must not tear
    val ranges = filters.toSeq.flatMap(translate)
    val (kept0, all) = Snapshots.pruneFilesAll(spark, dir, v, ranges)
    // IsNull: a file with a known-zero null count can't produce a match
    // (stats are keyed by PHYSICAL names; filters carry logical ones)
    val nullCols = filters.collect { case IsNull(a) =>
      Snapshots.toPhysical(spark, dir, a) }
    val kept = if (nullCols.isEmpty) kept0 else {
      val idx = Snapshots.stats(spark, dir, v)
      kept0.filter { f =>
        nullCols.forall { c =>
          idx.get(f).flatMap(_.get(c)) match {
            case Some(s) if s.nulls == 0 => false
            case _ => true
          }
        }
      }
    }
    // equality probes consult the per-file parquet BLOOMS — only for the
    // columns the table actually DECLARED blooms on: probing the rest
    // would open every kept footer for zero possible skip
    val bloomCols = Snapshots.bloomColumns(spark, dir).toSet
    def hasBloom(a: String) =
      bloomCols(a) || bloomCols(Snapshots.toPhysical(spark, dir, a))
    val eqSets: Seq[(String, Seq[Any])] = filters.toSeq.flatMap {
      case EqualTo(a, v) if v != null && hasBloom(a) => Seq(a -> Seq(v))
      case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) && hasBloom(a) =>
        Seq(a -> vs.toSeq)
      case _ => Seq.empty
    }
    val keptB = eqSets.foldLeft(kept) { case (fs, (c, vs)) =>
      Snapshots.pruneFilesEq(spark, dir, c, vs, fs)
    }
    SnapshotRelation.lastScan.set((keptB.length, all.length))
    // maskedParquet: mergeSchema (an evolved table's pruned subset may
    // include files predating a column add) + deletion-vector masking
    // (merge-on-read deletes must not surface through the SQL face)
    val base =
      if (keptB.nonEmpty)
        Snapshots.maskedParquet(spark, dir, v, keptB.map(f => Snapshots.dataPath(dir, f)))
      else Snapshots.read(spark, dir, Some(v)).filter(lit(false))
    val projected = {
      // a pre-evolution pruned subset can lack an evolved column entirely:
      // surface it as typed NULLs so the projection matches `schema`
      val present = base.columns.toSet
      val want = if (requiredColumns.isEmpty) Array.empty[String] else requiredColumns
      if (want.isEmpty) base.select()
      else base.select(want.toSeq.map { c =>
        if (present(c)) col(c)
        else lit(null).cast(schema(c).dataType).as(c)
      }: _*)
    }
    projected.rdd
  }
}

object SnapshotRelation {
  /** (kept, total) of the most recent buildScan — test/diagnostic
    * instrumentation for asserting that pushed filters actually skip. */
  val lastScan = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))

  /** One conjunct → zero or more stat range-checks (empty = can't prune on
    * it). `IsNotNull` is the unbounded range: it keeps every file with a
    * non-null value but drops provably-all-null ones. `In`/prefix collapse
    * to their envelope interval. Shared by the V1 relation and the DSv2
    * catalog table ([[graft.sources.SnapshotCatalog]]).
    */
  private[graft] def translate(f: Filter): Seq[(String, Option[Any], Option[Any])] = f match {
    case EqualTo(a, v) if v != null => Seq((a, Some(v), Some(v)))
    case EqualNullSafe(a, v) if v != null => Seq((a, Some(v), Some(v)))
    case GreaterThan(a, v) => Seq((a, Some(v), None))
    case GreaterThanOrEqual(a, v) => Seq((a, Some(v), None))
    case LessThan(a, v) => Seq((a, None, Some(v)))
    case LessThanOrEqual(a, v) => Seq((a, None, Some(v)))
    case In(a, vs) =>
      val nn = vs.filter(_ != null)
      envelope(nn).map { case (mn, mx) => (a, Some(mn), Some(mx)) }.toSeq
    // '￿' caps the prefix interval: every string starting with p
    // precedes p + '￿' in Java string order
    case StringStartsWith(a, p) => Seq((a, Some(p), Some(p + '￿')))
    case IsNotNull(a) => Seq((a, None, None))
    case And(l, r) => translate(l) ++ translate(r)
    case _ => Seq.empty
  }

  private def isIntegral(v: Any): Boolean = v match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  private def envelope(vs: Array[Any]): Option[(Any, Any)] =
    if (vs.isEmpty) None
    else if (vs.forall(isIntegral)) {
      // order as longs: doubleValue collapses longs past 2^53 and an
      // inverted/collapsed envelope would prune files that hold real keys
      val ds = vs.map(_.asInstanceOf[Number])
      Some((ds.minBy(_.longValue), ds.maxBy(_.longValue)))
    } else if (vs.forall(_.isInstanceOf[Number])) {
      val ds = vs.map(_.asInstanceOf[Number])
      Some((ds.minBy(_.doubleValue), ds.maxBy(_.doubleValue)))
    } else if (vs.forall(_.isInstanceOf[String])) {
      val ss = vs.map(_.asInstanceOf[String])
      Some((ss.min, ss.max))
    } else None

  private[streaming] val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), java.lang.Long]()
}

private[streaming] class SnapshotSource(sqlContext: SQLContext, dir: String,
    startingVersion: Int, override val schema: StructType,
    maxVersionsPerTrigger: Option[Int] = None,
    readerId: Option[String] = None,
    changeFeed: Boolean = false) extends Source {

  private def spark = sqlContext.sparkSession

  // retention pin: until the first batch plans, the checkpointed offset is
  // unknown, so pin conservatively at startingVersion (0 = keep everything);
  // every getBatch advances it to the lowest manifest a restart replay of
  // that batch would still resolve. Never unpinned on stop() — a stopped
  // query is expected to restart; an abandoned pin ages out via the
  // heartbeat TTL in Snapshots.readerPins.
  readerId.foreach(id =>
    graft.operators.Snapshots.pinReader(spark, dir, id, startingVersion))

  /** Highest version a planned batch has covered — raised by every
    * getBatch (incl. the engine's restart replay), so the rate cap below
    * anchors on real progress. None until the first batch plans.
    */
  @volatile private var coveredTo: Option[Int] = None

  private def versionOf(o: OffsetV1): Int = o match {
    case LongOffset(v) => v.toInt
    case so: SerializedOffset => LongOffset(so).offset.toInt
    case other => throw new IllegalStateException(
      s"snapshots source got a foreign offset $other")
  }

  /** Latest published version, or None while nothing past `startingVersion`
    * exists — the engine idles instead of planning empty batches.
    * `maxVersionsPerTrigger` caps STEADY-STATE triggers at that many
    * versions each; the first trigger after a (re)start takes the whole
    * backlog (the cap anchors on observed batch progress, which is the
    * only anchor that cannot regress below the engine's checkpointed
    * offset and stall or tear the stream).
    */
  override def getOffset: Option[OffsetV1] =
    Snapshots.currentVersion(spark, dir).filter(_ > startingVersion)
      .map { head =>
        val capped = (coveredTo, maxVersionsPerTrigger) match {
          case (Some(c), Some(m)) => math.min(head, c + m)
          case _ => head
        }
        LongOffset(capped.toLong)
      }

  /** Rows committed in `(start, end]`. `start = None` is the stream's very
    * first batch: everything up to `end` when startingVersion = 0 (the
    * initial-snapshot delivery), else the tail after `startingVersion`.
    */
  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = start.map(versionOf).getOrElse(startingVersion)
    val to = versionOf(end)
    coveredTo = Some(coveredTo.fold(to)(math.max(_, to)))
    // replaying this batch after a restart resolves manifests `from` and
    // `to` (full-snapshot first batch: just `to`) — advance the retention
    // pin there so a concurrent expire cannot strand the replay
    readerId.foreach(id =>
      Snapshots.pinReader(spark, dir, id, if (from == 0) to else from))
    val batch =
      if (changeFeed) {
        // CDF mode: the tail delivers row-level changes — merges and
        // deletes arrive as update/delete rows instead of failing the
        // stream (only a replace still refuses, loudly). The initial
        // batch states the starting snapshot as inserts at its version.
        if (from == 0)
          Snapshots.read(spark, dir, Some(to))
            .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
            .withColumn("_commit_version", org.apache.spark.sql.functions.lit(to))
        else Snapshots.readChangeFeed(spark, dir, from, to)
      }
      else if (from == 0) Snapshots.read(spark, dir, Some(to))
      else Snapshots.readChanges(spark, dir, from, to)
    // bind to the DECLARED schema: the engine consumes the batch
    // positionally, and a schema-evolving append mid-stream would
    // otherwise widen the batch and misbind every column after the add.
    // Evolved columns are deliberately dropped until the query restarts
    // (re-inferring the schema) — the Delta source's contract; columns the
    // batch lacks (a replay planning pre-evolution files) surface as
    // typed NULLs. The NULL-fill is reserved for that replay case ONLY:
    // a declared column the table no longer carries (renamed or dropped
    // mid-stream) would otherwise silently become all-NULL for every
    // subsequent micro-batch — fail loudly and ask for a restart instead.
    val bound = {
      import org.apache.spark.sql.functions.{col, lit}
      val present = batch.columns.toSet
      val missing = schema.map(_.name).filterNot(present)
      if (missing.nonEmpty) {
        val live = Snapshots.read(spark, dir, Some(to)).columns.toSet
        val gone = missing.filterNot(live)
        if (gone.nonEmpty) throw new IllegalStateException(
          s"$dir: declared stream column(s) ${gone.mkString(", ")} no longer " +
            "exist in the table (renamed or dropped mid-stream) — restart " +
            "the query to re-infer the schema")
      }
      batch.select(schema.map(f =>
        if (present(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    }
    StreamBridge.asStreaming(bound)
  }

  override def stop(): Unit = ()
}
