package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-versioned parquet tables — the Iceberg-lite snapshot/time-travel
  * half of storage maintenance ([[Scale.compactParquet]] is the other half;
  * the reference has one immutable layout forever). Every commit writes NEW
  * data files plus an atomically-published manifest listing every file of
  * that snapshot, so:
  *
  *  - a reader pinned to version N plans exactly N's files — later commits
  *    never change its result (snapshot isolation without locks);
  *  - an append commit costs O(new files) — the table is never rewritten;
  *  - a replace commit expresses compaction/delete: the new manifest simply
  *    stops listing the old files, which stay on disk for older versions.
  *
  * At 100 TB the manifest is a file LIST (KBs per thousand files); commit
  * and version resolution are metadata operations on the driver, data moves
  * only through executor parquet writes. The publish is write-temp +
  * atomic-rename — the same contract the streaming drop-dir sources assert
  * for in-progress files. All paths go through the Hadoop FileSystem API so
  * object stores work unchanged.
  */
object Snapshots {
  private def hfs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def manifestDir(dir: String) = s"$dir/_manifests"

  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // keyed by the Path-NORMALIZED manifest dir so every caller (manifest
  // CAS, staged publish/discard, props writes) lands on the same monitor
  // regardless of how the table dir string was spelled
  /** A manifest file entry that lives OUTSIDE this table — a shallow
    * clone's reference into its source. External entries are read-only
    * from this table's perspective: no delete path may ever touch one.
    */
  private[graft] def isExternal(f: String): Boolean =
    f.startsWith("/") || f.contains("://")

  /** Resolve a manifest file entry to a filesystem path: table-relative
    * normally, verbatim for external (clone-source) references.
    */
  private[graft] def dataPath(dir: String, f: String): String =
    if (isExternal(f)) f else s"$dir/$f"

  private def publishLock(key: String): Object =
    publishLocks.computeIfAbsent(
      new org.apache.hadoop.fs.Path(key).toString, _ => new Object)

  /** A small metadata file's whole UTF-8 text, None when it does not
    * exist: one `open`, no `exists` probe first. */
  private def readText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The `key<TAB>value` line format (URL-encoded fields, sorted by key)
    * that `table.props` and a commit's `meta` sidecar share. */
  private def encodeKv(m: Map[String, String]): Array[Byte] =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}\t${enc(v)}" }
      .mkString("", "\n", "\n").getBytes("UTF-8")

  private def decodeKv(text: String): Map[String, String] =
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(k, v) = line.split("\t", -1)
      dec(k) -> dec(v)
    }.toMap

  /** Table properties (durable, version-independent — e.g. which columns
    * get bloom filters). Stored as a `table.props` k/v file in the
    * manifest dir, written with the same atomic temp+rename publish.
    */
  def properties(spark: SparkSession, dir: String): Map[String, String] =
    readProps(hfs(spark, dir)._1, dir)

  private def readProps(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Map[String, String] =
    // under the writers' lock: [[writeProps]] deletes the old file before
    // renaming the new one in, and a read in that gap would see no props
    // at all (every branch, tag and constraint gone for a moment)
    publishLock(manifestDir(dir)).synchronized {
      readText(fs, new org.apache.hadoop.fs.Path(s"${manifestDir(dir)}/table.props"))
    }.fold(Map.empty[String, String])(decodeKv)

  // the read-modify-write below is serialized through the same per-table
  // publishLock as manifest CAS: tags (retention pins) and CHECK
  // constraints (write gates) live in props, so a lost update from two
  // concurrent mutators could silently unpin a version or drop a gate
  def setProperties(spark: SparkSession, dir: String,
      props: Map[String, String]): Unit =
    publishLock(manifestDir(dir)).synchronized {
      writeProps(spark, dir, properties(spark, dir) ++ props)
    }

  /** Remove property keys (the inverse of [[setProperties]] — tag deletes,
    * constraint drops). Absent keys are ignored. */
  def removeProperties(spark: SparkSession, dir: String,
      keys: Seq[String]): Unit =
    publishLock(manifestDir(dir)).synchronized {
      writeProps(spark, dir, properties(spark, dir) -- keys)
    }

  private def writeProps(spark: SparkSession, dir: String,
      merged: Map[String, String]): Unit = {
    val (fs, _) = hfs(spark, dir)
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))
    fs.mkdirs(md)
    val tmp = new org.apache.hadoop.fs.Path(md, ".table.props.tmp")
    val out = fs.create(tmp, true)
    try out.write(encodeKv(merged)) finally out.close()
    val fin = new org.apache.hadoop.fs.Path(md, "table.props")
    fs.delete(fin, false)
    require(fs.rename(tmp, fin), s"$dir: table.props publish failed")
  }

  // -------------------------------------------------- column mapping
  // Delta's column-mapping idea in name mode: a column's PHYSICAL parquet
  // name is fixed at its first append; RENAME records physical→logical in
  // the table props (metadata-only — zero files rewritten), DROP records
  // the physical in a hidden set. Reads translate physical→logical and
  // hide dropped columns at the two scan choke points (maskedScan /
  // openWithPos); writes translate logical→physical at the single write
  // choke point (writeData). Stats/blooms/pruning stay keyed physical;
  // callers pass logical names and [[TableState.toPhysical]] translates.
  // The mapping is table-level (not versioned): renames apply to
  // time-travel reads of older versions too — simpler than Delta's
  // versioned metadata, and the mapping is invertible so no data ambiguity
  // arises.

  /** Physical name of a logical column (identity when never renamed). */
  private[graft] def toPhysical(spark: SparkSession, dir: String,
      logical: String): String =
    new TableState(spark, dir).toPhysical(logical)

  /** Apply the column mapping to a PHYSICAL frame: hide dropped physicals,
    * surface renamed ones under their logical names. Internal `__` columns
    * pass through untouched. */
  private def applyMapping(st: TableState, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (st.renames.isEmpty && st.dropped.isEmpty) df
    else df.select(df.columns.toSeq.collect {
      case c if c.startsWith("__") => col(c)
      case c if !st.dropped.contains(c) => col(c).as(st.renames.getOrElse(c, c))
    }: _*)
  }

  /** Reverse-apply the mapping to a LOGICAL frame before a data write. */
  private def toPhysicalFrame(st: TableState, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (st.renames.isEmpty) df
    else {
      val rev = st.renames.map(_.swap) // logical -> physical
      df.select(df.columns.toSeq.map(c =>
        col(c).as(rev.getOrElse(c, c))): _*)
    }
  }

  /** RENAME a column — metadata-only (zero files touched): the logical
    * name changes for every read path (API, SQL, TVF, feed) while data
    * files keep their physical name. Appends must carry the NEW name
    * afterwards; the old name refuses like any unknown column.
    */
  def renameColumn(spark: SparkSession, dir: String, from: String,
      to: String): Unit = {
    val st = new TableState(spark, dir)
    val logical = st.schema.fieldNames.toSet
    require(logical.contains(from), s"$dir: no column '$from' to rename")
    requireUnconstrained(st, from, "rename")
    require(!logical.contains(to), s"$dir: column '$to' already exists")
    require(!to.startsWith("__"), s"$dir: '$to' is a reserved name")
    val phys = st.toPhysical(from)
    // the new logical name must not shadow a live or dropped PHYSICAL name
    // (an append would then write a colliding parquet column)
    val usedPhysical = st.dropped ++ logical.map(st.toPhysical)
    require(!usedPhysical.contains(to) || phys == to,
      s"$dir: '$to' collides with a physical column name — pick another")
    setProperties(spark, dir, Map(s"colmap.ren.$phys" -> to))
  }

  /** DROP a column — metadata-only: the physical column is hidden from
    * every read and excluded from the expected append schema; its bytes
    * stay in place until files naturally rewrite. Re-adding the same
    * logical name later refuses (the hidden physical would resurrect).
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Unit = {
    val st = new TableState(spark, dir)
    val logical = st.schema.fieldNames.toSet
    require(logical.contains(name), s"$dir: no column '$name' to drop")
    require(logical.size > 1, s"$dir: cannot drop the last column")
    requireUnconstrained(st, name, "drop")
    val dropped = st.dropped + st.toPhysical(name)
    setProperties(spark, dir, Map("colmap.dropped" -> dropped.toSeq.sorted.mkString(",")))
  }

  /** Declare per-file parquet BLOOM FILTERS for `cols` (Delta's bloom
    * index, via parquet's own standard mechanism): every subsequent data
    * write — commit, merge rewrite, delete rewrite — emits a bloom per row
    * group for these columns, and equality/IN pruning consults them
    * ([[pruneFilesEq]]). The complement to min/max skipping: an equality
    * probe on a column the layout is NOT clustered by has useless min/max
    * envelopes, but a bloom answers "definitely absent" per file.
    */
  def setBloomColumns(spark: SparkSession, dir: String, cols: Seq[String]): Unit =
    setProperties(spark, dir, Map("bloom.columns" -> cols.mkString(",")))

  def bloomColumns(spark: SparkSession, dir: String): Seq[String] =
    new TableState(spark, dir).bloomColumns

  // ------------------------------------------------------ partitioning
  /** HIDDEN partition transform of a table (Iceberg's partition-spec
    * idea, single-transform form), recorded in the `graft.partition`
    * table property. Writes ROUTE rows into per-partition-value files
    * (hive-style `__part=<value>` leaf dirs under each commit's unique
    * data dir), so the per-file partition value rides in the MANIFEST
    * ENTRY itself. Pruning is then metadata-only: identity/days filters
    * skip through the per-file stats envelopes the routing makes
    * value-tight (a file never mixes partition values), and bucket
    * equality probes skip on the path-recorded bucket number without
    * opening a footer ([[pruneFilesAll]]). "Hidden" as in Iceberg: the
    * source column stays a normal data column — queries filter on IT,
    * never on a derived partition column, and the layout is free to
    * change (files written before the spec simply carry no value and are
    * always kept).
    */
  sealed trait PartitionSpec { def column: String; def encoded: String }
  case class IdentityPart(column: String) extends PartitionSpec {
    def encoded = s"identity($column)"
  }
  case class DaysPart(column: String) extends PartitionSpec {
    def encoded = s"days($column)"
  }
  case class HoursPart(column: String) extends PartitionSpec {
    def encoded = s"hours($column)"
  }
  case class MonthsPart(column: String) extends PartitionSpec {
    def encoded = s"months($column)"
  }
  case class YearsPart(column: String) extends PartitionSpec {
    def encoded = s"years($column)"
  }
  case class BucketPart(n: Int, column: String) extends PartitionSpec {
    require(n > 0, s"bucket count must be positive, got $n")
    def encoded = s"bucket($n,$column)"
  }
  /** Iceberg's truncate transform: ints route by `v - (v mod w)`, strings
    * by their first `w` characters — both value-monotone, so the source
    * column's stats envelopes stay the pruning surface. */
  case class TruncatePart(width: Int, column: String) extends PartitionSpec {
    require(width > 0, s"truncate width must be positive, got $width")
    def encoded = s"truncate($width,$column)"
  }

  private val PartProp = "graft.partition"
  private[graft] val PartDirCol = "__part"
  private val HiveDefaultPart = "__HIVE_DEFAULT_PARTITION__"

  /** Declare the table's partition transform (usually at CREATE time via
    * the SQL catalog's `PARTITIONED BY`). Declaring on a table that
    * already holds data only affects FUTURE writes — existing files carry
    * no partition value and are never pruned by it.
    */
  def setPartitionSpec(spark: SparkSession, dir: String,
      spec: PartitionSpec): Unit =
    setPartitionSpecs(spark, dir, Seq(spec))

  /** Multi-transform spec — `PARTITIONED BY (days(ts), identity(region))`,
    * the common lakehouse two-level layout. Each write nests one hive-style
    * level per transform (`__part=…/__part1=…`); the first level keeps the
    * single-transform naming, so single-spec tables and their data stay
    * valid unchanged.
    */
  def setPartitionSpecs(spark: SparkSession, dir: String,
      specs: Seq[PartitionSpec]): Unit = {
    require(specs.nonEmpty && specs.size <= 4,
      s"$dir: 1 to 4 partition transforms (got ${specs.size}) — deeper " +
        "layouts cluster better via Z-order/Hilbert maintenance")
    require(specs.map(_.column).distinct.size == specs.size,
      s"$dir: each partition transform needs a distinct column")
    setProperties(spark, dir, Map(PartProp -> specs.map(_.encoded).mkString(";")))
  }

  def partitionSpec(spark: SparkSession, dir: String): Option[PartitionSpec] =
    partitionSpecs(spark, dir).headOption

  def partitionSpecs(spark: SparkSession, dir: String): Seq[PartitionSpec] =
    new TableState(spark, dir).partitionSpecs

  private[graft] def parsePartitionSpec(s: String): PartitionSpec = {
    val Ident = """identity\((.+)\)""".r
    val Days = """days\((.+)\)""".r
    val Hours = """hours\((.+)\)""".r
    val Months = """months\((.+)\)""".r
    val Years = """years\((.+)\)""".r
    val Bucket = """bucket\((\d+),(.+)\)""".r
    val Trunc = """truncate\((\d+),(.+)\)""".r
    s match {
      case Bucket(n, c) => BucketPart(n.toInt, c)
      case Trunc(w, c) => TruncatePart(w.toInt, c)
      case Days(c) => DaysPart(c)
      case Hours(c) => HoursPart(c)
      case Months(c) => MonthsPart(c)
      case Years(c) => YearsPart(c)
      case Ident(c) => IdentityPart(c)
      case other => throw new IllegalArgumentException(
        s"malformed partition spec '$other' — expected identity(col) | " +
          "days(col) | hours(col) | months(col) | years(col) | " +
          "bucket(n,col) | truncate(w,col)")
    }
  }

  /** The FIRST transform's partition value a manifest entry carries (the
    * hive-style `__part=` path segment the routed write put there),
    * unescaped. None for entries written without a spec, or for a null
    * partition value — both always survive pruning.
    */
  private[graft] def partValueOf(entry: String): Option[String] =
    partValueRawAt(entry, 0).filter(_ != HiveDefaultPart)

  private[graft] def partDirColAt(i: Int): String =
    if (i == 0) PartDirCol else s"$PartDirCol$i"

  /** Transform `i`'s path value WITHOUT the null-partition filter: the
    * hive default marker comes back verbatim. Level 0 is spelled
    * `__part=`, deeper levels `__part1=`, `__part2=`, … (so
    * single-transform tables written before multi-spec support stay
    * valid byte-for-byte). */
  private[graft] def partValueRawAt(entry: String, i: Int): Option[String] = {
    val prefix = partDirColAt(i) + "="
    entry.split('/').find(_.startsWith(prefix))
      .map(s => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(s.substring(prefix.length)))
  }

  /** The transform value of partition spec `ps` over column `colName` of
    * type `dt` — the single definition both the routed write and dynamic
    * overwrite's touched-partition probe evaluate, so they can never
    * disagree on which partition a row belongs to.
    */
  private def partValueExpr(dir: String, ps: PartitionSpec, colName: String,
      dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, date_format, hash, lit, pmod, substring, to_date}
    ps match {
      case IdentityPart(_) => col(colName)
      case DaysPart(_) => to_date(col(colName))
      case HoursPart(_) => date_format(col(colName), "yyyy-MM-dd-HH")
      case MonthsPart(_) => date_format(col(colName), "yyyy-MM")
      case YearsPart(_) => date_format(col(colName), "yyyy")
      case BucketPart(n, _) => pmod(hash(col(colName)), lit(n))
      case TruncatePart(w, _) =>
        dt match {
          case org.apache.spark.sql.types.StringType =>
            substring(col(colName), 1, w)
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType =>
            col(colName) - pmod(col(colName), lit(w.toLong))
          case other => throw new IllegalArgumentException(
            s"$dir: truncate($w, ${ps.column}) needs a string or " +
              s"integral column, got $other")
        }
    }
  }

  /** The bucket number `bucket(n, col)` routes `v` to — must replicate
    * the WRITE side's `pmod(hash(col), n)` exactly (Spark's Murmur3, seed
    * 42, over the column's own type). None when the value can't be
    * represented in the column's type (exotic caller) — the caller keeps
    * the file, pruning stays sound.
    */
  private def bucketOf(v: Any, dt: org.apache.spark.sql.types.DataType,
      n: Int): Option[Int] =
    try {
      val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(lit), 42)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Int]
      Some(((h % n) + n) % n)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def bloomWriteOptions(st: TableState): Map[String, String] =
    st.bloomColumns
      // declared names may be logical (post-rename); the writer sees the
      // physical frame, so the option must key the physical name
      .map(c => s"parquet.bloom.filter.enabled#${st.toPhysical(c)}" -> "true")
      .toMap

  /** Snapshot data files always carry TIMESTAMP_MICROS (INT64) timestamps:
    * Spark's INT96 legacy default writes NO column statistics, which would
    * silently disable data skipping on every timestamp column. Set around
    * the write and restored, so the caller's session is untouched.
    *
    * REFERENCE-COUNTED per session, not save/restore: snapshot writers can
    * overlap across threads (a live-view stream's foreachBatch commit next
    * to a main-thread merge), and naive save/restore races — the later
    * entrant saves the earlier one's "TIMESTAMP_MICROS" as its `prev` and
    * restores it on exit, leaving the session conf permanently tainted.
    * With a depth counter the outermost entrant alone saves and restores.
    */
  private class StatWriteState { var depth = 0; var prev: Option[String] = None }
  private val statWriteStates =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, StatWriteState]()
  private def withStatFriendlyWrites[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.parquet.outputTimestampType"
    val st = statWriteStates.computeIfAbsent(spark, _ => new StatWriteState)
    st.synchronized {
      if (st.depth == 0) {
        st.prev = spark.conf.getOption(k)
        spark.conf.set(k, "TIMESTAMP_MICROS")
      }
      st.depth += 1
    }
    try body finally st.synchronized {
      st.depth -= 1
      if (st.depth == 0) st.prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** Published versions, ascending (empty for a fresh table). */
  def versions(spark: SparkSession, dir: String): Seq[Int] =
    new TableState(spark, dir).versions

  def currentVersion(spark: SparkSession, dir: String): Option[Int] =
    new TableState(spark, dir).current

  /** The latest published version; fails loudly on a table with none. */
  private[graft] def headVersion(spark: SparkSession, dir: String): Int =
    new TableState(spark, dir).version

  /** Data-file paths (relative to `dir`) of one snapshot. */
  def files(spark: SparkSession, dir: String, version: Int): Seq[String] =
    new TableState(spark, dir).manifest(version).entries

  /** One parsed `.list` manifest — a version's `v<N>.list`, a branch
    * commit's or a staged commit's — read with ONE `open`. It holds the
    * data-file entries (table-relative, or absolute for a clone's external
    * references) and the `#key=value` headers: the per-writer-unique
    * sidecar names (`stats`, `meta`, `schema`), the change-feed and
    * deletion-vector dirs (`cdc`, `dv`), the data-preserving marker
    * (`norowchange`), and a branch or staged commit's inline `#m=` metadata
    * and `#evolve=1` flag. Sidecars load lazily, each at most once; a
    * header naming a missing sidecar reads as absent, and a manifest
    * without a header has no such sidecar. [[Manifest.encode]] is the one
    * writer of the format.
    */
  private final class Manifest(fs: org.apache.hadoop.fs.FileSystem,
      md: org.apache.hadoop.fs.Path, lines: Seq[String]) {
    private val (heads, body) = lines.partition(_.startsWith("#"))
    val entries: Seq[String] = body
    private val headers: Map[String, String] =
      heads.filterNot(_.startsWith("#m=")).map { l =>
        val (k, v) = l.drop(1).span(_ != '=')
        k -> v.drop(1)
      }.toMap
    /** Table-relative change-feed dir the commit recorded, if any
      * (merge/delete do; plain appends derive their feed from the
      * manifest diff instead). */
    def cdc: Option[String] = headers.get("cdc")
    /** Table-relative DELETION-VECTOR dir, if the version carries
      * merge-on-read deletes. */
    def dv: Option[String] = headers.get("dv")
    def rowPreserving: Boolean = headers.contains("norowchange")
    def evolve: Boolean = headers.get("evolve").contains("1")
    /** Manifest-dir names of the sidecars this manifest references. */
    def sidecars: Seq[String] = Seq("stats", "meta", "schema").flatMap(headers.get)
    private def sidecar(kind: String): Option[String] =
      headers.get(kind).flatMap(n => readText(fs, new org.apache.hadoop.fs.Path(md, n)))
    lazy val stats: Map[String, Map[String, ColStat]] =
      sidecar("stats").fold(Map.empty[String, Map[String, ColStat]])(decodeStats)
    /** The PHYSICAL schema the version recorded, if any. */
    lazy val schema: Option[org.apache.spark.sql.types.StructType] =
      sidecar("schema").map(t => org.apache.spark.sql.types.DataType.fromJson(t)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    /** Commit metadata: a version's `meta` sidecar, or a branch or staged
      * commit's inline `#m=` pairs. */
    lazy val meta: Map[String, String] =
      heads.collect { case l if l.startsWith("#m=") =>
        val Array(k, v) = l.stripPrefix("#m=").split("\t", -1)
        dec(k) -> dec(v)
      }.toMap ++ sidecar("meta").fold(Map.empty[String, String])(decodeKv)
  }

  private object Manifest {
    /** Parse `md/name`; a missing file fails with `missing`. */
    def load(fs: org.apache.hadoop.fs.FileSystem, md: org.apache.hadoop.fs.Path,
        name: String, missing: => String): Manifest = {
      val text = readText(fs, new org.apache.hadoop.fs.Path(md, name))
      require(text.isDefined, missing)
      new Manifest(fs, md, text.get.linesIterator.filter(_.nonEmpty).toList)
    }

    /** The on-disk form: `#key=value` headers in the given order, then the
      * inline `#m=` metadata sorted by key, then one entry per line. */
    def encode(headers: Seq[(String, String)], meta: Map[String, String],
        entries: Seq[String]): Array[Byte] =
      (headers.map { case (k, v) => s"#$k=$v" } ++
        meta.toSeq.sortBy(_._1).map { case (k, v) => s"#m=${enc(k)}\t${enc(v)}" } ++
        entries).mkString("", "\n", "\n").getBytes("UTF-8")
  }

  /** A snapshot table's metadata as ONE operation sees it: the manifest
    * dir's listing (one `listStatus`: the published versions with their
    * publish times, plus branch and staged manifests), the `table.props`
    * map (one read, under the writers' lock) and every [[Manifest]] the
    * operation opens, each parsed once. Column mapping, partition specs,
    * bloom columns, tags, branches and CHECK constraints are pure functions
    * of the props map; the logical schema of a version is its schema
    * sidecar with the mapping applied. Each part loads on first use.
    *
    * A state lives for one public call and is never cached across calls:
    * the table moves between calls, and every [[withCommitRetry]] attempt
    * loads its own so it plans against the version it races for. Checks
    * that must see the table as it is NOW — the publish slot, a staged
    * token's carrier, a props read-modify-write — read the filesystem
    * again instead.
    */
  private final class TableState(val spark: SparkSession, val dir: String) {
    val fs: org.apache.hadoop.fs.FileSystem = hfs(spark, dir)._1
    val md = new org.apache.hadoop.fs.Path(manifestDir(dir))

    /** Manifest-dir entries by name (empty for a fresh table). */
    lazy val listing: Map[String, org.apache.hadoop.fs.FileStatus] =
      (try fs.listStatus(md).toSeq
       catch { case _: java.io.FileNotFoundException => Seq.empty })
        .map(s => s.getPath.getName -> s).toMap

    /** Published version → publish time (its `.list` mtime: the atomic
      * rename is the commit point). */
    private lazy val published: Map[Int, Long] = listing.collect {
      case (n, s) if n.startsWith("v") && n.endsWith(".list") =>
        n.stripPrefix("v").stripSuffix(".list").toInt -> s.getModificationTime
    }
    lazy val versions: Seq[Int] = published.keys.toSeq.sorted
    def current: Option[Int] = versions.lastOption
    /** The head version; fails loudly on a table with none. */
    lazy val version: Int = current.getOrElse(
      throw new IllegalArgumentException(s"$dir: no published snapshots"))
    def commitTime(v: Int): Long = published.getOrElse(v,
      throw new IllegalArgumentException(s"$dir: snapshot version $v does not exist"))

    private val opened = scala.collection.mutable.Map.empty[String, Manifest]
    private def load(name: String, missing: => String): Manifest =
      opened.synchronized(opened.getOrElseUpdate(name, Manifest.load(fs, md, name, missing)))
    def manifest(v: Int): Manifest =
      load(s"v$v.list", s"$dir: snapshot version $v does not exist")
    def head: Manifest = manifest(version)
    def files: Seq[String] = head.entries
    def dv: Option[String] = head.dv
    /** The live rows of `fs` (entries of the head's [[files]]), masks
      * applied. */
    def rows(entries: Seq[String]): DataFrame =
      maskedScan(this, version, entries.map(dataPath(dir, _)))

    /** LOGICAL schema of version `v`: the schema sidecar with the mapping
      * applied; a version without a sidecar plans the mergeSchema read. */
    def schemaAt(v: Int): org.apache.spark.sql.types.StructType =
      manifest(v).schema match {
        case Some(phys) => org.apache.spark.sql.types.StructType(phys.fields.collect {
          case f if !dropped.contains(f.name) => f.copy(name = renames.getOrElse(f.name, f.name))
        })
        case None => readAt(this, Some(v)).schema
      }
    lazy val schema: org.apache.spark.sql.types.StructType = schemaAt(version)

    lazy val props: Map[String, String] = readProps(fs, dir)
    private def prefixed(p: String): Map[String, String] =
      props.collect { case (k, v) if k.startsWith(p) => k.stripPrefix(p) -> v }
    /** physical → logical renames */
    lazy val renames: Map[String, String] = prefixed("colmap.ren.")
    /** hidden (dropped) physical columns */
    lazy val dropped: Set[String] = props.get("colmap.dropped")
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    def toPhysical(logical: String): String =
      renames.collectFirst { case (p, l) if l == logical => p }.getOrElse(logical)
    def partitionSpecs: Seq[PartitionSpec] = props.get(PartProp).toSeq
      .flatMap(_.split(';').toSeq.filter(_.nonEmpty).map(parsePartitionSpec))
    def bloomColumns: Seq[String] = props.get("bloom.columns")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    def tags: Map[String, Int] = prefixed("ref.tag.").map { case (k, v) => k -> v.toInt }
    def branches: Map[String, Int] =
      prefixed("branch.").map { case (k, v) => dec(k) -> v.toInt }
    def constraints: Map[String, String] = prefixed("constraint.check.")

    /** Committed branch versions (1-based, contiguous from 1). */
    def branchVersions(name: String): Seq[Int] =
      Iterator.from(1).takeWhile(k => listing.contains(branchFile(name, k))).toSeq
    def branchManifest(name: String, k: Int): Manifest =
      load(branchFile(name, k), s"$dir: branch '$name' has no v$k")
    def stagedTokens: Seq[String] = listing.keys.toSeq
      .collect { case n if n.startsWith("staged-") && n.endsWith(".list") =>
        n.stripPrefix("staged-").stripSuffix(".list") }.sorted
    def staged(token: String): Manifest =
      load(s"staged-$token.list", s"$dir: no staged commit '$token'")
  }

  /** Commit `df` as the next snapshot version and return it. `replace =
    * false` appends (new manifest = previous files + new files); `replace =
    * true` makes the new files the whole table (compaction / overwrite) —
    * prior versions keep reading their own files untouched.
    *
    * `expectedVersion` is the optimistic-concurrency guard (Delta's
    * commit protocol): pass the version this commit was PLANNED against and
    * the commit fails with `ConcurrentModificationException` — before any
    * data is written — if another writer published in between, instead of
    * silently committing a table state the caller never saw. The manifest
    * publish itself re-checks the slot, so even two unguarded writers racing
    * the same version number cannot both win on a filesystem with
    * no-overwrite rename; on plain POSIX rename (which overwrites) the
    * pre-rename existence check closes all but a microsecond window — the
    * same caveat that makes Delta-on-S3 need an external lock.
    *
    * `meta` rides the commit atomically (Iceberg's snapshot summary): the
    * key→value map lands in the `vN.meta` sidecar BEFORE the `.list`
    * rename publishes the version, so a consumer can never observe a
    * version without its metadata — the property incremental maintenance
    * ([[Mview]]) builds its exactly-once watermark on.
    */
  def commit(spark: SparkSession, dir: String, df: DataFrame,
      replace: Boolean = false, expectedVersion: Option[Int] = None,
      evolve: Boolean = false, meta: Map[String, String] = Map.empty): Int = {
    val st = new TableState(spark, dir)
    val cur = st.current.getOrElse(0)
    expectedVersion.foreach { ev =>
      if (cur != ev) throw new java.util.ConcurrentModificationException(
        s"$dir: commit planned against v$ev but table is at v$cur — " +
          "rebase the commit on the current snapshot and retry")
    }
    if (!replace && cur > 0) enforceSchema(st, df, evolve)
    enforceConstraints(st, df)
    val next = cur + 1
    val fresh = writeData(st, next, df)
    publishOnto(st, next, fresh, replace, meta)
    next
  }

  /** Publish `fresh` as version `next` on top of `st`'s head: a replace
    * (or a first commit) lists only `fresh`; an append carries the head's
    * files with their deletion-vector masks. */
  private def publishOnto(st: TableState, next: Int, fresh: Seq[String],
      replace: Boolean, meta: Map[String, String]): Unit =
    if (replace || next == 1) publish(st, next, Seq.empty, fresh, meta)
    else publish(st, next, st.manifest(next - 1).entries, fresh, meta,
      dv = st.manifest(next - 1).dv)

  /** Commit with the optimistic-concurrency RETRY loop (the commit protocol
    * the public Delta/Iceberg formats run): data files are written ONCE
    * under their per-writer-unique directory; on a version-slot collision
    * only the driver-side metadata publish re-runs, rebased on the
    * refreshed current version. This is what lets a compactor run next to
    * a streaming sink — each race's loser lands on the next slot instead
    * of surfacing [[java.util.ConcurrentModificationException]]:
    *
    *  - an APPEND rebase re-carries the new winner's file list, so the
    *    winner's rows ride along untouched — neither commit is lost;
    *  - a REPLACE rebase stays a replacement (the retry's manifest is
    *    still exactly this commit's files). Callers whose replacement was
    *    DERIVED from a version (compaction, DELETE) must pass that as
    *    `expectedVersion` — then a mid-flight foreign commit aborts the
    *    retry loudly instead of silently erasing it, exactly Delta's
    *    logical-conflict rule (blind replaces may omit it and always win).
    *
    * Data written by abandoned attempts is unique-named debris for
    * [[vacuumOrphans]]. Retries are bounded by [[MetadataRetries]] (each
    * retry is a metadata op, so contention resolves in milliseconds).
    */
  def commitRetry(spark: SparkSession, dir: String, df: DataFrame,
      replace: Boolean = false, expectedVersion: Option[Int] = None,
      evolve: Boolean = false, meta: Map[String, String] = Map.empty): Int = {
    val planState = new TableState(spark, dir)
    val planned = planState.current.getOrElse(0)
    expectedVersion.foreach { ev =>
      if (planned != ev) throw new java.util.ConcurrentModificationException(
        s"$dir: commit planned against v$ev but table is at v$planned — " +
          "rebase the commit on the current snapshot and retry")
    }
    if (!replace && planned > 0) enforceSchema(planState, df, evolve)
    enforceConstraints(planState, df)
    val fresh = writeData(planState, planned + 1, df)
    // Left(cur): a derived replace met a foreign commit — no retry can
    // resolve that, so it leaves the loop and fails once
    withCommitRetry(MetadataRetries) {
      val st = new TableState(spark, dir)
      val cur = st.current.getOrElse(0)
      if (replace && expectedVersion.exists(_ != cur)) Left(cur)
      else {
        if (!replace && cur > planned) enforceSchema(st, df, evolve)
        publishOnto(st, cur + 1, fresh, replace, meta)
        Right(cur + 1)
      }
    }.fold(cur => throw new java.util.ConcurrentModificationException(
      s"$dir: replace derived from v${expectedVersion.get} conflicts " +
        s"with concurrent v$cur — recompute from the current snapshot"),
      identity)
  }

  /** Attempt bound of a loop whose retry re-runs only the metadata publish
    * ([[commitRetry]], [[publishStaged]]). */
  private[graft] val MetadataRetries = 20
  /** Attempt bound of a writer that re-derives its whole commit from the
    * current snapshot per attempt (MERGE, DELETE, UPDATE, partition
    * reloads): each retry rescans its candidate files. */
  private[graft] val RecomputeRetries = 10

  /** The optimistic-concurrency retry loop (Delta's conflict-resolution
    * loop): run `attempt`, and while it loses a version-slot race — a
    * [[java.util.ConcurrentModificationException]] — run it again, at most
    * `maxAttempts` runs in all; the last run's exception propagates. Safe
    * only for bodies that re-read the CURRENT version each run, so a replay
    * after a concurrent commit incorporates it instead of erasing it — every
    * snapshot writer does. Data written by a lost attempt is unique-named
    * debris for [[vacuumOrphans]].
    */
  private[graft] def withCommitRetry[T](maxAttempts: Int)(attempt: => T): T =
    try attempt
    catch {
      case _: java.util.ConcurrentModificationException if maxAttempts > 1 =>
        withCommitRetry(maxAttempts - 1)(attempt)
    }

  /** Write a commit's data files under a PER-WRITER-UNIQUE directory
    * (`data/c{next}-{uuid}`) and return the table-relative file list. The
    * unique suffix is what makes the manifest CAS safe end to end: two
    * writers racing the same version number write DISJOINT directories, so
    * the loser's `mode(overwrite)` can never destroy files the winner's
    * just-published manifest references (Delta's unique-file-name rule).
    * Loser directories become orphan debris that [[vacuumOrphans]] sweeps.
    */
  private def writeData(st: TableState, next: Int,
      df: DataFrame): Seq[String] = {
    val (spark, dir, fs) = (st.spark, st.dir, st.fs)
    // the masked-read machinery attaches internal `__`-prefixed columns and
    // maskedParquet strips the WHOLE prefix on merge-on-read reads — a user
    // column like `__tag` would write fine and then silently vanish from
    // every read after the first DV delete. Reserve the entire prefix at
    // the write boundary so the failure is loud and immediate.
    val reserved = df.columns.filter(_.startsWith("__"))
    require(reserved.isEmpty,
      s"$dir: column name(s) ${reserved.mkString(", ")} use the '__' prefix, " +
        "which is reserved by the snapshots format")
    val dataRel = s"data/c$next-${java.util.UUID.randomUUID.toString.take(8)}"
    // the single write choke point: logical frames land under their
    // PHYSICAL column names, so renamed columns stay one column on disk
    val physical = toPhysicalFrame(st, df)
    st.partitionSpecs match {
      case Seq() =>
        withStatFriendlyWrites(spark) {
          physical.write.options(bloomWriteOptions(st))
            .mode("overwrite").parquet(s"$dir/$dataRel")
        }
      case specs =>
        import org.apache.spark.sql.functions.col
        // clustered write distribution (Delta/Iceberg's default): shuffle
        // by the partition-value TUPLE so a file never mixes values — that
        // is what makes every per-file stats envelope value-tight and each
        // manifest entry's `__part…=` segments single exact values. The
        // shadow columns exist only for partitionBy routing; parquet files
        // keep every user column (incl. the transforms' sources) and never
        // store them.
        //
        // REBALANCE, not a plain hash repartition: with `repartition(tuple)`
        // EVERY row of one partition value lands in ONE task writing ONE
        // file — under days(ts) partitioning, a daily 100 TB ingest is one
        // straggler task per day. The rebalance hint keeps the tuple
        // clustering but lets AQE split a hot tuple's shuffle partition
        // into advisory-sized pieces (several tasks → several files, each
        // still single-valued because partitionBy routes by value) and
        // coalesce many tiny tuples into one task (still one file per
        // value). Sizing comes from the incoming frame at runtime via
        // spark.sql.adaptive.advisoryPartitionSizeInBytes — scale-adaptive,
        // no constant tuned for either local mode or the cluster. Without
        // AQE the hint degrades to exactly the old hash distribution.
        val shadowCols = specs.zipWithIndex.map { case (ps, i) =>
          val pc = st.toPhysical(ps.column)
          require(physical.columns.contains(pc),
            s"$dir: partition column '${ps.column}' missing from the write")
          partDirColAt(i) ->
            partValueExpr(dir, ps, pc, physical.schema(pc).dataType)
        }
        val routed = shadowCols.foldLeft(physical) { case (df, (n, e)) =>
          df.withColumn(n, e.cast("string"))
        }.hint("rebalance", shadowCols.map(c => col(c._1)): _*)
        withStatFriendlyWrites(spark) {
          routed.write.options(bloomWriteOptions(st))
            .mode("overwrite").partitionBy(shadowCols.map(_._1): _*)
            .parquet(s"$dir/$dataRel")
        }
    }
    // recursive: a routed commit nests its files one `__part=` level down
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$dir/$dataRel"), true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        out += relPath(dir, st.getPath.toUri.getPath)
    }
    out.sorted.toSeq
  }

  /** A data file's absolute path/URI back to its MANIFEST-ENTRY form — the
    * inverse of [[dataPath]]: table-relative for files under the table dir,
    * the absolute path itself for a shallow clone's external references
    * (that absolute form IS their entry — so every key-DML verb works on
    * clones: the rewrite lands locally, the untouched external entries
    * carry verbatim). Resolves against the table dir itself (never a
    * substring scan: a table living under a `/data/c…` parent must not
    * confuse the parse).
    */
  private def relPath(dir: String, absPathOrUri: String): String = {
    val dirPath = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      .stripSuffix("/")
    val p = new org.apache.hadoop.fs.Path(absPathOrUri).toUri.getPath
    if (p.startsWith(dirPath + "/")) p.substring(dirPath.length + 1) else p
  }

  /** [[relPath]] for the DML verbs' touched-file resolution, GUARDED: a
    * scanned path that does not resolve to a manifest entry of the version
    * being rewritten fails loudly. The verbatim-absolute fallback is legal
    * ONLY for a shallow clone's external references (their absolute form
    * IS the manifest entry); any other mismatch — a relative or
    * differently-spelled table dir versus the scan's qualified URI —
    * would otherwise leave the original file in `untouched` while its
    * rows are also rewritten fresh: silent row duplication.
    */
  private def relPathIn(dir: String, entries: Set[String],
      absPathOrUri: String): String = {
    val rel = relPath(dir, absPathOrUri)
    require(entries.contains(rel),
      s"$dir: scanned file '$absPathOrUri' resolves to '$rel', which is not " +
        "a manifest entry of the version being rewritten — was the table " +
        "dir spelled differently (relative vs qualified) than at commit?")
    rel
  }

  /** The `meta` map committed with `version` (empty if none was passed). */
  def commitMeta(spark: SparkSession, dir: String,
      version: Int): Map[String, String] =
    new TableState(spark, dir).manifest(version).meta

  /** Append-commit schema gate (Delta's enforcement): the incoming frame
    * must carry exactly the table's columns with exactly their types —
    * a silently mixed-footer table is how reads start returning
    * reader-dependent results. `evolve = true` relaxes ONE direction:
    * brand-new columns may be ADDED (prior files surface NULLs for them
    * via the merged-footer read); dropped columns and type changes stay
    * hard errors either way. The table schema is the head's unless
    * `against` names another (a branch head's).
    */
  private def enforceSchema(st: TableState, df: DataFrame, evolve: Boolean,
      against: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val dir = st.dir
    val table = against.getOrElse(st.schema).map(f => f.name -> f.dataType).toMap
    val incoming = df.schema.map(f => f.name -> f.dataType).toMap
    val missing = table.keySet -- incoming.keySet
    val added = incoming.keySet -- table.keySet
    val retyped = table.keySet.intersect(incoming.keySet)
      .filter(c => table(c) != incoming(c))
    if (retyped.nonEmpty) throw new IllegalArgumentException(
      s"$dir: append changes column type(s) ${retyped.toSeq.sorted.mkString(", ")} " +
        s"(${retyped.toSeq.sorted.map(c => s"$c: ${table(c).simpleString} -> " +
          incoming(c).simpleString).mkString("; ")}) — types are fixed")
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"$dir: append drops column(s) ${missing.toSeq.sorted.mkString(", ")} — " +
        "a commit must carry every table column")
    if (added.nonEmpty && !evolve) throw new IllegalArgumentException(
      s"$dir: append adds column(s) ${added.toSeq.sorted.mkString(", ")} — " +
        "pass evolve = true to extend the schema")
    if (added.nonEmpty) {
      // a new logical column becomes a physical parquet column of the same
      // name — it must not collide with a HIDDEN physical (dropped, or
      // renamed away), or old bytes would resurrect under the new column
      val hidden = st.dropped ++ st.renames.collect { case (p, l) if p != l => p }
      val bad = added.intersect(hidden)
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"$dir: column name(s) ${bad.toSeq.sorted.mkString(", ")} collide " +
          "with hidden physical columns (dropped or renamed away) — pick " +
          "different names")
    }
  }

  /** Publish version `next` = `carried` (files of a prior version, whose
    * stats are carried forward from that version's sidecar) + `fresh`
    * (just-written files, whose stats are read from their parquet FOOTERS —
    * a driver-side metadata read, O(new files), no data scan). The `.stats`
    * sidecar lands before the `.list`: the list rename is the commit point,
    * so a reader never sees a version whose stats are still in flight.
    */
  private def publish(st: TableState, next: Int,
      carried: Seq[String], fresh: Seq[String],
      meta: Map[String, String] = Map.empty,
      cdc: Option[String] = None,
      dv: Option[String] = None,
      noRowChange: Boolean = false,
      statsFrom: Option[Int] = None): Unit = {
    val (spark, dir) = (st.spark, st.dir)
    st.fs.mkdirs(st.md)
    // carried stats and schema come from the version that LISTED the
    // carried files — the previous one for ordinary commits, the restored
    // one for RESTORE
    val from = if (carried.isEmpty) None else Some(st.manifest(statsFrom.getOrElse(next - 1)))
    val prevStats = from.fold(Map.empty[String, Map[String, ColStat]])(_.stats)
    // one footer open per fresh file: stats AND the writer-recorded Spark
    // schema come out of the same read (the schema sidecar below then needs
    // no second pass over the footers)
    val freshInfo = fresh.map(f => f -> footerInfo(spark, dataPath(dir, f)))
    val statRows = carried.flatMap(f => prevStats.get(f).map(f -> _)) ++
      freshInfo.map { case (f, (s, _)) => f -> s }
    val token = java.util.UUID.randomUUID.toString.take(8)
    val statsName = s"v$next-$token.stats"
    writeAtomic(st, statsName, encodeStats(statRows).getBytes("UTF-8"),
      contended = false)
    // PHYSICAL schema sidecar (Delta/Iceberg record schema in the log):
    // carried fields keep the prior version's order, brand-new fresh
    // columns append — so readers plan from ONE metadata file instead of a
    // mergeSchema footer sweep over every data file. Cost here is O(fresh)
    // footers, already paid for stats. A type conflict (possible only on
    // pre-gate legacy tables) skips the sidecar → readers keep the
    // mergeSchema fallback.
    val schemaName: Option[String] = {
      def footerSchema(fs0: Seq[String]) = spark.read
        .option("mergeSchema", "true").parquet(fs0.map(f => dataPath(dir, f)): _*)
        .schema
      val carriedSchema = from.map(_.schema.getOrElse(footerSchema(carried)))
      // the fresh files' schemas were already read footer-by-footer above
      // (footerInfo); the mergeSchema Spark JOB runs only as the fallback —
      // a file missing the Spark schema key (non-Spark writer) or a
      // mixed-schema fresh set, where Spark's own merge semantics must rule
      val freshSchema =
        if (fresh.isEmpty) None
        else {
          val recorded = freshInfo.map(_._2._2)
          val distinctRecorded = recorded.flatten.distinct
          if (recorded.forall(_.isDefined) && distinctRecorded.length == 1)
            Some(distinctRecorded.head)
          else Some(footerSchema(fresh))
        }
      val merged = (carriedSchema, freshSchema) match {
        case (Some(c), Some(f)) =>
          val byName = c.map(x => x.name -> x.dataType).toMap
          if (f.exists(x => byName.get(x.name).exists(_ != x.dataType))) None
          else Some(org.apache.spark.sql.types.StructType(
            c.fields ++ f.fields.filterNot(x => byName.contains(x.name))))
        case (c, f) => c.orElse(f)
      }
      merged.map { s =>
        val nullable = org.apache.spark.sql.types.StructType(
          s.fields.map(_.copy(nullable = true)))
        val name = s"v$next-$token.schema"
        writeAtomic(st, name, nullable.json.getBytes("UTF-8"), contended = false)
        name
      }
    }
    val metaName =
      if (meta.isEmpty) None
      else {
        val name = s"v$next-$token.meta"
        writeAtomic(st, name, encodeKv(meta), contended = false)
        Some(name)
      }
    val headers = Seq("stats" -> statsName) ++ metaName.map("meta" -> _) ++
      schemaName.map("schema" -> _) ++ cdc.map("cdc" -> _) ++ dv.map("dv" -> _) ++
      (if (noRowChange) Seq("norowchange" -> "1") else Seq.empty)
    writeAtomic(st, s"v$next.list",
      Manifest.encode(headers, Map.empty, carried ++ fresh), contended = true)
  }

  /** Write `body` to the manifest dir as `name` with write-temp + atomic
    * rename: a concurrent reader either sees the fully written file or none
    * at all (hidden names are never listed). Sidecars carry a
    * per-writer-unique token in their name, so a `.list` is the ONLY
    * contended rename — an already-present list means another writer won
    * the slot (the loser's sidecars become unique-named debris that
    * [[vacuumOrphans]] sweeps; they can never shadow the winner's). The
    * TEMP name must be per-writer unique too: same-slot racers sharing one
    * temp would overwrite / rename-steal each other's in-flight bytes
    * before ever reaching the guarded rename.
    */
  private def writeAtomic(st: TableState, name: String, body: Array[Byte],
      contended: Boolean): Unit = {
    val fs = st.fs
    val tmp = new org.apache.hadoop.fs.Path(st.md,
      s".$name.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(body) finally out.close()
    val fin = new org.apache.hadoop.fs.Path(st.md, name)
    def renameGuarded(): Unit = {
      if (contended && fs.exists(fin)) {
        fs.delete(tmp, false)
        throw new java.util.ConcurrentModificationException(
          s"${st.dir}: $name was published concurrently — rebase and retry")
      }
      require(fs.rename(tmp, fin), s"${st.dir}: manifest publish rename failed for $name")
    }
    // HDFS/object-store rename is no-overwrite (the loser's rename FAILS),
    // but POSIX local rename overwrites — serialize same-JVM committers
    // through a per-table lock so the exists-check + rename is atomic
    // here too. Cross-JVM local racers keep the documented microsecond
    // window (the Delta-on-S3 external-lock caveat).
    if (contended) publishLock(st.md.toString).synchronized(renameGuarded())
    else renameGuarded()
  }

  /** Table-relative DELETION-VECTOR directory of one version, if the
    * version carries merge-on-read deletes ([[deleteRangeMor]] /
    * [[mergeIntoMor]]). The DV is a parquet dir of `(file_name, pos)` rows
    * — the positions masked out of each data file at read time. Appends
    * CARRY the header forward (their files keep their masks); a replace
    * commit drops it (the rewrite materialized the deletes).
    */
  private[graft] def dvRel(spark: SparkSession, dir: String,
      version: Int): Option[String] =
    new TableState(spark, dir).manifest(version).dv

  /** True when `version` is a DATA-PRESERVING rewrite (compaction, Z-order
    * maintenance): files changed, visible rows did not — Delta's
    * `dataChange = false`. Change-feed readers emit zero rows for these
    * versions instead of refusing, so maintenance can run next to a live
    * CDF tail.
    */
  def isRowPreserving(spark: SparkSession, dir: String, version: Int): Boolean =
    new TableState(spark, dir).manifest(version).rowPreserving

  /** Row-level CHANGE DATA FEED over `(fromVersion, toVersion]` (the public
    * Delta CDF contract): every row change with `_change_type` ∈
    * {insert, update_pre, update_post, delete} and `_commit_version`.
    * Plain appends cost NOTHING at commit time — their feed is derived
    * from the manifest diff (fresh files = inserts); merge/delete commits
    * recorded their touched rows in a `_changes/` sidecar referenced from
    * the manifest header (written BEFORE the commit-point rename, so a
    * version never appears without its feed). A replace commit records no
    * feed — reading across one fails loudly, same as [[readChanges]]:
    * resync from a snapshot. At 100 TB the feed read is O(changed rows):
    * appended files + recorded change files, never a table scan.
    */
  def readChangeFeed(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion < toVersion,
      s"$dir: fromVersion $fromVersion must precede toVersion $toVersion")
    val st = new TableState(spark, dir)
    val vs = rangeVersions(st, fromVersion, toVersion)
    // canonical column order = the table's (a using-key join in a commit
    // path may have moved columns; the STREAMING source binds the batch to
    // its declared schema positionally, so order is part of the contract)
    val head = readAt(st, Some(toVersion))
    val tableCols = head.columns.toSeq
    // one planned relation serves every zero-row part: planning a fresh
    // mergeSchema read per empty version would re-read all of its footers
    val headEmpty = head.limit(0)
    def emptyAt(v: Int) =
      headEmpty
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(v))
    val parts = vs.map { v =>
      val m = st.manifest(v)
      m.cdc match {
        // a data-preserving rewrite (compact / Z-order maintenance) changed
        // no visible rows: the feed is empty for it by definition — Delta's
        // dataChange = false commits, which CDF skips the same way
        case _ if m.rowPreserving => emptyAt(v)
        case Some(rel) =>
          // applyMapping: recorded feed rows land under PHYSICAL column
          // names (writeCdc's rule), so the current table-level mapping
          // translates every feed generation uniformly — a feed recorded
          // between two renames of the same column reads back under the
          // column's CURRENT logical name, same as the data files do.
          applyMapping(st,
            spark.read.option("mergeSchema", "true").parquet(s"$dir/$rel"))
            .withColumn("_commit_version", lit(v))
        case None =>
          val prev: Set[String] =
            if (v == 1) Set.empty else st.manifest(v - 1).entries.toSet
          val cur = m.entries
          require(prev.subsetOf(cur.toSet),
            s"$dir: v$v is a replace commit with no recorded change feed — " +
              "incremental read is undefined, resync from a snapshot")
          // defensive: every DV writer records a feed, so an un-fed DV delta
          // here means a foreign/corrupt commit — refuse, don't misreport
          require(m.dv == (if (v == 1) None else st.manifest(v - 1).dv),
            s"$dir: v$v changed deletion vectors without a recorded change " +
              "feed — incremental read is undefined")
          val fresh = cur.filterNot(prev)
          if (fresh.isEmpty) emptyAt(v)
          else applyMapping(st, spark.read.option("mergeSchema", "true")
            .parquet(fresh.map(f => dataPath(dir, f)): _*))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v))
      }
    }
    val all = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val ordered = tableCols.filter(all.columns.contains) ++
      all.columns.filterNot(c => tableCols.contains(c) ||
        c == "_change_type" || c == "_commit_version") ++
      Seq("_change_type", "_commit_version")
    all.select(ordered.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Write a commit's recorded change rows under a per-writer-unique
    * `_changes/` dir; returns the table-relative path for the manifest
    * header. `df` must already carry `_change_type`. The rows land under
    * PHYSICAL column names (same rule as [[writeData]]): a feed recorded
    * between two renames of the same column would otherwise keep its
    * intermediate logical name and surface as a stale extra column on
    * later reads — physical names make [[applyMapping]] translate every
    * feed generation uniformly. `_change_type` has no mapping entry and
    * passes through unchanged. */
  private def writeCdc(st: TableState, next: Int, df: DataFrame): String = {
    val rel = s"_changes/c$next-${java.util.UUID.randomUUID.toString.take(8)}"
    // change-feed files bin-pack adaptively too (same §6 rationale as the
    // DML rewrites; CDF readers scan every commit's _changes dir)
    toPhysicalFrame(st, df.hint("rebalance"))
      .write.mode("overwrite").parquet(s"${st.dir}/$rel")
    rel
  }

  /** Write a version's deletion-vector rows (`file_name`, `pos`) under a
    * per-writer-unique `_dv/` dir; returns the table-relative path for the
    * manifest's `#dv=` header. One dir holds the WHOLE mask of its version
    * (prior masks are unioned in by the writer), so a reader resolves
    * exactly one DV join side per snapshot.
    */
  private def writeDv(st: TableState, next: Int, df: DataFrame): String = {
    val rel = s"_dv/c$next-${java.util.UUID.randomUUID.toString.take(8)}"
    df.select(org.apache.spark.sql.functions.col("file_name"),
        org.apache.spark.sql.functions.col("pos"))
      .write.mode("overwrite").parquet(s"${st.dir}/$rel")
    rel
  }

  /** The deletion-vector rows of one snapshot (empty-None when the version
    * carries no merge-on-read deletes). Schema: `file_name` (the data
    * file's base name — unique per table because Spark part files embed
    * the write job's UUID) and `pos` (the row's file-absolute index, the
    * same value the parquet source exposes as `_metadata.row_index`).
    */
  def deletionVectors(spark: SparkSession, dir: String,
      version: Int): Option[DataFrame] =
    new TableState(spark, dir).manifest(version).dv
      .map(rel => spark.read.parquet(s"$dir/$rel"))

  /** PHYSICAL schema of one version from its `.schema` sidecar, if the
    * version recorded one — the metadata answer to "what columns do these
    * files hold" that replaces the mergeSchema footer sweep at planning
    * (one small manifest read vs one footer per data file; at 100 TB the
    * difference between instant analysis and a cluster-wide metadata job).
    */
  private[graft] def physicalSchemaOf(spark: SparkSession, dir: String,
      version: Int): Option[org.apache.spark.sql.types.StructType] =
    new TableState(spark, dir).manifest(version).schema

  /** JVM-wide (path → FileStatus) cache for MANIFEST-LISTED data files.
    * Safe because data files are write-once under unique names (the same
    * rule that makes the manifest CAS safe): a status taken once can never
    * go stale — files are only ever added or deleted, never rewritten in
    * place, and a deleted file's read fails identically with or without
    * the cache. Bounded by the files a JVM actually touches.
    */
  private val fileStatusCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.hadoop.fs.FileStatus]()

  private def manifestStatuses(spark: SparkSession,
      paths: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.map { p =>
      fileStatusCache.computeIfAbsent(p, _ => {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(conf).getFileStatus(hp)
      })
    }
  }

  /** A [[org.apache.spark.sql.execution.datasources.FileIndex]] backed by
    * the MANIFEST's file list instead of a filesystem walk. `spark.read
    * .parquet(paths…)` re-lists its paths on every plan — a distributed
    * "Listing leaf files" JOB once the path count crosses
    * `parallelPartitionDiscovery.threshold` (catalog snapshot reads paid it
    * up to four times per query execution: table schema resolution, DSv2
    * statistics, the V1 buildScan, and AQE's replan). A snapshot version's
    * file set is immutable and the manifest IS the listing, so planning
    * from it launches zero jobs and touches the FS once per file per JVM
    * ([[fileStatusCache]]) — the same plan-from-the-log contract the public
    * table formats (Delta, Iceberg) are built on. Guide §5: no cluster jobs
    * for metadata the driver already holds.
    */
  private class ManifestFileIndex(
      statuses: Seq[org.apache.hadoop.fs.FileStatus])
    extends org.apache.spark.sql.execution.datasources.FileIndex {
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] = statuses.map(_.getPath)
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
      Seq(org.apache.spark.sql.execution.datasources.PartitionDirectory(
        org.apache.spark.sql.catalyst.InternalRow.empty, statuses.toArray))
    override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override val sizeInBytes: Long = statuses.map(_.getLen).sum
    override def partitionSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(Nil)
  }

  /** Plan a set of a version's data files: sidecar schema when recorded
    * (no footer IO; files missing an evolved column surface typed NULLs),
    * mergeSchema fallback for pre-sidecar versions. `mergeAll` forces the
    * footer sweep — for reads deliberately spanning files OUTSIDE the
    * version (the WAP audit view's staged files). The sidecar-schema path
    * plans through [[ManifestFileIndex]] — no listing job, no footer IO;
    * the fallback keeps `spark.read` (it must infer from footers anyway).
    */
  private def planRaw(st: TableState, version: Int,
      paths: Seq[String], mergeAll: Boolean): DataFrame = {
    val spark = st.spark
    (if (mergeAll) None else st.manifest(version).schema) match {
      case Some(schema) if paths.nonEmpty =>
        val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          location = new ManifestFileIndex(manifestStatuses(spark, paths)),
          partitionSchema = org.apache.spark.sql.types.StructType(Nil),
          dataSchema = schema,
          bucketSpec = None,
          fileFormat =
            new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
          options = Map.empty)(spark)
        spark.baseRelationToDataFrame(rel)
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
  }

  /** Open `paths` with the row's identity attached (`__fname`, `__pos`)
    * and any existing deletion-vector rows ALREADY masked out — the
    * primitive every merge-on-read path builds on. The DV anti-join keys
    * on (file name, file-absolute row index): the DV side is deleted-rows
    * sized, so Spark broadcast it and the scan stays one pass.
    */
  private def openWithPos(st: TableState, version: Int,
      paths: Seq[String], dv: Option[String],
      mergeAll: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    val base = applyMapping(st,
      planRaw(st, version, paths, mergeAll)
        .withColumn("__path", col("_metadata.file_path"))
        .withColumn("__fname", element_at(split(col("_metadata.file_path"), "/"), -1))
        .withColumn("__pos", col("_metadata.row_index")))
    dv match {
      case None => base
      case Some(rel) =>
        base.join(st.spark.read.parquet(s"${st.dir}/$rel")
            .select(col("file_name").as("__fname"), col("pos").as("__pos")),
          Seq("__fname", "__pos"), "left_anti")
    }
  }

  /** Plan `paths` of snapshot `version` with its deletion vectors masked.
    * No DV → the plain parquet scan, zero overhead; with a DV the deleted
    * (file, pos) pairs are anti-joined out — merge-on-read's read side.
    * Every read path funnels here (API, SQL relation, TVF, change feed),
    * so a DV is invisible everywhere except the write amplification it
    * saved.
    */
  private def maskedScan(st: TableState, version: Int, paths: Seq[String],
      mergeAll: Boolean = false): DataFrame =
    st.manifest(version).dv match {
      case None => applyMapping(st, planRaw(st, version, paths, mergeAll))
      case Some(rel) =>
        import org.apache.spark.sql.functions.col
        val withPos = openWithPos(st, version, paths, Some(rel), mergeAll)
        val dataCols = withPos.columns.filterNot(_.startsWith("__"))
        withPos.select(dataCols.toSeq.map(col): _*)
    }

  /** [[maskedScan]] for the SQL relation, which plans its own file list. */
  private[graft] def maskedParquet(spark: SparkSession, dir: String,
      version: Int, paths: Seq[String]): DataFrame =
    maskedScan(new TableState(spark, dir), version, paths)

  /** DESCRIBE HISTORY: one row per published version — commit time, file
    * count, whether it carried a recorded change feed / deletion vectors /
    * the data-preserving marker, and the commit metadata (sorted `k=v`
    * pairs). Driver-side manifest reads, O(versions) — the operational
    * observability face of the format (what a table admin checks before
    * expire/compact/purge). Also reachable in SQL as
    * `FROM snapshot_history('<dir>')`.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val st = new TableState(spark, dir)
    st.versions.map { v =>
      val m = st.manifest(v)
      val meta = m.meta.toSeq.sortBy(_._1).map { case (k, x) => s"$k=$x" }.mkString(";")
      (v, st.commitTime(v), m.entries.length, m.cdc.isDefined, m.dv.isDefined,
        m.rowPreserving, meta)
    }.toDF("version", "commit_ms", "n_files", "has_change_feed",
      "has_deletion_vectors", "row_preserving", "meta")
  }

  /** Wall-clock publish time of one version (the manifest's modification
    * time — set by the atomic rename, i.e. the commit point). */
  def commitTime(spark: SparkSession, dir: String, version: Int): Long =
    new TableState(spark, dir).commitTime(version)

  /** TIMESTAMP AS OF: read the newest snapshot published at or before
    * `tsMillis`. Fails loudly for a timestamp older than the first commit
    * (there was no table then) — the Delta/Iceberg contract.
    */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    val st = new TableState(spark, dir)
    val at = st.versions.filter(v => st.commitTime(v) <= tsMillis)
    require(at.nonEmpty,
      s"$dir: no snapshot existed at $tsMillis (first commit is later)")
    readAt(st, Some(at.max))
  }

  /** Read one snapshot (default: latest). Plans exactly the manifest's
    * files, so the scan count — and therefore the result — is pinned no
    * matter what lands in the table afterwards.
    */
  def read(spark: SparkSession, dir: String, version: Option[Int] = None): DataFrame =
    readAt(new TableState(spark, dir), version)

  private def readAt(st: TableState, version: Option[Int]): DataFrame = {
    val v = version.getOrElse(st.version)
    val fs = st.manifest(v).entries
    require(fs.nonEmpty, s"${st.dir}: snapshot v$v lists no files")
    // mergeSchema (inside maskedScan): evolved tables (evolve = true
    // appends) surface added columns with NULLs in pre-evolution files
    // instead of whichever single footer the planner happened to sample;
    // deletion vectors of merge-on-read commits mask out deleted rows
    maskedScan(st, v, fs.map(f => dataPath(st.dir, f)))
  }

  /** Incremental read: the rows appended between `fromVersion` (exclusive)
    * and `toVersion` (inclusive) — the storage-layer CDC feed a downstream
    * consumer tails instead of re-reading the table. Valid only across
    * append commits: a REPLACE in the range rewrites history, so file-set
    * subtraction would misreport it — that case fails loudly (a real
    * consumer must resync from a full snapshot, exactly like Iceberg's
    * incremental scan over a rewrite).
    */
  def readChanges(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    require(fromVersion < toVersion,
      s"$dir: fromVersion $fromVersion must precede toVersion $toVersion")
    val st = new TableState(spark, dir)
    val vs = rangeVersions(st, fromVersion, toVersion)
    // per-version walk (not endpoint set-difference): a DATA-PRESERVING
    // rewrite in the range (compaction / Z-order maintenance, marked
    // #norowchange) contributes zero rows and later diffs anchor on its
    // post-rewrite manifest, so maintenance never breaks a live tail; a
    // genuine replace or a row-level change still refuses loudly.
    var prev = st.manifest(fromVersion).entries.toSet
    var prevDv = st.manifest(fromVersion).dv
    var sawPreserving = false
    val freshAll = Seq.newBuilder[String]
    for (v <- vs) {
      val m = st.manifest(v)
      if (m.rowPreserving) sawPreserving = true
      else {
        require(prev.subsetOf(m.entries.toSet),
          s"$dir: v$v is a replace commit — incremental read is undefined " +
            "across it, resync from a snapshot")
        require(m.dv == prevDv,
          s"$dir: v$v carries row-level deletes (deletion vectors) — " +
            "append-only incremental read is undefined, use readChangeFeed")
        freshAll ++= m.entries.filterNot(prev)
      }
      prev = m.entries.toSet
      prevDv = m.dv
    }
    val fresh = freshAll.result()
    if (fresh.isEmpty) {
      require(sawPreserving,
        s"$dir: no files appended in (v$fromVersion, v$toVersion]")
      // only maintenance landed: the delta is exactly zero rows
      readAt(st, Some(toVersion))
        .filter(org.apache.spark.sql.functions.lit(false))
    } else
      // maskedScan: the walk proved the DV is constant across the range
      // (no entry can reference range-fresh files), so the mask is a
      // harmless no-op here — this is for the column MAPPING
      maskedScan(st, toVersion, fresh.map(f => dataPath(dir, f)))
  }

  /** Versions in `(fromVersion, toVersion]`, verified CONTIGUOUS from
    * `fromVersion`: if retention expired the head of the range, an
    * incremental reader would silently lose the expired commits' changes —
    * that case fails loudly instead (the consumer must resync from a full
    * snapshot).
    */
  private def rangeVersions(st: TableState,
      fromVersion: Int, toVersion: Int): Seq[Int] = {
    val dir = st.dir
    val vs = st.versions.filter(v => v > fromVersion && v <= toVersion)
    require(vs.nonEmpty, s"$dir: no versions in ($fromVersion, $toVersion]")
    require(vs.head == fromVersion + 1 && vs == (vs.head to vs.last),
      s"$dir: versions in (v$fromVersion, v$toVersion] were expired " +
        s"(surviving: ${vs.mkString(", ")}) — the incremental range is " +
        "broken, resync from a snapshot")
    vs
  }

  /** Expire snapshots older than `keepFrom`: their manifests are removed
    * and every data file no surviving manifest references is deleted — the
    * vacuum that bounds storage growth under replace-heavy workloads.
    * Metadata-only on the driver (file list set-difference); returns the
    * number of data files deleted. Reads pinned to expired versions fail
    * loudly afterwards, surviving versions are untouched.
    *
    * Retention safety: `keepFrom` is CLAMPED down to the lowest live
    * [[readerPins]] version, so a retention sweep can never delete a
    * manifest a checkpoint-registered streaming tail still has to replay —
    * the lagging reader wins over the vacuum (Iceberg's
    * min-snapshots-to-keep posture). Abandoned pins age out after
    * [[defaultPinTtlMillis]].
    */
  def expire(spark: SparkSession, dir: String, keepFrom: Int): Int =
    expireTo(new TableState(spark, dir), keepFrom)

  private def expireTo(st: TableState, keepFrom: Int): Int = {
    val (spark, dir, fs) = (st.spark, st.dir, st.fs)
    val all = st.versions
    require(all.contains(keepFrom), s"$dir: keepFrom v$keepFrom does not exist")
    // reader pins, tags AND branch bases protect their versions: a tagged
    // snapshot ("golden") or a live branch's fork point survives any sweep
    // until the tag/branch is deleted
    val clamped = (readerPins(spark, dir).values.toSeq ++
      st.tags.values ++ st.branches.values :+ keepFrom).min
    val keepEff = if (clamped >= keepFrom) keepFrom
      else all.find(_ >= clamped).getOrElse(keepFrom)
    val (drop, keep) = all.partition(_ < keepEff)
    val keepFiles = keep.flatMap(st.manifest(_).entries).toSet
    val orphans = drop.flatMap(st.manifest(_).entries).distinct
      .filterNot(keepFiles)
      .filterNot(isExternal) // a clone never deletes its source's files
    orphans.foreach { f =>
      fs.delete(new org.apache.hadoop.fs.Path(dataPath(dir, f)), false)
    }
    // a DV dir is SHARED by every append that carried it forward — only
    // sweep one no surviving manifest references
    val liveDv = keep.flatMap(st.manifest(_).dv).toSet
    drop.foreach { v =>
      // resolve sidecar/change-dir names BEFORE deleting the list that
      // references them
      val m = st.manifest(v)
      fs.delete(new org.apache.hadoop.fs.Path(st.md, s"v$v.list"), false)
      m.sidecars.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(st.md, n), false))
      (m.cdc.toSeq ++ m.dv.filterNot(liveDv)).foreach(rel =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), true))
    }
    orphans.length
  }

  /** OPTIMIZE (small-file compaction) as a replace commit: re-pack the
    * current snapshot into ceil(tableBytes / targetBytes) files. Streaming
    * sinks and incremental appends accrete one file set per micro-batch —
    * this is the maintenance pass that folds them back into scan-efficient
    * files, while every prior version keeps reading its own layout. Stats
    * and blooms regenerate with the rewrite (commit-path property).
    */
  def compact(spark: SparkSession, dir: String, targetBytes: Long): Int = {
    val st = new TableState(spark, dir)
    val total = st.files
      .map(f => st.fs.getFileStatus(new org.apache.hadoop.fs.Path(dataPath(dir, f))).getLen)
      .sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    // a row-preserving replace of every file: an append landing between
    // the read and this commit takes the version slot first and surfaces
    // as a conflict, never silently vanishing from the new head. read()
    // masks deletion vectors, so compaction MATERIALIZES pending
    // merge-on-read deletes (the rewritten files carry no DV).
    def land(df: DataFrame, msg: String) = landCow(st, st.files, None,
      Seq(df), Map("compaction" -> s"$total bytes$msg"), noRowChange = true)
    // Partitioned tables skip the global repartition(n): the routed commit
    // write re-shuffles by partition tuple anyway, so the sizing shuffle
    // was pure waste AND the tuple shuffle silently overrode targetBytes
    // (one file per tuple regardless of the knob). Instead the rebalance
    // in writeData bin-packs WITHIN partitions, with targetBytes mapped
    // onto AQE's advisory partition size for the duration of the write.
    if (st.partitionSpecs.nonEmpty)
      withAdvisorySize(spark, targetBytes) {
        land(readAt(st, Some(st.version)), ", partition-binned")
      }
    else land(readAt(st, Some(st.version)).repartition(n), s" -> $n files")
  }

  /** Pin AQE's advisory partition size (the rebalance bin-packing target)
    * for the duration of `body`, restoring the caller's value after —
    * reference-counted per session like [[withStatFriendlyWrites]] so
    * overlapping snapshot writers can't leave the conf tainted. Used by
    * the partition-aware compactions to map their `targetBytes` knob onto
    * the routed write's rebalance sizing.
    *
    * Two documented limits (session-scoped conf, not per-query): (1) the
    * pin is ref-counted but NOT value-aware — an overlapping compaction
    * that asks for a different size runs under the first caller's pin (a
    * warning is logged below); (2) while pinned, the advisory size also
    * steers AQE coalescing for any UNRELATED query running concurrently on
    * the same session. Both are inherent to a session-global knob; callers
    * that need isolation should compact on their own session.
    *
    * Sizing note: the advisory size bins by UNCOMPRESSED shuffle bytes, so
    * a partitioned compaction's `targetBytes` yields on-disk files smaller
    * than the knob by roughly the parquet compression ratio (the
    * unpartitioned path's `repartition(n)` bins by on-disk bytes instead).
    * `targetBytes` is therefore "in-memory bytes" on partitioned tables.
    */
  private class AdvisoryState {
    var depth = 0; var prev: Option[String] = None; var pinned = 0L
  }
  private val advisoryStates =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, AdvisoryState]()
  private def withAdvisorySize[T](spark: SparkSession, bytes: Long)(body: => T): T = {
    val k = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val st = advisoryStates.computeIfAbsent(spark, _ => new AdvisoryState)
    st.synchronized {
      if (st.depth == 0) {
        st.prev = spark.conf.getOption(k)
        spark.conf.set(k, bytes.toString)
        st.pinned = bytes
      } else if (st.pinned != bytes)
        System.err.println(s"[snapshots] withAdvisorySize: nested caller asked " +
          s"for $bytes bytes but the session is pinned at ${st.pinned} — " +
          "running under the outer pin")
      st.depth += 1
    }
    try body finally st.synchronized {
      st.depth -= 1
      if (st.depth == 0) st.prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** Predicate-SCOPED compaction: bin-pack only the files whose stats
    * intersect `column BETWEEN lower AND upper`, carrying every other file
    * byte-identical — OPTIMIZE WHERE, the form a 100 TB table actually
    * runs (fold yesterday's micro-batch files without touching the other
    * 36 months). Small files outside the range cost nothing; pending
    * merge-on-read deletes on the rewritten files materialize, masks on
    * carried files survive in a filtered DV. Data-preserving: CDF tails
    * skip it. No-op (current version, nothing published) when at most one
    * file intersects the range.
    */
  def compactRange(spark: SparkSession, dir: String, column: String,
      lower: Option[Any], upper: Option[Any], targetBytes: Long): Int = {
    val st = new TableState(spark, dir)
    val (hot, _) = pruneAt(st, st.version, Seq((column, lower, upper)))
    if (hot.length <= 1) return st.version // nothing to fold
    val total = hot
      .map(f => st.fs.getFileStatus(new org.apache.hadoop.fs.Path(dataPath(dir, f))).getLen)
      .sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    def land(df: DataFrame, msg: String) = landCow(st, hot, None, Seq(df),
      Map("compaction" -> s"$column-scoped: ${hot.length} files$msg"), noRowChange = true)
    // partitioned tables: same treatment as compact() — no pre-repartition
    // (the routed write's rebalance bins within partitions at targetBytes),
    // and n is not honored (the rebalance/advisory sizing decides the file
    // count), so the message records what actually happened
    if (st.partitionSpecs.nonEmpty)
      withAdvisorySize(spark, targetBytes)(land(st.rows(hot), ", partition-binned"))
    else land(st.rows(hot).repartition(n), s" -> $n")
  }

  /** [[expire]] by age: drop every version whose commit time is older than
    * `tsMillis`, except the current one (the table never loses its head).
    * Returns the number of data files deleted (0 when nothing qualifies).
    */
  def expireOlderThan(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val st = new TableState(spark, dir)
    val all = st.versions
    if (all.isEmpty) return 0
    val keepFrom = all.find(v => v == all.last || st.commitTime(v) >= tsMillis).get
    if (keepFrom == all.head) 0 else expireTo(st, keepFrom)
  }

  /** Default reader-pin heartbeat TTL: a pin whose file has not been
    * touched for this long is presumed abandoned (deleted checkpoint) and
    * stops blocking retention. Streaming sources re-touch their pin every
    * micro-batch, so a live-but-idle tail only needs one trigger per week
    * to stay protected. */
  val defaultPinTtlMillis: Long = 7L * 24 * 3600 * 1000

  private def readersDir(dir: String) = s"${manifestDir(dir)}/readers"

  /** Register (or advance) a reader's retention pin: `needsFrom` is the
    * LOWEST version whose manifest this reader may still have to resolve —
    * for a streaming tail that is its last committed offset, because a
    * post-restart replay re-plans `readChanges(lastCommitted, end)`.
    * [[expire]]/[[expireOlderThan]] never drop a pinned version, so a
    * compactor's retention sweep cannot strand a lagging stream. One
    * writer per `readerId` (a stream owns its checkpoint), so the
    * temp+rename write needs no CAS; the file's modification time is the
    * heartbeat [[readerPins]] ages out.
    */
  def pinReader(spark: SparkSession, dir: String, readerId: String,
      needsFrom: Int): Unit = {
    require(readerId.nonEmpty && !readerId.exists(c => c == '/' || c == '.'),
      s"readerId '$readerId' must be a plain name (no '/' or '.')")
    val (fs, _) = hfs(spark, dir)
    val rd = new org.apache.hadoop.fs.Path(readersDir(dir))
    fs.mkdirs(rd)
    val tmp = new org.apache.hadoop.fs.Path(rd, s".$readerId.pin.tmp")
    val out = fs.create(tmp, true)
    try out.write(needsFrom.toString.getBytes("UTF-8")) finally out.close()
    val fin = new org.apache.hadoop.fs.Path(rd, s"$readerId.pin")
    fs.delete(fin, false)
    require(fs.rename(tmp, fin), s"$dir: reader pin publish failed")
  }

  /** Drop a reader's retention pin (the stream is decommissioned). */
  def unpinReader(spark: SparkSession, dir: String, readerId: String): Unit = {
    val (fs, _) = hfs(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(readersDir(dir), s"$readerId.pin"),
      false)
  }

  /** Live reader pins: readerId → lowest version it still needs. Pins
    * whose heartbeat (file mtime) is older than `ttlMillis` are ignored
    * AND swept — an abandoned checkpoint must not block retention forever.
    */
  def readerPins(spark: SparkSession, dir: String,
      ttlMillis: Long = defaultPinTtlMillis): Map[String, Int] = {
    val (fs, _) = hfs(spark, dir)
    val rd = new org.apache.hadoop.fs.Path(readersDir(dir))
    if (!fs.exists(rd)) return Map.empty
    val cutoff = System.currentTimeMillis() - ttlMillis
    fs.listStatus(rd).toSeq.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".pin")).flatMap { st =>
      val id = st.getPath.getName.stripSuffix(".pin")
      if (st.getModificationTime < cutoff) { fs.delete(st.getPath, false); None }
      else {
        val in = fs.open(st.getPath)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        Some(id -> text.toInt)
      }
    }.toMap
  }

  /** VACUUM for crashed writers: a commit that wrote its `data/cN` files
    * but died before the manifest rename leaves orphan data no version
    * references — invisible to readers, billed forever. Deletes every data
    * file under `data/` that no surviving manifest lists AND whose
    * modification time is older than `graceMillis` (default 24 h — an
    * IN-FLIGHT commit's files must never be swept between its write and
    * its publish; Delta VACUUM has the same retention guard for the same
    * reason). Returns the number of files deleted. Driver-side listing +
    * set difference; deletes never touch a referenced file, so readers of
    * any version are unaffected.
    */
  def vacuumOrphans(spark: SparkSession, dir: String,
      graceMillis: Long = 24L * 3600 * 1000): Int = {
    val st = new TableState(spark, dir)
    val fs = st.fs
    val dataRoot = new org.apache.hadoop.fs.Path(s"$dir/data")
    if (!fs.exists(dataRoot)) return 0
    // staged-commit data is live-but-unpublished: referenced by a
    // `staged-*.list`, not by any version — protect it like version data
    // a concurrent publish/discard may remove a token between the listing
    // and the manifest read — skip ONLY that case; any other read failure
    // aborts the sweep (treating it as "unreferenced" would delete live
    // staged data)
    val referenced = (st.versions.flatMap(st.manifest(_).entries) ++
      st.stagedTokens.flatMap { t =>
        try st.staged(t).entries
        catch { case e: Exception =>
          if (fs.exists(stagedManifest(dir, t))) throw e
          Seq.empty
        }
      } ++
      // branch heads are live-but-unlanded, same posture as staged commits:
      // a branch deleted between the listing and the read is simply gone;
      // any other failure aborts the sweep rather than orphaning live data
      st.branches.keys.flatMap { b =>
        try branchHead(st, b)._2
        catch { case e: Exception =>
          if (branches(spark, dir).contains(b)) throw e
          Seq.empty[String]
        }
      }).toSet
    val cutoff = System.currentTimeMillis() - graceMillis
    val it = fs.listFiles(dataRoot, true)
    val orphans = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getModificationTime < cutoff) {
        val rel = relPath(dir, st.getPath.toUri.getPath)
        if (!referenced.contains(rel)) orphans += st.getPath
      }
    }
    // change-feed and deletion-vector debris: `_changes/` / `_dv/` dirs of
    // crashed or losing writers that no live manifest references
    for ((sub, liveOf) <- Seq[(String, Manifest => Option[String])](
        "_changes" -> (_.cdc), "_dv" -> (_.dv))) {
      val root = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (fs.exists(root)) {
        val live = st.versions
          .flatMap(v => liveOf(st.manifest(v))).map(_.stripPrefix(s"$sub/")).toSet
        fs.listStatus(root).foreach { st =>
          if (st.isDirectory && st.getModificationTime < cutoff &&
              !live.contains(st.getPath.getName)) {
            fs.delete(st.getPath, true)
            orphans += st.getPath
          }
        }
      }
    }
    // sidecar debris: a same-slot loser (or crashed writer) leaves behind a
    // v{N}-{token}.{stats,meta,schema} no manifest references
    val liveSidecars = st.versions.flatMap(st.manifest(_).sidecars).toSet
    st.listing.foreach { case (n, s) =>
      if (s.isFile && s.getModificationTime < cutoff &&
          (n.endsWith(".stats") || n.endsWith(".meta") ||
            n.endsWith(".schema")) &&
          !liveSidecars.contains(n)) orphans += s.getPath
      // crashed writers' per-writer-unique publish temps (`.{name}.{uuid}
      // .tmp`) are never self-overwritten — age them out here
      if (s.isFile && s.getModificationTime < cutoff &&
          n.startsWith(".") && n.endsWith(".tmp")) orphans += s.getPath
    }
    orphans.foreach(fs.delete(_, false))
    orphans.length
  }

  // ---------------------------------------------------------------- stats

  /** Per-file, per-column statistics carried in the manifest — the
    * data-skipping index (Delta/Iceberg's `stats` field). `minMax` is None
    * when the column is all-null in the file OR its footer statistics were
    * unusable (absent, NaN-tainted double, non-ASCII string — see
    * [[footerStats]]); pruning treats "no minMax but nulls < rows" as
    * UNKNOWN and keeps the file, so stats can only ever skip work, never
    * rows. Values are canonical strings under `tpe` ∈ long|double|string
    * (timestamps/dates surface as `long` micros/days — the parquet physical
    * order, which is also their logical order).
    */
  final case class ColStat(tpe: String, rows: Long, nulls: Long,
      minMax: Option[(String, String)])

  /** The stats index of one snapshot: file → column → [[ColStat]]. Missing
    * files/columns (tables committed before stats existed, exotic types)
    * simply prune nothing. Driver-side manifest read, no data IO.
    */
  def stats(spark: SparkSession, dir: String,
      version: Int): Map[String, Map[String, ColStat]] =
    new TableState(spark, dir).manifest(version).stats

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private def encodeStats(rows: Seq[(String, Map[String, ColStat])]): String = {
    val sb = new StringBuilder
    for ((file, cols) <- rows; (col, st) <- cols.toSeq.sortBy(_._1)) {
      val (has, mn, mx) = st.minMax match {
        case Some((a, b)) => ("1", enc(a), enc(b))
        case None => ("0", "", "")
      }
      sb.append(Seq(enc(file), enc(col), st.tpe, st.rows.toString,
        st.nulls.toString, has, mn, mx).mkString("\t")).append('\n')
    }
    sb.toString
  }

  private def decodeStats(text: String): Map[String, Map[String, ColStat]] =
    text.linesIterator.filter(_.nonEmpty).toSeq.map { line =>
      val f = line.split("\t", -1)
      require(f.length == 8, s"malformed stats line: $line")
      val mm = if (f(5) == "1") Some((dec(f(6)), dec(f(7)))) else None
      (dec(f(0)), dec(f(1)), ColStat(f(2), f(3).toLong, f(4).toLong, mm))
    }.groupBy(_._1).map { case (file, rs) =>
      file -> rs.map(r => r._2 -> r._3).toMap
    }

  /** Min/max/null-count per top-level primitive column of one parquet file,
    * from its FOOTER (row-group statistics merged across row groups).
    * Conservative by construction: a column whose statistics can't be
    * trusted for range pruning is recorded with `minMax = None` —
    * NaN-tainted float/double (parquet min/max is undefined around NaN),
    * non-ASCII string bounds (parquet orders UTF8 by unsigned bytes; only
    * the ASCII subset provably agrees with the engine's string order),
    * absent/empty statistics, and any physical type outside
    * int32/int64/float/double/UTF8-binary.
    */
  def footerStats(spark: SparkSession, path: String): Map[String, ColStat] =
    footerInfo(spark, path)._1

  /** One footer open per file: [[footerStats]] PLUS the writer-recorded
    * Spark schema (the `org.apache.spark.sql.parquet.row.metadata` key every
    * Spark parquet write stores — the same serialized schema Spark's own
    * mergeSchema inference prefers over converting the parquet types). The
    * publish path reads both from a single open instead of reading every
    * fresh footer for stats and then launching a mergeSchema Spark job to
    * re-read the same footers for the schema sidecar (guide §5 — no cluster
    * jobs for metadata the driver already holds). `None` schema = a file
    * without the key (non-Spark writer); callers fall back to the footer
    * sweep.
    */
  private def footerInfo(spark: SparkSession,
      path: String): (Map[String, ColStat], Option[org.apache.spark.sql.types.StructType]) = {
    val inFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
    try {
      val schema = Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap { json =>
          try Some(org.apache.spark.sql.types.DataType.fromJson(json)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          catch { case _: Exception => None }
        }
      (statsFromFooter(reader.getFooter), schema)
    } finally reader.close()
  }

  private def statsFromFooter(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Map[String, ColStat] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    {
      // a ZERO-ROW file (the schema-pinning empty first commit) has no row
      // groups, hence no chunk stats — synthesize rows=0 entries from the
      // schema so every range check prunes it instead of scanning it forever
      if (footer.getBlocks.isEmpty) {
        return footer.getFileMetaData.getSchema.getFields.asScala
          .collect {
            case f if f.isPrimitive =>
              val t = f.asPrimitiveType().getPrimitiveTypeName match {
                case INT32 | INT64 => Some("long")
                case FLOAT | DOUBLE => Some("double")
                case BINARY => Some("string")
                case _ => None
              }
              t.map(f.getName -> ColStat(_, 0L, 0L, None))
          }.flatten.toMap
      }
      val chunks = footer.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala)
        .filter(_.getPath.size == 1) // top-level primitives only
        .groupBy(_.getPath.toDotString)
      chunks.flatMap { case (name, cs) =>
        val pt = cs.head.getPrimitiveType
        val isStr = pt.getLogicalTypeAnnotation != null &&
          pt.getLogicalTypeAnnotation.isInstanceOf[
            org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
        val tpe = pt.getPrimitiveTypeName match {
          case INT32 | INT64 => Some("long")
          case FLOAT | DOUBLE => Some("double")
          case BINARY if isStr => Some("string")
          case _ => None
        }
        tpe.map { t =>
          val rows = footer.getBlocks.asScala.map(_.getRowCount).sum
          val sts = cs.map(_.getStatistics)
          val nulls =
            if (sts.exists(s => s == null || !s.isNumNullsSet)) -1L
            else sts.map(_.getNumNulls).sum
          val usable = sts.forall(s => s != null && !s.isEmpty) &&
            sts.exists(_.hasNonNullValue)
          val mm: Option[(String, String)] = if (!usable) None else try {
            val vals = sts.filter(_.hasNonNullValue).map { s =>
              (s.genericGetMin, s.genericGetMax)
            }
            t match {
              case "long" =>
                val lo = vals.map(_._1.asInstanceOf[Number].longValue).min
                val hi = vals.map(_._2.asInstanceOf[Number].longValue).max
                Some((lo.toString, hi.toString))
              case "double" =>
                val lo = vals.map(_._1.asInstanceOf[Number].doubleValue).min
                val hi = vals.map(_._2.asInstanceOf[Number].doubleValue).max
                if (lo.isNaN || hi.isNaN) None else Some((lo.toString, hi.toString))
              case _ =>
                val ss = vals.map { case (a, b) =>
                  (a.asInstanceOf[org.apache.parquet.io.api.Binary],
                    b.asInstanceOf[org.apache.parquet.io.api.Binary])
                }
                val ascii = ss.forall { case (a, b) =>
                  a.getBytes.forall(_ >= 0) && b.getBytes.forall(_ >= 0)
                }
                if (!ascii) None
                else Some((ss.map(_._1.toStringUsingUTF8).min,
                  ss.map(_._2.toStringUsingUTF8).max))
            }
          } catch { case _: Exception => None }
          // a None minMax with nulls == rows means provably-all-null (still
          // prunable); an unusable stat must NOT masquerade as that
          val safeNulls = if (mm.isEmpty && nulls == rows &&
            sts.exists(_.hasNonNullValue)) -1L else nulls
          name -> ColStat(t, rows, safeNulls, mm)
        }
      }
    }
  }

  private def cmp(tpe: String, a: String, b: String): Int = tpe match {
    case "long" => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => a.compareTo(b)
  }

  private def canonical(tpe: String, v: Any): String = (tpe, v) match {
    case ("long", n: Number) => n.longValue.toString
    case ("double", n: Number) => n.doubleValue.toString
    case ("string", s: String) => s
    // temporal externals against their parquet physical order: TIMESTAMP →
    // INT64 epoch micros (TZ and NTZ both), DATE → INT32 epoch days
    case ("long", t: java.sql.Timestamp) =>
      (t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L).toString
    case ("long", t: java.time.Instant) =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000L).toString
    case ("long", t: java.time.LocalDateTime) =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    case ("long", d: java.sql.Date) => d.toLocalDate.toEpochDay.toString
    case ("long", d: java.time.LocalDate) => d.toEpochDay.toString
    case _ => throw new IllegalArgumentException(
      s"bound $v (${v.getClass.getSimpleName}) does not match stats type $tpe")
  }

  /** Manifest-level file skipping for `column BETWEEN lower AND upper`
    * (either bound optional): returns (kept, all) file lists. A file is
    * dropped only when its stats PROVE no row can match — interval disjoint
    * from [min, max], or the column provably all-null. Files without usable
    * stats are kept, so the result set is exact whatever the stats coverage.
    * Driver-side metadata only; at 100 TB this is the difference between
    * planning 40 files and 40,000.
    */
  def pruneFiles(spark: SparkSession, dir: String, version: Int, column: String,
      lower: Option[Any], upper: Option[Any]): (Seq[String], Seq[String]) =
    pruneFilesAll(spark, dir, version, Seq((column, lower, upper)))

  /** Conjunctive multi-column skipping: a file survives only if EVERY
    * range's stats check keeps it — the shape a [[cluster]]ed table is
    * laid out for, where every dimension's per-file [min, max] is tight.
    */
  def pruneFilesAll(spark: SparkSession, dir: String, version: Int,
      ranges: Seq[(String, Option[Any], Option[Any])]): (Seq[String], Seq[String]) =
    pruneAt(new TableState(spark, dir), version, ranges)

  private def pruneAt(st: TableState, version: Int,
      ranges: Seq[(String, Option[Any], Option[Any])]): (Seq[String], Seq[String]) = {
    val all = st.manifest(version).entries
    val idx = st.manifest(version).stats
    // callers pass LOGICAL names; stats are keyed by the physical ones
    val physRanges = ranges.map { case (c, lo, hi) => (st.toPhysical(c), lo, hi) }
    val kept = all.filter { f =>
      physRanges.forall { case (column, lower, upper) =>
        idx.get(f).flatMap(_.get(column)) match {
          case None => true
          case Some(s) => s.minMax match {
            case None => !(s.nulls == s.rows && s.nulls >= 0) // all-null → prune
            case Some((mn, mx)) => try {
              val loOk = lower.forall(b => cmp(s.tpe, canonical(s.tpe, b), mx) <= 0)
              val hiOk = upper.forall(b => cmp(s.tpe, canonical(s.tpe, b), mn) >= 0)
              loOk && hiOk
            } catch {
              // a bound the stats type can't order (exotic external type) is
              // UNKNOWN — keep the file, the residual filter decides
              case _: IllegalArgumentException => true
            }
          }
        }
      }
    }
    // partition-transform skipping on the manifest entry's own `__part=`
    // value. identity/days need nothing here — the routed write makes the
    // source column's stats envelope value-tight, so the range check above
    // already prunes them exactly. A bucket number, though, is invisible
    // to min/max stats: an equality probe on the bucket source column
    // hashes the probe value and drops every file routed to a different
    // bucket — zero footer reads, the Iceberg bucket-pruning move.
    val bucketSpecs = st.partitionSpecs.zipWithIndex.collect {
      case (b: BucketPart, i) => (b, i)
    }
    lazy val schema = st.schemaAt(version)
    val keptP = bucketSpecs.foldLeft(kept) { case (ks, (BucketPart(n, c), i)) =>
      val dt = schema.fields.find(_.name == c).map(_.dataType)
      val eqBuckets = ranges.collect {
        case (`c`, Some(lo), Some(hi)) if lo == hi && dt.nonEmpty =>
          bucketOf(lo, dt.get, n).map(_.toString)
      }
      if (eqBuckets.isEmpty) ks
      else ks.filter { f =>
        partValueRawAt(f, i).filter(_ != HiveDefaultPart) match {
          // conjunctive: the file's bucket must satisfy EVERY equality
          // probe; an uncomputable probe (None) keeps the file
          case Some(p) => eqBuckets.forall(_.forall(_ == p))
          case None => true // pre-spec or null-partition file
        }
      }
    }
    (keptP, all)
  }

  /** Bloom-filter file skipping for `column IN (values)`: keeps only the
    * `candidates` whose parquet bloom filters might contain at least one of
    * the values. A file (or row group) WITHOUT a bloom for the column is
    * kept — missing index can only cost IO, never rows. Driver-side
    * metadata IO: one footer + bloom-page read per candidate, so run it
    * AFTER min/max pruning has narrowed the list. Complements [[pruneFiles]]
    * where the layout isn't clustered by `column` (useless envelopes):
    * blooms answer per-file "definitely absent" for equality probes.
    */
  def pruneFilesEq(spark: SparkSession, dir: String, column0: String,
      probeValues: Seq[Any], candidates: Seq[String]): Seq[String] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import scala.jdk.CollectionConverters._
    if (probeValues.isEmpty) return candidates
    val column = toPhysical(spark, dir, column0) // footers are physical
    val conf = spark.sessionState.newHadoopConf()
    candidates.filter { f =>
      val inFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataPath(dir, f)), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
      try {
        reader.getFooter.getBlocks.asScala.exists { block =>
          block.getColumns.asScala.find(_.getPath.toDotString == column) match {
            case None => true // column absent (pre-evolution file) → keep
            case Some(ccmd) =>
              val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(ccmd)
              if (bloom == null) true // no bloom written → keep
              else probeValues.exists { v =>
                try {
                  val h: Option[Long] =
                    (ccmd.getPrimitiveType.getPrimitiveTypeName, v) match {
                      case (INT64, n: Number) => Some(bloom.hash(n.longValue))
                      case (INT32, n: Number) => Some(bloom.hash(n.intValue))
                      case (DOUBLE, n: Number) => Some(bloom.hash(n.doubleValue))
                      case (FLOAT, n: Number) => Some(bloom.hash(n.floatValue))
                      case (BINARY, s: String) => Some(
                        bloom.hash(org.apache.parquet.io.api.Binary.fromString(s)))
                      case (INT64, t: java.sql.Timestamp) => Some(
                        bloom.hash(t.toInstant.getEpochSecond * 1000000L +
                          t.toInstant.getNano / 1000L))
                      case _ => None // unhashable pairing: keep the file
                    }
                  h.forall(bloom.findHash)
                } catch { case _: Exception => true }
              }
          }
        }
      } finally reader.close()
    }
  }

  /** Read one snapshot restricted to `column BETWEEN lower AND upper`,
    * planning ONLY the files the stats index can't rule out, then applying
    * the exact residual filter (stats prune files, never rows). Null never
    * satisfies BETWEEN, so all-null files are skippable and the residual
    * filter's null semantics match plain SQL.
    */
  def readRange(spark: SparkSession, dir: String, column: String,
      lower: Option[Any], upper: Option[Any],
      version: Option[Int] = None): DataFrame =
    readRanges(spark, dir, Seq((column, lower, upper)), version)

  /** [[readRange]] for a CONJUNCTION of per-column ranges — on a
    * [[cluster]]ed layout either dimension alone skips files, and the
    * conjunction skips near-multiplicatively.
    */
  def readRanges(spark: SparkSession, dir: String,
      ranges: Seq[(String, Option[Any], Option[Any])],
      version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val st = new TableState(spark, dir)
    val v = version.getOrElse(st.version)
    val (kept, _) = pruneAt(st, v, ranges)
    val base = if (kept.nonEmpty) maskedScan(st, v, kept.map(f => dataPath(dir, f)))
      else readAt(st, Some(v)).filter(lit(false))
    val pred = ranges.flatMap { case (column, lower, upper) =>
      lower.map(col(column) >= lit(_)) ++ upper.map(col(column) <= lit(_))
    }.reduceOption(_ && _)
    pred.fold(base)(base.filter)
  }

  /** The space-filling curve a [[cluster]] pass orders rows by. Both curves
    * read the same per-column bucket ranks; only how the ranks combine
    * into one sort key differs.
    */
  sealed abstract class Curve(val name: String)
  object Curve {
    /** Morton order: the ranks' bits interleave. */
    case object ZOrder extends Curve("zorder")
    /** Hilbert order ([[graft.functions.HilbertN]], Skilling's transform):
      * consecutive curve positions are Manhattan-adjacent cells, so sorted
      * runs never take Morton's diagonal jumps and per-file envelopes
      * average tighter for box queries (Iceberg's `hilbert` transform).
      */
    case object Hilbert extends Curve("hilbert")
  }

  /** Bits of one column's bucket rank: 64 sampled buckets per column. */
  private val RankBits = 6

  /** OPTIMIZE ZORDER / HILBERT: re-cluster the table on a space-filling
    * curve over `cols` (two or more columns of any orderable type: long,
    * double, string, timestamp, date …), so every listed column's per-file
    * [min, max] comes out tight and [[readRanges]] skips files on ANY
    * single dimension or any conjunction. Each column is first
    * CANONICALIZED to a bucket rank (0 until 64) against boundaries sampled
    * from the rows being rewritten — the RangePartitioner recipe, so
    * strings and timestamps rank exactly like ints — and the ranks combine
    * into one key per `curve` that the rewrite range-partitions into
    * `targetFiles` files and sorts by. The key itself is dropped: derivable,
    * and the dimension columns' stats do the pruning.
    *
    * `incremental = false` rewrites every file; `incremental = true`
    * rewrites only the files that joined after the last pass
    * (`zorder.clustered_through` in the table props) and carries every
    * already-clustered file byte-identical — a maintenance pass then costs
    * O(new data), and the table ends up clustered in chunks whose per-file
    * stats each stay tight. No-op (returns the current version, publishes
    * nothing) when nothing is left to rewrite.
    *
    * Either way: the rewritten files are read through their deletion
    * vectors (pending merge-on-read deletes materialize), masks on carried
    * files survive in a filtered DV, and the publish is row-preserving (CDF
    * tails emit zero rows for it). A commit landing mid-pass takes the
    * version slot first and this pass fails with
    * [[java.util.ConcurrentModificationException]] rather than drop it.
    */
  def cluster(spark: SparkSession, dir: String, cols: Seq[String],
      targetFiles: Int, curve: Curve = Curve.ZOrder,
      incremental: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{col, lit, shiftleft, shiftright}
    require(cols.size >= 2, s"$dir: clustering wants >= 2 columns")
    // one key must hold every column's rank bits: past 63 a Morton shift
    // wraps (keys collide and carry) and a Hilbert index overflows
    require(cols.size * RankBits <= 63,
      s"$dir: a ${curve.name} key over ${cols.size} columns x $RankBits bits " +
        s"exceeds a signed long — cluster on at most ${63 / RankBits} columns")
    val st = new TableState(spark, dir)
    val cur = st.version
    val curFiles = st.files
    val clustered: Set[String] =
      st.props.get("zorder.clustered_through") match {
        case Some(v) if incremental && st.versions.contains(v.toInt) =>
          // files clustered then AND still alive now (a delete/merge may
          // have rewritten some — those rewritten ones count as tail)
          st.manifest(v.toInt).entries.toSet.intersect(curFiles.toSet)
        case _ => Set.empty
      }
    val tail = curFiles.filterNot(clustered)
    if (tail.isEmpty) return cur
    val next = cur + 1
    val tailDf = st.rows(tail)
    val ranks = bucketRanks(tailDf, cols)
    val key = curve match {
      case Curve.ZOrder => // bit i of rank j lands at key bit i·N + j
        (for (i <- 0 until RankBits; j <- cols.indices)
          yield shiftleft(shiftright(ranks(j), i).bitwiseAND(lit(1L)),
            i * cols.size + j))
          .reduce(_ + _) // disjoint bit positions: + is |
      case Curve.Hilbert =>
        graft.functions.HilbertNFunctions.hilbertN(RankBits, ranks: _*)
    }
    val fresh = writeData(st, next,
      tailDf.withColumn("__z", key)
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z"))
    val dvCarry = carryDvFor(st, cur, next, clustered.toSeq)
    publish(st, next, clustered.toSeq.sorted, fresh,
      meta = Map(curve.name -> cols.mkString(",")),
      dv = dvCarry, noRowChange = true)
    setProperties(spark, dir, Map("zorder.clustered_through" -> next.toString,
      "zorder.cols" -> cols.mkString(",")))
    next
  }

  /** Per-column bucket ranks (0 until 2^RankBits, NULL lowest): rank =
    * #(sampled boundaries ≤ value), one `aggregate` fold over a literal
    * boundary array per column — plain codegen'd expressions, no UDF.
    * Boundaries come from a seeded bounded sample (one count + one sampled
    * collect, a sliver of the rewrite's cost): layout only ever decides
    * WHICH file a row lands in, never results, so sampling costs nothing in
    * correctness.
    */
  private def bucketRanks(df: DataFrame,
      cols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    val buckets = 1 << RankBits
    val n = df.count()
    val fraction = math.min(1.0, buckets * 40.0 / math.max(1L, n))
    val sampled = df.select(cols.map(col): _*)
      .sample(withReplacement = false, fraction, seed = 42L).collect()
    cols.zipWithIndex.map { case (c, j) =>
      val vals = sampled.flatMap(r => Option(r.get(j))).sortWith(anyLt)
      val bounds: Seq[Any] =
        if (vals.isEmpty) Seq.empty
        else (1 until buckets).map { b =>
          vals(math.min(vals.length - 1, b * vals.length / buckets))
        }.distinct
      if (bounds.isEmpty) lit(0L)
      else {
        val arr = array(bounds.map(lit(_)): _*)
        val rank = aggregate(arr, lit(0),
          (acc, b) => acc + when(col(c) >= b, 1).otherwise(0))
        when(col(c).isNull, lit(0L)).otherwise(rank.cast("long"))
      }
    }
  }

  /** Driver-side ordering for sampled boundary values — the same total
    * order Spark's `>=` applies per type. */
  private def anyLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Number, y: Number) => x.doubleValue < y.doubleValue
    case (x: Comparable[_], y) =>
      x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    case _ => throw new IllegalArgumentException(
      s"cannot order ${a.getClass.getSimpleName} for clustering boundaries")
  }

  /** The previous version's deletion vector restricted to the files a
    * partial rewrite CARRIES (rewritten files materialized their deletes
    * through the masked read). None when the prior version had no DV or no
    * carried file keeps a mask.
    */
  private def carryDvFor(st: TableState, prevVersion: Int,
      next: Int, carriedFiles: Seq[String]): Option[String] =
    st.manifest(prevVersion).dv.flatMap { rel =>
      val spark = st.spark
      import org.apache.spark.sql.functions.broadcast
      val names = carriedFiles.map(f =>
        new org.apache.hadoop.fs.Path(f).getName).distinct
      if (names.isEmpty) None
      else {
        // semi-join against a broadcast name table, not isin: a carried set
        // can be 100k files and a 100k-literal predicate won't plan
        import spark.implicits._
        val nameDf = names.toDF("file_name")
        withPersisted(spark.read.parquet(s"${st.dir}/$rel")
            .join(broadcast(nameDf), Seq("file_name"), "left_semi")) { kept =>
          if (kept.isEmpty) None else Some(writeDv(st, next, kept))
        }
      }
    }

  // -------------------------------------------------- row-level DML
  // Every row-level verb is a spec over one engine: the [[TableState]] it
  // plans against (its head version, files and deletion vector),
  // [[locate]] (one masked scan of the stats candidates returning
  // matching rows with their identity), and one of two landings —
  // [[landCow]] rewrites the touched files, [[landMor]] masks positions
  // through the deletion vector. Each verb fixes its write layout
  // (rebalanced or not), its no-op rule and its Spark jobs at its own call
  // site: the layout is part of the float-summing oracles' contract, and
  // the streaming CDC apply relies on a missed delete publishing nothing.

  /** `body` over `df` persisted (memory and disk), unpersisted after: one
    * materialization serves every consumer inside. */
  private def withPersisted[T](df: DataFrame)(body: DataFrame => T): T = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(p) finally { p.unpersist(); () }
  }

  /** Rows with `column BETWEEN lower AND upper` (either bound optional);
    * NULL never matches, per SQL DELETE. */
  private def inRange(column: String, lower: Option[Any],
      upper: Option[Any]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    (Seq(col(column).isNotNull) ++
      lower.map(col(column) >= lit(_)) ++ upper.map(col(column) <= lit(_)))
      .reduce(_ && _)
  }

  /** One masked scan of the `candidates` files: the live rows `select`
    * keeps, each carrying its identity (`__path`, `__fname`, `__pos`). A
    * row a prior merge-on-read delete masked can neither match nor pin.
    */
  private def locate(st: TableState, candidates: Seq[String])(
      select: DataFrame => DataFrame): DataFrame =
    select(openWithPos(st, st.version, candidates.map(dataPath(st.dir, _)), st.dv))

  /** The copy-on-write touched set: the files holding a row [[locate]]
    * finds (a metadata-sized collect), in manifest-entry form, sorted.
    * No scan when nothing is a candidate.
    */
  private def touchedBy(st: TableState, candidates: Seq[String])(
      select: DataFrame => DataFrame): Seq[String] =
    if (candidates.isEmpty) Seq.empty
    else locate(st, candidates)(select)
      .select("__path").distinct().collect()
      .map(r => relPathIn(st.dir, st.files.toSet, r.getString(0))).toSeq.sorted

  /** Copy-on-write landing of the version after `st`'s head: `feed` becomes its
    * recorded change feed, each frame of `data` lands as fresh files, and
    * every file but `rewritten` carries with its mask (the rewritten files
    * materialized theirs through the masked read).
    */
  private def landCow(st: TableState, rewritten: Seq[String],
      feed: Option[DataFrame], data: Seq[DataFrame], meta: Map[String, String],
      noRowChange: Boolean = false): Int = {
    val next = st.version + 1
    val cdc = feed.map(writeCdc(st, next, _))
    val fresh = data.flatMap(writeData(st, next, _))
    val carried = st.files.filterNot(rewritten.toSet)
    publish(st, next, carried, fresh, meta, cdc,
      carryDvFor(st, st.version, next, carried), noRowChange)
    next
  }

  /** Merge-on-read landing of the version after `st`'s head: every data file
    * carries, the new mask is the prior one ∪ the positions of `masked` (a
    * [[locate]] result; None keeps the prior mask by reference), and
    * `appended` lands as fresh files. No data file is rewritten.
    */
  private def landMor(st: TableState, masked: Option[DataFrame],
      feed: Option[DataFrame], appended: Option[DataFrame],
      meta: Map[String, String], noRowChange: Boolean = false): Int = {
    import org.apache.spark.sql.functions.col
    val next = st.version + 1
    val cdc = feed.map(writeCdc(st, next, _))
    val dv = masked.fold(st.dv) { m =>
      val rows = m.select(col("__fname").as("file_name"), col("__pos").as("pos"))
      Some(writeDv(st, next, st.dv.fold(rows)(rel =>
        st.spark.read.parquet(s"${st.dir}/$rel").unionByName(rows))))
    }
    val fresh = appended.toSeq.flatMap(writeData(st, next, _))
    publish(st, next, st.files, fresh, meta, cdc, dv, noRowChange)
    next
  }

  /** Merge-on-read DELETE of the rows [[locate]] finds with `select` in the
    * `candidates` files; the head version, publishing nothing, when it
    * finds none. The change feed records exactly the deleted rows in the
    * table schema — columns a pre-evolution file lacks surface as typed
    * NULLs.
    */
  private def maskDelete(st: TableState, candidates: Seq[String],
      meta: Map[String, String])(select: DataFrame => DataFrame): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    if (candidates.isEmpty) st.version
    else withPersisted(locate(st, candidates)(select)) { m =>
      if (m.isEmpty) st.version
      else {
        val avail = m.columns.toSet
        val feed = m.select(st.schema.map(f =>
            if (avail(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)
          .withColumn("_change_type", lit("delete"))
        landMor(st, Some(m), Some(feed), None, meta)
      }
    }
  }

  /** The keyed upserts: `updates` (key-unique, non-null keys — checked, a
    * double match would silently duplicate) replace same-`key` rows and
    * insert the rest, landing copy-on-write or merge-on-read. One
    * materialization of `updates` feeds the CHECK probe, the change feed
    * and the write. Candidates come from the update-key envelope.
    */
  private def mergeByKey(spark: SparkSession, dir: String, updates: DataFrame,
      key: String, meta: Map[String, String], evolve: Boolean,
      mor: Boolean): Int = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, min, max}
    val st = new TableState(spark, dir)
    enforceSchema(st, updates, evolve)
    withPersisted(updates) { up =>
      enforceConstraints(st, up)
      val Array(h) = up.agg(count(lit(1)), count(col(key)),
        countDistinct(col(key)), min(col(key)), max(col(key))).collect()
      val (total, nonNull, distinct) = (h.getLong(0), h.getLong(1), h.getLong(2))
      if (total == 0) st.version
      else {
        require(nonNull == total, s"$dir: merge key $key has null(s) in updates")
        require(distinct == total, s"$dir: merge updates carry duplicate $key values")
        val (candidates, _) =
          pruneAt(st, st.version, Seq((key, Option(h.get(3)), Option(h.get(4)))))
        val keys = up.select(col(key))
        // change feed: the replaced rows `pre` (update_pre), their
        // replacements (update_post), and updates matching nothing (insert),
        // in the TABLE column order — the using-key joins moved `key` to the
        // front, `updates` may arrive in any order, and feed readers bind
        // positionally; evolved columns append after the table's
        def feed(pre: Option[DataFrame]): DataFrame = {
          val matchedKeys = pre.map(_.select(col(key)).distinct())
          val post = matchedKeys.map(mk => up.join(mk, Seq(key), "left_semi")
            .withColumn("_change_type", lit("update_post")))
          val ins = matchedKeys.map(mk => up.join(mk, Seq(key), "left_anti"))
            .getOrElse(up).withColumn("_change_type", lit("insert"))
          val tableCols = st.schema.fieldNames.toSeq
          (pre.map(_.withColumn("_change_type", lit("update_pre"))).toSeq ++
            post.toSeq :+ ins).reduce(_.unionByName(_, allowMissingColumns = true))
            .select((tableCols ++ up.columns.filterNot(tableCols.contains) :+
              "_change_type").map(col): _*)
        }
        // DML rewrites size their fresh files adaptively (guide §6): without
        // the hint every shuffle partition of the written frame became its
        // own tiny file (32 files per commit at the bench config; the
        // post-merge table then paid ~1 scan task per file on every read).
        // REBALANCE lets AQE bin-pack to the advisory size — scale-adaptive,
        // a no-op without AQE.
        if (mor) {
          // the pre-image: LIVE candidate rows matching an update key, with
          // their (file, pos) identity — these positions join the DV
          val matched =
            if (candidates.isEmpty) None
            else Some(locate(st, candidates)(_.join(keys, Seq(key), "left_semi"))
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          try {
            val pre = matched.filter(!_.isEmpty)
            landMor(st, pre, Some(feed(pre)), Some(up.hint("rebalance")), meta)
          } finally { matched.foreach(_.unpersist()); () }
        } else {
          // a DV-deleted ghost row must neither pin a file nor feed the
          // pre-image: the pin scan and the rewrite both read masked
          val touched = touchedBy(st, candidates)(
            _.select(col(key), col("__path")).join(keys, Seq(key)))
          val rows = if (touched.isEmpty) None else Some(st.rows(touched))
          val survivors = rows.fold(up)(_.join(keys, Seq(key), "left_anti")
            .unionByName(up, allowMissingColumns = true))
          landCow(st, touched,
            Some(feed(rows.map(_.join(keys, Seq(key), "left_semi")))),
            Seq(survivors.hint("rebalance")), meta)
        }
      }
    }
  }

  /** MERGE INTO (upsert), copy-on-write: rows of `updates` replace
    * same-`key` table rows, the rest insert — Delta's
    * whenMatched-update/whenNotMatched-insert in one call. Touched files
    * are found the way Delta finds them: the stats index narrows to
    * candidate files by the update-key envelope, then ONE key-join scan of
    * only those candidates pins the files that really hold a matched key
    * — every other file carries into the new manifest byte-identical, so
    * merge cost tracks the data actually hit, not table size. Updates must
    * be key-unique and non-null-keyed (checked; a double-matching update
    * would otherwise silently duplicate), and must carry exactly the table
    * schema. Returns the new version. History is rewritten for touched
    * files, so [[readChanges]] across a merge refuses like any replace.
    */
  def mergeInto(spark: SparkSession, dir: String, updates: DataFrame,
      key: String, meta: Map[String, String] = Map.empty,
      evolve: Boolean = false): Int =
    mergeByKey(spark, dir, updates, key, meta, evolve, mor = false)

  /** MERGE INTO, merge-on-read: matched table rows are masked out through
    * the version's DELETION VECTOR and every update row lands in fresh
    * files — NO data file is rewritten (the [[mergeInto]] twin rewrites
    * each touched file whole). This is the public Delta/Iceberg answer to
    * continuous CDC-apply at 100 TB: upsert cost is O(updates) writes +
    * one candidate-file scan, independent of how many gigabytes the
    * touched files hold. Reads mask the DV (every read path funnels
    * through [[maskedParquet]]); [[compact]] materializes it. The change
    * feed carries the same update_pre/update_post/insert rows as the
    * copy-on-write twin. `evolve = true` permits brand-new update columns
    * (old rows surface NULLs).
    */
  def mergeIntoMor(spark: SparkSession, dir: String, updates: DataFrame,
      key: String, meta: Map[String, String] = Map.empty,
      evolve: Boolean = false): Int =
    mergeByKey(spark, dir, updates, key, meta, evolve, mor = true)

  /** Row-level DELETE of `column BETWEEN lower AND upper`, merge-on-read:
    * matching rows are masked via the DELETION VECTOR instead of rewriting
    * their files — a 1-row delete touches ZERO data files (the
    * [[deleteRange]] twin rewrites every stat-affected file whole). The
    * new version carries every prior data file byte-identical plus a DV
    * sidecar = prior mask ∪ the matched positions, committed atomically
    * with the manifest. Stats stay valid (they bound a superset), the
    * change feed records exactly the deleted rows, and [[compact]]
    * materializes the mask. NULL predicate rows survive, per SQL DELETE.
    */
  def deleteRangeMor(spark: SparkSession, dir: String, column: String,
      lower: Option[Any], upper: Option[Any],
      meta: Map[String, String] = Map.empty): Int = {
    val st = new TableState(spark, dir)
    maskDelete(st,
      pruneAt(st, st.version, Seq((column, lower, upper)))._1, meta)(
      _.filter(inRange(column, lower, upper)))
  }

  /** Publish a METADATA-ONLY commit: a new version carrying the current
    * version's files, deletion vector and stats by reference, changed only
    * by `meta`. Data-preserving (`#norowchange=1`), so change-feed tails
    * emit zero rows for it. This is how a writer stamps a durable marker
    * (e.g. the CDC batch watermark) when the batch's data half published
    * nothing — a delete whose keys all missed, an empty micro-batch —
    * without fabricating a content change. O(1) driver-side metadata.
    */
  def commitMarker(spark: SparkSession, dir: String,
      meta: Map[String, String]): Int = {
    require(meta.nonEmpty, s"$dir: a marker commit needs metadata to carry")
    landMor(new TableState(spark, dir), None, None, None, meta, noRowChange = true)
  }

  /** COUNT(*) answered from METADATA — the stats sidecar's per-file row
    * counts minus the deletion-vector mask — without planning a single
    * data-file scan (Delta/Iceberg answer `SELECT count(*)` the same way;
    * at 100 TB this is the difference between milliseconds and a full
    * table pass). Falls back to one masked scan-count only if some file
    * predates stats (never true for tables this format wrote).
    */
  def countRows(spark: SparkSession, dir: String,
      version: Option[Int] = None): Long = {
    val st = new TableState(spark, dir)
    val v = version.getOrElse(st.version)
    val m = st.manifest(v)
    val perFile = m.entries.map(f => m.stats.get(f).flatMap(_.values.headOption).map(_.rows))
    if (perFile.exists(_.isEmpty)) return readAt(st, Some(v)).count()
    val masked = m.dv
      .map(rel => spark.read.parquet(s"$dir/$rel").count()).getOrElse(0L)
    perFile.flatten.sum - masked
  }

  // -------------------------------------------------- named refs: TAGS
  // Iceberg's tag idea: a named, immutable pointer to a snapshot version,
  // stored in the table props. Tags PROTECT their version from [[expire]]
  // (the retention clamp treats them like reader pins), so "golden" /
  // "audited-2026Q3" survives aggressive sweeps until the tag is deleted.

  /** Create or move a named tag to `version`. */
  def setTag(spark: SparkSession, dir: String, name: String,
      version: Int): Unit = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"$dir: invalid tag name '$name'")
    require(new TableState(spark, dir).versions.contains(version),
      s"$dir: cannot tag v$version — it does not exist")
    setProperties(spark, dir, Map(s"ref.tag.$name" -> version.toString))
  }

  /** All tags: name → version. */
  def tags(spark: SparkSession, dir: String): Map[String, Int] =
    new TableState(spark, dir).tags

  /** Tags as a relation (the `snapshot_tags` TVF's body). */
  def tagsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    tags(spark, dir).toSeq.sortBy(_._1).toDF("tag", "version")
  }

  /** Read the snapshot a tag points at. */
  def readTag(spark: SparkSession, dir: String, name: String): DataFrame = {
    val st = new TableState(spark, dir)
    readAt(st, Some(st.tags.getOrElse(name,
      throw new IllegalArgumentException(s"$dir: no tag '$name'"))))
  }

  def deleteTag(spark: SparkSession, dir: String, name: String): Unit =
    removeProperties(spark, dir, Seq(s"ref.tag.$name"))

  // -------------------------------------------------- named refs: BRANCHES
  // Iceberg's branch idea, the multi-commit half of write-audit-publish:
  // a named ref forked from a MAIN version that accumulates its own append
  // commits (stage, audit, re-stage a fix, audit again…), invisible to
  // every main reader, then FAST-FORWARDS into main as ONE atomic commit.
  // Branch state: a `branch.<name> = <base>` table prop (which also clamps
  // retention — the base version must outlive the branch) plus per-commit
  // manifests `branch-<name>-v<K>.list` in the manifest dir. Branch
  // commits are append-only (the WAP shape); deletes/merges happen after
  // the branch lands on main.

  private def branchKey(name: String) = s"branch.${enc(name)}"
  private def branchFile(name: String, k: Int) = s"branch-${enc(name)}-v$k.list"

  /** All live branches: name → the main version they forked from. */
  def branches(spark: SparkSession, dir: String): Map[String, Int] =
    new TableState(spark, dir).branches

  /** Fork a branch from `at` (default: the current main version). */
  def createBranch(spark: SparkSession, dir: String, name: String,
      at: Option[Int] = None): Int = {
    require(name.nonEmpty && !name.contains("/"),
      s"$dir: invalid branch name '$name'")
    val st = new TableState(spark, dir)
    require(!st.branches.contains(name),
      s"$dir: branch '$name' already exists")
    val base = at.getOrElse(st.version)
    require(st.versions.contains(base),
      s"$dir: cannot branch from v$base — it does not exist (expired?)")
    setProperties(spark, dir, Map(branchKey(name) -> base.toString))
    base
  }

  /** Committed branch versions (1-based; empty until the first commit). */
  def branchVersions(spark: SparkSession, dir: String, name: String): Seq[Int] =
    new TableState(spark, dir).branchVersions(name)

  /** The branch's base version and its head's table-relative file list
    * (base files + every branch commit's additions), with the head's
    * manifest when the branch has commits. */
  private def branchHead(st: TableState,
      name: String): (Int, Seq[String], Option[Manifest]) = {
    val base = st.branches.getOrElse(name,
      throw new IllegalArgumentException(s"${st.dir}: no branch '$name'"))
    st.branchVersions(name).lastOption.map(st.branchManifest(name, _)) match {
      case None => (base, st.manifest(base).entries, None)
      case Some(m) => (base, m.entries, Some(m))
    }
  }

  /** Append `df` to the branch — invisible to main readers until
    * [[fastForward]]. Schema-gated against the branch HEAD (so staged
    * evolution accumulates consistently); CHECK constraints gate like any
    * commit. Concurrent same-branch committers race on the next slot and
    * the loser fails with the usual ConcurrentModificationException.
    */
  def commitToBranch(spark: SparkSession, dir: String, name: String,
      df: DataFrame, evolve: Boolean = false,
      meta: Map[String, String] = Map.empty): Int = {
    val st = new TableState(spark, dir)
    val (base, headFiles, headManifest) = branchHead(st, name)
    // schema gate vs the BRANCH head (branch manifests record no schema)
    enforceSchema(st, df, evolve, Some(applyMapping(st,
      spark.read.option("mergeSchema", "true")
        .parquet(headFiles.map(f => dataPath(dir, f)): _*)).schema))
    enforceConstraints(st, df)
    val next = st.branchVersions(name).lastOption.getOrElse(0) + 1
    val fresh = writeData(st, base + next, df)
    val wasEvolve = headManifest.exists(_.evolve)
    writeAtomic(st, branchFile(name, next),
      Manifest.encode(if (evolve || wasEvolve) Seq("evolve" -> "1") else Seq.empty,
        meta, headFiles ++ fresh), contended = true)
    next
  }

  /** Read the branch head (base DV still masked; branch files are fresh
    * appends, so the base mask covers everything it should). */
  def readBranch(spark: SparkSession, dir: String, name: String): DataFrame = {
    val st = new TableState(spark, dir)
    val (base, headFiles, _) = branchHead(st, name)
    maskedScan(st, base, headFiles.map(f => dataPath(dir, f)), mergeAll = true)
  }

  /** Land the branch on main as ONE atomic commit (Iceberg's fast-forward):
    * requires main's head to still be the branch base — a foreign commit
    * since the fork surfaces as ConcurrentModificationException (rebase by
    * re-branching; branch commits are appends, so replay is safe). CHECK
    * constraints re-gate the branch's added rows against the constraints
    * LIVE AT PUBLISH (one added between fork and land must hold, exactly
    * like publishStaged). The landed commit carries the base's files plus
    * every branch addition; the branch ref and manifests then delete —
    * the data now belongs to main.
    */
  def fastForward(spark: SparkSession, dir: String, name: String): Int = {
    val st = new TableState(spark, dir)
    val (base, headFiles, headManifest) = branchHead(st, name)
    val cur = st.version
    if (headManifest.isEmpty) { dropBranch(st, name); return cur }
    if (cur != base)
      throw new java.util.ConcurrentModificationException(
        s"$dir: cannot fast-forward branch '$name' — main moved v$base -> " +
          s"v$cur since the fork; re-branch and replay")
    val baseFiles = st.manifest(base).entries
    val addedFiles = headFiles.filterNot(baseFiles.toSet)
    val addedRows = maskedScan(st, base,
      addedFiles.map(f => dataPath(dir, f)), mergeAll = true)
    enforceConstraints(st, addedRows)
    // a non-evolving branch must still match the CURRENT table schema
    if (!headManifest.get.evolve) enforceSchema(st, addedRows, evolve = false)
    val next = base + 1
    publish(st, next, baseFiles, addedFiles, headManifest.get.meta + ("branch.ff" -> name),
      dv = st.manifest(base).dv)
    dropBranch(st, name, keepData = true)
    next
  }

  /** Drop a branch: the ref, its manifests, and (unless the data now
    * belongs to main via [[fastForward]]) its data dirs. */
  def deleteBranch(spark: SparkSession, dir: String, name: String,
      keepData: Boolean = false): Unit =
    dropBranch(new TableState(spark, dir), name, keepData)

  private def dropBranch(st: TableState, name: String,
      keepData: Boolean = false): Unit = {
    val ks = st.branchVersions(name)
    if (!keepData && ks.nonEmpty) {
      val (base, headFiles, _) = branchHead(st, name)
      val baseFiles = st.manifest(base).entries.toSet
      val mainFiles = st.versions.flatMap(st.manifest(_).entries).toSet
      headFiles
        .filterNot(baseFiles).filterNot(mainFiles).filterNot(isExternal)
        .map(f => new org.apache.hadoop.fs.Path(dataPath(st.dir, f)).getParent)
        .distinct.foreach(p => st.fs.delete(p, true))
    }
    ks.foreach(k => st.fs.delete(new org.apache.hadoop.fs.Path(st.md, branchFile(name, k)), false))
    removeProperties(st.spark, st.dir, Seq(branchKey(name)))
  }

  /** The `.partitions` metadata table (Iceberg's answer to SHOW
    * PARTITIONS on hidden partitioning): one row per live partition value
    * tuple of the CURRENT version with its file and row counts — a pure
    * driver-side fold over the manifest entries and the stats sidecar,
    * zero data files opened. Transform value columns are named
    * `<col>` for identity and `<col>_<transform>` otherwise; files
    * written before the spec surface as one NULL-valued row (their rows
    * still counted), so the drift is visible rather than hidden.
    */
  def partitionsDf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val st = new TableState(spark, dir)
    val specs = st.partitionSpecs
    require(specs.nonEmpty, s"$dir: table declares no partition spec")
    val idx = st.head.stats
    def rowsOf(f: String): Long =
      idx.get(f).flatMap(_.values.headOption).map(_.rows).getOrElse(-1L)
    val names = specs.map {
      case IdentityPart(c) => c
      case DaysPart(c) => s"${c}_day"
      case HoursPart(c) => s"${c}_hour"
      case MonthsPart(c) => s"${c}_month"
      case YearsPart(c) => s"${c}_year"
      case BucketPart(_, c) => s"${c}_bucket"
      case TruncatePart(_, c) => s"${c}_trunc"
    }
    val grouped = st.files
      .groupBy(f => specs.indices.map(i =>
        partValueRawAt(f, i).filter(_ != HiveDefaultPart)))
      .toSeq
      .map { case (tuple, fs) =>
        val known = fs.map(rowsOf)
        (tuple, fs.length.toLong,
          if (known.contains(-1L)) -1L else known.sum)
      }
      .sortBy(_._1.map(_.getOrElse("")).mkString("\u0000"))
    val base = grouped.map { case (tuple, nf, nr) =>
      (tuple.map(_.orNull), nf, nr)
    }.toDF("p", "n_files", "n_rows")
    names.zipWithIndex.foldLeft(base) { case (df, (n, i)) =>
      df.withColumn(n, col("p").getItem(i))
    }.select((names.map(col) ++ Seq(col("n_files"), col("n_rows"))): _*)
  }

  /** Branches as a relation (the `snapshot_branches` TVF's body). */
  def branchesDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val st = new TableState(spark, dir)
    st.branches.toSeq.sortBy(_._1).map { case (n, base) =>
      (n, base, st.branchVersions(n).size)
    }.toDF("branch", "base_version", "n_commits")
  }

  // -------------------------------------------------- CHECK constraints
  // Delta's table constraints: a named SQL predicate every row-adding
  // commit must satisfy. Stored in the table props; enforced at the
  // commit/merge/stage boundaries with one limit(1) violation probe per
  // constraint (a broken batch fails LOUDLY with a sample row, before any
  // metadata publishes). SQL-standard CHECK semantics: a row violates only
  // when the predicate is FALSE — NULL passes (so `col IS NOT NULL` is the
  // NOT NULL constraint). Tables with no constraints pay nothing.

  /** All CHECK constraints: name → SQL predicate. */
  def checkConstraints(spark: SparkSession, dir: String): Map[String, String] =
    new TableState(spark, dir).constraints

  /** ADD CONSTRAINT name CHECK (sqlExpr). Existing rows are validated
    * first (one scan), like Delta — a constraint can never be born
    * already-violated. */
  def addCheckConstraint(spark: SparkSession, dir: String, name: String,
      sqlExpr: String): Unit = {
    import org.apache.spark.sql.functions.{expr, lit}
    require(name.matches("[A-Za-z0-9_]+"), s"$dir: invalid constraint name '$name'")
    val st = new TableState(spark, dir)
    require(!st.constraints.contains(name),
      s"$dir: constraint '$name' already exists")
    spark.sessionState.sqlParser.parseExpression(sqlExpr) // parse gate
    if (st.current.nonEmpty) {
      val bad = readAt(st, None).where(expr(sqlExpr) <=> lit(false))
        .limit(1).collect()
      require(bad.isEmpty,
        s"$dir: cannot add CHECK '$name' ($sqlExpr) — existing row violates " +
          s"it: ${bad.headOption.getOrElse("")}")
    }
    setProperties(spark, dir, Map(s"constraint.check.$name" -> sqlExpr))
  }

  def dropCheckConstraint(spark: SparkSession, dir: String,
      name: String): Unit =
    removeProperties(spark, dir, Seq(s"constraint.check.$name"))

  /** A CHECK expression stores the column names it was written with —
    * renaming or dropping a referenced column would make every later
    * commit fail on an unresolvable constraint. Refuse the metadata op
    * instead (Delta's rule); the user drops the constraint first. */
  private def requireUnconstrained(st: TableState,
      colName: String, op: String): Unit = {
    val pat = ("(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(colName) + "(?![A-Za-z0-9_])").r
    val used = st.constraints.filter {
      case (_, ex) => pat.findFirstIn(ex).isDefined
    }
    require(used.isEmpty,
      s"${st.dir}: cannot $op column '$colName' — referenced by CHECK " +
        s"constraint(s) ${used.keys.toSeq.sorted.mkString(", ")}; drop them first")
  }

  /** Constraints as a relation (the `snapshot_constraints` TVF's body). */
  def checkConstraintsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    checkConstraints(spark, dir).toSeq.sortBy(_._1)
      .toDF("constraint", "check_expr")
  }

  /** Refuse `df` if any row violates a table CHECK constraint. ONE
    * disjunctive limit(1) probe over all constraints (not one job each),
    * with per-constraint flags evaluated alongside the row so the error
    * names exactly what failed; zero cost when none are defined. The probe
    * evaluates one materialization of `df` — callers passing
    * non-deterministic frames should materialize them first (the same
    * caveat every write path of the format carries). */
  private def enforceConstraints(st: TableState, df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, expr, lit, struct}
    val cons = st.constraints.toSeq.sortBy(_._1)
    if (cons.isEmpty) return
    val flags = cons.zipWithIndex.map { case ((_, ex), i) =>
      (expr(ex) <=> lit(false)).as(s"viol_$i")
    }
    // df(n) resolves by EXACT name (functions.col would parse a dotted
    // column name as struct-field access and fail the whole commit)
    val bad = df.select(struct(df.columns.map(df(_)).toSeq: _*).as("row") +: flags: _*)
      .where(cons.indices.map(i => col(s"viol_$i")).reduce(_ || _))
      .limit(1).collect()
    bad.headOption.foreach { r =>
      val broken = cons.zipWithIndex.collect {
        case ((name, ex), i) if r.getBoolean(1 + i) => s"'$name' ($ex)"
      }
      throw new IllegalArgumentException(
        s"${st.dir}: CHECK constraint(s) ${broken.mkString(", ")} violated by " +
          s"row ${r.get(0)} — commit refused")
    }
  }

  // -------------------------------------------------- write-audit-publish
  // Iceberg's WAP workflow, re-expressed on the linear manifest log: a
  // STAGED commit writes its data files and a `staged-<token>.list`
  // manifest that version listing never surfaces — readers cannot see it.
  // The audit step queries the table AS IF published ([[readStaged]]);
  // [[publishStaged]] then turns the staged file list into the next
  // version with a pure metadata CAS (the data was already written), and
  // [[discardStaged]] deletes a failed candidate without a trace. The
  // schema/constraint gates run at STAGE time, so a candidate that stages
  // is structurally publishable; publish re-checks only the version race.

  private def stagedManifest(dir: String, token: String) =
    new org.apache.hadoop.fs.Path(s"${manifestDir(dir)}/staged-$token.list")

  /** Stage a commit: write the data + an invisible manifest; return the
    * token the audit/publish/discard steps key on. */
  def stageCommit(spark: SparkSession, dir: String, df: DataFrame,
      meta: Map[String, String] = Map.empty,
      evolve: Boolean = false): String = {
    val st = new TableState(spark, dir)
    if (st.current.nonEmpty) enforceSchema(st, df, evolve)
    enforceConstraints(st, df)
    val token = java.util.UUID.randomUUID.toString.take(12)
    val fresh = writeData(st, st.current.getOrElse(0) + 1, df)
    writeAtomic(st, s"staged-$token.list", Manifest.encode(
      if (evolve) Seq("evolve" -> "1") else Seq.empty, meta, fresh), contended = false)
    token
  }

  /** Tokens of all live staged commits. */
  def stagedTokens(spark: SparkSession, dir: String): Seq[String] =
    new TableState(spark, dir).stagedTokens

  /** Staged commits as a relation (the `snapshot_staged` TVF's body):
    * token, file count, and the staged metadata — what a WAP operator
    * lists before auditing or sweeping candidates. */
  def stagedDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val st = new TableState(spark, dir)
    st.stagedTokens.flatMap { t =>
      // a concurrent publish/discard may have removed the token — skip
      // only that; a still-present-but-unreadable manifest must surface
      try {
        val m = st.staged(t)
        Seq((t, m.entries.length, m.meta.toSeq.sorted
          .map { case (k, v) => s"$k=$v" }.mkString(";")))
      } catch { case e: Exception =>
        if (st.fs.exists(stagedManifest(dir, t))) throw e
        Seq.empty
      }
    }.toDF("token", "n_files", "meta")
  }

  /** Audit view: the table AS IF the staged commit were published on the
    * current version — current files plus the staged files, current
    * deletion vectors still masked. What the WAP audit queries run on. */
  def readStaged(spark: SparkSession, dir: String, token: String): DataFrame = {
    val st = new TableState(spark, dir)
    val staged = st.staged(token).entries
    st.current match {
      // mergeAll: the staged files are OUTSIDE cur's schema sidecar — an
      // evolve-staged column must surface in the audit view
      case Some(cur) => maskedScan(st, cur,
        (st.manifest(cur).entries ++ staged).map(f => dataPath(dir, f)), mergeAll = true)
      case None => applyMapping(st,
        spark.read.option("mergeSchema", "true")
          .parquet(staged.map(f => dataPath(dir, f)): _*))
    }
  }

  /** Version of `st` that already published staged commit `token`, if any
    * — the `wap.token` commit-meta entry rides every staged publish
    * atomically, so a crash between the publish and the staged-manifest
    * delete is detectable (the newest-first scan stops at the first hit). */
  private def publishedStagedVersion(st: TableState, token: String): Option[Int] =
    st.versions.reverseIterator.find { v =>
      // a version expiring between the listing and the meta read is not
      // the carrier we are looking for — skip it, don't abort the publish
      scala.util.Try(st.manifest(v).meta).toOption
        .exists(_.get("wap.token").contains(token))
    }

  /** Publish a staged commit as the next version — pure metadata (the data
    * files were written at stage time). Optimistic-retry on version-slot
    * races like [[commitRetry]]; re-runs the schema gate against the
    * CURRENT table first, so a conflicting evolution that landed since the
    * stage refuses loudly instead of publishing a mixed table. */
  def publishStaged(spark: SparkSession, dir: String, token: String): Int = {
    val stagedManifest0 = new TableState(spark, dir).staged(token)
    val staged = stagedManifest0.entries
    // one planned relation for both gates and every retry: the footer read
    // happens once, not per attempt
    val stagedRaw = spark.read.option("mergeSchema", "true")
      .parquet(staged.map(f => dataPath(dir, f)): _*)
    withCommitRetry(MetadataRetries) {
      val st = new TableState(spark, dir)
      // IDEMPOTENCE: a crash (or a racing same-token caller) between the
      // publish and the staged-manifest delete leaves a live token whose
      // files are already in the table — re-listing them would duplicate
      // every staged row. The `wap.token` commit marker makes the replay
      // detectable: finish the cleanup and return the published version.
      val landed = publishedStagedVersion(st, token).getOrElse {
        val cur = st.current.getOrElse(0)
        // constraints re-check INSIDE the loop: stage validated against the
        // constraints of ITS time; one ADDED since (even mid-retry) must not
        // slip violating rows in. applyMapping: staged files carry PHYSICAL
        // names (writeData's rule) — both gates compare LOGICAL schemas.
        enforceConstraints(st, applyMapping(st, stagedRaw))
        if (cur > 0)
          enforceSchema(st, applyMapping(st, stagedRaw), stagedManifest0.evolve)
        val next = cur + 1
        // SAME-TOKEN race: two callers can both pass the replay check above
        // while neither has published yet; without atomicity the slower one
        // would re-list the staged files on top of the winner's version.
        // Serialize the recheck+publish through the per-table publish lock
        // (the same same-JVM guarantee the manifest CAS itself relies on;
        // the rename inside publish() re-acquires it reentrantly). The
        // recheck reads the table as it is now, not `st`.
        publishLock(st.md.toString).synchronized {
          if (publishedStagedVersion(new TableState(spark, dir), token).isEmpty) {
            // a foreign commit since `cur` surfaces as the usual CME below
            publishOnto(st, next, staged, replace = false,
              stagedManifest0.meta + ("wap.token" -> token))
          }
        }
        publishedStagedVersion(new TableState(spark, dir), token)
          .getOrElse(next) // ours just published at `next`
      }
      st.fs.delete(stagedManifest(dir, token), false)
      landed
    }
  }

  /** Delete a staged commit without a trace: its manifest and its data
    * files (and their now-empty parent dirs). If the token's files were
    * already PUBLISHED (a crash between publishStaged's publish and its
    * manifest delete leaves exactly this state), only the stale manifest
    * is removed — the data now belongs to the table and deleting it would
    * destroy committed versions. */
  def discardStaged(spark: SparkSession, dir: String, token: String): Unit =
    discard(new TableState(spark, dir), token)

  private def discard(st: TableState, token: String): Unit = {
    val staged = st.staged(token).entries
    // the published-check + data delete must be one atomic unit against a
    // same-token publishStaged racer: without the lock, publish can land
    // between the check and the delete and this would remove data files a
    // committed version now references — so the check reads the table as
    // it is under the lock, not `st`
    publishLock(st.md.toString).synchronized {
      val now = new TableState(st.spark, st.dir)
      val published = publishedStagedVersion(now, token).nonEmpty ||
        now.versions.exists(v => now.manifest(v).entries.exists(staged.toSet))
      if (!published)
        // each stage writes into its own per-writer-unique data dir, so the
        // parents hold nothing but this stage's files — drop them whole
        staged.filterNot(isExternal)
          .map(f => new org.apache.hadoop.fs.Path(dataPath(st.dir, f)).getParent)
          .distinct.foreach(p => st.fs.delete(p, true))
      st.fs.delete(stagedManifest(st.dir, token), false)
    }
  }

  /** Sweep ABANDONED staged commits: every stage whose manifest mtime is
    * older than `tsMillis` is discarded ([[discardStaged]] semantics — a
    * token whose files already published keeps its data, only the stale
    * manifest drops). This is the age-TTL remedy for a crashed audit
    * pipeline: without it, [[vacuumOrphans]] rightly treats staged data as
    * live forever and the orphaned storage never reclaims. Mirrors the
    * reader-pin heartbeat rule — a LIVE audit keeps its stage fresh simply
    * by re-staging or publishing within the TTL; pick a `tsMillis` horizon
    * comfortably beyond the longest legitimate audit. Returns the swept
    * tokens. A swept token's later publish fails loudly (no manifest).
    */
  def expireStagedOlderThan(spark: SparkSession, dir: String,
      tsMillis: Long): Seq[String] = {
    val st = new TableState(spark, dir)
    val stale = st.stagedTokens.filter(t =>
      st.listing(s"staged-$t.list").getModificationTime < tsMillis)
    stale.foreach(discard(st, _))
    stale
  }

  /** RESTORE: publish a NEW version whose content is exactly snapshot
    * `toVersion` — the roll-back after a bad write (Delta's RESTORE TABLE).
    * Pure metadata: the restored version's files (and deletion vector, and
    * stats) are carried by reference, nothing is copied or rewritten, and
    * history stays intact — the bad versions remain readable until
    * retention drops them. Incremental readers refuse across a restore
    * (history visibly rewound — resync from a snapshot), like any replace.
    * Requires `toVersion` to still exist (not expired).
    */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    val st = new TableState(spark, dir)
    val cur = st.version
    require(st.versions.contains(toVersion),
      s"$dir: cannot restore to v$toVersion — it does not exist (expired?)")
    if (toVersion == cur) return cur
    val next = cur + 1
    publish(st, next, st.manifest(toVersion).entries, Seq.empty,
      meta = Map("restore" -> s"v$toVersion"),
      dv = st.manifest(toVersion).dv, statsFrom = Some(toVersion))
    next
  }

  /** Semantic DIFF between two versions — the rewrite-crossing fallback to
    * [[readChangeFeed]]: content-based changed rows by multiset
    * difference, valid across ANY commits (replaces, restores, clones,
    * schema evolution) because it never consults the feed. Rows compare in
    * the TO version's schema — the question is "what changed to become
    * `toVersion`" — so an evolve-added column reads as NULL from the older
    * version (exactly what its rows surface there) and a dropped column
    * simply leaves the comparison. The result speaks the feed's dialect —
    * `_change_type` of `insert` (in `to`, not in `from`) or `delete` — so
    * feed folders consume either source; the column name is
    * collision-proof because the CDF face already reserves it on this
    * format's tables. Inherently two-table-scan + shuffle-on-all-columns
    * work — the CDF is the O(delta) path when the range has one; this
    * answers when it refuses.
    */
  def diffVersions(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val st = new TableState(spark, dir)
    val a0 = readAt(st, Some(fromVersion))
    val b = readAt(st, Some(toVersion))
    // alignment is in the TO version's frame: columns the from-version
    // lacks surface as typed NULLs, and SHARED columns CAST to the
    // to-version's type — a column retyped between versions would
    // otherwise throw in exceptAll/unionByName instead of diffing
    val a = b.columns.foldLeft(a0) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(b.schema(c).dataType))
    }.select(b.columns.map(c => col(c).cast(b.schema(c).dataType).as(c)).toSeq: _*)
    b.exceptAll(a).withColumn("_change_type", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("_change_type", lit("delete")))
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE src`): a new
    * table whose first version REFERENCES the source's data files at
    * `version` through absolute manifest entries — zero data bytes copied;
    * the clone's stats sidecar comes from one footer pass over the
    * referenced files (metadata-sized, the cost every commit already pays
    * per file). The clone then evolves independently: its commits write
    * its own local files, and no clone delete path (expire, vacuum,
    * branch/stage discard) ever touches an external reference. Caveat —
    * the same one Delta documents: expiring or vacuuming the SOURCE can
    * strand a clone; tag or pin the source version first. A version with
    * pending merge-on-read deletes refuses ([[purgeDeletes]] first): a DV
    * is table-local state the clone cannot safely share.
    */
  def cloneTable(spark: SparkSession, srcDir: String, dstDir: String,
      version: Option[Int] = None): Int = {
    // qualify through the Hadoop FS (matching publishLock/relPath
    // normalization), NOT java.io.File: a scheme-qualified dir
    // (file:/…, s3a://…) must not be mangled into a nonexistent local
    // path that the clone's absolute refs would then point at
    def qualify(d: String): String = {
      val p = new org.apache.hadoop.fs.Path(d)
      val q = p.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(p)
      // local dirs keep the bare absolute path (the form every other
      // manifest entry uses); remote schemes keep the full URI — stripping
      // `s3a://bucket` would alias into the local filesystem
      if (q.toUri.getScheme == null || q.toUri.getScheme == "file")
        q.toUri.getPath
      else q.toString
    }
    val srcAbs = qualify(srcDir)
    val dstAbs = qualify(dstDir)
    require(srcAbs != dstAbs, "clone target must differ from the source")
    val src = new TableState(spark, srcDir)
    val dst = new TableState(spark, dstDir)
    val sv = version.getOrElse(src.version)
    require(src.versions.contains(sv),
      s"$srcDir: cannot clone v$sv — it does not exist (expired?)")
    require(src.manifest(sv).dv.isEmpty,
      s"$srcDir: v$sv carries merge-on-read deletes — purgeDeletes before cloning")
    require(dst.current.isEmpty,
      s"$dstDir: clone target already holds a table")
    // resolve through the source's entries: a clone OF a clone keeps
    // pointing at the original bytes, never at an intermediary
    val refs = src.manifest(sv).entries.map(f => dataPath(srcAbs, f))
    publish(dst, 1, Seq.empty, refs,
      meta = Map("clone.src" -> srcAbs, "clone.src_version" -> sv.toString))
    // schema-bearing table properties MUST travel (column mapping decides
    // what the physical parquet names MEAN; constraints and bloom targets
    // are table contracts Delta's clone carries too). Version-referencing
    // props (tags, branches, pins, clustering watermarks, staged tokens)
    // stay behind — they name source versions the clone does not have.
    val carryProps = src.props.filter { case (k, _) =>
      k.startsWith("colmap.") || k.startsWith("constraint.check.") ||
        k == "bloom.columns"
    }
    if (carryProps.nonEmpty) setProperties(spark, dstDir, carryProps)
    1
  }

  /** Key-driven row DELETE, merge-on-read — the delete half of CDC apply
    * (a Debezium-shaped feed's `op = d` rows): every live table row whose
    * `key` appears in `keys` is masked through the deletion vector; no
    * data file rewrites. Touched-file discovery mirrors [[mergeIntoMor]]:
    * the stats envelope narrows candidates, one masked scan pins the
    * matching positions. The change feed records exactly the deleted
    * rows. Returns the current version unchanged when nothing matches.
    */
  def deleteByKeysMor(spark: SparkSession, dir: String, keys: DataFrame,
      key: String, meta: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.{col, count, min, max}
    val st = new TableState(spark, dir)
    withPersisted(keys.select(col(key)).distinct()) { kp =>
      val Array(h) = kp.agg(count(col(key)), min(col(key)), max(col(key))).collect()
      val candidates =
        if (h.getLong(0) == 0) Seq.empty
        else pruneAt(st, st.version, Seq((key, Option(h.get(1)), Option(h.get(2)))))._1
      maskDelete(st, candidates, meta)(_.join(kp, Seq(key), "left_semi"))
    }
  }

  /** PARTIAL deletion-vector materialization (Delta's REORG PURGE /
    * Iceberg's rewrite-position-deletes): rewrite ONLY the files whose
    * masked-row fraction exceeds `maxMaskedFraction`, carrying every other
    * file byte-identical with a filtered mask. This is the knob that
    * bounds mask growth under continuous merge-on-read churn without
    * paying [[compact]]'s full-table rewrite: scan cost tracks the
    * heavily-deleted files, the decision itself is metadata (the DV
    * aggregate is deleted-rows sized, per-file totals come from the stats
    * sidecar). Data-preserving: CDF tails skip it. Returns the current
    * version unchanged when no file crosses the threshold; a concurrent
    * commit surfaces as [[java.util.ConcurrentModificationException]]
    * (re-call to retry — the rewrite re-derives).
    */
  def purgeDeletes(spark: SparkSession, dir: String,
      maxMaskedFraction: Double = 0.1): Int = {
    require(maxMaskedFraction >= 0 && maxMaskedFraction < 1,
      s"maxMaskedFraction $maxMaskedFraction out of [0, 1)")
    val st = new TableState(spark, dir)
    val rel = st.dv match {
      case None => return st.version // no mask, nothing to purge
      case Some(r) => r
    }
    val masked: Map[String, Long] = spark.read.parquet(s"$dir/$rel")
      .groupBy("file_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val idx = st.head.stats
    val hot = st.files.filter { f =>
      val name = new org.apache.hadoop.fs.Path(f).getName
      masked.get(name).exists { m =>
        idx.get(f).flatMap(_.values.headOption).map(_.rows) match {
          case Some(rows) if rows > 0 => m.toDouble / rows > maxMaskedFraction
          case _ => true // no usable row count: purge conservatively
        }
      }
    }
    if (hot.isEmpty) st.version
    else landCow(st, hot, None, Seq(st.rows(hot)),
      Map("purge" -> s"${hot.length} of ${st.files.length} files"),
      noRowChange = true)
  }

  /** REPLACE WHERE (Delta's replaceWhere / Iceberg's overwrite-by-filter):
    * atomically swap the rows inside `[lower, upper]` on `column` for the
    * rows of `df` — ONE commit, so a reader sees either the old region or
    * the new one, never a deleted gap. Delta's safety rule is enforced:
    * every incoming row must fall INSIDE the replaced region (else the
    * "overwrite" would silently leak writes into unrelated keyspace).
    * Cost shape = the CoW delete's: stats-affected files rewrite with the
    * region's rows dropped, all other files carry by reference, the new
    * data appends — at 100 TB this is the idempotent daily-partition
    * reload (recompute one day, swap it in, one atomic commit). The change
    * feed records the dropped rows as deletes and `df` as inserts.
    */
  def replaceWhere(spark: SparkSession, dir: String, df: DataFrame,
      column: String, lower: Option[Any], upper: Option[Any]): Int = {
    import org.apache.spark.sql.functions.lit
    val st = new TableState(spark, dir)
    enforceSchema(st, df, evolve = false)
    // the incoming frame is consumed repeatedly (constraint probe, region
    // probe, CDC record, data write) — persist it like the sibling
    // merge/delete ops, so an expensive recompute runs once and every
    // consumer sees ONE materialization
    withPersisted(df) { up =>
      enforceConstraints(st, up)
      val inRegion = inRange(column, lower, upper)
      val escapee = up.filter(!inRegion).limit(1).collect()
      require(escapee.isEmpty,
        s"$dir: replaceWhere row outside the replaced region on '$column': " +
          s"${escapee.headOption.getOrElse("")} — refusing to leak writes")
      val (affected, _) = pruneAt(st, st.version, Seq((column, lower, upper)))
      val inserts = up.withColumn("_change_type", lit("insert"))
      if (affected.isEmpty)
        landCow(st, affected, Some(inserts), Seq(up), Map.empty)
      else withPersisted(st.rows(affected)) { rows =>
        landCow(st, affected,
          Some(rows.filter(inRegion).withColumn("_change_type", lit("delete"))
            .unionByName(inserts, allowMissingColumns = true)),
          Seq(rows.filter(!inRegion), up), Map.empty)
      }
    }
  }

  /** INSERT OVERWRITE with DYNAMIC partition semantics on a
    * hidden-partitioned table (Spark/Delta's
    * `partitionOverwriteMode=dynamic`): only the partitions the incoming
    * frame TOUCHES are replaced — their files drop from the manifest —
    * and every other partition's files carry byte-identical. Targeting is
    * pure manifest metadata and EXACT: the routed write made every data
    * file single-partition-value, so the touched set is an entry-path
    * match — no stats consulted, no row-level keep filter (a touched
    * partition replaces WHOLE, the defined semantics). A data file
    * predating the spec (no `__part` value) is ambiguous — any of its
    * rows could belong to a touched partition — so a non-empty one
    * refuses loudly (rewrite the table under the spec first); the
    * schema-pinning 0-row file just drops with the replaced set. The
    * change feed records the replaced partitions' live rows as deletes
    * and the incoming frame as inserts.
    */
  def insertOverwritePartitions(spark: SparkSession, dir: String,
      df: DataFrame, meta: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.lit
    val st = new TableState(spark, dir)
    val specs = st.partitionSpecs
    require(specs.nonEmpty,
      s"$dir: dynamic INSERT OVERWRITE needs a partitioned table — " +
        "an unpartitioned table takes the full replace (static mode)")
    enforceSchema(st, df, evolve = false)
    withPersisted(df) { up =>
      enforceConstraints(st, up)
      // the touched set is the distinct TUPLE of transform values —
      // partition-count-sized, never row-sized
      val pvs = specs.map { ps =>
        require(up.columns.contains(ps.column),
          s"$dir: partition column '${ps.column}' missing from the write")
        partValueExpr(dir, ps, ps.column, up.schema(ps.column).dataType)
          .cast("string")
      }
      val touched: Set[Seq[String]] = up.select(pvs: _*).distinct().collect()
        .map(r => specs.indices.map(i =>
          Option(r.getString(i)).getOrElse(HiveDefaultPart))).toSet
      val statsIdx = st.head.stats
      val replaced = st.files.filter { f =>
        val tuple = specs.indices.map(i => partValueRawAt(f, i))
        if (tuple.forall(_.nonEmpty)) touched.contains(tuple.map(_.get))
        else {
          val rows = statsIdx.get(f).flatMap(_.values.headOption).map(_.rows)
          require(rows.contains(0L),
            s"$dir: data file '$f' predates the partition spec (no " +
              "__part value) — dynamic overwrite cannot scope it; " +
              "rewrite the table under the spec first")
          true // the 0-row schema-pin file: drop with the replaced set
        }
      }
      val inserts = up.withColumn("_change_type", lit("insert"))
      val feed =
        if (replaced.isEmpty) inserts
        else st.rows(replaced).withColumn("_change_type", lit("delete"))
          .unionByName(inserts, allowMissingColumns = true)
      landCow(st, replaced, Some(feed), Seq(up), meta)
    }
  }

  /** Rewrite the whole table under its CURRENT partition spec — the
    * remedy for a spec declared on an already-populated table (whose
    * pre-spec files carry no partition value, so partition-scoped ops
    * refuse them) and for spec CHANGES: one row-preserving replace commit
    * whose write routes every row, after which every manifest entry
    * carries the value tuple and dynamic overwrite / bucket pruning apply
    * to the full table. Prior versions keep reading their own files.
    */
  def rewritePartitioned(spark: SparkSession, dir: String): Int = {
    val st = new TableState(spark, dir)
    require(st.partitionSpecs.nonEmpty,
      s"$dir: no partition spec declared — set one before rewriting")
    landCow(st, st.files, None, Seq(readAt(st, Some(st.version))),
      Map("repartitioned" -> st.partitionSpecs.map(_.encoded).mkString(";")),
      noRowChange = true)
  }

  /** One WHEN MATCHED clause of [[mergeApply]]: `set = None` is DELETE,
    * `Some(assignments)` is UPDATE SET. Conditions and assignment values
    * are Columns over the aliases `__t` (target) and `__s` (source). */
  final case class WhenMatched(cond: Option[org.apache.spark.sql.Column],
      set: Option[Seq[(String, org.apache.spark.sql.Column)]])
  /** One WHEN NOT MATCHED [BY TARGET] clause: INSERT with per-column
    * assignments over `__s`. */
  final case class WhenNotMatched(cond: Option[org.apache.spark.sql.Column],
      insert: Seq[(String, org.apache.spark.sql.Column)])
  /** One WHEN NOT MATCHED BY SOURCE clause (conditions over `__t` only). */
  final case class WhenNotMatchedBySource(
      cond: Option[org.apache.spark.sql.Column],
      set: Option[Seq[(String, org.apache.spark.sql.Column)]])

  /** The full ANSI/Delta `MERGE INTO` shape, copy-on-write: an arbitrary ON
    * condition, ordered multi-clause WHEN MATCHED [AND cond] THEN
    * UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT, and WHEN NOT MATCHED BY
    * SOURCE THEN UPDATE/DELETE — first applicable clause wins, rows no
    * clause claims carry unchanged ([[mergeInto]] is the keyed-upsert fast
    * path; the SQL face routes here). Clause conditions and assignment
    * values reference the two sides through the aliases `__t` / `__s`.
    *
    * Scale shape: `pruneKey` (a target column + the source-side expression
    * it equi-joins to) narrows candidate files through the stats envelope;
    * ONE masked scan pins the files holding a live ON-matching row
    * (metadata-sized result); only those rewrite, everything else carries
    * by reference — unless a BY SOURCE clause exists, which by definition
    * touches every file. The standard's multi-match rule is enforced: a
    * target row matched by more than one source row fails loudly (the
    * rewrite would otherwise duplicate it). CHECK constraints gate the
    * post-image; the change feed records update_pre/update_post, delete,
    * and insert rows exactly.
    */
  def mergeApply(spark: SparkSession, dir: String, source: DataFrame,
      onCond: org.apache.spark.sql.Column,
      matched: Seq[WhenMatched],
      notMatched: Seq[WhenNotMatched],
      notMatchedBySource: Seq[WhenNotMatchedBySource] = Seq.empty,
      pruneKey: Option[(String, org.apache.spark.sql.Column)] = None,
      meta: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, when}
    import org.apache.spark.sql.Column
    val st = new TableState(spark, dir)
    val tableSchema = st.schema
    val tableCols = tableSchema.fieldNames.toSeq
    // UPDATE sets may target nested struct fields (dot paths); INSERTs
    // assign whole columns only (a nested insert target is meaningless —
    // the row doesn't exist yet)
    matched.foreach(_.set.foreach(_.foreach { case (c, _) =>
      fieldTypeAt(dir, tableSchema, c) }))
    notMatched.foreach(_.insert.foreach { case (c, _) =>
      require(tableCols.contains(c), s"$dir: MERGE INSERT targets unknown column '$c'") })
    notMatchedBySource.foreach(_.set.foreach(_.foreach { case (c, _) =>
      fieldTypeAt(dir, tableSchema, c) }))
    withPersisted(source.withColumn("__s_present", lit(true))) { src =>
      // ---- candidate discovery: stats envelope, then one masked scan
      val candidates = pruneKey match {
        case Some((tCol, sExpr)) if notMatchedBySource.isEmpty =>
          // sExpr is expressed over the __s alias, so aggregate through it
          val Array(mm) = src.alias("__s").agg(min(sExpr), max(sExpr)).collect()
          if (mm.isNullAt(0)) Seq.empty
          else pruneAt(st, st.version, Seq((tCol, Option(mm.get(0)), Option(mm.get(1)))))._1
        case _ => st.files
      }
      val sAliased = src.alias("__s")
      val touched: Seq[String] =
        if (notMatchedBySource.nonEmpty) st.files
        else touchedBy(st, candidates)(
          _.alias("__t").join(sAliased, onCond, "left_semi"))
      def truthy(c: Option[Column]): Column =
        c.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
      // first-applicable-clause index per branch; -1 = no clause claims it
      def clauseIdx(conds: Seq[Option[Column]]): Column =
        conds.zipWithIndex.foldRight(lit(-1): Column) { case ((c, i), rest) =>
          when(truthy(c), lit(i)).otherwise(rest)
        }
      val nmIdx = clauseIdx(notMatched.map(_.cond))
      def insertsOf(unmatchedS: DataFrame): DataFrame =
        unmatchedS.filter(nmIdx >= 0).select(tableCols.map { c =>
          notMatched.map(_.insert).zipWithIndex.foldRight(
            lit(null).cast(tableSchema(c).dataType): Column) {
            case ((as, i), rest) =>
              as.toMap.get(c) match {
                case Some(v) => when(nmIdx === lit(i),
                  v.cast(tableSchema(c).dataType)).otherwise(rest)
                case None => rest
              }
          }.as(c)
        }: _*)

      // NOTE (r22): neither path rebalances its write — re-binning the SQL
      // MERGE output changed the double-summation association order on the
      // merged table and flipped a round(sum(o_totalprice), 2) result by
      // one cent at sf0.01 (oracle mismatch). The layout a table's
      // float-aggregating oracles were proven against is part of its
      // contract; the other DML paths' rebalance stands (all their family
      // oracles stay green).
      // nothing matched (or the table is all-carry): insert-only path
      if (touched.isEmpty) withPersisted(insertsOf(sAliased)) { inserts =>
        if (inserts.isEmpty) st.version
        else {
          enforceConstraints(st, inserts)
          landCow(st, Seq.empty,
            Some(inserts.withColumn("_change_type", lit("insert"))), Seq(inserts), meta)
        }
      }
      // full outer: matched pairs + target-only (carry / BY SOURCE) +
      // source-only (insert candidates)
      else withPersisted(locate(st, touched)(
          _.withColumn("__t_present", lit(true)).alias("__t")
            .join(sAliased, onCond, "full_outer"))) { joined =>
        val tPresent = col("__t_present") === lit(true)
        val sPresent = col("__s_present") === lit(true)
        // ANSI multi-match rule: a second source match would duplicate the
        // target row in the rewrite — refuse before anything publishes
        val dup = joined.filter(tPresent && sPresent)
          .groupBy(col("__t.__fname"), col("__t.__pos"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .limit(1).collect()
        require(dup.isEmpty,
          s"$dir: MERGE matched a target row with more than one source row")
        val mIdx = clauseIdx(matched.map(_.cond))
        val nmsIdx = clauseIdx(notMatchedBySource.map(_.cond))
        def isDelete(idx: Column, sets: Seq[Option[Seq[(String, Column)]]]): Column =
          sets.zipWithIndex.collect { case (None, i) => idx === lit(i) }
            .reduceOption(_ || _).getOrElse(lit(false))
        def valueOf(c: String, idx: Column,
            sets: Seq[Option[Seq[(String, Column)]]]): Column =
          sets.zipWithIndex.foldRight(col(s"__t.$c")) {
            case ((Some(as), i), rest) =>
              // this clause's assignments landing on column c (wholesale
              // or nested-field surgery — see assignedValue)
              val mine = as.filter(_._1.split('.').head == c)
              if (mine.isEmpty) rest
              else when(idx === lit(i),
                assignedValue(dir, tableSchema, c, col(s"__t.$c"), mine))
                .otherwise(rest)
            case ((None, _), rest) => rest
          }
        val matchedSets = matched.map(_.set)
        val nmsSets = notMatchedBySource.map(_.set)
        val tSide = joined.filter(tPresent)
        val dropped = when(sPresent, isDelete(mIdx, matchedSets))
          .otherwise(isDelete(nmsIdx, nmsSets))
        val outCols = tableCols.map { c =>
          when(sPresent, valueOf(c, mIdx, matchedSets))
            .otherwise(valueOf(c, nmsIdx, nmsSets)).as(c)
        }
        val survivorsT = tSide.filter(!dropped).select(outCols: _*)
        val inserts = insertsOf(joined.filter(!coalesce(tPresent, lit(false))))
        val survivors = survivorsT.unionByName(inserts)
        // the post-image gate: exactly the rows this merge creates/changes
        val changedT = when(sPresent, mIdx >= 0 && !isDelete(mIdx, matchedSets))
          .otherwise(nmsIdx >= 0 && !isDelete(nmsIdx, nmsSets))
        enforceConstraints(st,
          tSide.filter(changedT).select(outCols: _*).unionByName(inserts))
        // change feed: update pre/post pairs, deletes, inserts — rows no
        // clause claimed emit nothing
        def priorOf(f: Column, kind: String) = tSide.filter(f)
          .select(tableCols.map(c => col(s"__t.$c").as(c)): _*)
          .withColumn("_change_type", lit(kind))
        val postRows = tSide.filter(changedT).select(outCols: _*)
          .withColumn("_change_type", lit("update_post"))
        val insRows = inserts.withColumn("_change_type", lit("insert"))
        landCow(st, touched,
          Some(Seq(priorOf(changedT, "update_pre"), postRows, priorOf(dropped, "delete"),
            insRows).reduce(_.unionByName(_))),
          Seq(survivors), meta)
      }
    }
  }

  /** Generic predicate DELETE, copy-on-write — the SQL face's
    * `DELETE FROM t WHERE <any condition>` ([[deleteRange]] is the
    * single-column-interval fast path; this one takes an arbitrary
    * `Column`). Cost shape mirrors [[mergeInto]]: optional stats `prune`
    * ranges (extracted from the condition's range conjuncts by the caller)
    * narrow candidates, ONE masked scan pins the files holding a live
    * matching row (metadata-sized result), only those rewrite — every
    * other file carries by reference. SQL three-valued logic: a row whose
    * condition evaluates NULL is NOT deleted. The change feed records
    * exactly the deleted rows. No match → current version unchanged.
    */
  def deleteWhere(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      prune: Seq[(String, Option[Any], Option[Any])] = Seq.empty,
      meta: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val st = new TableState(spark, dir)
    val hit = coalesce(cond, lit(false))
    val touched = touchedBy(st,
      pruneAt(st, st.version, prune)._1)(_.filter(hit))
    if (touched.isEmpty) st.version
    else {
      val rows = st.rows(touched)
      landCow(st, touched,
        Some(rows.filter(hit).withColumn("_change_type", lit("delete"))),
        Seq(rows.filter(!hit).hint("rebalance")), meta)
    }
  }

  /** Resolve a (possibly dot-nested) assignment path against `schema` and
    * return the leaf field's type — loud on unknown segments and on
    * descending through a non-struct. `a.b.c` names field c of struct b
    * of top-level column a.
    */
  private def fieldTypeAt(dir: String, schema: org.apache.spark.sql.types.StructType,
      path: String): org.apache.spark.sql.types.DataType = {
    val segs = path.split('.')
    segs.foldLeft((schema: org.apache.spark.sql.types.DataType, "")) {
      case ((dt, at), seg) =>
        dt match {
          case st: org.apache.spark.sql.types.StructType =>
            val f = st.fields.find(_.name == seg).getOrElse(
              throw new IllegalArgumentException(
                s"$dir: assignment path '$path' names unknown field '$seg'" +
                  (if (at.isEmpty) "" else s" under '$at'") +
                  s" (have ${st.fieldNames.mkString(", ")})"))
            (f.dataType, if (at.isEmpty) seg else s"$at.$seg")
          case other => throw new IllegalArgumentException(
            s"$dir: assignment path '$path' descends through non-struct " +
              s"'$at' ($other)")
        }
    }._1
  }

  /** The post-assignment value of ONE top-level column: a whole-column
    * assignment wins wholesale; dot-nested assignments rebuild the struct
    * in place via `withField` surgery (Delta's `UPDATE SET s.f = …`),
    * leaving sibling fields byte-identical. Mixing both forms on one
    * column refuses — the order would be ambiguous. A NULL struct stays
    * NULL (Spark's UpdateFields semantics, matching Delta).
    */
  private def assignedValue(dir: String,
      schema: org.apache.spark.sql.types.StructType, top: String,
      base: org.apache.spark.sql.Column,
      asgs: Seq[(String, org.apache.spark.sql.Column)]): org.apache.spark.sql.Column = {
    val (whole, nested) = asgs.partition(_._1 == top)
    require(whole.isEmpty || nested.isEmpty,
      s"$dir: column '$top' is assigned both wholesale and by nested field")
    require(asgs.map(_._1).distinct.length == asgs.length,
      s"$dir: duplicate assignment to ${asgs.map(_._1).diff(asgs.map(_._1).distinct).head}")
    if (whole.nonEmpty) whole.head._2.cast(schema(top).dataType)
    else nested.foldLeft(base) { case (acc, (path, e)) =>
      acc.withField(path.split('.').tail.mkString("."),
        e.cast(fieldTypeAt(dir, schema, path)))
    }
  }

  /** Generic predicate UPDATE, copy-on-write — the SQL face's
    * `UPDATE t SET c = expr, … WHERE <condition>`. Same touched-file
    * discovery as [[deleteWhere]]; each touched file rewrites with the
    * assignments applied to matching rows (assignment expressions are cast
    * to the column's existing type — SQL UPDATE never changes schema), all
    * other files carry by reference. CHECK constraints gate the post-image.
    * The change feed records update_pre/update_post pairs. SQL NULL
    * semantics: a NULL condition leaves the row unchanged.
    */
  def updateWhere(spark: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)],
      prune: Seq[(String, Option[Any], Option[Any])] = Seq.empty,
      meta: Map[String, String] = Map.empty): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val st = new TableState(spark, dir)
    val schema = st.schema
    require(sets.nonEmpty, s"$dir: UPDATE needs at least one assignment")
    sets.foreach { case (c, _) => fieldTypeAt(dir, schema, c) } // loud validate
    val hit = coalesce(cond, lit(false))
    val touched = touchedBy(st,
      pruneAt(st, st.version, prune)._1)(_.filter(hit))
    if (touched.isEmpty) return st.version
    val rows = st.rows(touched)
    val byTop = sets.groupBy(_._1.split('.').head)
    def applied(src: DataFrame, always: Boolean): DataFrame =
      src.select(schema.fieldNames.toSeq.map { c =>
        byTop.get(c) match {
          case Some(asgs) =>
            val v = assignedValue(dir, schema, c, col(c), asgs)
            (if (always) v else when(hit, v).otherwise(col(c))).as(c)
          case None => col(c)
        }
      }: _*)
    // the post-image must satisfy the table's CHECK constraints — gate on
    // exactly the rows the update produces, not the carried ones
    enforceConstraints(st, applied(rows.filter(hit), always = true))
    landCow(st, touched,
      Some(rows.filter(hit).withColumn("_change_type", lit("update_pre"))
        .unionByName(applied(rows.filter(hit), always = true)
          .withColumn("_change_type", lit("update_post")))),
      Seq(applied(rows, always = false).hint("rebalance")), meta)
  }

  /** Row-level DELETE of `column BETWEEN lower AND upper`, copy-on-write:
    * the stats index narrows the rewrite to the files that can contain a
    * matching row; every other file is CARRIED into the new manifest
    * untouched (same path, same bytes — prior versions keep reading it
    * too). Rows where the predicate is NULL survive, per SQL DELETE
    * semantics. Returns the new version — or the current one unchanged when
    * stats prove nothing matches (a provable no-op publishes nothing).
    * History is rewritten for the affected files, so [[readChanges]] across
    * a delete fails loudly, exactly like a replace commit.
    */
  def deleteRange(spark: SparkSession, dir: String, column: String,
      lower: Option[Any], upper: Option[Any]): Int = {
    import org.apache.spark.sql.functions.lit
    val st = new TableState(spark, dir)
    val (affected, _) = pruneAt(st, st.version, Seq((column, lower, upper)))
    if (affected.isEmpty) return st.version
    val hit = inRange(column, lower, upper)
    // masked read: a row a prior merge-on-read delete already masked must
    // neither resurrect in the rewrite nor re-surface in the change feed
    val rows = st.rows(affected)
    // no rebalance here: coalescing a range-delete's rewritten files to one
    // defeats per-file bloom/stat skipping on the surviving rows at small
    // scale (SnapshotSpec's rewrites-preserve-bloom lock); the rewrite
    // keeps the incoming partitioning instead
    landCow(st, affected,
      Some(rows.filter(hit).withColumn("_change_type", lit("delete"))),
      Seq(rows.filter(!hit)), Map.empty)
  }
}
