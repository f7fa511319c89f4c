package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables => T}

/** Scan / projection / filter / pruning / sort / set-op / join operators.
  *
  * Reference semantics (SURVEY.md §2A): S1 directory scan (`Gddp.scala:61-68`),
  * P1 variable projection (`Gddp.scala:114-115,134-137`), F1 file pruning by
  * time-interval overlap (`Gddp.scala:132-138`), F2 temporal range filter
  * (`Gddp.scala:213-221`), F3 spatial bbox hyperslab (`Gddp.scala:73-94,224-226`),
  * L1 nearest-neighbor argmin (`Gddp.scala:25-38`). Joins / set ops / top-k are
  * §2B generalizations the reference lacks. All plans are declarative DataFrames
  * so Catalyst pushes filters and prunes columns at the parquet scan; dimension
  * sides of joins are explicitly broadcast (they are bounded catalog-sized
  * tables, like the reference's coord arrays §1.4).
  */
object Relational extends QueryModule {

  /** S1: full scan with stable total order. */
  private def qScan(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  /** P1: projection — Catalyst column pruning reaches the scan (ReadSchema). */
  private def qProject(s: SparkSession, d: String): DataFrame =
    T.orders(s, d).select("o_orderkey", "o_totalprice").orderBy("o_orderkey")

  /** F1+S3: catalog build (per-"file" min/max time) + interval-overlap pruning.
    * The relational form of `Gddp.scala:118-139`: month-bucketed "files" with
    * `[ts_min, ts_max]` metadata; keep files overlapping the query interval.
    */
  private def qPrune(s: SparkSession, d: String): DataFrame = {
    val cat = T.orders(s, d)
      .groupBy(date_trunc("month", col("o_orderdate")).as("file"))
      .agg(min("o_orderdate").as("ts_min"), max("o_orderdate").as("ts_max"))
    cat
      .filter(col("ts_max") >= lit("1995-03-15").cast("timestamp") &&
        col("ts_min") <= lit("1995-06-15").cast("timestamp"))
      .orderBy("file")
  }

  /** F2: inclusive date-range filter (start-of-day .. end-of-day, `Gddp.scala:213-221`). */
  private def qTimeFilter(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_shipdate")
      .filter(col("l_shipdate").between(
        lit("1996-01-01 00:00:00").cast("timestamp"),
        lit("1996-03-31 23:59:59").cast("timestamp")))
      .orderBy("l_orderkey", "l_linenumber")

  /** F3: conjunctive 2-D range predicate (the bbox hyperslab, `Gddp.scala:206-210`).
    * On parquet both ranges push down to row-group min/max skipping.
    */
  private def qBbox(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .filter(col("l_quantity").between(10, 20) &&
        col("l_extendedprice").between(20000, 40000))
      .orderBy("l_orderkey", "l_linenumber")

  // (applicationId, dataset)-keyed for the same session-conf reason as
  // compactedLayouts below
  private val zorderedLayouts =
    scala.collection.mutable.Map[(String, String), String]()

  /** One-time Z-order-clustered lineitem layout over the q_bbox filter
    * dimensions (quantity × extendedprice, quantized to ints). Like the
    * bucketed and hive-partitioned layouts, this is the ingest-time ETL
    * step; Bench warms it so the measured query is the pruned scan.
    */
  def prepareZOrderedLayout(s: SparkSession, d: String): String =
    zorderedLayouts.synchronized {
      zorderedLayouts.getOrElseUpdate((s.sparkContext.applicationId, d), {
        val dir = java.nio.file.Files.createTempDirectory("graft-zorder")
          .toFile.getAbsolutePath
        Scale.writeZOrdered(
          T.lineitem(s, d)
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
          floor(col("l_quantity")).cast("int"),
          floor(col("l_extendedprice") / 1000).cast("int"),
          dir, files = 16)
        dir
      })
    }

  /** The q_bbox 2-D range filter over the Z-ordered layout: identical rows
    * (shares q_bbox's oracle verbatim), but matches concentrate in the few
    * files whose min/max stats overlap the box — ScaleSpec asserts the
    * clustering beats an unclustered layout on files touched.
    */
  private def qBboxZorder(s: SparkSession, d: String): DataFrame =
    s.read.parquet(prepareZOrderedLayout(s, d))
      .filter(col("l_quantity").between(10, 20) &&
        col("l_extendedprice").between(20000, 40000))
      // (orderkey, linenumber) is NOT unique in the synthetic lineitem and
      // the clustered layout permutes row order, so the sort must be total
      // for the oracle compare
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")

  // keyed on (applicationId, dataset) like Tables.PersistedCache: the dir
  // outlives any one session, but a fresh session rebuilds under ITS OWN
  // Hadoop conf instead of inheriting a layout written under another's
  private val compactedLayouts =
    scala.collection.mutable.Map[(String, String), String]()

  /** One-time small-file fixture + its compaction: lineitem written as 48
    * tiny files (the layout incremental/streaming ingest leaves behind),
    * then [[Scale.compactParquet]] re-packs it into ~6 target-sized files.
    * Like the other layout queries, the ETL is ingest-time state Bench
    * warms; the measured query is the post-maintenance scan.
    */
  def prepareCompactedLayout(s: SparkSession, d: String): String =
    compactedLayouts.synchronized {
      compactedLayouts.getOrElseUpdate((s.sparkContext.applicationId, d), {
        val base = java.nio.file.Files.createTempDirectory("graft-compact")
          .toFile.getAbsolutePath
        val small = s"$base/small"; val out = s"$base/compacted"
        T.lineitem(s, d).repartition(48).write.parquet(small)
        val total = Scale.listParquet(s, small).map(_._2).sum
        Scale.compactParquet(s, small, out,
          targetBytes = math.max(total / 6, 64L << 10))
        out
      })
    }

  /** Storage maintenance: the small-file compaction round-trip. The oracle
    * reads the ORIGINAL lineitem — proving the re-pack preserved every row
    * (group counts + value checksums per flag/status). ScaleSpec locks the
    * mechanics (file count shrink, no-shuffle single-job re-pack).
    */
  private def qCompact(s: SparkSession, d: String): DataFrame =
    s.read.parquet(prepareCompactedLayout(s, d))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** L1: nearest-neighbor argmin with the reference's first-index tie-break
    * (`Gddp.scala:31-34` → ORDER BY dist, key LIMIT 1). Spark plans this as
    * TakeOrderedAndProject — no global sort materialization.
    */
  private def qNearest(s: SparkSession, d: String): DataFrame =
    T.customer(s, d)
      .select(col("c_custkey"), col("c_name"),
        round(pow(col("c_acctbal") - 5000.0d, 2), 4).as("dist2"))
      .orderBy(pow(col("c_acctbal") - 5000.0d, 2), col("c_custkey"))
      .limit(1)

  /** Top-k: TakeOrderedAndProject (per-partition top-k + merge, no full sort). */
  private def qTopk(s: SparkSession, d: String): DataFrame =
    T.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)

  /** Distinct: hash-aggregate dedup on a key triple. */
  private def qDistinct(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d)
      .select("l_returnflag", "l_linestatus", "l_shipdate")
      .distinct()
      .orderBy("l_returnflag", "l_linestatus", "l_shipdate")

  // ---- set ops ----

  private def qUnion(s: SparkSession, d: String): DataFrame =
    T.customer(s, d).select(col("c_custkey").as("k"), lit("cust").as("src"))
      .unionAll(T.supplier(s, d).select(col("s_suppkey").as("k"), lit("supp").as("src")))
      .orderBy("k", "src")

  /** Schema-evolution union: columns matched BY NAME with a column missing on
    * one side filled as NULL (`unionByName(allowMissingColumns)`) — how a
    * pipeline appends batches whose schema gained a column.
    */
  private def qUnionByName(s: SparkSession, d: String): DataFrame =
    T.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        round(col("c_acctbal"), 2).as("bal"))
      .unionByName(
        T.supplier(s, d).select(col("s_suppkey").as("k"), col("s_name").as("name")),
        allowMissingColumns = true)
      .orderBy("k", "name")

  private def qIntersect(s: SparkSession, d: String): DataFrame =
    T.lineitem(s, d).select("l_orderkey")
      .intersect(T.orders(s, d).filter(col("o_totalprice") > 50000)
        .select(col("o_orderkey").as("l_orderkey")))
      .orderBy("l_orderkey")

  private def qExcept(s: SparkSession, d: String): DataFrame =
    T.orders(s, d).select("o_orderkey")
      .except(T.lineitem(s, d).filter(col("l_quantity") > 45)
        .select(col("l_orderkey").as("o_orderkey")))
      .orderBy("o_orderkey")

  // ---- joins (§2B) ----

  /** Equi inner join chain; nation/region broadcast (bounded dims — at 100 TB
    * they stay dim-sized, like the reference's coord tables §1.4).
    */
  private def qJoinInner(s: SparkSession, d: String): DataFrame = {
    val o = T.orders(s, d); val c = T.customer(s, d)
    val n = T.nation(s, d); val r = T.region(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name", "r_name")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("n_name", "r_name")
  }

  /** Left outer join preserving customers without orders. */
  private def qJoinLeft(s: SparkSession, d: String): DataFrame = {
    val c = T.customer(s, d); val o = T.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum("o_totalprice"), lit(0d)), 2).as("spend"))
      .orderBy("c_custkey")
  }

  /** Left-semi join (EXISTS). */
  private def qJoinSemi(s: SparkSession, d: String): DataFrame = {
    val c = T.customer(s, d)
    val big = T.orders(s, d).filter(col("o_totalprice") > 100000).select("o_custkey")
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS). */
  private def qJoinAnti(s: SparkSession, d: String): DataFrame = {
    val c = T.customer(s, d)
    val big = T.orders(s, d).filter(col("o_totalprice") > 100000).select("o_custkey")
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Full outer join: high-balance customers vs high-spend order rollups —
    * either side can be unmatched. Both inputs are unique on the key, so the
    * coalesced key is a deterministic total order for the oracle.
    */
  private def qJoinFull(s: SparkSession, d: String): DataFrame = {
    val c = T.customer(s, d).filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
    val o = T.orders(s, d).groupBy(col("o_custkey"))
      .agg(round(sum("o_totalprice"), 2).as("spend"))
      .filter(col("spend") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "full")
      .select(coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
        col("acctbal"), col("spend"))
      .orderBy("custkey")
  }

  /** Cartesian product of the two bounded dims (25 × 5 rows) — the one join
    * type where "small by construction" is the only acceptable plan.
    */
  private def qJoinCross(s: SparkSession, d: String): DataFrame =
    T.nation(s, d).crossJoin(T.region(s, d))
      .select("n_nationkey", "r_regionkey")
      .orderBy("n_nationkey", "r_regionkey")

  /** Uncorrelated scalar subquery (global average as a broadcast scalar),
    * through the `spark.sql` entry over a registered view — the SQL-string
    * surface users of the reference's HTTP API would reach for.
    */
  private def qSubqueryScalar(s: SparkSession, d: String): DataFrame = {
    T.customer(s, d).createOrReplaceTempView("graft_customer_v")
    s.sql(
      """SELECT c_custkey,
        |  round(c_acctbal - (SELECT avg(c_acctbal) FROM graft_customer_v), 2) AS delta
        |FROM graft_customer_v ORDER BY c_custkey""".stripMargin)
  }

  /** Correlated scalar subquery — Catalyst decorrelates it into an aggregate
    * + join, so it runs as two shuffles, not a per-row re-query.
    */
  private def qSubqueryCorr(s: SparkSession, d: String): DataFrame = {
    T.orders(s, d).createOrReplaceTempView("graft_orders_v")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM graft_orders_v o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM graft_orders_v o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Non-equi band (range) join — broadcast nested-loop with the small side
    * broadcast; the generalization of the bbox predicate to two tables.
    */
  private def qJoinRange(s: SparkSession, d: String): DataFrame = {
    val p = T.part(s, d); val sup = T.supplier(s, d)
    p.join(broadcast(sup),
        p("p_retailprice").between(sup("s_acctbal") - 100, sup("s_acctbal") + 100))
      .select("p_partkey", "s_suppkey")
      .orderBy("p_partkey", "s_suppkey")
  }

  /** The SCALE form of the range join: bin both sides at the interval width
    * (every interval spans ≤ 2 bins, every point exactly 1), equi-join on
    * the bin, then filter exact. The plan becomes a hash/merge join keyed on
    * `b` — both sides shuffle-partition by bin at any size — instead of the
    * broadcast nested-loop of `q_join_range`, which requires one side to fit
    * in memory. Identical results (shares the oracle verbatim); each
    * matching pair meets in exactly one bin, so no distinct is needed.
    */
  private def qJoinRangeBinned(s: SparkSession, d: String): DataFrame = {
    val bin = 200
    val p = T.part(s, d).select(col("p_partkey"), col("p_retailprice"),
      floor(col("p_retailprice") / bin).cast("long").as("b"))
    val sup = T.supplier(s, d).select(col("s_suppkey"), col("s_acctbal"),
      explode(sequence(floor((col("s_acctbal") - 100) / bin).cast("long"),
        floor((col("s_acctbal") + 100) / bin).cast("long"))).as("b"))
    p.join(sup, "b")
      .filter(col("p_retailprice")
        .between(col("s_acctbal") - 100, col("s_acctbal") + 100))
      .select("p_partkey", "s_suppkey")
      .orderBy("p_partkey", "s_suppkey")
  }

  /** Co-located fact-fact join over bucketed+sorted tables: both sides were
    * laid out bucketed by the join key (`Scale.writeBucketed`), so the
    * sort-merge join plans with NO shuffle exchange — the shuffle was paid
    * once at layout time. The `merge` hint pins SMJ (broadcast would also be
    * exchange-free but wouldn't demonstrate the layout); ScaleSpec asserts the
    * exchange-free plan property directly.
    */
  private val bucketedTables = scala.collection.mutable.Map[String, (String, String)]()

  /** One-time bucketed-table layout (the ETL step a real deployment pays at
    * ingest, not per query). Table names are keyed by the dataset dir — a
    * second dataset in the same JVM gets its OWN tables instead of silently
    * poisoning a shared name. Bench warms this so the measured query time is
    * the exchange-free join, not the layout write.
    */
  def prepareBucketedLayout(s: SparkSession, d: String): (String, String) =
    bucketedTables.synchronized {
      bucketedTables.getOrElseUpdate(d, {
        val suffix = java.lang.Long.toHexString(
          org.apache.spark.unsafe.types.UTF8String.fromString(d).hashCode().toLong & 0xffffffffL)
        val (to, tc) = (s"graft_orders_b_$suffix", s"graft_customer_b_$suffix")
        Scale.writeBucketed(T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
          to, "o_custkey", 8)
        Scale.writeBucketed(T.customer(s, d).select("c_custkey", "c_mktsegment"),
          tc, "c_custkey", 8)
        (to, tc)
      })
    }

  /** Hive-style partitioned fact layout (dir per `l_returnflag`) — the other
    * half of the ingest-time story next to the bucketed layout: bucketing
    * pre-pays the join shuffle, partitioning makes partition PRUNING possible
    * at plan or run time.
    */
  private val partitionedFacts = scala.collection.mutable.Map[String, (String, String)]()

  /** Returns (fact dir, dim dir). The dim must be a SCANNED relation — a
    * driver-local `Seq(...).toDF` never triggers DPP (no scan to estimate),
    * which is itself the realistic shape: dims live in storage.
    */
  def preparePartitionedFact(s: SparkSession, d: String): (String, String) =
    partitionedFacts.synchronized {
      partitionedFacts.getOrElseUpdate(d, {
        import s.implicits._
        val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toFile.getAbsolutePath
        T.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
          .write.mode("overwrite").partitionBy("l_returnflag").parquet(s"$dir/fact")
        Seq(("A", "closed"), ("N", "open"), ("R", "closed")).toDF("flag", "status")
          .write.mode("overwrite").parquet(s"$dir/dim")
        (s"$dir/fact", s"$dir/dim")
      })
    }

  /** Dynamic partition pruning: the fact is partitioned on the join key, the
    * selective predicate lives on the DIMENSION side only — so no static
    * filter reaches the fact scan, and Catalyst instead installs a runtime
    * `dynamicpruning` subquery (reusing the dim broadcast) that skips whole
    * fact partitions before any fact bytes are read. At 100 TB this is the
    * difference between scanning every date/flag directory and scanning the
    * two the dim selects. PlansSpec asserts the dynamicpruning expression is
    * present in the fact scan's PartitionFilters.
    */
  private def qDpp(s: SparkSession, d: String): DataFrame = {
    val (factDir, dimDir) = preparePartitionedFact(s, d)
    val fact = s.read.parquet(factDir)
    val dim = s.read.parquet(dimDir)
    fact.join(broadcast(dim), fact("l_returnflag") === dim("flag"))
      .filter(col("status") === "closed")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("l_returnflag")
  }

  private def qJoinBucketed(s: SparkSession, d: String): DataFrame = {
    val (to, tc) = prepareBucketedLayout(s, d)
    val o = s.table(to); val c = s.table(tc)
    o.join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("c_mktsegment")
  }

  /** Snapshot time travel over a manifest-versioned table ([[Snapshots]]):
    * v1 = initial load, v2 = append commit, v3 = REPLACE commit rewriting
    * v2's content (the compaction shape). The query reads all three pinned
    * versions and aggregates each — v1's result is provably unchanged by
    * later commits (its manifest's files are immutable) and v3 must equal
    * v2 row-for-row despite a different file layout. Fixture built once per
    * JVM per sf dir; the oracle states each version as its defining slice.
    */
  private val snapDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapDir(s: SparkSession, d: String): String =
    snapDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snap").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 3 === 0))
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 3 === 1))
      Snapshots.commit(s, dir,
        Snapshots.read(s, dir).coalesce(2), replace = true)
      dir
    })

  /** A snapshot table CLUSTERED on the prune key: one commit of orders
    * range-partitioned on o_orderkey, so the manifest's per-file min/max
    * stats (read from the parquet footers at commit) carve the keyspace
    * into near-disjoint intervals — the layout data skipping is built for.
    */
  private val snapSkipDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapSkipDir(s: SparkSession, d: String): String =
    snapSkipDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapskip").toFile.getAbsolutePath
      Snapshots.commit(s, dir,
        T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(8, col("o_orderkey")))
      dir
    })

  /** Stats-pruned snapshot read (Delta/Iceberg data skipping): the manifest's
    * per-file min/max index rules files out BEFORE Spark plans the scan, the
    * residual filter keeps the result exact. SnapshotSpec locks that this
    * interval actually skips files on the clustered layout; the oracle is
    * the plain BETWEEN over the source table.
    */
  private def qSnapshotSkip(s: SparkSession, d: String): DataFrame =
    Snapshots.readRange(s, snapSkipDir(s, d), "o_orderkey",
        Some(100L), Some(1099L))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** The same clustered table after a copy-on-write row-level DELETE: the
    * stats index narrows the rewrite to the files whose [min, max] can hold
    * a matching key, every other file is carried into the new manifest
    * byte-identical (SnapshotSpec locks the carried-path identity). The
    * query reads the post-delete snapshot; the oracle states the surviving
    * rows directly.
    */
  private val snapDelDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapDelDir(s: SparkSession, d: String): String =
    snapDelDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapdel").toFile.getAbsolutePath
      Snapshots.commit(s, dir,
        T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(8, col("o_orderkey")))
      Snapshots.deleteRange(s, dir, "o_orderkey", Some(200L), Some(699L))
      dir
    })

  private def qSnapshotDelete(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapDelDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** OPTIMIZE ZORDER + 2-D skipping: the table is re-clustered
    * ([[Snapshots.cluster]]) on the Morton key of the bucket ranks of
    * (o_custkey, o_orderkey), so BOTH columns' per-file stats are tight and
    * the conjunctive range read
    * prunes on each dimension independently (SnapshotSpec locks that either
    * dimension alone skips files on this layout — the property 1-D range
    * clustering cannot give). Oracle is the plain 2-D BETWEEN.
    */
  private val snapZDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapZDir(s: SparkSession, d: String): String =
    snapZDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapz").toFile.getAbsolutePath
      Snapshots.commit(s, dir,
        T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"))
      Snapshots.cluster(s, dir, Seq("o_custkey", "o_orderkey"), 16)
      dir
    })

  /** Hilbert twin of [[snapZDir]]: the same orders table re-clustered on
    * the seam-free curve ([[Snapshots.Curve.Hilbert]]); the declared box
    * query prunes through the identical [[Snapshots.readRanges]] stats
    * machinery, so the oracle is a plain range filter.
    */
  private val snapHDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapHDir(s: SparkSession, d: String): String =
    snapHDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snaph").toFile.getAbsolutePath
      Snapshots.commit(s, dir,
        T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"))
      Snapshots.cluster(s, dir, Seq("o_custkey", "o_orderkey"), 16,
        Snapshots.Curve.Hilbert)
      dir
    })

  /** N-COLUMN Z-order twin of [[snapZDir]], exercising NON-INT dimensions:
    * the table re-clusters on the interleaved bucket ranks of (o_custkey
    * BIGINT, o_orderdate TIMESTAMP, o_totalprice DOUBLE) —
    * [[Snapshots.cluster]] canonicalizes each column against
    * sampled boundaries, so every dimension's per-file stats come out tight
    * and the conjunctive 3-D read skips on each one (SnapshotSpec locks
    * per-dimension skip counts). The oracle is the plain 3-way BETWEEN.
    */
  private val snapZColsDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapZColsDir(s: SparkSession, d: String): String =
    snapZColsDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapzc").toFile.getAbsolutePath
      Snapshots.commit(s, dir, T.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"))
      Snapshots.cluster(s, dir,
        Seq("o_custkey", "o_orderdate", "o_totalprice"), 16)
      dir
    })

  /** N-column HILBERT twin of [[snapZColsDir]]: the same 3 mixed-type
    * dimensions re-clustered on the d-dimensional Hilbert key
    * ([[Snapshots.Curve.Hilbert]], the seam-free curve) — per-file
    * stats come out tight on every dimension, same pruning machinery,
    * tighter average envelopes. The oracle is the plain 3-way BETWEEN.
    */
  private val snapHColsDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapHColsDir(s: SparkSession, d: String): String =
    snapHColsDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snaphc").toFile.getAbsolutePath
      Snapshots.commit(s, dir, T.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"))
      Snapshots.cluster(s, dir,
        Seq("o_custkey", "o_orderdate", "o_totalprice"), 16,
        Snapshots.Curve.Hilbert)
      dir
    })

  private def qSnapshotHilbertCols(s: SparkSession, d: String): DataFrame =
    Snapshots.readRanges(s, snapHColsDir(s, d), Seq(
        ("o_custkey", Some(50L), Some(120L)),
        ("o_orderdate", Some(utcTs("1993-01-01T00:00:00")),
          Some(utcTs("1995-06-30T23:59:59"))),
        ("o_totalprice", Some(50000.0), Some(250000.0))))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  private def utcTs(iso: String): java.time.Instant =
    java.time.LocalDateTime.parse(iso).toInstant(java.time.ZoneOffset.UTC)

  private def qSnapshotZorderCols(s: SparkSession, d: String): DataFrame =
    Snapshots.readRanges(s, snapZColsDir(s, d), Seq(
        ("o_custkey", Some(10L), Some(40L)),
        ("o_orderdate", Some(utcTs("1995-01-01T00:00:00")),
          Some(utcTs("1996-12-31T23:59:59"))),
        ("o_totalprice", Some(0.0), Some(150000.0))))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Change-data-feed fixture: append → append → MERGE (updates + inserts)
    * → range DELETE, so the feed carries every `_change_type`. Keys are
    * `o_orderkey`, payload `o_totalprice`; the merge bumps every 10th key
    * by 1000 (matched keys update, unmatched insert), the delete removes
    * keys in [100, 499].
    */
  private val snapCdfDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapCdfDir(s: SparkSession, d: String): String =
    snapCdfDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapcdf").toFile.getAbsolutePath
      val orders = T.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("p"))
      Snapshots.commit(s, dir, orders.filter(col("k") % 3 === 0))
      Snapshots.commit(s, dir, orders.filter(col("k") % 3 === 1))
      Snapshots.mergeInto(s, dir,
        orders.filter(col("k") % 10 === 0)
          .select(col("k"), (col("p") + 1000).as("p")), "k")
      Snapshots.deleteRange(s, dir, "k", Some(100L), Some(499L))
      dir
    })

  /** CDF-maintained mview fixture: the view refreshes INCREMENTALLY across
    * an append, a merge, and a delete (Mview.refreshViaFeed — the plain
    * refresh refuses on both rewrites), with a refresh interleaved after
    * each phase so every feed shape folds through the signed-weight path.
    */
  private val mviewCdfDirs = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def mviewCdfDir(s: SparkSession, d: String): (String, String) =
    mviewCdfDirs.computeIfAbsent(d, _ => {
      val src = java.nio.file.Files.createTempDirectory("graft-mvcdf-src").toFile.getAbsolutePath
      val view = java.nio.file.Files.createTempDirectory("graft-mvcdf-v").toFile.getAbsolutePath
      val orders = T.orders(s, d).select((col("o_orderkey") % 7).as("g"),
        col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      Snapshots.commit(s, src, orders.filter(col("k") % 3 === 0))
      Mview.refreshViaFeed(s, src, view, Seq("g"), Seq("p")) // initial build
      Snapshots.commit(s, src, orders.filter(col("k") % 3 === 1))
      Snapshots.mergeInto(s, src,
        orders.filter(col("k") % 10 === 0)
          .select(col("g"), col("k"), (col("p") + 1000).as("p")), "k")
      Mview.refreshViaFeed(s, src, view, Seq("g"), Seq("p")) // append + merge
      Snapshots.deleteRange(s, src, "k", Some(100L), Some(499L))
      Mview.refreshViaFeed(s, src, view, Seq("g"), Seq("p")) // delete fold
      src -> view
    })

  /** Extrema-maintained twin of [[mviewCdfDir]]: the view carries
    * min_p/max_p through an append (pure-insert fold tier), an upsert
    * merge and a range delete (targeted per-group recompute tier —
    * Mview.refreshViaFeed semi-joins the source to just the feed-deleted
    * groups). A refresh lands after EVERY phase so both tiers execute.
    */
  private val mviewMmDirs = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def mviewMmDir(s: SparkSession, d: String): (String, String) =
    mviewMmDirs.computeIfAbsent(d, _ => {
      val src = java.nio.file.Files.createTempDirectory("graft-mvmm-src").toFile.getAbsolutePath
      val view = java.nio.file.Files.createTempDirectory("graft-mvmm-v").toFile.getAbsolutePath
      val orders = T.orders(s, d).select((col("o_orderkey") % 7).as("g"),
        col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      def refresh(): Unit = {
        Mview.refreshViaFeed(s, src, view, Seq("g"), Seq("p"), Seq("p")); ()
      }
      Snapshots.commit(s, src, orders.filter(col("k") % 3 === 0))
      refresh() // initial build with extrema
      Snapshots.commit(s, src, orders.filter(col("k") % 3 === 1))
      refresh() // pure-insert tier: least/greatest fold
      Snapshots.mergeInto(s, src,
        orders.filter(col("k") % 10 === 0)
          .select(col("g"), col("k"), (col("p") + 1000).as("p")), "k")
      refresh() // update_pre rows: targeted recompute tier
      Snapshots.deleteRange(s, src, "k", Some(100L), Some(499L))
      refresh() // delete rows: targeted recompute tier
      src -> view
    })

  /** The extrema-maintained view read back: any drift in either tier —
    * a stale folded max after the merge bumped prices, a min that should
    * have RISEN after the delete removed a group's smallest rows — hash-
    * mismatches against the oracle's direct aggregation of final state.
    */
  private def qMviewMinmax(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, mviewMmDir(s, d)._2)
      .select(col("g"), col("cnt"), round(col("sum_p"), 2).as("total"),
        col("cntv_p").as("n_priced"),
        round(col("min_p"), 2).as("min_p"), round(col("max_p"), 2).as("max_p"))
      .orderBy("g")

  /** The row-level change feed folded per (version, change type) — what a
    * downstream incremental consumer (mview, reverse ETL, cache invalidator)
    * reads instead of re-scanning the table after merges and deletes. The
    * oracle restates every change set from the base data: v2's inserts, the
    * merge's update_pre/update_post/insert split by key existence, and the
    * delete's removed rows from the post-merge table state.
    */
  private def qSnapshotCdf(s: SparkSession, d: String): DataFrame =
    Snapshots.readChangeFeed(s, snapCdfDir(s, d), 1, 4)
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), round(sum("p"), 2).as("total"))
      .orderBy("version", "change_type")

  /** The CDF-maintained view itself: exact counts and sums after an
    * append, an upsert-merge, and a range delete all folded incrementally
    * (the oracle aggregates the final state directly — any drift in the
    * signed-weight math would hash-mismatch).
    */
  private def qMviewCdf(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, mviewCdfDir(s, d)._2)
      .select(col("g"), col("cnt"), round(col("sum_p"), 2).as("total"),
        col("cntv_p").as("n_priced"))
      .orderBy("g")

  /** Incrementally-clustered twin of [[snapZDir]]: the even-key half is
    * clustered by the FULL rewrite, the odd-key half arrives afterwards
    * and is clustered by an incremental [[Snapshots.cluster]] pass — only the
    * appended tail is rewritten (SnapshotSpec locks carried-file identity
    * and the no-op pass). The read proves 2-D skipping holds across BOTH
    * clustered chunks; the oracle is the same plain 2-D BETWEEN over all
    * the data.
    */
  private val snapZIncDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapZIncDir(s: SparkSession, d: String): String =
    snapZIncDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapzi").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 2 === 0))
      Snapshots.cluster(s, dir, Seq("o_custkey", "o_orderkey"), 8)
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 2 === 1))
      Snapshots.cluster(s, dir, Seq("o_custkey", "o_orderkey"), 8,
        incremental = true)
      dir
    })

  private def qSnapshotZorderInc(s: SparkSession, d: String): DataFrame =
    Snapshots.readRanges(s, snapZIncDir(s, d), Seq(
        ("o_custkey", Some(10L), Some(40L)),
        ("o_orderkey", Some(0L), Some(999L))))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** WRITE-AUDIT-PUBLISH (Iceberg's WAP workflow on the snapshots format):
    * a good candidate batch stages invisibly, its audit queries run on the
    * as-if-published view ([[Snapshots.readStaged]]), and only then does a
    * pure-metadata publish make it the next version; a bad candidate
    * (negated prices) fails the same audit and discards without a trace.
    * The declared read is the final table — hash-green proves staged rows
    * neither leaked early nor got lost at publish. At 100 TB the audit
    * costs one scan of the CANDIDATE files plus the current table, and
    * publish stays O(metadata).
    */
  private val snapWapDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapWapDir(s: SparkSession, d: String): String =
    snapWapDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapwap").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 4 === 0))
      def audit(token: String): Boolean =
        Snapshots.readStaged(s, dir, token)
          .filter(col("o_totalprice") <= 0 || col("o_orderkey").isNull)
          .isEmpty
      val good = Snapshots.stageCommit(s, dir,
        orders.filter(col("o_orderkey") % 4 === 1),
        meta = Map("wap" -> "audited"))
      require(audit(good), "good WAP candidate failed its audit")
      Snapshots.publishStaged(s, dir, good)
      val bad = Snapshots.stageCommit(s, dir,
        orders.filter(col("o_orderkey") % 4 === 2)
          .withColumn("o_totalprice", -col("o_totalprice")))
      require(!audit(bad), "bad WAP candidate passed its audit")
      Snapshots.discardStaged(s, dir, bad)
      require(Snapshots.stagedTokens(s, dir).isEmpty, "staged debris left")
      dir
    })

  private def qSnapshotWap(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapWapDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Named TAGS (Iceberg refs): "golden" pins the first commit, two more
    * commits land, and an aggressive retention sweep (`expire` to head) is
    * CLAMPED by the tag — the tagged version must still read exactly its
    * original content afterwards. The declared result is the tagged read
    * next to the head read; the oracle states both from the source table.
    */
  private val snapTagDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapTagDir(s: SparkSession, d: String): String =
    snapTagDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snaptag").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 3 === 0))
      Snapshots.setTag(s, dir, "golden", 1)
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 3 === 1))
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 3 === 2))
      // the sweep wants to keep only the head; the tag must survive it
      Snapshots.expire(s, dir, keepFrom = Snapshots.currentVersion(s, dir).get)
      require(Snapshots.versions(s, dir).contains(1), "expire dropped the tag")
      dir
    })

  private def qSnapshotTag(s: SparkSession, d: String): DataFrame = {
    val dir = snapTagDir(s, d)
    def agg(df: DataFrame, ref: String) =
      df.agg(lit(ref).as("ref"), count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))
    agg(Snapshots.readTag(s, dir, "golden"), "golden")
      .unionByName(agg(Snapshots.read(s, dir), "head"))
      .orderBy("ref")
  }

  /** REPLACE WHERE — the idempotent partition-reload idiom (Delta's
    * replaceWhere): the key region [1000, 1999] is atomically swapped for
    * a recomputed slice (only the even keys, prices bumped by 100) in ONE
    * commit; a row outside the region refuses (the builder proves it).
    * The oracle restates the final table: everything outside the region
    * untouched, inside it only the recomputed rows.
    */
  private val snapRwDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapRwDir(s: SparkSession, d: String): String =
    snapRwDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snaprw").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.repartitionByRange(8, col("o_orderkey")))
      val recomputed = orders
        .filter(col("o_orderkey").between(1000, 1999) && col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
      val escaped =
        try { Snapshots.replaceWhere(s, dir,
            recomputed.unionByName(orders.filter(col("o_orderkey") === 5L)),
            "o_orderkey", Some(1000L), Some(1999L)); false }
        catch { case _: IllegalArgumentException => true }
      require(escaped, "replaceWhere accepted a row outside the region")
      Snapshots.replaceWhere(s, dir, recomputed,
        "o_orderkey", Some(1000L), Some(1999L))
      dir
    })

  private def qSnapshotReplaceWhere(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapRwDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Table CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT): price
    * positivity and key NOT NULL gate every commit and merge — a violating
    * batch refuses ATOMICALLY before any metadata publishes (the builder
    * proves both refusals), and valid appends/updates land normally. The
    * declared read is the final table; the oracle restates the surviving
    * commits + the merge's price bump in SQL.
    */
  private val snapConsDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapConsDir(s: SparkSession, d: String): String =
    snapConsDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapcons").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 5 === 0))
      Snapshots.addCheckConstraint(s, dir, "price_pos", "o_totalprice > 0")
      Snapshots.addCheckConstraint(s, dir, "key_not_null", "o_orderkey IS NOT NULL")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 5 === 1))
      val refusedCommit =
        try { Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 5 === 2)
            .withColumn("o_totalprice", -col("o_totalprice"))); false }
        catch { case _: IllegalArgumentException => true }
      require(refusedCommit, "violating commit was accepted")
      require(Snapshots.currentVersion(s, dir).contains(2),
        "refused commit still published a version")
      val refusedMerge =
        try { Snapshots.mergeInto(s, dir,
            orders.filter(col("o_orderkey") % 10 === 5)
              .withColumn("o_totalprice", lit(-1.0)), "o_orderkey"); false }
        catch { case _: IllegalArgumentException => true }
      require(refusedMerge, "violating merge was accepted")
      Snapshots.mergeInto(s, dir,
        orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(7.5)),
        "o_orderkey")
      dir
    })

  private def qSnapshotConstraint(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapConsDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** MERGE INTO the clustered snapshot table: updates bump the price of
    * every 10th key in [0, 1000), inserts add 50 brand-new keys above the
    * keyspace. Touched-file discovery (envelope prune + one key-join scan)
    * keeps the rewrite to the files really holding a matched key —
    * SnapshotSpec locks the carried-file identity; the oracle states the
    * merged table directly as CASE + UNION ALL.
    */
  private val snapMergeDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapMergeDir(s: SparkSession, d: String): String =
    snapMergeDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapmrg").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.repartitionByRange(8, col("o_orderkey")))
      val updates = orders.filter(col("o_orderkey") < 1000 && col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      val inserts = orders.filter(col("o_orderkey") < 50)
        .withColumn("o_orderkey", col("o_orderkey") + lit(9000000L))
      Snapshots.mergeInto(s, dir, updates.unionByName(inserts), "o_orderkey")
      dir
    })

  private def qSnapshotMerge(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapMergeDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** The DSv2 CATALOG face ([[graft.sources.SnapshotCatalog]]): snapshot
    * tables mounted as `graftcat.<ns>.<table>`, exercised through plain
    * SQL — metadata-only `count(*)`, complete MIN/MAX/COUNT(col) pushdown,
    * and the full DML surface (`DELETE`/`UPDATE`/`MERGE INTO`) rewriting
    * into the format's copy-on-write commands. One warehouse per JVM, one
    * namespace per sf dir; the DML runs once at fixture build, the
    * declared queries read the post-DML state and the oracles restate it
    * over the source parquet. SqlCatalogSpec locks the plan shapes (the
    * count plan carries no data-file scan).
    */
  private val sqlCatWh = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sqlCatalogWh(s: SparkSession): String = {
    val wh = sqlCatWh.computeIfAbsent("wh", _ =>
      java.nio.file.Files.createTempDirectory("graft-sqlcat").toFile.getAbsolutePath)
    s.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.sources.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.graftcat.warehouse", wh)
    wh
  }
  private val sqlCatNs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sqlCatNsOf(s: SparkSession, d: String): String =
    sqlCatNs.computeIfAbsent(d, _ => {
      val wh = sqlCatalogWh(s)
      val ns = s"sf${Math.abs(d.hashCode)}"
      val orders = T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey"))
      // count fixture: the MoR-deleted table — the metadata count must
      // subtract the deletion-vector mask
      val dv = s"$wh/$ns/orders_dv"
      Snapshots.commit(s, dv, orders)
      Snapshots.deleteRangeMor(s, dv, "o_orderkey", Some(200L), Some(699L))
      Snapshots.deleteRangeMor(s, dv, "o_orderkey", Some(1200L), Some(1299L))
      // plain table for extrema pushdown + SQL DELETE / UPDATE targets
      Snapshots.commit(s, s"$wh/$ns/orders_plain", orders)
      Snapshots.commit(s, s"$wh/$ns/orders_del", orders)
      s.sql(s"""DELETE FROM graftcat.$ns.orders_del
               |WHERE o_custkey % 10 = 3 AND o_totalprice < 150000""".stripMargin)
      Snapshots.commit(s, s"$wh/$ns/orders_upd", orders)
      s.sql(s"""UPDATE graftcat.$ns.orders_upd
               |SET o_totalprice = o_totalprice * 1.1
               |WHERE o_orderkey BETWEEN 500 AND 1499""".stripMargin)
      // merge fixture: target = keys % 3 = 0; source = keys % 6 = 0 (half
      // the target: update-or-delete by price) plus % 3 = 1 (inserts);
      // unmatched target rows must carry unchanged
      Snapshots.commit(s, s"$wh/$ns/orders_mrg",
        T.orders(s, d).select("o_orderkey", "o_totalprice")
          .filter(col("o_orderkey") % 3 === 0)
          .repartitionByRange(4, col("o_orderkey")))
      T.orders(s, d).select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") % 6 === 0 || col("o_orderkey") % 3 === 1)
        .createOrReplaceTempView(s"src_mrg_$ns")
      s.sql(s"""MERGE INTO graftcat.$ns.orders_mrg t
               |USING src_mrg_$ns s ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED AND s.o_totalprice > 100000
               |  THEN UPDATE SET o_totalprice = s.o_totalprice + 5
               |WHEN MATCHED THEN DELETE
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // schema-EVOLVING SQL merge fixture: WITH SCHEMA EVOLUTION lands the
      // source-only o_disc column mid-statement (analyzer alterTable →
      // empty evolve commit), matched rows take values, untouched rows NULL
      Snapshots.commit(s, s"$wh/$ns/orders_mrgevo",
        T.orders(s, d).select("o_orderkey", "o_totalprice")
          .filter(col("o_orderkey") % 3 === 0)
          .repartitionByRange(4, col("o_orderkey")))
      // o_disc = price/2: exact in binary floating point, so the oracle's
      // per-row values match bit-for-bit (a round(x*0.1, 2) differs between
      // engines on representation-boundary cents)
      T.orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
          (col("o_totalprice") / 2).as("o_disc"))
        .filter(col("o_orderkey") % 6 === 0 || col("o_orderkey") % 3 === 1)
        .createOrReplaceTempView(s"src_evo_$ns")
      s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO graftcat.$ns.orders_mrgevo t
               |USING src_evo_$ns s ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      // partition-overwrite fixture: an identity(bucket)-partitioned table
      // reloaded twice — one STATIC `PARTITION (bucket='b1')` region swap
      // and one DYNAMIC overwrite touching b2 only — so the declared query
      // reads the composition of append + static swap + dynamic swap
      s.sql(s"CREATE TABLE graftcat.$ns.orders_part " +
        "(o_orderkey BIGINT, bucket STRING, o_totalprice DOUBLE) " +
        "PARTITIONED BY (bucket)")
      T.orders(s, d).select(col("o_orderkey"),
          concat(lit("b"), col("o_orderkey") % 3).as("bucket"), col("o_totalprice"))
        .createOrReplaceTempView(s"src_part_$ns")
      s.sql(s"INSERT INTO graftcat.$ns.orders_part SELECT * FROM src_part_$ns")
      s.sql(s"INSERT OVERWRITE graftcat.$ns.orders_part PARTITION (bucket = 'b1') " +
        s"SELECT o_orderkey, o_totalprice + 100 AS o_totalprice FROM src_part_$ns " +
        "WHERE bucket = 'b1' AND o_orderkey <= 1000")
      val prevMode = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try s.sql(s"INSERT OVERWRITE graftcat.$ns.orders_part " +
        s"SELECT o_orderkey, bucket, o_totalprice / 2 AS o_totalprice " +
        s"FROM src_part_$ns WHERE bucket = 'b2' AND o_orderkey > 500")
      finally prevMode match {
        case Some(m) => s.conf.set("spark.sql.sources.partitionOverwriteMode", m)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      // HIDDEN-PARTITIONED fixture (Iceberg's days transform): the INSERT
      // routes rows into one file per day, so a day-range filter plans
      // only that day's files (SqlCatalogSpec locks the kept-file count;
      // the declared query's oracle locks the rows)
      s.sql(s"CREATE TABLE graftcat.$ns.events_part " +
        "(event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
      T.events(s, d).select("event_id", "user_id", "event_type", "ts")
        .createOrReplaceTempView(s"src_evt_$ns")
      s.sql(s"INSERT INTO graftcat.$ns.events_part SELECT * FROM src_evt_$ns")
      ns
    })

  /** Named BRANCH workflow (Iceberg refs, the multi-commit WAP shape):
    * main holds the `%3 = 0` slice; a branch forks and accumulates TWO
    * audit-visible commits (the `%3 = 1` slice, then the `%3 = 2` slice
    * re-staged with a +7 price fix) while main readers stay pinned to the
    * fork; fastForward lands both as ONE atomic main commit. The declared
    * query reads the landed head; the oracle restates the three slices.
    */
  private val snapBranchDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapBranchDir(s: SparkSession, d: String): String =
    snapBranchDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapbr").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 3 === 0))
      Snapshots.createBranch(s, dir, "audit")
      Snapshots.commitToBranch(s, dir, "audit",
        orders.filter(col("o_orderkey") % 3 === 1))
      Snapshots.commitToBranch(s, dir, "audit",
        orders.filter(col("o_orderkey") % 3 === 2)
          .withColumn("o_totalprice", col("o_totalprice") + 7))
      Snapshots.fastForward(s, dir, "audit")
      dir
    })

  private def qSnapshotBranch(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapBranchDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  private def qSnapshotSqlCount(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"SELECT count(*) AS n FROM graftcat.$ns.orders_dv")
  }

  private def qSnapshotSqlMinmax(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"""SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
             |  count(o_custkey) AS n_cust
             |FROM graftcat.$ns.orders_plain""".stripMargin)
  }

  private def qSnapshotSqlDelete(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM graftcat.$ns.orders_del""".stripMargin)
  }

  private def qSnapshotSqlUpdate(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM graftcat.$ns.orders_upd""".stripMargin)
  }

  private def qSnapshotSqlMergeEvolve(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
             |  count(o_disc) AS n_disc, round(sum(o_disc), 2) AS sum_disc
             |FROM graftcat.$ns.orders_mrgevo""".stripMargin)
  }

  private def qSnapshotOverwritePart(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"""SELECT bucket, count(*) AS n, round(sum(o_totalprice), 2) AS total,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM graftcat.$ns.orders_part
             |GROUP BY bucket ORDER BY bucket""".stripMargin)
  }

  /** Day-filtered read of the hidden-partitioned catalog table: the
    * days(ts) routing makes every file single-day, so the ts range plans
    * exactly the three probed days' files — Iceberg partition pruning
    * with zero user-visible partition columns.
    */
  private def qSnapshotPartitioned(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"""SELECT event_type, count(*) AS n,
             |  count(DISTINCT user_id) AS n_users
             |FROM graftcat.$ns.events_part
             |WHERE ts >= timestamp'2024-01-10 00:00:00'
             |  AND ts < timestamp'2024-01-13 00:00:00'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  /** The `.partitions` metadata table, oracle-checked on its exact
    * per-day ROW counts (folded from the stats sidecar, zero data files
    * opened): the day grid of the days(ts)-routed fixture must equal the
    * source's own GROUP BY day. n_files is physical (layout-dependent)
    * and stays out of the oracle row.
    */
  private def qSnapshotPartitionsMeta(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"""SELECT ts_day, n_rows FROM graftcat.$ns.events_part.partitions
             |WHERE ts_day IS NOT NULL ORDER BY ts_day""".stripMargin)
  }

  private def qSnapshotSqlMerge(s: SparkSession, d: String): DataFrame = {
    val ns = sqlCatNsOf(s, d)
    s.sql(s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
             |FROM graftcat.$ns.orders_mrg""".stripMargin)
  }

  /** Merge-on-read twin of [[snapDelDir]] + a second overlapping delete:
    * [[Snapshots.deleteRangeMor]] masks matching rows through a
    * DELETION-VECTOR sidecar instead of rewriting files — the new version
    * carries every data file byte-identical (SnapshotSpec locks the
    * zero-rewrite property), and every read path applies the mask. The
    * declared query reads the masked table; the oracle states the
    * surviving rows directly, so any mask leak (ghost row, over-delete)
    * hash-mismatches.
    */
  private val snapDvDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapDvDir(s: SparkSession, d: String): String =
    snapDvDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapdv").toFile.getAbsolutePath
      Snapshots.commit(s, dir,
        T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(8, col("o_orderkey")))
      Snapshots.deleteRangeMor(s, dir, "o_orderkey", Some(200L), Some(699L))
      Snapshots.deleteRangeMor(s, dir, "o_orderkey", Some(1200L), Some(1299L))
      dir
    })

  /** RESTORE fixture: two appends, a destructive range delete (the "bad
    * write"), then [[Snapshots.restore]] back to v2 — the declared query
    * reads the restored head, whose content must equal v2 exactly even
    * though the table went through the delete. The oracle states v2's
    * defining slice.
    */
  private val snapRestoreDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapRestoreDir(s: SparkSession, d: String): String =
    snapRestoreDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snaprst").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 3 === 0))
      val v2 = Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 3 === 1))
      Snapshots.deleteRange(s, dir, "o_orderkey", Some(0L), Some(100000000L))
      Snapshots.restore(s, dir, v2)
      dir
    })

  private def qSnapshotRestore(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapRestoreDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Column-mapping fixture: half of orders committed under the original
    * name, the column RENAMED (metadata-only), the other half appended
    * under the NEW name — the read must fuse both file generations into
    * ONE logical column. The oracle aggregates the full table.
    */
  private val snapRenameDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapRenameDir(s: SparkSession, d: String): String =
    snapRenameDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapren").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 2 === 0))
      Snapshots.renameColumn(s, dir, "o_totalprice", "price")
      Snapshots.commit(s, dir, orders.filter(col("o_orderkey") % 2 === 1)
        .withColumnRenamed("o_totalprice", "price"))
      dir
    })

  private def qSnapshotRename(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapRenameDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** DESCRIBE HISTORY over the CDF fixture, through the SQL TVF: append,
    * append, merge (records a feed), delete (records a feed) — the
    * operational markers a table admin reads before expire/compact/purge.
    * Commit times and file counts are environment-dependent, so the
    * declared row keeps the deterministic columns; the oracle states them
    * as VALUES.
    */
  private def qSnapshotHistory(s: SparkSession, d: String): DataFrame = {
    val dir = snapCdfDir(s, d)
    s.sql(s"""SELECT version, has_change_feed, has_deletion_vectors,
             |  row_preserving
             |FROM snapshot_history('$dir') ORDER BY version""".stripMargin)
  }

  /** COUNT(*) answered from the stats-sidecar metadata minus the deletion
    * vector — zero data files planned (SnapshotSpec proves it by clobbering
    * every data file and counting again). The fixture is the MoR-delete
    * table, so the mask subtraction is exercised; the oracle is the plain
    * SQL count over the equivalent predicate.
    */
  private def qSnapshotCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Seq(Snapshots.countRows(s, snapDvDir(s, d))).toDF("n")
  }

  private def qSnapshotDv(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapDvDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Schema-EVOLVING upsert ([[Snapshots.mergeInto]] `evolve = true`): the
    * update set carries a brand-new `o_flag` column — matched keys update
    * (flag 'U'), unmatched insert (flag 'I'), and every untouched row
    * surfaces a NULL flag through the merged-footer read. The oracle
    * restates the evolved table with CASE + UNION ALL.
    */
  private val snapMergeEvoDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapMergeEvoDir(s: SparkSession, d: String): String =
    snapMergeEvoDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapmev").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderkey", "o_totalprice")
      Snapshots.commit(s, dir, orders.repartitionByRange(8, col("o_orderkey")))
      val updates = orders.filter(col("o_orderkey") < 1000 && col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
        .withColumn("o_flag", lit("U"))
      val inserts = orders.filter(col("o_orderkey") < 50)
        .withColumn("o_orderkey", col("o_orderkey") + lit(9000000L))
        .withColumn("o_flag", lit("I"))
      Snapshots.mergeInto(s, dir, updates.unionByName(inserts), "o_orderkey",
        evolve = true)
      dir
    })

  private def qSnapshotMergeEvolve(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapMergeEvoDir(s, d))
      .groupBy(coalesce(col("o_flag"), lit("-")).as("flag"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("flag")

  /** Bloom-index skipping on a layout min/max CANNOT help: the table is
    * round-robin partitioned (every file spans the whole keyspace, so
    * range envelopes keep everything), but the declared bloom column makes
    * the two-key IN probe keep only the files whose blooms might hold a
    * probed key. SnapshotSpec locks the skip count; the oracle is the
    * plain IN over orders.
    */
  private val snapBloomDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapBloomDir(s: SparkSession, d: String): String =
    snapBloomDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft-snapbloom").toFile.getAbsolutePath
      Snapshots.setBloomColumns(s, dir, Seq("o_orderkey"))
      Snapshots.commit(s, dir,
        T.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
          .repartition(8))
      dir
    })

  private def qSnapshotBloom(s: SparkSession, d: String): DataFrame = {
    val dir = snapBloomDir(s, d)
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_bloom " +
      s"USING snapshots OPTIONS (path '$dir')")
    s.sql("""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
            |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            |FROM snap_bloom WHERE o_orderkey IN (17, 1042)
            |ORDER BY n""".stripMargin)
  }

  /** Incrementally-maintained aggregate view: the source table grows in
    * THREE append commits and the view refreshes after the first and third
    * — the second+third deltas are folded from `readChanges`, never a
    * source rescan. The oracle is the FULL aggregate over orders, so a
    * hash-green row proves incremental maintenance equals recompute.
    */
  private val mviewDirs = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  /** Build every snapshot-table fixture this module's queries read — an
    * ingest-time cost in a real deployment, so Bench warms it with the
    * other prepared layouts and the timed queries measure the query.
    */
  def prepareSnapshotFixtures(s: SparkSession, d: String): Unit = {
    snapDir(s, d); snapSkipDir(s, d); snapDelDir(s, d); snapZDir(s, d)
    snapZIncDir(s, d); snapZColsDir(s, d); snapCdfDir(s, d); snapMergeDir(s, d)
    snapDvDir(s, d); snapMergeEvoDir(s, d); snapRestoreDir(s, d); snapRenameDir(s, d)
    snapBloomDir(s, d); mviewDir(s, d); mviewCdfDir(s, d)
    snapWapDir(s, d); snapTagDir(s, d); snapConsDir(s, d); snapRwDir(s, d)
    mviewMmDir(s, d); snapBranchDir(s, d); sqlCatNsOf(s, d)
    snapHColsDir(s, d); ()
  }

  private def mviewDir(s: SparkSession, d: String): (String, String) =
    mviewDirs.computeIfAbsent(d, _ => {
      val src = java.nio.file.Files.createTempDirectory("graft-mview-src").toFile.getAbsolutePath
      val view = java.nio.file.Files.createTempDirectory("graft-mview-v").toFile.getAbsolutePath
      val orders = T.orders(s, d).select("o_orderstatus", "o_totalprice")
      Snapshots.commit(s, src, orders.filter(col("o_totalprice") % 3 < 1))
      Mview.refresh(s, src, view, Seq("o_orderstatus"), Seq("o_totalprice"),
        minMaxCols = Seq("o_totalprice"))
      Snapshots.commit(s, src, orders.filter(col("o_totalprice") % 3 >= 1 &&
        col("o_totalprice") % 3 < 2))
      Snapshots.commit(s, src, orders.filter(col("o_totalprice") % 3 >= 2))
      Mview.refresh(s, src, view, Seq("o_orderstatus"), Seq("o_totalprice"),
        minMaxCols = Seq("o_totalprice"))
      (src, view)
    })

  /** AUTOMATIC query rewrite over the same maintained view: the query is
    * written against the SOURCE snapshot table, and the injected
    * [[MviewRewrite]] optimizer rule answers it from the aggregate-sized
    * view because the registration matches and the view is fresh — the
    * fact table is never scanned (PlansSpec locks the scan paths). The
    * oracle aggregates the full base data, so a wrong rewrite cannot hide.
    */
  private def qMviewRewrite(s: SparkSession, d: String): DataFrame = {
    val (src, view) = mviewDir(s, d)
    MviewRewrite.register(src, view, Seq("o_orderstatus"),
      Seq("o_totalprice"), Seq("o_totalprice"))
    Snapshots.read(s, src).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        round(sum("o_totalprice"), 2).as("total"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("o_orderstatus")
  }

  private def qMviewInc(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, mviewDir(s, d)._2)
      .select(col("o_orderstatus"), col("cnt"),
        round(col("sum_o_totalprice"), 2).as("total"),
        round(col("min_o_totalprice"), 2).as("lo"),
        round(col("max_o_totalprice"), 2).as("hi"))
      .orderBy("o_orderstatus")

  /** The SQL face of the versioned table: `USING snapshots` mounts a
    * snapshot as a relation, and the plain `WHERE` range drives manifest
    * data skipping through the pushed-down filters — no API call, the
    * [[graft.streaming.SnapshotRelation]] translation does it
    * (SnapshotSpec locks that this exact query shape skips files).
    */
  private def qSnapshotSql(s: SparkSession, d: String): DataFrame = {
    val dir = snapSkipDir(s, d)
    s.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_orders " +
      s"USING snapshots OPTIONS (path '$dir')")
    s.sql("""SELECT o_custkey, count(*) AS n,
            |  round(sum(o_totalprice), 2) AS total
            |FROM snap_orders
            |WHERE o_orderkey BETWEEN 1100 AND 2099
            |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  /** SQL-NATIVE time travel: `FROM snapshot_scan('<dir>', 2)` — the
    * GraftExtensions table function resolves the pinned manifest at
    * analysis time, so a SQL-only user gets exactly [[Snapshots.read]]'s
    * file set with no API call and no temp view. Version 2 is the last
    * APPEND commit, so the result states history the later replace (v3)
    * rewrote — the reason the pin matters.
    */
  private def qSnapshotTvf(s: SparkSession, d: String): DataFrame = {
    val dir = snapDir(s, d)
    s.sql(s"""SELECT 2 AS version, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM snapshot_scan('$dir', 2)""".stripMargin)
  }

  private def qSnapshotZorder(s: SparkSession, d: String): DataFrame =
    Snapshots.readRanges(s, snapZDir(s, d), Seq(
        ("o_custkey", Some(10L), Some(40L)),
        ("o_orderkey", Some(0L), Some(999L))))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** SHALLOW CLONE declared end-to-end: clone the versioned fixture at its
    * pinned v2 (zero bytes copied — the clone's manifest references the
    * source's files), then evolve the CLONE independently with one local
    * append; the census proves the pinned state + the append, while the
    * source's later replace stays invisible.
    */
  private val snapCloneDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def snapCloneDir(s: SparkSession, d: String): String =
    snapCloneDirs.computeIfAbsent(d, _ => {
      import s.implicits._
      val dst = java.nio.file.Files.createTempDirectory("graft-snapclone").toFile.getAbsolutePath
      Snapshots.cloneTable(s, snapDir(s, d), dst, Some(2))
      Snapshots.commit(s, dst,
        Seq((-1L, 123.45)).toDF("o_orderkey", "o_totalprice"))
      dst
    })

  /** Version-to-version semantic diff over the CDF fixture (append →
    * append → merge → delete): v1 → head crosses every change kind, and
    * the content diff must agree with replaying them — updates surface as
    * one removed (old payload) + one added (new payload) row.
    */
  private def qSnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val dir = snapCdfDir(s, d)
    Snapshots.diffVersions(s, dir, 1,
      Snapshots.currentVersion(s, dir).get)
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n"), round(sum("p"), 2).as("total"),
        sum("k").as("key_sum"))
      .orderBy("_change_type")
  }

  private def qSnapshotClone(s: SparkSession, d: String): DataFrame =
    Snapshots.read(s, snapCloneDir(s, d))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"))

  private def qSnapshotHilbert(s: SparkSession, d: String): DataFrame =
    Snapshots.readRanges(s, snapHDir(s, d), Seq(
        ("o_custkey", Some(20L), Some(60L)),
        ("o_orderkey", Some(500L), Some(1999L))))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  private def qTimeTravel(s: SparkSession, d: String): DataFrame = {
    val dir = snapDir(s, d)
    Seq(1, 2, 3).map { v =>
      Snapshots.read(s, dir, Some(v))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(lit(v).as("version"), col("n"), col("total"))
    }.reduce(_.unionByName(_)).orderBy("version")
  }

  /** The incremental tail of the same snapshot table: rows appended in
    * (v1, v2] via [[Snapshots.readChanges]] — file-set subtraction, so the
    * consumer reads ONLY the new files (never the table). The oracle states
    * the appended commit as its defining slice.
    */
  private def qSnapshotChanges(s: SparkSession, d: String): DataFrame =
    Snapshots.readChanges(s, snapDir(s, d), 1, 2)
      .groupBy()
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Data-quality audit — the dbt-test/Deequ-style constraint sweep: each
    * check is one column-pruned scan folding to a scalar violation count
    * (pk uniqueness, fk orphans via LEFT ANTI, range and null checks), the
    * shape a nightly pipeline gate runs before promoting a snapshot. Checks
    * are independent scans so they parallelize and each reads only its
    * check's columns; thresholds are chosen so the fixture exercises both
    * zero and nonzero violation rows.
    */
  private def qDqAudit(s: SparkSession, d: String): DataFrame = {
    val orders = T.orders(s, d)
    val one = lit(1)
    val pkDup = orders.agg((count(one) - countDistinct(col("o_orderkey")))
      .as("violations")).select(lit("orders_pk_dup").as("chk"), col("violations"))
    val fkOrphan = orders.join(T.customer(s, d),
        orders("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(one).as("violations"))
      .select(lit("orders_fk_orphan").as("chk"), col("violations"))
    val qtyHigh = T.lineitem(s, d).filter(col("l_quantity") > 45)
      .agg(count(one).as("violations"))
      .select(lit("lineitem_qty_gt45").as("chk"), col("violations"))
    val balNull = T.customer(s, d)
      .filter(col("c_acctbal").isNull || col("c_name").isNull)
      .agg(count(one).as("violations"))
      .select(lit("customer_nulls").as("chk"), col("violations"))
    pkDup.unionByName(fkOrphan).unionByName(qtyHigh).unionByName(balNull)
      .orderBy("chk")
  }

  /** CDC snapshot diff — change detection between two keyed snapshots via
    * ONE key-partitioned full outer join classifying every key as
    * INSERTED / DELETED / UPDATED / UNCHANGED, then a 4-row count rollup.
    * The value comparison is exact (the derived new snapshot adds 1.0,
    * which is representable, so both engines compare identical doubles).
    * At 100 TB both snapshots bucket by the key and the join is
    * exchange-free; the diff never materializes unchanged rows downstream.
    */
  private def qCdcDiff(s: SparkSession, d: String): DataFrame = {
    val base = T.orders(s, d).select("o_orderkey", "o_totalprice")
    val old = base.filter(col("o_orderkey") % 11 =!= 0)
      .withColumnRenamed("o_totalprice", "old_price")
    val neu = base.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") +
          when(col("o_orderkey") % 5 === 0, 1.0).otherwise(0.0)).as("new_price"))
    old.join(neu, Seq("o_orderkey"), "full_outer")
      .select(when(col("old_price").isNull, "INSERTED")
        .when(col("new_price").isNull, "DELETED")
        .when(col("old_price") =!= col("new_price"), "UPDATED")
        .otherwise("UNCHANGED").as("change"))
      .groupBy("change").agg(count(lit(1)).as("n"))
      .orderBy("change")
  }

  /** Unpivot (melt): wide metric columns → long (metric, value) rows via
    * `stack` — the Generate is a per-row expansion, no shuffle before the
    * oracle's ORDER BY.
    */
  private def qUnpivot(s: SparkSession, d: String): DataFrame =
    T.part(s, d)
      .select(col("p_partkey"),
        expr("stack(2, 'retail', p_retailprice, 'size', CAST(p_size AS DOUBLE))")
          .as(Seq("metric", "value")))
      .orderBy("p_partkey", "metric")

  /** Snapshot merge (the batch MERGE/upsert): a full outer join of the
    * current dimension with a change set — updates overwrite, inserts
    * append, unchanged rows pass through (coalesce per column). The
    * dimension-sized shuffle happens once per merge; at 100 TB the change
    * set is the small side and the join key pre-bucketed.
    */
  private def qScdMerge(s: SparkSession, d: String): DataFrame = {
    val dim = T.customer(s, d).select("c_custkey", "c_mktsegment", "c_acctbal")
    val updates = dim.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), lit("UPDATED").as("u_seg"),
        round(col("c_acctbal") + 100.0, 2).as("u_bal"))
      .unionByName(dim.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          lit("INSERTED").as("u_seg"), round(col("c_acctbal"), 2).as("u_bal")))
    dim.join(updates, Seq("c_custkey"), "full")
      .select(col("c_custkey"),
        coalesce(col("u_seg"), col("c_mktsegment")).as("segment"),
        round(coalesce(col("u_bal"), col("c_acctbal")), 2).as("acctbal"))
      .orderBy("c_custkey")
  }

  /** POINT-IN-TIME join against an SCD2 validity-interval dimension — "which
    * status was active when this fact happened": every sparse change event
    * (event_id % 5 = 0) opens a [eff_from, eff_to) status interval per user
    * (SCD2 built with one lead() window), and every other event joins the
    * interval covering its timestamp. The scalable shape is the BINNED
    * interval equi-join (same technique as `q_join_range_binned`): dim
    * intervals explode to the day buckets they cover, facts equi-join
    * (user, day) — never a per-user cross product — and the exact BETWEEN
    * residual filters inside the bucket. At 100 TB the fan-out is
    * interval-days, not |facts|·|dim|, and the join shuffles on a key both
    * sides can pre-partition by. The oracle states the plain interval join.
    */
  private def qJoinTemporal(s: SparkSession, d: String): DataFrame = {
    val ev = T.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val dim = ev.filter(col("event_id") % 5 === 0)
      .select(col("user_id"), col("ts").as("eff_from"),
        col("event_type").as("status"), lead(col("ts"), 1).over(w).as("eff_to"))
    val facts = ev.filter(col("event_id") % 5 =!= 0)
    def day(c: org.apache.spark.sql.Column) =
      floor(unix_timestamp(c) / 86400).cast("long")
    // open-ended intervals cap at the facts' max day (one broadcast scalar)
    val maxDay = facts.agg(day(max(col("ts"))).as("max_day"))
    val dimExp = dim.crossJoin(broadcast(maxDay))
      .withColumn("from_day", day(col("eff_from")))
      .withColumn("to_day",
        greatest(coalesce(day(col("eff_to")), col("max_day")), col("from_day")))
      .withColumn("day", explode(sequence(col("from_day"), col("to_day"))))
      .select("user_id", "day", "eff_from", "eff_to", "status")
    facts.withColumn("day", day(col("ts")))
      .join(dimExp, Seq("user_id", "day"))
      .filter(col("ts") >= col("eff_from") &&
        (col("eff_to").isNull || col("ts") < col("eff_to")))
      .groupBy("status")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("status")
  }

  /** Consistent (hash-based) sampling — the production sampling pattern for
    * training-data pipelines: membership is a pure function of the key, so
    * the same 10% sample falls out on every run, any cluster size, any
    * partitioning (unlike Bernoulli `sample()`, whose draw depends on the
    * partition-local RNG stream). Plain arithmetic so the oracle reproduces
    * it exactly; products stay far under Long range (ANSI mode would reject
    * a genuine overflow loudly).
    */
  private def qSampleHash(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .filter(((col("doc_id") % 1000003L) * 1103515245L + 12345L) % 100 < 10)
      .select("doc_id", "source", "lang")
      .orderBy("doc_id")

  /** Stratified sampling with EXACT per-group quotas: rank rows inside each
    * stratum by a deterministic pseudorandom key and keep the first N — the
    * balanced-subset op (per-language caps, per-source caps). One window
    * shuffle on the stratum key; quotas exact by construction, not in
    * expectation.
    */
  private def qSampleStratified(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(((col("doc_id") % 2147483647L) * 48271L % 2147483647L).asc, col("doc_id").asc)
    T.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")
  }

  /** Weighted sampling without replacement (Efraimidis-Spirakis A-ES,
    * "Weighted random sampling with a reservoir", IPL 2006): each row draws
    * a deterministic pseudo-uniform u from the LCG hash of its key and
    * competes with key `ln(u)/w` (monotone in the paper's `u^(1/w)`), and
    * the global top-k wins — inclusion probability ∝ weight (here
    * `n_chars`: longer documents are likelier picks, the length-weighted
    * corpus subsample). One scan + one TakeOrdered top-k: no shuffle of the
    * corpus, no per-partition RNG stream, and re-runs (any cluster size,
    * any partitioning) select the identical sample — the property that
    * makes the A-ES key the distributed weighted-reservoir idiom.
    *
    * Determinism across engines: u is exact integer arithmetic (doc_id is
    * reduced mod the LCG modulus BEFORE the multiply, so the product stays
    * in BIGINT range at any id scale — Spark would wrap silently where
    * DuckDB raises); ln() is the one transcendental (libm may differ in the
    * last ulp), so ranking keys on round(key·10⁶, 9) with the doc id as
    * tie-break — the 10⁶ scale keeps long documents' tiny |ln(u)/w| above
    * the rounding quantum (unscaled, keys below 5e-10 collapsed to 0.0 and
    * selection among the heaviest rows degraded to the tie-break), while
    * ulp noise is still absorbed and real gaps stay ordered. Zero-length
    * documents carry weight 0 — never selectable under A-ES — and are
    * filtered out rather than fed to a division.
    */
  private def qSampleWeighted(s: SparkSession, d: String): DataFrame = {
    val u01 = ((((col("doc_id") % 1000003L) * 1103515245L + 12345L) % 1000003L) + 1L)
      .cast("double") / 1000004.0
    val key = round(log(u01) * lit(1000000.0) / col("n_chars").cast("double"), 9)
    T.documents(s, d)
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("k"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(25)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Deterministic train/valid/test assignment (90/5/5): the same LCG-hash
    * membership idiom as [[qSampleTemperature]] — every row lands in exactly
    * one split, reproducibly, with no sampling shuffle and no global sort.
    * Pure per-row projection: at 100 TB the corpus pays one scan, and the
    * split column is a deterministic function of the key so re-runs (or
    * late-arriving shards) assign identically without coordination.
    */
  private def qSplitAssign(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .withColumn("h", ((col("doc_id") % 1000003L) * 1103515245L + 12345L) % 1000000L)
      .withColumn("split",
        when(col("h") < 900000L, "train")
          .when(col("h") < 950000L, "valid").otherwise("test"))
      .select("doc_id", "lang", "split")
      .orderBy("doc_id")

  /** Temperature resampling across languages (α = 0.5) — the data-mixing
    * op of LLM corpus prep: per-group keep rates ∝ n^α rebalance the mix
    * toward under-represented groups while capping at 1 (here `lang`, the
    * fixture's genuinely skewed dimension: en dominates). The per-group
    * count table is metadata-sized (one small aggregate, broadcast back);
    * membership is then a per-row LCG-hash threshold test — deterministic,
    * shuffle-free on the corpus side, and reproducible row-for-row by the
    * oracle because both sides run the identical integer/IEEE arithmetic.
    * The smallest group keeps everything (rate 1), larger ones keep
    * sqrt(n_min/n) — expected sampled counts ∝ n^0.5, the flattened mix.
    * At 100 TB the corpus pays one scan.
    */
  private def qSampleTemperature(s: SparkSession, d: String): DataFrame = {
    // ONE aggregate job: the per-lang count table is metadata-sized, so
    // collect it once and derive both the min and the broadcast join side
    // from the collected rows (previously the same corpus aggregate ran
    // twice — once for min, once as the join side)
    val countRows = T.documents(s, d).groupBy("lang")
      .agg(count(lit(1)).as("n_g")).collect()
    // empty corpus → empty join side → empty result; any min works
    val minN = countRows.map(_.getLong(1)).minOption.getOrElse(1L)
    import s.implicits._
    val counts = broadcast(
      countRows.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("lang", "n_g"))
    T.documents(s, d).join(counts, "lang")
      // membership threshold comes from the UNROUNDED sqrt (floor of an
      // IEEE-identical product on both engines); round() only shapes the
      // reported keep_rate — a rounding-mode divergence there would change
      // a printed digit, never which rows are sampled
      .filter(((col("doc_id") % 1000003L) * 1103515245L + 12345L) % 1000000L <
        floor(least(lit(1.0), sqrt(lit(minN.toDouble) / col("n_g"))) * 1000000L))
      .withColumn("keep_rate",
        least(lit(1.0), round(sqrt(lit(minN.toDouble) / col("n_g")), 6)))
      .select("doc_id", "lang", "keep_rate")
      .orderBy("doc_id")
  }

  /** Skyline (Pareto frontier) over (price ↑, date ↓): orders no other
    * order beats on both dimensions. Two-phase distributed form: phase 1
    * computes each partition's LOCAL skyline in one `mapPartitions` pass
    * (genuine per-partition imperative logic — dominance is transitive, so
    * the global skyline is a subset of the union of local ones); phase 2
    * takes the exact skyline of that union. On CORRELATED dims the union is
    * tiny, so it is pulled to the driver in the SAME single pass that would
    * have fed a broadcast (take(limit + 1) — a bounded collect, exactly
    * what broadcasting the union would have shipped anyway) and finished
    * with one driver-side sort + linear sweep; if the union overflows
    * `broadcastLimit` (ANTI-correlated dims, skyline ≈ n) the collected
    * sample is discarded and the plan falls back to `skylineSweep`: a
    * range-partitioned (price ↓, date ↑) sort + one linear sweep per
    * partition, seeded with driver-folded cross-partition carry state (one
    * summary row per partition). Both paths are exact; the sweep is the
    * shape that survives adversarial data. Oracle: the NOT EXISTS dominance
    * definition evaluated directly.
    */
  def skyline(o: DataFrame, broadcastLimit: Long = 200000): DataFrame = {
    val s = o.sparkSession
    import s.implicits._
    def dominates(a: (Long, Double, java.sql.Timestamp),
        b: (Long, Double, java.sql.Timestamp)): Boolean =
      a._2 >= b._2 && !a._3.after(b._3) && (a._2 > b._2 || a._3.before(b._3))
    val partial = o.as[(Long, Double, java.sql.Timestamp)].mapPartitions { it =>
      val sky = scala.collection.mutable.ArrayBuffer[(Long, Double, java.sql.Timestamp)]()
      it.foreach { r =>
        if (!sky.exists(dominates(_, r))) {
          val keep = sky.filterNot(dominates(r, _))
          sky.clear(); sky ++= keep += r
        }
      }
      sky.iterator
    }.toDF("o_orderkey", "o_totalprice", "o_orderdate")
    // ONE pass over o: pull at most limit+1 union rows (what a broadcast
    // would have shipped to the driver anyway); overflow → distributed sweep
    val sample = partial.take(broadcastLimit.toInt + 1)
    if (sample.length > broadcastLimit) skylineSweep(o)
    else {
      val rows = sample
        .map(r => (r.getLong(0), r.getDouble(1), r.getTimestamp(2)))
        .sortBy(t => (-t._2, t._3.getTime))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Double, java.sql.Timestamp)]()
      var abov = Long.MaxValue; var cp = Double.NaN; var cm = Long.MaxValue
      rows.foreach { case (id, p, t) =>
        if (p != cp) { abov = math.min(abov, cm); cp = p; cm = Long.MaxValue }
        val tm = t.getTime
        if (!(abov <= tm || cm < tm)) out += ((id, p, t))
        cm = math.min(cm, tm)
      }
      out.toSeq.toDF("o_orderkey", "o_totalprice", "o_orderdate")
    }
  }

  /** Exact skyline without ever materialising the frontier on one node:
    * range-partition by (price ↓, date ↑), sort within partitions, then one
    * linear sweep per partition. A row is dominated iff some strictly
    * higher-priced row has date ≤ its date (tracked as the running min date
    * of all earlier price groups) or a same-priced row has a strictly
    * earlier date (the current group's running min). Partition boundaries
    * carry that state across: each partition emits ONE summary row
    * (min price, min date at that price, min date above it), the driver
    * folds the summaries in range order into a per-partition seed, and the
    * sweep starts from the seed — so the only driver-side data is K summary
    * rows for K partitions. The ranged RDD is evaluated twice (summaries,
    * then sweep) but the second job reuses the first's shuffle output
    * (same RDD lineage → skipped stages).
    */
  private def skylineSweep(o: DataFrame): DataFrame = {
    val s = o.sparkSession
    import s.implicits._
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val rdd = o.select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .repartitionByRange(parts, col("o_totalprice").desc, col("o_orderdate").asc)
      .sortWithinPartitions(col("o_totalprice").desc, col("o_orderdate").asc)
      .as[(Long, Double, java.sql.Timestamp)]
      .rdd
    val nParts = rdd.getNumPartitions
    // per-partition summary of what LATER (lower-priced) partitions must know
    val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
      var curPrice = Double.NaN; var curMin = Long.MaxValue; var above = Long.MaxValue
      var any = false
      it.foreach { case (_, p, t) =>
        any = true
        if (p != curPrice) {
          above = math.min(above, curMin); curPrice = p; curMin = Long.MaxValue
        }
        curMin = math.min(curMin, t.getTime)
      }
      if (any) Iterator.single((pid, curPrice, curMin, above)) else Iterator.empty
    }.collect().sortBy(_._1)
    // fold summaries in range order into each partition's sweep seed
    val seed = new Array[(Long, Double, Long)](nParts) // (above, curPrice, curMin)
    var above = Long.MaxValue; var curPrice = Double.NaN; var curMin = Long.MaxValue
    var si = 0
    for (pid <- 0 until nParts) {
      seed(pid) = (above, curPrice, curMin)
      while (si < sums.length && sums(si)._1 == pid) {
        val (_, mp, atMin, ab) = sums(si)
        if (!curPrice.isNaN && mp == curPrice) {
          above = math.min(above, ab); curMin = math.min(curMin, atMin)
        } else {
          above = math.min(above, math.min(curMin, ab)); curPrice = mp; curMin = atMin
        }
        si += 1
      }
    }
    val bc = s.sparkContext.broadcast(seed)
    rdd.mapPartitionsWithIndex { (pid, it) =>
      var (abov, cp, cm) = bc.value(pid)
      it.flatMap { case (id, p, t) =>
        if (p != cp) { abov = math.min(abov, cm); cp = p; cm = Long.MaxValue }
        val tm = t.getTime
        val dominated = abov <= tm || cm < tm
        cm = math.min(cm, tm)
        if (dominated) None else Some((id, p, t))
      }
    }.toDF("o_orderkey", "o_totalprice", "o_orderdate")
  }

  private def qSkyline(s: SparkSession, d: String): DataFrame = {
    val o = T.orders(s, d).select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
    skyline(o)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
        col("o_orderdate"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_skyline" -> qSkyline,
    "q_sample_hash" -> qSampleHash,
    "q_sample_weighted" -> qSampleWeighted,
    "q_sample_temperature" -> qSampleTemperature,
    "q_split_assign" -> qSplitAssign,
    "q_sample_stratified" -> qSampleStratified,
    "q_join_bucketed" -> qJoinBucketed,
    "q_dpp" -> qDpp,
    "q_unpivot" -> qUnpivot,
    "q_scd_merge" -> qScdMerge,
    "q_dq_audit" -> qDqAudit,
    "q_cdc_diff" -> qCdcDiff,
    "q_time_travel" -> qTimeTravel,
    "q_snapshot_changes" -> qSnapshotChanges,
    "q_snapshot_skip" -> qSnapshotSkip,
    "q_snapshot_delete" -> qSnapshotDelete,
    "q_snapshot_zorder" -> qSnapshotZorder,
    "q_snapshot_hilbert" -> qSnapshotHilbert,
    "q_snapshot_clone" -> qSnapshotClone,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_snapshot_zorder_inc" -> qSnapshotZorderInc,
    "q_snapshot_zorder_cols" -> qSnapshotZorderCols,
    "q_snapshot_hilbert_cols" -> qSnapshotHilbertCols,
    "q_snapshot_cdf" -> qSnapshotCdf,
    "q_mview_cdf" -> qMviewCdf,
    "q_mview_minmax" -> qMviewMinmax,
    "q_snapshot_sql" -> qSnapshotSql,
    "q_snapshot_tvf" -> qSnapshotTvf,
    "q_snapshot_merge" -> qSnapshotMerge,
    "q_snapshot_wap" -> qSnapshotWap,
    "q_snapshot_tag" -> qSnapshotTag,
    "q_snapshot_constraint" -> qSnapshotConstraint,
    "q_snapshot_replace_where" -> qSnapshotReplaceWhere,
    "q_snapshot_count" -> qSnapshotCount,
    "q_snapshot_branch" -> qSnapshotBranch,
    "q_snapshot_sql_count" -> qSnapshotSqlCount,
    "q_snapshot_sql_minmax" -> qSnapshotSqlMinmax,
    "q_snapshot_sql_delete" -> qSnapshotSqlDelete,
    "q_snapshot_sql_update" -> qSnapshotSqlUpdate,
    "q_snapshot_sql_merge" -> qSnapshotSqlMerge,
    "q_snapshot_sql_merge_evolve" -> qSnapshotSqlMergeEvolve,
    "q_snapshot_partitioned" -> qSnapshotPartitioned,
    "q_snapshot_overwrite_part" -> qSnapshotOverwritePart,
    "q_snapshot_partitions_meta" -> qSnapshotPartitionsMeta,
    "q_snapshot_dv" -> qSnapshotDv,
    "q_snapshot_history" -> qSnapshotHistory,
    "q_snapshot_restore" -> qSnapshotRestore,
    "q_snapshot_rename" -> qSnapshotRename,
    "q_snapshot_merge_evolve" -> qSnapshotMergeEvolve,
    "q_mview_inc" -> qMviewInc,
    "q_mview_rewrite" -> qMviewRewrite,
    "q_snapshot_bloom" -> qSnapshotBloom,
    "q_scan" -> qScan,
    "q_project" -> qProject,
    "q_prune" -> qPrune,
    "q_time_filter" -> qTimeFilter,
    "q_bbox" -> qBbox,
    "q_bbox_zorder" -> qBboxZorder,
    "q_compact" -> qCompact,
    "q_nearest" -> qNearest,
    "q_topk" -> qTopk,
    "q_distinct" -> qDistinct,
    "q_union" -> qUnion,
    "q_union_by_name" -> qUnionByName,
    "q_intersect" -> qIntersect,
    "q_except" -> qExcept,
    "q_join_inner" -> qJoinInner,
    "q_join_left" -> qJoinLeft,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_full" -> qJoinFull,
    "q_join_cross" -> qJoinCross,
    "q_join_range" -> qJoinRange,
    "q_join_range_binned" -> qJoinRangeBinned,
    "q_join_temporal" -> qJoinTemporal,
    "q_subquery_scalar" -> qSubqueryScalar,
    "q_subquery_corr" -> qSubqueryCorr
  )

  val oracleSql: Map[String, String] = Map(
    "q_dq_audit" ->
      """SELECT 'orders_pk_dup' AS chk,
        |  count(*) - count(DISTINCT o_orderkey) AS violations FROM orders
        |UNION ALL
        |SELECT 'orders_fk_orphan', count(*) FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'lineitem_qty_gt45', count(*) FROM lineitem WHERE l_quantity > 45
        |UNION ALL
        |SELECT 'customer_nulls', count(*) FROM customer
        |WHERE c_acctbal IS NULL OR c_name IS NULL
        |ORDER BY chk""".stripMargin,
    "q_snapshot_skip" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 1099
        |ORDER BY n""".stripMargin,
    "q_snapshot_delete" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey NOT BETWEEN 200 AND 699
        |ORDER BY n""".stripMargin,
    "q_snapshot_bloom" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey IN (17, 1042)
        |ORDER BY n""".stripMargin,
    "q_mview_inc" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total,
        |  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // same base truth as q_mview_inc — deliberately: the rewrite must be
    // invisible in results, only in the plan (PlansSpec locks the plan)
    "q_mview_rewrite" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  round(sum(o_totalprice), 2) AS total,
        |  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_snapshot_merge" ->
      """WITH merged AS (
        |  SELECT o_orderkey,
        |    o_totalprice + CASE WHEN o_orderkey < 1000 AND o_orderkey % 10 = 0
        |      THEN 1.0 ELSE 0.0 END AS o_totalprice
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 9000000, o_totalprice FROM orders WHERE o_orderkey < 50)
        |SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged ORDER BY n""".stripMargin,
    "q_snapshot_wap" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 4 IN (0, 1)
        |ORDER BY n""".stripMargin,
    "q_snapshot_tag" ->
      """SELECT 'golden' AS ref, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'head', count(*), round(sum(o_totalprice), 2) FROM orders
        |ORDER BY ref""".stripMargin,
    "q_snapshot_constraint" ->
      """SELECT count(*) AS n,
        |  round(sum(o_totalprice
        |    + CASE WHEN o_orderkey % 10 = 0 THEN 7.5 ELSE 0 END), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 5 IN (0, 1)
        |ORDER BY n""".stripMargin,
    "q_join_temporal" ->
      """WITH ch AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS eff_from,
        |    event_type AS status,
        |    lead(CAST(ts AS TIMESTAMP)) OVER (
        |      PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS eff_to
        |  FROM events WHERE event_id % 5 = 0),
        |f AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |      FROM events WHERE event_id % 5 <> 0)
        |SELECT ch.status, count(*) AS n, round(sum(f.value), 2) AS total
        |FROM f JOIN ch ON f.user_id = ch.user_id
        |  AND f.ts >= ch.eff_from
        |  AND (ch.eff_to IS NULL OR f.ts < ch.eff_to)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_snapshot_count" ->
      """SELECT count(*) AS n FROM orders
        |WHERE o_orderkey NOT BETWEEN 200 AND 699
        |  AND o_orderkey NOT BETWEEN 1200 AND 1299""".stripMargin,
    "q_snapshot_branch" ->
      """SELECT count(*) AS n,
        |  round(sum(o_totalprice
        |    + CASE WHEN o_orderkey % 3 = 2 THEN 7 ELSE 0 END), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders""".stripMargin,
    "q_snapshot_sql_count" ->
      """SELECT count(*) AS n FROM orders
        |WHERE o_orderkey NOT BETWEEN 200 AND 699
        |  AND o_orderkey NOT BETWEEN 1200 AND 1299""".stripMargin,
    "q_snapshot_sql_minmax" ->
      """SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  count(o_custkey) AS n_cust
        |FROM orders""".stripMargin,
    "q_snapshot_sql_delete" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |WHERE NOT (o_custkey % 10 = 3 AND o_totalprice < 150000)""".stripMargin,
    "q_snapshot_sql_merge_evolve" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_totalprice,
        |    o_totalprice / 2 AS o_disc
        |  FROM orders WHERE o_orderkey % 6 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, NULL AS o_disc
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 6 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice,
        |    o_totalprice / 2 AS o_disc
        |  FROM orders WHERE o_orderkey % 3 = 1
        |)
        |SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  count(o_disc) AS n_disc, round(sum(o_disc), 2) AS sum_disc
        |FROM final""".stripMargin,
    "q_snapshot_overwrite_part" ->
      """WITH src AS (
        |  SELECT o_orderkey, concat('b', o_orderkey % 3) AS bucket,
        |    o_totalprice
        |  FROM orders),
        |final AS (
        |  SELECT o_orderkey, bucket, o_totalprice FROM src WHERE bucket = 'b0'
        |  UNION ALL
        |  SELECT o_orderkey, bucket, o_totalprice + 100 FROM src
        |  WHERE bucket = 'b1' AND o_orderkey <= 1000
        |  UNION ALL
        |  SELECT o_orderkey, bucket, o_totalprice / 2 FROM src
        |  WHERE bucket = 'b2' AND o_orderkey > 500
        |)
        |SELECT bucket, count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM final GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_snapshot_partitions_meta" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS ts_day,
        |  count(*) AS n_rows
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1 ORDER BY ts_day""".stripMargin,
    "q_snapshot_partitioned" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE ts >= timestamp'2024-01-10 00:00:00'
        |  AND ts < timestamp'2024-01-13 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_snapshot_sql_update" ->
      """SELECT count(*) AS n,
        |  round(sum(CASE WHEN o_orderkey BETWEEN 500 AND 1499
        |    THEN o_totalprice * 1.1 ELSE o_totalprice END), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders""".stripMargin,
    "q_snapshot_sql_merge" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_totalprice + 5 AS p FROM orders
        |  WHERE o_orderkey % 6 = 0 AND o_totalprice > 100000
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 6 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 1)
        |SELECT count(*) AS n, round(sum(p), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM final""".stripMargin,
    "q_snapshot_replace_where" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey NOT BETWEEN 1000 AND 1999
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 100.0 FROM orders
        |  WHERE o_orderkey BETWEEN 1000 AND 1999 AND o_orderkey % 2 = 0)
        |SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM final ORDER BY n""".stripMargin,
    "q_snapshot_dv" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey NOT BETWEEN 200 AND 699
        |  AND o_orderkey NOT BETWEEN 1200 AND 1299
        |ORDER BY n""".stripMargin,
    "q_snapshot_rename" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders ORDER BY n""".stripMargin,
    "q_snapshot_restore" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |ORDER BY n""".stripMargin,
    "q_snapshot_history" ->
      """SELECT * FROM (VALUES
        |  (1, false, false, false),
        |  (2, false, false, false),
        |  (3, true, false, false),
        |  (4, true, false, false))
        |AS t(version, has_change_feed, has_deletion_vectors, row_preserving)
        |ORDER BY version""".stripMargin,
    "q_snapshot_merge_evolve" ->
      """WITH merged AS (
        |  SELECT o_totalprice + CASE WHEN o_orderkey < 1000 AND o_orderkey % 10 = 0
        |      THEN 1.0 ELSE 0.0 END AS p,
        |    CASE WHEN o_orderkey < 1000 AND o_orderkey % 10 = 0
        |      THEN 'U' ELSE '-' END AS flag
        |  FROM orders
        |  UNION ALL
        |  SELECT o_totalprice, 'I' FROM orders WHERE o_orderkey < 50)
        |SELECT flag, count(*) AS n, round(sum(p), 2) AS total
        |FROM merged GROUP BY flag ORDER BY flag""".stripMargin,
    "q_snapshot_sql" ->
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey BETWEEN 1100 AND 2099
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_snapshot_tvf" ->
      """SELECT 2 AS version, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)""".stripMargin,
    "q_snapshot_zorder" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_custkey BETWEEN 10 AND 40
        |  AND o_orderkey BETWEEN 0 AND 999
        |ORDER BY n""".stripMargin,
    "q_snapshot_hilbert" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_custkey BETWEEN 20 AND 60
        |  AND o_orderkey BETWEEN 500 AND 1999
        |ORDER BY n""".stripMargin,
    "q_snapshot_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p FROM orders
        |  WHERE o_orderkey % 3 = 0),
        |head AS (
        |  SELECT k, CASE WHEN k % 10 = 0 THEN p + 1000 ELSE p END AS p
        |  FROM (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
        |        WHERE o_orderkey % 3 IN (0, 1) OR o_orderkey % 10 = 0)
        |  WHERE k NOT BETWEEN 100 AND 499),
        |d AS (
        |  SELECT 'insert' AS _change_type, k, p FROM
        |    (SELECT k, p FROM head EXCEPT ALL SELECT k, p FROM v1)
        |  UNION ALL
        |  SELECT 'delete' AS _change_type, k, p FROM
        |    (SELECT k, p FROM v1 EXCEPT ALL SELECT k, p FROM head))
        |SELECT _change_type, count(*) AS n, round(sum(p), 2) AS total,
        |  CAST(sum(k) AS BIGINT) AS key_sum
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_snapshot_clone" ->
      """SELECT count(*) + 1 AS n,
        |  round(sum(o_totalprice) + 123.45, 2) AS total,
        |  CAST(-1 AS BIGINT) AS min_key
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |ORDER BY n""".stripMargin,
    "q_mview_minmax" ->
      """WITH o AS (SELECT o_orderkey % 7 AS g, o_orderkey AS k,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS p
        |  FROM orders
        |  WHERE (o_orderkey % 3 IN (0, 1) OR o_orderkey % 10 = 0)
        |    AND o_orderkey NOT BETWEEN 100 AND 499)
        |SELECT g, count(*) AS cnt, round(sum(p), 2) AS total,
        |  count(p) AS n_priced,
        |  round(min(p), 2) AS min_p, round(max(p), 2) AS max_p
        |FROM o GROUP BY g ORDER BY g""".stripMargin,
    "q_mview_cdf" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |state AS (
        |  SELECT k % 7 AS g, k,
        |    CASE WHEN k % 10 = 0 THEN p + 1000 ELSE p END AS p
        |  FROM o
        |  WHERE (k % 3 IN (0, 1) OR k % 10 = 0)
        |    AND NOT (k BETWEEN 100 AND 499))
        |SELECT g, count(*) AS cnt, round(sum(p), 2) AS total,
        |  count(p) AS n_priced
        |FROM state GROUP BY g ORDER BY g""".stripMargin,
    "q_snapshot_cdf" ->
      """WITH o AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
        |v2 AS (
        |  SELECT 2 AS version, 'insert' AS change_type, count(*) AS n,
        |         round(sum(p), 2) AS total
        |  FROM o WHERE k % 3 = 1 HAVING count(*) > 0),
        |m_pre AS (
        |  SELECT 3, 'update_pre', count(*), round(sum(p), 2)
        |  FROM o WHERE k % 10 = 0 AND k % 3 IN (0, 1) HAVING count(*) > 0),
        |m_post AS (
        |  SELECT 3, 'update_post', count(*), round(sum(p + 1000), 2)
        |  FROM o WHERE k % 10 = 0 AND k % 3 IN (0, 1) HAVING count(*) > 0),
        |m_ins AS (
        |  SELECT 3, 'insert', count(*), round(sum(p + 1000), 2)
        |  FROM o WHERE k % 10 = 0 AND k % 3 = 2 HAVING count(*) > 0),
        |state3 AS (
        |  SELECT k, CASE WHEN k % 10 = 0 THEN p + 1000 ELSE p END AS p
        |  FROM o WHERE k % 3 IN (0, 1) OR k % 10 = 0),
        |v4 AS (
        |  SELECT 4, 'delete', count(*), round(sum(p), 2)
        |  FROM state3 WHERE k BETWEEN 100 AND 499 HAVING count(*) > 0)
        |SELECT * FROM v2
        |UNION ALL SELECT * FROM m_pre
        |UNION ALL SELECT * FROM m_post
        |UNION ALL SELECT * FROM m_ins
        |UNION ALL SELECT * FROM v4
        |ORDER BY version, change_type""".stripMargin,
    "q_snapshot_zorder_inc" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_custkey BETWEEN 10 AND 40
        |  AND o_orderkey BETWEEN 0 AND 999
        |ORDER BY n""".stripMargin,
    "q_snapshot_zorder_cols" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_custkey BETWEEN 10 AND 40
        |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
        |    AND TIMESTAMP '1996-12-31 23:59:59'
        |  AND o_totalprice BETWEEN 0.0 AND 150000.0
        |ORDER BY n""".stripMargin,
    "q_snapshot_hilbert_cols" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_custkey BETWEEN 50 AND 120
        |  AND o_orderdate BETWEEN TIMESTAMP '1993-01-01 00:00:00'
        |    AND TIMESTAMP '1995-06-30 23:59:59'
        |  AND o_totalprice BETWEEN 50000.0 AND 250000.0
        |ORDER BY n""".stripMargin,
    "q_snapshot_changes" ->
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderkey % 3 = 1
        |ORDER BY n""".stripMargin,
    "q_time_travel" ->
      """SELECT 1 AS version, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 2, count(*), round(sum(o_totalprice), 2)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT 3, count(*), round(sum(o_totalprice), 2)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |ORDER BY version""".stripMargin,
    "q_cdc_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_totalprice AS old_price FROM orders
        |  WHERE o_orderkey % 11 <> 0),
        |neu AS (
        |  SELECT o_orderkey, o_totalprice +
        |    CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END AS new_price
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT CASE WHEN old_price IS NULL THEN 'INSERTED'
        |            WHEN new_price IS NULL THEN 'DELETED'
        |            WHEN old_price <> new_price THEN 'UPDATED'
        |            ELSE 'UNCHANGED' END AS change, count(*) AS n
        |FROM old FULL OUTER JOIN neu USING (o_orderkey)
        |GROUP BY 1 ORDER BY change""".stripMargin,
    "q_skyline" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderdate
        |FROM orders o
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders x
        |  WHERE x.o_totalprice >= o.o_totalprice AND x.o_orderdate <= o.o_orderdate
        |    AND (x.o_totalprice > o.o_totalprice OR x.o_orderdate < o.o_orderdate))
        |ORDER BY o_orderkey""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 100 < 10
        |ORDER BY doc_id""".stripMargin,
    "q_sample_weighted" ->
      """WITH k AS (
        |  SELECT doc_id, lang, n_chars,
        |    round(ln(CAST(((doc_id % 1000003) * 1103515245 + 12345) % 1000003 + 1 AS DOUBLE) / 1000004.0)
        |          * 1000000.0 / CAST(n_chars AS DOUBLE), 9) AS k
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars FROM k
        |ORDER BY k DESC, doc_id LIMIT 25""".stripMargin,
    "q_sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
        |m AS (SELECT min(n_g) AS n_min FROM c),
        |r AS (
        |  SELECT d.doc_id, d.lang,
        |    least(1.0, sqrt(m.n_min / CAST(c.n_g AS DOUBLE))) AS rate_raw,
        |    least(1.0, round(sqrt(m.n_min / CAST(c.n_g AS DOUBLE)), 6)) AS keep_rate
        |  FROM documents d, c, m WHERE d.lang = c.lang)
        |SELECT doc_id, lang, keep_rate FROM r
        |WHERE ((doc_id % 1000003) * 1103515245 + 12345) % 1000000 < floor(rate_raw * 1000000)
        |ORDER BY doc_id""".stripMargin,
    "q_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN ((doc_id % 1000003) * 1103515245 + 12345) % 1000000 < 900000 THEN 'train'
        |       WHEN ((doc_id % 1000003) * 1103515245 + 12345) % 1000000 < 950000 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (doc_id % 2147483647) * 48271 % 2147483647, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    "q_join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the dim literal ('A','R' closed / 'N' open) folded into the IN list
    "q_dpp" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
        |FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_unpivot" ->
      """SELECT p_partkey, metric, value FROM (
        |  SELECT p_partkey, 'retail' AS metric, p_retailprice AS value FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part)
        |ORDER BY p_partkey, metric""".stripMargin,
    "q_scd_merge" ->
      """WITH dim AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
        |updates AS (
        |  SELECT c_custkey, 'UPDATED' AS u_seg,
        |    round(c_acctbal + 100.0, 2) AS u_bal
        |  FROM dim WHERE c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'INSERTED', round(c_acctbal, 2)
        |  FROM dim WHERE c_custkey % 13 = 0)
        |SELECT coalesce(d.c_custkey, u.c_custkey) AS c_custkey,
        |  coalesce(u.u_seg, d.c_mktsegment) AS segment,
        |  round(coalesce(u.u_bal, d.c_acctbal), 2) AS acctbal
        |FROM dim d FULL JOIN updates u ON d.c_custkey = u.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_project" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
    "q_prune" ->
      """SELECT file, ts_min, ts_max FROM (
        |  SELECT date_trunc('month', o_orderdate) AS file,
        |         min(o_orderdate) AS ts_min, max(o_orderdate) AS ts_max
        |  FROM orders GROUP BY 1)
        |WHERE ts_max >= TIMESTAMP '1995-03-15 00:00:00'
        |  AND ts_min <= TIMESTAMP '1995-06-15 00:00:00'
        |ORDER BY file""".stripMargin,
    "q_time_filter" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-03-31 23:59:59'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_bbox" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_extendedprice BETWEEN 20000 AND 40000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // the compacted layout holds the same rows as lineitem — the oracle
    // reads the original table, proving the re-pack lost/duplicated nothing
    "q_compact" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // the z-ordered layout holds the same rows as lineitem — same result
    // set as q_bbox, with a TOTAL sort since the layout permutes row order
    "q_bbox_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_extendedprice BETWEEN 20000 AND 40000
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity""".stripMargin,
    "q_nearest" ->
      """SELECT c_custkey, c_name, round(pow(c_acctbal - 5000.0, 2), 4) AS dist2
        |FROM customer ORDER BY pow(c_acctbal - 5000.0, 2), c_custkey LIMIT 1""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate FROM lineitem
        |ORDER BY l_returnflag, l_linestatus, l_shipdate""".stripMargin,
    "q_union" ->
      """SELECT c_custkey AS k, 'cust' AS src FROM customer
        |UNION ALL SELECT s_suppkey AS k, 'supp' AS src FROM supplier
        |ORDER BY k, src""".stripMargin,
    "q_union_by_name" ->
      """SELECT c_custkey AS k, c_name AS name, round(c_acctbal, 2) AS bal FROM customer
        |UNION ALL BY NAME
        |SELECT s_suppkey AS k, s_name AS name FROM supplier
        |ORDER BY k, name""".stripMargin,
    "q_intersect" ->
      """SELECT l_orderkey FROM lineitem
        |INTERSECT SELECT o_orderkey AS l_orderkey FROM orders WHERE o_totalprice > 50000
        |ORDER BY l_orderkey""".stripMargin,
    "q_except" ->
      """SELECT o_orderkey FROM orders
        |EXCEPT SELECT l_orderkey AS o_orderkey FROM lineitem WHERE l_quantity > 45
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_inner" ->
      """SELECT n_name, r_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name, r_name ORDER BY n_name, r_name""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       round(coalesce(sum(o_totalprice), 0), 2) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_full" ->
      """SELECT coalesce(c_custkey, o_custkey) AS custkey, acctbal, spend
        |FROM (SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        |      FROM customer WHERE c_acctbal > 5000) c
        |FULL JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
        |           FROM orders GROUP BY o_custkey
        |           HAVING round(sum(o_totalprice), 2) > 300000) o
        |ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "q_join_cross" ->
      """SELECT n_nationkey, r_regionkey FROM nation CROSS JOIN region
        |ORDER BY n_nationkey, r_regionkey""".stripMargin,
    "q_join_range" ->
      """SELECT p_partkey, s_suppkey FROM part JOIN supplier
        |ON p_retailprice BETWEEN s_acctbal - 100 AND s_acctbal + 100
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    // the binned form computes the identical pair set
    "q_join_range_binned" ->
      """SELECT p_partkey, s_suppkey FROM part JOIN supplier
        |ON p_retailprice BETWEEN s_acctbal - 100 AND s_acctbal + 100
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    "q_subquery_scalar" ->
      """SELECT c_custkey,
        |  round(c_acctbal - (SELECT avg(c_acctbal) FROM customer), 2) AS delta
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_subquery_corr" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin
  )
}
