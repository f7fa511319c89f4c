package graft

import org.scalatest.funsuite.AnyFunSuite

/** CI locks on the headline physical-plan properties PLANS.md/PERF.md cite —
  * pushdown and pruning claims must not silently drift as code changes.
  * (The bucketed-join no-Exchange property is asserted in ScaleSpec; DSv2
  * section/agg pushdown details in GridSourceSpec/NcGridSourceSpec.)
  */
class PlansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def planOf(name: String): String = {
    // default metadata truncation (100 chars) can cut the PushedFilters list
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    SparkEntry.queries(name)(spark, TestSpark.sf).queryExecution.executedPlan.toString
  }

  test("deletion-vector mask: broadcast anti-join over the scan, filters still pushed") {
    import graft.operators.Snapshots
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-plans-dv").toFile.getAbsolutePath
    Snapshots.commit(spark, dir,
      spark.range(5000).toDF("k").withColumn("p", org.apache.spark.sql.functions.col("k") * 2.0)
        .repartitionByRange(4, org.apache.spark.sql.functions.col("k")))
    Snapshots.deleteRangeMor(spark, dir, "k", Some(100L), Some(199L))
    val q = Snapshots.read(spark, dir).filter($"k" > 1000)
    q.collect() // let AQE finalize the executed plan
    val plan = q.queryExecution.executedPlan.toString
    // the deleted-rows-sized DV side broadcasts; the scan is never nested-looped
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV mask should plan as a broadcast anti-join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the user filter still reaches the parquet scan BELOW the mask join
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,1000)]") ||
      plan.contains("GreaterThan(k,1000)"),
      s"filter failed to push below the DV mask:\n$plan")
  }

  test("q1_pricing: shipdate filter reaches the parquet scan, columns pruned") {
    val plan = planOf("q1_pricing")
    assert(plan.contains("PushedFilters:"), plan)
    // the shipdate bound is pushed, not just a post-scan Filter
    assert(plan.split("PushedFilters:").exists(s =>
      s.takeWhile(_ != '\n').contains("l_shipdate")), plan)
    // projection pruning: the 16-column lineitem scan reads no comment/address
    assert(!plan.contains("l_comment"), plan)
    // partial + final aggregation (map-side combine before the shuffle)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q_bbox: both range predicates are pushed to the scan") {
    val plan = planOf("q_bbox")
    val pushed = plan.split("PushedFilters:").drop(1).map(_.takeWhile(_ != '\n')).mkString
    assert(pushed.contains("l_quantity") && pushed.contains("l_extendedprice"), plan)
  }

  test("q_dsv2_count: completely-pushed aggregate emits one row, zero cells") {
    val df = SparkEntry.queries("q_dsv2_count")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GridAggScan"), plan)
    assert(plan.contains("pushedAggregates="), plan)
    // the scan itself is the single-row source: no partial/final agg pair over cells
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 1)
  }

  // the declared queries end in orderBy (oracle determinism), which coalesces
  // the final RDD — partition pruning is asserted on the scan+filter stage
  // (identical predicates, same ScanBuilder path)

  test("q_profile: one scan of lineitem, distinct-pair aggregation, no Expand") {
    val plan = planOf("q_profile")
    // one table read for all 5 columns' stats — the profiler's whole point
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    // the narrow-pair formulation must not regress to the multi-distinct Expand
    assert(!plan.contains("Expand"), plan)
    // two-level aggregate: (col, v) collapse with map-side partial, then per-col fold
    assert("HashAggregate".r.findAllIn(plan).size >= 3, plan)
  }

  test("q_ewma: the lag fan costs ONE window over one shuffle") {
    val plan = planOf("q_ewma")
    assert("Window".r.findAllIn(plan).size == 1, plan)
    // one hashpartitioning exchange on user_id feeds it (plus the final sort)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q_join_asof: the as-of match is a window, not a join — one key shuffle") {
    val plan = planOf("q_join_asof")
    // the union-tag rewrite's whole point: no join operator of any kind
    assert(!plan.contains("Join"), plan)
    assert("Window".r.findAllIn(plan).size == 1, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q_cosine_pq: ADC candidate scoring runs without a partition shuffle") {
    similarity.Similarity.preparePqIndex(spark, TestSpark.sf)
    val plan = planOf("q_cosine_pq")
    // scan of the cached code table → scalar ADC score → TakeOrdered; the
    // only exchange anywhere is the rerank broadcast
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("q_grid_file: section pushdown plans only the surviving partitions") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format(classOf[sources.GridSource].getName)
      .option("path", sources.SourceQueries.grfDir).load()
      .filter(col("variable") === "tasmin" &&
        col("ts").between(lit("1990-01-02 00:00:00").cast("timestamp"),
          lit("1990-01-05 23:59:59").cast("timestamp")) &&
        col("y") >= 2 && col("x").between(3, 27))
    assert(df.queryExecution.executedPlan.toString.contains("FileGridScan"))
    // tasmin only (variable pruning dropped the tasmax file), days 1..4 of
    // 8, packed into one partition
    assert(df.rdd.getNumPartitions == 1, s"partitions=${df.rdd.getNumPartitions}")
    assert(TestSpark.gridSlices(df) == (1 to 4).map("tasmin" -> _))
  }

  test("q_grid_nc: ts/y/x pushdown plans only the surviving partitions") {
    import org.apache.spark.sql.functions._
    val df = sources.SourceQueries.ncTable(spark)
      .filter(col("variable") === "tasmax" &&
        col("ts").between(lit("1990-01-02 00:00:00").cast("timestamp"),
          lit("1990-01-07 23:59:59").cast("timestamp")) &&
        col("y").between(4, 17) && col("x").between(2, 28))
    assert(df.queryExecution.executedPlan.toString.contains("NcGridScan"))
    // the section packs into one partition that plans exactly the surviving
    // slices: tasmax only, days 1..6 of 8
    assert(df.rdd.getNumPartitions == 1, s"partitions=${df.rdd.getNumPartitions}")
    assert(TestSpark.gridSlices(df) == (1 to 6).map("tasmax" -> _))
  }

  test("q_quantile_rollup: partial sketch before the shard exchange, two-column scan") {
    val plan = planOf("q_quantile_rollup")
    // map-side combine: shards receive partial sketch state, never raw rows
    assert(plan.contains("partial_histogram_sketch"), plan)
    assert(plan.contains("histogram_merge_quantiles"), plan)
    // column pruning: the lineitem scan reads only (l_orderkey, l_quantity)
    assert(!plan.contains("l_extendedprice") && !plan.contains("l_comment"), plan)
  }

  test("q_grid_tiled: all three predicates push into the tiled scan") {
    val plan = planOf("q_grid_tiled")
    assert(plan.contains("TiledGridScan"), plan)
    Seq("LessThan(y,10)", "LessThan(x,10)", "GreaterThanOrEqual(ts,")
      .foreach(p => assert(plan.contains(p), s"missing pushed $p in\n$plan"))
    // the 4 tiles of the y, x < 10 corner per variable, days 2..7 of 8: one
    // partition per tile
    val parts = TestSpark.gridPartitions(SparkEntry.queries("q_grid_tiled")(spark, TestSpark.sf))
    val corner = for (ty <- 0 to 1; tx <- 0 to 1) yield (ty * 5, ty * 5 + 4, tx * 5, tx * 5 + 4)
    assert(parts.map(p => (p.unit.variable, p.unit.window, p.ts.toSeq)) ==
      Seq("tasmax", "tasmin").flatMap(v => corner.map(w => (v, w, 2 to 7))), parts)
  }

  test("q_scan_partitioned: the day predicate prunes directories, not rows") {
    val plan = planOf("q_scan_partitioned")
    assert(plan.contains("PartitionFilters:"), plan)
    assert(plan.split("PartitionFilters:").exists(s =>
      s.takeWhile(_ != '\n').contains("day")), plan)
  }

  test("q_dpp: runtime dynamicpruning subquery reaches the fact scan") {
    val plan = planOf("q_dpp")
    // the selective predicate lives on the dim only, so the fact's
    // PartitionFilters must carry a DPP subquery, not a static literal
    assert(plan.contains("dynamicpruningexpression"), plan)
    assert(plan.split("PartitionFilters:").exists(s =>
      s.takeWhile(_ != '\n').contains("dynamicpruning")), plan)
  }

  test("q_contamination: Generate explodes positions, never the built shingle array") {
    val plan = planOf("q_contamination")
    // Generate inlines its generator and re-evaluates it per OUTPUT row;
    // exploding the built-per-doc shingle array re-ran the whole
    // construction per shingle (13× slower, see PERF.md). Both Generates
    // must explode the cheap position sequence only.
    val gens = plan.split("Generate ").drop(1).map(_.takeWhile(_ != '\n'))
    assert(gens.nonEmpty, plan)
    gens.foreach { g =>
      assert(g.contains("explode(sequence("), g)
      assert(!g.contains("array_distinct"), g)
      assert(!g.contains("array_join"), g)
    }
  }

  test("q_rank_fusion: rank windows run over TakeOrdered candidates, not the corpus") {
    val plan = planOf("q_rank_fusion")
    // each arm bounds its candidates with TakeOrdered BEFORE the single-
    // partition rank window — the window's input is 100 rows by construction,
    // so the warned-about single partition is driver-sized, never the corpus
    val arms = plan.split("Window \\[row_number").drop(1)
    assert(arms.length == 2, "expected exactly the two rank windows\n" + plan)
    // plan prints top-down: below each Window, the bounding TakeOrdered must
    // appear BEFORE any table scan — i.e. the window input is the 100-row
    // candidate list, never a raw corpus scan
    arms.foreach { below =>
      val take = below.indexOf("TakeOrderedAndProject(limit=100")
      val scan = below.indexOf("FileScan")
      assert(take >= 0 && (scan < 0 || take < scan), plan)
    }
  }

  test("q_pipeline_full: the containment stage never reshuffles the corpus") {
    dedup.Dedup.prepareSignatures(spark, TestSpark.sf)
    val plan = planOf("q_pipeline_full")
    // the pair restriction + subset-drop anti-join all build on the tiny
    // (posting-list-bounded) containment side: broadcast hash joins only —
    // a sort-merge LeftAnti here would mean the corpus shuffled on doc_id
    // for a candidate-sized drop list
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(plan).isDefined, plan)
    assert("SortMergeJoin .*LeftAnti".r.findFirstIn(plan).isEmpty, plan)
    // the cached pair table surfaces as an in-memory scan, not a rebuild
    assert(plan.contains("InMemoryTableScan"), plan)
  }

  test("runtime bloom filter: shuffle join gets a might_contain probe on the big side") {
    import org.apache.spark.sql.functions._
    // thresholds sized for test data; at production scale the defaults
    // (10 MB creation side / 10 GB application side) gate the same rewrite
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = Tables.lineitem(spark, TestSpark.sf)
      val small = Tables.orders(spark, TestSpark.sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val q = big.join(small, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_pmi: top-50 is TakeOrderedAndProject, marginals fold as windows") {
    val plan = planOf("q_pmi")
    // the limit must ride the sort (never a global Sort + CollectLimit)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // r21: the c1/c2 marginals are window sums over the vocab-sized
    // (w1, w2) table — no marginal aggregates joined back (the old plan
    // carried two BroadcastHashJoins re-aggregating the pair table), and
    // the grand total stays a 1-row cross join
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert("windowspecdefinition".r.findAllIn(plan).size >= 2, plan)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1, plan)
  }

  test("q_ngram_lm: score-side explode joins the count tables by broadcast") {
    val plan = planOf("q_ngram_lm")
    // two LEFT broadcast joins (c12, c1) + the 1-row vocab cross join
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, plan)
    assert("LeftOuter".r.findAllIn(plan).size >= 2, plan)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1, plan)
    // no shuffle join anywhere at fixture scale
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_nested_prune: the scan reads only the touched struct fields, never text") {
    val plan = planOf("q_nested_prune")
    val rs = plan.split("ReadSchema:").drop(1).map(_.takeWhile(_ != '\n')).mkString
    assert(rs.contains("meta:struct<lang") && rs.contains("n_chars"), plan)
    assert(!rs.contains("text") && !rs.contains("source"), s"unpruned scan: $rs")
  }

  test("q_scan_orc: the event_type predicate prunes hive partitions at the ORC scan") {
    val plan = planOf("q_scan_orc")
    assert(plan.contains("Scan orc"), plan)
    val pf = plan.split("PartitionFilters:").drop(1).map(_.takeWhile(_ != '\n')).mkString
    assert(pf.contains("event_type"), plan)
  }

  test("q_mview_rewrite: the fact table is never scanned — the view answers") {
    val df = SparkEntry.queries("q_mview_rewrite")(spark, TestSpark.sf)
    val dirs = TestSpark.scannedDirs(df)
    assert(dirs.nonEmpty && dirs.forall(_.contains("graft-mview-v")),
      s"rewritten plan still scans the source: $dirs")
  }

  test("q_bpe_encode: the vocab-sized sub-token table joins by broadcast, corpus never reshuffled by it") {
    val plan = planOf("q_bpe_encode")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the corpus side's only exchange is the doc-keyed aggregate; the word
    // join must not add a word-keyed shuffle of the exploded corpus
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_event_pattern: all patterns evaluate in ONE pass — a single user-keyed shuffle") {
    val plan = planOf("q_event_pattern")
    // sequence build = 1 user-keyed exchange; the final single-row stack
    // adds its 1-partition exchange; there must be no per-pattern passes
    assert(plan.split("Exchange").length - 1 <= 3, plan)
    assert(plan.split("Scan ").length - 1 == 1, s"events scanned more than once: $plan")
  }
}
