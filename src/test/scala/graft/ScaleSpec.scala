package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Scale
import graft.similarity.{Ivf, IvfPq, Similarity}
import graft.domain.GridData

class ScaleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, TestSpark.sf)
    val direct = li.groupBy(col("l_returnflag").as("k"))
      .agg(sum("l_quantity").as("total"), count(lit(1)).as("n"))
      .as[(String, Double, Long)].collect().toSet
    val salted = Scale.saltedSumCount(li, col("l_returnflag"), col("l_quantity"), 8)
      .as[(String, Double, Long)].collect().toSet
    assert(salted == direct)
  }

  test("salted context packing: output-identical on skew, partition key genuinely splits") {
    // one giant source (1200 docs) next to a tiny one — the skew the plain
    // source-keyed window cannot split
    val docs = ((0 until 1200).map(i => (i.toLong, "web",
      (0 to i % 7).map(j => s"tok$j").mkString(" "))) ++
      (1200 until 1210).map(i => (i.toLong, "books", "a b c")))
      .toDF("doc_id", "source", "text")
    val width = 64L
    val salted = graft.text.TextAnalysis
      .packContextsSalted(docs, budget = 512, bucketWidth = width)
    // exact parity with the unsalted single-window form
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val plain = docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(w))
      .withColumn("seq_id", floor((col("cum") - col("n_tokens")) / 512).cast("long"))
      .withColumn("seq_fill", round((col("cum") - col("seq_id") * 512) / lit(512.0), 4))
      .select("doc_id", "source", "n_tokens", "seq_id", "seq_fill")
    assert(salted.orderBy("doc_id").collect()
      .sameElements(plain.orderBy("doc_id").collect()))
    // balance: the wide shuffle's key is (source, bucket) — the giant source
    // splits into ~19 bounded buckets instead of one 1200-row partition
    val groups = docs
      .select(col("source"), floor(col("doc_id") / width).as("bucket"))
      .groupBy("source", "bucket").count().as[(String, Long, Long)].collect()
    assert(groups.count(_._1 == "web") >= 1200 / width,
      "giant source must split into many sub-buckets")
    assert(groups.map(_._3).max <= width,
      s"no sub-bucket may exceed the bucket width (${groups.map(_._3).max})")
  }

  test("bucketed co-located join plans with no shuffle exchange") {
    val o = Tables.orders(spark, TestSpark.sf)
    val c = Tables.customer(spark, TestSpark.sf)
    Scale.writeBucketed(o.select("o_custkey", "o_totalprice"), "b_orders", "o_custkey", 4)
    Scale.writeBucketed(c.select("c_custkey", "c_acctbal"), "b_cust", "c_custkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_orders").join(spark.table("b_cust"),
        col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(j.count() == o.join(c, o("o_custkey") === c("c_custkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF top-k has decent overlap with brute force") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val cents = Ivf.train(emb, k = 8, iters = 2)
    assert(cents.length == 8 && cents.forall(_.length == 64))
    val exact = Similarity.cosineTopK(emb, 1L, 50).select("vec_id").as[Long].collect().toSet
    val ivf = Ivf.topK(emb, cents, 1L, 10, nprobe = 2).select("vec_id").as[Long].collect()
    assert(ivf.nonEmpty)
    val overlap = ivf.count(exact.contains).toDouble / ivf.length
    assert(overlap >= 0.2, s"IVF overlap with exact top-50 too low: $overlap")
  }

  test("IVF×PQ cell pruning is real: the ADC scan shrinks with nprobe") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val (cents, cb) = Similarity.prepareIvfPqIndex(spark, TestSpark.sf)
    val enc = Some(IvfPq.encodeCached(emb, TestSpark.sf, cents, cb))
    val total = emb.count() - 1 // query row is always excluded
    val n1 = IvfPq.scannedCandidates(emb, cents, cb, 1L, nprobe = 1, enc)
    val n4 = IvfPq.scannedCandidates(emb, cents, cb, 1L, nprobe = 4, enc)
    val nAll = IvfPq.scannedCandidates(emb, cents, cb, 1L, nprobe = Similarity.IvfK, enc)
    assert(nAll == total, s"full probe must touch the whole corpus ($nAll vs $total)")
    assert(n1 > 0 && n1 <= n4 && n4 < nAll,
      s"scan counts must shrink with nprobe: n1=$n1 n4=$n4 nAll=$nAll")
    // pruning must be substantial, not cosmetic: 4 of 16 cells ≈ 1/4 of the
    // corpus on balanced cells; allow 2× slack for skewed cell sizes
    assert(n4 <= total / 2, s"nprobe=4/16 scanned $n4 of $total rows")
  }

  test("ANN index compaction re-clusters appended shards by cell") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val (cents, cb) = Similarity.prepareIvfPqIndex(spark, TestSpark.sf)
    // ingest-time base: cid-clustered, like encodeCached lays it out
    val base = IvfPq.encode(emb.filter(col("vec_id") < 300), cents, cb)
      .repartition(col("cid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    // four incremental shard appends: each lands as its own mixed-cell
    // partitions, so probe-time pruning degrades append by append
    val idx = (300L until 500L by 50L).foldLeft(base: org.apache.spark.sql.DataFrame) {
      (acc, lo) => IvfPq.appendShard(acc,
        emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 50), cents, cb)
    }
    val nprobe = Similarity.IvfPqNprobe
    val before = IvfPq.partitionsTouched(emb, cents, 1L, nprobe, idx)
    val compacted = IvfPq.compactIndex(idx)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    compacted.count()
    val after = IvfPq.partitionsTouched(emb, cents, 1L, nprobe, compacted)
    // each append added at least one unprunable partition; compaction takes
    // the probed footprint back to at most one partition per probed cell
    assert(before > nprobe, s"appends did not inflate the probed footprint: $before")
    assert(after <= nprobe, s"compaction left probed cells scattered: $after > $nprobe")
    // compaction is pure layout: the index is row-identical to a full
    // re-encode, and the cell-pruned search over it is byte-identical
    assert(compacted.orderBy("vec_id").collect()
      .sameElements(IvfPq.encode(emb, cents, cb).orderBy("vec_id").collect()),
      "compaction changed index contents")
    val pre = IvfPq.topK(emb, cents, cb, 1L, 20, nprobe,
      Similarity.PqRerank, encoded = Some(idx)).collect()
    val post = IvfPq.topK(emb, cents, cb, 1L, 20, nprobe,
      Similarity.PqRerank, encoded = Some(compacted)).collect()
    assert(pre.sameElements(post), "topK diverged across compaction")
    base.unpersist(); compacted.unpersist()
  }

  /** Deterministic synthetic corpus of n unit-ish vectors (hash-derived, no
    * RNG state shared with the planes), with a planted near-dup pair (1, 2).
    */
  private def synthEmb(n: Int) = {
    val base = spark.range(0, n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (pmod(xxhash64(col("id"), d), lit(1000)) / 500.0 - 1.0)).as("embedding"))
    // plant vec 2 := vec 1 with a tiny perturbation on one component
    val dup = base.filter(col("vec_id") === 1)
      .select(lit(2L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + 0.01).otherwise(x)).as("embedding"))
    base.filter(col("vec_id") =!= 2).unionByName(dup)
  }

  test("LSH candidate volume grows ~linearly in n with corpus-derived planes") {
    // fixed planes would square the per-bucket pair count as n doubles;
    // planesFor adds a plane per doubling, holding occupancy ~constant
    val sizes = Seq(4096, 8192, 16384)
    val counts = sizes.map { n =>
      val p = Similarity.planesFor(n, targetPerBucket = 8)
      (n, p, Similarity.lshCandidates(synthEmb(n), p, numTables = 1).count())
    }
    val perRow = counts.map { case (n, _, c) => c.toDouble / n }
    assert(counts.map(_._2).distinct.size > 1,
      s"planesFor must raise planes across $sizes: $counts")
    // candidates per row must stay bounded as n doubles (linear growth),
    // with generous slack for bucket-occupancy noise
    assert(perRow.max <= perRow.min * 3.0 + 2.0,
      s"candidate growth superlinear: ${counts.mkString(", ")}")
  }

  test("simhash candidate volume stays ~linear in n (block-combination keys)") {
    // uniform random 64-bit fingerprints: the naive 4×16-bit chunk join
    // yields ~4·n/2¹⁷ candidates PER ROW (2.0/row at n=65536 — quadratic
    // total); the 3-of-6 combination keys carry ~32 bits of entropy, so
    // per-row candidates must stay near zero as n grows
    val counts = Seq(16384, 65536).map { n =>
      val fp = spark.range(0, n)
        .select(col("id").as("doc_id"), xxhash64(col("id")).as("fp"))
      n -> graft.dedup.Dedup.simhashCandidates(fp, maxDist = 3).count()
    }
    counts.foreach { case (n, c) =>
      assert(c.toDouble / n < 0.05,
        s"superlinear simhash candidates: $c pairs for $n docs")
    }
  }

  test("simhash candidates on a clustered corpus stay intra-cluster (~K·M²)") {
    // real near-dup corpora are CLUSTERED by construction (K templates ×
    // M near-identical members), not uniform — the hot-bucket failure mode
    // the uniform test above can't see. Member j of cluster c flips one
    // distinct bit of the cluster base, so intra-cluster hamming = 2 ≤
    // maxDist → every intra pair MUST be a candidate (pigeonhole recall is
    // exact), while cross-cluster candidates must stay negligible.
    val k = 256; val m = 16
    val fp = spark.range(0, k.toLong * m).select(
      col("id").as("doc_id"),
      xxhash64(expr(s"id DIV $m")).bitwiseXOR(
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(id % $m AS INT))")).as("fp"))
    val got = graft.dedup.Dedup.simhashCandidates(fp, maxDist = 3).count()
    val intra = k.toLong * m * (m - 1) / 2
    assert(got >= intra, s"missed intra-cluster pairs: $got < $intra")
    assert(got <= intra + k * m,
      s"cross-cluster candidate blow-up: $got vs intra $intra (n=${k * m})")
  }

  test("AND-OR amplification: more tables recover recall that stricter buckets cost") {
    val emb = synthEmb(4096)
    val p = Similarity.planesFor(4096, targetPerBucket = 8)
    def hasPair(tables: Int): Boolean =
      Similarity.lshCandidates(emb, p, tables)
        .filter(col("id1") === 1 && col("id2") === 2).count() == 1
    // the planted pair is near-identical: with enough OR-tables it MUST be
    // caught; table sets are nested (seed 42+t), so recall is monotonic
    assert(hasPair(4), "planted near-dup pair missed even with 4 OR-tables")
    val nd = Similarity.embeddingNearDups(emb, minCos = 0.99,
      numPlanes = Some(p), numTables = 4)
      .as[(Long, Long, Double)].collect()
    assert(nd.exists(r => r._1 == 1 && r._2 == 2), s"verified pair missing: ${nd.take(5).toSeq}")
  }

  test("knnJoin switches from broadcast to the shuffled LSH-cell path past the threshold") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val small = Similarity.knnJoin(emb, queries, 3)
    val smallPlan = small.queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastNestedLoopJoin"),
      s"small query set should broadcast:\n$smallPlan")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    try {
      val big = Similarity.knnJoin(emb, queries, 3)
      val bigPlan = big.queryExecution.executedPlan.toString
      assert(!bigPlan.contains("BroadcastNestedLoopJoin") &&
        !bigPlan.contains("BroadcastHashJoin"),
        s"over-threshold query set must not broadcast:\n$bigPlan")
      assert(bigPlan.contains("SortMergeJoin") || bigPlan.contains("ShuffledHashJoin"),
        s"expected a shuffle join on the LSH cell:\n$bigPlan")
      assert(big.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("full-probe shuffled kNN join equals the broadcast path exactly") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").as[(Long, Int, Long, Double)].collect().toSeq
    val exact = rows(Similarity.knnJoinBroadcast(emb, queries, 5))
    // probeHamming = numPlanes probes every cell: exact replicated join
    val viaCells = rows(Similarity.knnJoinShuffled(emb, queries, 5,
      numPlanes = 3, probeHamming = 3))
    assert(viaCells == exact)
    // the realistic multiprobe config (Hamming <= 1) keeps useful recall
    val ann = rows(Similarity.knnJoinShuffled(emb, queries, 5,
      numPlanes = 3, probeHamming = 1)).map(r => (r._1, r._3)).toSet
    val overlap = exact.map(r => (r._1, r._3)).count(ann.contains).toDouble / exact.size
    assert(overlap >= 0.5, s"multiprobe recall too low: $overlap")
  }

  test("centroid assign: matches per-row brute-force argmax and plans with no shuffle") {
    val rnd = new scala.util.Random(7)
    val emb = (0L until 60L).map(i => (i, Array.fill(64)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val cents = emb.filter(col("vec_id") < 4)
    val got = Similarity.centroidAssign(emb, cents)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    // brute-force reference on the driver
    val vecs = emb.as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    vecs.foreach { case (id, v) =>
      val best = (0L until 4L).minBy(c => (-cos(v, vecs(c)), c))
      assert(got(id) == best, s"vec $id: got ${got(id)}, expected $best")
    }
    // the assign stage is a pure scan: broadcast join only, no Exchange
    val plan = Similarity.centroidAssign(emb, cents).queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"), plan)
  }

  test("z-order layout concentrates a 2-D range filter into fewer files") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.lineitem(spark, TestSpark.sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    val bbox = (df: org.apache.spark.sql.DataFrame) =>
      df.filter(col("l_quantity").between(10, 20) &&
        col("l_extendedprice").between(20000, 40000))
    def filesTouched(dir: String): Long =
      bbox(spark.read.parquet(dir)).select(input_file_name()).distinct().count()

    val zdir = java.nio.file.Files.createTempDirectory("zorder-t").toFile.getAbsolutePath
    graft.operators.Scale.writeZOrdered(li,
      floor(col("l_quantity")).cast("int"),
      floor(col("l_extendedprice") / 1000).cast("int"), zdir, files = 16)
    val rdir = java.nio.file.Files.createTempDirectory("zorder-r").toFile.getAbsolutePath
    li.repartition(16).write.mode("overwrite").parquet(rdir) // unclustered twin
    // identical result set either way…
    assert(bbox(spark.read.parquet(zdir)).count() == bbox(li).count())
    // …but the clustered layout concentrates matches; the random layout
    // smears them over every file
    val (zf, rf) = (filesTouched(zdir), filesTouched(rdir))
    assert(rf == 16L, s"random layout should touch all files, got $rf")
    assert(zf <= rf / 2, s"z-order touched $zf of 16 files, random $rf")
  }

  test("parquet compaction: small files re-pack into ~target bins, rows preserved") {
    val li = Tables.lineitem(spark, TestSpark.sf)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val small = java.nio.file.Files.createTempDirectory("compact-s").toFile.getAbsolutePath
    li.repartition(40).write.mode("overwrite").parquet(small)
    val srcFiles = Scale.listParquet(spark, small)
    val total = srcFiles.map(_._2).sum
    val target = math.max(total / 5, 16L << 10)
    val confKeys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
    val confBefore = confKeys.map(k => spark.conf.getOption(k))
    val out = java.nio.file.Files.createTempDirectory("compact-o").toFile.getAbsolutePath
    val nOut = Scale.compactParquet(spark, small, out, target)
    // genuinely compacted: far fewer files than the 40 in, near the
    // byte-derived bin count (openCost padding allows a small overshoot)
    assert(nOut < srcFiles.length / 2, s"$nOut of ${srcFiles.length} files out")
    assert(nOut <= (total / target).toInt + 3, s"$nOut bins for total=$total target=$target")
    // no file larger than target + one straggler input file: the greedy
    // packing never concatenates past the cap
    val maxOut = Scale.listParquet(spark, out).map(_._2).max
    assert(maxOut <= target + srcFiles.map(_._2).max,
      s"output file $maxOut exceeds target $target plus one input")
    // row multiset preserved exactly
    val a = li.groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val b = spark.read.parquet(out).groupBy("l_orderkey", "l_linenumber")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(a == b)
    // and the CALLER's session confs are untouched — the packing knobs
    // lived and died in compactParquet's isolated session (all three keys)
    assert(confKeys.map(k => spark.conf.getOption(k)) == confBefore)
    // re-running maintenance never fragments: merging small files removes
    // per-file overhead, so a second pass can only merge further (here the
    // first pass's ~40 tiny-file headers amortize away), never split
    val again = java.nio.file.Files.createTempDirectory("compact-a").toFile.getAbsolutePath
    assert(Scale.compactParquet(spark, out, again, target) <= nOut,
      "re-compacting an already-compacted dir increased the bin count")
  }

  test("z-order tiled .grf ingest: bbox skips whole container files") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import graft.domain.GridData
    import graft.sources.{GridSource, TiledGridPartition}
    val cells = GridData.cells(spark)
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
    def writeDir(morton: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory(
        if (morton) "grf2-z" else "grf2-rm").toFile.getAbsolutePath
      graft.operators.Scale.writeZOrderedGrid(cells, dir,
        tDim = GridData.T, yDim = GridData.Y, xDim = GridData.X,
        epochMicros = GridSource.epochMicros,
        stepMicros = 24L * 3600 * 1000000L,
        lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05,
        tileY = 5, tileX = 5, tilesPerFile = 4, morton = morton)
      dir
    }
    val (zdir, rdir) = (writeDir(morton = true), writeDir(morton = false))
    def table(dir: String) =
      spark.read.format(classOf[GridSource].getName).option("path", dir).load()
    // 24 tiles / 4 per file = 6 containers per variable, 12 per dir
    assert(new java.io.File(zdir).listFiles().count(_.getName.endsWith(".grf")) == 12)
    // 1) either packing reproduces the generator grid cell-for-cell
    val got = table(zdir).select("variable", "ts", "y", "x", "lat", "lon", "value")
    assert(got.count() == GridData.N)
    assert(got.except(cells).count() == 0 && cells.except(got).count() == 0)
    // 2) a tall bbox (x strip) prunes files from the tile directories: the
    // Morton packing keeps file footprints square-ish (2 of 6 touched), the
    // row-major strawman smears the strip across long thin files (4 of 6)
    def filesTouched(dir: String): Int = {
      val df = table(dir).filter(col("variable") === "tasmax" && col("x") <= 4)
      val rel = df.queryExecution.optimizedPlan.collectFirst {
        case r: DataSourceV2ScanRelation => r
      }.getOrElse(fail("no DSv2 scan in plan"))
      rel.scan.toBatch.planInputPartitions()
        .map(_.asInstanceOf[TiledGridPartition].path).distinct.length
    }
    val (zf, rf) = (filesTouched(zdir), filesTouched(rdir))
    assert(zf <= rf / 2, s"z-order touched $zf files, row-major $rf")
    assert(zf <= 3, s"z-order touched $zf of 6 tasmax containers")
    // and the pruned plan still answers exactly
    val strip = table(zdir).filter(col("variable") === "tasmax" && col("x") <= 4)
    val stripOracle = cells.filter(col("variable") === "tasmax" && col("x") <= 4)
    assert(strip.count() == stripOracle.count() &&
      strip.except(stripOracle).count() == 0)
    // 3) edge-clipped tiles: 7×9 tiles over a 20×30 grid leave ragged edges
    // (grid 3×4, last row height 6, last column width 3) — the clip math in
    // writer AND reader must agree cell-for-cell
    val cdir = java.nio.file.Files.createTempDirectory("grf2-clip").toFile.getAbsolutePath
    graft.operators.Scale.writeZOrderedGrid(cells, cdir,
      tDim = GridData.T, yDim = GridData.Y, xDim = GridData.X,
      epochMicros = GridSource.epochMicros,
      stepMicros = 24L * 3600 * 1000000L,
      lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05,
      tileY = 7, tileX = 9, tilesPerFile = 3)
    val clipped = table(cdir).select("variable", "ts", "y", "x", "lat", "lon", "value")
    assert(clipped.count() == GridData.N)
    assert(clipped.except(cells).count() == 0 && cells.except(clipped).count() == 0)
    // a mixed GRF1 + GRF2 directory fails loudly, never misparses
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sources.SourceQueries.grfDir, "tasmax.grf"),
      java.nio.file.Paths.get(cdir, "a-classic.grf"))
    val e = intercept[Exception](table(cdir).count())
    assert(e.getMessage.contains("GRF"), e.getMessage)
    // 4) metadata aggregates answer from the tile DIRECTORIES (no tile bytes)
    val agg = table(zdir)
      .filter(col("variable") === "tasmin" && col("y") >= 12 && col("x").between(7, 22))
      .agg(count(lit(1)).as("n"), min("lat").as("lat_min"), max("x").as("x_max"))
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(aggPlan.contains("TiledGridAggScan"), aggPlan)
    val expect = cells
      .filter(col("variable") === "tasmin" && col("y") >= 12 && col("x").between(7, 22))
      .agg(count(lit(1)), min("lat"), max("x")).collect()(0)
    assert(agg.collect()(0) == expect)
  }

  test("GRF2 compaction merges small containers, preserving every cell and the file skip") {
    import org.apache.spark.sql.functions._
    import graft.domain.GridData
    import graft.sources.GridSource
    val cells = GridData.cells(spark)
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
    // incremental-ingest shape: one tile per container = 48 tiny files
    val small = java.nio.file.Files.createTempDirectory("grf2-small").toFile.getAbsolutePath
    graft.operators.Scale.writeZOrderedGrid(cells, small,
      tDim = GridData.T, yDim = GridData.Y, xDim = GridData.X,
      epochMicros = GridSource.epochMicros, stepMicros = 24L * 3600 * 1000000L,
      lat0 = 44.0, dlat = 0.05, lon0 = -80.0, dlon = 0.05,
      tileY = 5, tileX = 5, tilesPerFile = 1)
    assert(new java.io.File(small).listFiles().count(_.getName.endsWith(".grf")) == 48)
    val packed = java.nio.file.Files.createTempDirectory("grf2-packed").toFile.getAbsolutePath
    graft.operators.Scale.compactTiledDir(spark, small, packed, tilesPerFile = 4)
    assert(new java.io.File(packed).listFiles().count(_.getName.endsWith(".grf")) == 12)
    val got = spark.read.format(classOf[GridSource].getName)
      .option("path", packed).load()
      .select("variable", "ts", "y", "x", "lat", "lon", "value")
    assert(got.count() == GridData.N)
    assert(got.except(cells).count() == 0 && cells.except(got).count() == 0)
  }

  test("zorder64 interleave: bits land in even/odd positions, order is locality-preserving") {
    import graft.functions.ZOrder64.interleave
    assert(interleave(0, 0) == 0L)
    assert(interleave(1, 0) == 1L)      // x → even bits
    assert(interleave(0, 1) == 2L)      // y → odd bits
    assert(interleave(3, 3) == 15L)
    assert(interleave(0xffffffff, 0xffffffff) == -1L) // full 32+32 → 64 bits
    // quadrant property: all cells of the low quadrant sort before any cell
    // of the high quadrant
    val low = for (x <- 0 to 3; y <- 0 to 3) yield interleave(x, y)
    val high = for (x <- 4 to 7; y <- 4 to 7) yield interleave(x, y)
    assert(low.max < high.min)
  }

  test("zorder64 codegen compiles (CODEGEN_ONLY) and agrees with the Scala reference") {
    import org.apache.spark.sql.functions._
    import graft.functions.{ZOrder64, ZOrderFunctions}
    // CODEGEN_ONLY turns a silent interpreted fallback into a hard failure
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = spark.range(64)
        .select(col("id").cast("int").as("x"), (col("id") * 7 % 64).cast("int").as("y"))
        .select(col("x"), col("y"), ZOrderFunctions.zorder64(col("x"), col("y")).as("z"))
        .collect()
      got.foreach { r =>
        assert(r.getLong(2) == ZOrder64.interleave(r.getInt(0), r.getInt(1)))
      }
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("hilbertN: bijective and unit-step adjacent at d = 2, 3 and 4") {
    import graft.functions.HilbertN
    for ((dims, bits) <- (1 to 5).map((2, _)) ++ Seq((3, 1), (3, 2), (3, 3), (4, 2))) {
      val n = 1L << bits
      val cells = math.pow(n.toDouble, dims.toDouble).toLong
      var prev: Array[Long] = null
      (0L until cells).foreach { d =>
        val x = HilbertN.inverse(d, bits, dims)
        assert(x.forall(v => v >= 0 && v < n), s"d=$d out of grid")
        assert(HilbertN.index(x, bits) == d,
          s"dims=$dims bits=$bits: index(inverse($d)) != $d — not a bijection")
        if (prev != null) {
          val step = x.zip(prev).map { case (a, b) => math.abs(a - b) }.sum
          assert(step == 1,
            s"dims=$dims bits=$bits: d=$d jumped $step cells — not a Hilbert curve")
        }
        prev = x
      }
    }
  }

  test("hilbertN codegen compiles (CODEGEN_ONLY) and agrees with the Scala reference") {
    import org.apache.spark.sql.functions._
    import graft.functions.{HilbertN, HilbertNFunctions}
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = spark.range(512)
        .select((col("id") % 8).as("a"),
          (col("id") / 8).cast("long").mod(8).as("b"),
          (col("id") / 64).cast("long").mod(8).as("c"))
        .select(col("a"), col("b"), col("c"),
          HilbertNFunctions.hilbertN(3, col("a"), col("b"), col("c")).as("h"))
        .collect()
      assert(got.map(_.getLong(3)).toSet.size == 512, "3-D key must be injective")
      got.foreach { r =>
        assert(r.getLong(3) ==
          HilbertN.index(Array(r.getLong(0), r.getLong(1), r.getLong(2)), 3))
        assert(r.getLong(3) >= 0 && r.getLong(3) < 512)
      }
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("binned range join plans as an equi-join, not a nested loop") {
    val q = SparkEntry.queries("q_join_range_binned")(spark, TestSpark.sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    // and the pair set equals the nested-loop form's
    val bnlj = SparkEntry.queries("q_join_range")(spark, TestSpark.sf).collect()
    assert(q.collect().sameElements(bnlj))
  }

  test("AQE splits a skewed join partition (skew=true in the replanned SMJ)") {
    // thresholds scaled to test data; production keeps the defaults (256 MB
    // skew threshold, factor 5) — the REWRITE is what this locks in CI:
    // a hot key no longer pins one straggler task, AQE splits its partition
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 20000)
        .select(when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 200).select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = left.join(right.hint("merge"), "k")
      // key 0: 19801 left rows × 1 right row; key 100 adds one more match.
      // collect() (not count(), which builds its own plan) so THIS
      // DataFrame's adaptive plan is the one that executed and replanned
      assert(j.collect().length == 19802)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("NODATA nulls never leak into aggregates (grid)") {
    val cells = GridData.cells(spark)
    val (nAll, nVal) = cells.agg(count(lit(1)), count(col("value")))
      .as[(Long, Long)].head()
    assert(nVal < nAll, "fixture should contain NODATA cells")
    // avg over non-null only: recompute manually
    val manual = cells.filter(col("value").isNotNull)
      .agg(sum("value") / count(lit(1))).as[Double].head()
    val auto = cells.agg(avg("value")).as[Double].head()
    assert(math.abs(manual - auto) < 1e-9)
    // percentile ignores nulls too
    val p = cells.agg(expr("percentile(value, 0.5)")).as[Double].head()
    assert(!p.isNaN)
  }

  test("partitioned snapshot write fans a hot partition over several single-valued files") {
    // r20 verdict item: `repartition(tuple)` serialized EVERY row of a hot
    // partition value through ONE task writing ONE file — a straggler per
    // day at 100 TB. The routed write now uses a REBALANCE distribution:
    // AQE splits a hot tuple's shuffle partition into advisory-sized
    // pieces (several tasks -> several files, each still single-valued via
    // partitionBy) and coalesces tiny tuples. Thresholds here are scaled
    // to test data; production keeps the defaults.
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-part-fan")
      .toFile.getAbsolutePath
    Snapshots.setPartitionSpec(spark, dir, Snapshots.IdentityPart("day"))
    val confs = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.shuffle.partitions" -> "4")
    val saved = confs.map { case (k, _) => k -> util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~97% of rows land on day "hot" with a fat payload (~3 MB of
      // shuffle bytes); d0/d1/d2 stay tiny
      val df = spark.range(0, 20000).select(
        when(col("id") % 100 === 0,
          concat(lit("d"), col("id") % 3)).otherwise(lit("hot")).as("day"),
        col("id").as("k"),
        concat(lit("p"), col("id"),
          lit("x" * 200)).as("payload"))
      val v = Snapshots.commit(spark, dir, df)
      val files = Snapshots.files(spark, dir, v)
      val byVal = files.groupBy(f => Snapshots.partValueOf(f).getOrElse("?"))
      // the hot value fans out over >1 file; every file is value-pure
      assert(byVal("hot").length > 1,
        s"hot partition still serializes through one file: $byVal")
      files.foreach { f =>
        val days = spark.read.parquet(Snapshots.dataPath(dir, f))
          .select("day").distinct().collect().map(_.getString(0))
        assert(days.length == 1, s"file $f mixes partition values: ${days.toSeq}")
      }
      // pruning is unchanged: an equality probe keeps exactly d1's file(s),
      // never the hot files
      val (kept, all) = Snapshots.pruneFilesAll(spark, dir, v,
        Seq(("day", Some("d1"), Some("d1"))))
      assert(kept.length == byVal("d1").length && kept.length < all.length,
        s"kept ${kept.length} of ${all.length}")
      assert(kept.forall(f => Snapshots.partValueOf(f).contains("d1")), kept)
      // rows survive the fan-out exactly
      assert(Snapshots.read(spark, dir).count() == 20000L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hot-tuple fan-out SCALES with the bytes/advisory ratio, tiny tuples coalesce") {
    // r22 (verdict item): the >1-file lock above proves splitting happens;
    // this one proves the split tracks the advisory SIZING — a hot tuple
    // carrying ~100x the advisory bytes must fan over many files (not just
    // 2), and each cold tuple must come out as exactly one file — i.e. the
    // write sizing is data-derived, not a fixed local-mode constant.
    // Thresholds scaled for CI (64 KB advisory standing in for 256 MB); the
    // ratio arithmetic is scale-free. Two units matter for the ratio to be
    // OBSERVABLE, not just true: (1) AQE sizes by COMPRESSED shuffle bytes,
    // so the payload must be lz4-incompressible (the first form of this
    // test padded with 'x'*200 and the 100x ratio collapsed to ~4x on the
    // wire); (2) a skewed reduce partition splits at MAP-output
    // granularity, so the input needs more map slices than the expected
    // fan (local[4]'s default 4 slices capped the fan at 4 regardless of
    // bytes).
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-part-fan2")
      .toFile.getAbsolutePath
    Snapshots.setPartitionSpec(spark, dir, Snapshots.IdentityPart("day"))
    val confs = Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.shuffle.partitions" -> "4")
    val saved = confs.map { case (k, _) => k -> util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // hot day: 30k rows x ~192 B of sha2 hex (incompressible under lz4)
      // ≈ 5.8 MB ≈ 90x the 64 KB advisory; three cold days: 40 tiny rows
      // each, all landing in the LAST of the 32 input slices (so each cold
      // day is one map-range piece → exactly one file)
      val df = spark.range(0, 30120, 1, 32).select(
        when(col("id") >= 30000, concat(lit("d"), col("id") % 3))
          .otherwise(lit("hot")).as("day"),
        col("id").as("k"),
        concat(
          sha2(concat(col("id").cast("string"), lit("a")), 256),
          sha2(concat(col("id").cast("string"), lit("b")), 256),
          sha2(concat(col("id").cast("string"), lit("c")), 256)).as("payload"))
      val v = Snapshots.commit(spark, dir, df)
      val byVal = Snapshots.files(spark, dir, v)
        .groupBy(f => Snapshots.partValueOf(f).getOrElse("?"))
      // ~100x the advisory must yield a genuine fan, not a token split —
      // >= 8 leaves generous slack for AQE's bin-packing estimates
      assert(byVal("hot").length >= 8,
        s"hot fan does not track the advisory ratio: ${byVal.view.mapValues(_.length).toMap}")
      Seq("d0", "d1", "d2").foreach { d =>
        assert(byVal(d).length == 1,
          s"tiny tuple $d should coalesce to one file: ${byVal(d).length}")
      }
      assert(Snapshots.read(spark, dir).count() == 30120L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("merge rewrite bin-packs survivor files instead of one file per shuffle partition") {
    // r22: DML rewrites carry a REBALANCE hint into the commit write —
    // a merge whose survivor frame arrives in many small partitions lands
    // as advisory-sized files, not one tiny file per partition (the read
    // side then pays O(files) scan tasks per query forever after).
    import graft.operators.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("graft-mrg-pack")
      .toFile.getAbsolutePath
    Snapshots.commit(spark, dir,
      spark.range(0, 4000).toDF("k")
        .withColumn("v", concat(lit("v"), col("k"))).repartition(2))
    val before = Snapshots.files(spark, dir,
      Snapshots.currentVersion(spark, dir).get).length
    // updates deliberately fanned over 16 partitions; total bytes are tiny,
    // so AQE should fold the rewrite to ~1 fresh file, never 16
    val upd = spark.range(0, 4000, 2).toDF("k")
      .withColumn("v", concat(lit("u"), col("k"))).repartition(16)
    val v2 = Snapshots.mergeInto(spark, dir, upd, "k")
    val fresh = Snapshots.files(spark, dir, v2)
    assert(fresh.length < before + 16,
      s"merge fanned one file per update partition: ${fresh.length} files")
    // content is the upsert, exactly
    val got = Snapshots.read(spark, dir).orderBy("k").collect()
    assert(got.length == 4000)
    assert(got.take(2).map(_.getString(1)).toSeq == Seq("u0", "v1"))
  }
}
