package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Snapshots

class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-snapspec").toFile.getAbsolutePath

  private val curves = Seq(Snapshots.Curve.ZOrder, Snapshots.Curve.Hilbert)

  test("append commits never change a pinned version's rows") {
    val dir = tmp()
    val v1 = Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val before = Snapshots.read(spark, dir, Some(v1))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val v2 = Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    assert(v1 == 1 && v2 == 2)
    val after = Snapshots.read(spark, dir, Some(v1))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after == before, "v1 drifted after the v2 append")
    assert(Snapshots.read(spark, dir, Some(v2)).count() == 3)
    assert(Snapshots.read(spark, dir).count() == 3, "default read = latest")
  }

  test("replace commit rewrites layout, keeps content, preserves history") {
    val dir = tmp()
    Snapshots.commit(spark, dir, spark.range(100).toDF("k").repartition(8))
    val v2 = Snapshots.commit(spark, dir,
      Snapshots.read(spark, dir).coalesce(1), replace = true)
    assert(Snapshots.files(spark, dir, v2).length == 1, "replace should compact to 1 file")
    assert(Snapshots.files(spark, dir, 1).length == 8, "v1 manifest untouched")
    assert(Snapshots.read(spark, dir, Some(v2)).as[Long].collect().sorted.toSeq ==
      (0L until 100L).toSeq)
    assert(Snapshots.read(spark, dir, Some(1)).count() == 100, "v1 still readable")
  }

  test("unpublished (hidden tmp) manifests are invisible to version listing") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    // simulate a torn publish: a writer crashed before the atomic rename
    val torn = java.nio.file.Paths.get(dir, "_manifests", ".v2.list.tmp")
    java.nio.file.Files.write(torn, "data/c2/part-bogus.parquet\n".getBytes("UTF-8"))
    assert(Snapshots.versions(spark, dir) == Seq(1), "tmp manifest leaked into versions")
    assert(Snapshots.currentVersion(spark, dir).contains(1))
    assert(Snapshots.read(spark, dir).count() == 1)
  }

  test("reading a missing version or an empty table fails loudly") {
    val dir = tmp()
    intercept[IllegalArgumentException](Snapshots.read(spark, dir))
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](Snapshots.files(spark, dir, 9))
  }

  test("readChanges tails appended rows only, refuses ranges crossing a replace") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((4L, "d"), (5L, "e")).toDF("k", "v"))
    assert(Snapshots.readChanges(spark, dir, 1, 2)
      .as[(Long, String)].collect().toSet == Set((3L, "c")))
    assert(Snapshots.readChanges(spark, dir, 1, 3)
      .as[(Long, String)].collect().toSet == Set((3L, "c"), (4L, "d"), (5L, "e")))
    Snapshots.commit(spark, dir,
      Snapshots.read(spark, dir).coalesce(1), replace = true)
    val e = intercept[IllegalArgumentException](
      Snapshots.readChanges(spark, dir, 3, 4))
    assert(e.getMessage.contains("replace"), e.getMessage)
  }

  test("expire vacuums unreferenced files and kills expired reads loudly") {
    val dir = tmp()
    Snapshots.commit(spark, dir, spark.range(10).toDF("k").repartition(4))
    Snapshots.commit(spark, dir,
      Snapshots.read(spark, dir).coalesce(1), replace = true) // v2 rewrites
    Snapshots.commit(spark, dir, spark.range(10, 12).toDF("k")) // v3 appends
    val deleted = Snapshots.expire(spark, dir, keepFrom = 2)
    assert(deleted == 4, s"v1's 4 now-orphaned files should go, got $deleted")
    assert(Snapshots.versions(spark, dir) == Seq(2, 3))
    intercept[IllegalArgumentException](Snapshots.files(spark, dir, 1))
    assert(Snapshots.read(spark, dir, Some(2)).count() == 10, "kept version intact")
    assert(Snapshots.read(spark, dir).count() == 12)
  }

  test("property: random append/replace sequences match an in-memory model at every version") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val dir = tmp()
      // model(v) = expected key multiset of snapshot v
      val model = scala.collection.mutable.ArrayBuffer[Vector[Long]]()
      var next = 1000L * trial
      for (step <- 0 until 6) {
        val fresh = Vector.fill(1 + rnd.nextInt(4)) { next += 1; next }
        val replace = step > 0 && rnd.nextBoolean()
        val v = Snapshots.commit(spark, dir, fresh.toDF("k"), replace = replace)
        assert(v == step + 1)
        model += (if (replace || model.isEmpty) fresh
                  else (model.last ++ fresh))
      }
      model.zipWithIndex.foreach { case (want, i) =>
        val got = Snapshots.read(spark, dir, Some(i + 1)).as[Long].collect().sorted
        assert(got.toVector == want.sorted, s"trial $trial v${i + 1}")
      }
      // readChanges across every append-only span equals the model delta
      for (a <- 1 until model.length; b <- (a + 1) to model.length
           if model(b - 1).startsWith(model(a - 1))) {
        val delta = model(b - 1).drop(model(a - 1).length)
        if (delta.nonEmpty) {
          val got = Snapshots.readChanges(spark, dir, a, b).as[Long].collect().sorted
          assert(got.toVector == delta.sorted, s"trial $trial changes ($a,$b]")
        }
      }
    }
  }

  test("commit collects footer stats: every file, min<=max, rows add up") {
    val dir = tmp()
    val v = Snapshots.commit(spark, dir,
      spark.range(1000).toDF("k").withColumn("s", concat(lit("id"), format_string("%04d", col("k"))))
        .repartitionByRange(4, col("k")))
    val idx = Snapshots.stats(spark, dir, v)
    val all = Snapshots.files(spark, dir, v)
    assert(all.nonEmpty && all.forall(idx.contains), "a data file has no stats entry")
    var rows = 0L
    for (f <- all) {
      val st = idx(f)("k")
      assert(st.tpe == "long" && st.nulls == 0)
      val Some((mn, mx)) = st.minMax
      assert(mn.toLong <= mx.toLong)
      rows += st.rows
      val ss = idx(f)("s")
      assert(ss.tpe == "string" && ss.minMax.exists { case (a, b) => a <= b })
    }
    assert(rows == 1000, s"per-file row counts sum to $rows, not 1000")
  }

  test("readRange skips files on a clustered layout and stays exact") {
    val dir = tmp()
    val v = Snapshots.commit(spark, dir,
      spark.range(1000).toDF("k").repartitionByRange(8, col("k")))
    val (kept, all) = Snapshots.pruneFiles(spark, dir, v, "k", Some(100L), Some(199L))
    assert(all.length == 8)
    assert(kept.length < all.length, "interval inside the keyspace pruned nothing")
    val got = Snapshots.readRange(spark, dir, "k", Some(100L), Some(199L))
      .as[Long].collect().sorted.toSeq
    assert(got == (100L to 199L).toSeq)
    // unbounded sides
    assert(Snapshots.readRange(spark, dir, "k", None, Some(49L)).count() == 50)
    assert(Snapshots.readRange(spark, dir, "k", Some(950L), None).count() == 50)
    // disjoint interval → zero rows, schema intact
    val empty = Snapshots.readRange(spark, dir, "k", Some(5000L), Some(6000L))
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k"))
  }

  test("property: readRange equals full-read filter for random intervals") {
    val dir = tmp()
    val rng = new scala.util.Random(42)
    val data = Seq.fill(500)(rng.nextInt(10000).toLong)
    Snapshots.commit(spark, dir, data.toDF("k").repartitionByRange(6, col("k")))
    val full = Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq
    for (_ <- 1 to 25) {
      val a = rng.nextInt(11000).toLong - 500
      val b = a + rng.nextInt(3000)
      val got = Snapshots.readRange(spark, dir, "k", Some(a), Some(b))
        .as[Long].collect().sorted.toSeq
      assert(got == full.filter(k => k >= a && k <= b), s"interval [$a,$b] diverged")
    }
  }

  test("missing stats sidecar prunes nothing and stays exact") {
    val dir = tmp()
    val v = Snapshots.commit(spark, dir,
      spark.range(100).toDF("k").repartitionByRange(4, col("k")))
    // delete the version's stats sidecar (resolve the unique name via the
    // manifest header rather than assuming the legacy fixed name)
    val sidecars = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, "_manifests")).iterator()
    var deleted = false
    while (sidecars.hasNext) {
      val p = sidecars.next()
      if (p.getFileName.toString.matches(s"v$v-[0-9a-f]{8}\\.stats")) {
        java.nio.file.Files.delete(p); deleted = true
      }
    }
    assert(deleted, "stats sidecar not found to delete")
    val (kept, all) = Snapshots.pruneFiles(spark, dir, v, "k", Some(0L), Some(9L))
    assert(kept == all, "files were pruned without stats to justify it")
    assert(Snapshots.readRange(spark, dir, "k", Some(0L), Some(9L)).count() == 10)
  }

  test("non-ASCII string stats are dropped (conservative), ASCII ones prune") {
    val dir = tmp()
    val v = Snapshots.commit(spark, dir,
      Seq("äber", "zürich").toDF("s").coalesce(1)
        .unionByName(Seq("alpha", "beta").toDF("s").coalesce(1))
        .repartition(2, col("s")))
    val idx = Snapshots.stats(spark, dir, v)
    val nonAscii = idx.values.filter(_.get("s").exists(_.minMax.isEmpty))
    assert(nonAscii.nonEmpty, "file holding non-ASCII strings kept a stat")
    // pruning on the string column must still return exact rows
    val got = Snapshots.readRange(spark, dir, "s", Some("alpha"), Some("beta"))
      .as[String].collect().sorted.toSeq
    assert(got == Seq("alpha", "beta"))
  }

  test("all-null column files are skippable; mixed-null stays exact") {
    val dir = tmp()
    val df = Seq((1L, Option.empty[java.lang.Long]), (2L, Option.empty[java.lang.Long]))
      .toDF("k", "v").coalesce(1)
      .unionByName(Seq((3L, Option(java.lang.Long.valueOf(7L))),
        (4L, Option.empty[java.lang.Long])).toDF("k", "v").coalesce(1))
      .repartition(2, col("k") <= 2)
    val v = Snapshots.commit(spark, dir, df)
    val got = Snapshots.readRange(spark, dir, "v", Some(0L), Some(100L))
      .select("k").as[Long].collect().toSeq
    assert(got == Seq(3L), "BETWEEN over a null-bearing column diverged")
    val idx = Snapshots.stats(spark, dir, v)
    val allNull = idx.values.filter(s => s.get("v").exists(c =>
      c.minMax.isEmpty && c.nulls == c.rows && c.nulls >= 0))
    if (allNull.nonEmpty) {
      val (kept, all) = Snapshots.pruneFiles(spark, dir, v, "v", Some(0L), Some(100L))
      assert(kept.length < all.length, "provably all-null file was not skipped")
    }
  }

  test("deleteRange rewrites only stat-affected files, carries the rest byte-identical") {
    val dir = tmp()
    val v1 = Snapshots.commit(spark, dir,
      spark.range(1000).toDF("k").repartitionByRange(8, col("k")))
    val before = Snapshots.files(spark, dir, v1)
    val v2 = Snapshots.deleteRange(spark, dir, "k", Some(100L), Some(199L))
    assert(v2 == v1 + 1)
    val after = Snapshots.files(spark, dir, v2)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.nonEmpty, "no file was carried — delete rewrote the whole table")
    assert(after.toSet != before.toSet, "delete carried every file — nothing rewritten")
    val got = Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq
    assert(got == (0L until 1000L).filterNot(k => k >= 100 && k <= 199).toSeq)
    // v1 history intact; incremental read across the rewrite refuses
    assert(Snapshots.read(spark, dir, Some(v1)).count() == 1000)
    intercept[IllegalArgumentException](Snapshots.readChanges(spark, dir, v1, v2))
    // provable no-op delete publishes nothing
    assert(Snapshots.deleteRange(spark, dir, "k", Some(5000L), Some(9999L)) == v2)
    // carried files keep their stats (still prunable post-delete)
    val (kept, all) = Snapshots.pruneFiles(spark, dir, v2, "k", Some(900L), Some(999L))
    assert(kept.length < all.length, "stats were lost across the delete")
  }

  test("clusterZOrder: either dimension alone skips files; conjunction stays exact") {
    checkCluster2D(Snapshots.Curve.ZOrder)
  }

  test("clusterHilbert: both dimensions skip; incremental pass carries clustered files") {
    checkCluster2D(Snapshots.Curve.Hilbert)
  }

  /** 2-D clustering on one curve: both dimensions skip, the conjunction stays
   *  exact, an incremental pass carries the clustered files, then idles. */
  private def checkCluster2D(curve: Snapshots.Curve): Unit = {
    // a 64x64 grid: range clustering on x would leave y stats spanning the
    // whole domain; either curve must make BOTH tight
    val grid = spark.range(64L * 64L).toDF("i")
      .withColumn("x", (col("i") % 64).cast("long"))
      .withColumn("y", (col("i") / 64).cast("long")).drop("i")
    val dir = tmp()
    Snapshots.commit(spark, dir, grid)
    val v = Snapshots.cluster(spark, dir, Seq("x", "y"), 16, curve)
    val (keptX, all) = Snapshots.pruneFiles(spark, dir, v, "x", Some(0L), Some(15L))
    val (keptY, _) = Snapshots.pruneFiles(spark, dir, v, "y", Some(0L), Some(15L))
    assert(all.length > 8, curve.name)
    assert(keptX.length < all.length, s"x-range skipped nothing on the ${curve.name} layout")
    assert(keptY.length < all.length, s"y-range skipped nothing on the ${curve.name} layout")
    val (keptXY, _) = Snapshots.pruneFilesAll(spark, dir, v,
      Seq(("x", Some(0L), Some(15L)), ("y", Some(0L), Some(15L))))
    assert(keptXY.length <= math.min(keptX.length, keptY.length), curve.name)
    val got = Snapshots.readRanges(spark, dir,
        Seq(("x", Some(0L), Some(15L)), ("y", Some(0L), Some(15L))))
      .count()
    assert(got == 16L * 16L, curve.name)
    // pre-cluster version still readable, full content preserved
    assert(Snapshots.read(spark, dir, Some(v)).count() == 64L * 64L)
    assert(Snapshots.read(spark, dir, Some(v - 1)).count() == 64L * 64L)
    // incremental: a fresh tail clusters, the 16 clustered files carry
    val clustered = Snapshots.files(spark, dir, v).toSet
    Snapshots.commit(spark, dir, grid.withColumn("x", col("x") + 100))
    val v2 = Snapshots.cluster(spark, dir, Seq("x", "y"), 4, curve,
      incremental = true)
    val after = Snapshots.files(spark, dir, v2).toSet
    assert(clustered.subsetOf(after),
      s"incremental ${curve.name} pass rewrote clustered files")
    assert(Snapshots.read(spark, dir, Some(v2)).count() == 2 * 64L * 64L)
    // a further incremental pass is a no-op
    assert(Snapshots.cluster(spark, dir, Seq("x", "y"), 4, curve,
      incremental = true) == v2, curve.name)
  }

  test("cluster refuses a key wider than a signed long on both curves, before any job") {
    val dir = tmp()
    val cols = (0 until 11).map(i => s"c$i")
    Snapshots.commit(spark, dir,
      spark.range(100).select(cols.map(c => (col("id") * 7 % 100).as(c)): _*))
    val sc = spark.sparkContext
    for (curve <- curves) {
      // 11 columns x 6 rank bits = 66 bits: a Morton shift would wrap
      sc.setJobGroup("cluster-width-guard", curve.name)
      val e = try intercept[IllegalArgumentException](
          Snapshots.cluster(spark, dir, cols, 4, curve))
        finally sc.clearJobGroup()
      assert(e.getMessage.contains("signed long"), e.getMessage)
      org.apache.spark.ListenerBusDrain(sc)
      assert(sc.statusTracker.getJobIdsForGroup("cluster-width-guard").isEmpty,
        s"${curve.name}: the refused pass ran Spark jobs")
      assert(Snapshots.versions(spark, dir) == Seq(1),
        s"${curve.name}: the refused pass published a version")
    }
    // 10 columns x 6 bits = 60 still fit
    assert(Snapshots.cluster(spark, dir, cols.take(10), 4) == 2)
    assert(Snapshots.read(spark, dir).count() == 100)
  }

  test("shallow clone: zero bytes copied, independent evolution, source never touched") {
    val src = tmp(); val dst = tmp()
    val v1 = Snapshots.commit(spark, src,
      spark.range(100).toDF("k").repartitionByRange(4, col("k")))
    Snapshots.commit(spark, src, spark.range(100L, 200L).toDF("k"))
    // clone pins the EARLIER version; the later append stays invisible
    assert(Snapshots.cloneTable(spark, src, dst, Some(v1)) == 1)
    val dstData = new java.io.File(dst, "data")
    assert(!dstData.exists || dstData.listFiles.isEmpty,
      "shallow clone copied data bytes")
    assert(Snapshots.read(spark, dst).as[Long].collect().sorted.toSeq ==
      (0L until 100L))
    // the stats sidecar prunes through external references
    val (kept, all) = Snapshots.pruneFiles(spark, dst, 1, "k", Some(0L), Some(10L))
    assert(all.length == 4 && kept.length < all.length,
      s"clone stats must skip: kept ${kept.length} of ${all.length}")
    // independent evolution: writes land locally, the source is untouched
    Snapshots.commit(spark, dst, spark.range(300L, 320L).toDF("k"))
    val v3 = Snapshots.deleteRange(spark, dst, "k", Some(0L), Some(9L))
    assert(Snapshots.read(spark, dst).as[Long].collect().sorted.toSeq ==
      ((10L until 100L) ++ (300L until 320L)))
    assert(Snapshots.read(spark, src).count() == 200,
      "clone DML leaked into the source")
    // expire the clone's history: external refs are NEVER deleted — the
    // source still reads every version in full
    Snapshots.expire(spark, dst, keepFrom = v3)
    assert(Snapshots.read(spark, src, Some(v1)).count() == 100)
    assert(Snapshots.read(spark, src).count() == 200)
    assert(Snapshots.read(spark, dst).count() == 110)
    // clone-of-clone resolves to the ORIGINAL bytes, not the intermediary
    val dst2 = tmp()
    Snapshots.cloneTable(spark, dst, dst2)
    val refs = Snapshots.files(spark, dst2, 1)
    assert(refs.forall(_.startsWith("/")), "clone refs must be absolute")
    assert(refs.exists(_.startsWith(new java.io.File(src).getAbsolutePath)),
      "carried source files must still point at the original table")
    assert(Snapshots.read(spark, dst2).count() == 110)
    // a version with pending merge-on-read deletes refuses to clone
    val morSrc = tmp()
    Snapshots.commit(spark, morSrc, spark.range(50).toDF("k"))
    Snapshots.deleteRangeMor(spark, morSrc, "k", Some(0L), Some(9L))
    val e = intercept[IllegalArgumentException](
      Snapshots.cloneTable(spark, morSrc, tmp()))
    assert(e.getMessage.contains("purgeDeletes"))
  }

  test("every key-DML verb works on a shallow clone; the source never moves") {
    val src = tmp(); val dst = tmp()
    Snapshots.commit(spark, src, spark.range(100).toDF("k")
      .withColumn("v", col("k") * 10).repartitionByRange(4, col("k")))
    Snapshots.cloneTable(spark, src, dst)
    // MERGE on still-external files: the touched external rewrites into a
    // LOCAL file, the untouched external entries carry verbatim
    Snapshots.mergeInto(spark, dst,
      Seq((5L, -1L), (500L, 1L)).toDF("k", "v"), "k")
    val got = Snapshots.read(spark, dst).as[(Long, Long)].collect().toMap
    assert(got(5L) == -1L && got(500L) == 1L && got.size == 101)
    // the generic SQL-face verbs too
    Snapshots.updateWhere(spark, dst, col("k") === 7, Seq("v" -> lit(-7L)))
    Snapshots.deleteWhere(spark, dst, col("k") === 9)
    Snapshots.deleteRangeMor(spark, dst, "k", Some(20L), Some(24L))
    Snapshots.mergeApply(spark, dst, Seq((30L, -30L)).toDF("k", "v"),
      onCond = col("__t.k") === col("__s.k"),
      matched = Seq(Snapshots.WhenMatched(None, Some(Seq("v" -> col("__s.v"))))),
      notMatched = Seq.empty)
    val after = Snapshots.read(spark, dst).as[(Long, Long)].collect().toMap
    assert(after(7L) == -7L && !after.contains(9L) && !after.contains(22L) &&
      after(30L) == -30L && after.size == 95) // 101 - {9} - [20,24]
    // the source observed none of it
    assert(Snapshots.read(spark, src).count() == 100)
    assert(Snapshots.read(spark, src).filter(col("v") < 0).count() == 0)
  }

  test("diffVersions crosses schema evolution in the TO version's frame") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    Snapshots.commit(spark, dir,
      Seq((3L, 30L, "x")).toDF("k", "v", "tag"), evolve = true)
    val d = Snapshots.diffVersions(spark, dir, 1, 2)
      .as[(Long, Long, String, String)].collect().sortBy(_._1)
    // old rows surface tag = NULL in v2 — identical to their aligned v1
    // image, so ONLY the new row diffs
    assert(d.toSeq == Seq((3L, 30L, "x", "insert")))
  }

  test("shallow clone carries schema-bearing properties, not version refs") {
    val src = tmp(); val dst = tmp()
    Snapshots.commit(spark, src, spark.range(10).toDF("k")
      .withColumn("v", col("k") * 2))
    Snapshots.renameColumn(spark, src, "v", "payload")
    Snapshots.addCheckConstraint(spark, src, "nonneg", "k >= 0")
    Snapshots.setTag(spark, src, "golden", 1)
    Snapshots.cloneTable(spark, src, dst)
    // column mapping traveled: the clone reads LOGICAL names off the
    // source's physical parquet
    assert(Snapshots.read(spark, dst).columns.toSeq == Seq("k", "payload"))
    // constraints travel and GATE clone writes
    val e = intercept[IllegalArgumentException](Snapshots.commit(spark, dst,
      Seq((-5L, 0L)).toDF("k", "payload")))
    assert(e.getMessage.contains("nonneg"))
    // version-referencing props stay behind
    assert(Snapshots.tags(spark, dst).isEmpty, "tags must not travel")
  }

  test("mergeInto rewrites only key-touched files; updates replace, inserts append") {
    val dir = tmp()
    val v1 = Snapshots.commit(spark, dir,
      spark.range(1000).toDF("k").withColumn("v", col("k") * 10)
        .repartitionByRange(8, col("k")))
    val before = Snapshots.files(spark, dir, v1)
    // updates hit keys 100-104 only; inserts are far outside every file
    val updates = Seq((100L, -1L), (101L, -2L), (104L, -3L)).toDF("k", "v")
    val inserts = Seq((5000L, 1L), (5001L, 2L)).toDF("k", "v")
    val v2 = Snapshots.mergeInto(spark, dir, updates.unionByName(inserts), "k")
    assert(v2 == v1 + 1)
    val after = Snapshots.files(spark, dir, v2)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size == before.size - 1,
      s"keys 100-104 live in ONE range file; ${before.size - carried.size} rewritten")
    val got = Snapshots.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(got.size == 1002)
    assert(got(100L) == -1L && got(101L) == -2L && got(104L) == -3L, "update lost")
    assert(got(102L) == 1020L && got(103L) == 1030L, "untouched rows must survive")
    assert(got(5000L) == 1L && got(5001L) == 2L, "insert lost")
    assert(Snapshots.read(spark, dir, Some(v1)).count() == 1000, "history rewritten")
  }

  test("mergeInto refuses null or duplicate keys and schema drift") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](Snapshots.mergeInto(spark, dir,
      Seq((Option.empty[java.lang.Long], "x")).toDF("k", "v"), "k"))
    intercept[IllegalArgumentException](Snapshots.mergeInto(spark, dir,
      Seq((2L, "x"), (2L, "y")).toDF("k", "v"), "k"))
    intercept[IllegalArgumentException](Snapshots.mergeInto(spark, dir,
      Seq((2L, "x", 1.0)).toDF("k", "v", "extra"), "k"))
    assert(Snapshots.read(spark, dir).count() == 1, "a refused merge leaked")
    // pure-insert merge appends, so readChanges still tails it
    val v2 = Snapshots.mergeInto(spark, dir, Seq((2L, "b")).toDF("k", "v"), "k")
    assert(Snapshots.readChanges(spark, dir, 1, v2)
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("append schema enforcement: drops/retypes refuse, evolve adds columns") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq(2L).toDF("k"))) // drops v
    intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq((2L, 3L)).toDF("k", "v"))) // retypes v
    intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq((2L, "b", 1.0)).toDF("k", "v", "w")))
    assert(Snapshots.versions(spark, dir) == Seq(1), "a refused append published")
    val v2 = Snapshots.commit(spark, dir,
      Seq((2L, "b", 1.5)).toDF("k", "v", "w"), evolve = true)
    val got = Snapshots.read(spark, dir, Some(v2))
    assert(got.columns.sorted.toSeq == Seq("k", "v", "w"))
    val rows = got.select("k", "w").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map(1L -> None, 2L -> Some(1.5)),
      "pre-evolution file must surface NULL for the added column")
    // replace redefines freely
    val v3 = Snapshots.commit(spark, dir, Seq(9L).toDF("z"), replace = true)
    assert(Snapshots.read(spark, dir, Some(v3)).columns.toSeq == Seq("z"))
  }

  test("bloom columns skip equality probes where min/max cannot") {
    import graft.streaming.SnapshotRelation
    val dir = tmp()
    Snapshots.setBloomColumns(spark, dir, Seq("k", "s"))
    assert(Snapshots.bloomColumns(spark, dir) == Seq("k", "s"))
    // round-robin layout: every file spans the whole keyspace, so range
    // stats keep all 8 files — only the bloom can say "definitely absent"
    Snapshots.commit(spark, dir,
      spark.range(4000).toDF("k")
        .withColumn("s", concat(lit("id"), col("k"))).repartition(8))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_b USING snapshots OPTIONS (path '$dir')")
    def scanned(sql: String): ((Int, Int), Long) = {
      SnapshotRelation.lastScan.set((-1, -1))
      val n = spark.sql(sql).first.getLong(0)
      (SnapshotRelation.lastScan.get, n)
    }
    val ((k1, n1), r1) = scanned("SELECT count(*) FROM snap_b WHERE k = 1234")
    assert(r1 == 1 && n1 == 8 && k1 <= 2, s"long bloom kept $k1/$n1 files")
    val ((k2, _), r2) = scanned("SELECT count(*) FROM snap_b WHERE s = 'id77'")
    assert(r2 == 1 && k2 <= 2, s"string bloom kept $k2 files")
    val ((k3, _), r3) = scanned("SELECT count(*) FROM snap_b WHERE k IN (5, 99, 3999)")
    assert(r3 == 3 && k3 <= 4, s"IN bloom kept $k3 files")
    // absent key: nearly every file skipped (FP-rate slack), zero rows
    val ((k4, _), r4) = scanned("SELECT count(*) FROM snap_b WHERE k = 999999")
    assert(r4 == 0 && k4 <= 2, s"absent-key probe kept $k4 files")
    // a table WITHOUT declared blooms prunes nothing on equality — modulo
    // layout: every file's [min, max] provably contains the probed key
    val dir2 = tmp()
    Snapshots.commit(spark, dir2,
      spark.range(100).toDF("k").repartition(4, col("k") % 4))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_nb USING snapshots OPTIONS (path '$dir2')")
    val ((k5, n5), r5) = scanned("SELECT count(*) FROM snap_nb WHERE k = 50")
    assert(r5 == 1 && k5 == n5, s"no bloom declared must keep every file ($k5/$n5)")
  }

  test("rewrites preserve the bloom index (delete keeps skipping)") {
    import graft.streaming.SnapshotRelation
    val dir = tmp()
    Snapshots.setBloomColumns(spark, dir, Seq("k"))
    Snapshots.commit(spark, dir, spark.range(2000).toDF("k").repartition(6))
    Snapshots.deleteRange(spark, dir, "k", Some(500L), Some(999L))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_bd USING snapshots OPTIONS (path '$dir')")
    SnapshotRelation.lastScan.set((-1, -1))
    val n = spark.sql("SELECT count(*) FROM snap_bd WHERE k = 1500").first.getLong(0)
    val (kept, all) = SnapshotRelation.lastScan.get
    assert(n == 1 && kept < all, s"post-delete bloom kept $kept/$all")
    assert(spark.sql("SELECT count(*) FROM snap_bd WHERE k = 700").first.getLong(0) == 0)
  }

  test("deleteRange keeps NULL-predicate rows (SQL DELETE semantics)") {
    val dir = tmp()
    Snapshots.commit(spark, dir,
      Seq(Option(1L), Option(5L), None, Option(9L)).toDF("k"))
    Snapshots.deleteRange(spark, dir, "k", Some(4L), Some(6L))
    val got = Snapshots.read(spark, dir).select("k").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    assert(got == Seq(-1L, 1L, 9L), "NULL row must survive a range delete")
  }

  test("two concurrent committers via commitRetry: both land, no rows lost") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((0L, "seed")).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val writers = (1 to 2).map { w =>
      Future {
        barrier.await() // maximize slot contention
        (1 to 5).map { i =>
          Snapshots.commitRetry(spark, dir,
            Seq((w * 100L + i, s"w$w-$i")).toDF("k", "v"))
        }
      }
    }
    val landed = Await.result(Future.sequence(writers), 180.seconds).flatten
    pool.shutdown()
    assert(landed.toSet.size == 10, s"two commits claimed one version: $landed")
    assert(Snapshots.currentVersion(spark, dir).contains(11))
    assert(Snapshots.read(spark, dir).count() == 11, "a racing commit lost rows")
    // append semantics survived every race: each version carries its parent
    (2 to 11).foreach { v =>
      val prev = Snapshots.files(spark, dir, v - 1).toSet
      assert(prev.subsetOf(Snapshots.files(spark, dir, v).toSet),
        s"v$v dropped files carried from v${v - 1}")
    }
    // each version's stats sidecar covers its own fresh files (no racer
    // clobbered another's sidecar — the fixed-name hazard this protocol
    // version eliminated)
    (2 to 11).foreach { v =>
      val freshOfV = Snapshots.files(spark, dir, v).toSet --
        Snapshots.files(spark, dir, v - 1).toSet
      val idx = Snapshots.stats(spark, dir, v)
      assert(freshOfV.forall(idx.contains),
        s"v$v stats sidecar is missing its own fresh files")
    }
  }

  test("commitRetry: a derived replace aborts loudly on a mid-flight commit") {
    val dir = tmp()
    val v1 = Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    // compactor derives its replacement from v1; a foreign append lands first
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    val ex = intercept[java.util.ConcurrentModificationException](
      Snapshots.commitRetry(spark, dir, Seq((1L, "a")).toDF("k", "v"),
        replace = true, expectedVersion = Some(v1)))
    assert(ex.getMessage.contains("rebase") || ex.getMessage.contains("recompute"))
    assert(Snapshots.read(spark, dir).count() == 2, "aborted replace leaked")
  }

  test("expire clamps to a live reader pin; unpin releases it") {
    val dir = tmp()
    (1 to 4).foreach(i => Snapshots.commit(spark, dir, Seq(i.toLong).toDF("k")))
    Snapshots.pinReader(spark, dir, "tail", 2)
    Snapshots.expire(spark, dir, keepFrom = 4)
    assert(Snapshots.versions(spark, dir) == Seq(2, 3, 4),
      "expire deleted a manifest a registered reader still needs")
    // the pinned incremental range still resolves after the sweep
    assert(Snapshots.readChanges(spark, dir, 2, 4).count() == 2)
    Snapshots.unpinReader(spark, dir, "tail")
    Snapshots.expire(spark, dir, keepFrom = 4)
    assert(Snapshots.versions(spark, dir) == Seq(4))
  }

  test("an abandoned pin ages out and stops blocking retention") {
    val dir = tmp()
    (1 to 3).foreach(i => Snapshots.commit(spark, dir, Seq(i.toLong).toDF("k")))
    Snapshots.pinReader(spark, dir, "dead", 1)
    Thread.sleep(15)
    assert(Snapshots.readerPins(spark, dir, ttlMillis = 5).isEmpty,
      "stale pin still counted live")
    assert(!new java.io.File(s"$dir/_manifests/readers/dead.pin").exists(),
      "stale pin file not swept")
    Snapshots.expire(spark, dir, keepFrom = 3)
    assert(Snapshots.versions(spark, dir) == Seq(3))
  }

  test("optimistic concurrency: a commit planned against a stale version refuses") {
    val dir = tmp()
    val v1 = Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    // writer A plans against v1; writer B publishes v2 first
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    val ex = intercept[java.util.ConcurrentModificationException](
      Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"),
        expectedVersion = Some(v1)))
    assert(ex.getMessage.contains("rebase"))
    assert(Snapshots.currentVersion(spark, dir).contains(2), "failed commit published")
    assert(Snapshots.read(spark, dir).count() == 2, "failed commit leaked rows")
    // rebased on the real current version it goes through
    val v3 = Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"),
      expectedVersion = Some(2))
    assert(v3 == 3 && Snapshots.read(spark, dir).count() == 3)
  }

  test("a published commit point is never clobbered; writers land AFTER it") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    // a winner's .list IS the commit point: later writers must resolve past
    // it and leave its bytes untouched (the .stats-only debris case — a
    // crashed writer, no commit point — is covered by the wedge test)
    val winner = java.nio.file.Paths.get(dir, "_manifests", "v2.list")
    val sentinel = Snapshots.files(spark, dir, 1).head + "\n"
    java.nio.file.Files.write(winner, sentinel.getBytes("UTF-8"))
    val v = Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    assert(v == 3, "a writer must land after the published v2, never on it")
    assert(new String(java.nio.file.Files.readAllBytes(winner), "UTF-8") == sentinel,
      "the winner's manifest bytes changed")
    // data written by unguarded writers lives in per-writer-unique dirs, so
    // even same-version racers cannot overwrite each other's files
    val carried = Snapshots.files(spark, dir, 1).toSet
    val dirs = Snapshots.files(spark, dir, 3).filterNot(carried)
      .map(_.split("/")(1)).distinct
    assert(dirs.nonEmpty && dirs.forall(_.matches("c3-[0-9a-f]{8}")),
      s"fresh data dirs not per-writer-unique: $dirs")
  }

  test("readAsOf resolves TIMESTAMP AS OF against commit times") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val t1 = Snapshots.commitTime(spark, dir, 1)
    Thread.sleep(15)
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    val t2 = Snapshots.commitTime(spark, dir, 2)
    assert(t2 > t1, "commit times must be monotone for AS OF to resolve")
    assert(Snapshots.readAsOf(spark, dir, t1).count() == 1)
    assert(Snapshots.readAsOf(spark, dir, t2 + 1000).count() == 2)
    intercept[IllegalArgumentException](Snapshots.readAsOf(spark, dir, t1 - 1000))
  }

  test("SQL relation: pushed filters drive data skipping, results stay exact") {
    import graft.streaming.SnapshotRelation
    val dir = tmp()
    val df = spark.range(1000).toDF("k")
      .withColumn("s", concat(lit("u"), format_string("%04d", col("k"))))
      .withColumn("maybe", when(col("k") < 500, col("k")))
      .repartitionByRange(8, col("k"))
    Snapshots.commit(spark, dir, df)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_t USING snapshots OPTIONS (path '$dir')")
    def scanned[T](body: => T): ((Int, Int), T) = {
      SnapshotRelation.lastScan.set((-1, -1))
      val r = body
      (SnapshotRelation.lastScan.get, r)
    }
    // range → skip
    val ((k1, n1), r1) = scanned(
      spark.sql("SELECT sum(k) FROM snap_t WHERE k BETWEEN 100 AND 199").first.getLong(0))
    assert(r1 == (100L to 199L).sum && k1 < n1 && n1 == 8, s"range scan ($k1/$n1)")
    // equality and IN → skip via envelope
    val ((k2, _), r2) = scanned(
      spark.sql("SELECT count(*) FROM snap_t WHERE k IN (3, 7)").first.getLong(0))
    assert(r2 == 2 && k2 == 1, s"IN envelope kept $k2 files")
    // string prefix → skip on the clustered string column
    val ((k3, _), r3) = scanned(
      spark.sql("SELECT count(*) FROM snap_t WHERE s LIKE 'u000%'").first.getLong(0))
    assert(r3 == 10 && k3 == 1, s"prefix kept $k3 files")
    // IS NULL: files with known-zero null count are skipped
    val ((k4, _), r4) = scanned(
      spark.sql("SELECT count(*) FROM snap_t WHERE maybe IS NULL").first.getLong(0))
    assert(r4 == 500 && k4 < 8, s"IS NULL kept $k4 files")
    // OR (untranslatable) → prunes nothing, still exact
    val ((k5, _), r5) = scanned(
      spark.sql("SELECT count(*) FROM snap_t WHERE k = 1 OR k = 999").first.getLong(0))
    assert(r5 == 2 && k5 == 8, "OR must be conservative")
  }

  test("property: random WHERE shapes over the relation equal the raw parquet scan") {
    val dir = tmp()
    Snapshots.setBloomColumns(spark, dir, Seq("k", "s"))
    val df = spark.range(800).toDF("k")
      .withColumn("s", concat(lit("w"), (col("k") % 37).cast("string")))
      .withColumn("d", (col("k") * 7 % 101).cast("double") / 4)
      .withColumn("maybe", when(col("k") % 5 < 3, col("k") % 50))
      .repartitionByRange(7, col("k"))
    Snapshots.commit(spark, dir, df)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_fz USING snapshots OPTIONS (path '$dir')")
    val raw = Snapshots.files(spark, dir, 1).map(f => s"$dir/$f")
    spark.read.parquet(raw: _*).createOrReplaceTempView("raw_fz")
    val rng = new scala.util.Random(99)
    def term(): String = rng.nextInt(8) match {
      case 0 => s"k >= ${rng.nextInt(900) - 50}"
      case 1 => s"k < ${rng.nextInt(900) - 50}"
      case 2 => s"k = ${rng.nextInt(900) - 50}"
      case 3 => s"s IN ('w${rng.nextInt(40)}', 'w${rng.nextInt(40)}')"
      case 4 => s"s LIKE 'w${rng.nextInt(4)}%'"
      case 5 => s"d BETWEEN ${rng.nextInt(20) - 5} AND ${rng.nextInt(25)}"
      case 6 => if (rng.nextBoolean()) "maybe IS NULL" else "maybe IS NOT NULL"
      case 7 => s"(k < ${rng.nextInt(400)} OR k > ${rng.nextInt(400) + 400})"
    }
    for (i <- 1 to 40) {
      val conj = Seq.fill(1 + rng.nextInt(3))(term()).mkString(" AND ")
      val got = spark.sql(s"SELECT sum(k), count(*), count(maybe) FROM snap_fz WHERE $conj")
        .collect().head.toSeq
      val want = spark.sql(s"SELECT sum(k), count(*), count(maybe) FROM raw_fz WHERE $conj")
        .collect().head.toSeq
      assert(got == want, s"predicate #$i diverged: WHERE $conj")
    }
  }

  test("mounted views report manifest-derived size: small tables auto-broadcast") {
    val dir = tmp()
    Snapshots.commit(spark, dir,
      Seq.tabulate(20)(i => (i.toLong, s"dim$i")).toDF("k", "name"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_dim USING snapshots OPTIONS (path '$dir')")
    val big = spark.range(100000).toDF("k")
    val joined = big.join(spark.table("snap_dim"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dim-sized mounted view did not broadcast:\n$plan")
    assert(joined.count() == 20)
  }

  test("SQL relation: versionAsOf / timestampAsOf resolve time travel") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    val t1 = Snapshots.commitTime(spark, dir, 1)
    Thread.sleep(15)
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    assert(spark.read.format("snapshots").option("path", dir).load().count() == 2)
    assert(spark.read.format("snapshots").option("path", dir)
      .option("versionAsOf", "1").load().count() == 1)
    assert(spark.read.format("snapshots").option("path", dir)
      .option("timestampAsOf", t1.toString).load().count() == 1)
    intercept[IllegalArgumentException](
      spark.read.format("snapshots").option("path", dir)
        .option("versionAsOf", "1").option("timestampAsOf", "0").load())
    // timestamp columns prune through temporal canonicalization
    val dir2 = tmp()
    Snapshots.commit(spark, dir2,
      spark.range(100).toDF("i").withColumn("ts",
        expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,i,0,0)"))
        .repartitionByRange(4, col("ts")))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_ts USING snapshots OPTIONS (path '$dir2')")
    graft.streaming.SnapshotRelation.lastScan.set((-1, -1))
    val n = spark.sql("SELECT count(*) FROM snap_ts WHERE ts >= timestamp'2024-01-04 00:00:00'")
      .first.getLong(0)
    val (kept, all) = graft.streaming.SnapshotRelation.lastScan.get
    assert(n == 28, s"timestamp filter wrong: $n")
    assert(kept < all && all == 4, s"timestamp stats did not skip ($kept/$all)")
  }

  test("vacuumOrphans sweeps crashed-commit debris, never referenced files") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    // simulate a writer that died between data write and manifest publish
    Seq((99L, "dead")).toDF("k", "v").write.parquet(s"$dir/data/c99")
    Thread.sleep(10)
    val swept = Snapshots.vacuumOrphans(spark, dir, graceMillis = 0)
    assert(swept >= 1, "crashed-commit files not swept")
    assert(!new java.io.File(s"$dir/data/c99").exists() ||
      new java.io.File(s"$dir/data/c99").listFiles().forall(!_.getName.endsWith(".parquet")))
    // every version still reads intact
    assert(Snapshots.read(spark, dir, Some(1)).count() == 2)
    assert(Snapshots.read(spark, dir, Some(2)).count() == 3)
    // a fresh (in-grace) orphan must survive — it may be an in-flight commit
    Seq((100L, "flight")).toDF("k", "v").write.parquet(s"$dir/data/c100")
    assert(Snapshots.vacuumOrphans(spark, dir) == 0, "in-grace files swept")
    assert(new java.io.File(s"$dir/data/c100").listFiles()
      .exists(_.getName.endsWith(".parquet")))
  }

  test("expireOlderThan drops aged versions, never the head") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq(1L).toDF("k"))
    Thread.sleep(15)
    Snapshots.commit(spark, dir, Seq(2L).toDF("k"))
    Thread.sleep(15)
    Snapshots.commit(spark, dir, Seq(3L).toDF("k"))
    val t2 = Snapshots.commitTime(spark, dir, 2)
    assert(Snapshots.expireOlderThan(spark, dir, 0) == 0, "nothing qualifies at ts=0")
    Snapshots.expireOlderThan(spark, dir, t2)
    assert(Snapshots.versions(spark, dir) == Seq(2, 3))
    // far-future cutoff keeps only the head
    Snapshots.expireOlderThan(spark, dir, System.currentTimeMillis() + 3600000L)
    assert(Snapshots.versions(spark, dir) == Seq(3))
    assert(Snapshots.read(spark, dir).count() == 3)
  }

  test("df.write.format(snapshots) honors SaveMode; SQL INSERT INTO commits") {
    val dir = tmp()
    Seq((1L, "a")).toDF("k", "v").write.format("snapshots")
      .option("path", dir).mode("errorifexists").save()
    intercept[Exception](Seq((9L, "x")).toDF("k", "v").write.format("snapshots")
      .option("path", dir).mode("errorifexists").save())
    Seq((2L, "b")).toDF("k", "v").write.format("snapshots")
      .option("path", dir).mode("append").save()
    Seq((8L, "ign")).toDF("k", "v").write.format("snapshots")
      .option("path", dir).mode("ignore").save()
    assert(Snapshots.read(spark, dir).count() == 2, "ignore-mode must be a no-op")
    // a mounted (unpinned) view sees its own INSERTs immediately
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_w USING snapshots OPTIONS (path '$dir')")
    spark.sql("INSERT INTO snap_w VALUES (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM snap_w").first.getLong(0) == 3,
      "view must observe its own insert")
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3))
    // a pinned view refuses INSERT — history is immutable
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_w1 USING snapshots " +
      s"OPTIONS (path '$dir', versionAsOf '1')")
    intercept[Exception](spark.sql("INSERT INTO snap_w1 VALUES (4, 'd')"))
    assert(Snapshots.read(spark, dir).count() == 3, "pinned insert leaked")
    // overwrite-mode save = replace commit
    Seq((7L, "z")).toDF("k", "v").write.format("snapshots")
      .option("path", dir).mode("overwrite").save()
    assert(Snapshots.read(spark, dir).as[(Long, String)].collect().toSeq ==
      Seq((7L, "z")))
    assert(Snapshots.read(spark, dir, Some(3)).count() == 3, "history intact")
  }

  test("writeStream.format(snapshots): one version per micro-batch, replays skipped") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v").writeStream.format("snapshots")
      .option("path", dir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-snapsink-ck").toString)
      .outputMode("append").start()
    mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
    mem.addData((3L, "c")); q.processAllAvailable()
    q.stop()
    assert(Snapshots.currentVersion(spark, dir).contains(2),
      "each micro-batch must be one version")
    assert(Snapshots.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Snapshots.commitMeta(spark, dir, 2) == Map("batch_id" -> "1"))
    // an engine REPLAY of batch 1 after restart must be skipped, not doubled
    val sink = new graft.streaming.SnapshotSink(spark.sqlContext, dir)
    sink.addBatch(1L, Seq((3L, "c")).toDF("k", "v"))
    assert(Snapshots.currentVersion(spark, dir).contains(2), "replay re-committed")
    sink.addBatch(2L, Seq((4L, "d")).toDF("k", "v"))
    assert(Snapshots.read(spark, dir).count() == 4, "fresh batch must commit")
  }

  test("sink racing a compactor: concurrent addBatch + replace commits, no batch lost") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((0L, "seed")).toDF("k", "v"))
    val sink = new graft.streaming.SnapshotSink(spark.sqlContext, dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val sinkSide = Future {
      barrier.await()
      (1L to 5L).foreach(b => sink.addBatch(b, Seq((b, s"b$b")).toDF("k", "v")))
    }
    val compactor = Future {
      barrier.await()
      // blind maintenance appends racing the sink's slots (a replace would
      // break the sink's readChanges contract by design; appends race the
      // same version numbers, which is what commitRetry must absorb)
      (1 to 5).foreach(i =>
        Snapshots.commitRetry(spark, dir, Seq((100L + i, s"m$i")).toDF("k", "v")))
    }
    Await.result(Future.sequence(Seq(sinkSide, compactor)), 180.seconds)
    pool.shutdown()
    assert(Snapshots.currentVersion(spark, dir).contains(11))
    val rows = Snapshots.read(spark, dir).as[(Long, String)].collect().toSet
    val want = Set((0L, "seed")) ++
      (1L to 5L).map(b => (b, s"b$b")) ++ (1 to 5).map(i => (100L + i, s"m$i"))
    assert(rows == want, s"racing sink/maintenance lost rows: ${want -- rows}")
    // the batch-id watermark stayed coherent: the newest batch_id is 5 and
    // a replay of any batch <= 5 is skipped
    sink.addBatch(5L, Seq((999L, "replay")).toDF("k", "v"))
    assert(Snapshots.currentVersion(spark, dir).contains(11), "replay re-committed")
  }

  test("incremental zorder: only the appended tail rewrites; chunks both skip; no-op idles") {
    val dir = tmp()
    val even = spark.range(0, 2000, 2)
      .select($"id".as("k"), ($"id" % 97).as("c"), ($"id" * 2).as("p"))
    val odd = spark.range(1, 2000, 2)
      .select($"id".as("k"), ($"id" % 97).as("c"), ($"id" * 2).as("p"))
    Snapshots.commit(spark, dir, even)
    val vFull = Snapshots.cluster(spark, dir, Seq("c", "k"), 4)
    assert(Snapshots.properties(spark, dir)
      .get("zorder.clustered_through").contains(vFull.toString))
    val clusteredFiles = Snapshots.files(spark, dir, vFull).toSet
    Snapshots.commit(spark, dir, odd)
    val vInc = Snapshots.cluster(spark, dir, Seq("c", "k"), 4, incremental = true)
    // every pre-clustered file carried byte-identical; only the tail is new
    val after = Snapshots.files(spark, dir, vInc).toSet
    assert(clusteredFiles.subsetOf(after), "incremental pass rewrote clustered files")
    assert((after -- clusteredFiles).nonEmpty, "tail was not rewritten")
    assert(Snapshots.properties(spark, dir)
      .get("zorder.clustered_through").contains(vInc.toString))
    // both chunks' stats skip: a tight 2-D window prunes files yet reads exact
    val (kept, all) = Snapshots.pruneFilesAll(spark, dir, vInc, Seq(
      ("c", Some(0L), Some(20L)), ("k", Some(0L), Some(400L))))
    assert(kept.size < all.size, s"no skipping across chunks ($kept of $all)")
    val got = Snapshots.readRanges(spark, dir, Seq(
        ("c", Some(0L), Some(20L)), ("k", Some(0L), Some(400L))))
      .count()
    val want = (0L until 2000L).count(i => i % 97 <= 20 && i <= 400)
    assert(got == want, s"chunked-clustered read wrong: $got != $want")
    // nothing new to cluster -> no-op, no version published
    assert(Snapshots.cluster(spark, dir, Seq("c", "k"), 4, incremental = true) == vInc)
    assert(Snapshots.currentVersion(spark, dir).contains(vInc))
  }

  test("change feed: row-exact across append, merge and delete; replace refuses") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((4L, "d")).toDF("k", "v"))
    Snapshots.mergeInto(spark, dir,
      Seq((2L, "B"), (9L, "i")).toDF("k", "v"), "k")
    Snapshots.deleteRange(spark, dir, "k", Some(3L), Some(4L))
    val feed = Snapshots.readChangeFeed(spark, dir, 1, 4)
      .select($"_commit_version", $"_change_type", $"k", $"v")
      .as[(Int, String, Long, String)].collect().toSet
    val want = Set(
      (2, "insert", 4L, "d"),
      (3, "update_pre", 2L, "b"), (3, "update_post", 2L, "B"),
      (3, "insert", 9L, "i"),
      (4, "delete", 3L, "c"), (4, "delete", 4L, "d"))
    assert(feed == want, s"feed diverged: got ${feed -- want}, missing ${want -- feed}")
    // the feed REPLAYS to the head state: start from v1, apply the changes
    val v1 = Snapshots.read(spark, dir, Some(1)).as[(Long, String)].collect().toSet
    val replayed = feed.toSeq.sortBy(_._1).foldLeft(v1) {
      case (st, (_, "insert", k, v)) => st + ((k, v))
      case (st, (_, "update_pre", k, v)) => st - ((k, v))
      case (st, (_, "update_post", k, v)) => st + ((k, v))
      case (st, (_, "delete", k, v)) => st - ((k, v))
      case (st, _) => st
    }
    val head = Snapshots.read(spark, dir).as[(Long, String)].collect().toSet
    assert(replayed == head, s"feed replay != head: $replayed vs $head")
    // a replace commit records no feed: reading across it fails loudly
    Snapshots.commit(spark, dir, Seq((8L, "z")).toDF("k", "v"), replace = true)
    val ex = intercept[IllegalArgumentException](
      Snapshots.readChangeFeed(spark, dir, 4, 5).collect())
    assert(ex.getMessage.contains("replace"), ex.getMessage)
  }

  test("mergeIntoRetry racing appenders: updates land, appends survive, no version lost") {
    val dir = tmp()
    Snapshots.commit(spark, dir,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val merger = Future {
      barrier.await()
      (1 to 4).map(i => Snapshots.withCommitRetry(Snapshots.RecomputeRetries)(
        Snapshots.mergeInto(spark, dir, Seq((2L, s"B$i")).toDF("k", "v"), "k")))
    }
    val appender = Future {
      barrier.await()
      (1 to 4).map(i => Snapshots.commitRetry(spark, dir,
        Seq((100L + i, s"x$i")).toDF("k", "v")))
    }
    val landed = Await.result(Future.sequence(Seq(merger, appender)),
      300.seconds).flatten
    pool.shutdown()
    assert(landed.toSet.size == 8, s"slot collision among $landed")
    assert(Snapshots.currentVersion(spark, dir).contains(9))
    val rows = Snapshots.read(spark, dir).as[(Long, String)].collect().toMap
    assert(rows.size == 7, s"rows lost or duplicated: $rows")
    assert(rows(2L) == "B4" || rows(2L).startsWith("B"),
      s"merge updates vanished: ${rows(2L)}")
    (1 to 4).foreach(i => assert(rows(100L + i) == s"x$i",
      s"append $i erased by a racing merge"))
    assert(rows(1L) == "a" && rows(3L) == "c")
  }

  test("change feed across a schema-evolving append: old rows surface NULL, order canonical") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    Snapshots.commit(spark, dir,
      Seq((2L, "b", 7L)).toDF("k", "v", "extra"), evolve = true)
    Snapshots.mergeInto(spark, dir,
      Seq((1L, "A", Option.empty[Long])).toDF("k", "v", "extra"), "k")
    val feed = Snapshots.readChangeFeed(spark, dir, 0, 3)
    // canonical order: table columns, then the feed metadata
    assert(feed.columns.toSeq == Seq("k", "v", "extra", "_change_type", "_commit_version"),
      feed.columns.mkString(","))
    val rows = feed.select($"_commit_version", $"_change_type", $"k", $"v", $"extra")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    assert(rows == Set(
      (1, "insert", 1L, "a", -1L), // pre-evolution insert: extra is NULL
      (2, "insert", 2L, "b", 7L),
      (3, "update_pre", 1L, "a", -1L),
      (3, "update_post", 1L, "A", -1L)), s"evolved feed diverged: $rows")
  }

  test("change feed dirs follow retention: expire drops them, vacuum sweeps orphans") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Snapshots.mergeInto(spark, dir, Seq((1L, "A")).toDF("k", "v"), "k")
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    assert(new java.io.File(s"$dir/_changes").listFiles().count(_.isDirectory) == 1)
    Snapshots.expire(spark, dir, keepFrom = 3)
    assert(new java.io.File(s"$dir/_changes").listFiles() == null ||
      new java.io.File(s"$dir/_changes").listFiles().isEmpty,
      "expired version's change dir survived")
    // orphan (crashed-writer) change dir is swept past grace, kept in grace
    new java.io.File(s"$dir/_changes/c9-deadbeef").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_changes", "c9-deadbeef", "part-0.parquet"),
      Array[Byte](1, 2, 3))
    Thread.sleep(10)
    assert(Snapshots.vacuumOrphans(spark, dir, graceMillis = 0) >= 1)
    assert(!new java.io.File(s"$dir/_changes/c9-deadbeef").exists())
  }

  test("compact folds accreted small files into target-sized ones, history intact") {
    val dir = tmp()
    for (i <- 1 to 6)
      Snapshots.commit(spark, dir,
        spark.range(i * 100L - 100, i * 100L).toDF("k").repartition(4))
    val before = Snapshots.files(spark, dir, 6)
    assert(before.size >= 20, s"fixture should accrete many files (${before.size})")
    val v = Snapshots.compact(spark, dir, targetBytes = 1L << 20)
    val after = Snapshots.files(spark, dir, v)
    assert(after.size < before.size / 4, s"${before.size} -> ${after.size} files")
    assert(Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq ==
      (0L until 600L).toSeq, "compaction changed content")
    assert(Snapshots.read(spark, dir, Some(6)).count() == 600, "pre-compact version lost")
    assert(Snapshots.commitMeta(spark, dir, v).contains("compaction"))
    // stats regenerate with the rewrite: range pruning still live
    val (kept, all) = Snapshots.pruneFiles(spark, dir, v, "k", Some(0L), Some(10L))
    assert(kept.size <= all.size && Snapshots.stats(spark, dir, v).nonEmpty)
  }

  test("a table living under a '/data/c...' parent path parses file paths correctly") {
    // regression: path recovery used a substring scan for "/data/c" that
    // matched the PARENT segment — merge then duplicated matched rows and
    // vacuum saw every referenced file as an orphan
    val base = tmp()
    val dir = s"$base/data/curated/orders"
    Snapshots.commit(spark, dir,
      spark.range(100).toDF("k").withColumn("v", col("k") * 2)
        .repartitionByRange(4, col("k")))
    val v2 = Snapshots.mergeInto(spark, dir,
      Seq((10L, -1L), (11L, -2L)).toDF("k", "v"), "k")
    val got = Snapshots.read(spark, dir).as[(Long, Long)].collect().toMap
    assert(got.size == 100, s"merge duplicated rows (${got.size})")
    assert(got(10L) == -1L && got(11L) == -2L && got(12L) == 24L)
    Thread.sleep(10)
    Snapshots.vacuumOrphans(spark, dir, graceMillis = 0)
    assert(Snapshots.read(spark, dir, Some(v2)).count() == 100,
      "vacuum deleted referenced files under a /data/c parent")
    assert(Snapshots.read(spark, dir, Some(1)).count() == 100)
  }

  test("a crashed writer's stale sidecar does not wedge the version slot") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    // simulate death between v2.stats publish and v2.list rename
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_manifests", "v2.stats"),
      "stale debris\n".getBytes("UTF-8"))
    val v2 = Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    assert(v2 == 2, "commit must reclaim a slot whose commit point never landed")
    assert(Snapshots.read(spark, dir).count() == 2)
    // the reclaimed slot's stats are the real ones, not the debris
    assert(Snapshots.stats(spark, dir, 2).nonEmpty)
  }

  test("evolved tables read correctly through every pruned path") {
    val dir = tmp()
    Snapshots.commit(spark, dir,
      spark.range(100).toDF("k").repartitionByRange(2, col("k")))
    Snapshots.commit(spark, dir,
      spark.range(100, 200).toDF("k").withColumn("w", col("k") * 2)
        .repartitionByRange(2, col("k")), evolve = true)
    // readRange over a span covering BOTH pre- and post-evolution files
    val rr = Snapshots.readRange(spark, dir, "k", Some(50L), Some(150L))
    assert(rr.columns.sorted.toSeq == Seq("k", "w"))
    assert(rr.count() == 101)
    assert(rr.filter(col("w").isNull).count() == 50, "old files must surface NULL w")
    // SQL relation over a pruned subset that is ONLY pre-evolution files
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_ev USING snapshots OPTIONS (path '$dir')")
    val old = spark.sql("SELECT k, w FROM snap_ev WHERE k BETWEEN 0 AND 49")
    assert(old.count() == 50 && old.filter(col("w").isNotNull).count() == 0)
    // deleteRange whose affected set spans the evolution boundary
    Snapshots.deleteRange(spark, dir, "k", Some(90L), Some(110L))
    assert(Snapshots.read(spark, dir).count() == 179)
    // mergeInto touching a pre-evolution file with evolved-schema updates
    Snapshots.mergeInto(spark, dir,
      Seq((5L, java.lang.Long.valueOf(55L))).toDF("k", "w"), "k")
    val r5 = Snapshots.read(spark, dir).filter(col("k") === 5).collect()
    assert(r5.length == 1 && r5.head.getLong(1) == 55L)
    // the same evolved table written before sidecars (no #schema= or
    // #stats= header), next to a crashed writer's fixed-name v2.stats
    // debris: the debris is no sidecar of v2, so pruning keeps every file
    // and countRows falls back to a scan count
    val pre = tmp()
    Snapshots.commit(spark, pre,
      spark.range(100).toDF("k").repartitionByRange(2, col("k")))
    Snapshots.commit(spark, pre,
      spark.range(100, 200).toDF("k").withColumn("w", col("k") * 2)
        .repartitionByRange(2, col("k")), evolve = true)
    val md = java.nio.file.Paths.get(pre, "_manifests")
    java.nio.file.Files.list(md).forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".schema") || name.endsWith(".stats")) java.nio.file.Files.delete(p)
      else if (name.endsWith(".list")) {
        val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .linesIterator.filterNot(l => l.startsWith("#schema=") || l.startsWith("#stats="))
          .mkString("", "\n", "\n")
        java.nio.file.Files.write(p, body.getBytes("UTF-8"))
        java.nio.file.Files.deleteIfExists(p.resolveSibling(s".$name.crc"))
      }
    }
    java.nio.file.Files.write(md.resolve("v2.stats"), "stale debris\n".getBytes("UTF-8"))
    assert(Snapshots.read(spark, pre).columns.toSeq == Seq("k", "w"))
    assert(Snapshots.read(spark, pre).count() == 200)
    assert(Snapshots.countRows(spark, pre) == 200)
    val rrPre = Snapshots.readRanges(spark, pre, Seq(("k", Some(50L), Some(150L))))
    assert(rrPre.count() == 101)
    assert(rrPre.filter(col("w").isNull).count() == 50, "old files must surface NULL w")
  }

  test("timestampAsOf accepts variable-length fractional seconds") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq(1L).toDF("k"))
    val t = Snapshots.commitTime(spark, dir, 1)
    val iso = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(t + 500), java.time.ZoneOffset.UTC)
    val raw = iso.format(java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss")) + ".5"
    assert(spark.read.format("snapshots").option("path", dir)
      .option("timestampAsOf", raw).load().count() == 1)
  }

  test("IN-envelopes on longs past 2^53 never prune files holding probed keys") {
    val dir = tmp()
    val big = 9007199254740992L // 2^53: +1 collapses onto it as a double
    Snapshots.commit(spark, dir,
      Seq(big, big + 1L, big + 10L).toDF("k").repartitionByRange(2, col("k")))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_big USING snapshots OPTIONS (path '$dir')")
    val got = spark.sql(
      s"SELECT k FROM snap_big WHERE k IN ($big, ${big + 1L})")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(big, big + 1L), s"lost rows at the 2^53 boundary: $got")
  }

  test("q_time_travel: v3 (replace) equals v2 (its source) row-for-row") {
    val rows = SparkEntry.queries("q_time_travel")(spark, TestSpark.sf)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(rows.length == 3)
    assert(rows(0)._2 < rows(1)._2, "append must grow the table")
    assert(rows(1)._2 == rows(2)._2 && rows(1)._3 == rows(2)._3,
      "replace changed content")
  }

  // ------------------------------------------- deletion vectors (merge-on-read)

  private def kpTable(n: Long = 1000L) =
    spark.range(n).toDF("k").withColumn("p", col("k") * 2.0)
      .repartitionByRange(8, col("k"))

  test("MoR delete: zero data files rewritten, masked read equals the CoW twin") {
    val dir = tmp(); val cow = tmp()
    Snapshots.commit(spark, dir, kpTable())
    Snapshots.commit(spark, cow, kpTable())
    val before = Snapshots.files(spark, dir, 1)
    val v2 = Snapshots.deleteRangeMor(spark, dir, "k", Some(100L), Some(199L))
    Snapshots.deleteRange(spark, cow, "k", Some(100L), Some(199L))
    assert(Snapshots.files(spark, dir, v2) == before,
      "merge-on-read delete touched data files")
    val got = Snapshots.read(spark, dir).as[(Long, Double)].collect().sorted.toSeq
    val want = Snapshots.read(spark, cow).as[(Long, Double)].collect().sorted.toSeq
    assert(got == want && got.length == 900, "masked read != CoW twin")
    // history intact: v1 still sees every row
    assert(Snapshots.read(spark, dir, Some(1)).count() == 1000)
    // a 1-row delete also touches zero files and masks exactly one position
    val v3 = Snapshots.deleteRangeMor(spark, dir, "k", Some(777L), Some(777L))
    assert(Snapshots.files(spark, dir, v3) == before)
    assert(Snapshots.read(spark, dir).count() == 899)
    // stats survive untouched: range pruning still live on the masked table
    val (kept, all) = Snapshots.pruneFiles(spark, dir, v3, "k", Some(900L), Some(999L))
    assert(kept.length < all.length, "stats lost under a DV commit")
  }

  test("DV mask survives appends, unions across deletes, and range/SQL reads") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable())
    Snapshots.deleteRangeMor(spark, dir, "k", Some(0L), Some(99L))
    // append carries the mask forward
    Snapshots.commit(spark, dir, Seq((2000L, 1.0), (2001L, 2.0)).toDF("k", "p"))
    Snapshots.deleteRangeMor(spark, dir, "k", Some(500L), Some(549L))
    val live = Snapshots.read(spark, dir).as[(Long, Double)].collect().map(_._1).sorted
    val want = ((100L until 500L) ++ (550L until 1000L) ++ Seq(2000L, 2001L)).sorted
    assert(live.toSeq == want.toSeq, "mask lost or double-applied across append")
    // readRange masks too (stats-pruned path)
    assert(Snapshots.readRange(spark, dir, "k", Some(0L), Some(599L)).count()
      == 450, "readRange ignored the deletion vector")
    // the SQL face masks too (SnapshotRelation.buildScan)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_dv USING snapshots OPTIONS (path '$dir')")
    assert(spark.sql("SELECT count(*) FROM snap_dv WHERE k < 600").as[Long].head()
      == 450, "SQL scan ignored the deletion vector")
  }

  test("compact materializes deletion vectors; CDF skips the rewrite") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable())
    val vDel = Snapshots.deleteRangeMor(spark, dir, "k", Some(100L), Some(299L))
    assert(Snapshots.deletionVectors(spark, dir, vDel).exists(_.count() == 200))
    val vC = Snapshots.compact(spark, dir, targetBytes = 1L << 20)
    assert(Snapshots.deletionVectors(spark, dir, vC).isEmpty,
      "compaction left a deletion vector behind")
    assert(Snapshots.read(spark, dir).count() == 800)
    // the feed across delete + compact: exactly the 200 deletes, zero rows
    // for the data-preserving rewrite
    val feed = Snapshots.readChangeFeed(spark, dir, 1, vC)
    assert(feed.filter(col("_commit_version") === vDel).count() == 200)
    assert(feed.filter(col("_commit_version") === vC).count() == 0)
    assert(feed.filter(col("_change_type") === "delete").count() == 200)
  }

  test("MoR merge: all files carried, feed/rows equal the CoW twin") {
    val dir = tmp(); val cow = tmp()
    Snapshots.commit(spark, dir, kpTable())
    Snapshots.commit(spark, cow, kpTable())
    val before = Snapshots.files(spark, dir, 1)
    val updates = spark.range(950, 1050).toDF("k").withColumn("p", lit(-1.0))
    val v2 = Snapshots.mergeIntoMor(spark, dir, updates, "k")
    Snapshots.mergeInto(spark, cow, updates, "k")
    // every prior file carried; only the update rows were written
    val after = Snapshots.files(spark, dir, v2)
    assert(before.forall(after.contains), "MoR merge rewrote a data file")
    val got = Snapshots.read(spark, dir).as[(Long, Double)].collect().sorted.toSeq
    val want = Snapshots.read(spark, cow).as[(Long, Double)].collect().sorted.toSeq
    assert(got == want && got.length == 1050, "MoR merge != CoW merge")
    // the change feed carries the same update_pre/update_post/insert rows
    def feed(d: String) = Snapshots.readChangeFeed(spark, d, 1, 2)
      .select("_change_type", "k", "p").as[(String, Long, Double)]
      .collect().sorted.toSeq
    assert(feed(dir) == feed(cow), "MoR feed diverged from CoW feed")
    // a key updated twice through DVs resolves to the LATEST value
    val v3 = Snapshots.mergeIntoMor(spark, dir,
      Seq((960L, 42.0)).toDF("k", "p"), "k")
    assert(Snapshots.read(spark, dir, Some(v3)).filter(col("k") === 960)
      .as[(Long, Double)].collect().toSeq == Seq((960L, 42.0)))
    assert(Snapshots.read(spark, dir).count() == 1050, "double-merge duplicated a key")
  }

  test("pure-insert MoR merge keeps the append-only contract for readChanges") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 1.0)).toDF("k", "p"))
    val v2 = Snapshots.mergeIntoMor(spark, dir, Seq((2L, 2.0)).toDF("k", "p"), "k")
    assert(Snapshots.readChanges(spark, dir, 1, v2)
      .as[(Long, Double)].collect().toSeq == Seq((2L, 2.0)))
  }

  test("readChanges refuses across a DV commit; the feed reports it row-level") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable())
    Snapshots.commit(spark, dir, Seq((5000L, 1.0)).toDF("k", "p"))
    val v3 = Snapshots.deleteRangeMor(spark, dir, "k", Some(0L), Some(9L))
    val e = intercept[IllegalArgumentException](
      Snapshots.readChanges(spark, dir, 1, v3))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    // spans that avoid the DV commit still tail
    assert(Snapshots.readChanges(spark, dir, 1, 2).count() == 1)
    assert(Snapshots.readChangeFeed(spark, dir, 2, v3)
      .filter(col("_change_type") === "delete").count() == 10)
  }

  test("CoW delete and merge after a MoR delete never resurrect masked rows") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable())
    Snapshots.deleteRangeMor(spark, dir, "k", Some(0L), Some(49L))
    // CoW delete rewrites some files; carried files must keep their masks,
    // rewritten ones must not resurrect [0, 49]
    Snapshots.deleteRange(spark, dir, "k", Some(900L), Some(949L))
    assert(Snapshots.read(spark, dir).as[(Long, Double)].collect().map(_._1).sorted.toSeq
      == (50L until 900L).toSeq ++ (950L until 1000L).toSeq)
    // CoW merge touching a masked file's key range: ghost rows stay gone
    Snapshots.mergeInto(spark, dir, Seq((60L, 99.0)).toDF("k", "p"), "k")
    val got = Snapshots.read(spark, dir)
    assert(got.filter(col("k") < 50).count() == 0, "CoW merge resurrected masked rows")
    assert(got.filter(col("k") === 60).as[(Long, Double)].head()._2 == 99.0)
    assert(got.count() == 900)
  }

  test("MoR merge with evolve adds a column; old rows surface NULLs (CoW twin too)") {
    val dir = tmp(); val cow = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "p"))
    Snapshots.commit(spark, cow, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "p"))
    val up = Seq((2L, 20.0, "eu"), (3L, 3.0, "us")).toDF("k", "p", "region")
    // refused without evolve, applied with it — on both strategies
    intercept[IllegalArgumentException](Snapshots.mergeInto(spark, cow, up, "k"))
    Snapshots.mergeInto(spark, cow, up, "k", evolve = true)
    Snapshots.mergeIntoMor(spark, dir, up, "k", evolve = true)
    def state(d: String) = Snapshots.read(spark, d)
      .select("k", "p", "region").as[(Long, Double, Option[String])]
      .collect().sortBy(_._1).toSeq
    val want = Seq((1L, 1.0, None), (2L, 20.0, Some("eu")), (3L, 3.0, Some("us")))
    assert(state(cow) == want, s"CoW evolve merge diverged: ${state(cow)}")
    assert(state(dir) == want, s"MoR evolve merge diverged: ${state(dir)}")
    // the feed carries the evolved column, table columns first
    val cols = Snapshots.readChangeFeed(spark, dir, 1, 2).columns.toSeq
    assert(cols == Seq("k", "p", "region", "_change_type", "_commit_version"), cols)
  }

  test("Z-order maintenance next to a CDF consumer: zero-row feed, masks kept") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable()
      .withColumn("c", col("k") % 37).repartitionByRange(4, col("k")))
    Snapshots.cluster(spark, dir, Seq("c", "k"), 4)
    Snapshots.commit(spark, dir,
      spark.range(1000, 1200).toDF("k")
        .withColumn("p", col("k") * 2.0).withColumn("c", col("k") % 37))
    val vDel = Snapshots.deleteRangeMor(spark, dir, "k", Some(10L), Some(19L))
    val vInc = Snapshots.cluster(spark, dir, Seq("c", "k"), 4, incremental = true)
    assert(vInc > vDel)
    // the incremental pass rewrote only the tail; the feed skips both
    // maintenance versions and the masked rows stay deleted
    val feed = Snapshots.readChangeFeed(spark, dir, 1, vInc)
    assert(feed.filter(col("_commit_version") === vInc).count() == 0,
      "maintenance leaked rows into the change feed")
    assert(feed.filter(col("_change_type") === "delete").count() == 10)
    assert(Snapshots.read(spark, dir).count() == 1190)
    assert(Snapshots.read(spark, dir).filter(col("k").between(10, 19)).count() == 0,
      "re-clustering resurrected masked rows")
    // plain readChanges across maintenance-only spans yields zero rows
    assert(Snapshots.readChanges(spark, dir, vDel, vInc).count() == 0)
  }

  test("feed range with an expired head refuses instead of silently dropping") {
    val dir = tmp()
    (1 to 4).foreach(i => Snapshots.commit(spark, dir, Seq((i.toLong, 1.0)).toDF("k", "p")))
    Snapshots.expire(spark, dir, keepFrom = 3)
    val e = intercept[IllegalArgumentException](
      Snapshots.readChangeFeed(spark, dir, 1, 4))
    assert(e.getMessage.contains("expired"), e.getMessage)
    intercept[IllegalArgumentException](Snapshots.readChanges(spark, dir, 1, 4))
    // (3, 4] is contiguous and live — the guard must NOT fire there
    assert(Snapshots.readChanges(spark, dir, 3, 4).count() == 1)
    assert(Snapshots.readChangeFeed(spark, dir, 3, 4).count() == 1)
  }

  test("purgeDeletes rewrites only heavily-masked files; light masks carry") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable()) // 8 range-clustered files
    // heavy deletes land in one file's key range, one stray row elsewhere
    Snapshots.deleteRangeMor(spark, dir, "k", Some(0L), Some(99L))
    Snapshots.deleteRangeMor(spark, dir, "k", Some(700L), Some(700L))
    val before = Snapshots.files(spark, dir,
      Snapshots.currentVersion(spark, dir).get)
    val v = Snapshots.purgeDeletes(spark, dir, maxMaskedFraction = 0.3)
    val after = Snapshots.files(spark, dir, v)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size == before.size - 1,
      s"purge should rewrite exactly the heavy file: carried ${carried.size}/${before.size}")
    // the stray 1-row mask survives in a filtered DV; results stay exact
    assert(Snapshots.deletionVectors(spark, dir, v).exists(_.count() == 1))
    assert(Snapshots.read(spark, dir).as[(Long, Double)].collect().map(_._1).sorted.toSeq
      == ((100L until 700L) ++ (701L until 1000L)).toSeq)
    // data-preserving: the feed skips it; idle purge publishes nothing
    assert(Snapshots.readChangeFeed(spark, dir, v - 1, v).count() == 0)
    assert(Snapshots.purgeDeletes(spark, dir, maxMaskedFraction = 0.3) == v)
    // purging everything (threshold 0) clears the mask entirely
    val v2 = Snapshots.purgeDeletes(spark, dir, maxMaskedFraction = 0.0)
    assert(Snapshots.deletionVectors(spark, dir, v2).isEmpty)
    assert(Snapshots.read(spark, dir).count() == 899)
  }

  test("renameColumn is metadata-only: zero files touched, every read path translates") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable().repartitionByRange(4, col("k")))
    val filesBefore = Snapshots.files(spark, dir, 1)
    Snapshots.renameColumn(spark, dir, "p", "price")
    assert(Snapshots.files(spark, dir, 1) == filesBefore, "rename touched files")
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("k", "price"))
    // stats-pruned range read still prunes on the RENAMED key column
    Snapshots.renameColumn(spark, dir, "k", "key")
    val (kept, all) = Snapshots.pruneFiles(spark, dir, 1, "key", Some(0L), Some(99L))
    assert(kept.length < all.length, "rename broke stats pruning")
    assert(Snapshots.readRange(spark, dir, "key", Some(0L), Some(99L)).count() == 100)
    // SQL face shows logical names
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_ren USING snapshots OPTIONS (path '$dir')")
    assert(spark.sql("SELECT sum(key) FROM snap_ren WHERE price < 10").as[Long].head()
      == (0L until 5L).sum)
    // appends must carry the NEW names; the old name refuses
    intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq((5000L, 1.0)).toDF("k", "price")))
    Snapshots.commit(spark, dir, Seq((5000L, 1.0)).toDF("key", "price"))
    assert(Snapshots.read(spark, dir).count() == 1001)
    // old and new files are ONE column: a filter spans both
    assert(Snapshots.read(spark, dir).filter(col("key") >= 999).count() == 2)
    // merge on the renamed key rewrites/feeds correctly
    val v = Snapshots.mergeInto(spark, dir,
      Seq((5000L, 42.0)).toDF("key", "price"), "key")
    assert(Snapshots.read(spark, dir).filter(col("key") === 5000)
      .select("price").as[Double].head() == 42.0)
    assert(Snapshots.readChangeFeed(spark, dir, v - 1, v).columns.toSeq ==
      Seq("key", "price", "_change_type", "_commit_version"))
    // rename-back is allowed (returns to the physical name)
    Snapshots.renameColumn(spark, dir, "key", "k")
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("k", "price"))
  }

  test("dropColumn hides the column everywhere; re-adding the name refuses") {
    val dir = tmp()
    Snapshots.commit(spark, dir,
      Seq((1L, 1.0, "x"), (2L, 2.0, "y")).toDF("k", "p", "tag"))
    Snapshots.dropColumn(spark, dir, "tag")
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("k", "p"))
    // appends carry the narrowed schema
    Snapshots.commit(spark, dir, Seq((3L, 3.0)).toDF("k", "p"))
    assert(Snapshots.read(spark, dir).count() == 3)
    // re-adding the dropped name would resurrect hidden bytes — refuse
    val e = intercept[IllegalArgumentException](Snapshots.commit(spark, dir,
      Seq((4L, 4.0, "z")).toDF("k", "p", "tag"), evolve = true))
    assert(e.getMessage.contains("hidden"), e.getMessage)
    // a DIFFERENT evolved name is fine; and dropping a renamed column works
    Snapshots.renameColumn(spark, dir, "p", "price")
    Snapshots.dropColumn(spark, dir, "price")
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("k"))
    // MoR delete on the surviving column still masks correctly
    Snapshots.deleteRangeMor(spark, dir, "k", Some(2L), Some(2L))
    assert(Snapshots.read(spark, dir).as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("compactRange folds only the files intersecting the range") {
    val dir = tmp()
    // 6 ingest bursts, each leaving 4 small files in its own key decade
    for (i <- 0 until 6)
      Snapshots.commit(spark, dir,
        spark.range(i * 1000L, i * 1000L + 1000L).toDF("k")
          .withColumn("p", col("k") * 2.0).repartition(4))
    val before = Snapshots.files(spark, dir, 6)
    assert(before.size == 24)
    // a MoR delete inside AND outside the compaction range
    Snapshots.deleteRangeMor(spark, dir, "k", Some(4500L), Some(4599L))
    Snapshots.deleteRangeMor(spark, dir, "k", Some(10L), Some(19L))
    val v = Snapshots.compactRange(spark, dir, "k", Some(4000L), Some(5999L),
      targetBytes = 1L << 20)
    val after = Snapshots.files(spark, dir, v)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size == 16, s"expected the 16 out-of-range files carried, " +
      s"got ${carried.size} of ${after.size}")
    assert(after.size < before.size, "in-range files were not folded")
    // in-range mask materialized, out-of-range mask survives
    assert(Snapshots.read(spark, dir).count() == 6000 - 110)
    assert(Snapshots.read(spark, dir).filter(col("k").between(4500, 4599)).count() == 0)
    assert(Snapshots.read(spark, dir).filter(col("k").between(10, 19)).count() == 0)
    assert(Snapshots.deletionVectors(spark, dir, v).exists(_.count() == 10))
    // feed-invisible; out-of-range probe skips the folded region's files
    assert(Snapshots.readChangeFeed(spark, dir, v - 1, v).count() == 0)
    // a range touching at most one file publishes nothing
    assert(Snapshots.compactRange(spark, dir, "k", Some(-10L), Some(-1L),
      targetBytes = 1L << 20) == v)
  }

  test("restore rolls the head back by reference; history, stats and masks intact") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable())
    val vDel = Snapshots.deleteRangeMor(spark, dir, "k", Some(0L), Some(49L))
    Snapshots.deleteRange(spark, dir, "k", Some(100L), Some(899L)) // the "bad" write
    assert(Snapshots.read(spark, dir).count() == 150)
    val vR = Snapshots.restore(spark, dir, vDel)
    // content equals the restored version exactly — incl. its DV mask
    assert(Snapshots.read(spark, dir).as[(Long, Double)].collect().sorted.toSeq ==
      Snapshots.read(spark, dir, Some(vDel)).as[(Long, Double)].collect().sorted.toSeq)
    assert(Snapshots.read(spark, dir).count() == 950)
    // pure metadata: the restored head lists vDel's files byte-identical
    assert(Snapshots.files(spark, dir, vR) == Snapshots.files(spark, dir, vDel))
    // the bad version stays readable; stats survived the carry (pruning live)
    assert(Snapshots.read(spark, dir, Some(vR - 1)).count() == 150)
    val (kept, all) = Snapshots.pruneFiles(spark, dir, vR, "k", Some(900L), Some(999L))
    assert(kept.length < all.length, "restore lost the carried stats")
    // incremental readers refuse across the rewind
    intercept[IllegalArgumentException](
      Snapshots.readChanges(spark, dir, vDel, vR).count())
    // restoring to the current head is a no-op; expired targets refuse
    assert(Snapshots.restore(spark, dir, vR) == vR)
    assert(Snapshots.history(spark, dir).filter(col("version") === vR)
      .select("meta").as[String].head().contains(s"restore=v$vDel"))
  }

  test("deleteByKeysMor masks exactly the keyed rows, zero files rewritten") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable())
    val before = Snapshots.files(spark, dir, 1)
    val v = Snapshots.deleteByKeysMor(spark, dir,
      Seq(5L, 17L, 999L, 5000L).toDF("k"), "k") // 5000 absent: ignored
    assert(Snapshots.files(spark, dir, v) == before, "key delete touched files")
    val live = Snapshots.read(spark, dir).as[(Long, Double)].collect().map(_._1).toSet
    assert(!live(5L) && !live(17L) && !live(999L) && live.size == 997)
    // absent keys only → provable no-op, nothing published
    assert(Snapshots.deleteByKeysMor(spark, dir, Seq(7777L).toDF("k"), "k") == v)
    // the feed records exactly the three deletes
    assert(Snapshots.readChangeFeed(spark, dir, 1, v)
      .filter(col("_change_type") === "delete").count() == 3)
  }

  test("reserved __-columns refuse at the write boundary") {
    val dir = tmp()
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq((1L, 2L)).toDF("k", "__pos")))
    assert(e.getMessage.contains("reserved"), e.getMessage)
    intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq((1L, "x")).toDF("__fname", "v")))
  }

  test("vacuum sweeps aged manifest publish temps, never live manifests") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 1.0)).toDF("k", "p"))
    val torn = java.nio.file.Paths.get(dir, "_manifests", ".v2.list.ab12cd34.tmp")
    java.nio.file.Files.write(torn, "data/c2/part-bogus.parquet\n".getBytes("UTF-8"))
    Thread.sleep(10)
    assert(Snapshots.vacuumOrphans(spark, dir, graceMillis = 0) >= 1)
    assert(!torn.toFile.exists(), "aged publish temp survived the sweep")
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(Snapshots.read(spark, dir).count() == 1)
  }

  test("clusterZOrderCols: each of 3 mixed-type dimensions skips files alone") {
    checkCluster3D(Snapshots.Curve.ZOrder)
  }

  test("clusterHilbertCols: 3-D mixed-type layout skips per dimension; incremental idles") {
    checkCluster3D(Snapshots.Curve.Hilbert)
  }

  /** 3-D mixed-type clustering on one curve: every dimension skips alone,
   *  reads stay exact, and the incremental pass idles, then rewrites only a
   *  fresh tail. */
  private def checkCluster3D(curve: Snapshots.Curve): Unit = {
    val base = java.time.LocalDateTime.parse("2020-01-01T00:00:00")
      .toInstant(java.time.ZoneOffset.UTC)
    val df = spark.range(4000).toDF("k")
      .withColumn("c", (col("k") * 2654435761L) % 1000) // decorrelated dims
      .withColumn("ts", timestamp_seconds(lit(base.getEpochSecond) +
        ((col("k") * 40503L) % 86400L) * 365))
      .withColumn("p", ((col("k") * 69069L) % 100000L).cast("double"))
    val dir = tmp()
    Snapshots.commit(spark, dir, df.repartition(8))
    val v = Snapshots.cluster(spark, dir, Seq("c", "ts", "p"), 16, curve)
    def skipped(ranges: Seq[(String, Option[Any], Option[Any])]): (Int, Int) = {
      val (kept, all) = Snapshots.pruneFilesAll(spark, dir, v, ranges)
      (kept.length, all.length)
    }
    val (kC, n1) = skipped(Seq(("c", Some(0L), Some(99L))))
    val (kT, n2) = skipped(Seq(("ts",
      Some(java.sql.Timestamp.from(base)),
      Some(java.sql.Timestamp.from(base.plusSeconds(86400L * 365 / 10))))))
    val (kP, n3) = skipped(Seq(("p", Some(0.0), Some(9999.0))))
    assert(n1 == 16 && n2 == 16 && n3 == 16, curve.name)
    assert(kC <= n1 / 2, s"${curve.name}: c-range kept $kC/$n1 — long dim not clustered")
    assert(kT <= n2 / 2, s"${curve.name}: ts-range kept $kT/$n2 — timestamp dim not clustered")
    assert(kP <= n3 / 2, s"${curve.name}: p-range kept $kP/$n3 — double dim not clustered")
    // the conjunction skips at least as hard as the best single dimension
    val (kAll, _) = skipped(Seq(
      ("c", Some(0L), Some(99L)),
      ("ts", Some(java.sql.Timestamp.from(base)),
        Some(java.sql.Timestamp.from(base.plusSeconds(86400L * 365 / 10)))),
      ("p", Some(0.0), Some(9999.0))))
    assert(kAll <= Seq(kC, kT, kP).min, curve.name)
    // results stay exact through the rewrite
    assert(Snapshots.read(spark, dir).count() == 4000)
    assert(Snapshots.readRanges(spark, dir, Seq(("c", Some(0L), Some(99L))))
      .count() == df.filter(col("c") <= 99).count())
    // a fully-clustered table idles the incremental pass (no new version)
    assert(Snapshots.cluster(spark, dir, Seq("c", "ts", "p"), 16, curve,
      incremental = true) == v, curve.name)
    // an appended tail rewrites ONLY itself; clustered files carry
    val before = Snapshots.files(spark, dir, v).toSet
    Snapshots.commit(spark, dir, df.withColumn("k", col("k") + 10000))
    val vInc = Snapshots.cluster(spark, dir, Seq("c", "ts", "p"), 16, curve,
      incremental = true)
    assert(vInc > v)
    val after = Snapshots.files(spark, dir, vInc).toSet
    assert(before.subsetOf(after), "clustered files must carry byte-identical")
    assert(Snapshots.read(spark, dir).count() == 8000)
  }

  test("incremental cluster over any-type columns: only the tail rewrites, chunks both skip, no-op idles") {
    val dir = tmp()
    def mk(lo: Long, hi: Long) = spark.range(lo, hi).toDF("k")
      .withColumn("c", (col("k") * 2654435761L) % 1000)
      .withColumn("p", ((col("k") * 69069L) % 100000L).cast("double"))
    Snapshots.commit(spark, dir, mk(0, 3000).repartition(6))
    Snapshots.cluster(spark, dir, Seq("c", "p"), 16)
    Snapshots.commit(spark, dir, mk(3000, 6000).repartition(6))
    val before = Snapshots.files(spark, dir,
      Snapshots.currentVersion(spark, dir).get)
    val vInc = Snapshots.cluster(spark, dir, Seq("c", "p"), 16, incremental = true)
    // clustered chunk carried byte-identical, only the tail rewrote
    val after = Snapshots.files(spark, dir, vInc)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size == 16, s"expected the 16 clustered files carried, got ${carried.size}")
    // both chunks' stats skip on either dimension
    val (kC, all) = Snapshots.pruneFiles(spark, dir, vInc, "c", Some(0L), Some(99L))
    val (kP, _) = Snapshots.pruneFiles(spark, dir, vInc, "p", Some(0.0), Some(9999.0))
    assert(kC.length <= all.length / 2, s"c kept ${kC.length}/${all.length}")
    assert(kP.length <= all.length / 2, s"p kept ${kP.length}/${all.length}")
    assert(Snapshots.read(spark, dir).count() == 6000)
    // idle pass publishes nothing
    assert(Snapshots.cluster(spark, dir, Seq("c", "p"), 16, incremental = true) == vInc)
  }

  test("cluster clusters STRING dimensions; CDF tails skip the rewrite") {
    val dir = tmp()
    val df = spark.range(2000).toDF("k")
      .withColumn("lang", concat(lit("lang_"),
        format_string("%03d", (col("k") * 7919L) % 200)))
    Snapshots.commit(spark, dir, df.repartition(6))
    val v = Snapshots.cluster(spark, dir, Seq("lang", "k"), 8)
    val (kept, all) = Snapshots.pruneFiles(spark, dir, v, "lang",
      Some("lang_000"), Some("lang_019"))
    assert(all.length == 8 && kept.length <= all.length / 2,
      s"string dim kept ${kept.length}/${all.length}")
    assert(Snapshots.readRange(spark, dir, "lang", Some("lang_000"), Some("lang_019"))
      .count() == df.filter(col("lang") <= "lang_019").count())
    // the maintenance rewrite is feed-invisible
    assert(Snapshots.readChangeFeed(spark, dir, 1, v).count() == 0)
  }

  test("vacuum sweeps orphaned _dv dirs; expire drops unreferenced ones") {
    val dir = tmp()
    Snapshots.commit(spark, dir, kpTable(100L))
    val vDel = Snapshots.deleteRangeMor(spark, dir, "k", Some(0L), Some(9L))
    // a crashed MoR writer's debris: a _dv dir no manifest references
    val debris = java.nio.file.Paths.get(dir, "_dv", "c9-deadbeef")
    java.nio.file.Files.createDirectories(debris)
    java.nio.file.Files.write(debris.resolve("part-0.parquet"), Array[Byte](1, 2))
    Thread.sleep(10)
    assert(Snapshots.vacuumOrphans(spark, dir, graceMillis = 0) >= 1)
    assert(!debris.toFile.exists(), "orphan _dv dir survived vacuum")
    assert(Snapshots.read(spark, dir).count() == 90, "vacuum hit a live DV")
    // the DV dir is carried by a later append: expire of the delete version
    // must keep it (still referenced), expire past the append may drop it
    Snapshots.commit(spark, dir, Seq((500L, 1.0)).toDF("k", "p"))
    Snapshots.expire(spark, dir, keepFrom = vDel + 1)
    assert(Snapshots.read(spark, dir).count() == 91,
      "expire deleted a DV dir a surviving version still references")
    val vC = Snapshots.compact(spark, dir, targetBytes = 1L << 20)
    Snapshots.expire(spark, dir, keepFrom = vC)
    assert(new java.io.File(s"$dir/_dv").listFiles() == null ||
      new java.io.File(s"$dir/_dv").listFiles().isEmpty,
      "expire left an unreferenced DV dir")
    assert(Snapshots.read(spark, dir).count() == 91)
  }

  test("tags pin versions by name and protect them from expire") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("k", "v"))
    intercept[IllegalArgumentException](Snapshots.setTag(spark, dir, "golden", 9))
    Snapshots.setTag(spark, dir, "golden", 1)
    assert(Snapshots.tags(spark, dir) == Map("golden" -> 1))
    assert(Snapshots.readTag(spark, dir, "golden").count() == 1)
    // an aggressive sweep is CLAMPED at the tagged version
    Snapshots.expire(spark, dir, keepFrom = 3)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3),
      "expire dropped a tagged version")
    assert(Snapshots.readTag(spark, dir, "golden").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a")))
    // deleting the tag releases the clamp
    Snapshots.deleteTag(spark, dir, "golden")
    Snapshots.expire(spark, dir, keepFrom = 3)
    assert(Snapshots.versions(spark, dir) == Seq(3))
    intercept[IllegalArgumentException](Snapshots.readTag(spark, dir, "golden"))
  }

  test("write-audit-publish: staged commits are invisible until published") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"))
    val tok = Snapshots.stageCommit(spark, dir,
      Seq((3L, 30.0), (4L, 40.0)).toDF("k", "p"), meta = Map("wap" -> "cand"))
    // invisible to every reader surface
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(Snapshots.read(spark, dir).count() == 2, "staged rows leaked")
    assert(Snapshots.stagedTokens(spark, dir) == Seq(tok))
    // the audit runs on the as-if-published view
    val audit = Snapshots.readStaged(spark, dir, tok)
    assert(audit.count() == 4)
    assert(audit.filter(col("p") <= 0).count() == 0)
    // vacuum must not sweep live staged data (it may clear _SUCCESS markers)
    Snapshots.vacuumOrphans(spark, dir, graceMillis = 0)
    assert(Snapshots.readStaged(spark, dir, tok).count() == 4,
      "vacuum swept staged data files")
    // a foreign commit lands between stage and publish: publish rebases
    Snapshots.commit(spark, dir, Seq((9L, 90.0)).toDF("k", "p"))
    val v = Snapshots.publishStaged(spark, dir, tok)
    assert(v == 3)
    assert(Snapshots.read(spark, dir).as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (9L, 90.0)),
      "publish lost the concurrent commit or the staged rows")
    assert(Snapshots.stagedTokens(spark, dir).isEmpty)
    // user meta plus the wap.token marker (the publish-idempotence record)
    assert(Snapshots.commitMeta(spark, dir, v) ==
      Map("wap" -> "cand", "wap.token" -> tok))
    intercept[IllegalArgumentException](Snapshots.readStaged(spark, dir, tok))
    // discard: a failed candidate disappears without a trace
    val bad = Snapshots.stageCommit(spark, dir, Seq((5L, -1.0)).toDF("k", "p"))
    val stagedFiles = new java.io.File(s"$dir/data").listFiles().length
    Snapshots.discardStaged(spark, dir, bad)
    assert(Snapshots.stagedTokens(spark, dir).isEmpty)
    assert(new java.io.File(s"$dir/data").listFiles().length < stagedFiles,
      "discard left the staged data dir behind")
    assert(Snapshots.read(spark, dir).count() == 5)
    // the schema gate runs at stage time, same as commit
    intercept[IllegalArgumentException](
      Snapshots.stageCommit(spark, dir, Seq((6L, "oops")).toDF("k", "txt")))
    // a constraint ADDED between stage and publish re-checks at publish:
    // the staged candidate (p = -5) was legal when staged, is not anymore
    val late = Snapshots.stageCommit(spark, dir, Seq((7L, -5.0)).toDF("k", "p"))
    Snapshots.addCheckConstraint(spark, dir, "p_pos_late", "p > -2")
    intercept[IllegalArgumentException](Snapshots.publishStaged(spark, dir, late))
    Snapshots.dropCheckConstraint(spark, dir, "p_pos_late")
    Snapshots.publishStaged(spark, dir, late)
    assert(Snapshots.read(spark, dir).count() == 6)
  }

  test("publishStaged replay after a simulated crash is idempotent; discard keeps published data") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 1.0)).toDF("k", "p"))
    val tok = Snapshots.stageCommit(spark, dir, Seq((2L, 2.0)).toDF("k", "p"))
    // simulate the crash window: the publish lands but the staged manifest
    // survives (copy it aside, publish, put it back)
    val mf = java.nio.file.Paths.get(dir, "_manifests", s"staged-$tok.list")
    val saved = java.nio.file.Files.readAllBytes(mf)
    val v = Snapshots.publishStaged(spark, dir, tok)
    java.nio.file.Files.write(mf, saved)
    assert(Snapshots.stagedTokens(spark, dir) == Seq(tok), "setup failed")
    // replaying the publish must return the SAME version and not re-list
    // the files (no duplicated rows, no extra version)
    assert(Snapshots.publishStaged(spark, dir, tok) == v)
    assert(Snapshots.currentVersion(spark, dir).contains(v),
      "replayed publish minted a duplicate version")
    assert(Snapshots.read(spark, dir).count() == 2,
      "replayed publish duplicated the staged rows")
    assert(Snapshots.stagedTokens(spark, dir).isEmpty, "stale manifest kept")
    // same crash state, swept by DISCARD instead: the data is published —
    // only the stale manifest may go
    java.nio.file.Files.write(mf, saved)
    Snapshots.discardStaged(spark, dir, tok)
    assert(Snapshots.stagedTokens(spark, dir).isEmpty)
    assert(Snapshots.read(spark, dir).as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0), (2L, 2.0)),
      "discard of an already-published token destroyed table data")
  }

  test("schema sidecar: analysis never opens data files; pre-sidecar tables fall back") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, "a")).toDF("k", "v"))
    Snapshots.commit(spark, dir, Seq((2L, "b", 7.5)).toDF("k", "v", "w"),
      evolve = true)
    // evolved schema comes from ONE metadata read: clobber every data file,
    // planning (schema) must still answer while execution fails
    val schema = Snapshots.read(spark, dir).schema
    assert(schema.fieldNames.toSeq == Seq("k", "v", "w"))
    Snapshots.files(spark, dir, 2).foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, f), Array[Byte](0))
    }
    assert(Snapshots.read(spark, dir).schema.fieldNames.toSeq ==
      Seq("k", "v", "w"), "schema derivation opened data files")
    intercept[Exception](Snapshots.read(spark, dir).collect()) // proof of clobber
    // a PRE-SIDECAR table (header stripped, sidecar deleted) falls back to
    // the mergeSchema footer sweep and stays fully readable
    val dir2 = tmp()
    Snapshots.commit(spark, dir2, Seq((1L, "a")).toDF("k", "v"))
    Snapshots.commit(spark, dir2, Seq((2L, "b", 1.5)).toDF("k", "v", "w"),
      evolve = true)
    val md = java.nio.file.Paths.get(dir2, "_manifests")
    java.nio.file.Files.list(md).forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".schema")) java.nio.file.Files.delete(p)
      else if (name.endsWith(".list")) {
        val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .linesIterator.filterNot(_.startsWith("#schema="))
          .mkString("", "\n", "\n")
        java.nio.file.Files.write(p, body.getBytes("UTF-8"))
        // the raw rewrite invalidates the local FS's CRC sidecar
        java.nio.file.Files.deleteIfExists(p.resolveSibling(s".$name.crc"))
      }
    }
    assert(Snapshots.read(spark, dir2).schema.fieldNames.toSeq ==
      Seq("k", "v", "w"))
    assert(Snapshots.read(spark, dir2).count() == 2)
    // and the next commit re-establishes the sidecar for the new version
    Snapshots.commit(spark, dir2, Seq((3L, "c", 2.5)).toDF("k", "v", "w"))
    assert(Snapshots.read(spark, dir2).count() == 3)
  }

  test("branches: invisible to main, schema-gated appends, atomic fast-forward") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 10.0), (2L, 20.0)).toDF("k", "p"))
    Snapshots.createBranch(spark, dir, "audit")
    assert(Snapshots.branches(spark, dir) == Map("audit" -> 1))
    // two branch commits: the stage + the re-staged fix (the multi-commit
    // WAP workflow a single staged token cannot express)
    Snapshots.commitToBranch(spark, dir, "audit", Seq((3L, 30.0)).toDF("k", "p"))
    Snapshots.commitToBranch(spark, dir, "audit", Seq((4L, 40.0)).toDF("k", "p"))
    // invisible to every main reader surface
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(Snapshots.read(spark, dir).count() == 2, "branch rows leaked to main")
    assert(Snapshots.countRows(spark, dir) == 2)
    // the audit runs on the branch head
    assert(Snapshots.readBranch(spark, dir, "audit").as[(Long, Double)]
      .collect().toSet == Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    // branch appends are schema-gated against the BRANCH head
    intercept[IllegalArgumentException](Snapshots.commitToBranch(spark, dir,
      "audit", Seq((5L, "oops")).toDF("k", "txt")))
    // vacuum + expire must not touch live branch data / the fork point
    Snapshots.vacuumOrphans(spark, dir, graceMillis = 0)
    assert(Snapshots.readBranch(spark, dir, "audit").count() == 4,
      "vacuum swept live branch data")
    Snapshots.commitToBranch(spark, dir, "audit", Seq((6L, 60.0)).toDF("k", "p"))
    // fast-forward: ONE atomic main commit carrying every branch addition
    val v = Snapshots.fastForward(spark, dir, "audit")
    assert(v == 2 && Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(Snapshots.read(spark, dir).as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (6L, 60.0)))
    assert(Snapshots.commitMeta(spark, dir, v).get("branch.ff").contains("audit"))
    // the landed branch is gone; its data belongs to main
    assert(Snapshots.branches(spark, dir).isEmpty)
    Snapshots.vacuumOrphans(spark, dir, graceMillis = 0)
    assert(Snapshots.read(spark, dir).count() == 5)
    // change feed across the landed commit = exactly the branch additions
    val feed = Snapshots.readChangeFeed(spark, dir, 1, 2)
    assert(feed.select("k").as[Long].collect().toSet == Set(3L, 4L, 6L))
  }

  test("branches: foreign main commit blocks fast-forward; delete reclaims; expire clamps to fork") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 1.0)).toDF("k", "p"))
    Snapshots.commit(spark, dir, Seq((2L, 2.0)).toDF("k", "p"))
    Snapshots.createBranch(spark, dir, "b1", at = Some(2))
    Snapshots.commitToBranch(spark, dir, "b1", Seq((3L, 3.0)).toDF("k", "p"))
    // the fork point (v2) survives a sweep that would drop it
    Snapshots.commit(spark, dir, Seq((9L, 9.0)).toDF("k", "p")) // v3
    Snapshots.expire(spark, dir, keepFrom = 3)
    assert(Snapshots.versions(spark, dir).contains(2),
      "expire dropped a live branch's fork point")
    // main moved past the fork → fast-forward refuses loudly
    intercept[java.util.ConcurrentModificationException](
      Snapshots.fastForward(spark, dir, "b1"))
    assert(Snapshots.read(spark, dir).count() == 3, "failed ff changed main")
    // an abandoned branch deletes; its unlanded data dirs reclaim
    val dataDirs = new java.io.File(s"$dir/data").listFiles().length
    Snapshots.deleteBranch(spark, dir, "b1")
    assert(Snapshots.branches(spark, dir).isEmpty)
    assert(new java.io.File(s"$dir/data").listFiles().length < dataDirs,
      "deleteBranch left unlanded data behind")
    // with the branch gone, the fork-point clamp lifts
    Snapshots.expire(spark, dir, keepFrom = 3)
    assert(Snapshots.versions(spark, dir) == Seq(3))
    // a constraint added after the fork gates the landing
    Snapshots.createBranch(spark, dir, "b2")
    Snapshots.commitToBranch(spark, dir, "b2", Seq((-5L, 5.0)).toDF("k", "p"))
    Snapshots.addCheckConstraint(spark, dir, "k_pos", "k > 0")
    intercept[IllegalArgumentException](Snapshots.fastForward(spark, dir, "b2"))
    Snapshots.dropCheckConstraint(spark, dir, "k_pos")
    assert(Snapshots.fastForward(spark, dir, "b2") == 4)
  }

  test("expireStagedOlderThan sweeps only stale stages; a swept token's publish fails loudly") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 1.0)).toDF("k", "p"))
    val stale = Snapshots.stageCommit(spark, dir, Seq((2L, 2.0)).toDF("k", "p"))
    val fresh = Snapshots.stageCommit(spark, dir, Seq((3L, 3.0)).toDF("k", "p"))
    // age the stale manifest past the horizon; the fresh one stays current
    val staleMf = java.nio.file.Paths.get(dir, "_manifests", s"staged-$stale.list")
    assert(staleMf.toFile.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    val horizon = System.currentTimeMillis() - 24L * 3600 * 1000
    val swept = Snapshots.expireStagedOlderThan(spark, dir, horizon)
    assert(swept == Seq(stale), s"swept $swept")
    assert(Snapshots.stagedTokens(spark, dir) == Seq(fresh),
      "sweep took the live stage or kept the stale one")
    // the abandoned stage's data dirs reclaimed — no storage leak
    assert(Snapshots.readStaged(spark, dir, fresh).count() == 2)
    // a swept token's later publish fails loudly, never silently re-stages
    intercept[IllegalArgumentException](Snapshots.publishStaged(spark, dir, stale))
    // the survivor's lifecycle is untouched
    Snapshots.publishStaged(spark, dir, fresh)
    assert(Snapshots.read(spark, dir).as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0), (3L, 3.0)))
    // a published-then-crashed token (manifest outlives publish) is swept
    // manifest-only: its data now belongs to the table
    val tok2 = Snapshots.stageCommit(spark, dir, Seq((4L, 4.0)).toDF("k", "p"))
    val mf2 = java.nio.file.Paths.get(dir, "_manifests", s"staged-$tok2.list")
    val saved = java.nio.file.Files.readAllBytes(mf2)
    Snapshots.publishStaged(spark, dir, tok2)
    java.nio.file.Files.write(mf2, saved)
    assert(mf2.toFile.setLastModified(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    assert(Snapshots.expireStagedOlderThan(spark, dir, horizon) == Seq(tok2))
    assert(Snapshots.read(spark, dir).as[(Long, Double)].collect().toSet ==
      Set((1L, 1.0), (3L, 3.0), (4L, 4.0)),
      "sweeping a published token's stale manifest destroyed table data")
  }

  test("CHECK constraints gate every row-adding path, SQL-standard NULL semantics") {
    val dir = tmp()
    Snapshots.commit(spark, dir,
      Seq((1L, Some(10.0)), (2L, Some(20.0))).toDF("k", "p"))
    // a constraint existing rows violate refuses to be born
    intercept[IllegalArgumentException](
      Snapshots.addCheckConstraint(spark, dir, "p_big", "p > 15"))
    Snapshots.addCheckConstraint(spark, dir, "p_pos", "p > 0")
    Snapshots.addCheckConstraint(spark, dir, "k_not_null", "k IS NOT NULL")
    assert(Snapshots.checkConstraints(spark, dir).keySet == Set("p_pos", "k_not_null"))
    // violating commit refuses ATOMICALLY (no version, no files published)
    intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq((3L, Some(-1.0))).toDF("k", "p")))
    assert(Snapshots.currentVersion(spark, dir).contains(1))
    // NULL passes a plain CHECK (SQL standard)…
    Snapshots.commit(spark, dir,
      Seq((3L, None: Option[Double])).toDF("k", "p"))
    // …but IS NOT NULL is the NOT NULL constraint
    intercept[IllegalArgumentException](Snapshots.commit(spark, dir,
      Seq((None: Option[Long], Some(5.0))).toDF("k", "p")))
    // merge paths run the same gate
    intercept[IllegalArgumentException](Snapshots.mergeInto(spark, dir,
      Seq((1L, Some(-9.0))).toDF("k", "p"), "k"))
    intercept[IllegalArgumentException](Snapshots.mergeIntoMor(spark, dir,
      Seq((1L, Some(-9.0))).toDF("k", "p"), "k"))
    Snapshots.mergeInto(spark, dir, Seq((1L, Some(11.0))).toDF("k", "p"), "k")
    // rename/drop of a constrained column refuses until the constraint goes
    intercept[IllegalArgumentException](Snapshots.renameColumn(spark, dir, "p", "price"))
    intercept[IllegalArgumentException](Snapshots.dropColumn(spark, dir, "p"))
    Snapshots.dropCheckConstraint(spark, dir, "p_pos")
    Snapshots.renameColumn(spark, dir, "p", "price")
    Snapshots.commit(spark, dir, Seq((4L, Some(-2.0))).toDF("k", "price"))
    val rows = Snapshots.read(spark, dir)
      .select("k", "price").as[(Long, Option[Double])].collect().toSet
    assert(rows == Set((1L, Some(11.0)), (2L, Some(20.0)),
      (3L, None), (4L, Some(-2.0))), rows)
  }

  test("countRows answers from metadata: exact across deletes, zero data scan") {
    val dir = tmp()
    Snapshots.commit(spark, dir, spark.range(100).toDF("k").repartition(4))
    Snapshots.commit(spark, dir, spark.range(100, 150).toDF("k"))
    assert(Snapshots.countRows(spark, dir) == 150)
    Snapshots.deleteRangeMor(spark, dir, "k", Some(10L), Some(29L))
    assert(Snapshots.countRows(spark, dir) == 130, "DV mask not subtracted")
    assert(Snapshots.countRows(spark, dir, Some(2)) == 150, "time-travel count drifted")
    // proof no data file is planned: clobber every data file; the metadata
    // count still answers while a real scan would explode
    Snapshots.files(spark, dir, Snapshots.currentVersion(spark, dir).get)
      .foreach { f =>
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, f), Array[Byte](0))
      }
    assert(Snapshots.countRows(spark, dir) == 130, "countRows touched data files")
  }

  test("replaceWhere swaps a key region atomically and carries the rest") {
    val dir = tmp()
    Snapshots.commit(spark, dir,
      spark.range(1000).toDF("k").withColumn("p", col("k") * 1.0)
        .repartitionByRange(8, col("k")))
    val before = Snapshots.files(spark, dir, 1)
    // rows outside the region refuse up front, nothing publishes
    intercept[IllegalArgumentException](Snapshots.replaceWhere(spark, dir,
      Seq((5L, 1.0)).toDF("k", "p"), "k", Some(100L), Some(199L)))
    assert(Snapshots.currentVersion(spark, dir).contains(1))
    // swap [100, 199] for a recomputed half-density slice
    val v = Snapshots.replaceWhere(spark, dir,
      spark.range(100, 200, 2).toDF("k").withColumn("p", col("k") * 10.0),
      "k", Some(100L), Some(199L))
    val rows = Snapshots.read(spark, dir).as[(Long, Double)].collect().toMap
    assert(rows.size == 950)
    assert((100L until 200L by 2).forall(k => rows(k) == k * 10.0))
    assert(!(101L until 200L by 2).exists(rows.contains))
    assert(rows(99L) == 99.0 && rows(200L) == 200.0, "outside region touched")
    // files outside the region's stats envelope carried by reference
    assert(Snapshots.files(spark, dir, v).toSet.intersect(before.toSet).nonEmpty,
      "replaceWhere rewrote files the region never touched")
    // the feed records the swap as deletes + inserts, nothing else
    val feed = Snapshots.readChangeFeed(spark, dir, v - 1, v)
    assert(feed.filter(col("_change_type") === "delete").count() == 100)
    assert(feed.filter(col("_change_type") === "insert").count() == 50)
    // empty replacement = pure predicate delete, still one atomic commit
    val v2 = Snapshots.replaceWhere(spark, dir,
      spark.emptyDataset[(Long, Double)].toDF("k", "p"), "k",
      Some(300L), Some(349L))
    assert(Snapshots.read(spark, dir, Some(v2)).count() == 900)
  }

  test("any '__'-prefixed column name refuses at the write boundary") {
    val dir = tmp()
    // maskedParquet strips the whole __ prefix on merge-on-read reads, so
    // a user column like __tag would silently vanish after the first DV
    // delete — the format reserves the prefix, not just its three names
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq((1L, "x")).toDF("k", "__tag")))
    assert(e.getMessage.contains("__"), e.getMessage)
    intercept[IllegalArgumentException](
      Snapshots.commit(spark, dir, Seq((1L, "x")).toDF("k", "__pos")))
    assert(Snapshots.currentVersion(spark, dir).isEmpty,
      "a refused commit still published a version")
    // the merge path funnels through the same gate
    Snapshots.commit(spark, dir, Seq((1L, "x")).toDF("k", "v"))
    intercept[IllegalArgumentException](
      Snapshots.mergeInto(spark, dir,
        Seq((1L, "y")).toDF("k", "__v"), "k", evolve = true))
  }

  test("a feed recorded between two renames reads back under the current name") {
    val dir = tmp()
    Snapshots.commit(spark, dir, Seq((1L, 1.0), (2L, 2.0)).toDF("k", "p"))
    Snapshots.renameColumn(spark, dir, "p", "price")
    // merge records a feed sidecar while the column's logical name is the
    // INTERMEDIATE one ("price"); physical stays "p"
    val vM = Snapshots.mergeInto(spark, dir,
      Seq((1L, 10.0), (3L, 3.0)).toDF("k", "price"), "k")
    Snapshots.renameColumn(spark, dir, "price", "cost")
    // the recorded feed must surface under the CURRENT logical name with
    // real values — not a stale "price" column next to an all-NULL "cost"
    val feed = Snapshots.readChangeFeed(spark, dir, vM - 1, vM)
    assert(feed.columns.toSeq ==
      Seq("k", "cost", "_change_type", "_commit_version"), feed.columns.toSeq)
    val post = feed.filter(col("_change_type") === "update_post")
      .select("k", "cost").as[(Long, Double)].collect().toSet
    assert(post == Set((1L, 10.0)), post)
    assert(feed.filter(col("cost").isNull).count() == 0,
      "feed values lost in the rename translation")
    // MoR delete feeds translate the same way
    Snapshots.renameColumn(spark, dir, "cost", "amount")
    val vD = Snapshots.deleteRangeMor(spark, dir, "k", Some(3L), Some(3L))
    val dfeed = Snapshots.readChangeFeed(spark, dir, vD - 1, vD)
    assert(dfeed.columns.contains("amount") && !dfeed.columns.contains("cost"))
    assert(dfeed.select("amount").as[Double].collect().toSeq == Seq(3.0))
  }

  test("commitMarker publishes a metadata-only, feed-invisible version") {
    val dir = tmp()
    intercept[IllegalArgumentException](
      Snapshots.commitMarker(spark, dir, Map("m" -> "1")))
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val vDel = Snapshots.deleteRangeMor(spark, dir, "k", Some(2L), Some(2L))
    val v = Snapshots.commitMarker(spark, dir, Map("graft.cdc.batch" -> "7"))
    assert(v == vDel + 1)
    assert(Snapshots.files(spark, dir, v) == Snapshots.files(spark, dir, vDel),
      "marker commit changed the file set")
    assert(Snapshots.read(spark, dir).as[(Long, String)].collect().toSet ==
      Set((1L, "a")), "marker commit dropped the carried deletion vector")
    assert(Snapshots.commitMeta(spark, dir, v) == Map("graft.cdc.batch" -> "7"))
    assert(Snapshots.isRowPreserving(spark, dir, v))
    assert(Snapshots.readChangeFeed(spark, dir, v - 1, v).count() == 0,
      "marker commit leaked into the change feed")
  }

  test("compaction of a partitioned table bin-packs within partitions, routing preserved") {
    // r20 verdict item: compact() computed a global repartition(n) that the
    // routed commit write immediately re-shuffled by partition tuple — the
    // sizing shuffle was wasted AND the output was one-file-per-tuple
    // regardless of targetBytes. Partitioned compaction now skips the
    // pre-repartition and lets the routed write's rebalance bin-pack within
    // partitions at the targetBytes advisory size.
    val dir = tmp()
    Snapshots.setPartitionSpec(spark, dir, Snapshots.IdentityPart("day"))
    // 4 micro-batch appends x 3 days -> 4 files per day
    (1 to 4).foreach { b =>
      Snapshots.commit(spark, dir, (0 until 30).map { i =>
        (s"d${i % 3}", b.toLong * 100 + i, s"v$b-$i")
      }.toDF("day", "k", "v"))
    }
    val v0 = Snapshots.currentVersion(spark, dir).get
    val before = Snapshots.files(spark, dir, v0)
    val perDayBefore = before.groupBy(f => Snapshots.partValueOf(f).getOrElse("?"))
    assert(perDayBefore("d0").length == 4, s"fixture: $perDayBefore")
    val rowsBefore = Snapshots.read(spark, dir).orderBy("day", "k")
      .as[(String, Long, String)].collect().toSeq
    val vC = Snapshots.compact(spark, dir, targetBytes = 1L << 20)
    val after = Snapshots.files(spark, dir, vC)
    val perDayAfter = after.groupBy(f => Snapshots.partValueOf(f).getOrElse("?"))
    // file count per partition folds toward targetBytes (here: 1 per day)
    Seq("d0", "d1", "d2").foreach { d =>
      assert(perDayAfter(d).length < perDayBefore(d).length,
        s"$d not compacted: ${perDayAfter(d).length} files")
    }
    // routing preserved: every rewritten file still carries ONE day value
    after.foreach { f =>
      assert(Snapshots.partValueOf(f).exists(_.startsWith("d")), f)
    }
    // byte-count sanity: the rewrite holds the same rows
    val rowsAfter = Snapshots.read(spark, dir).orderBy("day", "k")
      .as[(String, Long, String)].collect().toSeq
    assert(rowsAfter == rowsBefore)
    // pruning still keeps only the probed day's files
    val (kept, all) = Snapshots.pruneFilesAll(spark, dir, vC,
      Seq(("day", Some("d1"), Some("d1"))))
    assert(kept.length == perDayAfter("d1").length && kept.length < all.length)
    // maintenance commit: the change feed sees no row change
    assert(Snapshots.isRowPreserving(spark, dir, vC))
  }

  test("snapshot reads plan from the manifest, not a filesystem listing") {
    // r22: `spark.read.parquet(paths…)` re-lists its paths on every plan —
    // past 32 paths that is a DISTRIBUTED "Listing leaf files" job, and
    // catalog reads paid it up to 4× per execution. The sidecar-schema read
    // path now plans through the manifest-backed FileIndex (zero listing
    // jobs by construction). Lock the structural property + row parity at
    // a file count ABOVE the parallel-discovery threshold.
    val dir = tmp()
    Snapshots.commit(spark, dir, spark.range(400).toDF("k").repartition(40))
    assert(Snapshots.files(spark, dir, 1).length == 40, "fixture: want >32 files")
    val df = Snapshots.read(spark, dir)
    val indexes = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.getClass.getSimpleName
        }
    }
    assert(indexes.nonEmpty && indexes.forall(_ == "ManifestFileIndex"),
      s"read plans through $indexes — a listing-based index re-walks the FS " +
        "the manifest already describes")
    assert(df.as[Long].collect().sorted.toSeq == (0L until 400L).toSeq)
    // file-skipping metadata is untouched by the planning change
    val (kept, all) = Snapshots.pruneFilesAll(spark, dir, 1,
      Seq(("k", Some(0L), Some(0L))))
    assert(kept.length < all.length && all.length == 40)
  }

  test("publish derives the schema sidecar from the written footers") {
    // r22: the sidecar used to come from a mergeSchema Spark JOB re-reading
    // the fresh files publish had just read for stats; it now comes from the
    // same single footer open (the writer-recorded Spark schema). Lock the
    // equivalence: sidecar = the committed frame's schema nullable-ized,
    // and an evolving append still appends the new field after carried ones.
    val dir = tmp()
    import org.apache.spark.sql.types._
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val side1 = Snapshots.physicalSchemaOf(spark, dir, 1)
    assert(side1.contains(StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("v", StringType, nullable = true)))), s"sidecar v1: $side1")
    Snapshots.commit(spark, dir,
      Seq((3L, "c", 1.5)).toDF("k", "v", "w"), evolve = true)
    val side2 = Snapshots.physicalSchemaOf(spark, dir, 2)
    assert(side2.contains(StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("v", StringType, nullable = true),
      StructField("w", DoubleType, nullable = true)))),
      s"sidecar v2 must append the evolved column after carried ones: $side2")
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("k", "v", "w"))
  }

  test("keyed merges compute each update row once on a CHECK-constrained table") {
    // the constraint probe must read the same materialization the merge
    // writes: a non-deterministic frame checked on one evaluation and
    // written from another could commit a row the check never saw
    val counted = udf { (k: Long) => SnapshotSpec.computed.increment(); k * 10.0 }
      .asNondeterministic()
    for ((name, merge) <- Seq[(String, (String, org.apache.spark.sql.DataFrame) => Int)](
        "mergeInto" -> ((d, u) => Snapshots.mergeInto(spark, d, u, "k")),
        "mergeIntoMor" -> ((d, u) => Snapshots.mergeIntoMor(spark, d, u, "k")))) {
      val dir = tmp()
      Snapshots.commit(spark, dir,
        spark.range(20).select(col("id").as("k"), col("id").cast("double").as("p")))
      Snapshots.addCheckConstraint(spark, dir, "p_nonneg", "p >= 0")
      SnapshotSpec.computed.reset()
      merge(dir, spark.range(10, 30, 1, 2).select(col("id").as("k"), counted(col("id")).as("p")))
      assert(SnapshotSpec.computed.sum == 20, s"$name computed " +
        s"${SnapshotSpec.computed.sum} update rows for 20")
      assert(Snapshots.read(spark, dir).count() == 30, name)
    }
  }

  test("row-level verbs keep their Spark job, data-file and version counts") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "snapshot-dml-lock"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def table(withDv: Boolean, partitioned: Boolean): String = {
      val dir = tmp()
      if (partitioned) Snapshots.setPartitionSpec(spark, dir, Snapshots.IdentityPart("p"))
      Snapshots.commit(spark, dir, spark.range(0, 40, 1, 4).select(col("id").as("k"),
        (col("id") % 4).as("p"), (col("id") * 0.5).as("v")))
      if (withDv) Snapshots.deleteRangeMor(spark, dir, "k", Some(0L), Some(1L))
      dir
    }
    def rows(lo: Long, hi: Long) = spark.range(lo, hi, 1, 2).select(col("id").as("k"),
      (col("id") % 4).as("p"), (col("id") * 2.0).as("v"))
    def applyMerge(dir: String, source: org.apache.spark.sql.DataFrame) =
      Snapshots.mergeApply(spark, dir, source, col("__t.k") === col("__s.k"),
        Seq(Snapshots.WhenMatched(None, Some(Seq("v" -> col("__s.v"))))),
        Seq(Snapshots.WhenNotMatched(None,
          Seq("k" -> col("__s.k"), "p" -> col("__s.p"), "v" -> col("__s.v")))),
        pruneKey = Some(("k", col("__s.k"))))
    val verbs: Seq[(String, Boolean, String => Int)] = Seq(
      ("mergeInto", false, d => Snapshots.mergeInto(spark, d, rows(30, 50), "k")),
      ("mergeIntoMor", false, d => Snapshots.mergeIntoMor(spark, d, rows(30, 50), "k")),
      ("deleteRange", false, d => Snapshots.deleteRange(spark, d, "k", Some(10L), Some(19L))),
      ("deleteRangeMor", false,
        d => Snapshots.deleteRangeMor(spark, d, "k", Some(10L), Some(19L))),
      ("deleteByKeysMor", false,
        d => Snapshots.deleteByKeysMor(spark, d, rows(10, 20).select("k"), "k")),
      ("deleteByKeysMor miss", false,
        d => Snapshots.deleteByKeysMor(spark, d, rows(100, 110).select("k"), "k")),
      ("deleteWhere", false, d => Snapshots.deleteWhere(spark, d,
        col("k").between(10, 19), prune = Seq(("k", Some(10L), Some(19L))))),
      ("updateWhere", false, d => Snapshots.updateWhere(spark, d, col("k") < 10,
        Seq("v" -> (col("v") + 1)), prune = Seq(("k", None, Some(9L))))),
      ("replaceWhere", false,
        d => Snapshots.replaceWhere(spark, d, rows(10, 20), "k", Some(10L), Some(19L))),
      ("mergeApply", false, d => applyMerge(d, rows(30, 50))),
      ("mergeApply insert-only", false, d => applyMerge(d, rows(100, 110))),
      ("insertOverwritePartitions", true,
        d => Snapshots.insertOverwritePartitions(spark, d, rows(40, 60).filter(col("p") === 1))),
      ("purgeDeletes", false, d => Snapshots.purgeDeletes(spark, d, 0.0)),
      ("commitMarker", false, d => Snapshots.commitMarker(spark, d, Map("mark" -> "1"))))
    // (jobs, data files added, versions published) without / with a prior
    // deletion vector: the counts each verb had while it carried its own
    // copy of the DML recipe, before they shared one engine — less, on a
    // masked table, one job per table-schema read: the schema comes from
    // the version's schema sidecar, not from planning the masked read,
    // whose deletion-vector dir costs a schema-inference job
    val expected = Map(
      "mergeInto" -> ((18, 1, 1), (28, 1, 1)),
      "mergeIntoMor" -> ((15, 1, 1), (18, 1, 1)),
      "deleteRange" -> ((3, 1, 1), (11, 1, 1)),
      "deleteRangeMor" -> ((4, 0, 1), (8, 0, 1)),
      "deleteByKeysMor" -> ((9, 0, 1), (12, 0, 1)),
      "deleteByKeysMor miss" -> ((3, 0, 0), (3, 0, 0)),
      "deleteWhere" -> ((6, 1, 1), (16, 1, 1)),
      "updateWhere" -> ((6, 1, 1), (14, 1, 1)),
      "replaceWhere" -> ((8, 3, 1), (15, 3, 1)),
      "mergeApply" -> ((14, 8, 1), (23, 8, 1)),
      "mergeApply insert-only" -> ((7, 2, 1), (12, 2, 1)),
      "insertOverwritePartitions" -> ((7, 1, 1), (14, 1, 1)),
      "purgeDeletes" -> ((0, 0, 0), (9, 1, 1)),
      "commitMarker" -> ((0, 0, 1), (0, 0, 1)))
    sc.addSparkListener(listener)
    val got = try {
      for ((name, partitioned, verb) <- verbs) yield name -> {
        val Seq(plain, masked) = Seq(false, true).map { withDv =>
          val dir = table(withDv, partitioned)
          val v0 = Snapshots.currentVersion(spark, dir).get
          val before = Snapshots.files(spark, dir, v0).toSet
          org.apache.spark.ListenerBusDrain(sc)
          jobs.set(0)
          sc.setJobGroup(group, name)
          val v = try verb(dir) finally sc.clearJobGroup()
          org.apache.spark.ListenerBusDrain(sc)
          (jobs.get, Snapshots.files(spark, dir, v).count(f => !before(f)), v - v0)
        }
        (plain, masked)
      }
    } finally sc.removeSparkListener(listener)
    for ((name, counts) <- got) assert(counts == expected(name), s"$name: $counts")
  }

  test("each operation reads a table's metadata once: manifests, sidecars, props, listing") {
    def table(): String = {
      val dir = tmp()
      Snapshots.commit(spark, dir, spark.range(0, 40, 1, 2).select(col("id").as("k"),
        (col("id") * 0.5).as("v")))
      Snapshots.commit(spark, dir, spark.range(40, 60, 1, 1).select(col("id").as("k"),
        (col("id") * 0.5).as("v")), meta = Map("batch" -> "2"))
      dir
    }
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi, 1, 1).select(col("id").as("k"), (col("id") * 2.0).as("v"))
    val ops: Seq[(String, String => Any)] = Seq(
      "read" -> (d => Snapshots.read(spark, d).count()),
      "readRanges" ->
        (d => Snapshots.readRanges(spark, d, Seq(("k", Some(5L), Some(45L)))).count()),
      "readChanges(1, 2)" -> (d => Snapshots.readChanges(spark, d, 1, 2).count()),
      "readChangeFeed(1, 2)" -> (d => Snapshots.readChangeFeed(spark, d, 1, 2).count()),
      "history" -> (d => Snapshots.history(spark, d).collect()),
      "countRows" -> (d => Snapshots.countRows(spark, d)),
      "commit" -> (d => Snapshots.commit(spark, d, rows(60, 70))),
      "mergeInto" -> (d => Snapshots.mergeInto(spark, d, rows(30, 50), "k")),
      "deleteRange" -> (d => Snapshots.deleteRange(spark, d, "k", Some(10L), Some(19L))),
      "deleteRangeMor" -> (d => Snapshots.deleteRangeMor(spark, d, "k", Some(10L), Some(19L))),
      "fastForward" -> (d => Snapshots.fastForward(spark, d, "b")))
    val conf = spark.conf
    val keys = Seq("fs.file.impl" -> classOf[CountingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = keys.map { case (k, _) => k -> conf.getOption(k) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      assert(org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
        .isInstanceOf[CountingLocalFs], "counting FileSystem not installed")
      for ((name, op) <- ops) {
        val dir = table()
        if (name == "fastForward") {
          Snapshots.createBranch(spark, dir, "b")
          Snapshots.commitToBranch(spark, dir, "b", rows(100, 110))
        }
        val (_, calls) = SnapshotSpec.countFsCalls(dir)(op(dir))
        info(s"$name: " + calls.toSeq.sorted.map { case ((c, f), n) => s"$c $f=$n" }.mkString(", "))
        def count(call: String, file: String) = calls.getOrElse((call, file), 0L)
        assert(count("list", "_manifests") <= 1, s"$name lists _manifests more than once: $calls")
        val opened = calls.collect { case (("open", f), n) => f -> n }
        // one read of table.props, plus the read inside the branch ref's
        // read-modify-write removal
        val propsBound = if (name == "fastForward") 2 else 1
        assert(count("open", "table.props") <= propsBound, s"$name: $calls")
        for ((f, n) <- opened if f != "table.props")
          assert(n <= 1, s"$name opens $f $n times: $calls")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object SnapshotSpec {
  /** Update rows evaluated by the counting UDF (executors share the JVM). */
  val computed = new java.util.concurrent.atomic.LongAdder

  /** Filesystem calls on snapshot metadata, keyed (call, file name): opens
    * and stats of the files in a `_manifests` dir, and listings of the dir
    * itself. Only paths under `root` count. */
  private val fsCalls = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.util.concurrent.atomic.LongAdder]()
  @volatile private var root: String = "\u0000"

  def countFsCalls[T](dir: String)(body: => T): (T, Map[(String, String), Long]) = {
    import scala.jdk.CollectionConverters._
    fsCalls.clear(); root = dir
    try {
      val out = body
      (out, fsCalls.asScala.map { case (k, n) => k -> n.sum }.toMap)
    } finally root = "\u0000"
  }

  private[graft] def record(call: String, p: org.apache.hadoop.fs.Path): Unit = {
    val path = p.toUri.getPath
    if (path.startsWith(root + "/")) {
      val key =
        if (p.getName == "_manifests") Some(call -> "_manifests")
        else if (p.getParent != null && p.getParent.getName == "_manifests") Some(call -> p.getName)
        else None
      key.foreach(k =>
        fsCalls.computeIfAbsent(k, _ => new java.util.concurrent.atomic.LongAdder).increment())
    }
  }
}

/** A local `FileSystem` that reports its opens, stats and listings to
  * [[SnapshotSpec.record]]. Tests install it through the session conf
  * (`fs.file.impl`, with the FileSystem cache off) and restore the conf
  * after. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    SnapshotSpec.record("open", f); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = {
    SnapshotSpec.record("stat", f); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    SnapshotSpec.record("list", f); super.listStatus(f)
  }
}
