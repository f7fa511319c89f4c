package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Snapshots

/** Model-based chaos fuzz of the whole snapshot surface: a random op
  * sequence (append / replace / range delete / CoW+MoR merge upsert /
  * generic predicate DELETE/UPDATE / multi-clause MERGE — the SQL DML
  * engines — / z-order rewrite / retention / vacuum) runs against an
  * in-memory multiset model,
  * with torn-writer debris injected between ops (stray `.tmp` manifests,
  * orphan data dirs, foreign files in `_manifests`). Invariants after every
  * op: the head read equals the model exactly, surviving pinned versions
  * equal their frozen model, and stats-pruned range reads equal the model
  * filter — no artifact, op interleaving, or index state may change a
  * result.
  */
class SnapshotChaosSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Row2 = (Long, Long)

  private def readAll(dir: String, v: Option[Int] = None): Seq[Row2] =
    Snapshots.read(spark, dir, v).as[Row2].collect().sorted.toSeq

  test("chaos: random ops + torn-writer debris never change any result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos").toFile.getAbsolutePath
    val rng = new scala.util.Random(1234)
    def rows(n: Int): Seq[Row2] =
      Seq.fill(n)((rng.nextInt(50).toLong, rng.nextInt(1000).toLong))

    var history = Map.empty[Int, Seq[Row2]] // version → frozen content
    def head: Seq[Row2] = history.get(Snapshots.currentVersion(spark, dir)
      .getOrElse(0)).getOrElse(Seq.empty)

    Snapshots.setBloomColumns(spark, dir, Seq("k"))
    val v1 = Snapshots.commit(spark, dir, rows(30).toDF("k", "v"))
    history += v1 -> readAll(dir)

    for (step <- 1 to 36) {
      // torn-writer debris before each op: none of it may be visible
      rng.nextInt(3) match {
        case 0 =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, "_manifests", s".v99$step.list.tmp"),
            "data/c0/bogus.parquet\n".getBytes("UTF-8"))
        case 1 =>
          rows(3).toDF("k", "v").write.mode("overwrite")
            .parquet(s"$dir/data/c9$step") // crashed commit: data, no manifest
        case 2 =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, "_manifests", s"notes$step.txt"),
            "foreign file\n".getBytes("UTF-8"))
      }

      val cur = Snapshots.currentVersion(spark, dir).get
      rng.nextInt(12) match {
        case 0 => // append
          val r = rows(1 + rng.nextInt(20))
          val v = Snapshots.commit(spark, dir, r.toDF("k", "v"))
          history += v -> (history(cur) ++ r).sorted
        case 1 => // replace
          val r = rows(1 + rng.nextInt(20))
          val v = Snapshots.commit(spark, dir, r.toDF("k", "v"), replace = true)
          history += v -> r.sorted
        case 2 => // range delete (may be a provable no-op)
          val a = rng.nextInt(60).toLong - 5; val b = a + rng.nextInt(15)
          val v = Snapshots.deleteRange(spark, dir, "k", Some(a), Some(b))
          history += v -> history(cur).filterNot { case (k, _) => k >= a && k <= b }
        case 3 => // merge upsert with key-unique updates
          val upd = rows(1 + rng.nextInt(10))
            .groupBy(_._1).map(_._2.head).toSeq
          val v = Snapshots.mergeInto(spark, dir, upd.toDF("k", "v"), "k")
          val keys = upd.map(_._1).toSet
          history += v ->
            (history(cur).filterNot(r => keys(r._1)) ++ upd).sorted
        case 4 => // z-order maintenance rewrite: content must not move
          val v = Snapshots.cluster(spark, dir, Seq("k", "v"), 1 + rng.nextInt(6))
          history += v -> history(cur)
        case 5 => // retention + vacuum: head content must not move
          val keep = Snapshots.versions(spark, dir).last
          if (rng.nextBoolean() && Snapshots.versions(spark, dir).size > 2) {
            Snapshots.expireOlderThan(spark, dir,
              Snapshots.commitTime(spark, dir, keep))
            history = history.filter { case (v, _) =>
              Snapshots.versions(spark, dir).contains(v) }
          }
          Snapshots.vacuumOrphans(spark, dir, graceMillis = -1)
        case 6 => // merge-on-read range delete (may be a provable no-op)
          val a = rng.nextInt(60).toLong - 5; val b = a + rng.nextInt(15)
          val v = Snapshots.deleteRangeMor(spark, dir, "k", Some(a), Some(b))
          history += v -> history(cur).filterNot { case (k, _) => k >= a && k <= b }
        case 7 => // merge-on-read upsert with key-unique updates
          val upd = rows(1 + rng.nextInt(10))
            .groupBy(_._1).map(_._2.head).toSeq
          val v = Snapshots.mergeIntoMor(spark, dir, upd.toDF("k", "v"), "k")
          val keys = upd.map(_._1).toSet
          history += v ->
            (history(cur).filterNot(r => keys(r._1)) ++ upd).sorted
        case 8 => // generic predicate DELETE (the SQL face's engine)
          val m = 2 + rng.nextInt(5); val r0 = rng.nextInt(m)
          val v = Snapshots.deleteWhere(spark, dir,
            col("k") % m === r0 && col("v") >= 100)
          val want = history(cur).filterNot { case (k, vv) =>
            k % m == r0 && vv >= 100 }
          if (want == history(cur)) assert(v == cur, s"no-match delete minted v$v")
          history += v -> want
        case 9 => // generic predicate UPDATE (the SQL face's engine)
          val m = 2 + rng.nextInt(5); val r0 = rng.nextInt(m)
          val v = Snapshots.updateWhere(spark, dir,
            col("k") % m === r0, Seq("v" -> (col("v") + 7)))
          val want = history(cur).map { case (k, vv) =>
            if (k % m == r0) (k, vv + 7) else (k, vv) }.sorted
          if (want == history(cur)) assert(v == cur, s"no-match update minted v$v")
          history += v -> want
        case 10 => // general MERGE: conditional update / delete / insert
          // source keys unique (the ANSI matched-side rule); duplicate-k
          // TARGET rows all match the same source row
          val src = rows(1 + rng.nextInt(10)).groupBy(_._1).map(_._2.head).toSeq
          val thr = rng.nextInt(800).toLong
          val v = Snapshots.mergeApply(spark, dir, src.toDF("k", "v"),
            onCond = col("__t.k") === col("__s.k"),
            matched = Seq(
              Snapshots.WhenMatched(Some(col("__s.v") > thr),
                Some(Seq("v" -> (col("__s.v") + 1)))),
              Snapshots.WhenMatched(None, None)),
            notMatched = Seq(Snapshots.WhenNotMatched(None,
              Seq("k" -> col("__s.k"), "v" -> col("__s.v")))),
            pruneKey = if (rng.nextBoolean()) Some(("k", col("__s.k"))) else None)
          val srcByK = src.toMap
          val tKeys = history(cur).map(_._1).toSet
          val fromT = history(cur).flatMap { case (k, vv) =>
            srcByK.get(k) match {
              case Some(sv) if sv > thr => Some((k, sv + 1))
              case Some(_) => None // second clause: DELETE
              case None => Some((k, vv))
            }
          }
          val ins = src.filterNot { case (k, _) => tKeys(k) }
          history += v -> (fromT ++ ins).sorted
        case 11 => // hilbert maintenance rewrite: content must not move
          val v = Snapshots.cluster(spark, dir, Seq("k", "v"), 1 + rng.nextInt(6),
            Snapshots.Curve.Hilbert)
          history += v -> history(cur)
      }

      assert(readAll(dir) == head, s"step $step: head diverged from the model")
      // a random surviving pinned version must still read its frozen content
      val vs = Snapshots.versions(spark, dir).filter(history.contains)
      val pin = vs(rng.nextInt(vs.size))
      assert(readAll(dir, Some(pin)) == history(pin),
        s"step $step: pinned v$pin drifted")
      // stats/bloom-pruned range read == model filter
      val lo = rng.nextInt(60).toLong - 5; val hi = lo + rng.nextInt(20)
      val got = Snapshots.readRange(spark, dir, "k", Some(lo), Some(hi))
        .as[Row2].collect().sorted.toSeq
      assert(got == head.filter { case (k, _) => k >= lo && k <= hi },
        s"step $step: readRange [$lo,$hi] diverged")
      // semantic diff folds any surviving version onto any other — the
      // rewrite-crossing contract readChangeFeed can't make (sampled: the
      // diff is a deliberate two-scan op)
      if (rng.nextInt(5) == 0 && vs.size >= 2) {
        val va = vs(rng.nextInt(vs.size)); val vb = vs(rng.nextInt(vs.size))
        val d = Snapshots.diffVersions(spark, dir, va, vb)
          .as[(Long, Long, String)].collect()
        val folded = scala.collection.mutable.Buffer(history(va): _*)
        d.foreach {
          case (k, v, "insert") => folded += ((k, v))
          case (k, v, _) =>
            val i = folded.indexOf((k, v))
            assert(i >= 0, s"step $step: diff removed a row v$va never had")
            folded.remove(i)
        }
        assert(folded.sorted == history(vb),
          s"step $step: diff fold v$va -> v$vb diverged")
      }
    }
    // a shallow clone at a random surviving version is a faithful frozen
    // copy, and clone DML never reaches the source
    val vs = Snapshots.versions(spark, dir).filter(history.contains)
    val cv = vs(rng.nextInt(vs.size))
    val cloneDir = java.nio.file.Files
      .createTempDirectory("graft-chaos-clone").toFile.getAbsolutePath
    val srcHead = readAll(dir)
    if (Snapshots.dvRel(spark, dir, cv).isEmpty) {
      Snapshots.cloneTable(spark, dir, cloneDir, Some(cv))
      assert(readAll(cloneDir) == history(cv),
        s"clone of v$cv is not the frozen content")
      Snapshots.deleteRange(spark, cloneDir, "k", Some(0L), Some(100L))
      Snapshots.commit(spark, cloneDir, Seq((9999L, 1L)).toDF("k", "v"))
      assert(readAll(dir) == srcHead, "clone DML leaked into the source")
    }
  }

  /** The full mixed-writer TRIANGLE: a real streaming sink, a retrying
    * MERGE upserter, and a compactor race the same table across 22
    * randomized interleavings (jittered start order per round). Writer
    * keyspaces are disjoint where ordering is racy (sink keys ≥ 10000,
    * merge keys 0..6 written by one sequential upserter), so the final
    * state is a deterministic model: no batch may be lost or duplicated,
    * merge keys hold their LAST round's value, and the compactor's
    * derived-replace conflicts abort loudly (caught + retried next round)
    * rather than erasing concurrent commits.
    */
  test("chaos triangle: streaming sink + retrying upserter + compactor — no lost rows, loud conflicts") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-tri").toFile.getAbsolutePath
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chaos-tri-ck").toFile.getAbsolutePath
    Snapshots.commit(spark, dir, Seq((0L, 0L)).toDF("k", "v"))
    val mem = MemoryStream[(Long, Long)]
    val q = mem.toDF().toDF("k", "v").writeStream.format("snapshots")
      .option("path", dir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val rng = new scala.util.Random(77)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val rounds = 22
    var compactorLosses = 0
    for (round <- 1 to rounds) {
      val jitter = rng.nextInt(3) // which writer starts late this round
      val fSink = Future {
        if (jitter == 0) Thread.sleep(rng.nextInt(25).toLong)
        mem.addData((10000L + round, round.toLong))
        q.processAllAvailable()
      }
      val fMerge = Future {
        if (jitter == 1) Thread.sleep(rng.nextInt(25).toLong)
        // alternate the upsert strategy: copy-on-write and merge-on-read
        // retrying writers must both compose with the sink and compactor
        if (round % 2 == 0)
          Snapshots.withCommitRetry(Snapshots.RecomputeRetries)(
            Snapshots.mergeInto(spark, dir,
              Seq(((round % 7).toLong, round.toLong)).toDF("k", "v"), "k"))
        else
          Snapshots.withCommitRetry(Snapshots.RecomputeRetries)(
            Snapshots.mergeIntoMor(spark, dir,
              Seq(((round % 7).toLong, round.toLong)).toDF("k", "v"), "k"))
      }
      val fCompact = Future {
        if (jitter == 2) Thread.sleep(rng.nextInt(25).toLong)
        try { Snapshots.compact(spark, dir, targetBytes = 1L << 20); 0 }
        catch { case _: java.util.ConcurrentModificationException => 1 }
      }
      Await.result(fSink, 120.seconds)
      Await.result(fMerge, 120.seconds)
      compactorLosses += Await.result(fCompact, 120.seconds)
    }
    q.processAllAvailable()
    q.stop()
    // deterministic final model despite the racing
    val sinkRows = (1 to rounds).map(r => (10000L + r, r.toLong))
    val mergeRows = (0L until 7L).map(k =>
      (k, (1 to rounds).filter(_ % 7 == k.toInt).max.toLong))
    assert(readAll(dir) == (sinkRows ++ mergeRows).sorted,
      s"triangle race lost or duplicated rows (compactor losses: $compactorLosses)")
    info(s"compactor lost $compactorLosses of $rounds races, all loud")
    // the derived-replace conflict rule itself, deterministically: a replace
    // planned against a stale version must abort before touching the slot
    val cur = Snapshots.currentVersion(spark, dir).get
    Snapshots.commit(spark, dir, Seq((99999L, 1L)).toDF("k", "v"))
    intercept[java.util.ConcurrentModificationException](
      Snapshots.commit(spark, dir, Seq((1L, 1L)).toDF("k", "v"),
        replace = true, expectedVersion = Some(cur)))
    // and nothing was erased by the refused replace
    assert(Snapshots.read(spark, dir).count() == (rounds + 7 + 1).toLong)
  }

  /** CDC COMPLETENESS: for ANY op mix without blind replaces, the signed
    * fold of the change feed (+insert/update_post, −update_pre/delete)
    * over the starting snapshot reconstructs the head EXACTLY — rows may
    * never be double-reported, dropped, or mis-typed, and maintenance
    * versions must contribute nothing. This is the invariant every
    * downstream incremental consumer (mview, reverse ETL) silently
    * assumes.
    */
  test("property: folding the change feed reconstructs the head across random op mixes") {
    val rng = new scala.util.Random(4242)
    for (trial <- 0 until 2) {
      val dir = java.nio.file.Files.createTempDirectory("graft-cdcfold").toFile.getAbsolutePath
      var next = 100000L * trial
      def rows(n: Int): Seq[Row2] =
        Seq.fill(n) { next += 1; (next % 97, next) } // recycled keys force matches
      Snapshots.commit(spark, dir, rows(40).toDF("k", "v"))
      val v1Content = readAll(dir)
      for (_ <- 1 to 14) {
        rng.nextInt(8) match {
          case 0 => Snapshots.commit(spark, dir, rows(1 + rng.nextInt(10)).toDF("k", "v"))
          case 1 =>
            val upd = rows(1 + rng.nextInt(8)).groupBy(_._1).map(_._2.head).toSeq
            Snapshots.mergeInto(spark, dir, upd.toDF("k", "v"), "k")
          case 2 =>
            val upd = rows(1 + rng.nextInt(8)).groupBy(_._1).map(_._2.head).toSeq
            Snapshots.mergeIntoMor(spark, dir, upd.toDF("k", "v"), "k")
          case 3 =>
            val a = rng.nextInt(97).toLong; val b = a + rng.nextInt(10)
            Snapshots.deleteRange(spark, dir, "k", Some(a), Some(b))
          case 4 =>
            val a = rng.nextInt(97).toLong; val b = a + rng.nextInt(10)
            Snapshots.deleteRangeMor(spark, dir, "k", Some(a), Some(b))
          case 5 => Snapshots.compact(spark, dir, targetBytes = 1L << 20)
          case 6 => Snapshots.cluster(spark, dir, Seq("k", "v"), 4, incremental = true)
          case 7 => Snapshots.cluster(spark, dir, Seq("k", "v"), 4,
            Snapshots.Curve.Hilbert, incremental = true)
        }
      }
      val head = Snapshots.currentVersion(spark, dir).get
      val feed = Snapshots.readChangeFeed(spark, dir, 1, head)
        .select(col("k"), col("v"), col("_change_type"))
        .as[(Long, Long, String)].collect()
      val folded = scala.collection.mutable.Map.empty[Row2, Long]
        .withDefaultValue(0L)
      v1Content.foreach(r => folded(r) += 1)
      feed.foreach { case (k, v, ct) =>
        val w = if (ct == "insert" || ct == "update_post") 1L else -1L
        folded((k, v)) += w
      }
      assert(folded.values.forall(c => c == 0L || c == 1L),
        s"trial $trial: feed fold produced multiplicities ${folded.values.toSet}")
      val reconstructed = folded.collect { case (r, 1L) => r }.toSeq.sorted
      assert(reconstructed == readAll(dir),
        s"trial $trial: feed fold diverged from the head")
    }
  }

  test("chaos: four concurrent retrying appenders — head is the exact union, history linear") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-cc").toFile.getAbsolutePath
    Snapshots.commit(spark, dir, Seq((0L, 0L)).toDF("k", "v"))
    val nThreads = 4; val perThread = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val barrier = new java.util.concurrent.CyclicBarrier(nThreads)
    val writers = (1 to nThreads).map { t =>
      Future {
        barrier.await()
        (1 to perThread).map { i =>
          Snapshots.commitRetry(spark, dir,
            Seq(((t * 1000 + i).toLong, t.toLong)).toDF("k", "v"))
        }
      }
    }
    val landed = Await.result(Future.sequence(writers), 300.seconds).flatten
    pool.shutdown()
    val total = nThreads * perThread
    assert(landed.toSet.size == total, s"version collision among $landed")
    assert(Snapshots.currentVersion(spark, dir).contains(1 + total))
    val want = (Seq((0L, 0L)) ++ (for {
      t <- 1 to nThreads; i <- 1 to perThread
    } yield ((t * 1000 + i).toLong, t.toLong))).sorted
    assert(readAll(dir) == want, "concurrent appenders lost or duplicated rows")
    // history is LINEAR: every version extends its parent's file set
    (2 to 1 + total).foreach { v =>
      val prev = Snapshots.files(spark, dir, v - 1).toSet
      assert(prev.subsetOf(Snapshots.files(spark, dir, v).toSet),
        s"v$v does not extend v${v - 1}")
    }
    // every version still reads a coherent prefix-union (row count grows by 1)
    (1 to 1 + total).foreach { v =>
      assert(Snapshots.read(spark, dir, Some(v)).count() == v.toLong,
        s"v$v row count wrong")
    }
  }

  test("chaos: staged publishers racing appenders — every row lands exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-wap").toFile.getAbsolutePath
    Snapshots.commit(spark, dir, Seq((0L, 0L)).toDF("k", "v"))
    // stage all candidates up front (the WAP shape: data written early,
    // publish deferred past the audit), then publish them from N threads
    // while N other threads append directly — every publish must rebase
    // over whatever won its slot
    val nSides = 3; val perThread = 3
    val tokens = for (t <- 1 to nSides; i <- 1 to perThread)
      yield Snapshots.stageCommit(spark, dir,
        Seq(((t * 1000 + i).toLong, -t.toLong)).toDF("k", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2 * nSides)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val barrier = new java.util.concurrent.CyclicBarrier(2 * nSides)
    val publishers = (0 until nSides).map { t =>
      Future {
        barrier.await()
        (0 until perThread).map(i =>
          Snapshots.publishStaged(spark, dir, tokens(t * perThread + i)))
      }
    }
    val appenders = (1 to nSides).map { t =>
      Future {
        barrier.await()
        (1 to perThread).map(i => Snapshots.commitRetry(spark, dir,
          Seq(((t * 100000 + i).toLong, t.toLong)).toDF("k", "v")))
      }
    }
    val landed = Await.result(
      Future.sequence(publishers ++ appenders), 300.seconds).flatten
    pool.shutdown()
    val total = 2 * nSides * perThread
    assert(landed.toSet.size == total, s"version collision among $landed")
    assert(Snapshots.currentVersion(spark, dir).contains(1 + total))
    val want = (Seq((0L, 0L)) ++
      (for (t <- 1 to nSides; i <- 1 to perThread)
        yield ((t * 1000 + i).toLong, -t.toLong)) ++
      (for (t <- 1 to nSides; i <- 1 to perThread)
        yield ((t * 100000 + i).toLong, t.toLong))).sorted
    assert(readAll(dir) == want,
      "racing staged publishes and appends lost or duplicated rows")
    assert(Snapshots.stagedTokens(spark, dir).isEmpty, "staged debris left")
  }

  test("chaos: branch workflows racing main appenders — fast-forward atomic, no debris") {
    // the multi-commit WAP under contention: branch workers fork, commit
    // twice to the branch, and fast-forward; main appenders keep the head
    // moving underneath them. fastForward refuses when main moved past the
    // fork (loud CME — the documented rebase contract), so workers
    // re-branch and REPLAY until their rows land. Invariants: the head is
    // the exact union of everything that reported success, history is
    // linear, and no branch ref/manifest/data debris survives.
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-br").toFile.getAbsolutePath
    Snapshots.commit(spark, dir, Seq((0L, 0L)).toDF("k", "v"))
    val nBranch = 2; val nAppend = 2; val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nBranch + nAppend)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val barrier = new java.util.concurrent.CyclicBarrier(nBranch + nAppend)
    val branchWorkers = (1 to nBranch).map { t =>
      Future {
        barrier.await()
        (1 to perThread).foreach { i =>
          val name = s"wap-$t-$i"
          var landed = false
          var attempts = 0
          while (!landed) {
            attempts += 1
            assert(attempts <= 50, s"branch $name starved after 50 rebases")
            Snapshots.createBranch(spark, dir, name)
            Snapshots.commitToBranch(spark, dir, name,
              Seq(((t * 1000 + i * 10).toLong, t.toLong)).toDF("k", "v"))
            Snapshots.commitToBranch(spark, dir, name,
              Seq(((t * 1000 + i * 10 + 1).toLong, t.toLong)).toDF("k", "v"))
            try { Snapshots.fastForward(spark, dir, name); landed = true }
            catch { case _: java.util.ConcurrentModificationException =>
              // main moved past the fork: drop the stale branch, replay
              Snapshots.deleteBranch(spark, dir, name)
            }
          }
        }
      }
    }
    val appenders = (1 to nAppend).map { t =>
      Future {
        barrier.await()
        (1 to perThread).foreach(i => Snapshots.commitRetry(spark, dir,
          Seq(((t * 100000 + i).toLong, -t.toLong)).toDF("k", "v")))
      }
    }
    Await.result(Future.sequence(branchWorkers ++ appenders), 600.seconds)
    pool.shutdown()
    val want = (Seq((0L, 0L)) ++
      (for (t <- 1 to nBranch; i <- 1 to perThread; j <- 0 to 1)
        yield ((t * 1000 + i * 10 + j).toLong, t.toLong)) ++
      (for (t <- 1 to nAppend; i <- 1 to perThread)
        yield ((t * 100000 + i).toLong, -t.toLong))).sorted
    assert(readAll(dir) == want,
      "racing branch fast-forwards and appends lost or duplicated rows")
    assert(Snapshots.branches(spark, dir).isEmpty, "branch ref debris left")
    // each fast-forward is ONE atomic commit: its version adds exactly the
    // branch's two rows; history stays linear throughout
    val head = Snapshots.currentVersion(spark, dir).get
    (2 to head).foreach { v =>
      val prev = Snapshots.files(spark, dir, v - 1).toSet
      assert(prev.subsetOf(Snapshots.files(spark, dir, v).toSet),
        s"v$v does not extend v${v - 1}")
      val grew = Snapshots.read(spark, dir, Some(v)).count() -
        Snapshots.read(spark, dir, Some(v - 1)).count()
      assert(grew == 1 || grew == 2, s"v$v grew by $grew rows (not 1 or 2)")
    }
  }

  test("chaos: replaceWhereRetry racing retrying appenders — both commit, no lost rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos-rw").toFile.getAbsolutePath
    // keyspace [0, 100) seeded; the replacer swaps [10, 29] per round while
    // appenders land keys far outside the region — a slot race must never
    // drop an append or leak/lose replaced rows
    Snapshots.commit(spark, dir,
      spark.range(100).toDF("k").withColumn("v", lit(0L)))
    val nAppenders = 3; val perThread = 3; val rounds = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nAppenders + 1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val barrier = new java.util.concurrent.CyclicBarrier(nAppenders + 1)
    val replacer = Future {
      barrier.await()
      (1 to rounds).map { r =>
        Snapshots.withCommitRetry(Snapshots.RecomputeRetries)(
          Snapshots.replaceWhere(spark, dir,
            spark.range(10, 30).toDF("k").withColumn("v", lit(r.toLong)),
            "k", Some(10L), Some(29L)))
      }
    }
    val appenders = (1 to nAppenders).map { t =>
      Future {
        barrier.await()
        (1 to perThread).map(i => Snapshots.commitRetry(spark, dir,
          Seq(((t * 1000 + i).toLong, t.toLong)).toDF("k", "v")))
      }
    }
    val landed = Await.result(
      Future.sequence(replacer +: appenders), 300.seconds).flatten
    pool.shutdown()
    val total = rounds + nAppenders * perThread
    assert(landed.toSet.size == total, s"version collision among $landed")
    assert(Snapshots.currentVersion(spark, dir).contains(1 + total))
    val all = readAll(dir)
    assert(all.size == 100 + nAppenders * perThread,
      "lost or duplicated rows under the race")
    val got = all.toMap
    // every appended key present exactly once with its value
    for (t <- 1 to nAppenders; i <- 1 to perThread)
      assert(got.get((t * 1000 + i).toLong).contains(t.toLong),
        s"append ${t * 1000 + i} lost")
    // the region holds exactly the LAST replace round's rows
    assert((10L to 29L).forall(k => got(k) == rounds.toLong),
      "region rows not from the final replace")
    // untouched keyspace intact
    assert((0L to 9L).forall(k => got(k) == 0L) &&
      (30L to 99L).forall(k => got(k) == 0L), "replace leaked outside region")
  }
}
