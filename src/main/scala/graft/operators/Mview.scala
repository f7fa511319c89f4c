package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained materialized aggregates over a
  * [[Snapshots]] table — the consumer the CDC feed (`readChanges` / the
  * `snapshots` streaming source) exists for.
  *
  * The view is `GROUP BY keys → (cnt, sum_<c>…, min_<c>/max_<c>…)` — the
  * append-decomposable family: counts and sums ADD across deltas, extrema
  * fold via least/greatest (valid precisely because the incremental feed
  * is append-only — a delete would need recompute, and source rewrites
  * refuse upstream), avg = sum/cnt at query time. Each
  * [[refresh]] folds ONLY the source rows appended since the last refresh
  * into the running totals, so refresh cost is O(delta) + O(view), never
  * O(source). At 100 TB the source is the big thing — a nightly refresh
  * reads one day's appends, not the table.
  *
  * The view is itself a snapshot table, and its exactly-once watermark is
  * the `src_version` entry in the view commit's metadata: the folded
  * version and the marker publish in ONE atomic manifest rename
  * ([[Snapshots.commit]] meta), so a crash between "computed" and
  * "recorded" cannot double-fold a delta — on restart the view's own
  * latest metadata says exactly what was already applied. A REPLACE (or
  * merge/delete rewrite) on the source makes the incremental delta
  * undefined; [[refresh]] then refuses loudly (`readChanges`' contract)
  * and [[rebuild]] resyncs from a full scan.
  */
object Mview {
  private val SrcKey = "src_version"

  /** Source version already folded into the view (None for a fresh view). */
  def appliedSrcVersion(spark: SparkSession, viewDir: String): Option[Int] =
    Snapshots.currentVersion(spark, viewDir).map { v =>
      val m = Snapshots.commitMeta(spark, viewDir, v)
      m.getOrElse(SrcKey, throw new IllegalStateException(
        s"$viewDir: view commit v$v carries no $SrcKey marker — " +
          "not a Mview-maintained table")).toInt
    }

  /** Extrema columns a view ALREADY maintains, adopted when the caller
    * omits them — a config-drifted refresh must never silently erase
    * maintained extrema state (replace commits skip schema enforcement,
    * so the drop would be invisible). A column only counts with BOTH its
    * min_ and max_ siblings present and when it is not itself a group
    * key (a key literally named "min_x" must not fabricate one). */
  private def adoptedMinMax(old: DataFrame, keys: Seq[String],
      requested: Seq[String]): Seq[String] = {
    val cols = old.columns.toSet
    val own = old.columns.filter(c => c.startsWith("min_") &&
        !keys.contains(c) && cols.contains("max_" + c.stripPrefix("min_")))
      .map(_.stripPrefix("min_")).toSeq
    requested ++ own.filterNot(requested.contains)
  }

  private def aggregated(src: DataFrame, keys: Seq[String],
      sumCols: Seq[String], minMaxCols: Seq[String]): DataFrame =
    src.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        // cntv_<c> = the NON-NULL count, also add-decomposable: it is what
        // makes avg(c) (= sum_c / cntv_c) and count(c) derivable by the
        // query-rewrite rule even on nullable columns
        sumCols.flatMap(c => Seq(sum(col(c)).as(s"sum_$c"),
            count(col(c)).as(s"cntv_$c"))) ++
          minMaxCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
            max(col(c)).as(s"max_$c"))): _*)

  /** Fold source commits `(applied, head]` into the view; returns the new
    * view version (or the current one when the source hasn't moved). The
    * first refresh of an empty view is the initial full build.
    */
  def refresh(spark: SparkSession, srcDir: String, viewDir: String,
      keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty): Int = {
    val head = Snapshots.headVersion(spark, srcDir)
    appliedSrcVersion(spark, viewDir) match {
      case Some(applied) if applied == head =>
        Snapshots.currentVersion(spark, viewDir).get // nothing new: no-op
      case Some(applied) =>
        require(applied < head,
          s"$srcDir went backwards (v$head < applied v$applied) — expired? rebuild")
        val old = Snapshots.read(spark, viewDir)
        val effMinMax = adoptedMinMax(old, keys, minMaxCols)
        val delta = aggregated(
          Snapshots.readChanges(spark, srcDir, applied, head),
          keys, sumCols, effMinMax)
        // a requested extremum the view was never built with cannot be
        // folded (the l_min_/l_max_ side does not exist) — same actionable
        // refusal as refreshViaFeed instead of an opaque unresolved-column
        // AnalysisException from the merged select
        require(effMinMax.forall(c => old.columns.contains(s"min_$c")),
          s"$viewDir was not built with extrema for ${effMinMax.mkString(", ")}" +
            " — run Mview.rebuild once with minMaxCols, then refresh resumes")
        val addCols = "cnt" +: sumCols.flatMap(c => Seq(s"sum_$c", s"cntv_$c"))
        // a view materialized before the cntv_* columns cannot be folded
        // incrementally (non-null history is not recoverable from deltas) —
        // refuse with the migration path instead of crashing mid-merge
        require(addCols.forall(old.columns.contains),
          s"$viewDir predates the cntv_* non-null-count columns — run " +
            "Mview.rebuild once to migrate, then refresh resumes incrementally")
        // full-outer merge of two aggregate-sized tables: totals ADD,
        // extrema fold via least/greatest (valid because appends only ever
        // grow a group — a delete would need recompute, and deletes refuse
        // upstream via readChanges), groups new to either side contribute
        // their own rows
        val merged = old.select(old.columns.map(c => col(c).as(s"l_$c")).toSeq: _*)
          .join(delta.select(delta.columns.map(c => col(c).as(s"r_$c")).toSeq: _*),
            // null-safe: a NULL group key is one group, not a fresh row
            // per refresh (=== would never match the two NULL sides)
            keys.map(k => col(s"l_$k") <=> col(s"r_$k")).reduce(_ && _), "full_outer")
          .select(
            keys.map(k => coalesce(col(s"l_$k"), col(s"r_$k")).as(k)) ++
              addCols.map(c =>
                (coalesce(col(s"l_$c"), lit(0)) + coalesce(col(s"r_$c"), lit(0)))
                  .cast(old.schema(c).dataType).as(c)) ++
              effMinMax.flatMap { c =>
                Seq(least(col(s"l_min_$c"), col(s"r_min_$c"))
                    .as(s"min_$c"), // least/greatest skip NULLs (absent side)
                  greatest(col(s"l_max_$c"), col(s"r_max_$c")).as(s"max_$c"))
              }: _*)
        Snapshots.commit(spark, viewDir, merged, replace = true,
          expectedVersion = Snapshots.currentVersion(spark, viewDir),
          meta = Map(SrcKey -> head.toString))
      case None =>
        Snapshots.commit(spark, viewDir,
          aggregated(Snapshots.read(spark, srcDir, Some(head)),
            keys, sumCols, minMaxCols),
          meta = Map(SrcKey -> head.toString))
    }
  }

  /** Fold the row-level CHANGE FEED `(applied, head]` into the view — the
    * merge/delete-surviving refresh ([[refresh]] refuses on both): every
    * change row carries a signed weight (insert/update_post +1,
    * update_pre/delete −1), so counts, sums, and non-null counts stay
    * exactly maintained through upserts and deletes, and a group whose
    * count reaches zero leaves the view (the base GROUP BY would not emit
    * it).
    *
    * Extrema (`minMaxCols`) are NOT delta-subtractable — a deleted minimum
    * needs a per-group recompute — so they maintain in two tiers: groups
    * whose delta is pure inserts fold via least/greatest exactly like
    * [[refresh]]; groups the feed DELETED FROM (update_pre/delete rows)
    * get a TARGETED recompute — one source scan semi-joined to just those
    * group keys (broadcast: the negative-group set is delta-sized). The
    * common steady state (upsert-mostly feeds) stays O(changed rows) +
    * O(view); only deletes touching extrema-maintained groups pay the
    * pruned source pass, and only for the affected groups' rows. Replace
    * commits still refuse loudly (the feed's contract).
    */
  def refreshViaFeed(spark: SparkSession, srcDir: String, viewDir: String,
      keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty): Int = {
    val head = Snapshots.headVersion(spark, srcDir)
    appliedSrcVersion(spark, viewDir) match {
      case Some(applied) if applied == head =>
        Snapshots.currentVersion(spark, viewDir).get
      case Some(applied) =>
        require(applied < head,
          s"$srcDir went backwards (v$head < applied v$applied) — expired? rebuild")
        val feed = Snapshots.readChangeFeed(spark, srcDir, applied, head)
        val old = Snapshots.read(spark, viewDir)
        val effMinMax = adoptedMinMax(old, keys, minMaxCols)
        val w = when(col("_change_type").isin("insert", "update_post"), 1L)
          .otherwise(lit(-1L))
        val aggExprs = (sum(w).as("cnt") +: sumCols.flatMap(c => Seq(
          sum(col(c) * w).as(s"sum_$c"),
          sum(when(col(c).isNotNull, w).otherwise(lit(0L))).as(s"cntv_$c")))) ++
          effMinMax.flatMap(c => Seq(
            min(when(w > 0, col(c))).as(s"dmin_$c"),
            max(when(w > 0, col(c))).as(s"dmax_$c"))) ++
          (if (effMinMax.isEmpty) Seq.empty
           else Seq(max(when(w < 0, 1L).otherwise(0L)).as("has_neg")))
        val delta = feed.groupBy(keys.map(col): _*)
          .agg(aggExprs.head, aggExprs.tail: _*)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val addCols = "cnt" +: sumCols.flatMap(c => Seq(s"sum_$c", s"cntv_$c"))
          require(effMinMax.forall(c => old.columns.contains(s"min_$c")),
            s"$viewDir was not built with extrema for ${effMinMax.mkString(", ")}" +
              " — run Mview.rebuild once with minMaxCols, then refresh resumes")
          val joined = old
            .select(old.columns.map(c => col(c).as(s"l_$c")).toSeq: _*)
            .join(delta.select(delta.columns.map(c => col(c).as(s"r_$c")).toSeq: _*),
              keys.map(k => col(s"l_$k") <=> col(s"r_$k")).reduce(_ && _),
              "full_outer")
          val baseCols =
            keys.map(k => coalesce(col(s"l_$k"), col(s"r_$k")).as(k)) ++
              addCols.map(c =>
                (coalesce(col(s"l_$c"), lit(0)) + coalesce(col(s"r_$c"), lit(0)))
                  .cast(old.schema(c).dataType).as(c))
          val merged =
            if (effMinMax.isEmpty) joined.select(baseCols: _*)
              .filter(col("cnt") > 0) // a fully-deleted group leaves the view
            else {
              // insert-only groups fold; feed-deleted groups mark for recompute
              val pre = joined.select(baseCols ++
                  Seq((coalesce(col("r_has_neg"), lit(0L)) === 1L).as("need_rec")) ++
                  effMinMax.flatMap(c => Seq(
                    least(col(s"l_min_$c"), col(s"r_dmin_$c")).as(s"fmin_$c"),
                    greatest(col(s"l_max_$c"), col(s"r_dmax_$c")).as(s"fmax_$c"))): _*)
                .filter(col("cnt") > 0)
              val negKeys = delta.filter(col("has_neg") === 1L)
                .select(keys.map(col): _*).distinct()
              val outCols = keys.map(col) ++ addCols.map(col)
              if (negKeys.isEmpty)
                pre.select(outCols ++ effMinMax.flatMap(c => Seq(
                  col(s"fmin_$c").as(s"min_$c"),
                  col(s"fmax_$c").as(s"max_$c"))): _*)
              else {
                val nk = negKeys.select(keys.map(k => col(k).as(s"k_$k")): _*)
                val mmAgg = effMinMax.flatMap(c =>
                  Seq(min(col(c)).as(s"rmin_$c"), max(col(c)).as(s"rmax_$c")))
                val rec = Snapshots.read(spark, srcDir, Some(head))
                  .join(broadcast(nk),
                    keys.map(k => col(k) <=> col(s"k_$k")).reduce(_ && _),
                    "left_semi")
                  .groupBy(keys.map(col): _*)
                  .agg(mmAgg.head, mmAgg.tail: _*)
                val recR = rec.select(keys.map(k => col(k).as(s"rk_$k")) ++
                  effMinMax.flatMap(c =>
                    Seq(col(s"rmin_$c"), col(s"rmax_$c"))): _*)
                pre.join(broadcast(recR),
                    keys.map(k => col(k) <=> col(s"rk_$k")).reduce(_ && _), "left")
                  .select(outCols ++ effMinMax.flatMap(c => Seq(
                    when(col("need_rec"), col(s"rmin_$c"))
                      .otherwise(col(s"fmin_$c")).as(s"min_$c"),
                    when(col("need_rec"), col(s"rmax_$c"))
                      .otherwise(col(s"fmax_$c")).as(s"max_$c"))): _*)
              }
            }
          Snapshots.commit(spark, viewDir, merged, replace = true,
            expectedVersion = Snapshots.currentVersion(spark, viewDir),
            meta = Map(SrcKey -> head.toString))
        } finally { delta.unpersist(); () }
      case None =>
        Snapshots.commit(spark, viewDir,
          aggregated(Snapshots.read(spark, srcDir, Some(head)),
            keys, sumCols, minMaxCols),
          meta = Map(SrcKey -> head.toString))
    }
  }

  /** CONTINUOUS materialized view: tail the source's row-level CHANGE FEED
    * as a stream and fold every arrival through [[refreshViaFeed]] — the
    * live composition of the CDF streaming source and the feed-driven
    * refresh. Each trigger costs O(changed rows) + O(view); upserts and
    * deletes fold through the signed weights; maintenance commits
    * (compaction, Z-order) are feed-invisible and fold as zero-row deltas.
    *
    * Exactly-once across restarts needs NO extra bookkeeping: the engine's
    * checkpoint replays at most the last batch, and [[refreshViaFeed]]'s
    * `src_version` commit-meta watermark (published atomically with each
    * view version) makes any replay — or a fold that already covered the
    * replayed range — a no-op. The CDF source additionally registers a
    * retention pin, so a concurrent `expire` can never strand the tail.
    * One serving stream per view (the watermark is per-table state).
    */
  def serveViaFeed(spark: SparkSession, srcDir: String, viewDir: String,
      keys: Seq[String], sumCols: Seq[String],
      checkpoint: String,
      minMaxCols: Seq[String] = Seq.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("snapshots")
      .option("path", srcDir)
      .option("readChangeFeed", "true")
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        // the delivered batch is the wake-up signal; the fold re-derives
        // (applied, head] from the manifests so it is idempotent under
        // engine replays AND under having already folded ahead of the
        // checkpointed offsets
        refreshViaFeed(spark, srcDir, viewDir, keys, sumCols, minMaxCols)
        ()
      }
      .start()

  /** Full recompute at the source head — the resync after a source
    * replace/merge/delete rewrote history and [[refresh]] refused.
    */
  def rebuild(spark: SparkSession, srcDir: String, viewDir: String,
      keys: Seq[String], sumCols: Seq[String],
      minMaxCols: Seq[String] = Seq.empty): Int = {
    val head = Snapshots.headVersion(spark, srcDir)
    Snapshots.commit(spark, viewDir,
      aggregated(Snapshots.read(spark, srcDir, Some(head)), keys, sumCols,
        minMaxCols),
      replace = true, meta = Map(SrcKey -> head.toString))
  }
}
