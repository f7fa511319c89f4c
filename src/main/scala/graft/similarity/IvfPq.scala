package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{array_lit, dot_product}

/** IVF×PQ composed index — the cell-pruned ADC scan of Jégou/Douze/Schmid's
  * IVFADC design (TPAMI 2011 §V), composing the two halves that already
  * exist here: `Ivf`'s coarse k-means quantizer prunes the corpus to the
  * `nprobe` cells nearest the query, and `Pq`'s ADC lookup-table scan scores
  * only the compressed codes inside those cells, with the usual exact
  * re-rank on the survivors.
  *
  * Scale shape at 100 TB: the plain PQ scan is compressed-LINEAR (every
  * code row is touched); the composed scan touches ~nprobe/k of the codes.
  * The index is clustered by cell id before persisting, so the probe-time
  * `cid` filter skips whole cached columnar batches via their min/max stats
  * (Spark's in-memory batch pruning) — the local[] analogue of laying the
  * codes out partitioned-by-cell on disk, where the same filter becomes
  * partition pruning and the probed cells are the only files read.
  *
  * Approximate by construction → `q_cosine_ivfpq` is a no-oracle row;
  * SimilaritySpec locks recall@20 ≥ 0.9 vs the exact brute force at
  * nprobe=4 of 16 cells, and ScaleSpec locks that the candidate-scan row
  * count SHRINKS as nprobe drops (the cell pruning is real, not cosmetic).
  */
object IvfPq {

  /** The composed index: (vec_id, cid, codes, norm) — the PQ-encoded table
    * carrying each row's coarse IVF cell, built in ONE shuffle-free codegen
    * projection over the raw vectors (assignment and encode share the scan).
    */
  def encode(emb: DataFrame, cents: Seq[Array[Double]], cb: Pq.Codebooks): DataFrame = {
    val codes = array(cb.cents.indices.map { s =>
      val sv = expr(
        s"transform(slice(embedding, ${s * cb.dsub + 1}, ${cb.dsub}), x -> CAST(x AS DOUBLE))")
      Pq.nearestCode(sv, cb.cents(s))
    }: _*)
    emb.select(col("vec_id"),
      Ivf.nearestCentroid(col("embedding"), cents).as("cid"),
      codes.as("codes"),
      sqrt(dot_product(col("embedding"), col("embedding"))).as("norm"))
  }

  /** Ingest-time index build, memoized per (dataset, geometry) per JVM like
    * the IVF centroids and PQ codebooks. The repartition-by-cell before
    * persist is what makes the probe filter prune batches instead of
    * scanning them (see class doc).
    */
  /** Identity hash over the actual centroid/codebook VALUES — cache keys
    * must change when training inputs (e.g. iteration counts) change, or a
    * stale encoded table would be silently scored with fresh codebooks.
    */
  private[similarity] def geomKey(cents: Seq[Array[Double]], cb: Pq.Codebooks): Int =
    java.util.Arrays.deepHashCode(
      (cents ++ cb.cents.flatten).map(_.asInstanceOf[AnyRef]).toArray)

  def encodeCached(emb: DataFrame, key: String, cents: Seq[Array[Double]],
      cb: Pq.Codebooks): DataFrame =
    graft.PersistedCache(emb.sparkSession,
      ("ivfpq-encoded", key, cents.length, cb.m, cb.ksub, geomKey(cents, cb)))(
      encode(emb, cents, cb).repartition(col("cid")))

  /** Incremental composed-index maintenance (see [[Pq.appendShard]]): the
    * new shard pays ONE projection (cell assign + encode share the scan);
    * existing codes and the coarse centroids stay frozen.
    *
    * The appended codes land in shard-shaped partitions that MIX cells, so
    * while results stay exact (the cid filter still selects the right rows),
    * the probe filter's batch/partition pruning degrades as shards
    * accumulate — run [[compactIndex]] periodically to re-cluster.
    */
  def appendShard(index: DataFrame, shard: DataFrame,
      cents: Seq[Array[Double]], cb: Pq.Codebooks): DataFrame =
    index.unionByName(encode(shard, cents, cb))

  /** [[appendShard]] for the residual-encoded index: same frozen-codebook
    * shard-only cost, same accumulating mixed-cell partitions (and the same
    * [[compactIndex]] cure — it re-clusters by `cid` and never decodes, so
    * it is encoding-agnostic).
    */
  def appendShardResidual(index: DataFrame, shard: DataFrame,
      cents: Seq[Array[Double]], cbr: Pq.Codebooks): DataFrame =
    index.unionByName(encodeResidual(shard, cents, cbr))

  /** Storage maintenance for the composed index — the ANN twin of
    * [[graft.operators.Scale.compactParquet]]: one shuffle re-clusters the
    * accumulated shard appends by cell so the probe-time `cid` filter goes
    * back to pruning whole batches (on disk: whole partition dirs) instead
    * of scanning every shard's mixed-cell partitions. Search results are
    * byte-identical pre/post — only the physical clustering changes.
    * Cost: one pass over the CODES (12 B/vector), never the raw corpus.
    */
  def compactIndex(index: DataFrame): DataFrame =
    index.repartition(col("cid"))

  /** How many underlying partitions hold rows of the probed cells — the
    * batch/file count the probe filter CANNOT prune (ScaleSpec locks that
    * compaction shrinks this back to ≤ nprobe after shard appends inflate
    * it). Driver-side partition presence flags only, never row data.
    */
  def partitionsTouched(emb: DataFrame, cents: Seq[Array[Double]],
      queryId: Long, nprobe: Int, index: DataFrame): Long = {
    val probes = Ivf.probeCells(cents, Pq.queryVec(emb, queryId), nprobe).toSet
    index.select("cid").rdd
      .mapPartitions(it => Iterator.single(
        if (it.exists(r => probes.contains(r.getInt(0)))) 1L else 0L))
      .sum().toLong
  }

  /** Cell-pruned ADC search: probe the `nprobe` cells nearest the query,
    * ADC-score only their codes, exact-rerank the top `rerank` survivors.
    */
  def topK(emb: DataFrame, cents: Seq[Array[Double]], cb: Pq.Codebooks,
      queryId: Long, k: Int, nprobe: Int, rerank: Int,
      encoded: Option[DataFrame] = None): DataFrame = {
    val q = Pq.queryVec(emb, queryId)
    val probes = Ivf.probeCells(cents, q, nprobe)
    val cands = encoded.getOrElse(encode(emb, cents, cb))
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), Pq.adcSim(q, cb).as("adc_sim"))
      .orderBy(col("adc_sim").desc, col("vec_id"))
      .limit(rerank)
    Pq.rerankExact(emb, cands, q, k)
  }

  // ---- residual encoding (IVFADC proper, Jégou et al. §V.A): PQ quantizes
  // r = x − c(cell) instead of x. Residuals have far smaller variance than
  // raw vectors (the coarse quantizer absorbed the between-cell spread), so
  // the same code budget loses much less signal. Search decomposes
  // q·x = q·c(cell) + q·r: the second term is the usual ADC lookup-table
  // sum over the residual codebooks (ONE table for all cells — the LUT
  // depends only on q), the first is a per-cell driver-side constant picked
  // by `element_at`. Still one codegen projection per row, no new shuffle.

  /** (vec_id, cid, residual) — residual kept float like the raw embeddings
    * so train and encode quantize identical values.
    */
  private def residualRows(emb: DataFrame, cents: Seq[Array[Double]]): DataFrame = {
    val centLit = array(cents.map(array_lit): _*)
    emb.select(col("vec_id"), col("embedding"),
        Ivf.nearestCentroid(col("embedding"), cents).as("cid"))
      .select(col("vec_id"), col("cid"), col("embedding"),
        zip_with(col("embedding"), element_at(centLit, col("cid") + 1),
          (x, c) => x.cast("double") - c).cast("array<float>").as("residual"))
  }

  /** Residual codebooks: plain PQ training, but over the residual table. */
  def trainResidual(emb: DataFrame, cents: Seq[Array[Double]],
      m: Int, ksub: Int, iters: Int): Pq.Codebooks =
    Pq.train(residualRows(emb, cents)
      .select(col("vec_id"), col("residual").as("embedding")), m, ksub, iters)

  private val residualCbCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Int, Int, Int), Pq.Codebooks]()
  /** Keyed on the centroid VALUES (same identity rule as [[geomKey]]):
    * residual codebooks are fit to x − c, so centroids retrained to
    * different values — even at the same k — must miss this cache, or
    * search would score residuals against codebooks fit to the old cells.
    */
  def trainResidualCached(emb: DataFrame, key: String, cents: Seq[Array[Double]],
      m: Int, ksub: Int, iters: Int): Pq.Codebooks = {
    val centsHash = java.util.Arrays.deepHashCode(
      cents.map(_.asInstanceOf[AnyRef]).toArray)
    residualCbCache.computeIfAbsent((key, cents.length, m, ksub, iters, centsHash),
      _ => trainResidual(emb, cents, m, ksub, iters))
  }

  /** The residual-encoded index: (vec_id, cid, codes-of-residual, norm-of-x).
    * Cell assignment, residual, and encode share ONE shuffle-free projection.
    */
  def encodeResidual(emb: DataFrame, cents: Seq[Array[Double]],
      cbr: Pq.Codebooks): DataFrame = {
    val rows = residualRows(emb, cents)
    val codes = array(cbr.cents.indices.map { s =>
      val sv = expr(
        s"transform(slice(residual, ${s * cbr.dsub + 1}, ${cbr.dsub}), x -> CAST(x AS DOUBLE))")
      Pq.nearestCode(sv, cbr.cents(s))
    }: _*)
    rows.select(col("vec_id"), col("cid"), codes.as("codes"),
      sqrt(dot_product(col("embedding"), col("embedding"))).as("norm"))
  }

  def encodeResidualCached(emb: DataFrame, key: String, cents: Seq[Array[Double]],
      cbr: Pq.Codebooks): DataFrame =
    graft.PersistedCache(emb.sparkSession,
      ("ivfpq-res-encoded", key, cents.length, cbr.m, cbr.ksub, geomKey(cents, cbr)))(
      encodeResidual(emb, cents, cbr).repartition(col("cid")))

  /** Cell-pruned residual-ADC search: q·x reassembles as the per-cell
    * constant q·c(cid) plus the residual lookup-table sum, divided by the
    * stored exact ‖x‖ — then the usual exact rerank.
    */
  def topKResidual(emb: DataFrame, cents: Seq[Array[Double]], cbr: Pq.Codebooks,
      queryId: Long, k: Int, nprobe: Int, rerank: Int,
      encoded: Option[DataFrame] = None): DataFrame = {
    val q = Pq.queryVec(emb, queryId)
    val probes = Ivf.probeCells(cents, q, nprobe)
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val qDotC: Array[Double] =
      cents.map(c => c.zip(q).map { case (a, b) => a * b }.sum).toArray
    val sim: Column = (element_at(array_lit(qDotC), col("cid") + 1) +
      Pq.adcDot(q, cbr)) / (col("norm") * lit(qNorm))
    val cands = encoded.getOrElse(encodeResidual(emb, cents, cbr))
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), sim.as("adc_sim"))
      .orderBy(col("adc_sim").desc, col("vec_id"))
      .limit(rerank)
    Pq.rerankExact(emb, cands, q, k)
  }

  /** Rows the ADC scan would touch for this (query, nprobe) — the quantity
    * ScaleSpec locks to shrink with nprobe.
    */
  def scannedCandidates(emb: DataFrame, cents: Seq[Array[Double]],
      cb: Pq.Codebooks, queryId: Long, nprobe: Int,
      encoded: Option[DataFrame] = None): Long = {
    val probes = Ivf.probeCells(cents, Pq.queryVec(emb, queryId), nprobe)
    encoded.getOrElse(encode(emb, cents, cb))
      .filter(col("cid").isin(probes: _*) && col("vec_id") =!= queryId)
      .count()
  }
}
