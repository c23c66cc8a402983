package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{GraftFunctions, VectorFunctions}
import graft.functions.VectorFunctions.dotNative
import graft.operators.Checkpoints.CapOps

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *   - `bruteForceTopK` — exact cosine top-k. The query side is expected to
  *     be small (a probe set); it is explicitly `broadcast()`, so the plan
  *     is a broadcast-nested-loop over the corpus: one corpus scan, no
  *     shuffle, embarrassingly parallel. This is the exactness baseline
  *     and the oracle anchor.
  *   - `annTopK` — random-hyperplane LSH: corpus and queries hash into
  *     sign-pattern buckets across several independent tables; only
  *     same-bucket pairs are scored. Equi-join on (table, bucket) — the
  *     scale path: cost ∝ collisions, not |corpus|×|queries|.
  *
  * Scale/codegen shape:
  *   - the bucket join carries only ids (3 longs/row) — vectors are
  *     re-attached to the candidate set afterwards by id, so LSH-table
  *     duplication never multiplies vector payloads through a shuffle;
  *   - vectors are never re-materialized normalized: each side carries its
  *     raw array + scalar L2 norm, and cosine = dot/(nₐ·n_b) — one native
  *     codegen'd dot (`graft_dot`) per pair;
  *   - hyperplane bucketing is tables×planes `graft_dot` calls against
  *     literal weight arrays — each one expression node compiling to a
  *     primitive loop, so the projection stays small and fused. Bucketing
  *     uses the RAW vector: sign(w·v) is scale-invariant.
  */
object Similarity {

  /** `(__id, __vec, __norm)` projection: raw vector + scalar L2 norm. */
  private[graft] def normedBase(
      df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("__id"), col(vecCol).as("__vec"),
      sqrt(dotNative(col(vecCol), col(vecCol))).as("__norm"))
  }

  /** cosine(a, b) from raw vectors + precomputed norms; 0 if either norm
    * is 0. */
  private def cosineCol(
      aVec: Column, aNorm: Column, bVec: Column, bNorm: Column): Column =
    when(aNorm * bNorm === 0.0d, lit(0.0d))
      .otherwise(dotNative(aVec, bVec) / (aNorm * bNorm))

  /** Exact top-k neighbors by cosine for each query row.
    * Output: (query_id, neighbor_id, cosine, rank), rank 1..k,
    * deterministic tie-break on neighbor id. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      includeSelf: Boolean = false): DataFrame = {
    val c = normedBase(corpus, vecCol, idCol)
      .withColumnsRenamed(Map("__id" -> "neighbor_id", "__vec" -> "__cv", "__norm" -> "__cn"))
    val q = normedBase(queries, vecCol, idCol)
      .withColumnsRenamed(Map("__id" -> "query_id", "__vec" -> "__qv", "__norm" -> "__qn"))
    val pairs = c.crossJoin(broadcast(q))
    val scored = (if (includeSelf) pairs
                  else pairs.filter(col("neighbor_id") =!= col("query_id")))
      .withColumn("cosine",
        cosineCol(col("__cv"), col("__cn"), col("__qv"), col("__qn")))
    topK(scored, k)
  }

  /** ANN top-k via random-hyperplane LSH. Same output shape as brute force;
    * recall < 1 by construction (tunable via tables/planes). */
  def annTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      tables: Int = 8,
      planesPerTable: Int = 10,
      seed: Long = 42L): DataFrame = {
    val dim = VectorFunctions.dimOf(corpus, vecCol)
    val cBuckets = hyperplaneBuckets(corpus, vecCol, idCol, tables, planesPerTable, seed, dim)
      .withColumnRenamed("__id", "neighbor_id")
    val qBuckets = hyperplaneBuckets(queries, vecCol, idCol, tables, planesPerTable, seed, dim)
      .withColumnRenamed("__id", "query_id")
    val candidates = cBuckets.join(qBuckets, Seq("__table", "__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    val cb = normedBase(corpus, vecCol, idCol)
      .withColumnsRenamed(Map("__id" -> "neighbor_id", "__vec" -> "__cv", "__norm" -> "__cn"))
    val qb = normedBase(queries, vecCol, idCol)
      .withColumnsRenamed(Map("__id" -> "query_id", "__vec" -> "__qv", "__norm" -> "__qn"))
    val scored = candidates.join(cb, "neighbor_id").join(qb, "query_id")
      .withColumn("cosine",
        cosineCol(col("__cv"), col("__cn"), col("__qv"), col("__qn")))
    topK(scored, k)
  }

  /** Semantic (nearest-neighbor) LEFT join: every row of `left` keeps
    * its columns and gains `match_id`/`match_cosine` — the id of the
    * single most-similar `right` row by embedding cosine (tie-break:
    * higher cosine, then lower id) when that best match clears
    * `minCosine`; NULLs otherwise. A LEFT join because the curation uses
    * ("attach the nearest reference doc / cluster exemplar / labeled
    * example") must not silently drop unmatched rows.
    *
    * `exact = true` scores all |left|·|right| pairs with the left side
    * broadcast — the verifiable contract, right-sized when the probe
    * side fits a broadcast. `exact = false` goes through the
    * hyperplane-LSH candidate stage (bucket equi-join, no cross
    * product) — the 100 TB path; gate its recall against the exact
    * contract the way `ann_recall` does. */
  def semanticJoin(
      left: DataFrame,
      right: DataFrame,
      vecCol: String,
      idCol: String,
      minCosine: Double,
      exact: Boolean = true,
      tables: Int = 16,
      planesPerTable: Int = 6): DataFrame = {
    val top =
      (if (exact) bruteForceTopK(right, left, vecCol, idCol, k = 1)
       else annTopK(right, left, vecCol, idCol, k = 1, tables, planesPerTable))
        .where(col("cosine") >= minCosine)
        .select(col("query_id").as(idCol), col("neighbor_id").as("match_id"),
          col("cosine").as("match_cosine"))
    left.join(top, Seq(idCol), "left")
  }

  /** The PERSISTED-INDEX flavor of [[semanticJoin]]: best-match
    * attachment against a corpus already indexed by
    * [[IvfIndex.writeIndex]]. For REPEATED joins against the same
    * reference corpus this is the 100 TB shape: the k-means train and
    * per-row cell assignment were paid once at build time, each probe
    * batch reads only its nprobe cells via partition pruning, and the
    * index survives sessions (plus daily [[IvfIndex.appendToIndex]]
    * feeds) — where the hyperplane-LSH flavor re-buckets the full corpus
    * on every call. Same output contract as [[semanticJoin]]; recall < 1
    * by construction — gate it against the exact contract like
    * `semantic_join_ann`/`semantic_join_ivf` do. */
  def semanticJoinIvf(
      spark: org.apache.spark.sql.SparkSession,
      left: DataFrame,
      indexDir: String,
      vecCol: String,
      idCol: String,
      minCosine: Double,
      nprobe: Int = 4): DataFrame = {
    val top = IvfIndex.loadTopK(spark, indexDir, left, vecCol, idCol, k = 1, nprobe)
      .where(col("cosine") >= minCosine)
      .select(col("query_id").as(idCol), col("neighbor_id").as("match_id"),
        col("cosine").as("match_cosine"))
    left.join(top, Seq(idCol), "left")
  }

  /** Shared LSH stage: bucket = integer of hyperplane sign bits, one
    * (table, bucket) row per LSH table. Hyperplane weights are seeded
    * pseudo-random literals — identical across invocations, so corpus and
    * query bucketing always agree. Output: (__id, __table, __bucket). */
  private[operators] def hyperplaneBuckets(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      tables: Int,
      planesPerTable: Int,
      seed: Long,
      dimHint: Int = -1): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val rnd = new scala.util.Random(seed)
    // dimHint avoids a second first() driver action when the caller
    // already sampled the dimension from the same column
    val dim = if (dimHint > 0) dimHint else VectorFunctions.dimOf(df, vecCol)
    // planes(t)(p) = dim gaussian-ish weights
    val planes: Seq[Seq[Seq[Double]]] =
      Seq.fill(tables)(Seq.fill(planesPerTable)(Seq.fill(dim)(rnd.nextGaussian())))

    def bucketFor(t: Int): Column =
      (0 until planesPerTable).map { p =>
        when(dotNative(col(vecCol), typedLit(planes(t)(p))) >= 0.0d, lit(1L << p))
          .otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)

    df.select(
      col(idCol).as("__id"),
      posexplode(array((0 until tables).map(bucketFor): _*)))
      .withColumnsRenamed(Map("pos" -> "__table", "col" -> "__bucket"))
  }

  /** Embedding cosine near-dup pairs via the same hyperplane blocking:
    * docs sharing a full bucket in ANY table become candidates; verified
    * with exact cosine ≥ threshold. Returns (id_a, id_b, cosine). The
    * narrow bucket table is persisted so the self-join and downstream
    * consumers don't recompute the corpus scan per branch. */
  private[operators] def cosinePairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      tables: Int,
      planesPerTable: Int,
      seed: Long): DataFrame = {
    val buckets = hyperplaneBuckets(df, vecCol, idCol, tables, planesPerTable, seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = normedBase(df, vecCol, idCol)
    // same boilerplate-bucket skew guard as the text LSH pipelines
    val capped = Dedup.capBuckets(buckets, Seq("__table", "__bucket"), Dedup.DefaultMaxBucket)
    val l = capped.withColumnRenamed("__id", "id_a")
    val r = capped.withColumnRenamed("__id", "id_b")
    val result = l.join(r, Seq("__table", "__bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .join(base.withColumnsRenamed(
        Map("__id" -> "id_a", "__vec" -> "__va", "__norm" -> "__na")), "id_a")
      .join(base.withColumnsRenamed(
        Map("__id" -> "id_b", "__vec" -> "__vb", "__norm" -> "__nb")), "id_b")
      .withColumn("cosine",
        cosineCol(col("__va"), col("__na"), col("__vb"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count() // materialize, then release the bucket cache
    buckets.unpersist()
    result
  }

  /** Cell-blocked cosine pairs for the MID-similarity regime (threshold
    * ~0.3-0.8) where hyperplane LSH is structurally blind: per-plane
    * agreement for a cos-0.45 pair is 0.648 vs 0.5 for random pairs, so
    * any plane count selective enough to reject the random mass also
    * rejects most true pairs (measured 6 of 144 true ≥0.45 pairs found
    * at sf0.1 by 8×12 hyperplane tables — recall 4%).
    *
    * Blocking instead follows the data's cluster structure: k-means
    * cells (the IVF index), each vector assigned to its `probeCells`
    * nearest cells; pairs sharing ANY cell are candidates, verified with
    * exact cosine.
    *
    * RECALL, measured honestly (round 9): at fixture sizes the small-n
    * fast path below is EXACT, which previously masked the clustering
    * path's real recall. Forcing the clustering path (maxBucket below n)
    * at threshold 0.45 measures: probeCells=2 → 0.49-0.63, 3 → 0.70-0.79,
    * 4 → 0.84-0.93, 5 → 0.90-1.0 across the three SF corpora (recall
    * rises with probe count and falls with cell fineness; mid-threshold
    * pairs straddle cell boundaries). The DEFAULT is therefore
    * probeCells = 4 — candidates cost ∝ probeCells², the price of not
    * silently losing a sixth of the true pairs — and the
    * `cell_recall_clustered` driver query pins the forced-path recall
    * floor so a regression (or an improvement) is visible. High-threshold
    * (≥0.8) near-dup work sits inside cluster cores and tolerates lower
    * probe counts. Cost:
    * candidates ∝ Σ cell² · probeCells² — bounded by cluster sizes, not
    * n², with a HARD per-cell bound: `nlist = 0` (the default) auto-sizes
    * the clustering from the corpus count, and any cell still over
    * `maxBucket` is recursively re-clustered by `IvfIndex.boundedCells`
    * rather than silently dropped — at 10⁸+ vectors the old fixed
    * nlist=16 + drop-over-cap default returned an empty pair set.
    * Deterministic for a fixed seed.
    *
    * Corpora at or below `min(maxBucket, SmallNAllPairs)` rows skip the
    * train/recursion machinery entirely and verify ALL pairs directly —
    * exact by construction, and cheaper than clustering at that size
    * (≤ ~8M broadcast-nested-loop cosines vs several k-means jobs). The
    * scale path is untouched. */
  def cellBlockedCosinePairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      nlist: Int = 0,
      probeCells: Int = 4,
      iters: Int = 2,
      seed: Long = 42L,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    cellPairsWithDroppedLosers(df, vecCol, idCol, threshold, nlist,
      probeCells, iters, seed, maxBucket)._1

  /** [[cellBlockedCosinePairs]] plus the LINEAR fallback for cells the
    * bounded blocking had to drop (a coherent over-cap cluster at the
    * threshold — unenumerable as pairs by definition): members of each
    * dropped cell are compared against that cell's min-id REPRESENTATIVE
    * only — one cosine per member, the SemDeDup centroid-proxy move —
    * and those within threshold of the representative come back as
    * `__id` "losers" (the representative itself never does). Dedup
    * callers union these with the pair-derived losers, so giant
    * boilerplate clusters still dedup at 10⁸ scale instead of silently
    * surviving. Pair-surface callers ignore the second frame. Returns
    * (pairs, droppedLosers); pairs is persisted (caller may unpersist),
    * droppedLosers is small and lazy. */
  private[graft] def cellPairsWithDroppedLosers(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      nlist: Int = 0,
      probeCells: Int = 4,
      iters: Int = 2,
      seed: Long = 42L,
      maxBucket: Int = Dedup.DefaultMaxBucket): (DataFrame, DataFrame) = {
    GraftFunctions.register(df.sparkSession)
    val base = normedBase(df, vecCol, idCol).persist(StorageLevel.MEMORY_AND_DISK)
    val n = base.count()
    var droppedLosers = base.select("__id").limit(0)
    val result =
      if (n <= math.min(maxBucket, SmallNAllPairs)) {
        // Small-n fast path. The candidate bound is the same as one full
        // blocked cell (blocking cannot reduce a single cell below
        // all-pairs), so this is never asymptotically worse — and it is
        // exact, preserving the oracle contract. The broadcast + `<`
        // predicate is an intentional bounded nested-loop, mirroring
        // bruteForceTopK.
        val l = base.withColumnsRenamed(
          Map("__id" -> "id_a", "__vec" -> "__va", "__norm" -> "__na"))
        val r = base.withColumnsRenamed(
          Map("__id" -> "id_b", "__vec" -> "__vb", "__norm" -> "__nb"))
        l.join(broadcast(r), col("id_a") < col("id_b"))
          .withColumn("cosine",
            cosineCol(col("__va"), col("__na"), col("__vb"), col("__nb")))
          .filter(col("cosine") >= threshold)
          .select("id_a", "id_b", "cosine")
          .persist(StorageLevel.MEMORY_AND_DISK)
      } else {
        val nl = if (nlist > 0) nlist else IvfIndex.autoNlist(n)
        val (cells, dropped) = IvfIndex.boundedCellsWithDropped(base, nl, probeCells,
          iters, seed, maxBucket, n, mergeThreshold = threshold)
        // Linear representative pass over dropped cells: O(members)
        // cosines, never O(members²).
        val reps = dropped.groupBy("__cell").agg(min(col("__id")).as("__rep"))
        droppedLosers = dropped.join(reps, "__cell")
          .filter(col("__id") =!= col("__rep"))
          .join(base, "__id")
          .join(base.withColumnsRenamed(
            Map("__id" -> "__rep", "__vec" -> "__rv", "__norm" -> "__rn")), "__rep")
          .filter(cosineCol(col("__vec"), col("__norm"), col("__rv"), col("__rn"))
            >= threshold)
          .select("__id").distinct()
          .capLineage() // materialize before dropped/base unpersist
        dropped.unpersist()
        val l = cells.withColumnRenamed("__id", "id_a")
        val r = cells.withColumnRenamed("__id", "id_b")
        val out = l.join(r, Seq("__cell"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
          .dropDuplicates("id_a", "id_b")
          .join(base.withColumnsRenamed(
            Map("__id" -> "id_a", "__vec" -> "__va", "__norm" -> "__na")), "id_a")
          .join(base.withColumnsRenamed(
            Map("__id" -> "id_b", "__vec" -> "__vb", "__norm" -> "__nb")), "id_b")
          .withColumn("cosine",
            cosineCol(col("__va"), col("__na"), col("__vb"), col("__nb")))
          .filter(col("cosine") >= threshold)
          .select("id_a", "id_b", "cosine")
          .persist(StorageLevel.MEMORY_AND_DISK)
        out.count() // materialize before releasing the cell cache
        cells.unpersist()
        out
      }
    result.count() // materialize, then release the base cache
    base.unpersist()
    (result, droppedLosers)
  }

  /** Small-n cutoff for the all-pairs fast path in
    * [[cellBlockedCosinePairs]]: 4096² / 2 ≈ 8M candidate cosines is
    * cheaper than the clustering machinery's fixed job count, while a
    * corpus near the 10k bucket cap with wide vectors is not. */
  private[graft] val SmallNAllPairs = 4096L

  /** Window top-k with deterministic ordering (cosine desc, id asc):
    * (query_id, neighbor_id, cosine, rank), rank 1..k. */
  private[operators] def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}
