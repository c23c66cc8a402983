package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{GraftFunctions, VectorFunctions}
import graft.functions.VectorFunctions.dotNative
import graft.operators.Checkpoints.CapOps

/** IVF (inverted-file) approximate nearest neighbor: the second scale
  * path next to hyperplane LSH (`Similarity.annTopK`).
  *
  *   1. TRAIN: `iters` rounds of k-means on cosine similarity. Centroids
  *      live on the DRIVER (nlist × dim doubles — model metadata, not
  *      data; collecting them is legitimate and tiny). Assignment runs
  *      distributed: nlist `graft_dot` calls per row, argmax via greatest
  *      over (score, cell) structs. Centroid update is a cell×dimension
  *      hash-aggregate (posexplode + avg) — map-side partial, one shuffle
  *      of nlist×dim rows.
  *   2. INDEX: each corpus vector is assigned to its nearest centroid
  *      cell — an equi-joinable integer.
  *   3. PROBE: each query explodes to its `nprobe` nearest cells; an
  *      equi-join on cell yields candidates; exact cosine + window top-k.
  *
  * Cost ∝ |corpus|·nlist (assignment) + collisions — never
  * |corpus|×|queries|. Recall is tunable via nlist/nprobe.
  */
object IvfIndex {

  /** Top-k by cosine for each query via an IVF index trained on the fly.
    * Output shape matches Similarity: (query_id, neighbor_id, cosine,
    * rank). Deterministic for a fixed seed.
    *
    * `nlist = 0` (the default) auto-sizes the cell count to ~√n via
    * [[autoNlist]] — one extra count action. Each probe scans roughly
    * `nprobe/nlist` of the corpus, so a FIXED nlist quietly stops being
    * an index as the corpus grows: at 10⁸ vectors, 16 cells with
    * nprobe=4 means every query batch rescans 25% of the corpus. With
    * auto sizing the scan fraction shrinks as the corpus grows
    * (nprobe/√n), which is the behavior an index should have. Pass an
    * explicit nlist only to pin reproducibility of a recorded recall. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 4,
      iters: Int = 2,
      seed: Long = 42L): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val n = if (nlist > 0) -1L else corpus.count()
    val effNlist = if (nlist > 0) nlist else autoNlist(n)
    require(nprobe <= effNlist, "nprobe must be <= nlist")
    val centroids = train(corpus, vecCol, idCol, effNlist, iters, seed, totalCount = n)

    val c = Similarity.normedBase(corpus, vecCol, idCol)
      .withColumn("__cell", nearestCell(col("__vec"), col("__norm"), centroids))
      .withColumnsRenamed(Map("__id" -> "neighbor_id", "__vec" -> "__cv", "__norm" -> "__cn"))
    rankProbes(c, probeQueries(queries, vecCol, idCol, centroids, nprobe), k)
  }

  /** The query side of a probe: one row per (query, probed cell). */
  private def probeQueries(queries: DataFrame, vecCol: String, idCol: String,
      centroids: Seq[Seq[Double]], nprobe: Int): DataFrame =
    withProbedCells(Similarity.normedBase(queries, vecCol, idCol), centroids, nprobe)
      .withColumnsRenamed(Map("__id" -> "query_id", "__vec" -> "__qv", "__norm" -> "__qn"))

  /** Join probes to candidates and keep each query's top `k` through ONE
    * exchange keyed by `query_id`: the (query, neighbor) max and the rank
    * window both run on its partitioning. Cosine comes first, so the
    * exchange moves narrow rows, not vectors. Duplicate pairs exist only
    * for an id assigned twice (e.g. re-appended); max() keeps the pick
    * deterministic. */
  private def rankProbes(candidates: DataFrame, probes: DataFrame, k: Int): DataFrame =
    Similarity.topK(candidates.join(probes, "__cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        when(col("__cn") * col("__qn") === 0.0d, lit(0.0d))
          .otherwise(dotNative(col("__cv"), col("__qv")) / (col("__cn") * col("__qn"))))
      .repartition(col("query_id"))
      .groupBy("query_id", "neighbor_id").agg(max("cosine").as("cosine")), k)

  /** Persist a trained index as a reusable parquet artifact:
    *
    *   - `dir/centroids`: (cell INT, vec ARRAY<DOUBLE>) — nlist rows of
    *     model metadata.
    *   - `dir/assignments`: (id, vec, norm, cell) partitioned BY CELL, so
    *     a probe that joins on `cell` reads only the probed partitions
    *     (a literal partition filter). At 100 TB that is the entire point
    *     of an IVF index: nprobe/nlist of the corpus is scanned per query
    *     batch instead of all of it, and the expensive k-means + per-row
    *     assignment is paid ONCE at build time, not per session.
    *
    * Overwrites any index already at `dir`.
    *
    * `nlist = 0` (default) auto-sizes cells to ~√n ([[autoNlist]]); see
    * [[ivfTopK]] for the nprobe/nlist scan-fraction trade. The index
    * build already pays a full corpus pass, so the count is noise. */
  def writeIndex(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      dir: String,
      nlist: Int = 0,
      iters: Int = 2,
      seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val n = if (nlist > 0) -1L else corpus.count()
    val effNlist = if (nlist > 0) nlist else autoNlist(n)
    val centroids = train(corpus, vecCol, idCol, effNlist, iters, seed, totalCount = n)
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "vec")
      .coalesce(1) // nlist rows
      .write.mode("overwrite").parquet(s"$dir/centroids")
    Similarity.normedBase(corpus, vecCol, idCol)
      .withColumn("cell", nearestCell(col("__vec"), col("__norm"), centroids))
      .select(col("__id").as("id"), col("__vec").as("vec"),
        col("__norm").as("norm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assignments")
  }

  /** Build-once SHARED index artifact: returns the directory of an
    * index over `inputPath`'s data, building it via `build` only when
    * absent or when the input files changed (same fingerprint rule as
    * [[Reports.cached]]). This is the session-level sharing seam: a
    * semantic join, an ANN search, and an embedding near-dup pass in
    * the same pipeline all probe ONE k-means + assignment build instead
    * of paying three — at 100 TB the build is a full corpus pass, the
    * probes read nprobe/nlist of it. Distinct configurations must use
    * distinct `name`s (the config is not part of the fingerprint).
    *
    * Concurrency: `_FINGERPRINT` is a POINTER — its second line names
    * the published index directory, and it is created exclusively only
    * AFTER that directory is fully built, so a session that observes it
    * never reads a half-built or later-overwritten artifact. Every
    * builder (original winner, stale-marker takeover, loser staging)
    * writes its OWN directory; no two writers ever share a target, so
    * a slow original winner racing a takeover claimant cannot tear a
    * published artifact — exactly one of them wins the pointer
    * create-exclusive and the other's directory is swept once quiet.
    * The artifact is deterministic for a fixed config+input, so which
    * build publishes is immaterial. */
  def cachedIndex(
      spark: org.apache.spark.sql.SparkSession,
      inputPath: String,
      name: String,
      artifactRoot: Option[String] = None)(build: String => Unit): String = {
    val root = artifactRoot.getOrElse(
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_ivf_cache")
    val fp = Reports.fingerprint(spark, inputPath)
    val dir = new org.apache.hadoop.fs.Path(s"$root/$name/$fp")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(dir, "_FINGERPRINT")
    // the pointer's second line names the published dir ("index" for
    // artifacts recorded before the pointer existed)
    def publishedIdx(): String = {
      val in = fs.open(done)
      val content =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = content.split("\n").filter(_.nonEmpty)
      val target = if (lines.length >= 2) lines(1) else "index"
      new org.apache.hadoop.fs.Path(dir, target).toString
    }
    if (fs.exists(done)) {
      // Opportunistic sweep on the hot path too: a losing takeover dir
      // created AFTER the winner's one-shot sweep would otherwise leak
      // inside the live fingerprint dir forever. Never fails a read.
      val p = publishedIdx()
      scala.util.Try(pruneStaleLocal(spark, fs, dir,
        keep = new org.apache.hadoop.fs.Path(p).getName))
      return p
    }
    val building = new org.apache.hadoop.fs.Path(dir, "_BUILDING")
    def winnerBuild(target: String, heartbeatBuilding: Boolean): String = {
      // A HEALTHY build longer than the stale grace window must not
      // look crashed (it would trigger a takeover paying a duplicate
      // full-corpus build): the ORIGINAL winner re-stamps _BUILDING's
      // mtime every grace/3 while it builds, so staleness means "no
      // live builder", not "slow builder". Takeover claimants do NOT
      // heartbeat — their liveness is windowed by the _TAKEOVER_
      // markers, and re-stamping _BUILDING would stall the window roll.
      val hbStop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val hb: Option[Thread] =
        if (!heartbeatBuilding) None
        else {
          val period = math.max(staleGraceMs(spark) / 3, 50L)
          val th = new Thread(() => {
            try while (!hbStop.get()) {
              Thread.sleep(period)
              if (!hbStop.get())
                scala.util.Try(fs.setTimes(building, System.currentTimeMillis(), -1L))
            } catch { case _: InterruptedException => () }
          }, "graft-ivf-building-heartbeat")
          th.setDaemon(true)
          th.start()
          Some(th)
        }
      val t = new org.apache.hadoop.fs.Path(dir, target)
      try build(t.toString)
      finally { hbStop.set(true); hb.foreach(_.interrupt()) }
      if (graft.sources.FsAtomic.createExclusive(fs, done, fp + "\n" + target + "\n")) {
        pruneStaleSiblings(spark, fs, dir.getParent, fp)
        pruneStaleLocal(spark, fs, dir, keep = target)
        t.toString
      } else publishedIdx() // lost the publish race: serve the winner
    }
    if (graft.sources.FsAtomic.createExclusive(fs, building, fp + "\n"))
      winnerBuild("index", heartbeatBuilding = true)
    else {
      // A winner that crashed mid-build leaves `_BUILDING` behind
      // forever: the pointer then never publishes and every later
      // session would silently rebuild a throwaway staging index per
      // call. Lease-based takeover: once the marker is QUIET past the
      // stale grace window with no pointer published, claimants race
      // create-exclusive on a takeover marker keyed by (marker mtime,
      // current grace window) — one claimant per window, so a crashed
      // CLAIMANT self-heals when the window rolls over, and a claimant
      // racing a merely-slow original winner is safe because each
      // builds its own directory and the pointer picks one.
      val grace = staleGraceMs(spark)
      val staleEpoch: Option[Long] =
        try {
          val st = fs.getFileStatus(building)
          if (!fs.exists(done) &&
              System.currentTimeMillis() - st.getModificationTime > grace)
            Some(st.getModificationTime)
          else None
        } catch { case _: java.io.FileNotFoundException => None }
      val tookOver = staleEpoch.exists { mt =>
        val window = System.currentTimeMillis() / math.max(1L, grace)
        graft.sources.FsAtomic.createExclusive(
          fs, new org.apache.hadoop.fs.Path(dir, s"_TAKEOVER_${mt}_$window"),
          fp + "\n")
      }
      if (tookOver) {
        if (fs.exists(done)) publishedIdx()
        else winnerBuild(
          "index-tk-" + java.util.UUID.randomUUID().toString,
          heartbeatBuilding = false)
      } else {
        // A healthy winner is mid-build. At 100 TB a throwaway staging
        // rebuild is a full corpus pass, so a loser may WAIT for the
        // shared artifact instead: `spark.graft.ivf.cache.waitMs` > 0
        // polls the pointer up to that long before falling back.
        // Default 0 keeps the never-blocks contract for interactive
        // sessions; batch pipelines set it to ~the build time.
        val waitMs = spark.conf.getOption("spark.graft.ivf.cache.waitMs")
          .map(_.toLong).getOrElse(0L)
        val deadline = System.currentTimeMillis() + waitMs
        while (!fs.exists(done) && System.currentTimeMillis() < deadline)
          Thread.sleep(200L)
        if (fs.exists(done)) publishedIdx()
        else {
          val staging = new org.apache.hadoop.fs.Path(
            dir, "staging-" + java.util.UUID.randomUUID().toString)
          build(staging.toString)
          staging.toString
        }
      }
    }
  }

  private def staleGraceMs(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.ivf.cache.staleGraceMs")
      .map(_.toLong).getOrElse(900000L)

  /** Sweep UNPUBLISHED build dirs inside the CURRENT fingerprint dir —
    * loser stagings, losing takeover builds, and a crashed winner's
    * half-built `index` (everything but `keep`, the pointer's target).
    * The sibling sweep never sees these (they live inside the live fp
    * dir). Swept only once quiet past 4× the grace window: a dir's
    * mtime freezes when its build finishes, but a LOSER may keep
    * serving its staging path for a while — the widened window is the
    * honest time-based bound on that (a loser session outliving it
    * re-calls cachedIndex and gets the published artifact). */
  private def pruneStaleLocal(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      keep: String): Unit = {
    val grace = staleGraceMs(spark) * 4
    val now = System.currentTimeMillis()
    if (fs.exists(dir)) fs.listStatus(dir).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n != keep &&
          (n.startsWith("staging-") || n.startsWith("index")) &&
          now - s.getModificationTime > grace)
        fs.delete(s.getPath, true)
    }
  }

  /** Delete sibling fingerprint dirs (superseded index builds) — but
    * only those QUIET for longer than `spark.graft.ivf.cache.staleGraceMs`
    * (default 15 min): a concurrent session may still be mid-read on
    * the previous fingerprint's artifact, and yanking it under a
    * running scan fails that query. A stale dir's mtime freezes when
    * its build finishes, so "quiet past the grace window" outlives any
    * single probing query; the next winning build sweeps it. */
  private def pruneStaleSiblings(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      parent: org.apache.hadoop.fs.Path,
      keepFp: String): Unit = {
    val grace = staleGraceMs(spark)
    val now = System.currentTimeMillis()
    if (fs.exists(parent)) fs.listStatus(parent).foreach { s =>
      if (s.isDirectory && s.getPath.getName != keepFp &&
          now - s.getModificationTime > grace)
        fs.delete(s.getPath, true)
    }
  }

  /** Top-k by cosine for each query against a PERSISTED index (see
    * `writeIndex`). Identical results to `ivfTopK` at the same
    * (nlist, iters, seed, nprobe): assignment was computed by the same
    * code at build time, and probing uses the stored centroids. The
    * assignments scan is pruned to the probed cells via the partition
    * column. */
  def loadTopK(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nprobe: Int = 4): DataFrame = {
    GraftFunctions.register(spark)
    val centroids = readCentroids(spark, dir)
    require(nprobe <= centroids.size, "nprobe must be <= stored nlist")
    val q = probeQueries(queries, vecCol, idCol, centroids, nprobe)
    // LITERAL partition pruning on the probed cells, at most nlist (small
    // by construction) however many queries there are: each partition
    // sends its distinct cells, one job with no shuffle. Dynamic partition
    // pruning does not fire on this join, so without the literal filter
    // the scan reads every cell — 1000 partitions instead of 4 at an
    // nprobe=4-of-1000-cells probe over a 100 TB index.
    val probedCells = q.select("__cell").as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt).collect().distinct.sorted
    val c = spark.read.parquet(s"$dir/assignments")
      .filter(col("cell").isin(probedCells.toSeq: _*))
      .withColumnsRenamed(Map(
        "id" -> "neighbor_id", "vec" -> "__cv", "norm" -> "__cn", "cell" -> "__cell"))
    rankProbes(c, q, k)
  }

  /** The stored centroids in cell order: the nlist-row file read with the
    * schema [[writeIndex]] writes (no footer inference) and sorted on the
    * driver, so the read is one small job. */
  private def readCentroids(
      spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Seq[Double]] =
    spark.read.schema("cell INT, vec ARRAY<DOUBLE>").parquet(s"$dir/centroids")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1)).toSeq

  /** Append new vectors to a PERSISTED index without retraining: each new
    * vector is assigned to its nearest STORED centroid and appended into
    * the cell-partitioned assignments — one scan of the new data, no
    * k-means, no rewrite of existing cells. This is the daily-feed path:
    * at 100 TB you amortize one index build across many appends. The
    * trade: centroids no longer reflect the appended distribution, so
    * cells drift unbalanced as data drifts — watch [[cellImbalance]] and
    * [[rebalance]] when it crosses your threshold (2-3× is a reasonable
    * default; probe cost scales with the biggest probed cell). */
  def appendToIndex(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      newVecs: DataFrame,
      vecCol: String,
      idCol: String): Unit = {
    GraftFunctions.register(spark)
    val centroids = readCentroids(spark, dir)
    Similarity.normedBase(newVecs, vecCol, idCol)
      .withColumn("cell", nearestCell(col("__vec"), col("__norm"), centroids))
      .select(col("__id").as("id"), col("__vec").as("vec"),
        col("__norm").as("norm"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/assignments")
  }

  /** Cell-population imbalance of a persisted index: max/mean cell size.
    * 1.0 = perfectly balanced; grows as appended data drifts from the
    * training distribution. One count-aggregate over the (pruned, narrow)
    * cell column; only nlist counts reach the driver. */
  def cellImbalance(spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val Array(row) = spark.read.parquet(s"$dir/assignments")
      .groupBy("cell").count()
      .agg(max("count").cast("double").as("mx"), avg("count").as("av"))
      .collect()
    row.getDouble(0) / row.getDouble(1)
  }

  /** Retrain the index over its CURRENT contents (original + appended)
    * and swap the fresh artifact into place. The rebuild is staged in a
    * sibling directory, so a failed retrain leaves the live index intact
    * and probing uninterrupted — same stage-and-swap discipline as the
    * merge and bucketed-write paths. */
  def rebalance(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      nlist: Int = 0,
      iters: Int = 2,
      seed: Long = 42L): Unit = {
    val all = spark.read.parquet(s"$dir/assignments").select("id", "vec")
      .capLineage() // cut lineage: the rewrite deletes its own input
    val staging = s"${dir.stripSuffix("/")}__graft_rebuild_" +
      java.util.UUID.randomUUID().toString.take(8)
    writeIndex(all, "vec", "id", staging, nlist, iters, seed)
    val live = new org.apache.hadoop.fs.Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(staging + "_old")
    if (fs.exists(live) && !fs.rename(live, old))
      throw new IllegalStateException(s"ivf rebalance: cannot move $live aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), live)) {
      fs.rename(old, live)
      throw new IllegalStateException(s"ivf rebalance: cannot publish $staging")
    }
    fs.delete(old, true)
  }

  /** Rows the k-means TRAINING pass is allowed to touch. Clustering
    * quality depends on seeing a representative sample, not the whole
    * corpus: centroid estimates converge as O(1/√sample), so beyond a
    * few hundred points per centroid the extra scans buy nothing. The
    * full corpus is still assigned exactly once (by the caller), which
    * is where the real cost belongs at 100 TB. */
  private[operators] val TrainSampleTarget = 20000L

  /** Auto-sized cell count from the corpus row count: ~√n cells keeps
    * assignment cost (n·nlist dots) and average cell population (n/nlist)
    * balanced, clamped to [16, 256] — the upper bound keeps the
    * literal-centroid argmax expression compact enough for codegen; cells
    * that still exceed the bucket cap at that nlist are handled by the
    * recursive split in `boundedCells`, which is the mechanism that
    * scales, not a bigger flat centroid list. */
  private[graft] def autoNlist(n: Long): Int =
    math.max(16, math.min(256, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** K-means by cosine; returns driver-side centroids. Seeds are the
    * nlist corpus rows with the smallest xxhash64(id) — deterministic and
    * uniformly spread without a full sort (top-k via limit on an ordered
    * narrow projection).
    *
    * Training runs on a deterministic hash SAMPLE of ~`TrainSampleTarget`
    * rows (xxhash64-bucket filter — type-generic over any id, same
    * reproducibility contract as `Sampling.deterministicSample`): the
    * per-iteration scan cost is bounded by the sample, not the corpus.
    * Corpora at or below the target train on every row, so small inputs
    * are bit-identical to unsampled training. `totalCount` lets callers
    * that already counted the corpus skip the extra count action. */
  private[operators] def train(
      corpus: DataFrame,
      vecCol: String,
      idCol: String,
      nlist: Int,
      iters: Int,
      seed: Long,
      totalCount: Long = -1L): Seq[Seq[Double]] = {
    val full = Similarity.normedBase(corpus, vecCol, idCol)
    val n = if (totalCount >= 0L) totalCount else full.count()
    val target = math.max(nlist.toLong * 256L, TrainSampleTarget)
    // The training sample is bounded by construction (≤ ~target rows),
    // but deriving it is a FULL corpus scan — and the seeding pass plus
    // every k-means iteration re-derived it, so iters=2 paid three
    // corpus scans. Persist the bounded sample once; the iterations
    // read cached rows.
    val base =
      (if (n <= target) full
       else full.filter(
         pmod(xxhash64(col("__id"), lit(seed), lit(1L)), lit(10000L)) <
           lit(math.max(1L, target * 10000L / n))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids: Seq[Seq[Double]] = base
        .orderBy(xxhash64(col("__id"), lit(seed)))
        .limit(nlist)
        .select(transform(col("__vec"), _.cast("double")).as("v"))
        .collect()
        .map(_.getSeq[Double](0).toSeq).toSeq

      (1 to iters).foreach { _ =>
        val assigned = base.withColumn("__cell",
          nearestCell(col("__vec"), col("__norm"), centroids))
        val updated = assigned
          .select(col("__cell"), posexplode(col("__vec")))
          .groupBy("__cell", "pos").agg(avg(col("col").cast("double")).as("m"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (cell, rows) =>
            cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          }
        // cells that lost all members keep their previous centroid
        centroids = centroids.indices.map(i => updated.getOrElse(i, centroids(i)))
      }
      centroids
    } finally base.unpersist()
  }

  // ------------------------------------------------- bounded cell blocking

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Fan-out of one recursive split level. With `SplitProbe`-way overlap
    * the expected cell population shrinks ×(SplitProbe/SplitFanout) per
    * level, so depth to the cap is logarithmic in the worst cell size. */
  private val SplitFanout = 8

  /** Sub-cell probe overlap. 2-way membership keeps pairs that straddle a
    * sub-cluster boundary — and in the degenerate case of two centroids
    * converging inside ONE tight cluster, every member's top-2 is the same
    * two sub-cells, so the cluster travels whole and no pair is lost. */
  private val SplitProbe = 2

  private val MaxSplitDepth = 8

  /** A split-level rank-2 probe is kept only when its score is within
    * this margin of the member's rank-1 score. A boundary pair (two
    * centroids converged inside one tight cluster) has s1 ≈ s2, so it
    * keeps both cells; a loose member's rank-2 (s2 ≪ s1) is noise — and
    * worse than noise: every loose member's rank-2 lands on the group's
    * densest centroid, re-concentrating the parent cell into one
    * attractor sub-cell that never shrinks below the cap and eventually
    * trips the no-progress drop, losing the dense cluster's pairs. */
  private val SplitProbeMargin = 0.1

  /** Cell assignment with a HARD population bound: every returned cell has
    * at most `maxBucket` members, so a downstream self-join on `__cell`
    * can never go quadratic in a degenerate cell. Where the flat design
    * (`capBuckets`) silently DROPPED over-cap cells — at 10⁸+ vectors
    * every cell of a 16-cell clustering overflows and the operator emits
    * zero pairs — this one RE-CLUSTERS over-cap cells recursively:
    * members of each over-cap cell are split `SplitFanout` ways by a
    * distributed per-group k-means (no driver collect — sub-centroids
    * stay a DataFrame keyed by parent cell), with `SplitProbe`-way
    * overlap so boundary pairs keep colliding. Mid-similarity pairs are
    * intra-cluster by the k-means metric at every level, so the recall
    * model of the flat blocking is preserved, not approximated away.
    *
    * Cells that stop shrinking (all-identical vectors — exact-dup content
    * that belongs in exact dedup first) or exceed `MaxSplitDepth` are
    * dropped LOUDLY: a warning with the dropped cell/member count, never
    * a silent empty result.
    *
    * `base` must be the persisted `(__id, __vec, __norm)` projection.
    * Returns a persisted, materialized `(__id, __cell: string)` mapping —
    * caller unpersists. */
  private[graft] def boundedCells(
      base: DataFrame,
      nlist: Int,
      probeCells: Int,
      iters: Int,
      seed: Long,
      maxBucket: Int,
      totalCount: Long,
      mergeThreshold: Double): DataFrame = {
    val (cells, dropped) = boundedCellsWithDropped(base, nlist, probeCells,
      iters, seed, maxBucket, totalCount, mergeThreshold)
    dropped.unpersist()
    cells
  }

  /** [[boundedCells]] variant that ALSO returns the `(__id, __cell)`
    * memberships of cells that had to be dropped (still over cap after
    * the no-progress/max-depth guard — one coherent cluster at the merge
    * threshold that cannot shrink without separating would-be pairs).
    * Pair enumeration over such a cell is quadratic by definition, but a
    * LINEAR per-cell pass (e.g. compare members against a representative
    * — what [[graft.operators.Dedup.semanticDedup]] does) is still
    * possible, and at 10⁸-scale those giant boilerplate clusters are
    * precisely the content most worth deduping. Both returned frames are
    * persisted+materialized; caller unpersists both. */
  private[graft] def boundedCellsWithDropped(
      base: DataFrame,
      nlist: Int,
      probeCells: Int,
      iters: Int,
      seed: Long,
      maxBucket: Int,
      totalCount: Long,
      mergeThreshold: Double): (DataFrame, DataFrame) = {
    val centroids = train(base, "__vec", "__id", nlist, iters, seed, totalCount)
    val probe = math.min(probeCells, math.max(1, centroids.size))
    var pending = withProbedCells(base, centroids, probe)
      .select(col("__id"), col("__cell").cast("string").as("__cell"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](pending)
    val done = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var depth = 0
    // progress = the LARGEST over-cap cell strictly shrinking. (Member-row
    // counts are the wrong measure: SplitProbe-way overlap doubles rows
    // per level even while every cell shrinks ×probe/fanout.)
    var prevWorst = Long.MaxValue
    var exhausted = false
    var droppedMembers: Option[DataFrame] = None
    while (!exhausted) {
      val counts = pending.groupBy("__cell").count()
        .persist(StorageLevel.MEMORY_AND_DISK)
      levels += counts
      val overCounts = counts.filter(col("count") > maxBucket)
      val over = overCounts.select("__cell")
      val Array(stats) = overCounts
        .agg(count(lit(1)).as("n"), coalesce(max(col("count")), lit(0L)).as("worst"),
          coalesce(sum(col("count")), lit(0L)).as("rows"))
        .collect()
      val (nOver, worst, overRows) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      done += pending.join(over, Seq("__cell"), "left_anti")
      if (nOver == 0L) {
        exhausted = true
      } else if (depth >= MaxSplitDepth || worst >= prevWorst) {
        log.warn(
          s"boundedCells: $nOver cell(s) / $overRows member rows still over cap " +
            s"$maxBucket at depth $depth cannot shrink further (coherent cluster at " +
            "the merge threshold) — excluded from PAIR enumeration; callers with a " +
            "linear per-cell strategy receive them via boundedCellsWithDropped")
        val d = pending.join(over, Seq("__cell"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        d.count() // materialize before the per-level caches are released
        droppedMembers = Some(d)
        exhausted = true
      } else {
        prevWorst = worst
        val members = pending.join(over, Seq("__cell")).join(base, "__id")
          .select("__cell", "__id", "__vec", "__norm")
        // localCheckpoint (eager) cuts the logical plan per level: the
        // per-level k-means nests several self-referencing joins, so an
        // un-truncated lineage grows exponentially with depth — the
        // classic iterative-algorithm failure Spark's ML lib checkpoints
        // away. Storage is only the over-cap member subset.
        pending = splitGroups(members, SplitFanout, SplitProbe, 2, seed + depth + 1,
          mergeThreshold)
          .capLineage()
        depth += 1
      }
    }
    val result = done.reduce(_ unionByName _).persist(StorageLevel.MEMORY_AND_DISK)
    result.count() // materialize, then release every per-level cache
    levels.foreach(_.unpersist())
    (result, droppedMembers.getOrElse(pending.limit(0)))
  }

  /** Farthest-first (k-center) seeding PER parent cell, distributed:
    * seed 0 is the group's lowest-hash member; each further seed is the
    * member with the LOWEST max-similarity to the seeds chosen so far
    * (argmin via a window over narrow rows, similarity state carried
    * incrementally so each step joins only the one new seed per group).
    * On well-separated sub-clusters this provably lands one seed per
    * cluster (the classic k-center argument) — hash-random seeding
    * misses a cluster with high probability (coupon collector), which
    * measurably fragmented its pairs across sub-cells. Deterministic. */
  private[graft] def farthestFirstSeeds(
      members: DataFrame, fanout: Int, seed: Long): DataFrame = {
    def sim(vec: Column, norm: Column, cvec: Column, cnorm: Column): Column =
      when(norm * cnorm === 0.0d, lit(0.0d))
        .otherwise(dotNative(vec, cvec) / (norm * cnorm))
    val h = xxhash64(col("__id"), lit(seed))
    // deterministic per-group argmin as ONE hash aggregate: struct min
    // compares fields left to right, so (order, hash, id, payload) picks
    // the lowest-order member with a stable tie-break — no window sort.
    def pick(df: DataFrame, order: Column, sub: Int): DataFrame =
      df.groupBy("__cell")
        .agg(min(struct(order.as("o"), h.as("h"), col("__id").as("i"),
          col("__vec").as("v"), col("__norm").as("n"))).as("__w"))
        .select(col("__cell"), lit(sub).as("__sub"),
          col("__w.v").as("__cvec"), col("__w.n").as("__cnorm"))

    var seeds = pick(members, lit(0L), 0)
    var state = members.join(seeds.drop("__sub"), "__cell")
      .select(col("__cell"), col("__id"), col("__vec"), col("__norm"),
        sim(col("__vec"), col("__norm"), col("__cvec"), col("__cnorm")).as("__maxsim"))
      .capLineage()
    (1 until fanout).foreach { s =>
      val next = pick(state, col("__maxsim"), s)
      seeds = seeds.unionByName(next)
      if (s < fanout - 1) {
        // eager checkpoint per step: `state` would otherwise reference the
        // previous state twice (directly + via `next`), doubling the plan
        // per step. Cost: fanout-1 small jobs over the over-cap subset.
        state = state.join(next.drop("__sub"), "__cell")
          .select(col("__cell"), col("__id"), col("__vec"), col("__norm"),
            greatest(col("__maxsim"),
              sim(col("__vec"), col("__norm"), col("__cvec"), col("__cnorm")))
              .as("__maxsim"))
          .capLineage()
      }
    }
    seeds
  }

  /** One split level: independent `fanout`-way k-means PER parent cell,
    * fully distributed. Sub-centroids live in a DataFrame keyed by the
    * parent cell (never collected): seeds come from `farthestFirstSeeds`,
    * assignment is an equi-join on the parent cell + argmax window over
    * narrow (cell, id, sub, score) rows — vectors never ride through the
    * window shuffle — and the centroid update is a (cell, sub, pos)
    * hash-aggregate.
    *
    * Sub-centroids whose mutual cosine reaches `mergeThreshold` (the
    * caller's PAIR threshold) are merged to one label before assignment:
    * two centroids that close sit inside one tight cluster whose
    * cross-centroid member pairs are plausibly true pairs, so they must
    * share a block — when farthest-first over-seeds a tight cluster
    * (every other group member being even further), the cluster would
    * otherwise fragment across near-identical centroids and lose pairs.
    *
    * Output: each member's `subProbe` best sub-cells as path-extended
    * cell ids. Deterministic for a fixed seed. */
  private[graft] def splitGroups(
      members: DataFrame,
      fanout: Int,
      subProbe: Int,
      iters: Int,
      seed: Long,
      mergeThreshold: Double): DataFrame = {
    var cents = farthestFirstSeeds(members, fanout, seed)

    def scoredNarrow(cs: DataFrame): DataFrame =
      members.join(cs, "__cell")
        .select(col("__cell"), col("__id"), col("__sub"),
          when(col("__norm") * col("__cnorm") === 0.0d, lit(0.0d))
            .otherwise(dotNative(col("__vec"), col("__cvec")) /
              (col("__norm") * col("__cnorm")))
            .as("__score"))

    val wAssign = Window.partitionBy("__cell", "__id")
      .orderBy(col("__score").desc, col("__sub").asc)

    (1 to iters).foreach { _ =>
      val winners = scoredNarrow(cents)
        .withColumn("__rk", row_number().over(wAssign))
        .filter(col("__rk") === 1)
        .select("__cell", "__id", "__sub")
      cents = winners.join(members, Seq("__cell", "__id"))
        .select(col("__cell"), col("__sub"), posexplode(col("__vec")))
        .groupBy(col("__cell"), col("__sub"), col("pos"))
        .agg(avg(col("col").cast("double")).as("m"))
        .groupBy("__cell", "__sub")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          _.getField("m")).as("__cvec"))
        .withColumn("__cnorm", sqrt(dotNative(col("__cvec"), col("__cvec"))))
    }

    // single-link representative per sub: lowest sub id among centroids
    // within mergeThreshold (fanout² tiny rows per cell — cents is one
    // row per sub-centroid, never per member)
    val cA = cents.select(col("__cell"), col("__sub").as("__si"),
      col("__cvec").as("__vi"), col("__cnorm").as("__ni"))
    val cB = cents.select(col("__cell"), col("__sub").as("__sj"),
      col("__cvec").as("__vj"), col("__cnorm").as("__nj"))
    val reps = cA.join(cB, "__cell")
      .filter(col("__si") === col("__sj") ||
        when(col("__ni") * col("__nj") === 0.0d, lit(0.0d))
          .otherwise(dotNative(col("__vi"), col("__vj")) /
            (col("__ni") * col("__nj"))) >= mergeThreshold)
      .groupBy(col("__cell"), col("__si").as("__sub"))
      .agg(min(col("__sj")).as("__rep"))

    val wBest = Window.partitionBy("__cell", "__id")
    scoredNarrow(cents)
      .withColumn("__rk", row_number().over(wAssign))
      .withColumn("__s1", max(col("__score")).over(wBest))
      .filter(col("__rk") === 1 ||
        (col("__rk") <= subProbe && col("__score") >= col("__s1") - SplitProbeMargin))
      .join(reps, Seq("__cell", "__sub"))
      .select(col("__id"),
        concat(col("__cell"), lit("."), col("__rep").cast("string")).as("__cell"))
      .dropDuplicates("__id", "__cell")
  }

  /** argmax cell by cosine: nlist native dots against literal centroids,
    * greatest over (score, -cell) structs for a deterministic low-cell
    * tie-break. Norm 0 rows land in cell 0. */
  private def nearestCell(
      vec: Column, norm: Column, centroids: Seq[Seq[Double]]): Column =
    sort_array(cellScores(vec, norm, centroids), asc = false)
      .getItem(0).getField("cell")

  /** `df` (a [[Similarity.normedBase]] projection) with one row per probed
    * cell, its `nprobe` best cells best first, as `__cell`: the sorted
    * (score, cell) structs are exploded and the cell read as a field, so
    * no lambda is interpreted per row. */
  private def withProbedCells(
      df: DataFrame, centroids: Seq[Seq[Double]], nprobe: Int): DataFrame =
    df.withColumn("__cell", explode(slice(
        sort_array(cellScores(col("__vec"), col("__norm"), centroids), asc = false),
        1, nprobe)))
      .withColumn("__cell", col("__cell").getField("cell"))

  /** Array of (score, cell) structs; struct ordering compares score first,
    * then cell — cell is negated so ties break toward the LOWER cell id
    * under descending sort. Scores are dot(v, ĉ) / |v| against UNIT
    * centroids (a zero centroid scores 0) passed as array literals, which
    * generated code reads from its references: the code depends on nlist
    * only, so k-means iterations, builds and probes share their classes. */
  private def cellScores(
      vec: Column, norm: Column, centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (cvec, i) =>
      val cnorm = math.sqrt(cvec.map(x => x * x).sum)
      val unit = if (cnorm == 0.0) cvec else cvec.map(_ / cnorm)
      val score = when(norm === 0.0d, lit(0.0d)).otherwise(dotNative(vec, typedLit(unit)) / norm)
      struct(score.as("score"), lit(-i).as("negcell"), lit(i).as("cell"))
    }: _*)
}
