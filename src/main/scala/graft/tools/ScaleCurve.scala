package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dev tool: empirical scale curve for the near-dup dedup family — the
  * measurement behind the "banded and capped, never all-pairs" claim at
  * the next order of magnitude (BASELINE.md records the output table).
  *
  * Corpus construction: m salted copies of the sf corpus, where copy c
  * applies a per-copy TOKEN BIJECTION (every token prefixed `c<c>_`).
  * A bijection of the token alphabet preserves every within-copy Jaccard
  * exactly (same shingle-set overlaps, renamed), while cross-copy
  * similarity is zero (disjoint alphabets) — so the TRUE pair count
  * scales exactly linearly in m, and any super-linear growth in
  * candidates or wall time is the algorithm's fault, not the data's.
  *
  * Reported per multiplier: docs, band-bucket candidate pairs (multiset,
  * Σ n·(n-1)/2 over buckets — what the band join enumerates), verified
  * pairs (jaccard ≥ threshold), and wall seconds for the full
  * minHashLsh pipeline. */
object ScaleCurve {
  /** The one session every curve runs in: `local[N]` with N from
    * `SPARK_GRAFT_CPUS`, else the box's core count, and as many shuffle
    * partitions as task threads. */
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val multipliers = args.drop(1).headOption
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 2, 5, 10))
    val family = args.drop(2).headOption.getOrElse("text")
    if (family == "embedding") { embeddingCurve(dir, multipliers); return }
    if (family == "containment") { containmentCurve(dir, multipliers); return }
    if (family == "incremental") { incrementalCurve(dir, multipliers); return }
    if (family == "bpe") { bpeCurve(dir, multipliers); return }
    if (family == "merge") { mergeCurve(dir, multipliers); return }
    if (family == "dv") { dvCurve(dir, multipliers); return }
    if (family == "dvmerge") { dvMergeCurve(dir, multipliers); return }
    if (family == "dvdepth") { dvDepthCurve(dir, multipliers); return }
    if (family == "cowdepth") { cowDepthCurve(dir, multipliers); return }
    if (family == "manifest") { manifestCurve(multipliers); return }
    val spark = session()
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")

    def salted(c: Int): DataFrame = base.select(
      (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
      array_join(transform(graft.functions.TextFunctions.tokens(col("text")),
        t => concat(lit(s"c${c}_"), t)), " ").as("text"))

    multipliers.foreach { m =>
      val corpus = (0 until m).map(salted).reduce(_.unionByName(_))
        .localCheckpoint() // corpus build cost excluded from the timing
      val n = corpus.count()
      // Candidate volume the band join enumerates (pre-distinct): the
      // number the cap exists to bound.
      val sigTmp = java.nio.file.Files.createTempDirectory("graft-scale").toString + "/sigs"
      Dedup.writeMinHashSignatures(corpus, "text", "doc_id", sigTmp, numHashes = 32)
      val cand = Dedup.bandedStore(spark, sigTmp, numHashes = 32, bands = 16)
        .groupBy("__band", "__bandhash").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).collect()(0).getDouble(0).toLong
      val t0 = System.nanoTime()
      val pairs = Dedup.minHashLsh(corpus, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.6).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""[scale] {"multiplier":$m,"docs":$n,"candidate_pairs":$cand,"verified_pairs":$pairs,"lsh_seconds":$sec%.1f}""")
    }
    spark.stop()
  }

  /** BPE per-round-cost curve: cumulative bpeMerges runs at increasing
    * round counts over the same corpus; the MARGINAL seconds per block
    * isolate the per-round cost from the (shared, corpus-sized) seed.
    * The claim under test: per-round time is flat-to-falling as merges
    * accumulate — i.e. the loop's cost tracks the affected slice (the
    * driver-local tail's inverted index), never the vocabulary. The
    * multipliers argument is read as ROUND counts (default
    * 100,200,300,400,500). */
  private def bpeCurve(dir: String, blocks: Seq[Int]): Unit = {
    val spark = session()
    val rounds = if (blocks == Seq(1, 2, 5, 10)) Seq(100, 200, 300, 400, 500)
      else blocks
    // The synthetic corpus has a small distinct-word set (it exhausts
    // under 100 merges), so the 500-round probe salts 15 token-prefixed
    // copies — 15× the vocabulary, same text statistics per copy.
    val base = spark.read.parquet(s"$dir/documents.parquet").select("text")
    val docs = (0 until 15).map(c => base.select(
        array_join(transform(graft.functions.TextFunctions.tokens(col("text")),
          t => concat(lit(s"c${c}_"), t)), " ").as("text")))
      .reduce(_.unionByName(_))
      .localCheckpoint()
    var prevSec = 0.0
    var prevRounds = 0
    rounds.foreach { r =>
      val t0 = System.nanoTime()
      val done = graft.operators.TextAnalysis.bpeMerges(docs, "text", r).count()
      val sec = (System.nanoTime() - t0) / 1e9
      val marginal = sec - prevSec
      val perRound =
        if (r > prevRounds) marginal / (r - prevRounds) * 1000.0 else 0.0
      println(f"""[scale-bpe] {"rounds":$r,"completed":$done,"total_seconds":$sec%.2f,"marginal_seconds":$marginal%.2f,"marginal_ms_per_round":$perRound%.1f}""")
      prevSec = sec; prevRounds = r
    }
    spark.stop()
  }

  /** Merge-clause COW curve: table at multiplier m (m salted copies of
    * the documents corpus, ONE file group per copy with a disjoint
    * doc_id range), a FIXED-SIZE source (updates + inserts confined to
    * copy 0's key range, plus a by-source clause whose condition's
    * stats admit only copy 0). The claim under test: touched groups and
    * rewritten bytes track the SOURCE (flat in m), while the table and
    * its group count grow m× — the same linearity evidence the dedup
    * curves record, for the mutation path. */
  private def mergeCurve(dir: String, multipliers: Seq[Int]): Unit = {
    val spark = session()
    import graft.operators.Versioned
    import graft.operators.Versioned.MergeClause._
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    def copyAt(c: Int): DataFrame = base.select(
      (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
      col("lang"), col("n_chars"))
    // fixed source: ~200 updates in copy 0 + 100 fresh inserts BELOW
    // copy 1's range (a wide-spanning source would widen the candidate
    // key range — the same care a Delta user takes)
    val src = base.filter(graft.operators.Sampling.bucket(col("doc_id"), 17L) < 30)
      .limit(200).select(col("doc_id"), lit("xx").as("lang"), col("n_chars"))
      .unionByName(base.limit(100).select(
        (col("doc_id") + lit(9000000L)).as("doc_id"),
        lit("yy").as("lang"), col("n_chars")))
      .localCheckpoint()
    def groupsOf(tbl: String, v: Long): Set[String] =
      Versioned.read(spark, tbl, v).inputFiles
        .map(_.split("/files/")(1).split("/")(0)).toSet
    def bytesOf(tbl: String, groups: Set[String]): Long = {
      val p = new org.apache.hadoop.fs.Path(tbl)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      groups.toSeq.map(g => f.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$tbl/files/$g")).getLength).sum
    }
    multipliers.foreach { m =>
      val tbl = java.nio.file.Files
        .createTempDirectory(s"graft-mrg-scale$m").toString + "/t"
      Versioned.commit(copyAt(0), tbl)
      (1 until m).foreach(c => Versioned.append(copyAt(c), tbl))
      val nRows = Versioned.read(spark, tbl).count()
      val v0 = Versioned.latestVersion(spark, tbl)
      val before = groupsOf(tbl, v0)
      // sidecar_reads: driver-side per-group metadata GETs during the
      // merge (stats now ride the manifest / are observed during the
      // write — the r17 GroupStats change; this pins that no per-group
      // read-back pass scales with the table).
      val reads0 = graft.operators.GroupStats.readCount.get()
      val t0 = System.nanoTime()
      Versioned.mergeClauses(spark, tbl, src, Seq("doc_id"), Seq(
        MatchedUpdate(Seq("lang" -> col("SRC.lang"))),
        NotMatchedInsert()))
      val sec = (System.nanoTime() - t0) / 1e9
      val sidecarReads = graft.operators.GroupStats.readCount.get() - reads0
      val after = groupsOf(tbl, v0 + 1)
      val touched = (before -- after).size
      val rewriteBytes = bytesOf(tbl, after -- before)
      // by-source clause confined (by stats) to copy 0's range
      val t1 = System.nanoTime()
      Versioned.mergeClauses(spark, tbl, src, Seq("doc_id"), Seq(
        NotMatchedBySourceUpdate(Seq("lang" -> lit("zz")),
          Some(col("TGT.doc_id") < 1000000L && col("TGT.n_chars") < 50))))
      val secBs = (System.nanoTime() - t1) / 1e9
      val afterBs = groupsOf(tbl, v0 + 2)
      val touchedBs = (after -- afterBs).size
      val rewriteBytesBs = bytesOf(tbl, afterBs -- after)
      println(f"""[scale-merge] {"multiplier":$m,"table_rows":$nRows,"table_groups":${before.size},"touched_groups":$touched,"rewrite_bytes":$rewriteBytes,"merge_seconds":$sec%.1f,"sidecar_reads":$sidecarReads,"bysource_touched_groups":$touchedBs,"bysource_rewrite_bytes":$rewriteBytesBs,"bysource_seconds":$secBs%.1f}""")
    }
    spark.stop()
  }

  /** CDF replay pressure vs DV-MUTATION DEPTH: k sequential one-row DV
    * deletes, then a from-genesis `tableChanges` read. Reports the
    * frame count (must stay O(1): the delete run consolidates into ONE
    * artifact-scan frame regardless of k), the analyzer+optimizer wall
    * for the replay plan, and the full replay execution wall — the
    * curve that shows a years-of-daily-deletes history does not grow
    * the plan. Row-count sanity: genesis inserts + exactly k deletes. */
  private def dvDepthCurve(dir: String, depths: Seq[Int]): Unit = {
    val spark = session()
    import graft.operators.Versioned
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val nBase = base.count()
    depths.foreach { k =>
      val ids = base.orderBy("doc_id").limit(k).collect().map(_.getLong(0))
      // pure-delete series: ONE consolidated frame at any depth
      println(depthSeries(spark, base, "dvdepth", k, ids,
        (tbl, id, _) => Versioned.delete(spark, tbl)(col("doc_id") === id),
        expectRows = nBase + k))
      // MIXED series: alternating pure-DV delete / merge-on-read
      // update — the "years of daily updates" shape. Expect <= 2 run
      // frames (preimages + postimages) regardless of k; replay rows =
      // genesis + deletes + 2x updates (pre/post pairs).
      val dels = (k + 1) / 2; val upds = k / 2
      println(depthSeries(spark, base, "dvdepthmix", k, ids,
        (tbl, id, i) =>
          if (i % 2 == 0) Versioned.delete(spark, tbl)(col("doc_id") === id)
          else Versioned.update(spark, tbl,
            col("doc_id") === id, "n_chars" -> lit(-1)),
        expectRows = nBase + dels + 2L * upds))
    }
    spark.stop()
  }

  /** ONE measurement harness for every depth series (dvdepth,
    * dvdepthmix, cowdepth): build a table from `base`, mutate k times,
    * count change-feed frames, time plan + replay, sanity the row
    * total, report one JSON line. */
  private def depthSeries(
      spark: SparkSession, base: DataFrame, label: String, k: Int,
      ids: Array[Long], mutate: (String, Long, Int) => Unit,
      expectRows: Long): String = {
    import graft.operators.Versioned
    val tbl = java.nio.file.Files
      .createTempDirectory(s"graft-$label$k").toString + "/t"
    Versioned.commit(base, tbl)
    val t0 = System.nanoTime()
    ids.zipWithIndex.foreach { case (id, i) => mutate(tbl, id, i) }
    val mutSec = (System.nanoTime() - t0) / 1e9
    val latest = Versioned.latestVersion(spark, tbl)
    require(latest == k.toLong, s"expected $k mutation versions, got $latest")
    val frames = Versioned.changesFeedPieces(spark, tbl, 0L, latest).size
    val t1 = System.nanoTime()
    val feed = Versioned.tableChanges(spark, tbl, 0L)
    feed.queryExecution.optimizedPlan // force analysis + optimization
    val planSec = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val n = feed.count()
    val execSec = (System.nanoTime() - t2) / 1e9
    require(n == expectRows,
      s"$label replay must emit $expectRows rows, got $n")
    val arts = Versioned.parseManifest(spark, tbl, latest)
      .dvs.map(_._2).distinct.size
    f"""[scale-$label] {"depth":$k,"frames":$frames,"plan_seconds":$planSec%.2f,"replay_seconds":$execSec%.2f,"mutate_seconds":$mutSec%.1f,"replay_rows":$n,"live_artifacts":$arts}"""
  }

  /** Manifest-log curve: the checkpointing claim, MEASURED. A table of
    * g groups (g sequential appends) is built twice — `full` mode
    * (checkpointInterval=1, the pre-checkpoint behavior: every commit
    * rewrites the complete group listing) vs `delta` mode (default
    * interval 10). Reported per g and mode: the LAST commit's record
    * bytes (the steady-state per-commit write cost), total log bytes,
    * and the COLD latest-version resolve time (cache cleared — the
    * chain walk a fresh driver pays). The claim under test: delta-mode
    * commit bytes are O(churn) ~flat in g while full-mode grows ∝ g,
    * and cold resolution stays O(groups) (≤ interval small records +
    * one checkpoint), never O(groups × versions). Multipliers are read
    * as GROUP COUNTS. */
  private def manifestCurve(groupCounts: Seq[Int]): Unit = {
    val spark = session()
    import graft.operators.Versioned
    groupCounts.foreach { g =>
      Seq(("full", "1"), ("delta", "10")).foreach { case (label, interval) =>
        spark.conf.set("spark.graft.manifest.checkpointInterval", interval)
        val tbl = java.nio.file.Files
          .createTempDirectory(s"graft-mlog-$label$g").toString + "/t"
        Versioned.commit(spark.range(10).toDF("id"), tbl)
        (1 until g).foreach { i =>
          Versioned.append(
            spark.range(i * 10L, i * 10L + 10L).toDF("id"), tbl)
        }
        val dirPath = java.nio.file.Paths.get(s"$tbl/_versions")
        val lastBytes = java.nio.file.Files.size(
          dirPath.resolve(s"v${g - 1}.json"))
        val listing = java.nio.file.Files.list(dirPath)
        val logBytes =
          try listing.toArray.map(p => java.nio.file.Files.size(
            p.asInstanceOf[java.nio.file.Path])).sum
          finally listing.close()
        Versioned.clearResolvedManifestCache()
        val t0 = System.nanoTime()
        val m = Versioned.parseManifest(spark, tbl, (g - 1).toLong)
        val resolveMs = (System.nanoTime() - t0) / 1e6
        require(m.files.size == g && m.nRows == g * 10L,
          s"resolved state wrong: ${m.files.size} groups, ${m.nRows} rows")
        println(f"""[scale-manifest] {"groups":$g,"mode":"$label","last_commit_bytes":$lastBytes,"log_bytes":$logBytes,"cold_resolve_ms":$resolveMs%.1f}""")
      }
    }
    spark.conf.unset("spark.graft.manifest.checkpointInterval")
    spark.stop()
  }

  /** Mixed-MERGE depth curve: k sequential mixed DV MERGEs (each one
    * delete claim + one update claim + one insert — mode 'merge' every
    * version), then a from-genesis CDF replay. The claim under test:
    * the merge-run consolidation holds the FRAME count at 3
    * (pre/delete + postimage + merge-insert) and plan time ~flat in k
    * — the "years of daily merges" history must not replay one plan
    * frame per version. Multipliers are read as DEPTHS. */
  private def cowDepthCurve(dir: String, depths: Seq[Int]): Unit = {
    val spark = session()
    import graft.operators.Versioned
    import Versioned.MergeClause._
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    val nBase = base.count()
    import spark.implicits._
    def src(rows: Seq[(Long, String, Long)]): DataFrame = {
      val df = rows.toDF("doc_id", "lang", "n_chars")
      df.select(df.columns.zip(base.schema.fields).map { case (c, f) =>
        col(c).cast(f.dataType).as(c) }.toSeq: _*)
    }
    depths.foreach { k =>
      val ids = base.orderBy("doc_id").limit(2 * k).collect()
        .map(_.getLong(0))
      val (delIds, updIds) = ids.splitAt(k)
      val insBase = base.agg(max("doc_id")).collect()(0).getLong(0) + 1L
      // genesis + per merge: delete + pre/post pair + insert
      println(depthSeries(spark, base, "cowdepth", k, delIds,
        (tbl, delId, i) =>
          Versioned.mergeClauses(spark, tbl,
            src(Seq((delId, "xx", -1L), (updIds(i), "xx", 777L),
              (insBase + i, "xx", 1L))),
            Seq("doc_id"), Seq(
              MatchedDelete(Some(col("SRC.n_chars") === -1L)),
              MatchedUpdate(Seq("n_chars" -> col("SRC.n_chars"))),
              NotMatchedInsert())),
        expectRows = nBase + 4L * k))
    }
    spark.stop()
  }

  /** Deletion-vector curve: the scatter-delete claim, MEASURED. Table
    * at multiplier m (m salted copies, one file group per copy), then
    * a GDPR-shaped delete that removes EXACTLY ONE row from EVERY
    * group (a modulo predicate stats cannot prune — the worst case for
    * copy-on-write). Run twice per m on identical tables: DV path
    * (default threshold) vs forced COW (`maxDeleteFraction = 0`).
    * The claim under test: COW rewrite bytes grow ∝ m (every group
    * rewritten) while the DV commit's new bytes stay ~flat (a KB-scale
    * position artifact), with identical surviving rows. */
  private def dvCurve(dir: String, multipliers: Seq[Int]): Unit = {
    val spark = session()
    import graft.operators.Versioned
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    def copyAt(c: Int): DataFrame = base.select(
      (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
      col("lang"), col("n_chars"))
    val probeId = base.agg(org.apache.spark.sql.functions.min("doc_id"))
      .collect()(0).getLong(0)
    def filesBytes(tbl: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$tbl/files")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    multipliers.foreach { m =>
      def build(tag: String): String = {
        val tbl = java.nio.file.Files
          .createTempDirectory(s"graft-dv-$tag$m").toString + "/t"
        Versioned.commit(copyAt(0), tbl)
        (1 until m).foreach(c => Versioned.append(copyAt(c), tbl))
        tbl
      }
      // one row per group; % defeats stats pruning by design
      val cond = (col("doc_id") % 10000000L) === probeId
      def run(tbl: String, frac: Double): (Long, Long, Double, Long, Long) = {
        spark.conf.set("spark.graft.dv.maxDeleteFraction", frac.toString)
        val before = filesBytes(tbl)
        val vPre = Versioned.latestVersion(spark, tbl)
        val reads0 = graft.operators.GroupStats.readCount.get()
        val t0 = System.nanoTime()
        val v = Versioned.delete(spark, tbl)(cond)
        val sec = (System.nanoTime() - t0) / 1e9
        val sidecarReads = graft.operators.GroupStats.readCount.get() - reads0
        require(v == vPre + 1, "delete must commit")
        val mm = Versioned.parseManifest(spark, tbl, v)
        val rows = Versioned.read(spark, tbl).count()
        (filesBytes(tbl) - before, mm.dvs.size.toLong, sec, rows, sidecarReads)
      }
      val (dvBytes, dvEntries, dvSec, dvRows, dvReads) = run(build("dv"), 0.1)
      val (cowBytes, _, cowSec, cowRows, _) = run(build("cow"), 0.0)
      require(dvRows == cowRows, s"DV and COW must agree: $dvRows vs $cowRows")
      spark.conf.unset("spark.graft.dv.maxDeleteFraction")
      // sidecar_reads: the mutation's driver-side metadata GETs beyond
      // the manifest — row totals now ride the manifest (zero reads in
      // groupRows/dvClassify), leaving only the min/max pruning pass,
      // which readMany runs 16-way concurrent, never serially.
      println(f"""[scale-dv] {"multiplier":$m,"groups":$m,"deleted_rows":$m,"surviving_rows":$dvRows,"dv_new_bytes":$dvBytes,"dv_entries":$dvEntries,"dv_seconds":$dvSec%.1f,"sidecar_reads":$dvReads,"cow_new_bytes":$cowBytes,"cow_seconds":$cowSec%.1f}""")
    }
    spark.stop()
  }

  /** DV-backed SQL-MERGE curve: the scattered matched-action claim,
    * MEASURED through the clause surface. Table at multiplier m (one
    * group per salted copy); the merge's source holds EXACTLY ONE key
    * per group, split between a matched DELETE and a matched UPDATE
    * claim plus a fixed insert batch. Run twice per m on identical
    * tables: merge-on-read (default threshold) vs forced COW. The
    * claim: COW new bytes ∝ the table (every touched group rewritten),
    * DV new bytes ∝ the CHURN (positions + copies + inserts only) —
    * and the feed still attributes every row (asserted). */
  private def dvMergeCurve(dir: String, multipliers: Seq[Int]): Unit = {
    val spark = session()
    import graft.operators.Versioned
    import graft.operators.Versioned.MergeClause._
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    def copyAt(c: Int): DataFrame = base.select(
      (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
      col("lang"), col("n_chars"))
    val probeId = base.agg(org.apache.spark.sql.functions.min("doc_id"))
      .collect()(0).getLong(0)
    val probe2 = base.orderBy("doc_id").limit(2)
      .collect().map(_.getLong(0)).last
    def filesBytes(tbl: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$tbl/files")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    multipliers.foreach { m =>
      def build(tag: String): String = {
        val tbl = java.nio.file.Files
          .createTempDirectory(s"graft-dvm-$tag$m").toString + "/t"
        Versioned.commit(copyAt(0), tbl)
        (1 until m).foreach(c => Versioned.append(copyAt(c), tbl))
        tbl
      }
      // one delete claim + one update claim in EVERY group, plus a
      // fixed insert batch; % defeats stats pruning by design
      val src = (0 until m).flatMap { c =>
        Seq((c.toLong * 10000000L + probeId, "del"),
          (c.toLong * 10000000L + probe2, "upd"))
      } ++ (0 until 100).map(i => (9000000000L + i, "ins"))
      import spark.implicits._
      val srcDf = src.toDF("doc_id", "tag").localCheckpoint()
      def run(tbl: String, frac: Double): (Long, Double, Long, Long) = {
        spark.conf.set("spark.graft.dv.maxDeleteFraction", frac.toString)
        val before = filesBytes(tbl)
        val vPre = Versioned.latestVersion(spark, tbl)
        val t0 = System.nanoTime()
        val v = Versioned.mergeClauses(spark, tbl, srcDf, Seq("doc_id"), Seq(
          MatchedDelete(Some(col("SRC.tag") === "del")),
          MatchedUpdate(Seq("lang" -> col("SRC.tag"))),
          NotMatchedInsert(None,
            Seq("doc_id" -> col("SRC.doc_id"), "lang" -> col("SRC.tag")))))
        val sec = (System.nanoTime() - t0) / 1e9
        require(v == vPre + 1, "merge must commit")
        val mm = Versioned.parseManifest(spark, tbl, v)
        val rows = Versioned.read(spark, tbl).count()
        val feedRows =
          if (mm.dvs.nonEmpty)
            Versioned.changesFeed(spark, tbl, vPre).count()
          else -1L // COW merges are a rewrite boundary: no feed
        (filesBytes(tbl) - before, sec, rows, feedRows)
      }
      val (dvBytes, dvSec, dvRows, dvFeed) = run(build("dv"), 0.1)
      val (cowBytes, cowSec, cowRows, _) = run(build("cow"), 0.0)
      require(dvRows == cowRows, s"DV and COW must agree: $dvRows vs $cowRows")
      // the feed attributes: m deletes + m pre + m post + 100 inserts
      require(dvFeed == 3L * m + 100,
        s"feed must attribute every row: $dvFeed at m=$m")
      spark.conf.unset("spark.graft.dv.maxDeleteFraction")
      println(f"""[scale-dvmerge] {"multiplier":$m,"groups":$m,"claims":${2 * m},"surviving_rows":$dvRows,"dv_new_bytes":$dvBytes,"dv_seconds":$dvSec%.1f,"feed_rows":$dvFeed,"cow_new_bytes":$cowBytes,"cow_seconds":$cowSec%.1f}""")
    }
    spark.stop()
  }

  /** Incremental-dedup curve: the bloom-prune claim, MEASURED. Corpus at
    * multiplier m (token-bijection salted copies — disjoint alphabets,
    * so only copy 0 can overlap the batch), signature store written per
    * m; a FIXED batch of near-dup variants of copy-0 docs dedups
    * incrementally against it. Reported per m:
    *   - stored_band_rows: what the pre-prune pipeline materialized
    *     through the bucket-cap localCheckpoint (corpus docs × bands);
    *   - pruned_band_rows: what survives the bloom — the pruned
    *     pipeline's materialization (built here with the operator's own
    *     construction: bloom over the batch's (band, bandhash) keys);
    *   - verified_pairs: must stay CONSTANT in m (the batch only
    *     overlaps copy 0; disjoint alphabets kill everything else);
    *   - inc_seconds: wall time of the full minHashLshIncremental.
    * The claim under test: stored rows grow ∝ m while pruned rows and
    * pairs stay ~flat — i.e. the incremental path's materialized work
    * tracks the BATCH, not the corpus. */
  private def incrementalCurve(dir: String, multipliers: Seq[Int]): Unit = {
    val spark = session()
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    def salted(c: Int): DataFrame = base.select(
      (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
      array_join(transform(graft.functions.TextFunctions.tokens(col("text")),
        t => concat(lit(s"c${c}_"), t)), " ").as("text"))
    // Fixed batch: ~6% of copy-0's docs with a 3-token tail appended —
    // same alphabet as copy 0, so its true near-dups live there and only
    // there, at every multiplier. Offset far above ANY copy's id range
    // (copy c tops out at c·10^7 + 10^6): a first run used 9·10^8, which
    // copy 90's range swallowed at m=100 — the id collision merged batch
    // and copy-90 shingle sets in verification and pairs collapsed to 2.
    val batch = base
      .filter(graft.operators.Sampling.bucket(col("doc_id"), 31L) < 600)
      .select((col("doc_id") + lit(5000000000L)).as("doc_id"),
        concat(array_join(transform(graft.functions.TextFunctions.tokens(col("text")),
          t => concat(lit("c0_"), t)), " "), lit(" zz end tail")).as("text"))
      .localCheckpoint()
    val batchN = batch.count()

    multipliers.foreach { m =>
      val corpus = (0 until m).map(salted).reduce(_.unionByName(_))
        .localCheckpoint()
      val n = corpus.count()
      val tmp = java.nio.file.Files.createTempDirectory("graft-inc-scale").toString
      Dedup.writeMinHashSignatures(corpus, "text", "doc_id", s"$tmp/sigs", numHashes = 32)
      val stored = Dedup.bandedStore(spark, s"$tmp/sigs", numHashes = 32, bands = 16)
        .localCheckpoint()
      val storedRows = stored.count()
      // The operator's own prune construction, measured in isolation.
      Dedup.writeMinHashSignatures(batch, "text", "doc_id", s"$tmp/bsigs", numHashes = 32)
      val batchBand = Dedup.bandedStore(spark, s"$tmp/bsigs", numHashes = 32, bands = 16)
      val key = xxhash64(col("__band"), col("__bandhash"))
      val bloom = graft.operators.BloomPrune.build(batchBand, key,
        math.max(1024L, batchN * 16)).get
      val surviving = graft.operators.BloomPrune.prune(stored, key, bloom).count()
      val t0 = System.nanoTime()
      val pairs = Dedup.minHashLshIncremental(spark, batch, corpus,
        "text", "doc_id", s"$tmp/sigs",
        numHashes = 32, bands = 16, threshold = 0.6).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""[scale] {"multiplier":$m,"docs":$n,"batch_docs":$batchN,"stored_band_rows":$storedRows,"pruned_band_rows":$surviving,"verified_pairs":$pairs,"inc_seconds":$sec%.1f}""")
    }
    spark.stop()
  }

  /** Containment-dedup scale curve. Construction differs from the text
    * family in two forced ways. (1) The base corpus has ZERO containment
    * pairs, so true containments are PLANTED per copy — the same 2%
    * excerpt scheme as the `containment_pairs` query. (2) Copies must be
    * disjoint at the CHARACTER level (containment fingerprints are char
    * grams), so each copy applies a per-copy LETTER BIJECTION (alphabet
    * rotation). A char bijection preserves every within-copy gram
    * equality pattern exactly, while making every letter-bearing gram
    * hash copy-unique — document frequency is then inherently per-copy
    * and the DF guard stays ABSOLUTE (maxDf = 100), identical semantics
    * at every m. (A first attempt scaled maxDf with m instead; that
    * loosens the guard for copy-local grams — df flat, cap growing — and
    * manufactured pairs that do not exist at m=1. The measured blow-up
    * is kept in git history as the cautionary tale.) Within-copy pairs
    * are expected ~m× the base count — approximately, not exactly:
    * winnowing selects window MINIMA of hash values, so the per-copy
    * fingerprint SELECTION varies under the bijection even though gram
    * equality does not. Candidate volume is the fingerprint-join fan-out
    * Σ c·(c−1) over kept fingerprints — the number the DF guard bounds. */
  private def containmentCurve(dir: String, multipliers: Seq[Int]): Unit = {
    val spark = session()
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    val withPlants = base.unionByName(
      base.filter(graft.operators.Sampling.bucket(col("doc_id"), 23L) < 200)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          substring(col("text"), 30, 300).as("text")))
    // Affine letter bijection x → k·x + shift (mod 26), k coprime to 26:
    // 12 multipliers × 26 shifts = 312 distinct bijections, so the curve
    // can run past the 26 plain rotations (100× needs 100 copies).
    val coprime = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def salted(c: Int): DataFrame = {
      val k = coprime(c % coprime.size)
      val shift = c / coprime.size
      val mapped = alphabet.indices.map(x => alphabet((x * k + shift) % 26)).mkString
      withPlants.select(
        (col("doc_id") + lit(c.toLong * 10000000L)).as("doc_id"),
        translate(lower(col("text")), alphabet, mapped).as("text"))
    }
    multipliers.foreach { m =>
      val corpus = (0 until m).map(salted).reduce(_.unionByName(_))
        .localCheckpoint()
      val n = corpus.count()
      val fps = graft.operators.TextAnalysis
        .winnowFingerprints(corpus, "text", "doc_id").localCheckpoint()
      val ex = fps.select(col("doc_id"), explode(col("fingerprints")).as("fp"))
      val cand = ex.groupBy("fp").count().filter(col("count") <= 100)
        .agg(coalesce(sum(col("count") * (col("count") - 1)), lit(0L)))
        .first().getLong(0)
      val t0 = System.nanoTime()
      val pairs = Dedup.containmentPairs(corpus, "text", "doc_id",
        maxDf = 100, minFp = 5, minContain = 0.8).localCheckpoint()
      val sec = (System.nanoTime() - t0) / 1e9
      val sameCopy =
        floor(col("inner_id") / 10000000L) === floor(col("outer_id") / 10000000L)
      val within = pairs.filter(sameCopy).count()
      val cross = pairs.filter(!sameCopy).count()
      println(f"""[scale-cont] {"multiplier":$m,"docs":$n,"candidate_pairs":$cand,"within_copy_pairs":$within,"cross_copy_pairs":$cross,"seconds":$sec%.1f}""")
    }
    spark.stop()
  }

  /** Embedding-dedup scale curve: m copies of the embeddings corpus,
    * copy c transformed by a per-copy SIGNED PERMUTATION of the
    * dimensions — an orthogonal map, so every within-copy cosine is
    * preserved EXACTLY (within-copy pairs must be m × the base count —
    * the linearity probe). CAVEAT measured on the shipped fixture:
    * structured embeddings keep residual CROSS-copy similarity under
    * sign-scrambling at mid thresholds (0.45), so cross-copy pairs are
    * real data, grow ~m², and are reported SEPARATELY — they say nothing
    * about the blocking's scaling. The text-family curve (disjoint token
    * alphabets → zero cross-copy similarity by construction) is the
    * clean recorded evidence; this mode exists to check the within-copy
    * line and the wall-time shape. */
  private def embeddingCurve(dir: String, multipliers: Seq[Int]): Unit = {
    val spark = session()
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val dim = base.select(size(col("embedding"))).first().getInt(0)

    def salted(c: Int): DataFrame = {
      val rnd = new scala.util.Random(1000L + c)
      val perm = rnd.shuffle((0 until dim).toList)
      val sign = Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
      val mapped = array((0 until dim).map(i =>
        element_at(col("embedding"), perm(i) + 1).cast("double") * lit(sign(i))): _*)
      base.select(
        (col("vec_id") + lit(c.toLong * 10000000L)).as("vec_id"),
        mapped.as("embedding"))
    }

    multipliers.foreach { m =>
      val corpus = (0 until m).map(salted).reduce(_.unionByName(_))
        .localCheckpoint()
      val n = corpus.count()
      val t0 = System.nanoTime()
      val pairs = graft.operators.Similarity.cellBlockedCosinePairs(
        corpus, "embedding", "vec_id", threshold = 0.45)
        .localCheckpoint()
      // WITHIN-copy pairs are the linearity claim (cosines preserved
      // exactly by the orthogonal map, so they must be m × the base
      // count); CROSS-copy pairs are residual similarity the signed
      // permutation fails to scramble in structured embeddings — a DATA
      // artifact of this construction (reported separately so the output
      // self-describes; the algorithm found them because they are real).
      val sec = (System.nanoTime() - t0) / 1e9
      val sameCopy = floor(col("id_a") / 10000000L) === floor(col("id_b") / 10000000L)
      val within = pairs.filter(sameCopy).count()
      val cross = pairs.filter(!sameCopy).count()
      println(f"""[scale-emb] {"multiplier":$m,"vectors":$n,"within_copy_pairs":$within,"cross_copy_pairs":$cross,"seconds":$sec%.1f}""")
    }
    spark.stop()
  }
}
