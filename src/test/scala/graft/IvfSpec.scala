package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Similarity}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("IVF topK achieves reasonable recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = IvfIndex.ivfTopK(emb, queries, "embedding", "vec_id", k = 10,
      nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("persisted index reproduces in-memory ivfTopK exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    try {
      IvfIndex.writeIndex(emb, "embedding", "vec_id", dir, nlist = 8, iters = 2)
      val mem = IvfIndex.ivfTopK(emb, queries, "embedding", "vec_id", k = 5,
        nlist = 8, nprobe = 3)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      val loaded = IvfIndex.loadTopK(spark, dir, queries, "embedding", "vec_id",
        k = 5, nprobe = 3)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
      assert(loaded == mem)
      // the artifact is cell-partitioned: probing must not read every file
      val parts = new java.io.File(s"$dir/assignments").listFiles()
        .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
      assert(parts.size == 8 || parts.size < 8 && parts.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("default nlist auto-sizes with the corpus: >16 cells beyond 256 vectors") {
    // 1000 synthetic vectors → autoNlist picks ceil(√1000)=32 cells; the
    // persisted centroids artifact makes the chosen nlist observable.
    val emb = (0L until 1000L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 0.37 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_auto").toString
    try {
      IvfIndex.writeIndex(emb, "embedding", "vec_id", dir) // nlist = auto
      val cells = spark.read.parquet(s"$dir/centroids").count()
      assert(cells == 32, s"expected autoNlist(1000)=32 centroids, got $cells")
      // the default-config probe is still a working index over those cells
      val queries = emb.filter($"vec_id" < 5)
      val out = IvfIndex.loadTopK(spark, dir, queries, "embedding", "vec_id", k = 3)
      assert(out.count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("index lifecycle: append without retrain, imbalance metric, staged rebalance") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_lc").toString + "/idx"
    try {
      // build on half, append the other half — no retrain
      IvfIndex.writeIndex(emb.filter($"vec_id" % 2 === 0), "embedding", "vec_id",
        dir, nlist = 8, iters = 2)
      IvfIndex.appendToIndex(spark, dir, emb.filter($"vec_id" % 2 === 1),
        "embedding", "vec_id")
      assert(spark.read.parquet(s"$dir/assignments").count() == emb.count())
      // appended index still answers: odd ids are reachable as neighbors
      val out = IvfIndex.loadTopK(spark, dir, queries, "embedding", "vec_id",
        k = 5, nprobe = 3)
      assert(out.filter($"neighbor_id" % 2 === 1).count() > 0)
      val exact = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val got = out.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert((exact intersect got).size.toDouble / exact.size >= 0.4)

      val imb = IvfIndex.cellImbalance(spark, dir)
      assert(imb >= 1.0 && imb < 100.0, s"imbalance $imb")

      // rebalance = retrain over current contents; value-identical to a
      // fresh full-corpus build at the same (nlist, iters, seed)
      IvfIndex.rebalance(spark, dir, nlist = 8, iters = 2)
      val fresh = java.nio.file.Files.createTempDirectory("graft_ivf_fresh").toString + "/idx"
      IvfIndex.writeIndex(emb, "embedding", "vec_id", fresh, nlist = 8, iters = 2)
      val a = IvfIndex.loadTopK(spark, dir, queries, "embedding", "vec_id", k = 5, nprobe = 3)
        .collect().map(_.toSeq).toSet
      val b = IvfIndex.loadTopK(spark, fresh, queries, "embedding", "vec_id", k = 5, nprobe = 3)
        .collect().map(_.toSeq).toSet
      assert(a == b, "rebalanced index must equal a fresh build over the same rows")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir).getParentFile)
    }
  }

  test("loadTopK prunes the assignments scan to the probed cells (literal partition filter)") {
    // The probed-cell set is collected on the driver (bounded by nlist)
    // and applied as a LITERAL isin on the partition column — pruning
    // must not depend on dynamic partition pruning firing. At an
    // nprobe=2-of-8 probe the scan must carry `cell IN (...)`.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_prune").toString
    try {
      IvfIndex.writeIndex(emb, "embedding", "vec_id", dir, nlist = 8, iters = 2)
      val out = IvfIndex.loadTopK(spark, dir, queries, "embedding", "vec_id",
        k = 3, nprobe = 2)
      val leaves = out.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      val scan = leaves.split("\n").filter(_.contains("assignments")).mkString("\n")
      assert(scan.nonEmpty, s"no assignments scan leaf found:\n$leaves")
      assert(scan.contains("PartitionFilters: [") && scan.contains("cell"),
        s"assignments scan carries no partition filter on cell:\n$scan")
      assert(scan.replaceAll(".*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("IN"), s"partition filter is not a literal IN list:\n$scan")
      assert(out.count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a loadTopK batch runs a pinned number of Spark jobs") {
    // centroids 1, probed cells 1, assignments footer 1, and one query
    // whose single exchange is keyed by query_id (its broadcast, shuffle
    // and result jobs)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_jobs").toString
    try {
      IvfIndex.writeIndex(emb, "embedding", "vec_id", dir, nlist = 8, iters = 2)
      val out = IvfIndex.loadTopK(spark, dir, queries, "embedding", "vec_id", k = 5, nprobe = 3)
      val exchanges = out.queryExecution.executedPlan.toString.split("\n")
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1, out.queryExecution.executedPlan.toString)
      val jobs = jobsOf(IvfIndex.loadTopK(spark, dir, queries, "embedding", "vec_id",
        k = 5, nprobe = 3).collect())
      assert(jobs == 6, s"loadTopK ran $jobs jobs")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a second index build at the same nlist compiles no new class") {
    // The centroid scores read unit centroids from array literals, so
    // the generated code depends on nlist only: k-means iterations,
    // builds over other data and probes share their classes.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_codegen").toString
    try {
      // disjoint halves as files, so the two builds differ in data only
      emb.filter($"vec_id" % 2 === 0).write.parquet(s"$root/even")
      emb.filter($"vec_id" % 2 === 1).write.parquet(s"$root/odd")
      def build(half: String): Long = {
        val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        val before = compiles.getCount
        IvfIndex.writeIndex(spark.read.parquet(s"$root/$half"), "embedding", "vec_id",
          s"$root/idx_$half", nlist = 8, iters = 2)
        compiles.getCount - before
      }
      build("even")
      val second = build("odd")
      assert(second == 0L, s"the second build compiled $second classes")
      assert(spark.read.parquet(s"$root/idx_odd/centroids").collect().toSet !=
        spark.read.parquet(s"$root/idx_even/centroids").collect().toSet)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("vectors appended twice keep one (query, neighbor) row per pair and the same top-k") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_dup").toString
    try {
      IvfIndex.writeIndex(emb, "embedding", "vec_id", dir, nlist = 8, iters = 2)
      def probe() = IvfIndex.loadTopK(spark, dir, queries, "embedding", "vec_id",
        k = 5, nprobe = 3).as[(Long, Long, Double, Int)].collect()
      val once = probe()
      val again = emb.filter($"vec_id" < 500)
      IvfIndex.appendToIndex(spark, dir, again, "embedding", "vec_id")
      IvfIndex.appendToIndex(spark, dir, again, "embedding", "vec_id")
      val thrice = probe()
      assert(thrice.map(r => (r._1, r._2)).distinct.length == thrice.length)
      thrice.groupBy(_._1).values.foreach { rows =>
        assert(rows.map(_._4).sorted.toSeq == (1 to 5))
      }
      assert(thrice.toSet == once.toSet)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("cachedIndex: one build per fixture fingerprint, rebuild on input change") {
    val src = java.nio.file.Files.createTempDirectory("graft_ivf_src").toString + "/emb"
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_root").toString
    try {
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .write.parquet(src)
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def get(): String = IvfIndex.cachedIndex(spark, src, "spec_idx", Some(root)) { d =>
        builds.incrementAndGet()
        IvfIndex.writeIndex(spark.read.parquet(src), "embedding", "vec_id",
          d, nlist = 8, iters = 2)
      }
      val idx1 = get()
      val idx2 = get()
      assert(idx1 == idx2 && builds.get() == 1,
        s"second call must serve the artifact, built ${builds.get()}x")
      // the served artifact answers probes
      val q = spark.read.parquet(src).filter($"vec_id" < 3)
      assert(IvfIndex.loadTopK(spark, idx1, q, "embedding", "vec_id", k = 3).count() > 0)
      // input rewrite -> new fingerprint -> rebuild, old artifact pruned
      Thread.sleep(1100) // mtime granularity
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter($"vec_id" % 2 === 0)
        .write.mode("overwrite").parquet(src)
      val idx3 = get()
      assert(builds.get() == 2, "rewritten input must trigger a rebuild")
      assert(idx3 != idx1)
      // stale fingerprint dirs survive the grace window (a concurrent
      // reader may still be probing the old artifact) ...
      assert(new java.io.File(root, "spec_idx").listFiles().count(_.isDirectory) == 2,
        "stale fingerprint dir must be kept inside the grace window")
      // ... and are swept by the next winning build once quiet past it
      spark.conf.set("spark.graft.ivf.cache.staleGraceMs", "0")
      try {
        Thread.sleep(1100) // mtime granularity: let the old dir go quiet
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .filter($"vec_id" % 3 === 0)
          .write.mode("overwrite").parquet(src)
        val idx4 = get()
        assert(builds.get() == 3 && idx4 != idx3)
        assert(new java.io.File(root, "spec_idx").listFiles().count(_.isDirectory) == 1,
          "quiet stale fingerprint dirs must be pruned by the next build")
      } finally spark.conf.unset("spark.graft.ivf.cache.staleGraceMs")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(src).getParentFile)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("cachedIndex: a crashed winner's stale _BUILDING marker is taken over, not rebuilt forever") {
    val src = java.nio.file.Files.createTempDirectory("graft_ivf_src2").toString + "/emb"
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_root2").toString
    try {
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .write.parquet(src)
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def get(): String = IvfIndex.cachedIndex(spark, src, "crash_idx", Some(root)) { d =>
        builds.incrementAndGet()
        IvfIndex.writeIndex(spark.read.parquet(src), "embedding", "vec_id",
          d, nlist = 8, iters = 2)
      }
      // Simulate the crash: the winner created _BUILDING then died before
      // building anything (no index, no _FINGERPRINT).
      val fp = graft.operators.Reports.fingerprint(spark, src)
      val fpDir = new java.io.File(new java.io.File(root, "crash_idx"), fp)
      fpDir.mkdirs()
      java.nio.file.Files.writeString(
        fpDir.toPath.resolve("_BUILDING"), fp + "\n")
      // Inside the grace window the marker is honored: losers build
      // throwaway staging indexes.
      val staged = get()
      assert(staged.contains("staging-") && builds.get() == 1,
        s"fresh _BUILDING must route to a staging build: $staged")
      // Quiet past the grace window: the next session TAKES OVER the
      // stale marker, rebuilds the shared artifact, and publishes it.
      spark.conf.set("spark.graft.ivf.cache.staleGraceMs", "0")
      try {
        Thread.sleep(1100) // mtime granularity
        val idx = get()
        // the takeover builds its OWN dir (never the crashed winner's
        // "index" — a merely-slow winner must not be torn) and
        // publishes it through the _FINGERPRINT pointer
        assert(!idx.contains("staging-") && idx.contains("/index"),
          s"takeover must publish a SHARED path: $idx")
        assert(builds.get() == 2)
        assert(fpDir.toPath.resolve("_FINGERPRINT").toFile.exists(),
          "takeover must publish the fingerprint pointer")
        assert(!fpDir.listFiles().exists(_.getName.startsWith("staging-")),
          "the winning build must sweep quiet loser staging dirs")
        // and from here on the artifact is simply served via the pointer
        assert(get() == idx && builds.get() == 2)
      } finally spark.conf.unset("spark.graft.ivf.cache.staleGraceMs")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(src).getParentFile)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("cachedIndex: a crashed TAKEOVER claimant self-heals (lease re-leases across windows)") {
    val src = java.nio.file.Files.createTempDirectory("graft_ivf_src4").toString + "/emb"
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_root4").toString
    try {
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .write.parquet(src)
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def get(): String = IvfIndex.cachedIndex(spark, src, "heal_idx", Some(root)) { d =>
        builds.incrementAndGet()
        IvfIndex.writeIndex(spark.read.parquet(src), "embedding", "vec_id",
          d, nlist = 8, iters = 2)
      }
      // crashed winner AND a crashed claimant from an earlier window:
      // both markers persist, neither published a pointer
      val fp = graft.operators.Reports.fingerprint(spark, src)
      val fpDir = new java.io.File(new java.io.File(root, "heal_idx"), fp)
      fpDir.mkdirs()
      java.nio.file.Files.writeString(fpDir.toPath.resolve("_BUILDING"), fp + "\n")
      val mt = fpDir.toPath.resolve("_BUILDING").toFile.lastModified()
      java.nio.file.Files.writeString(
        fpDir.toPath.resolve(s"_TAKEOVER_${mt}_1"), fp + "\n") // stale window
      spark.conf.set("spark.graft.ivf.cache.staleGraceMs", "0")
      try {
        Thread.sleep(1100) // let _BUILDING go quiet
        val idx = get()
        assert(builds.get() == 1 && !idx.contains("staging-"),
          s"a later window must be able to re-lease the takeover: $idx " +
            s"(builds=${builds.get()})")
        assert(fpDir.toPath.resolve("_FINGERPRINT").toFile.exists())
        assert(get() == idx && builds.get() == 1)
      } finally spark.conf.unset("spark.graft.ivf.cache.staleGraceMs")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(src).getParentFile)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("cachedIndex: a loser can WAIT for the winner's artifact instead of staging-rebuilding") {
    val src = java.nio.file.Files.createTempDirectory("graft_ivf_src3").toString + "/emb"
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_root3").toString
    try {
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .write.parquet(src)
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      def get(): String = IvfIndex.cachedIndex(spark, src, "wait_idx", Some(root)) { d =>
        builds.incrementAndGet()
        IvfIndex.writeIndex(spark.read.parquet(src), "embedding", "vec_id",
          d, nlist = 8, iters = 2)
      }
      // winner thread starts first; the loser (this thread) waits for
      // the shared artifact rather than paying a throwaway build
      spark.conf.set("spark.graft.ivf.cache.waitMs", "60000")
      try {
        val winner = new java.util.concurrent.CompletableFuture[String]()
        val t = new Thread(() => winner.complete(get()))
        t.start()
        Thread.sleep(300) // let the winner claim _BUILDING
        val loser = get()
        t.join()
        assert(builds.get() == 1, "the waiting loser must not build")
        assert(loser == winner.get() && loser.endsWith("/index") &&
          !loser.contains("staging-"),
          s"the loser must serve the SHARED artifact: $loser")
      } finally spark.conf.unset("spark.graft.ivf.cache.waitMs")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(src).getParentFile)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("IVF output is deterministic, ranked, and k-bounded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val a = IvfIndex.ivfTopK(emb, queries, "embedding", "vec_id", k = 3,
      nlist = 8, nprobe = 2).collect()
    val b = IvfIndex.ivfTopK(emb, queries, "embedding", "vec_id", k = 3,
      nlist = 8, nprobe = 2).collect()
    assert(a.toSeq == b.toSeq)
    val byQuery = a.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      assert(rows.length <= 3)
      assert(rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length))
    }
  }
}
