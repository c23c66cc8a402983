package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Versioned

/** Exactly-once streaming ingest into versioned tables
  * ([[Versioned.appendOnce]]/[[Versioned.streamInto]]) and z-order-
  * clustered rewrites ([[Versioned.cluster]]).
  *
  * appendOnce contract under test: a replayed (appId, batchId) is a
  * no-op (None, no new version, no duplicate rows, no leaked group);
  * distinct appIds keep independent watermarks; streamInto composes
  * the watermark with the engine checkpoint so a full re-drain of the
  * same source appends nothing.
  *
  * cluster contract: rows identical to the parent version, history
  * intact, and readWhere prunes on EVERY layout dimension afterwards
  * (the tight-stats property arrival-ordered appends cannot have). */
class VersionedIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tbl() = Files.createTempDirectory("graft-vingest").toString + "/t"

  private def rows(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"d$i")).toDF("id", "v")

  test("appendOnce: replayed batch is skipped, no duplicate rows, no new version") {
    val dir = tbl()
    assert(Versioned.appendOnce(rows(0, 10), dir, "app", 0L).contains(0L))
    assert(Versioned.appendOnce(rows(10, 20), dir, "app", 1L).contains(1L))
    // Replay of batch 1 (and the long-gone batch 0): both no-ops.
    assert(Versioned.appendOnce(rows(10, 20), dir, "app", 1L).isEmpty)
    assert(Versioned.appendOnce(rows(0, 10), dir, "app", 0L).isEmpty)
    assert(Versioned.latestVersion(spark, dir) == 1L)
    assert(Versioned.read(spark, dir).count() == 20L)
    assert(Versioned.lastCommittedBatch(spark, dir, "app") == 1L)
    // The skipped replay's group was abandoned and deleted: the table
    // holds exactly the two committed groups.
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/files")).length == 2)
  }

  test("appendOnce: any non-empty appId, quotes and backslashes included") {
    val dir = tbl()
    val app = "a\"b\\c"
    assert(Versioned.appendOnce(rows(0, 5), dir, app, 0L).contains(0L))
    assert(Versioned.appendOnce(rows(0, 5), dir, app, 0L).isEmpty)
    Versioned.clearResolvedManifestCache()
    assert(Versioned.lastCommittedBatch(spark, dir, app) == 0L)
    assert(Versioned.parseManifest(spark, dir, 0L).txn.contains((app, 0L)))
    intercept[IllegalArgumentException](Versioned.appendOnce(rows(5, 6), dir, "", 1L))
  }

  test("clearing the manifest caches makes lastCommittedBatch re-read the records") {
    val dir = tbl()
    Versioned.commit(rows(0, 5), dir)                                     // v0
    assert(Versioned.appendOnce(rows(5, 10), dir, "app", 0L).isDefined)   // v1
    assert(Versioned.appendOnce(rows(10, 15), dir, "app", 1L).isDefined)  // v2
    Versioned.append(rows(15, 20), dir)                                   // v3
    assert(Versioned.appendOnce(rows(20, 25), dir, "app", 2L).isDefined)  // v4
    Versioned.append(rows(25, 30), dir)                                   // v5
    assert(Versioned.lastCommittedBatch(spark, dir, "app") == 2L)
    // What a reader with no cache gets from the records that remain.
    def cold(): Long = {
      Versioned.clearResolvedManifestCache()
      val (lo, hi) = Versioned.versionBounds(spark, dir)
      (lo to hi).flatMap(v =>
          scala.util.Try(Versioned.parseManifest(spark, dir, v).txn).toOption.flatten)
        .collect { case ("app", b) => b }.foldLeft(-1L)(math.max)
    }
    // The vacuum drops the record that witnesses batch 0 (and rolls the
    // cache epoch, since it drops the oldest record).
    Versioned.vacuum(spark, dir, 2L)
    assert(Versioned.lastCommittedBatch(spark, dir, "app") == 2L)
    // Drop the record that witnesses batch 2 from the middle of the log:
    // bounds and epoch stay, so only the cleared caches force a re-read.
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$dir/_versions/v4.json"), false)
    val expected = cold()
    assert(expected == 1L)
    Versioned.clearResolvedManifestCache()
    assert(Versioned.lastCommittedBatch(spark, dir, "app") == expected)
  }

  test("appendOnce: distinct appIds have independent watermarks") {
    val dir = tbl()
    assert(Versioned.appendOnce(rows(0, 5), dir, "appA", 3L).isDefined)
    // appB has never committed batch 3 — same number, different app.
    assert(Versioned.appendOnce(rows(5, 10), dir, "appB", 3L).isDefined)
    assert(Versioned.appendOnce(rows(0, 5), dir, "appA", 3L).isEmpty)
    assert(Versioned.read(spark, dir).count() == 10L)
    assert(Versioned.lastCommittedBatch(spark, dir, "appB") == 3L)
    assert(Versioned.lastCommittedBatch(spark, dir, "missing") == -1L)
  }

  test("txn watermark is incremental-cache-correct: interleaved writers, re-created tables") {
    val dir = tbl()
    Versioned.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    assert(Versioned.appendOnce(Seq((2L, "b")).toDF("id", "v"), dir, "appA", 0L).isDefined)
    assert(Versioned.lastCommittedBatch(spark, dir, "appA") == 0L)
    // interleave: a txn-less append and a FOREIGN appId must not move
    // appA's watermark (the cache walks every new version, whoever wrote it)
    Versioned.append(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(Versioned.appendOnce(Seq((4L, "d")).toDF("id", "v"), dir, "appB", 9L).isDefined)
    assert(Versioned.lastCommittedBatch(spark, dir, "appA") == 0L)
    assert(Versioned.lastCommittedBatch(spark, dir, "appB") == 9L)
    assert(Versioned.appendOnce(Seq((5L, "e")).toDF("id", "v"), dir, "appA", 1L).isDefined)
    assert(Versioned.lastCommittedBatch(spark, dir, "appA") == 1L)
    // replay below the watermark: skipped
    assert(Versioned.appendOnce(Seq((5L, "e")).toDF("id", "v"), dir, "appA", 1L).isEmpty)
    // table DELETED and RE-CREATED at the same path — IMMEDIATELY, with
    // no sleep: the epoch is CONTENT-derived (oldest manifest text), so
    // a re-creation inside the filesystem's mtime granularity still
    // resets the cached walk instead of serving the old watermark
    // (an mtime epoch needed a 1100 ms dodge here; that was the bug).
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    Versioned.commit(Seq((9L, "z")).toDF("id", "v"), dir)
    assert(Versioned.lastCommittedBatch(spark, dir, "appA") == -1L,
      "a re-created table must not inherit the old watermark")
    assert(Versioned.appendOnce(Seq((10L, "y")).toDF("id", "v"), dir, "appA", 0L).isDefined)
  }

  test("appendOnce: schema-drift failure leaves NO orphaned file group") {
    val dir = tbl()
    assert(Versioned.appendOnce(rows(0, 5), dir, "app", 0L).contains(0L))
    val groupsBefore = new java.io.File(s"$dir/files").listFiles()
      .count(_.isDirectory)
    // Incompatible batch (id retyped): strict validation raises — and
    // the already-written group must be deleted, not leaked forever
    // (vacuum only reclaims groups listed by dropped manifests).
    intercept[IllegalArgumentException] {
      Versioned.appendOnce(
        Seq(("x", "d")).toDF("id", "v"), dir, "app", 1L)
    }
    val groupsAfter = new java.io.File(s"$dir/files").listFiles()
      .count(_.isDirectory)
    assert(groupsAfter == groupsBefore,
      s"drift-failed appendOnce leaked a group: $groupsBefore -> $groupsAfter")
    assert(Versioned.latestVersion(spark, dir) == 0L)
  }

  test("CDC windows cross metadata-only versions without resync; rewrites still raise") {
    val dir = tbl()
    Versioned.append(rows(0, 10), dir)                       // v0
    Versioned.append(rows(10, 20), dir)                      // v1
    Versioned.addConstraint(spark, dir, "pos", "id >= 0")    // v2 metadata
    Versioned.append(rows(20, 30), dir)                      // v3
    Versioned.dropConstraint(spark, dir, "pos")              // v4 metadata
    Versioned.renameColumn(spark, dir, "v", "label")         // v5 metadata
    Versioned.append(
      (30L until 40L).map(i => (i, s"d$i")).toDF("id", "label"), dir) // v6
    // the window crosses three metadata-only versions: still a pure
    // file-group difference, rows under the LATEST logical names
    val ch = Versioned.changes(spark, dir, 1L)
    assert(ch.columns.toSeq == Seq("id", "label"))
    assert(ch.select("id").as[Long].collect().sorted.toSeq == (20L until 40L))
    val (d, cur, resync) = Versioned.pollChanges(spark, dir, 1L)
    assert(!resync && cur == 6L && d.count() == 20)
    // a rewrite in the window still raises
    Versioned.delete(spark, dir)(col("id") < 5L)             // v7 rewrite
    val e = intercept[IllegalArgumentException] {
      Versioned.changes(spark, dir, 1L)
    }
    assert(e.getMessage.contains("rewrite"))
    assert(Versioned.pollChanges(spark, dir, 1L)._3, "rewrite => resync")
  }

  test("appendOnce versions are ordinary appends: changes/pollChanges see each batch once") {
    val dir = tbl()
    Versioned.appendOnce(rows(0, 10), dir, "app", 0L)
    Versioned.appendOnce(rows(10, 30), dir, "app", 1L)
    val (delta, cursor, resync) = Versioned.pollChanges(spark, dir, 0L)
    assert(!resync && cursor == 1L)
    assert(delta.agg(count(lit(1)), sum("id")).as[(Long, Long)].collect()(0)
      == ((20L, (10L until 30L).sum)))
  }

  test("streamInto: drain appends one version per micro-batch; a full re-drain appends nothing") {
    val dir = tbl()
    val scratch = Files.createTempDirectory("graft-vstream")
    val src = scratch.resolve("src").toString
    val ckpt = scratch.resolve("ckpt").toString
    // Two source files → the file stream serves them (maxFilesPerTrigger=1
    // forces two micro-batches, hence two append versions).
    rows(0, 50).write.parquet(s"$src/b0")
    rows(50, 80).write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b0").schema
    def drain(): Unit =
      Versioned.streamInto(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$src/*"),
        dir, "ingest", ckpt).awaitTermination()
    drain()
    val vAfterFirst = Versioned.latestVersion(spark, dir)
    assert(vAfterFirst >= 1L, "two micro-batches → at least two versions")
    assert(Versioned.read(spark, dir).count() == 80L)
    // Restarted drain over the same checkpoint: engine replays nothing
    // new; even a forced replay of the last batch is watermark-skipped.
    drain()
    assert(Versioned.latestVersion(spark, dir) == vAfterFirst)
    assert(Versioned.read(spark, dir).count() == 80L)
    assert(Versioned.appendOnce(rows(50, 80), dir, "ingest",
      Versioned.lastCommittedBatch(spark, dir, "ingest")).isEmpty)
  }

  test("schema evolution: new columns null-fill old groups; drift without evolve raises; type conflicts always raise") {
    val dir = tbl()
    Versioned.commit(rows(0, 10), dir) // (id, v)
    // Drift without opting in: loud failure, table untouched.
    val drifted = (10L until 20L).map(i => (i, s"d$i", i * 0.5)).toDF("id", "v", "score")
    intercept[IllegalArgumentException] { Versioned.append(drifted, dir) }
    assert(Versioned.latestVersion(spark, dir) == 0L)

    // Evolved append: table schema extends; old rows null-fill score.
    Versioned.append(drifted, dir, evolveSchema = true)
    val all = Versioned.read(spark, dir)
    assert(all.columns.toSeq == Seq("id", "v", "score"))
    assert(all.count() == 20L)
    assert(all.filter(col("score").isNull).count() == 10L)
    assert(all.filter(col("score").isNotNull).agg(sum("id")).collect()(0).getLong(0)
      == (10L until 20L).sum)
    // The historical version reads its own (pre-evolution) schema.
    assert(Versioned.read(spark, dir, 0L).columns.toSeq == Seq("id", "v"))

    // A later batch MISSING the evolved column: tolerated under evolve,
    // null-filled in the new group.
    Versioned.append(rows(20, 25), dir, evolveSchema = true)
    val v2 = Versioned.read(spark, dir)
    assert(v2.columns.toSeq == Seq("id", "v", "score"))
    assert(v2.filter(col("id") >= 20 && col("score").isNull).count() == 5L)

    // Type conflicts raise even with evolve.
    val conflict = Seq((99L, "x", "not-a-double")).toDF("id", "v", "score")
    intercept[IllegalArgumentException] {
      Versioned.append(conflict, dir, evolveSchema = true)
    }

    // readWhere over the evolved table stays exact (old groups have no
    // stats for the new column — conservatively kept, then filtered).
    val p = Versioned.readWhere(spark, dir)(col("score") > 6.0)
    assert(p.select("id").as[Long].collect().sorted.toSeq ==
      (13L until 20L).toSeq)
    val nulls = Versioned.readWhere(spark, dir)(col("score").isNull)
    assert(nulls.count() == 15L)
  }

  test("restore: metadata-only republish of an old version; vacuumed targets refuse") {
    val dir = tbl()
    Versioned.commit(rows(0, 20), dir)             // v0
    Versioned.append(rows(20, 30), dir)            // v1
    Versioned.commit(rows(0, 5), dir)              // v2: the "bad" strike
    val v3 = Versioned.restore(spark, dir, 1L)
    assert(v3 == 3L)
    assert(Versioned.read(spark, dir).count() == 30L)
    // Metadata-only: the restored version lists v1's exact groups.
    assert(Versioned.read(spark, dir, 3L).inputFiles.map(groupOf).toSet ==
      Versioned.read(spark, dir, 1L).inputFiles.map(groupOf).toSet)
    // The mistake stays in history; CDC consumers see a rewrite boundary.
    assert(Versioned.read(spark, dir, 2L).count() == 5L)
    val (_, _, resync) = Versioned.pollChanges(spark, dir, 2L)
    assert(resync, "restore must read as a rewrite boundary")
    // schema evolution carries through a restore of a pre-evolution version
    Versioned.append(rows(30, 32).withColumn("extra", lit(1L)), dir, evolveSchema = true)
    val v5 = Versioned.restore(spark, dir, 3L)
    assert(Versioned.read(spark, dir, v5).columns.toSeq == Seq("id", "v"))
    // vacuum the early history away: restore refuses, named
    Versioned.vacuum(spark, dir, keepFrom = v5)
    val e = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir, 2L)
    }
    assert(e.getMessage.contains("restorable") || e.getMessage.contains("lists no files"),
      e.getMessage)
  }

  test("schema-bearing manifest: read plans with ZERO jobs (no parquet inference pass)") {
    val dir = tbl()
    Versioned.commit(rows(0, 50), dir)
    Versioned.append(rows(50, 80), dir)
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val schema = Versioned.read(spark, dir).schema
      Thread.sleep(1000) // listener events post asynchronously
      assert(counter.get() == 0,
        s"schema-on-manifest read must not run an inference job, ran ${counter.get()}")
      assert(schema.fieldNames.toSeq == Seq("id", "v"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("timestampAsOf: versionAt lands on the last version at-or-before ts; datasource option agrees") {
    val dir = tbl()
    Versioned.commit(rows(0, 10), dir)
    val afterV0 = java.time.Instant.now()
    Thread.sleep(15) // commit instants must straddle the probe
    Versioned.append(rows(10, 30), dir)
    assert(Versioned.versionAt(spark, dir, afterV0) == 0L)
    assert(Versioned.readAsOf(spark, dir, afterV0).count() == 10L)
    assert(Versioned.versionAt(spark, dir, java.time.Instant.now()) == 1L)
    // Before genesis: nothing existed.
    intercept[IllegalArgumentException] {
      Versioned.versionAt(spark, dir, afterV0.minusSeconds(3600))
    }
    val viaDs = spark.read.format("graft")
      .option("timestampAsOf", afterV0.toString).load(dir)
    assert(viaDs.count() == 10L)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("timestampAsOf", afterV0.toString)
        .option("versionAsOf", 1).load(dir)
    }
  }

  private def groupOf(path: String): String =
    path.split("/files/")(1).split("/")(0)

  test("cluster: rows identical, history intact, readWhere prunes on every dim") {
    val dir = tbl()
    // Arrival order is random in BOTH dims: pre-cluster group stats all
    // span the full domain, so nothing prunes until the rewrite.
    val rnd = new scala.util.Random(7)
    val data = rnd.shuffle((0 until 4000).toVector)
      .map(i => (i.toLong, (i * 2654435761L % 4000).toDouble, s"r$i"))
    val dfs = data.grouped(1000).toSeq
    Versioned.commit(dfs.head.toDF("x", "y", "v"), dir)
    dfs.tail.foreach(b => Versioned.append(b.toDF("x", "y", "v"), dir))
    val parentV = Versioned.latestVersion(spark, dir)
    val before = Versioned.read(spark, dir)
    val beforeRows = before.orderBy("x").collect().toSeq

    val newV = Versioned.cluster(spark, dir, Seq("x", "y"), numGroups = 8)
    assert(newV == parentV + 1)
    val after = Versioned.read(spark, dir)
    assert(after.orderBy("x").collect().toSeq == beforeRows)
    // Parent version still reads its own files.
    assert(Versioned.read(spark, dir, parentV).count() == 4000L)

    val total = after.inputFiles.map(groupOf).toSet.size
    assert(total >= 6, s"expected ~8 clustered groups, got $total")
    val px = Versioned.readWhere(spark, dir)(col("x").between(100, 400))
    val py = Versioned.readWhere(spark, dir)(col("y") < 300.0)
    assert(px.inputFiles.map(groupOf).toSet.size < total,
      "x-range must prune clustered groups")
    assert(py.inputFiles.map(groupOf).toSet.size < total,
      "y-range must prune clustered groups")
    assert(px.count() ==
      Versioned.read(spark, dir).filter(col("x").between(100, 400)).count())
    assert(py.count() ==
      Versioned.read(spark, dir).filter(col("y") < 300.0).count())
    // Staging is cleaned up.
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/_staging")))
  }

  test("cluster: randomized 2-D predicates stay exact under skipping") {
    val dir = tbl()
    val rnd = new scala.util.Random(11)
    val data = rnd.shuffle((0 until 2000).toVector)
      .map(i => (i.toLong, ((i * 7919) % 2000).toLong))
    Versioned.commit(data.toDF("a", "b"), dir)
    Versioned.cluster(spark, dir, Seq("a", "b"), numGroups = 6)
    (1 to 15).foreach { _ =>
      val (al, ah) = { val l = rnd.nextInt(2200) - 100; (l, l + rnd.nextInt(800)) }
      val bl = rnd.nextInt(2000)
      val p = Versioned.readWhere(spark, dir)(
        col("a").between(al, ah) || col("b") >= bl)
        .agg(count(lit(1)), coalesce(sum("a"), lit(0L))).collect()(0)
      val e = Versioned.read(spark, dir)
        .filter(col("a").between(al, ah) || col("b") >= bl)
        .agg(count(lit(1)), coalesce(sum("a"), lit(0L))).collect()(0)
      assert(p == e, s"a∈[$al,$ah] ∨ b≥$bl drifted: pruned=$p expected=$e")
    }
  }
}
