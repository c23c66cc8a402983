package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{EtlJob, Writes}
import graft.sources.{ParquetCatalogSource, PathRef, TableRef}
import graft.spec.{ConcurrentWriteException, JobConfigException}

/** Durability guards added after round 6: concurrent-merge detection
  * (the reference inherited real isolation from Delta's txn log; the
  * parquet stage-and-swap is single-writer, so a second in-flight merge
  * must fail FAST with the target intact) and the schema-drift contract
  * on append/merge against an existing target. */
class MergeGuardSpec extends SparkSpec {
  import spark.implicits._

  private val ds = new ParquetCatalogSource

  test("two interleaved merges serialize: B waits for A's lease, then publishes") {
    val dir = Files.createTempDirectory("graft-lock").toString + "/t"
    Seq((1L, "old"), (2L, "old")).toDF("pk", "v").write.parquet(dir)

    // Writer A's source sleeps inside evaluation, so A holds the lock
    // while its actions run; the main thread interleaves writer B, which
    // under lease semantics WAITS for A instead of failing fast.
    val slow = spark.range(1, 3).as[Long]
      .mapPartitions { it => Thread.sleep(4000); it }
      .toDF("pk").withColumn("v", lit("A"))
    val lock = Writes.mergeLockPath(PathRef(dir))
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)

    @volatile var aFailure: Option[Throwable] = None
    val a = new Thread(() =>
      try Writes.merge(slow, PathRef(dir), ds, Seq("pk"), Seq("v"), "1=1", false)
      catch { case t: Throwable => aFailure = Some(t) })
    a.start()
    spark.conf.set("graft.merge.lock.pollMs", "100")
    try {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!fs.exists(lock) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(fs.exists(lock), "writer A never acquired the lock")

      // B blocks on A's live lease (fresh mtime keeps it unbreakable),
      // acquires after A releases, and applies ON TOP of A's result.
      val b = Seq((1L, "B")).toDF("pk", "v")
      Writes.merge(b, PathRef(dir), ds, Seq("pk"), Seq("v"), "1=1", false)
    } finally {
      a.join(30000)
      spark.conf.unset("graft.merge.lock.pollMs")
    }

    assert(aFailure.isEmpty, s"writer A failed: $aFailure")
    assert(!fs.exists(lock), "lock must be released after a successful merge")
    // serialized order: A rewrote both rows, then B updated pk=1 — B's
    // update landing on A's value proves it ran after, not interleaved
    assertRows(spark.read.parquet(dir), Seq("pk", "v"),
      Set(Seq(1L, "B"), Seq(2L, "A")))
  }

  test("four concurrent upserts serialize under the lease; no writer lost") {
    val dir = Files.createTempDirectory("graft-lock4").toString + "/t"
    Seq((0L, "seed")).toDF("pk", "v").write.parquet(dir)
    spark.conf.set("graft.merge.lock.pollMs", "100")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      // Each writer upserts a DISJOINT key set, so any serial order
      // yields the same final table — losing a writer's rows means the
      // lease interleaved two stage-and-swaps. A fifth writer matches the
      // seed row twice: its guard must fire on its own counts, whatever
      // the others' merges observe meanwhile, and publish nothing.
      val sources = (1 to 4).map { w =>
        Seq((w * 10L, s"w$w"), (w * 10L + 1, s"w$w"))
      } :+ Seq((0L, "w5"), (0L, "w5b"))
      val writers = sources.map { rows =>
        new Thread(() =>
          try Writes.merge(rows.toDF("pk", "v"), PathRef(dir), ds, Seq("pk"),
            Seq("v"), "1=1", insertWhenNotMatched = true)
          catch { case t: Throwable => failures.add(t) })
      }
      writers.foreach(_.start()); writers.foreach(_.join(120000))
      assert(failures.size == 1, s"expected only the duplicate writer to fail: $failures")
      assert(failures.peek().isInstanceOf[IllegalStateException] &&
        failures.peek().getMessage.contains("multiple source rows"),
        s"duplicate writer: ${failures.peek()}")
      val rows = spark.read.parquet(dir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 9, s"expected seed + 8 upserted rows, got $rows")
      assert(rows(0L) == "seed", s"duplicate writer published: $rows")
      (1 to 4).foreach { w =>
        assert(rows(w * 10L) == s"w$w" && rows(w * 10L + 1) == s"w$w",
          s"writer $w's rows lost: $rows")
      }
      val lock = Writes.mergeLockPath(PathRef(dir))
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(lock), "lock must be released after the last writer")
    } finally spark.conf.unset("graft.merge.lock.pollMs")
  }

  test("a stale lease (crashed merge) is broken and the merge proceeds") {
    sql("DROP TABLE IF EXISTS lock_stale")
    Seq((1L, "old")).toDF("pk", "v").write.format("parquet").saveAsTable("lock_stale")
    val lock = Writes.mergeLockPath(TableRef("lock_stale"))
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    try {
      // lease 300ms, no heartbeat on the orphan lock: after the lease
      // passes, the waiter breaks it (atomic rename) and proceeds.
      spark.conf.set("graft.merge.lock.waitMs", "20000")
      spark.conf.set("graft.merge.lock.leaseMs", "300")
      spark.conf.set("graft.merge.lock.pollMs", "100")
      Thread.sleep(500)
      val src = Seq((1L, "new")).toDF("pk", "v")
      Writes.merge(src, TableRef("lock_stale"), ds, Seq("pk"), Seq("v"), "1=1", false)
      assertRows(spark.table("lock_stale"), Seq("pk", "v"), Set(Seq(1L, "new")))
      assert(!fs.exists(lock), "broken-then-reacquired lock must be released")
    } finally {
      spark.conf.unset("graft.merge.lock.waitMs")
      spark.conf.unset("graft.merge.lock.leaseMs")
      spark.conf.unset("graft.merge.lock.pollMs")
      if (fs.exists(lock)) fs.delete(lock, false)
      sql("DROP TABLE IF EXISTS lock_stale")
    }
  }

  test("ConcurrentWriteException fires only at wait timeout, target intact") {
    sql("DROP TABLE IF EXISTS lock_timeout")
    Seq((1L, "old")).toDF("pk", "v").write.format("parquet").saveAsTable("lock_timeout")
    val lock = Writes.mergeLockPath(TableRef("lock_timeout"))
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    try {
      // lease far beyond the wait: the lock stays unbreakable, so the
      // waiter exhausts its budget and THEN raises, naming the file.
      spark.conf.set("graft.merge.lock.waitMs", "1200")
      spark.conf.set("graft.merge.lock.leaseMs", "600000")
      spark.conf.set("graft.merge.lock.pollMs", "100")
      val src = Seq((1L, "new")).toDF("pk", "v")
      val t0 = System.nanoTime()
      val e = intercept[ConcurrentWriteException] {
        Writes.merge(src, TableRef("lock_timeout"), ds, Seq("pk"), Seq("v"), "1=1", false)
      }
      val waited = (System.nanoTime() - t0) / 1e6
      assert(waited >= 1200, s"raised after only ${waited}ms — not at timeout")
      assert(e.getMessage.contains(lock.toString))
      // refused before any side effect
      assertRows(spark.table("lock_timeout"), Seq("pk", "v"), Set(Seq(1L, "old")))
      fs.delete(lock, false)
      Writes.merge(src, TableRef("lock_timeout"), ds, Seq("pk"), Seq("v"), "1=1", false)
      assertRows(spark.table("lock_timeout"), Seq("pk", "v"), Set(Seq(1L, "new")))
    } finally {
      spark.conf.unset("graft.merge.lock.waitMs")
      spark.conf.unset("graft.merge.lock.leaseMs")
      spark.conf.unset("graft.merge.lock.pollMs")
      if (fs.exists(lock)) fs.delete(lock, false)
      sql("DROP TABLE IF EXISTS lock_timeout")
    }
  }

  // ---------------------------------------------------------- schema drift

  private def appendJob(query: String, table: String): EtlJob =
    EtlJob.fromYaml(
      s"""version: 0
         |source:
         |  query: $query
         |target:
         |  table: $table
         |  operation: append
         |""".stripMargin)

  test("append schema drift: extra, missing, and retyped columns fail plan-time, named") {
    sql("DROP TABLE IF EXISTS drift_t")
    Seq((1L, "a", 1.5)).toDF("pk", "s", "v").write.format("parquet").saveAsTable("drift_t")
    try {
      val extra = intercept[JobConfigException] {
        appendJob("SELECT 2 AS pk, 'b' AS s, 2.5 AS v, 'boom' AS added", "drift_t").run()
      }
      assert(extra.getMessage.contains("added"), extra.getMessage)

      val missing = intercept[JobConfigException] {
        appendJob("SELECT CAST(2 AS BIGINT) AS pk, 'b' AS s", "drift_t").run()
      }
      assert(missing.getMessage.contains("v"), missing.getMessage)

      val retyped = intercept[JobConfigException] {
        appendJob("SELECT CAST(2 AS INT) AS pk, 'b' AS s, CAST(2.5 AS DOUBLE) AS v",
          "drift_t").run()
      }
      assert(retyped.getMessage.contains("pk"), retyped.getMessage)

      // target untouched by all three refusals
      assert(spark.table("drift_t").count() == 1)
      // a conforming source (any column ORDER) still appends
      appendJob("SELECT CAST(2.5 AS DOUBLE) AS v, 'b' AS s, CAST(2 AS BIGINT) AS pk",
        "drift_t").run()
      assert(spark.table("drift_t").count() == 2)
    } finally sql("DROP TABLE IF EXISTS drift_t")
  }

  test("merge schema drift: missing source columns stay allowed; extra/retyped rejected") {
    sql("DROP TABLE IF EXISTS drift_m")
    Seq((1L, "a", 1.5)).toDF("pk", "s", "v").write.format("parquet").saveAsTable("drift_m")
    def upsertJob(query: String): EtlJob = EtlJob.fromYaml(
      s"""version: 0
         |source:
         |  query: $query
         |target:
         |  table: drift_m
         |  operation: upsert
         |  primary_key_column: [pk]
         |  update_column: [v]
         |""".stripMargin)
    try {
      // missing source column `s`: upsert's NULL-for-unlisted semantics
      upsertJob("SELECT CAST(2 AS BIGINT) AS pk, CAST(9.0 AS DOUBLE) AS v").run()
      assert(spark.table("drift_m").count() == 2)

      val extra = intercept[JobConfigException] {
        upsertJob("SELECT CAST(3 AS BIGINT) AS pk, CAST(9.0 AS DOUBLE) AS v, 1 AS zz").run()
      }
      assert(extra.getMessage.contains("zz"), extra.getMessage)

      val retyped = intercept[JobConfigException] {
        upsertJob("SELECT CAST(3 AS BIGINT) AS pk, CAST(9 AS INT) AS v").run()
      }
      assert(retyped.getMessage.contains("v ("), retyped.getMessage)
      assert(spark.table("drift_m").count() == 2, "refused merges must not write")
    } finally sql("DROP TABLE IF EXISTS drift_m")
  }
}
