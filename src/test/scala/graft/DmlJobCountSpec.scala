package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Versioned

/** Spark job counts of one [[Versioned.delete]], [[Versioned.update]]
  * and [[Versioned.merge]] call, on the copy-on-write and the
  * deletion-vector path. Each bound is the count the statement ran
  * when it still had an engine of its own (AQE on, `local[4]`), so a
  * failing bound means the shared commit path grew a pass: another
  * probe, a re-scan, a separate guard job. Same listener style as
  * MergeClausesSpec's source-prologue pin. */
class DmlJobCountSpec extends SparkSpec {
  import spark.implicits._

  private def tbl() = Files.createTempDirectory("graft-dmljobs").toString + "/t"

  /** Three appends with disjoint id ranges, 100 rows each: a 30-row
    * claim in one group rewrites it, a 1-row claim goes merge-on-read
    * (under the default 0.1 deletion-vector fraction). */
  private def rangedTable(): String = {
    val dir = tbl()
    Versioned.commit((0L until 100L).map(i => (i, s"d$i")).toDF("id", "v"), dir)
    Versioned.append((100L until 200L).map(i => (i, s"d$i")).toDF("id", "v"), dir)
    Versioned.append((200L until 300L).map(i => (i, s"d$i")).toDF("id", "v"), dir)
    dir
  }

  private def assertJobs(what: String, jobs: Int, bound: Int): Unit =
    assert(jobs <= bound, s"$what ran $jobs jobs (expected <= $bound)")

  test("delete: job count on the rewrite and deletion-vector paths") {
    val cow = rangedTable()
    val jCow = jobsOf(Versioned.delete(spark, cow)(col("id").between(120L, 149L)))
    assert(Versioned.read(spark, cow).count() == 270L)
    val dv = rangedTable()
    val jDv = jobsOf(Versioned.delete(spark, dv)(col("id") === 150L))
    assert(Versioned.parseManifest(spark, dv, 3L).dvs.size == 1)
    info(s"delete jobs: rewrite $jCow, deletion vector $jDv")
    // measured 3 with the separate engine: the probe (shuffle-map job
    // and result job), then the rewrite
    assertJobs("rewrite delete", jCow, 3)
    // measured 3: the probe, then the position artifact
    assertJobs("deletion-vector delete", jDv, 3)
  }

  test("update: job count on the rewrite and deletion-vector paths") {
    val cow = rangedTable()
    val jCow = jobsOf(Versioned.update(spark, cow,
      col("id").between(120L, 149L), "v" -> lit("HI")))
    assert(Versioned.read(spark, cow).filter(col("v") === "HI").count() == 30L)
    val dv = rangedTable()
    val jDv = jobsOf(Versioned.update(spark, dv, col("id") === 150L,
      "v" -> lit("HI")))
    assert(Versioned.parseManifest(spark, dv, 3L).dvs.size == 1)
    info(s"update jobs: rewrite $jCow, deletion vector $jDv")
    // measured 3: the probe, then the rewrite
    assertJobs("rewrite update", jCow, 3)
    // measured 4: the probe, the position artifact, the updated copies
    assertJobs("deletion-vector update", jDv, 4)
  }

  test("merge: job count of a replace-and-insert merge") {
    val dir = rangedTable()
    val src = Seq((150L, "UPDATED"), (160L, "UPDATED"), (500L, "NEW"))
      .toDF("id", "v")
    val j = jobsOf(Versioned.merge(spark, dir, src, Seq("id")))
    assert(Versioned.read(spark, dir).count() == 301L)
    info(s"merge jobs: $j")
    // measured 8: the source's lineage cap 1, its keyed duplicate check
    // 2 (count and key bounds observed on it), the probe 3 (with a
    // broadcast of the source), the rewrite 2 (with another broadcast);
    // 9 while the duplicate check was a count_distinct aggregate
    assertJobs("merge", j, 8)
  }
}
