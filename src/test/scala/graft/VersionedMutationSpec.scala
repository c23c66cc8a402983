package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Versioned

/** Copy-on-write DELETE and MERGE on versioned tables
  * ([[Versioned.delete]]/[[Versioned.merge]]).
  *
  * The contract under test is Delta's mutation economics over bare
  * parquet: the stats sidecars decide at planning time which file
  * groups a mutation can touch; every other group carries into the new
  * manifest METADATA-ONLY (group identity pinned via inputFiles), a
  * provably-no-match mutation is a version-less no-op, and history +
  * CDC rewrite-boundary semantics hold across both operations. */
class VersionedMutationSpec extends SparkSpec {
  import spark.implicits._

  private def tbl() = Files.createTempDirectory("graft-vmut").toString + "/t"

  private def groupOf(path: String): String =
    path.split("/files/")(1).split("/")(0)

  private def groupsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(groupOf).toSet

  /** Three appends with DISJOINT id ranges: sidecar min/max are tight
    * per group, so range predicates prune exactly. */
  private def rangedTable(dir: String): Unit = {
    Versioned.commit((0L until 100L).map(i => (i, s"d$i")).toDF("id", "v"), dir)
    Versioned.append((100L until 200L).map(i => (i, s"d$i")).toDF("id", "v"), dir)
    Versioned.append((200L until 300L).map(i => (i, s"d$i")).toDF("id", "v"), dir)
  }

  test("delete: only the stats-overlapping group is rewritten; others carry metadata-only") {
    val dir = tbl()
    rangedTable(dir)
    val before = groupsOf(Versioned.read(spark, dir))
    assert(before.size == 3)

    val v = Versioned.delete(spark, dir)(col("id") >= 120L && col("id") < 150L)
    assert(v == 3L)
    val after = Versioned.read(spark, dir)
    assert(after.count() == 270L)
    assert(after.filter(col("id").between(120L, 149L)).count() == 0L)
    // COW: exactly the middle group was replaced; the other two groups
    // are the SAME directories as before (no data copied).
    val carried = groupsOf(after).intersect(before)
    assert(carried.size == 2, s"expected 2 carried groups, got $carried")
    // History intact: the parent version still reads all 300 rows.
    assert(Versioned.read(spark, dir, 2L).count() == 300L)
    // Manifest row count is exact.
    assert(Versioned.versions(spark, dir).filter(col("version") === v)
      .select("n_rows").as[Long].head() == 270L)
  }

  test("delete: provably-no-match predicate is a no-op (same version back)") {
    val dir = tbl()
    rangedTable(dir)
    assert(Versioned.delete(spark, dir)(col("id") > 9999L) == 2L)
    assert(Versioned.latestVersion(spark, dir) == 2L)
    assert(Versioned.read(spark, dir).count() == 300L)
  }

  test("delete: exact touched-file detection — a re-delete of a gone key is a no-op") {
    val dir = tbl()
    rangedTable(dir)
    val v = Versioned.delete(spark, dir)(col("id") === 150L)
    assert(v == 3L)
    assert(Versioned.read(spark, dir).count() == 299L)
    // The key is gone but the middle group's [min,max] still spans 150:
    // range stats alone would rewrite it again; exact detection must not.
    assert(Versioned.delete(spark, dir)(col("id") === 150L) == 3L)
    assert(Versioned.latestVersion(spark, dir) == 3L)
  }

  test("delete: NULL predicate rows are KEPT (ANSI DELETE semantics)") {
    val dir = tbl()
    Versioned.commit(
      Seq((1L, Some(10L)), (2L, None), (3L, Some(99L)))
        .toDF("id", "score"), dir)
    Versioned.delete(spark, dir)(col("score") > 50L)
    val left = Versioned.read(spark, dir).select("id").as[Long].collect().sorted
    assert(left.toSeq == Seq(1L, 2L), "NULL-scored row must survive the delete")
  }

  test("delete: full wipe of a touched group drops it without an empty replacement") {
    val dir = tbl()
    rangedTable(dir)
    Versioned.delete(spark, dir)(col("id") >= 200L)
    val after = Versioned.read(spark, dir)
    assert(after.count() == 200L)
    assert(groupsOf(after).size == 2, "emptied group must not be replaced by an empty one")
  }

  test("delete is a CDC rewrite boundary: changes raises, pollChanges resyncs") {
    val dir = tbl()
    rangedTable(dir)
    val v = Versioned.delete(spark, dir)(col("id") < 10L)
    intercept[IllegalArgumentException] { Versioned.changes(spark, dir, 1L, v) }
    val (_, _, resync) = Versioned.pollChanges(spark, dir, 2L)
    assert(resync)
  }

  test("merge: matched rows replaced, unmatched kept, new keys inserted; COW pruning") {
    val dir = tbl()
    rangedTable(dir)
    val before = groupsOf(Versioned.read(spark, dir))
    // Source hits only the middle group's range, plus brand-new keys.
    val src = Seq((150L, "UPDATED"), (160L, "UPDATED"), (500L, "NEW"))
      .toDF("id", "v")
    val v = Versioned.merge(spark, dir, src, Seq("id"))
    assert(v == 3L)
    val after = Versioned.read(spark, dir)
    assert(after.count() == 301L)
    assert(after.filter(col("v") === "UPDATED").select("id").as[Long]
      .collect().sorted.toSeq == Seq(150L, 160L))
    assert(after.filter(col("id") === 500L).select("v").as[String].head() == "NEW")
    assert(after.filter(col("id") === 155L).select("v").as[String].head() == "d155")
    // Only the overlapping group was rewritten (500 is outside every
    // group's bounds — inserts alone never touch a group).
    val carried = groupsOf(after).intersect(before)
    assert(carried.size == 2, s"expected 2 carried groups, got $carried")
    assert(Versioned.versions(spark, dir).filter(col("version") === v)
      .select("n_rows").as[Long].head() == 301L)
  }

  test("merge: pure insert outside all group ranges carries every group") {
    val dir = tbl()
    rangedTable(dir)
    val before = groupsOf(Versioned.read(spark, dir))
    Versioned.merge(spark, dir, Seq((1000L, "x")).toDF("id", "v"), Seq("id"))
    val after = Versioned.read(spark, dir)
    assert(after.count() == 301L)
    assert(groupsOf(after).intersect(before).size == 3,
      "an out-of-range insert must not rewrite any existing group")
  }

  test("merge: duplicate source keys raise; schema drift raises; empty source no-ops") {
    val dir = tbl()
    rangedTable(dir)
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Versioned.merge(spark, dir, dup, Seq("id"))
    }
    assert(e.getMessage.contains("duplicate keys"))
    val nullDup = Seq((Option.empty[Long], "a"), (Option.empty[Long], "b"))
      .toDF("id", "v")
    val eNull = intercept[IllegalArgumentException] {
      Versioned.merge(spark, dir, nullDup, Seq("id"))
    }
    assert(eNull.getMessage.contains("duplicate keys"))
    intercept[IllegalArgumentException] {
      Versioned.merge(spark, dir,
        Seq((1L, "a", 1.0)).toDF("id", "v", "extra"), Seq("id"))
    }
    assert(Versioned.merge(spark, dir,
      Seq.empty[(Long, String)].toDF("id", "v"), Seq("id")) == 2L)
    assert(Versioned.latestVersion(spark, dir) == 2L)
  }

  test("merge: composite keys prune on every key's bounds conjunctively") {
    val dir = tbl()
    // Two groups split on k1; k2 spans [0,9] in both.
    Versioned.commit(
      (0L until 50L).map(i => (i / 10L, i % 10L, s"a$i")).toDF("k1", "k2", "v"), dir)
    Versioned.append(
      (50L until 100L).map(i => (i / 10L, i % 10L, s"a$i")).toDF("k1", "k2", "v"), dir)
    val before = groupsOf(Versioned.read(spark, dir))
    // k1 range hits only the second group.
    val src = Seq((7L, 3L, "UP")).toDF("k1", "k2", "v")
    Versioned.merge(spark, dir, src, Seq("k1", "k2"))
    val after = Versioned.read(spark, dir)
    assert(after.count() == 100L)
    assert(after.filter(col("k1") === 7L && col("k2") === 3L)
      .select("v").as[String].head() == "UP")
    assert(groupsOf(after).intersect(before).size == 1,
      "first group is outside the k1 bounds and must carry over")
  }

  test("update: assignments apply only where cond is TRUE; COW carry-over; no-op; type guard") {
    val dir = tbl()
    Versioned.commit(
      (0L until 50L).map(i => (i, s"d$i", Some(i * 2L))).toDF("id", "v", "score"), dir)
    Versioned.append(
      (50L until 100L).map(i => (i, s"d$i", if (i == 60L) None else Some(i * 2L)))
        .toDF("id", "v", "score"), dir)
    val before = groupsOf(Versioned.read(spark, dir))
    // Touches only the second group's range; row 60's NULL score makes
    // the predicate NULL there → must stay untouched (ANSI UPDATE).
    val v = Versioned.update(spark, dir, col("score") > 110L,
      "v" -> lit("HI"), "score" -> (col("score") + 1L))
    assert(v == 2L)
    val after = Versioned.read(spark, dir)
    assert(groupsOf(after).intersect(before).size == 1, "first group must carry over")
    val hi = after.filter(col("v") === "HI").select("id").as[Long].collect().sorted
    assert(hi.toSeq == (56L until 100L).filterNot(_ == 60L), s"got ${hi.toSeq}")
    assert(after.filter(col("id") === 60L).select("v").as[String].head() == "d60")
    assert(after.filter(col("id") === 70L).select("score").as[Long].head() == 141L)
    // No-match and unknown-column / type-change guards.
    assert(Versioned.update(spark, dir, col("score") > 99999L, "v" -> lit("X")) == v)
    intercept[IllegalArgumentException] {
      Versioned.update(spark, dir, col("id") >= 0L, "nope" -> lit(1))
    }
    intercept[IllegalArgumentException] {
      Versioned.update(spark, dir, col("id") >= 0L, "score" -> lit("not a long"))
    }
  }

  test("optimistic concurrency: racing disjoint mutations never lose updates") {
    val dir = tbl()
    rangedTable(dir)
    // Two deletes on disjoint ranges race from two threads; each retries
    // on the conflict exception. Whatever the interleaving, BOTH effects
    // must land — the lost-update outcome (one delete silently dropped)
    // is exactly what publishExpecting forbids.
    def deleteRetrying(lo: Long, hi: Long): Unit = {
      var done = false
      while (!done) {
        try { Versioned.delete(spark, dir)(col("id") >= lo && col("id") < hi); done = true }
        catch { case _: java.util.ConcurrentModificationException => () }
      }
    }
    val t1 = new Thread(() => deleteRetrying(0L, 50L))
    val t2 = new Thread(() => deleteRetrying(120L, 170L))
    t1.start(); t2.start(); t1.join(); t2.join()
    val left = Versioned.read(spark, dir)
    assert(left.count() == 200L)
    assert(left.filter(col("id") < 50L || (col("id") >= 120L && col("id") < 170L))
      .count() == 0L)

    // Appends retry internally: race an append against a delete — both
    // land regardless of interleaving.
    val t3 = new Thread(() => deleteRetrying(200L, 250L))
    val t4 = new Thread(() =>
      Versioned.append((1000L until 1050L).map(i => (i, s"d$i")).toDF("id", "v"), dir))
    t3.start(); t4.start(); t3.join(); t4.join()
    val after = Versioned.read(spark, dir)
    assert(after.filter(col("id").between(200L, 249L)).count() == 0L)
    assert(after.filter(col("id") >= 1000L).count() == 50L)
    assert(after.count() == 200L)
  }

  test("delete then restore: the undo button works across mutation modes") {
    val dir = tbl()
    rangedTable(dir)
    Versioned.delete(spark, dir)(col("id") < 250L) // over-aggressive
    assert(Versioned.read(spark, dir).count() == 50L)
    Versioned.restore(spark, dir, 2L)
    assert(Versioned.read(spark, dir).count() == 300L)
  }
}
