package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Versioned
import graft.operators.Versioned.MergeClause

/** CHECK constraints on versioned tables — Delta's `ALTER TABLE ADD
  * CONSTRAINT` semantics: add validates all existing rows, every write
  * path enforces the live set BEFORE its manifest publishes (so no
  * published version can hold a violating row, and the failed write
  * leaks no file group), NULL passes (ANSI), the set survives
  * carry-forward across unrelated commits, and restore refuses to
  * launder pre-constraint violations back in. */
class ConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def tbl() = Files.createTempDirectory("graft-cons").toString + "/t"

  private def dvArtifacts(dir: String): Seq[String] =
    new java.io.File(s"$dir/files").listFiles().map(_.getName)
      .filter(_.startsWith("dv-")).toSeq

  private def groupCount(dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/files")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(p)) f.listStatus(p).length else 0
  }

  test("add validates existing rows; writes enforce; failed writes leak no group") {
    val dir = tbl()
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "score"), dir)
    // Existing violation blocks the add.
    val e = intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "score_cap", "score < 15")
    }
    assert(e.getMessage.contains("1 existing row"))
    assert(Versioned.constraints(spark, dir).isEmpty)

    Versioned.addConstraint(spark, dir, "score_pos", "score >= 0")
    assert(Versioned.constraints(spark, dir) == Seq("score_pos" -> "score >= 0"))
    val before = groupCount(dir)

    // Violating append: raises, no new version, no leaked group.
    val v = Versioned.latestVersion(spark, dir)
    val e2 = intercept[IllegalArgumentException] {
      Versioned.append(Seq((3L, -5L)).toDF("id", "score"), dir)
    }
    assert(e2.getMessage.contains("score_pos"))
    assert(Versioned.latestVersion(spark, dir) == v)
    assert(groupCount(dir) == before, "failed append must delete its group")

    // Clean append passes and carries the set forward.
    Versioned.append(Seq((3L, 5L)).toDF("id", "score"), dir)
    assert(Versioned.constraints(spark, dir).nonEmpty)
    assert(Versioned.read(spark, dir).count() == 3L)
  }

  test("NULL passes (ANSI CHECK); update/merge/commit enforce too") {
    val dir = tbl()
    Versioned.commit(
      Seq((1L, Some(10L)), (2L, None)).toDF("id", "score"), dir)
    Versioned.addConstraint(spark, dir, "score_pos", "score >= 0")
    // NULL score passed validation above; a NULL-bearing append passes too.
    Versioned.append(Seq((3L, None: Option[Long])).toDF("id", "score"), dir)
    val groups = groupCount(dir)
    // update that would push a row negative: blocked.
    intercept[IllegalArgumentException] {
      Versioned.update(spark, dir, col("id") === 1L,
        "score" -> (col("score") - 100L))
    }
    assert(groupCount(dir) == groups, "refused update must delete its group")
    // merge with a violating source row: blocked; clean merge passes.
    intercept[IllegalArgumentException] {
      Versioned.merge(spark, dir,
        Seq((1L, Some(-1L))).toDF("id", "score"), Seq("id"))
    }
    assert(groupCount(dir) == groups, "refused merge must delete its group")
    Versioned.merge(spark, dir,
      Seq((1L, Some(99L))).toDF("id", "score"), Seq("id"))
    // commit (snapshot) enforces as well.
    intercept[IllegalArgumentException] {
      Versioned.commit(Seq((9L, Some(-9L))).toDF("id", "score"), dir)
    }
    assert(Versioned.read(spark, dir).filter(col("score") < 0).count() == 0L)

    // Merge-on-read path: one row of a 100-row group is under the 0.1
    // deletion-vector fraction, so these statements write a position
    // artifact and a copies group BEFORE the constraint refuses the
    // copies; the refusal must take both back.
    val big = tbl()
    Versioned.commit((0L until 100L).map(i => (i, Option(i))).toDF("id", "score"), big)
    Versioned.addConstraint(spark, big, "score_pos", "score >= 0")
    val v = Versioned.latestVersion(spark, big)
    val bigGroups = groupCount(big)
    def assertNothingLeft(what: String): Unit = {
      assert(Versioned.latestVersion(spark, big) == v, s"refused $what committed")
      assert(groupCount(big) == bigGroups, s"refused $what leaked a group")
      assert(dvArtifacts(big).isEmpty, s"refused $what leaked ${dvArtifacts(big)}")
    }
    intercept[IllegalArgumentException] {
      Versioned.update(spark, big, col("id") === 5L, "score" -> lit(-1L))
    }
    assertNothingLeft("deletion-vector update")
    intercept[IllegalArgumentException] {
      Versioned.mergeClauses(spark, big, Seq((5L, -1L)).toDF("id", "score"),
        Seq("id"), Seq(MergeClause.MatchedUpdate(Seq("score" -> col("SRC.score")))))
    }
    assertNothingLeft("deletion-vector merge")
    // the same statement with a clean value does take the DV path
    val clean = Versioned.update(spark, big, col("id") === 5L, "score" -> lit(50L))
    assert(Versioned.parseManifest(spark, big, clean).dvs.nonEmpty)
  }

  test("a snapshot that drops the constrained column is refused, named") {
    val dir = tbl()
    Versioned.commit(Seq((1L, 10L)).toDF("id", "score"), dir)
    Versioned.addConstraint(spark, dir, "score_pos", "score >= 0")
    val e = intercept[IllegalArgumentException] {
      Versioned.commit(Seq((1L, "x")).toDF("id", "name"), dir)
    }
    assert(e.getMessage.contains("drop the constraint"))
    Versioned.dropConstraint(spark, dir, "score_pos")
    Versioned.commit(Seq((1L, "x")).toDF("id", "name"), dir) // now fine
    assert(Versioned.read(spark, dir).columns.toSeq == Seq("id", "name"))
  }

  test("restore refuses to launder a pre-constraint violation back in") {
    val dir = tbl()
    Versioned.commit(Seq((1L, -5L), (2L, 3L)).toDF("id", "score"), dir) // v0: has a negative
    Versioned.delete(spark, dir)(col("score") < 0L)                     // v1: clean
    Versioned.addConstraint(spark, dir, "score_pos", "score >= 0")      // v2
    val e = intercept[IllegalArgumentException] {
      Versioned.restore(spark, dir, 0L)
    }
    assert(e.getMessage.contains("score_pos"))
    Versioned.restore(spark, dir, 1L) // clean target restores fine
    assert(Versioned.read(spark, dir).count() == 1L)
  }

  test("evolved append missing the constrained column passes as NULL") {
    val dir = tbl()
    Versioned.commit(Seq((1L, 10L)).toDF("id", "score"), dir)
    Versioned.addConstraint(spark, dir, "score_pos", "score >= 0")
    Versioned.append(Seq(Tuple1(2L)).toDF("id"), dir, evolveSchema = true)
    val got = Versioned.read(spark, dir)
    assert(got.filter(col("score").isNull).count() == 1L)
  }

  test("cloneTable: deep copy carries schema + constraints; sides fully independent") {
    val src = tbl(); val dst = tbl()
    Versioned.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "score"), src)
    Versioned.addConstraint(spark, src, "score_pos", "score >= 0")
    Versioned.append(Seq((3L, 30L)).toDF("id", "score"), src)
    val v = Versioned.cloneTable(spark, src, dst)
    assert(v == 0L)
    assert(Versioned.read(spark, dst).orderBy("id").as[(Long, Long)]
      .collect().toSeq == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // Constraints live on the clone.
    assert(Versioned.constraints(spark, dst) == Seq("score_pos" -> "score >= 0"))
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((4L, -4L)).toDF("id", "score"), dst)
    }
    // Independence: writes on one side never touch the other.
    Versioned.delete(spark, dst)(col("id") === 1L)
    assert(Versioned.read(spark, src).count() == 3L)
    Versioned.append(Seq((9L, 90L)).toDF("id", "score"), src)
    assert(Versioned.read(spark, dst).count() == 2L)
    // Historical clone: version 0 of src, pre-constraint.
    val dst2 = tbl()
    Versioned.cloneTable(spark, src, dst2, version = 0L)
    assert(Versioned.read(spark, dst2).count() == 2L)
    assert(Versioned.constraints(spark, dst2).isEmpty)
    // Non-empty target refused.
    intercept[IllegalArgumentException] {
      Versioned.cloneTable(spark, src, dst)
    }
  }

  test("exactly-once streaming ingest enforces constraints; duplicate names and bad names raise") {
    val dir = tbl()
    Versioned.commit(Seq((1L, 10L)).toDF("id", "score"), dir)
    Versioned.addConstraint(spark, dir, "score_pos", "score >= 0")
    intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "score_pos", "score >= 1")
    }
    intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "bad name!", "score >= 1")
    }
    intercept[IllegalArgumentException] {
      Versioned.appendOnce(Seq((2L, -1L)).toDF("id", "score"), dir, "app", 0L)
    }
    assert(Versioned.lastCommittedBatch(spark, dir, "app") == -1L)
    assert(Versioned.appendOnce(
      Seq((2L, 1L)).toDF("id", "score"), dir, "app", 0L).nonEmpty)
    // Constraint set carried through the txn-bearing manifest.
    assert(Versioned.constraints(spark, dir).nonEmpty)
  }
}
