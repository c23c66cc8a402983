package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Merge, Writes}
import graft.sources.{ParquetCatalogSource, PathRef}

/** Property-style invariants of the merge join-rewrite over randomized
  * small tables (fixed seed — deterministic). Mirrors SURVEY.md §5's
  * merge-algebra plan:
  *   - update never changes row count;
  *   - |upsert(T,S)| = |T| + |S \ T.pk|;
  *   - empty source is a no-op;
  *   - matched rows take source values, unmatched keep target values;
  *   - upsert-inserted rows are NULL outside the update set.
  */
class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)

  private def randomTables(): (DataFrame, DataFrame) = {
    val tgtKeys = (1 to (5 + rnd.nextInt(20))).map(_ => rnd.nextInt(30)).distinct
    val srcKeys = (1 to (1 + rnd.nextInt(20))).map(_ => rnd.nextInt(40)).distinct
    val tgt = tgtKeys.map(k => (k, s"t$k", k * 1.0)).toDF("pk", "label", "v")
    val src = srcKeys.map(k => (k, k * 100.0)).toDF("pk", "v")
    (tgt, src)
  }

  test("update preserves row count and key set; upsert adds exactly the new keys") {
    (1 to 25).foreach { _ =>
      val (tgt, src) = randomTables()
      val tgtN = tgt.count()
      val newKeys = src.join(tgt, Seq("pk"), "left_anti").count()

      val updated = Merge(tgt, src, Seq("pk"), Seq("v"))
      assert(updated.count() == tgtN)
      assert(updated.select("pk").except(tgt.select("pk")).isEmpty)

      val upserted = Merge(tgt, src, Seq("pk"), Seq("v"), insertWhenNotMatched = true)
      assert(upserted.count() == tgtN + newKeys)
    }
  }

  test("matched rows take source values; unmatched keep target values") {
    (1 to 10).foreach { _ =>
      val (tgt, src) = randomTables()
      val out = Merge(tgt, src, Seq("pk"), Seq("v"))
      val wrongMatched = out.join(src, Seq("pk"), "left_semi")
        .join(src.withColumnRenamed("v", "sv"), "pk")
        .filter(col("v") =!= col("sv"))
      assert(wrongMatched.isEmpty)
      val wrongUntouched = out.join(src, Seq("pk"), "left_anti")
        .join(tgt.withColumnRenamed("v", "tv"), "pk")
        .filter(col("v") =!= col("tv"))
      assert(wrongUntouched.isEmpty)
    }
  }

  test("upsert inserts are NULL outside the update set and carry pk + update cols") {
    val (tgt, src) = randomTables()
    val out = Merge(tgt, src, Seq("pk"), Seq("v"), insertWhenNotMatched = true)
    val inserted = out.join(tgt, Seq("pk"), "left_anti")
    assert(inserted.filter(col("label").isNotNull).isEmpty)
    val wrong = inserted.join(src.withColumnRenamed("v", "sv"), "pk")
      .filter(col("v") =!= col("sv"))
    assert(wrong.isEmpty)
  }

  test("empty source leaves the target unchanged under update and upsert") {
    val (tgt, src) = randomTables()
    val empty = src.limit(0)
    assert(Merge(tgt, empty, Seq("pk"), Seq("v")).except(tgt).isEmpty)
    assert(Merge(tgt, empty, Seq("pk"), Seq("v"), insertWhenNotMatched = true)
      .except(tgt).isEmpty)
  }

  private val ds = new ParquetCatalogSource

  /** A fresh parquet path target holding `df`. */
  private def pathTarget(df: DataFrame): PathRef = {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/t"
    df.write.parquet(dir)
    PathRef(dir)
  }

  private def update(src: DataFrame, ref: PathRef, cond: String): Unit =
    Writes.merge(src, ref, ds, Seq("pk"), Seq("v"), cond, insertWhenNotMatched = false)

  test("ambiguous source matches are detected") {
    val ref = pathTarget(Seq((1, "a", 1.0)).toDF("pk", "label", "v"))
    val dup = Seq((1, 10.0), (1, 20.0)).toDF("pk", "v")
    intercept[IllegalStateException] { update(dup, ref, "1=1") }
    // non-duplicated source passes
    update(Seq((1, 10.0)).toDF("pk", "v"), ref, "1=1")
    assertRows(spark.read.parquet(ref.path), Seq("pk", "label", "v"),
      Set(Seq(1, "a", 10.0)))
  }

  test("ambiguity guard honors baseCondition over non-pk columns") {
    val ref = pathTarget(Seq((1, "hot", 1.0), (2, "cold", 2.0)).toDF("pk", "label", "v"))
    // two source rows hit pk=1, but only one passes the TGT.label gate —
    // not ambiguous; both rows on pk=2 pass TGT.label = 'cold' — ambiguous.
    val src = Seq((1, 10.0), (1, 20.0), (2, 30.0), (2, 40.0)).toDF("pk", "v")
    update(src, ref, "TGT.label = 'hot' AND SRC.v = 10.0")
    val afterPass = Set(Seq(1, "hot", 10.0), Seq(2, "cold", 2.0))
    assertRows(spark.read.parquet(ref.path), Seq("pk", "label", "v"), afterPass)
    intercept[IllegalStateException] {
      update(src, ref, "TGT.label = 'cold'")
    }
    // unqualified reference resolves and still gates correctly
    intercept[IllegalStateException] {
      update(src, ref, "label = 'cold'")
    }
    assertRows(spark.read.parquet(ref.path), Seq("pk", "label", "v"), afterPass)
  }
}
