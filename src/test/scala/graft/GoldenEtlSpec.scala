package graft

import java.sql.Date

import graft.operators.{EtlJob, Writes}
import graft.sources.{PathRef, TableRef, TargetRef}

/** The five reference golden scenarios (tests/dbr_notebook/test_case.dbc +
  * tests/test_case.xlsx), ported verbatim with USING parquet instead of
  * delta. Row-level asserts derived from the xlsx golden blocks; count /
  * sum(c1) anchors from BASELINE.md. */
class GoldenEtlSpec extends SparkSpec {

  private val d26 = Date.valueOf("2020-06-26")
  private val d25 = Date.valueOf("2020-06-25")
  private val cols =
    Seq("pk1", "pk2", "pk3", "c1", "c2", "c3", "c4", "c5", "c6")

  /** target_table golden initial rows (dbc cmd 15). */
  private val targetRows: Set[Seq[Any]] = Set(
    Seq(1, "a", d26, 11,  "aa1", d25, 1111, 11111, 111111),
    Seq(2, "a", d26, 112, "aa2", d25, 1112, 11112, 111112),
    Seq(3, "a", d26, 113, "aa3", d25, 1113, 11113, 111113),
    Seq(3, "b", d26, 113, "aa3", d25, 1113, 11113, 111113))

  /** source_table rows with the configs' `null as c5, null as c6` applied. */
  private val sourceRowsNullC56: Set[Seq[Any]] = Set(
    Seq(1, "a", d26, 11,  "aa", d26, 111,  null, null),
    Seq(2, "a", d26, 112, "aa", d26, 1112, null, null),
    Seq(3, "a", d26, 113, "aa", d26, 1113, null, null),
    Seq(4, "a", d26, 114, "aa", d26, 1114, null, null),
    Seq(5, "a", d26, 115, "aa", d26, 1115, null, null))

  private def setupTables(): Unit = {
    sql("DROP TABLE IF EXISTS source_table")
    sql("DROP TABLE IF EXISTS target_table")
    sql("""CREATE TABLE source_table
          | (pk1 int, pk2 string, pk3 date, c1 int, c2 string, c3 date, c4 int)
          | USING parquet""".stripMargin)
    sql("""INSERT INTO source_table VALUES
          | (1,'a',DATE'2020-06-26',11, 'aa',DATE'2020-06-26',111),
          | (2,'a',DATE'2020-06-26',112,'aa',DATE'2020-06-26',1112),
          | (3,'a',DATE'2020-06-26',113,'aa',DATE'2020-06-26',1113),
          | (4,'a',DATE'2020-06-26',114,'aa',DATE'2020-06-26',1114),
          | (5,'a',DATE'2020-06-26',115,'aa',DATE'2020-06-26',1115)""".stripMargin)
    sql("""CREATE TABLE target_table
          | (pk1 int, pk2 string, pk3 date, c1 int, c2 string, c3 date, c4 int,
          |  c5 int, c6 int)
          | USING parquet PARTITIONED BY (pk2)""".stripMargin)
    sql("""INSERT INTO target_table (pk1,pk2,pk3,c1,c2,c3,c4,c5,c6) VALUES
          | (1,'a',DATE'2020-06-26',11, 'aa1',DATE'2020-06-25',1111,11111,111111),
          | (2,'a',DATE'2020-06-26',112,'aa2',DATE'2020-06-25',1112,11112,111112),
          | (3,'a',DATE'2020-06-26',113,'aa3',DATE'2020-06-25',1113,11113,111113),
          | (3,'b',DATE'2020-06-26',113,'aa3',DATE'2020-06-25',1113,11113,111113)""".stripMargin)
  }

  private def jobYaml(operation: String, extra: String = "",
      target: String = "table: target_table"): String =
    s"""version: 0
       |source:
       |  query: select *, null as c5, null as c6 from source_table
       |target:
       |  $target
       |  operation: $operation
       |$extra""".stripMargin

  private val mergeKeys =
    """  primary_key_column:
      |    - pk1
      |    - pk2
      |    - pk3
      |  update_column:
      |    - c1
      |    - c2
      |    - c3
      |    - c4""".stripMargin

  test("append: count 9, sum(c1) 814, full golden contents") {
    setupTables()
    EtlJob.fromYaml(jobYaml("append")).run()
    assert(countAndSum("target_table") == ((9L, 814L)))
    assertRows(spark.table("target_table"), cols, targetRows ++ sourceRowsNullC56)
  }

  test("insert is a strict alias of append") {
    setupTables()
    EtlJob.fromYaml(jobYaml("insert")).run()
    assert(countAndSum("target_table") == ((9L, 814L)))
  }

  test("overwrite: partition-scoped, pk2='b' survives; count 6, sum 578") {
    setupTables()
    EtlJob.fromYaml(jobYaml("overwrite")).run()
    assert(countAndSum("target_table") == ((6L, 578L)))
    assertRows(spark.table("target_table"), cols,
      sourceRowsNullC56 + Seq(3, "b", d26, 113, "aa3", d25, 1113, 11113, 111113))
  }

  test("update: matched-only merge; count 4, sum 349; c5/c6 preserved") {
    setupTables()
    EtlJob.fromYaml(jobYaml("update", mergeKeys)).run()
    assert(countAndSum("target_table") == ((4L, 349L)))
    assertRows(spark.table("target_table"), cols, Set(
      Seq(1, "a", d26, 11,  "aa", d26, 111,  11111, 111111),
      Seq(2, "a", d26, 112, "aa", d26, 1112, 11112, 111112),
      Seq(3, "a", d26, 113, "aa", d26, 1113, 11113, 111113),
      Seq(3, "b", d26, 113, "aa3", d25, 1113, 11113, 111113)))
  }

  test("upsert: merge + insert; count 6, sum 578; inserted rows NULL c5/c6") {
    setupTables()
    EtlJob.fromYaml(jobYaml("upsert", mergeKeys)).run()
    assert(countAndSum("target_table") == ((6L, 578L)))
    assertRows(spark.table("target_table"), cols, Set(
      Seq(1, "a", d26, 11,  "aa", d26, 111,  11111, 111111),
      Seq(2, "a", d26, 112, "aa", d26, 1112, 11112, 111112),
      Seq(3, "a", d26, 113, "aa", d26, 1113, 11113, 111113),
      Seq(3, "b", d26, 113, "aa3", d25, 1113, 11113, 111113),
      Seq(4, "a", d26, 114, "aa", d26, 1114, null, null),
      Seq(5, "a", d26, 115, "aa", d26, 1115, null, null)))
  }

  test("truncate then append: pre_sql hook; count 5, sum 465") {
    setupTables()
    EtlJob.fromYaml(jobYaml("append",
      "  pre_sql: truncate table target_table")).run()
    assert(countAndSum("target_table") == ((5L, 465L)))
    assertRows(spark.table("target_table"), cols, sourceRowsNullC56)
  }

  test("update with where_statement_on_table restricts matched rows") {
    setupTables()
    EtlJob.fromYaml(jobYaml("update",
      mergeKeys + "\n  where_statement_on_table: TGT.pk1 < 3")).run()
    // only pk1 in {1,2} matched; pk1=3 rows keep original c2/c3
    assertRows(spark.table("target_table"), cols, Set(
      Seq(1, "a", d26, 11,  "aa", d26, 111,  11111, 111111),
      Seq(2, "a", d26, 112, "aa", d26, 1112, 11112, 111112),
      Seq(3, "a", d26, 113, "aa3", d25, 1113, 11113, 111113),
      Seq(3, "b", d26, 113, "aa3", d25, 1113, 11113, 111113)))
  }

  test("merge rejects ambiguous multiple source matches") {
    setupTables()
    sql("INSERT INTO source_table VALUES (1,'a',DATE'2020-06-26',99,'zz',DATE'2020-06-26',999)")
    // Every target shape: the partitioned golden table, an unpartitioned
    // copy of it, and a parquet path copy of it.
    sql("DROP TABLE IF EXISTS target_flat")
    sql("CREATE TABLE target_flat USING parquet AS SELECT * FROM target_table")
    val dir = java.nio.file.Files.createTempDirectory("graft-path").toString + "/t"
    spark.table("target_table").write.parquet(dir)
    Seq[(TargetRef, String)](
      TableRef("target_table") -> "table: target_table",
      TableRef("target_flat") -> "table: target_flat",
      PathRef(dir) -> s"path: $dir"
    ).foreach { case (ref, target) =>
      val e = intercept[IllegalStateException] {
        EtlJob.fromYaml(jobYaml("update", mergeKeys, target)).run()
      }
      assert(e.getMessage.contains("multiple source rows"), s"$ref: ${e.getMessage}")
      assertRows(ref match {
        case TableRef(t) => spark.table(t)
        case PathRef(p) => spark.read.parquet(p)
      }, cols, targetRows)
      val lock = Writes.mergeLockPath(ref)
      val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(lock), s"$ref: lock left behind")
      val staging = lock.getName.stripSuffix("__graft_lock") + "__graft_staging_"
      val leftovers = fs.listStatus(lock.getParent).map(_.getPath.getName)
        .filter(_.startsWith(staging))
      assert(leftovers.isEmpty, s"$ref: staging left behind: ${leftovers.mkString(", ")}")
    }
  }

  test("append to a path target") {
    setupTables()
    val dir = java.nio.file.Files.createTempDirectory("graft-path").toString + "/t"
    EtlJob.fromYaml(
      s"""version: 0
         |source:
         |  table: source_table
         |target:
         |  path: $dir
         |  operation: append""".stripMargin).run()
    assert(spark.read.parquet(dir).count() == 5)
    // second append accumulates
    EtlJob.fromYaml(
      s"""version: 0
         |source:
         |  table: source_table
         |target:
         |  path: $dir
         |  operation: append""".stripMargin).run()
    assert(spark.read.parquet(dir).count() == 10)
  }

  test("upsert to a path target (swap-based merge)") {
    setupTables()
    val dir = java.nio.file.Files.createTempDirectory("graft-path").toString + "/t"
    spark.table("target_table").write.parquet(dir)
    EtlJob.fromYaml(
      s"""version: 0
         |source:
         |  query: select *, null as c5, null as c6 from source_table
         |target:
         |  path: $dir
         |  operation: upsert
         |$mergeKeys""".stripMargin).run()
    val out = spark.read.parquet(dir)
    assert(out.count() == 6)
    assert(out.selectExpr("sum(c1)").collect()(0).getLong(0) == 578L)
  }

  test("plan-time validation: typo'd primary_key_column fails cleanly") {
    setupTables()
    val typoKeys = mergeKeys.replace("- pk1", "- pk1_typo")
    val e = intercept[graft.spec.JobConfigException] {
      EtlJob.fromYaml(jobYaml("update", typoKeys)).run()
    }
    assert(e.getMessage.contains("pk1_typo"))
    assert(e.getMessage.contains("primary_key_column"))
    // nothing was written: target untouched
    assert(countAndSum("target_table") == ((4L, 349L)))
  }

  test("plan-time validation: update_column missing from TARGET fails cleanly") {
    setupTables()
    // c9 exists in neither; make it source-only to isolate the target check
    val yaml = jobYaml("update", mergeKeys.replace("- c4", "- c9"))
      .replace("null as c6 from", "null as c6, 1 as c9 from")
    val e = intercept[graft.spec.JobConfigException] {
      EtlJob.fromYaml(yaml).run()
    }
    assert(e.getMessage.contains("c9") && e.getMessage.contains("target"))
  }

  test("plan-time validation: upsert against a missing target fails cleanly") {
    setupTables()
    val e = intercept[graft.spec.JobConfigException] {
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  table: source_table
           |target:
           |  path: /tmp/graft_nonexistent_${java.util.UUID.randomUUID().toString.take(8)}
           |  operation: upsert
           |$mergeKeys""".stripMargin).run()
    }
    assert(e.getMessage.contains("does not exist"))
  }
}
