package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.DataSource
import graft.streaming.EventWindows
import graft.operators.Checkpoints.CapOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (reference surface) and §2.3 (LLM
  * pipeline extensions) is registered in `queries`; those with
  * SQL-expressible semantics carry a DuckDB oracle in `oracleSql` with
  * IDENTICAL column names and deterministic ORDER BY. Floating aggregates
  * are rounded on both sides so cross-engine summation order cannot flip a
  * hash compare.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Corpus + planted true containments for the `containment_*` queries:
    * a 2% hash-bucket of documents re-enters as 300-char interior
    * excerpts under offset ids, so each excerpt is genuinely contained
    * in its source document. */
  private def excerptPlantedUnion(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select("doc_id", "text")
    val excerpts = d.filter(Sampling.bucket(col("doc_id"), 23L) < 200)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        substring(col("text"), 30, 300).as("text"))
    d.unionByName(excerpts)
  }

  /** The planted multi-line fixture shared by `line_rules` and its
    * streaming-parity twin: a kept line, a too-short line, a javascript
    * line, and (every 7th doc) a brace line that fails the whole doc.
    * Pure projections, so it applies to batch and streaming frames
    * alike. */
  private def plantedLineDoc(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat_ws("\n",
        concat(substring(col("text"), 1, 40), lit(" and so it ends.")),
        lit("too short"),
        concat(lit("enable javascript to view document "),
          col("doc_id").cast("string"), lit(" now.")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("brace line { for doc "),
            col("doc_id").cast("string"), lit(".")))
          .otherwise(concat(substring(col("text"), 41, 40),
            lit(" tail words linger here too.")))).as("text"))

  /** The planted 4-line paragraph fixture shared by the paragraph_dedup
    * family (batch, incremental, streaming): a unique id-stamped opener,
    * corpus-wide boilerplate, a slogan shared by every 7th doc, and a
    * text-derived tail. Pure projections, so it applies to batch and
    * streaming frames alike. */
  private def plantedParagraphDoc(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      concat_ws("\n",
        concat(substring(col("text"), 1, 40), lit(" opens doc "),
          col("doc_id").cast("string"), lit(".")),
        lit("subscribe to our newsletter for updates."),
        concat(lit("shared slogan number "),
          pmod(col("doc_id"), lit(7)).cast("string"), lit(" appears often.")),
        concat(substring(col("text"), 41, 30), lit(" closes it."))).as("text"))

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): multi-join
    * revenue-by-nation over region/nation/customer/orders/lineitem. */
  // q1 rather than q5 for the smoke check: q5 at sf0.001 survives with a
  // single ASIA row, q1 always has the 6 (returnflag, linestatus) groups
  // — a regenerated tiny dataset can't accidentally empty it.
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ----------------------------------------------------- core analytics
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q3_top_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    "q5_nation_revenue" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      r.join(n, r("r_regionkey") === n("n_regionkey"))
        .join(c, n("n_nationkey") === c("c_nationkey"))
        .join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") && sup("s_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    "q10_returned_items" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val n = t(s, dir, "nation")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    "window_top_orders_per_customer" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    "agg_distinct_stats" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_suppliers"),
          countDistinct(col("l_partkey")).as("n_parts"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    "rollup_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // cube = rollup + the column-2-only grouping sets; closes the
    // grouping-set aggregate family next to rollup_revenue.
    "cube_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // HLL sketch cardinalities, gated per group: the approx values
    // themselves are engine-specific (Spark HLL++ vs DuckDB sketches
    // legitimately differ), so the query emits the EXACT distinct counts
    // (oracle-matching) plus per-group booleans asserting the sketch is
    // within 15% — 3x the default 5% rsd; measured max 8.6% across SFs.
    // Exact and approx run as SEPARATE aggregations joined on the group
    // key: mixing countDistinct with HLL buffers in one agg goes through
    // Spark's Expand-based multi-distinct rewrite, which drags the 16KB
    // rsd-0.01 sketch buffers through every stage (measured 40s vs 3s at
    // sf0.1).
    "agg_approx_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"))
      val approx = li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_orderkey")).as("a1"),
          approx_count_distinct(col("l_partkey"), 0.01).as("a2"))
      exact.join(approx, "l_returnflag")
        .select(col("l_returnflag"), col("n_orders"), col("n_parts"),
          (abs(col("a1") - col("n_orders")).cast("double") / col("n_orders") < 0.15)
            .as("orders_ok"),
          (abs(col("a2") - col("n_parts")).cast("double") / col("n_parts") < 0.15)
            .as("parts_ok"))
        .orderBy("l_returnflag")
    }),

    "customers_without_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "priority_counts_semijoin" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    "set_ops_priorities" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_orderstatus") === "O").select("o_orderpriority")
      val lo = o.filter(col("o_orderstatus") === "P").select("o_orderpriority")
      hi.except(lo).withColumn("op", lit("except"))
        .union(hi.intersect(lo).withColumn("op", lit("intersect")))
        .select("op", "o_orderpriority")
        .orderBy("op", "o_orderpriority")
    }),

    "pivot_status_by_priority" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy("o_orderpriority")
    }),

    "monthly_revenue" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("month")
    }),

    "part_brand_union" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val small = p.filter(col("p_size") <= 5).select("p_brand")
      val pricey = p.filter(col("p_retailprice") > 1500).select("p_brand")
      small.union(pricey).distinct()
        .withColumnRenamed("p_brand", "brand")
        .orderBy("brand")
    }),

    // --------------------------------------------------- ETL-op semantics
    // Merge (upsert) exposed as a pure plan over orders: matched keys take
    // the source's o_totalprice; unmatched source keys insert with NULL
    // non-update columns (reference O10 semantics).
    "merge_upsert_orders" -> ((s, dir) => {
      val target = t(s, dir, "orders")
      // +1000.0 is exact in binary floating point — keeps the oracle
      // compare bit-identical (a ×1.1 multiply can land on a half-cent
      // boundary and round differently across engines).
      val source = t(s, dir, "orders").filter(pmod(col("o_custkey"), lit(10)) === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000.0d).as("o_totalprice"))
        .unionByName(
          t(s, dir, "orders").filter(pmod(col("o_custkey"), lit(100)) === 7)
            .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
              lit(1.0d).as("o_totalprice")))
      Merge(target, source, Seq("o_orderkey"), Seq("o_totalprice"),
        insertWhenNotMatched = true)
        .orderBy("o_orderkey")
    }),

    // Five YAML-driven lifecycle jobs (mirroring the reference's golden
    // scenarios: append, partition-scoped overwrite, update, upsert,
    // truncate-then-append) run end-to-end — param substitution, pre/post
    // SQL hooks, source view, physical write — against a scratch target
    // seeded from `orders`; the query returns the final target contents.
    "etl_append" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tgt = etlScratch(dir, "append")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM __etl_orders WHERE o_custkey % 10 = 1")
        .write.mode("overwrite").parquet(tgt)
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  pre_sql: >-
           |    CREATE OR REPLACE TEMP VIEW __etl_append_src AS
           |    SELECT o_orderkey, o_custkey, o_totalprice
           |    FROM __etl_orders WHERE o_custkey % $${mod} = 2
           |  query: SELECT * FROM __etl_append_src
           |  post_sql: DROP VIEW __etl_append_src
           |target:
           |  path: $tgt
           |  operation: append
           |""".stripMargin, Map("mod" -> "10")).run()
      s.read.parquet(tgt).orderBy("o_orderkey")
    }),

    // Versioned operations through the reference-shaped JOB CONFIG: the
    // YAML a Delta user runs gains time travel on bare parquet — job 1
    // commits a snapshot version, job 2 appends (sharing v0's files),
    // and the output reads BOTH historical versions back row-level. The
    // oracle recomputes each version's exact membership from orders.
    "etl_versioned" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tgt = etlScratch(dir, "versioned")
      val p = new org.apache.hadoop.fs.Path(tgt)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      def job(mod: Int, op: String) = EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, o_custkey, o_totalprice
           |    FROM __etl_orders WHERE o_custkey % 10 = $mod
           |target:
           |  path: $tgt
           |  operation: $op
           |""".stripMargin).run()
      job(1, "versioned_snapshot")
      job(2, "versioned_append")
      (0L to 1L).map(v => Versioned.read(s, tgt, v).withColumn("version", lit(v)))
        .reduce(_.unionByName(_))
        .select("version", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("version", "o_orderkey")
    }),

    "etl_overwrite_partition" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tbl = "graft_etl_ow_" + etlSuffix(dir)
      etlResetTable(s, tbl)
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM __etl_orders WHERE o_custkey % 10 = 1")
        .write.partitionBy("o_orderstatus").format("parquet").saveAsTable(tbl)
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           |    FROM __etl_orders WHERE o_custkey % 10 = 2 AND o_orderstatus = 'O'
           |target:
           |  table: $tbl
           |  operation: overwrite
           |""".stripMargin).run()
      s.table(tbl)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    "etl_update" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tgt = etlScratch(dir, "update")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM __etl_orders WHERE o_custkey % 10 IN (3, 4)")
        .write.mode("overwrite").parquet(tgt)
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, o_totalprice + 500.0 AS o_totalprice
           |    FROM __etl_orders WHERE o_custkey % 10 = 3
           |target:
           |  path: $tgt
           |  operation: update
           |  primary_key_column: [o_orderkey]
           |  update_column: [o_totalprice]
           |""".stripMargin).run()
      s.read.parquet(tgt)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // Update against a PARTITIONED catalog table: only the o_orderstatus='F'
    // partition contains matched keys, so the partition-scoped merge path
    // (Writes.mergePartitionScoped) rewrites that partition alone and
    // leaves 'O'/'P' files untouched (file-identity pinned by
    // MergePartitionedSpec; values oracled here).
    "etl_update_partitioned" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tbl = "graft_etl_updpart_" + etlSuffix(dir)
      etlResetTable(s, tbl)
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM __etl_orders WHERE o_custkey % 10 IN (3, 4)")
        .write.partitionBy("o_orderstatus").format("parquet").saveAsTable(tbl)
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, o_totalprice + 750.0 AS o_totalprice
           |    FROM __etl_orders WHERE o_custkey % 10 = 3 AND o_orderstatus = 'F'
           |target:
           |  table: $tbl
           |  operation: update
           |  primary_key_column: [o_orderkey]
           |  update_column: [o_totalprice]
           |""".stripMargin).run()
      s.table(tbl)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    "etl_upsert" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tgt = etlScratch(dir, "upsert")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM __etl_orders WHERE o_custkey % 10 = 5")
        .write.mode("overwrite").parquet(tgt)
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice
           |    FROM __etl_orders WHERE o_custkey % 10 IN (5, 6)
           |target:
           |  path: $tgt
           |  operation: upsert
           |  primary_key_column: [o_orderkey]
           |  update_column: [o_totalprice]
           |""".stripMargin).run()
      s.read.parquet(tgt)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // Same lifecycle as etl_upsert but loaded through the FILE-based
    // factory (EtlJob.fromConfig): YAML written to disk, read back with
    // ${mod} substituted from params — exercising the load path a config
    // author actually uses.
    "etl_fromconfig_upsert" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tgt = etlScratch(dir, "fromcfg")
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM __etl_orders WHERE o_custkey % 10 = 9")
        .write.mode("overwrite").parquet(tgt)
      val yaml =
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, o_totalprice + 250.0 AS o_totalprice
           |    FROM __etl_orders WHERE o_custkey % $${mod} IN (9, 0)
           |target:
           |  path: $tgt
           |  operation: upsert
           |  primary_key_column: [o_orderkey]
           |  update_column: [o_totalprice]
           |""".stripMargin
      val f = java.nio.file.Files.createTempFile("graft_job_", ".yml")
      java.nio.file.Files.writeString(f, yaml)
      try EtlJob.fromConfig(f.toString, Map("mod" -> "10")).run()
      finally java.nio.file.Files.deleteIfExists(f)
      s.read.parquet(tgt)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // The YAML surface over Versioned.merge: operation versioned_merge
    // with primary_key_column drives the copy-on-write upsert through
    // the full 8-step job lifecycle (${param} substitution included).
    // update_column is rejected at parse time — versioned_merge replaces
    // WHOLE rows (UPDATE SET *), per SpecsSpec.
    "etl_versioned_merge" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tbl = s"/tmp/graft_versioned/emrg_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(
        s.sql("SELECT o_orderkey, o_orderpriority, o_totalprice FROM __etl_orders"),
        tbl)
      val yaml =
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, 'RUSH' AS o_orderpriority,
           |    o_totalprice * 1.1 AS o_totalprice
           |    FROM __etl_orders WHERE o_orderkey % $${mod} = 3
           |target:
           |  path: $tbl
           |  operation: versioned_merge
           |  primary_key_column: [o_orderkey]
           |""".stripMargin
      EtlJob.fromYaml(yaml, Map("mod" -> "7")).run()
      Versioned.read(s, tbl).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderpriority")
    }),

    "etl_truncate_append" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders")
      val tbl = "graft_etl_tr_" + etlSuffix(dir)
      etlResetTable(s, tbl)
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice FROM __etl_orders WHERE o_custkey % 10 = 7")
        .write.format("parquet").saveAsTable(tbl)
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: SELECT o_orderkey, o_custkey, o_totalprice FROM __etl_orders WHERE o_custkey % 10 = 8
           |target:
           |  table: $tbl
           |  pre_sql: TRUNCATE TABLE $tbl
           |  operation: insert
           |""".stripMargin).run()
      s.table(tbl)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // CSV as a first-class path datasource: an overwrite job EXPORTS a
    // parquet-sourced projection to a csv path target with a DECLARED
    // schema (the spec's `schema:` key — validated against the source
    // projection at plan time), and the query reads the csv back through
    // the same datasource factory WITH the declared schema, so the read
    // plans with zero inference pass (no extra full scan of the file —
    // the contract a scheduled job needs; FileFormatSourceSpec pins the
    // zero-job property). The oracle recomputes the aggregate from the
    // parquet fixture — a write-format, header, or type-mapping bug
    // surfaces as a value/schema mismatch.
    "etl_csv_export" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders_csv")
      val out = etlScratch(dir, "csv_export")
      val ddl = "o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE"
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |    FROM __etl_orders_csv
           |target:
           |  datasource: csv
           |  path: $out
           |  schema: "$ddl"
           |  operation: overwrite
           |""".stripMargin).run()
      DataSource("csv", Some(ddl)).readPath(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // ORC path sink + source through the same YAML-spec'd EtlJob as the
    // csv export — ORC is self-describing (schema from file footers, no
    // inference pass and no declared-schema key), so the read-back plans
    // directly like parquet while exercising the FileFormatSource path
    // end-to-end on a third format. The oracle recomputes the rollup
    // from the raw orders fixture: the roundtrip must be lossless.
    "etl_orc_export" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__etl_orders_orc")
      val out = etlScratch(dir, "orc_export")
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: >-
           |    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           |    FROM __etl_orders_orc
           |target:
           |  datasource: orc
           |  path: $out
           |  operation: overwrite
           |""".stripMargin).run()
      DataSource("orc").readPath(out)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // Recon with a CSV extract as one side: source `a` is the catalog
    // parquet view, source `b` the csv file written above-style — the
    // "diff the warehouse against the extract we shipped" use case. The
    // csv side goes through DataSource("csv").readPath inside ReconJob.
    "recon_csv_extract" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "orders").createOrReplaceTempView("__recon_orders_csv")
      val out = etlScratch(dir, "csv_recon")
      EtlJob.fromYaml(
        s"""version: 0
           |source:
           |  query: SELECT o_orderstatus, o_totalprice FROM __recon_orders_csv
           |target:
           |  datasource: csv
           |  path: $out
           |  operation: overwrite
           |""".stripMargin).run()
      ReconJob.fromYaml(
        s"""version: 0
           |group_by: [o_orderstatus]
           |data:
           |  - name: a
           |    query: SELECT o_orderstatus, o_totalprice FROM __recon_orders_csv
           |    metrics:
           |      - sum_price: round(sum(o_totalprice), 2)
           |      - n: count(*)
           |  - name: b
           |    datasource: csv
           |    path: $out
           |    metrics:
           |      - sum_price: round(sum(o_totalprice * 1.0005), 2)
           |      - n: count(*)
           |""".stripMargin).run()
        // Counts and tolerance booleans only: the raw csv-side double sum
        // can differ from the parquet side in the last ULP (different
        // addition order), which the 1e-3 match tolerates but an exact
        // hash compare of the sum would not. The csv side is scaled by
        // 1.0005 so match_sum_price=true is a REAL tolerance decision
        // (ratio ≈ 5e-4 < 1e-3), not an equality that any comparison
        // logic would satisfy — and the oracle recomputes the same
        // decision from the parquet fixture.
        .select("o_orderstatus", "a_n", "b_n", "match_n", "match_sum_price")
        .orderBy("o_orderstatus")
    }),

    // Recon: two aggregation pipelines over lineitem reconciled on
    // l_returnflag (reference O12-O16); source B is scaled by 1.0005 so
    // sum drifts within tolerance (match=true) while count stays equal.
    "recon_lineitem" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "lineitem").createOrReplaceTempView("__recon_li")
      ReconJob.fromYaml(
        """version: 0
          |group_by: [l_returnflag]
          |data:
          |  - name: a
          |    query: SELECT * FROM __recon_li
          |    metrics:
          |      - sum_price: round(sum(l_extendedprice), 2)
          |      - n: count(*)
          |  - name: b
          |    query: SELECT l_returnflag, l_extendedprice * 1.0005 AS l_extendedprice FROM __recon_li
          |    metrics:
          |      - sum_price: round(sum(l_extendedprice), 2)
          |      - n: count(*)
          |""".stripMargin).run()
        .withColumn("delta_sum_price", round(col("delta_sum_price"), 2))
        .orderBy("l_returnflag")
    }),

    // THREE-source recon mirroring the reference's flagship config shape
    // (/root/reference/recon.yml:1-24: 3 sources, same metric names): at
    // != 2 sources the reference joins all aggregates full-outer and
    // emits NO delta/match columns (recon.py:149) — this query exercises
    // that guard end-to-end through the YAML factory.
    "recon_threeway" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "lineitem").createOrReplaceTempView("__recon_li3")
      ReconJob.fromYaml(
        """version: 0
          |group_by: [l_returnflag]
          |data:
          |  - name: a
          |    query: SELECT * FROM __recon_li3
          |    metrics:
          |      - sum_price: round(sum(l_extendedprice), 2)
          |      - n: count(*)
          |  - name: b
          |    query: SELECT l_returnflag, l_extendedprice * 1.0005 AS l_extendedprice FROM __recon_li3
          |    metrics:
          |      - sum_price: round(sum(l_extendedprice), 2)
          |      - n: count(*)
          |  - name: c
          |    query: SELECT l_returnflag, l_extendedprice FROM __recon_li3 WHERE l_linestatus = 'F'
          |    metrics:
          |      - sum_price: round(sum(l_extendedprice), 2)
          |      - n: count(*)
          |""".stripMargin).run()
        .orderBy("l_returnflag")
    }),

    // The vs_first N-way extension: same three sources, but every
    // non-first source gains delta/match columns against source `a` (the
    // declared baseline) — the "which source drifted" answer the
    // reference's exactly-two guard leaves unanswered for 3+ sources.
    // Default behavior is untouched (recon_threeway above still emits
    // bare aggregates); the mode is an explicit compare_mode opt-in.
    "recon_threeway_pairwise" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "lineitem").createOrReplaceTempView("__recon_li3p")
      ReconJob.fromYaml(
        """version: 0
          |group_by: [l_returnflag]
          |compare_mode: vs_first
          |data:
          |  - name: a
          |    query: SELECT * FROM __recon_li3p
          |    metrics:
          |      - sum_price: round(sum(l_extendedprice), 2)
          |      - n: count(*)
          |  - name: b
          |    query: SELECT l_returnflag, l_extendedprice * 1.0005 AS l_extendedprice FROM __recon_li3p
          |    metrics:
          |      - sum_price: round(sum(l_extendedprice), 2)
          |      - n: count(*)
          |  - name: c
          |    query: SELECT l_returnflag, l_extendedprice FROM __recon_li3p WHERE l_linestatus = 'F'
          |    metrics:
          |      - sum_price: round(sum(l_extendedprice), 2)
          |      - n: count(*)
          |""".stripMargin).run()
        .orderBy("l_returnflag")
    }),

    // -------------------------------------------------------- text analysis
    "text_profile" -> ((s, dir) =>
      TextAnalysis.profile(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // Accent folding — diacritics are PLANTED (the fixture is ASCII):
    // every third doc gets vowels accented, every 21st additionally
    // s→ß (the multi-char expansion path). The fold must byte-restore
    // the 1:1-planted docs (`restored`), expand ß to ss (len_folded >
    // len_planted on %21 docs), and match the oracle's md5 of the folded
    // text — the oracle generates its fold chain from the SAME constant
    // map via foldAccentsSql, so impl and oracle cannot drift.
    "accent_fold_roundtrip" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val planted = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          when(pmod(col("doc_id"), lit(21)) === 0,
            regexp_replace(translate(col("text"), "aeo", "áéö"), "s", "ß"))
            .when(pmod(col("doc_id"), lit(3)) === 0,
              translate(col("text"), "aeo", "áéö"))
            .otherwise(col("text")).as("planted"))
      planted.select(col("doc_id"),
        length(col("planted")).cast("long").as("len_planted"),
        length(foldAccents(col("planted"))).cast("long").as("len_folded"),
        md5(foldAccents(col("planted"))).as("fold_md5"),
        (foldAccents(col("planted")) === col("text")).as("restored"))
        .orderBy("doc_id")
    }),

    "lang_distribution" -> ((s, dir) =>
      TextAnalysis.langDistribution(t(s, dir, "documents"), "text")
        .orderBy("pred_lang")),

    "top_tokens" -> ((s, dir) =>
      TextAnalysis.withNormToks(t(s, dir, "documents"), "text")
        .select(explode(col("__toks")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)),

    // BPE merge training (Sennrich 2016), 3 rounds over the corpus
    // vocabulary: each round's winning pair, merged symbol and
    // corpus-weighted count are hash-compared against the oracle's
    // hand-unrolled rounds — identical pair counting (boundary-correct,
    // vocab-grain) and identical merge application (the double-space
    // literal-replace trick, reproducible in any SQL engine). BpeSpec
    // additionally pins a 5-round agreement with a naive in-test
    // trainer and the left-to-right non-overlap rule.
    "bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", rounds = 3)),

    // REAL merge-count shape: 50 rounds over a corpus slice, viable
    // only because the trainer maintains the (pair, n) frame
    // incrementally — each round recounts just the words containing the
    // merged pair (BpeSpec pins that structurally; a full-recount
    // trainer is 50 vocab-wide explode+aggregate jobs instead). The
    // oracle is the SAME 50 rounds unrolled mechanically in DuckDB
    // (full recount per round — maintained ≡ recount by construction).
    "bpe_merges_deep" -> ((s, dir) =>
      TextAnalysis.bpeMerges(
        t(s, dir, "documents").filter(col("doc_id") % 20 === 0),
        "text", rounds = 50)),

    // BPE ENCODE/APPLY + packing on REAL token counts — the missing
    // half of train→encode→pack: 15 trained merges applied back to the
    // training slice (vocabulary-grain: distinct words encode once, one
    // join reassembles documents), per-doc token streams pinned by md5
    // against the oracle's unrolled merge chain (AS MATERIALIZED — the
    // chain keeps the word column so the final round IS the encoded
    // vocabulary), then packSequences consumes the ENCODED counts
    // instead of the fixture column — pack ids and offsets must agree
    // with the oracle's window arithmetic over its own encoded counts.
    "bpe_encode_pack" -> ((s, dir) => {
      val slice = t(s, dir, "documents").filter(col("doc_id") % 20 === 0)
      val trained = TextAnalysis.bpeMerges(slice, "text", rounds = 15)
        .orderBy("merge_round").collect()
        .map { r =>
          val Array(a, b) = r.getString(1).split(" ", 2); (a, b)
        }.toSeq
      val enc = TextAnalysis.bpeEncode(slice, "text", "doc_id", trained)
        .select(col("doc_id"), col("n_bpe_tokens"),
          md5(col("tok_stream")).as("stream_md5"))
      Packing.packSequences(enc, "doc_id", "n_bpe_tokens",
          budget = 256, shards = 4)
        .select(col("doc_id"), col("n_bpe_tokens"), col("stream_md5"),
          col("shard").cast("long").as("shard"), col("pack_id"),
          col("pack_offset"))
        .orderBy("doc_id")
    }),

    // The STREAMING twin: the token stream drains as two checkpointed
    // micro-batches through per-shard Misra–Gries state (bounded at
    // 2·sketch counters per shard, independent of vocabulary size),
    // then the final summaries' candidates are recounted exactly and
    // gated — the result must EQUAL the same full-vocabulary top-30
    // oracle as the batch flavor, whatever the arrival order did to
    // the intermediate summaries.
    "heavy_hitters_streaming" -> ((s, dir) => {
      val toks = TextAnalysis.withNormToks(t(s, dir, "documents"), "text")
        .select(col("doc_id"), explode(col("__toks")).as("token"))
      val mid = 250L * (if (dir.endsWith("0.1")) 10 else 1)
      val batches = Seq(
        toks.filter(col("doc_id") < mid).select("token"),
        toks.filter(col("doc_id") >= mid).select("token"))
      graft.streaming.StreamingHeavyHitters.topKStaged(
        s, batches, "token", k = 30, sketchSize = 2048)
        .withColumnRenamed("value", "token")
    }),

    // The SAME exact top-k through the heavy-hitter path: Misra–Gries
    // candidates (treeAggregate, ≤2·sketch counters per task) + an
    // exact recount over the broadcast candidate set, provably-exact
    // gated per run (k-th count must beat the merged slack, else the
    // operator falls back to the full groupBy). At 100 TB this is the
    // difference between shuffling the whole vocabulary (trillions of
    // web-text singletons) and shuffling ≤2·sketch distinct keys; the
    // oracle is the plain full-vocabulary top-k — the two must agree
    // EXACTLY, that is the operator's contract.
    "heavy_hitters_tokens" -> ((s, dir) =>
      HeavyHitters.exactTopK(
        TextAnalysis.withNormToks(t(s, dir, "documents"), "text")
          .select(explode(col("__toks")).as("token")),
        "token", k = 30, sketchSize = 2048)
        .withColumnRenamed("value", "token")),

    // Per-document top-3 TF-IDF keywords: tf × ln((N+1)/(df+1)), ties
    // by term — one multiply over identically-derived operands, so
    // DuckDB reproduces scores AND ranks bit-exactly (bm25 discipline).
    "tfidf_keywords" -> ((s, dir) =>
      TextAnalysis.tfidfKeywords(t(s, dir, "documents"), "text", "doc_id", k = 3)
        .withColumn("tfidf", round(col("tfidf"), 6))
        .orderBy("doc_id", "rank")),

    // Passage-level contamination: winnowing fingerprint overlap between
    // the corpus and a bench set built by EXCERPTING 400-char spans from
    // hash-picked docs — a planted copied-passage signal both engines can
    // derive. Every pair verdict (incl. the cross-doc ones from shared
    // boilerplate sentences) is recomputed by the oracle from raw text.
    "passage_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val bench = d.filter(Sampling.bucket(col("doc_id"), 17L) < 300)
        .select(col("doc_id"), substring(col("text"), 40, 400).as("text"))
      Contamination.passageOverlap(d, bench, "text", "doc_id",
        minShared = 2, maxTrainDf = 100)
        .orderBy("bench_id", "train_id")
    }),

    // Decontamination END-TO-END: the strike ACTION over the passage
    // report — every corpus doc sharing >= 2 winnow fingerprints with
    // the (excerpt-planted) bench set is removed, and the result is the
    // per-source audit a pipeline owner actually reads: how many docs
    // survived, how many were struck, and the surviving token mass. The
    // oracle recomputes the full winnow pipeline, the strike set, AND
    // the per-source rollup from raw text.
    "decontaminate_by_source" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val d = t(s, dir, "documents")
      val bench = d.filter(Sampling.bucket(col("doc_id"), 17L) < 300)
        .select(col("doc_id"), substring(col("text"), 40, 400).as("text"))
      val cleaned = Contamination.decontaminate(d, bench, "text", "doc_id",
        minShared = 2, maxTrainDf = 100)
      val kept = cleaned.groupBy("source").agg(
        count(lit(1)).as("n_kept"),
        sum(tokenCount(col("text")).cast("long")).as("kept_tokens"))
      d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_struck"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
        .orderBy("source")
    }),

    // Bloom-pruned decontamination: SAME strike + rollup as
    // decontaminate_by_source (and the SAME raw-text oracle — bloom
    // filters have no false negatives and the survivors still face the
    // exact fingerprint join, so the result is identical BY CONSTRUCTION,
    // and this query proves it), but the corpus-side fingerprint stream
    // is pruned at the scan stage against a bloom filter of the bench
    // fingerprints before the document-frequency aggregate and the join.
    // At 100 TB corpus vs MB-scale benchmark, that shuffle goes from
    // corpus-sized to bench-overlap-sized. BloomSpec pins pair-set
    // equality with the unpruned operator and the codegen'd might_contain
    // probe in the plan.
    "decontaminate_bloom" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val d = t(s, dir, "documents")
      val bench = d.filter(Sampling.bucket(col("doc_id"), 17L) < 300)
        .select(col("doc_id"), substring(col("text"), 40, 400).as("text"))
      val cleaned = Contamination.decontaminateBloom(d, bench, "text", "doc_id",
        minShared = 2, maxTrainDf = 100)
      val kept = cleaned.groupBy("source").agg(
        count(lit(1)).as("n_kept"),
        sum(tokenCount(col("text")).cast("long")).as("kept_tokens"))
      d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_struck"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
        .orderBy("source")
    }),

    // Artifact-reuse decontamination: report → persist → strike. The
    // passage report is computed AT MOST ONCE per fixture (Reports.cached
    // fingerprints the input files; a regen invalidates) and the strike +
    // rollup consume only the persisted parquet — the pipeline shape a
    // 100 TB owner runs, where the analysis scan is paid once and the
    // action re-applies from the artifact. Same final semantics as
    // decontaminate_by_source, so the oracle recomputes everything from
    // raw text and must still agree.
    "decontaminate_from_report" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val d = t(s, dir, "documents")
      val report = Reports.cached(s, s"$dir/documents.parquet",
        "passage_report_" + etlSuffix(dir)) {
        val bench = d.filter(Sampling.bucket(col("doc_id"), 17L) < 300)
          .select(col("doc_id"), substring(col("text"), 40, 400).as("text"))
        Contamination.passageOverlap(d, bench, "text", "doc_id",
          minShared = 2, maxTrainDf = 100)
      }
      val cleaned = Contamination.decontaminateWithReport(d, report, "doc_id",
        minShared = 2)
      val kept = cleaned.groupBy("source").agg(
        count(lit(1)).as("n_kept"),
        sum(tokenCount(col("text")).cast("long")).as("kept_tokens"))
      d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_struck"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
        .orderBy("source")
    }),

    // TIME TRAVEL over a parquet-native versioned table — the workflow
    // the reference inherited from Delta's `VERSION AS OF` (delta.py:28),
    // rebuilt on immutable file groups + create-exclusive manifests:
    // v0 = snapshot commit, v1 = APPEND (shares v0's files — the daily
    // 100 TB crawl path writes only the batch), v2 = full-rewrite
    // snapshot. Every row of the output is a historical read
    // (`Versioned.read(dir, v)`) aggregated to (n_rows, id checksum),
    // so the oracle recomputing each version's membership from raw
    // documents gates the whole commit/append/read round trip.
    "time_travel_versions" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/docs_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val bk = Sampling.bucket(col("doc_id"), 29L)
      Versioned.commit(docs.filter(bk < 7000), tbl)
      Versioned.append(docs.filter(bk >= 7000), tbl)
      Versioned.commit(docs.filter(col("lang") =!= "en"), tbl)
      val per = (0L to 2L).map { v =>
        Versioned.read(s, tbl, v)
          .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("id_sum"))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
      per.join(Versioned.versions(s, tbl).select("version", "mode"), Seq("version"))
        .select("version", "mode", "n_rows", "id_sum")
        .orderBy("version")
    }),

    // DESCRIBE HISTORY over the same commit/append/snapshot lifecycle,
    // THROUGH a vacuum: retention keeps v1+, so v0's manifest (and its
    // audit row) drop while v0's file group SURVIVES (v1's append still
    // references it) and both remaining versions stay fully readable.
    // The oracle recomputes each surviving version's row count from raw
    // documents and pins the file-group arithmetic (append = parent
    // groups + 1, snapshot = 1) and the post-vacuum readability bits.
    // committed_at is real-clock (asserted ISO-8601/nondecreasing in
    // VersionedSpec) so the driver query projects the deterministic
    // audit columns.
    "describe_history" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/hist_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val bk = Sampling.bucket(col("doc_id"), 29L)
      Versioned.commit(docs.filter(bk < 7000), tbl)
      Versioned.append(docs.filter(bk >= 7000), tbl)
      Versioned.commit(docs.filter(col("lang") =!= "en"), tbl)
      Versioned.vacuum(s, tbl, keepFrom = 1L)
      Versioned.describeHistory(s, tbl)
        .select("version", "mode", "n_rows", "n_files", "readable")
        .orderBy("version")
    }),

    // DV-PRESSURE GAUGES through describeHistory: three group-disjoint
    // DV deletes under spark.graft.dv.maxArtifacts=2 — the third would
    // leave 3 artifact directories, so it FOLDS every carried vector
    // into its fresh artifact (dv_files drops back to 1) while dv_rows
    // keeps the cumulative position count. The oracle recomputes every
    // n_rows/dv_rows cell from the raw documents and pins the
    // dv_files accretion curve (1, 2, 1) as constants.
    "describe_history_dv" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/histdv_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)              // v0
      Versioned.append(docs.filter(col("lang") === "de"), tbl)              // v1
      Versioned.append(docs.filter(!col("lang").isin("en", "de")), tbl)     // v2
      s.conf.set("spark.graft.dv.maxArtifacts", "2")
      try {
        Versioned.delete(s, tbl)(col("lang") === "en" && col("doc_id") % 11 === 0)
        Versioned.delete(s, tbl)(col("lang") === "de" && col("doc_id") % 13 === 0)
        Versioned.delete(s, tbl)(col("lang") === "fr" && col("doc_id") % 17 === 0)
      } finally s.conf.unset("spark.graft.dv.maxArtifacts")
      Versioned.describeHistory(s, tbl)
        .select("version", "mode", "n_rows", "dv_rows", "dv_files")
        .orderBy("version")
    }),

    // POST-VACUUM CDF RESYNC: vacuum drops the log prefix, so a CDF
    // consumer whose cursor predates retention discovers the surviving
    // window via the table_version_bounds TVF, reprocesses the FULL
    // snapshot AS OF the earliest surviving version, and resumes
    // table_changes from the next one — the same contract pollChanges
    // implements with its resync flag. The read crosses a DV delete
    // (snapshot side) and an append (incremental side); the oracle
    // recomputes both phases from raw documents.
    "table_changes_resync" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/resync_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)  // v0
      Versioned.append(docs.filter(col("lang") === "de"), tbl)  // v1
      Versioned.delete(sql, tbl)(col("doc_id") % 97L === 0L)    // v2: pure DV
      Versioned.append(docs.filter(col("lang") === "fr"), tbl)  // v3
      Versioned.vacuum(sql, tbl, keepFrom = 2L)
      val bounds = sql.sql(
        s"SELECT earliest_version, latest_version FROM table_version_bounds('$tbl')")
        .head()
      val (earliest, latest) = (bounds.getLong(0), bounds.getLong(1))
      require(earliest == 2L && latest == 3L, s"bounds ($earliest, $latest)")
      sql.sql(
        s"""SELECT 'resync' AS phase, lang, count(*) AS n_rows,
           |  CAST(sum(doc_id) AS BIGINT) AS id_sum
           |FROM graft.`$tbl` VERSION AS OF $earliest GROUP BY lang
           |UNION ALL
           |SELECT concat('change:', _change_type) AS phase, lang,
           |  count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
           |FROM table_changes('$tbl', ${earliest + 1})
           |GROUP BY _change_type, lang
           |ORDER BY phase, lang""".stripMargin)
    }),

    // The STREAMING twin of table_changes_resync: the same vacuumed
    // table, tailed by a FRESH readChangeFeed stream with
    // `startingVersion=earliest` — the post-vacuum resync a
    // long-running consumer performs after retention outran its old
    // checkpoint. The first micro-batch serves the earliest retained
    // version's FULL content once (the snapshot baseline: inserts
    // @v2, en+de minus the DV-deleted rows), increments follow
    // exactly (@v3); a second drain after a further append proves the
    // resynced checkpoint continues exactly-once (only @v4 arrives).
    "table_changes_resync_streaming" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/resyncs_${etlSuffix(dir)}"
      val io = s"/tmp/graft_versioned/resyncs_io_${etlSuffix(dir)}"
      Seq(tbl, io).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      Versioned.commit(docs.filter(col("lang") === "en"), tbl) // v0
      Versioned.append(docs.filter(col("lang") === "de"), tbl) // v1
      Versioned.delete(s, tbl)(col("doc_id") % 97L === 0L)     // v2: pure DV
      Versioned.append(docs.filter(col("lang") === "fr"), tbl) // v3
      Versioned.vacuum(s, tbl, keepFrom = 2L)                  // v0/v1 gone
      def drain(): Unit = {
        val q = s.readStream.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", "earliest")
          .load(tbl)
          .writeStream.format("parquet")
          .option("path", s"$io/sink")
          .option("checkpointLocation", s"$io/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // resync: v2's snapshot once + v3's increment
      Versioned.append(docs.filter(col("lang") === "es"), tbl) // v4
      drain() // exactly-once continuation: only v4 arrives
      s.read.parquet(s"$io/sink")
        .groupBy(concat(lit("v"), col("_commit_version"), lit(":"),
          col("_change_type")).as("phase"), col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("phase", "lang")
    }),

    // CDC-style incremental read over an append chain: a consumer that
    // processed v0 asks for everything added since — served from ONLY
    // the appended file groups (metadata-only planning; VersionedSpec
    // pins that v0's files never enter the scan). The chain re-appends
    // src0-2 docs after the non-en batch, so the change set contains
    // duplicates BY DESIGN — an incremental consumer sees every appended
    // row, not a distinct set — and the oracle recomputes the identical
    // UNION ALL from raw documents.
    "version_changes" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/chg_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      Versioned.append(docs.filter(col("source").isin("src0", "src1", "src2")), tbl)
      Versioned.changes(s, tbl, fromVersion = 0L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    // The daily-crawl loop CLOSED end-to-end: corpus at v0 with a
    // signature store; a crawl batch re-drafts ~6% of the corpus — even
    // ids get a 3-token tail (trigram Jaccard 0.7-0.97 vs the original:
    // a true near-dup, struck), odd ids get their token order REVERSED
    // (same vocabulary, trigram-disjoint: genuinely new content,
    // survives), so both verdicts occur at every SF. The batch then
    // dedups incrementally against the store, survivors append as v1,
    // and the result is read back through the CDC seam — changes(0)
    // serves exactly the appended survivors from only the new file
    // group. Composes minHashLshIncremental (bloom-pruned store scan) +
    // keep-smaller-id retention + Versioned.append + changes. The
    // oracle recomputes the full all-pairs trigram Jaccard, the drop
    // set, and the survivor rollup from raw text.
    "crawl_append_loop" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/crawl_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs, tbl)
      val batch = docs.filter(Sampling.bucket(col("doc_id"), 31L) < 600)
        .select((col("doc_id") + lit(5000000000L)).as("doc_id"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(col("text"), lit(" zz end tail")))
            .otherwise(array_join(reverse(
              graft.functions.TextFunctions.tokens(col("text"))), " "))
            .as("text"),
          col("lang"), col("source"))
      val sigs = s"/tmp/graft_minhash/sigs_crawl_${etlSuffix(dir)}"
      Dedup.writeMinHashSignatures(docs, "text", "doc_id", sigs, numHashes = 32)
      val pairs = Dedup.minHashLshIncremental(s, batch, docs, "text", "doc_id",
        sigs, numHashes = 32, bands = 16, threshold = 0.6)
      // id_a < id_b and batch ids sit above every corpus id, so the
      // greater member of any qualifying pair is always the batch doc.
      val drops = pairs.select(col("id_b").as("doc_id")).distinct()
      val survivors = batch.join(drops, Seq("doc_id"), "left_anti")
      Versioned.append(survivors, tbl)
      Versioned.changes(s, tbl, fromVersion = 0L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    // The PUSH flavor of the CDC seam: a Structured Streaming consumer
    // tails the append-only table's file groups. Drain 1 (from genesis)
    // emits the first two groups; a third append lands; drain 2
    // restarts from the checkpoint and emits ONLY the new group — if it
    // re-emitted anything the counts below double and the hash fails,
    // so exactly-once across restarts is what the oracle gates. Rollup
    // over the sink = every appended row once.
    // The MANIFEST-DRIVEN streaming source: spark.readStream
    // .format("graft") — offsets ARE table versions, each micro-batch is
    // planned as the file groups the manifest range introduced (a
    // metadata set-difference, never a directory listing), and the
    // schema comes from the manifest itself (no caller-supplied schema).
    // The append-only contract is ENFORCED at batch-plan time: a
    // mid-stream compact must FAIL the third drain loudly BEFORE any
    // repacked row could emit — planning from manifests (not listings)
    // also closes the durable-before-manifest race the file-stream
    // flavor documented: an unpublished group is in no manifest, so it
    // is invisible by construction. If enforcement or exactly-once
    // broke, the rollup below would double and the oracle hash would
    // fail.
    "version_changes_streaming" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/tail_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      val scratch = java.nio.file.Files.createTempDirectory("graft_vtail")
      val sink = scratch.resolve("sink").toString
      val ckpt = scratch.resolve("ckpt").toString
      def drain(): Unit = {
        val q = s.readStream.format("graft").load(tbl)
          .writeStream.format("parquet").option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain()
      Versioned.append(docs.filter(col("source").isin("src0", "src1", "src2")), tbl)
      drain()
      Versioned.compact(s, tbl)
      val raised =
        try { drain(); false }
        catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException => true
        }
      require(raised, "mid-stream compact must fail the changes stream")
      s.read.parquet(sink).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    // Manifest-level DATA SKIPPING: three doc_id-banded appends each
    // carry a min/max sidecar (GroupStats), and readWhere excludes every
    // group whose bounds prove no match BEFORE the scan is planned — the
    // Delta/Iceberg skipping economics (a one-band predicate over a
    // year-of-appends table never lists the other bands' files;
    // GroupStatsSpec pins the pruned inputFiles). Skipping is an
    // optimization, never the filter: the result must equal a plain
    // read+filter, which is exactly what the oracle recomputes.
    "version_skipping_scan" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/skip_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val hi = docs.agg(max("doc_id")).collect()(0).getLong(0)
      val (b1, b2) = (hi / 3, 2 * hi / 3)
      Versioned.commit(docs.filter(col("doc_id") <= b1), tbl)
      Versioned.append(docs.filter(col("doc_id") > b1 && col("doc_id") <= b2), tbl)
      Versioned.append(docs.filter(col("doc_id") > b2), tbl)
      Versioned.readWhere(s, tbl)(
        col("doc_id") > b1 && col("doc_id") <= b2 && col("n_chars") >= 200)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    // OPTIMIZE ZORDER BY for versioned tables: the table arrives in
    // HASH-BUCKET order (every append spans the full doc_id and n_chars
    // domains — arrival-ordered stats prune nothing), then
    // Versioned.cluster rewrites it z-ordered on (doc_id, n_chars) into
    // curve-contiguous file groups whose sidecar stats are tight on
    // BOTH dims at once, so readWhere prunes on either
    // (VersionedIngestSpec pins the pruned group sets). The query scans
    // through the clustered version with a two-dim predicate; the
    // oracle recomputes it from raw documents — the rewrite must be
    // row-invisible.
    "versioned_cluster_skipping" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/clus_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val bk = Sampling.bucket(col("doc_id"), 31L)
      Versioned.commit(docs.filter(bk < 5000), tbl)
      Versioned.append(docs.filter(bk >= 5000), tbl)
      Versioned.cluster(s, tbl, Seq("doc_id", "n_chars"), numGroups = 8)
      Versioned.readWhere(s, tbl)(col("n_chars").between(150, 400))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"),
          sum("n_chars").as("char_sum"))
        .orderBy("lang")
    }),

    // EXACTLY-ONCE streaming ingest: a file stream drains three staged
    // batches through Versioned.streamInto — each micro-batch lands as
    // one append version via the (appId, batchId) txn watermark in the
    // manifest (Delta's txnAppId/txnVersion mechanism). After the
    // drain, a zombie-writer replay of the LAST batch is forced through
    // appendOnce with the committed batchId: the watermark skips it, so
    // the rollup counts every document exactly once — any duplicate
    // doubles a lang group and fails the hash. A second checkpointed
    // drain over the same source appends nothing either (engine + txn
    // compose; VersionedIngestSpec pins both layers).
    "streaming_versioned_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/ing_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val scratch = java.nio.file.Files.createTempDirectory("graft_ving")
      val src = scratch.resolve("src").toString
      val ckpt = scratch.resolve("ckpt").toString
      val bk = Sampling.bucket(col("doc_id"), 37L)
      docs.filter(bk < 3000).coalesce(1).write.parquet(s"$src/b0")
      docs.filter(bk >= 3000 && bk < 7000).coalesce(1).write.parquet(s"$src/b1")
      docs.filter(bk >= 7000).coalesce(1).write.parquet(s"$src/b2")
      val schema = s.read.parquet(s"$src/b0").schema
      def drain(): Unit = Versioned.streamInto(
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$src/*"),
        tbl, "ingest", ckpt).awaitTermination()
      drain()
      // Zombie replay of the last committed batch: watermark-skipped.
      val last = Versioned.lastCommittedBatch(s, tbl, "ingest")
      require(Versioned.appendOnce(
        docs.filter(bk >= 7000), tbl, "ingest", last).isEmpty,
        "replayed batch must be skipped")
      drain() // checkpointed restart: nothing new
      Versioned.read(s, tbl).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    // The format("graft") DATASOURCE surface end-to-end: DataFrame
    // writes (overwrite snapshot + append) build the versioned table, a
    // catalog table (CREATE TABLE USING graft) reads it from SQL,
    // INSERT INTO lands as another append version, and the final SELECT
    // goes through the source's pushed-filter path (group skipping via
    // the stats sidecars; GraftSourceSpec pins every translation shape
    // against the library read). The oracle recomputes the same rows
    // from raw documents — three write APIs, one truth.
    // RESTORE as the undo button: v0 en-snapshot, v1 appends the rest,
    // v2 is an over-aggressive "curation" snapshot that kept only src0
    // — restore(1) republishes v1's file groups METADATA-ONLY (no data
    // read or copied; VersionedIngestSpec pins the group-set identity)
    // and the table reads complete again while the mistake stays in
    // history. The rollup must equal all documents exactly: any
    // restore-path row loss or duplication fails the hash.
    "versioned_restore" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/rest_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      Versioned.commit(docs.filter(col("source") === "src0"), tbl) // bad strike
      Versioned.restore(s, tbl, 1L)
      Versioned.read(s, tbl).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    // Copy-on-write DELETE with ANSI null semantics, composed with
    // schema evolution: the table is born WITHOUT n_chars (en snapshot),
    // each non-en lang lands as its own evolveSchema append (one file
    // group per lang, so the delete's stats phase prunes per-lang), then
    // `DELETE WHERE n_chars > 400` strikes only evolved rows — the en
    // group's NULL n_chars evaluates the predicate to NULL and those
    // rows are KEPT, exactly as `DELETE FROM t WHERE p` keeps null-p
    // rows in Spark/Delta/ANSI. Exact touched-file detection means the
    // en group (and any lang group with no >400 doc) carries into the
    // new manifest metadata-only (VersionedMutationSpec pins the group
    // identities; here the oracle pins the row semantics).
    // DELETION VECTORS (merge-on-read deletes): a GDPR-shaped scatter
    // delete — one thin modulo slice of EVERY file group, the predicate
    // stats cannot prune and copy-on-write handles worst (it would
    // rewrite the whole table) — commits as position sidecars with the
    // data groups UNTOUCHED. The query then proves the DV is
    // semantically invisible: a merge re-inserts the deleted en keys
    // (a DV'd key must neither match nor block the insert), the
    // pre-delete version still reads every row, and the emitted audit
    // columns pin that the DV path actually engaged (dv entries
    // present, file set unchanged) — so a regression to silent
    // rewriting fails the oracle, not just a perf curve.
    "versioned_dv" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/dv_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Seq("de", "es", "fr", "zh").foreach(l =>
        Versioned.append(docs.filter(col("lang") === l), tbl))
      val v0 = Versioned.latestVersion(s, tbl)
      val groupsBefore = Versioned.parseManifest(s, tbl, v0).files.toSet
      val vDel = Versioned.delete(s, tbl)(col("doc_id") % 97L === 0L)
      val m = Versioned.parseManifest(s, tbl, vDel)
      val dvEngaged = m.dvs.nonEmpty && m.files.toSet == groupsBefore
      // resurrect the deleted en keys under a sentinel lang: NOT
      // matched (the rows are DV-gone) → all must INSERT
      val resurrect = docs
        .filter(col("lang") === "en" && col("doc_id") % 97L === 0L)
        .select(col("doc_id"), lit("xx").as("lang"), col("n_chars"))
      Versioned.merge(s, tbl, resurrect, Seq("doc_id"))
      val preDeleteRows = Versioned.read(s, tbl, v0).count()
      Versioned.read(s, tbl).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum("doc_id").cast("long").as("id_sum"))
        .withColumn("dv_engaged", lit(dvEngaged))
        .withColumn("pre_delete_rows", lit(preDeleteRows))
        .orderBy("lang")
    }),

    // MERGE-ON-READ UPDATE: a scattered update (one thin modulo slice
    // of every group) writes ONLY the updated copies plus a position
    // sidecar — no group rewrites — and changesFeed serves the change
    // as Delta CDF's update_preimage/update_postimage pair derived
    // from the manifest + DV diff alone. Audit columns pin that the
    // DV path engaged (every original group kept + exactly one copies
    // group added) AND that the feed's pre/post images agree with the
    // slice; the rollup pins the final table row-for-row.
    "versioned_dv_update" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/dvu_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Seq("de", "es", "fr", "zh").foreach(l =>
        Versioned.append(docs.filter(col("lang") === l), tbl))
      val v0 = Versioned.latestVersion(s, tbl)
      val groupsBefore = Versioned.parseManifest(s, tbl, v0).files.toSet
      val vUpd = Versioned.update(s, tbl,
        col("doc_id") % 101L === 0L, "lang" -> lit("xx"))
      val m = Versioned.parseManifest(s, tbl, vUpd)
      val feed = Versioned.changesFeed(s, tbl, v0).capLineage()
      val pre = feed.filter(col("_change_type") === "update_preimage")
      val post = feed.filter(col("_change_type") === "update_postimage")
      val nPre = pre.count()
      val preSum = pre.agg(coalesce(sum("doc_id"), lit(0L))).head.getLong(0)
      val postSum = post.agg(coalesce(sum("doc_id"), lit(0L))).head.getLong(0)
      val dvEngaged = m.dvs.nonEmpty &&
        groupsBefore.subsetOf(m.files.toSet) &&
        m.files.size == groupsBefore.size + 1 &&
        nPre == post.count() && preSum == postSum &&
        post.filter(col("lang") =!= "xx").isEmpty
      Versioned.read(s, tbl).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum("doc_id").cast("long").as("id_sum"))
        .withColumn("dv_engaged", lit(dvEngaged))
        .withColumn("n_changed", lit(nPre))
        .withColumn("changed_id_sum", lit(preSum))
        .orderBy("lang")
    }),

    // ROW-LEVEL CDC (Delta CDF shape) from manifests + deletion
    // vectors, no change files ever written: en commits as the base,
    // de appends (inserts), a scattered DV delete removes a modulo
    // slice of BOTH (the deleted rows' full pre-image values come back
    // from the immutable groups via the position diff), fr appends
    // after. The oracle recomputes every (change_type, commit_version,
    // lang) cell — an insert leaking from the base, a delete emitting
    // the wrong rows, or a DV diff double-counting a previously
    // deleted position all break the rollup.
    "version_changes_feed" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/cdf_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl) // v0 base
      Versioned.append(docs.filter(col("lang") === "de"), tbl) // v1
      Versioned.delete(s, tbl)(col("doc_id") % 97L === 0L) // v2: pure DV
      Versioned.append(docs.filter(col("lang") === "fr"), tbl) // v3
      Versioned.changesFeed(s, tbl, 0L)
        .groupBy(col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"), col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("change_type", "commit_version", "lang")
    }),

    // STREAMING CDF: the change feed drained through
    // spark.readStream.format("graft").option("readChangeFeed") — the
    // full append + DV-delete + DV-update lifecycle arrives as typed
    // change rows (insert / delete / update_preimage / update_postimage
    // with _commit_version), planned per micro-batch from manifest
    // ranges with the DV artifacts as the STATIC join side. The oracle
    // recomputes every (change_type, commit_version, lang) cell incl.
    // the genesis inserts; a checkpointed second drain after the
    // update proves version-range exactly-once (any re-emission
    // doubles a cell).
    "version_changes_feed_streaming" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/cdfs_${etlSuffix(dir)}"
      val io = s"/tmp/graft_versioned/cdfs_io_${etlSuffix(dir)}"
      Seq(tbl, io).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      Versioned.commit(docs.filter(col("lang") === "en"), tbl) // v0
      Versioned.append(docs.filter(col("lang") === "de"), tbl) // v1
      Versioned.delete(s, tbl)(col("doc_id") % 97L === 0L) // v2: DV
      Versioned.append(docs.filter(col("lang") === "fr"), tbl) // v3
      def drain(): Unit = {
        val q = s.readStream.format("graft")
          .option("readChangeFeed", "true").load(tbl)
          .writeStream.format("parquet")
          .option("path", s"$io/sink")
          .option("checkpointLocation", s"$io/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain() // genesis through v3
      Versioned.update(s, tbl,
        col("doc_id") % 89L === 0L, "lang" -> lit("yy")) // v4: DV update
      drain() // exactly-once: ONLY v4's pair arrives
      s.read.parquet(s"$io/sink")
        .groupBy(col("_change_type").as("change_type"),
          col("_commit_version").as("commit_version"), col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("change_type", "commit_version", "lang")
    }),

    // table_changes SQL TVF (Delta's CDF table function): the same
    // append + DV-delete lifecycle as version_changes_feed, read
    // entirely through SQL — INCLUSIVE start at version 0 also serves
    // genesis content as version-0 inserts (Delta's from-genesis CDF
    // read). The oracle recomputes every (change_type, commit_version,
    // lang) cell including the genesis block.
    "table_changes_sql" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/tvf_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl) // v0
      Versioned.append(docs.filter(col("lang") === "de"), tbl) // v1
      Versioned.delete(sql, tbl)(col("doc_id") % 97L === 0L)   // v2: pure DV
      Versioned.append(docs.filter(col("lang") === "fr"), tbl) // v3
      sql.sql(s"""SELECT _change_type AS change_type,
                 |  _commit_version AS commit_version, lang,
                 |  count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum
                 |FROM table_changes('$tbl', 0)
                 |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)
    }),

    // MULTI-COLUMN NOT IN DML — the ANSI tuple trap, exactly: the set
    // carries a NULL-bearing tuple ('en', NULL), which keeps every
    // en row (UNKNOWN), while rows failing EVERY tuple on some column
    // delete even when another column is NULL. The oracle is DuckDB
    // evaluating the PROVABLY-EQUIVALENT null-aware NOT EXISTS rewrite
    // (DuckDB's own ROW(...) NOT IN uses struct semantics — non-ANSI —
    // so the rewrite IS the ANSI judge).
    "datasource_dml_not_in_multi" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      val tbl = s"/tmp/graft_versioned/nim_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      sql.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src1")
        .select(col("lang").as("k1"), col("source").as("k2")).distinct()
        .unionByName(sql.range(1).select(
          lit("en").as("k1"), lit(null).cast("string").as("k2")))
        .createOrReplaceTempView("__nim_set")
      sql.sql(s"""DELETE FROM graft.`$tbl`
                 |WHERE (lang, source) NOT IN (SELECT k1, k2 FROM __nim_set)
                 |""".stripMargin)
      sql.sql(s"""SELECT lang, source, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum
                 |FROM graft.`$tbl` GROUP BY lang, source
                 |ORDER BY lang, source""".stripMargin)
    }),

    // MULTI-COLUMN NOT IN ABOVE THE LITERAL LIMIT — the JOIN fallback:
    // the same ANSI tuple semantics as datasource_dml_not_in_multi but
    // the key set (475 (doc_id, lang) tuples + one NULL-bearing) runs
    // as a null-aware anti-join mutation (hash semi-join for the
    // non-NULL volume, bounded NL for the NULL residue), forced by
    // lowering spark.graft.dml.notInLiteralLimit under the statement.
    // A residual (n_chars < 400) rides the claim. The oracle is the
    // same provably-equivalent NOT EXISTS rewrite in DuckDB.
    "datasource_dml_not_in_multi_large" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
      val tbl = s"/tmp/graft_versioned/niml_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      sql.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") =!= "src5")
        .select(col("doc_id").as("k1"), col("lang").as("k2")).distinct()
        .unionByName(sql.range(1).select(
          lit(-1L).as("k1"), lit(null).cast("string").as("k2")))
        .createOrReplaceTempView("__niml_set")
      sql.conf.set("spark.graft.dml.notInLiteralLimit", "10")
      try
        sql.sql(s"""DELETE FROM graft.`$tbl`
                   |WHERE (doc_id, lang) NOT IN (SELECT k1, k2 FROM __niml_set)
                   |  AND n_chars < 400""".stripMargin)
      finally sql.conf.unset("spark.graft.dml.notInLiteralLimit")
      sql.sql(s"""SELECT lang, source, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum
                 |FROM graft.`$tbl` GROUP BY lang, source
                 |ORDER BY lang, source""".stripMargin)
    }),

    // MIXED DV MERGE through the change feed: one SQL MERGE whose
    // matched claims split (short docs delete, long docs update) plus
    // partial-column inserts — the feed must attribute every row via
    // the kind-tagged positions and the manifest's copies annotation:
    // delete claims as 'delete', update claims as pre/post image pairs
    // (preimage keeps the OLD lang, postimage shows 'xx'), inserts as
    // 'insert' with the NULL-filled shape. The oracle recomputes every
    // (change_type, lang) cell from the raw docs.
    "version_changes_feed_merge" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/cdfm_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl) // v0
      Versioned.append(docs.filter(col("lang") === "de"), tbl) // v1
      val vPre = Versioned.latestVersion(sql, tbl)
      val raw = sql.read.parquet(s"$dir/documents.parquet")
      raw.filter(col("doc_id") % 97L === 0L).select("doc_id")
        .unionByName(raw.filter(col("source") === "src2")
          .select((col("doc_id") + 5000000L).as("doc_id")))
        .distinct()
        .createOrReplaceTempView("__cdfm_src")
      sql.sql(s"""MERGE INTO graft.`$tbl` t USING __cdfm_src s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED AND t.n_chars < 250 THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET lang = 'xx'
                 |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                 |  VALUES (s.doc_id, 'yy', 0)""".stripMargin)
      Versioned.changesFeed(sql, tbl, vPre)
        .groupBy(col("_change_type").as("change_type"), col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          sum("doc_id").cast("long").as("id_sum"))
        .orderBy("change_type", "lang")
    }),

    "versioned_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = s"/tmp/graft_versioned/del_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(
        docs.filter(col("lang") === "en").select("doc_id", "text", "lang"), tbl)
      Seq("de", "es", "fr", "zh").foreach { l =>
        Versioned.append(
          docs.filter(col("lang") === l).select("doc_id", "text", "lang", "n_chars"),
          tbl, evolveSchema = true)
      }
      Versioned.delete(s, tbl)(col("n_chars") > 400L)
      Versioned.read(s, tbl).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    // CREATE TABLE CLONE (deep): the en corpus clones into a sandbox,
    // the sandbox strikes non-src0 rows and the SOURCE keeps appending
    // — the two tables must stay fully independent (the oracle unions
    // both sides' expected contents; any cross-contamination breaks
    // either half's rows). Constraint carry-over and historical clones
    // are pinned in ConstraintSpec.
    "versioned_clone" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "source")
      val src = s"/tmp/graft_versioned/clsrc_${etlSuffix(dir)}"
      val dst = s"/tmp/graft_versioned/cldst_${etlSuffix(dir)}"
      Seq(src, dst).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      Versioned.commit(docs.filter(col("lang") === "en"), src)
      Versioned.cloneTable(s, src, dst)
      Versioned.delete(s, dst)(col("source") =!= "src0") // sandbox strike
      Versioned.append(docs.filter(col("lang") =!= "en"), src) // source evolves
      val a = Versioned.read(s, src).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
        .withColumn("side", lit("src"))
      val b = Versioned.read(s, dst).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
        .withColumn("side", lit("clone"))
      a.unionByName(b).orderBy("side", "lang")
    }),

    // Whole-document bin packing (best-fit-decreasing per shard): the
    // padding-waste killer for loaders that must keep documents intact
    // inside a context window (no cross-doc spill). The fit decision is
    // sequential, so the oracle gates invariants instead of recomputing
    // the assignment: doc and token totals EXACT, no multi-doc pack
    // over budget, and fill ratio over the whole corpus at least 90%
    // (BinPackingSpec pins bit-exact agreement with a sequential
    // best-fit reference, determinism, and the next-fit dominance).
    "pack_binpack_gate" -> ((s, dir) => {
      val toks = TextAnalysis.withNormToks(t(s, dir, "documents"), "text")
        .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"))
      val packed = Packing.packBestFitDecreasing(
        toks, "doc_id", "n_tokens", budget = 256, shards = 8)
        .capLineage()
      val byPack = packed.groupBy("shard", "pack_id")
        .agg(sum(col("n_tokens")).as("pt"), count(lit(1)).as("n"))
      val packStats = byPack.agg(
        count(lit(1)).as("__n_packs"),
        max(org.apache.spark.sql.functions.when(col("n") > 1, col("pt"))
          .otherwise(0L)).as("__max_multi"))
      packed.agg(
        count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .crossJoin(packStats)
        .select(col("n_docs"), col("total_tokens"),
          (col("__max_multi") <= 256L).as("within_budget"),
          (col("total_tokens").cast("double") /
            (col("__n_packs") * lit(256.0d)) >= 0.9d).as("util_ok"))
    }),

    // Adaptive per-domain quality cutoff: drop the worst 20% of every
    // lang by n_chars — the per-domain quantile form of filtering,
    // where one global threshold would gut short-doc domains. Exact
    // rank window, ties by doc_id; the oracle recomputes the identical
    // window, so counts, the post-cut minimum AND the exact surviving
    // id-set (via id_sum) must match.
    "domain_drop_bottom" -> ((s, dir) =>
      Sampling.dropBottomFraction(
        t(s, dir, "documents"), "lang", "n_chars", "doc_id", 0.2)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          min("n_chars").as("min_chars"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang")),

    // CHECK-constraint lifecycle: the table starts clean, ALTER TABLE
    // ADD CONSTRAINT pins n_chars <= 500, a dirty append (rows over the
    // cap) is REFUSED before its manifest publishes — no partial batch,
    // no leaked group (ConstraintSpec pins that) — and the clean slice
    // of the same batch lands. The oracle recomputes the only content
    // a correctly-enforced table can hold; any row from the refused
    // batch poisons the hash.
    "versioned_constraints" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/cons_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(
        docs.filter(col("lang") === "en" && col("n_chars") <= 500L), tbl)
      Versioned.addConstraint(s, tbl, "chars_cap", "n_chars <= 500")
      try Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      catch { case _: IllegalArgumentException => () } // dirty batch refused whole
      Versioned.append(
        docs.filter(col("lang") =!= "en" && col("n_chars") <= 500L), tbl)
      Versioned.read(s, tbl).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("char_sum"))
        .orderBy("lang")
    }),

    // Copy-on-write UPDATE, the third DML leg: a 10% discount lands on
    // urgent orders only, in place — assignments apply under
    // coalesce(cond, false), the table's shape is unchanged (type
    // guard), and groups with no urgent rows carry over metadata-only
    // (VersionedMutationSpec pins carry-over + the NULL-predicate
    // untouched row; here the oracle pins the arithmetic).
    "versioned_update" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      val tbl = s"/tmp/graft_versioned/upd_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(orders.filter(col("o_orderkey") < 1000L), tbl)
      Versioned.append(orders.filter(col("o_orderkey") >= 1000L), tbl)
      Versioned.update(s, tbl, col("o_orderpriority") === "1-URGENT",
        "o_totalprice" -> (col("o_totalprice") * 0.9d))
      Versioned.read(s, tbl).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderpriority")
    }),

    // Copy-on-write MERGE (upsert-by-replacement): updates to existing
    // keys replace their rows, fresh keys insert, untouched rows carry
    // over — `MERGE WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    // THEN INSERT *` over the versioned table. The table is built as
    // two range-split appends so the source's key bounds + the exact
    // semi-join detection rewrite only groups with real matches
    // (VersionedMutationSpec pins that; the oracle recomputes the full
    // merge result from raw orders).
    "versioned_merge" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val tbl = s"/tmp/graft_versioned/mrg_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(orders.filter(col("o_orderkey") < 1000L), tbl)
      Versioned.append(orders.filter(col("o_orderkey") >= 1000L), tbl)
      val src = orders.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0d).as("o_totalprice"))
        .unionByName(orders.filter(col("o_orderkey") % 500 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus"), lit(0.5d).as("o_totalprice")))
      Versioned.merge(s, tbl, src, Seq("o_orderkey"))
      Versioned.read(s, tbl).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus")
    }),

    // SCHEMA EVOLUTION on the manifest: the table is born WITHOUT
    // n_chars (en snapshot), then an evolveSchema append lands non-en
    // rows WITH it — the manifest records the evolved schema, reads are
    // inference-free against it, and the pre-evolution group null-fills
    // the new column (count(n_chars) sees only the evolved rows). The
    // oracle rebuilds the same union with NULLs from raw documents.
    // Drift without the opt-in raises (VersionedIngestSpec), as do type
    // conflicts even with it.
    "versioned_schema_evolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tbl = s"/tmp/graft_versioned/evo_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(
        docs.filter(col("lang") === "en").select("doc_id", "text", "lang"), tbl)
      Versioned.append(
        docs.filter(col("lang") =!= "en")
          .select("doc_id", "text", "lang", "n_chars"),
        tbl, evolveSchema = true)
      Versioned.read(s, tbl).groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          count(col("n_chars")).as("n_chars_known"),
          coalesce(sum("n_chars"), lit(0L)).as("char_sum"))
        .orderBy("lang")
    }),

    "datasource_format_sql" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/dsrc_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      docs.filter(col("lang") === "en")
        .write.format("graft").mode("overwrite").save(tbl)
      docs.filter(col("lang") =!= "en")
        .write.format("graft").mode("append").save(tbl)
      val cat = s"graft_ds_${etlSuffix(dir)}"
      s.sql(s"DROP TABLE IF EXISTS $cat")
      s.sql(s"CREATE TABLE $cat USING graft OPTIONS (path '$tbl')")
      docs.filter(col("source") === "src0").createOrReplaceTempView("ds_extra")
      s.sql(s"INSERT INTO $cat SELECT doc_id, text, lang, n_chars FROM ds_extra")
      s.sql(
        s"""SELECT lang, count(*) AS n_rows, sum(doc_id) AS id_sum
           |FROM $cat WHERE n_chars >= 100
           |GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // CONVERT TO GRAFT: a plain parquet directory becomes version 0 in
    // place (file MOVES — at 100 TB conversion costs renames + one
    // stats pass, never a copy; GraftDmlSpec pins the same-file-names
    // adoption), then lives as a full table: append + SQL DELETE here.
    // Oracle replays the post-migration lifecycle from raw documents.
    "convert_to_graft" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val tbl = s"/tmp/graft_versioned/conv_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      val raw = sql.read.parquet(s"$dir/documents.parquet")
      raw.select("doc_id", "lang", "n_chars")
        .repartition(4).write.parquet(tbl) // the pre-migration plain dir
      sql.sql(s"CONVERT TO GRAFT parquet.`$tbl`")
      Versioned.append(raw.filter(col("source") === "src0")
        .select((col("doc_id") + 3000000L).as("doc_id"),
          col("lang"), col("n_chars")), tbl)
      sql.sql(s"DELETE FROM graft.`$tbl` WHERE n_chars < 100")
      sql.sql(s"""SELECT lang, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                 |  CAST(sum(n_chars) AS BIGINT) AS char_sum
                 |FROM graft.`$tbl` GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // GENERAL MERGE clause surface (Versioned.mergeClauses through the
    // SQL extension): conditional matched DELETE, matched UPDATE with
    // expressions over both rows, conditional INSERT *, and NOT
    // MATCHED BY SOURCE UPDATE — first-applicable per category, one
    // COW pass. The oracle replays every clause relationally.
    "datasource_merge_clauses" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/mrgc_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      val raw = sql.read.parquet(s"$dir/documents.parquet")
      raw.filter(col("source") === "src1")
        .select(col("doc_id"), lit("xx").as("lang"), col("n_chars"))
        .unionByName(raw.filter(col("source") === "src2")
          .select((col("doc_id") + 5000000L).as("doc_id"),
            lit("yy").as("lang"), col("n_chars")))
        .createOrReplaceTempView("__mrgc_src")
      sql.sql(s"""MERGE INTO graft.`$tbl` t USING __mrgc_src s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED AND t.n_chars < 200 THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET lang = s.lang,
                 |  n_chars = t.n_chars + 1
                 |WHEN NOT MATCHED AND s.lang = 'yy' THEN INSERT *
                 |WHEN NOT MATCHED BY SOURCE AND t.lang = 'de'
                 |  THEN UPDATE SET n_chars = 0""".stripMargin)
      sql.sql(s"""SELECT lang, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                 |  CAST(sum(n_chars) AS BIGINT) AS char_sum
                 |FROM graft.`$tbl` GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // IN-SUBQUERY DML surface: `DELETE ... WHERE k IN (SELECT ...)`
    // (a Delta migrant's first cleanup job) rides the merge-clause COW
    // — subquery evaluated against the PRE-IMAGE, key range → candidate
    // groups → exact semi-join, untouched groups metadata-only. The
    // UPDATE's subquery reads the target table ITSELF mid-lifecycle
    // (pre-image pinned in GraftDmlSpec).
    "datasource_dml_subquery" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/dmlsq_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      sql.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src1").select("doc_id")
        .createOrReplaceTempView("__dmlsq_quarantine")
      sql.sql(s"""DELETE FROM graft.`$tbl`
                 |WHERE doc_id IN (SELECT doc_id FROM __dmlsq_quarantine)
                 |  AND n_chars < 300""".stripMargin)
      sql.sql(s"""UPDATE graft.`$tbl` SET n_chars = n_chars + 1000
                 |WHERE doc_id IN
                 |  (SELECT doc_id FROM graft.`$tbl` WHERE lang = 'de')""".stripMargin)
      sql.sql(s"""SELECT lang, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                 |  CAST(sum(n_chars) AS BIGINT) AS char_sum
                 |FROM graft.`$tbl` GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // PARTIAL-COLUMN MERGE surface: UPDATE SET <subset> leaves unlisted
    // columns untouched; INSERT (cols) VALUES (exprs) NULL-fills
    // unlisted columns — the reference's own upsert semantic (pk ∪
    // update columns, the rest NULL, delta.py:146-147) now expressible
    // in SQL. The inserted rows' lang IS NULL — the oracle pins it via
    // lang_known. Untouched-group carry pinned in GraftDmlSpec.
    "datasource_merge_partial_insert" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/mrgpi_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      val raw = sql.read.parquet(s"$dir/documents.parquet")
      raw.filter(col("source") === "src1")
        .select(col("doc_id"), col("n_chars"))
        .unionByName(raw.filter(col("source") === "src2")
          .select((col("doc_id") + 7000000L).as("doc_id"), col("n_chars")))
        .createOrReplaceTempView("__mrgpi_src")
      sql.sql(s"""MERGE INTO graft.`$tbl` t USING __mrgpi_src s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 10
                 |WHEN NOT MATCHED THEN INSERT (doc_id, n_chars)
                 |  VALUES (s.doc_id, s.n_chars * 2)""".stripMargin)
      sql.sql(s"""SELECT coalesce(lang, 'NULL') AS lang,
                 |  count(*) AS n_rows, count(lang) AS lang_known,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                 |  CAST(sum(n_chars) AS BIGINT) AS char_sum
                 |FROM graft.`$tbl`
                 |GROUP BY coalesce(lang, 'NULL') ORDER BY lang""".stripMargin)
    }),

    // EXISTS / NOT IN / NOT EXISTS DML conditions — pre-image key-set
    // evaluation riding the merge-clause COW: correlated EXISTS strips
    // its key equality and runs as the IN key set; NOT EXISTS runs
    // by-source (a NULL target key never matches, so it IS claimed);
    // NOT IN is NULL-aware (a NULL in the set = global no-op — step 3
    // deletes NOTHING because its set contains NULL; a NULL key is kept
    // against a non-empty set). The oracle replays every step with
    // DuckDB's OWN evaluator via `(cond) IS [NOT] TRUE`, so the ANSI
    // NULL semantics are judged by DuckDB, not by a hand-derived
    // simplification.
    "datasource_dml_exists" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/dmlex_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      sql.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src1")
        .select(col("doc_id"), col("n_chars").as("nc"))
        .createOrReplaceTempView("__dmlex_src")
      sql.sql("SELECT DISTINCT lang AS l FROM parquet.`" + dir +
        "/documents.parquet` WHERE lang IN ('en', 'de')")
        .createOrReplaceTempView("__dmlex_langs")
      sql.sql("SELECT DISTINCT CASE WHEN lang = 'en' THEN lang END AS l " +
        "FROM parquet.`" + dir + "/documents.parquet`")
        .createOrReplaceTempView("__dmlex_nulls")
      // 1: correlated EXISTS with a local conjunct (the outer column
      // must be alias-qualified — an unqualified doc_id binds to the
      // subquery's own column, exactly as in ANSI scoping)
      sql.sql(s"""DELETE FROM graft.`$tbl` t
                 |WHERE EXISTS (SELECT 1 FROM __dmlex_src e
                 |  WHERE e.doc_id = t.doc_id AND e.nc < 200)""".stripMargin)
      // 2: NOT IN over a non-empty NULL-free set + residual conjunct
      sql.sql(s"""UPDATE graft.`$tbl` SET n_chars = n_chars + 500
                 |WHERE lang NOT IN (SELECT l FROM __dmlex_langs)
                 |  AND n_chars < 300""".stripMargin)
      // 3: NOT IN whose set CONTAINS NULL — the ANSI no-op
      sql.sql(s"""DELETE FROM graft.`$tbl`
                 |WHERE lang NOT IN (SELECT l FROM __dmlex_nulls)""".stripMargin)
      // 4: NOT EXISTS + residual
      sql.sql(s"""DELETE FROM graft.`$tbl` t
                 |WHERE NOT EXISTS (SELECT 1 FROM __dmlex_src e
                 |  WHERE e.doc_id = t.doc_id)
                 |  AND n_chars > 800""".stripMargin)
      sql.sql(s"""SELECT lang, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                 |  CAST(sum(n_chars) AS BIGINT) AS char_sum
                 |FROM graft.`$tbl` GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // GENERAL MERGE ON surface: differently-named key equalities
    // (t.doc_id = s.sdoc — the source is projected with the target key
    // name added, then the same-named COW key path runs unchanged) plus
    // a NON-KEY residual conjunct (t.n_chars < 400) folded into
    // matched-ness with the ANSI reading: a key-equal pair FAILING the
    // residual is NOT matched — its source row INSERTS (the classic
    // hand-written-MERGE trap, which the oracle recomputes relationally
    // as LEFT JOIN ON keys+residual / NOT EXISTS keys+residual).
    // DV-BACKED SQL MERGE (Delta's merge-on-read MERGE): a matched
    // program whose claims are a thin modulo slice of EVERY group —
    // deletes below a length bound, updates above it — commits
    // position sidecars + one copies group with NO group rewrite. The
    // dv_engaged audit column FAILS the oracle if the path silently
    // degrades to rewriting (dv entries absent or an original group
    // replaced); the rollup pins the surviving rows exactly.
    "datasource_merge_dv" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/mrgdv_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Seq("de", "es", "fr", "zh").foreach(l =>
        Versioned.append(docs.filter(col("lang") === l), tbl))
      val v0 = Versioned.latestVersion(sql, tbl)
      val groupsBefore = Versioned.parseManifest(sql, tbl, v0).files.toSet
      sql.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 97L === 0L).select("doc_id")
        .createOrReplaceTempView("__mrgdv_src")
      sql.sql(s"""MERGE INTO graft.`$tbl` t USING __mrgdv_src s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED AND t.n_chars < 250 THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET lang = 'xx'""".stripMargin)
      val m = Versioned.parseManifest(sql, tbl, Versioned.latestVersion(sql, tbl))
      val dvEngaged = m.dvs.nonEmpty &&
        groupsBefore.subsetOf(m.files.toSet) &&
        m.files.size <= groupsBefore.size + 1 // originals + one copies group
      sql.sql(s"""SELECT lang, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                 |  CAST(sum(n_chars) AS BIGINT) AS char_sum
                 |FROM graft.`$tbl` GROUP BY lang ORDER BY lang""".stripMargin)
        .withColumn("dv_engaged", lit(dvEngaged))
    }),

    "datasource_merge_on_expr" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/mrgon_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      sql.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src2")
        .select(col("doc_id").as("sdoc"),
          (col("n_chars") % 50 + 1).as("bump"))
        .createOrReplaceTempView("__mrgon_src")
      sql.sql(s"""MERGE INTO graft.`$tbl` t USING __mrgon_src s
                 |ON t.doc_id = s.sdoc AND t.n_chars < 400
                 |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + s.bump
                 |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n_chars)
                 |  VALUES (s.sdoc, 'xx', s.bump)""".stripMargin)
      sql.sql(s"""SELECT lang, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                 |  CAST(sum(n_chars) AS BIGINT) AS char_sum
                 |FROM graft.`$tbl` GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // MAINTENANCE SQL surface (GraftSqlParser — DeltaSqlParser's
    // architecture): statements core Spark cannot parse — ALTER TABLE
    // ADD CONSTRAINT, OPTIMIZE ZORDER BY, RESTORE TO VERSION AS OF,
    // DESCRIBE HISTORY — drive a full lifecycle, and the audit read IS
    // the query output (version/mode/n_rows are deterministic; the
    // oracle replays the whole lifecycle's row counts relationally).
    "datasource_maintenance_sql" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/maint_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)       // v0
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)       // v1
      sql.sql(s"ALTER TABLE graft.`$tbl` ADD CONSTRAINT nchars_pos " +
        "CHECK (n_chars >= 0)")                                      // v2
      sql.sql(s"OPTIMIZE graft.`$tbl` ZORDER BY (doc_id)")           // v3
      sql.sql(s"DELETE FROM graft.`$tbl` WHERE doc_id % 5 = 0")      // v4
      sql.sql(s"RESTORE graft.`$tbl` TO VERSION AS OF 3")            // v5
      sql.sql(s"DESCRIBE HISTORY graft.`$tbl`")
        .select("version", "mode", "n_rows").orderBy("version")
    }),

    // COLUMN MAPPING: RENAME COLUMN is metadata-only (no group
    // rewritten; VersionedColumnMappingSpec pins that and the
    // tombstone/constraint refusals) and every version reads through
    // its OWN mapping — the pre-rename read shows the old names while
    // post-rename appends and COW deletes work on the new ones, with
    // file groups storing physical names throughout. The oracle
    // replays both table states from raw documents.
    "versioned_rename" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/ren_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)   // v0
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)   // v1
      Versioned.renameColumn(s, tbl, "lang", "language")         // v2
      Versioned.renameColumn(s, tbl, "n_chars", "chars")         // v3
      Versioned.append(                                          // v4
        t(s, dir, "documents").filter(col("source") === "src0")
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("lang").as("language"), col("n_chars").as("chars")), tbl)
      Versioned.delete(s, tbl)(col("chars") < 100L)              // v5
      def roll(df: DataFrame, phase: String, langCol: String): DataFrame =
        df.groupBy(col(langCol).as("language"))
          .agg(count(lit(1)).as("n_rows"),
            sum("doc_id").cast("long").as("id_sum"))
          .select(lit(phase).as("phase"), col("language"),
            col("n_rows"), col("id_sum"))
      roll(Versioned.read(s, tbl, 1L), "pre_rename", "lang")
        .unionByName(roll(Versioned.read(s, tbl), "post_rename", "language"))
        .orderBy("phase", "language")
    }),

    // SQL row-level DML — the Delta-migrant surface: DELETE FROM /
    // UPDATE / MERGE INTO statements against a graft table via
    // GraftExtensions (analyzer rule -> the same COW triad as the
    // library API; graft.`/path` references resolve like delta.`path`).
    // The oracle replays the three mutations relationally over raw
    // documents. Scale: each statement rewrites ONLY the file groups
    // holding matching rows (stats-pruned candidates + exact
    // input_file_name() touched-group detection); everything else
    // carries metadata-only — GraftDmlSpec pins that.
    "datasource_dml_sql" -> ((s, dir) => {
      val sql = graft.sources.GraftDml.enabledSession(s)
      val docs = sql.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang", "n_chars")
      val tbl = s"/tmp/graft_versioned/dml_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(sql.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      sql.sql(s"DELETE FROM graft.`$tbl` WHERE doc_id % 7 = 0")
      sql.sql(s"UPDATE graft.`$tbl` SET n_chars = n_chars + 1000 " +
        "WHERE lang = 'de'")
      sql.read.parquet(s"$dir/documents.parquet")
        .filter(col("source") === "src1")
        .select(col("doc_id"), lit("xx").as("lang"),
          lit(0L).as("n_chars"))
        .unionByName(sql.read.parquet(s"$dir/documents.parquet")
          .filter(col("source") === "src2")
          .select((col("doc_id") + 5000000L).as("doc_id"),
            lit("yy").as("lang"), lit(1L).as("n_chars")))
        .createOrReplaceTempView("__dml_src")
      sql.sql(s"""MERGE INTO graft.`$tbl` t USING __dml_src s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      sql.sql(s"""SELECT lang, count(*) AS n_rows,
                 |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
                 |  CAST(sum(n_chars) AS BIGINT) AS char_sum
                 |FROM graft.`$tbl` GROUP BY lang ORDER BY lang""".stripMargin)
    }),

    // The CDC consumer loop: three polls against an evolving table. The
    // first two land on all-append windows and receive ONLY the
    // appended rows (served from the new file groups, resync=false);
    // the third crosses a snapshot rewrite — file-group differencing is
    // impossible, so the consumer gets the FULL latest version with
    // resync=true and reprocesses, the same contract as a Delta CDF
    // reader crossing a vacuumed range. The consumer holds ONE long of
    // state (the cursor) no matter how large the table. Oracle
    // recomputes each poll's rollup from raw documents.
    "poll_changes_cycle" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/poll_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      def roll(df: DataFrame, phase: String, resync: Boolean) =
        df.agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
          .select(lit(phase).as("phase"), col("n_rows"), col("id_sum"),
            lit(resync).as("resync"))
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      val (d1, c1, r1) = Versioned.pollChanges(s, tbl, 0L)
      Versioned.append(docs.filter(col("source").isin("src0", "src1", "src2")), tbl)
      val (d2, c2, r2) = Versioned.pollChanges(s, tbl, c1)
      Versioned.commit(docs.filter(col("lang") === "es"), tbl)
      val (d3, _, r3) = Versioned.pollChanges(s, tbl, c2)
      roll(d1, "p1_append", r1)
        .unionByName(roll(d2, "p2_append", r2))
        .unionByName(roll(d3, "p3_resync", r3))
        .orderBy("phase")
    }),

    // Recon ACROSS table versions — the "what drifted between
    // snapshots" composition: v0 is the raw corpus, v1 the curated
    // rewrite (src0 struck via Versioned.curate), and the standard
    // recon surface (per-source metrics + delta/match columns) reports
    // the per-language drift. Versioned reads are plain scans, so the
    // recon plan is identical to one over two tables. The oracle
    // rebuilds both versions' aggregates from raw documents.
    "recon_versions" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/rec_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs, tbl)
      Versioned.curate(s, tbl)(_.filter(col("source") =!= "src0"))
      Versioned.read(s, tbl, 0L).createOrReplaceTempView("__rv_v0")
      Versioned.read(s, tbl, 1L).createOrReplaceTempView("__rv_v1")
      ReconJob.fromYaml(
        """version: 0
          |group_by: [lang]
          |data:
          |  - name: v0
          |    query: SELECT * FROM __rv_v0
          |    metrics:
          |      - n_docs: count(*)
          |      - id_sum: sum(doc_id)
          |  - name: v1
          |    query: SELECT * FROM __rv_v1
          |    metrics:
          |      - n_docs: count(*)
          |      - id_sum: sum(doc_id)
          |""".stripMargin).run()
        .orderBy("lang")
    }),

    // OPTIMIZE-style compaction: three commits accumulate 3 file groups
    // (scan task count tracks file count at scale, not data size);
    // compact() rewrites the latest version as ONE group in a NEW
    // snapshot version with rows identical and the append history still
    // readable. The audit pins the whole shape: group counts per
    // version, the compacted version's single group, and row-count
    // equality v2 == v3. Oracle is raw-docs arithmetic.
    "versioned_compact" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val tbl = s"/tmp/graft_versioned/cmp_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(docs.filter(col("lang") === "en"), tbl)
      Versioned.append(docs.filter(col("lang") =!= "en"), tbl)
      Versioned.append(docs.filter(col("source").isin("src0", "src1", "src2")), tbl)
      Versioned.compact(s, tbl)
      Versioned.describeHistory(s, tbl)
        .select("version", "mode", "n_rows", "n_files", "readable")
        .orderBy("version")
    }),

    // Mergeable distinct-count sketch store: each ingest batch (split by
    // source-name length — src0-9 vs src10-19, SQL-expressible) writes
    // per-language HLL token sketches ONCE; corpus vocabulary size is
    // then answered by union-merging the KB-sized sketch rows, never by
    // rescanning — union-of-sketches IS the sketch of the union, so
    // cross-batch duplicates are not double-counted (a naive per-batch
    // distinct sum would). The estimate is gated at the standard HLL
    // error bound (lgK=12 → ~1.6%; floor 5%) against the exact distinct
    // count, which the oracle recomputes from raw text.
    "sketch_store" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val d = t(s, dir, "documents")
      val p1 = etlScratch(dir, "sketch_b1")
      val p2 = etlScratch(dir, "sketch_b2")
      Sketches.writeTokenSketches(
        d.filter(length(col("source")) === 4), "text", "lang", p1)
      Sketches.writeTokenSketches(
        d.filter(length(col("source")) === 5), "text", "lang", p2)
      val est = Sketches.mergedDistinct(s, Seq(p1, p2))
        .select(col("group").as("lang"), col("est_distinct"))
      val exact = d.select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy("lang").agg(countDistinct(col("tok")).as("n_exact"))
      exact.join(est, Seq("lang"))
        .select(col("lang"), col("n_exact"),
          (abs(col("est_distinct").cast("double") - col("n_exact")) /
            col("n_exact") <= 0.05).as("est_ok"))
        .orderBy("lang")
    }),

    // The STREAMING ingest flavor of the sketch store: the same two
    // batches drain as checkpointed micro-batch runs, each appending
    // its own sketch rows via foreachBatch — the store grows by one
    // KB-sized row set per micro-batch and never rescans. Union of
    // sketches = sketch of the union, so the merged estimate is
    // bit-identical to the batch flavor's and the IDENTICAL oracle
    // gates both.
    "sketch_store_streaming" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val d = t(s, dir, "documents")
      val p = etlScratch(dir, "sketch_stream")
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      graft.streaming.StreamingSketches.sketchDrain(s,
        Seq(d.filter(length(col("source")) === 4).select("lang", "text"),
          d.filter(length(col("source")) === 5).select("lang", "text")),
        "text", "lang", p)
      val est = Sketches.mergedDistinct(s, Seq(p))
        .select(col("group").as("lang"), col("est_distinct"))
      val exact = d.select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy("lang").agg(countDistinct(col("tok")).as("n_exact"))
      exact.join(est, Seq("lang"))
        .select(col("lang"), col("n_exact"),
          (abs(col("est_distinct").cast("double") - col("n_exact")) /
            col("n_exact") <= 0.05).as("est_ok"))
        .orderBy("lang")
    }),

    // The sketch surface generalized past text: per-status distinct
    // CUSTOMERS over orders, two per-batch stores (orderkey parity —
    // customers overlap across batches heavily, which is exactly what
    // per-batch distinct counts cannot handle and merged sketches can),
    // merged estimate gated at the 5% floor against the exact distinct
    // count the oracle recomputes.
    "sketch_store_values" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val p1 = etlScratch(dir, "sketch_v1")
      val p2 = etlScratch(dir, "sketch_v2")
      Sketches.writeValueSketches(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        "o_custkey", "o_orderstatus", p1)
      Sketches.writeValueSketches(
        o.filter(pmod(col("o_orderkey"), lit(2)) === 1),
        "o_custkey", "o_orderstatus", p2)
      val est = Sketches.mergedDistinct(s, Seq(p1, p2))
        .select(col("group").as("o_orderstatus"), col("est_distinct"))
      val exact = o.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact.join(est, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n_exact"),
          (abs(col("est_distinct").cast("double") - col("n_exact")) /
            col("n_exact") <= 0.05).as("est_ok"))
        .orderBy("o_orderstatus")
    }),

    // Per-domain quota: at most 10 docs per source, best quality first
    // (ties to lowest id) — the anti-domination cap crawl pipelines
    // apply per host. Kept rows emitted directly: the oracle recomputes
    // the quality score and the per-source rank from raw text, so
    // membership AND the score itself are hash-gated.
    "domain_quota" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        qualityScore(col("text")).as("quality"))
      Sampling.domainQuota(d, "source", "quality", "doc_id", quota = 10)
        .orderBy("source", "doc_id")
    }),

    // Token-budget selection: the best documents by quality score until a
    // global 15k-token budget is spent — exact distributed prefix sum
    // (range partition + per-partition offsets), never a global sort. The
    // oracle's single global window cumsum must agree row-for-row: the
    // integer running totals make membership engine-exact.
    "budget_select" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val prepared = t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        qualityScore(col("text")).as("quality"))
      Sampling.budgetSelect(prepared, "doc_id", "n_tokens", "quality",
        budget = 15000L)
        .orderBy("doc_id")
    }),

    // Snapshot diff between two corpus versions (the incremental-pipeline
    // pre-flight): the "new" snapshot is a deterministic hash-picked
    // mutation of documents — 5% removed, 10% edited, 5% cloned under new
    // ids — and the diff classifies every id added/removed/changed/
    // unchanged from narrow (id, md5 fingerprint) frames. The oracle
    // rebuilds the mutation AND the verdicts from scratch.
    "corpus_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val bk = Sampling.bucket(col("doc_id"), 13L)
      val mutated = d.filter(bk >= 500)
        .withColumn("text",
          when(bk < 1500, concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
        .unionByName(d.filter(bk >= 9500)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      Snapshot.diffSummary(d, mutated, "doc_id", Seq("text", "lang", "source"))
        .orderBy("status")
    }),

    // Stupid-Backoff trigram LM scoring (the CCNet/Gopher perplexity
    // quality filter): train on the 80% hash-split of the corpus, score
    // the held-out 20% — held-out docs contain unseen n-grams, so the
    // backoff chain is exercised and oracle-checked. The per-doc
    // log-score sum is an ORDERED fold (sort_array + aggregate), so
    // DuckDB's `sum(ls ORDER BY pos)` adds the same doubles in the same
    // sequence — bit-identical before the 6-dp round.
    "lm_doc_scores" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      LanguageModel.stupidBackoffScores(
        d.filter(Sampling.bucket(col("doc_id"), 7L) >= 2000),
        d.filter(Sampling.bucket(col("doc_id"), 7L) < 2000),
        "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Gopher-style quality verdict (Rae et al. 2021 table A1): the full
    // filter stack — word-count/shape rules + repetition gates + the
    // Stupid-Backoff LM fluency floor — composed into ONE keep/drop per
    // document, each gate compared on the 6-dp rounded metric so DuckDB
    // reaches the identical boolean. Thresholds are fixture-scaled (docs
    // are 10-99 words of single-line token soup; of Gopher's stop set
    // only "the" occurs, so the distinct-stopword floor is 1).
    "quality_verdict" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Quality.verdict(d,
        d.filter(Sampling.bucket(col("doc_id"), 7L) >= 2000),
        "text", "doc_id",
        minWords = 20,
        minStopHits = 1,
        maxTopBigramCharFrac = 0.1,
        minAvgLogprob = -2.9)
        .orderBy("doc_id")
    }),

    // Boilerplate mining: corpus-wide top-20 word trigrams with
    // occurrence AND document frequency — the evidence view behind
    // every DF guard (contamination maxTrainDf, LSH bucket caps).
    // Deterministic total order (occurrences desc, gram asc); DuckDB
    // recomputes the same strict n-grams, both frequencies, and the
    // top-k cut.
    "top_ngrams" -> ((s, dir) =>
      TextAnalysis.topNgrams(t(s, dir, "documents"), "text", "doc_id",
        n = 3, k = 20)),

    // Vocabulary coverage: top-500 corpus vocabulary (count desc, token
    // asc — deterministic), per-language token totals + OOV rate. The
    // tokenizer-prep "how big a vocab do we need" question in one pass.
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text", "lang", 500)
        .orderBy("lang")),

    // BM25 relevance of every matching doc to a fixed term query — one
    // tokenize pass, per-doc tf/dl in one keyed shuffle, corpus stats
    // reduced to a single broadcast row; the score expression has a
    // fixed term order so both engines add the same doubles in the same
    // sequence (the final ln ULP is absorbed by the 4-dp round).
    "bm25_ranking" -> ((s, dir) =>
      Ranking.bm25(t(s, dir, "documents"), "text", "doc_id",
        Seq("join", "vector", "merge"))
        .withColumn("bm25", round(col("bm25"), 4))
        .orderBy("doc_id")),

    // Gopher-style repetition profile (dup-line fractions + top-bigram
    // char coverage). The test corpus is single-line, so the line metrics
    // are pinned at 0 by the oracle (the spec exercises them on
    // constructed multi-line docs); top_bigram_char_frac is live data.
    "repetition_profile" -> ((s, dir) =>
      TextAnalysis.repetitionProfile(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    // Winnowing fingerprints, summarized per doc as (count, sum, min,
    // max) of the selected hash set — a full-set equality proxy the
    // oracle recomputes from scratch with the same polynomial-rolling-
    // hash + window-min arithmetic (constants in winnowOracleSql).
    "winnow_profile" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_grams"),
          size(col("fingerprints")).cast("long").as("n_fp"),
          aggregate(col("fingerprints"), lit(0L), _ + _).as("fp_sum"),
          coalesce(array_min(col("fingerprints")), lit(0L)).as("fp_min"),
          coalesce(array_max(col("fingerprints")), lit(0L)).as("fp_max"))
        .orderBy("doc_id")),

    "quality_by_lang" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      // normalize+tokenize ONCE; lang and quality read the shared columns.
      // The quality threshold is applied as CONDITIONAL AGGREGATION, not a
      // row filter: Catalyst pushes a filter-on-computed-column down through
      // the projection, re-expanding the whole quality expression (and its
      // norm/toks derivation) a second time — measured 5.5 s vs 1 s.
      val docs = TextAnalysis.withTextMetrics(
          TextAnalysis.withNormToks(t(s, dir, "documents"), "text"), "text")
        .select(TextAnalysis.predLangCol.as("pred_lang"),
          TextAnalysis.qualityCol.as("quality"))
      docs.groupBy("pred_lang")
        .agg(count(when(col("quality") >= 0.5, 1)).as("n_docs"),
          round(avg(when(col("quality") >= 0.5, col("quality"))), 4).as("avg_quality"))
        .filter(col("n_docs") > 0)
        .orderBy("pred_lang")
    }),

    "orders_above_customer_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
      t(s, dir, "orders")
        .withColumn("avg_p", avg("o_totalprice").over(w))
        .filter(col("o_totalprice") > col("avg_p"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // ---------------------------------------------------------------- dedup
    // generic multi-column exact dedup (Dedup.exact), distinct from the
    // fingerprint-keyed text variant below
    "dedup_exact_orders" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
      Dedup.exact(o, Seq("o_custkey", "o_orderstatus"), "o_orderkey")
        .orderBy("o_orderkey")
    }),

    "dedup_exact_keep" -> ((s, dir) =>
      Dedup.exactText(t(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // Accent-robust exact dedup: every 4th doc re-enters with accented
    // vowels under an offset id; with foldAccents=true each accented
    // copy collapses into its source's duplicate group and the min-id
    // winner is the original. The survivor audit (count + id checksum)
    // gates it; the oracle folds with its own generated chain and
    // groups on the folded-normalized text.
    "dedup_exact_folded" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val accented = d.filter(pmod(col("doc_id"), lit(4)) === 1)
        .select((col("doc_id") + lit(2000000L)).as("doc_id"),
          translate(col("text"), "aeo", "áéö").as("text"))
      Dedup.exactText(d.unionByName(accented), "text", "doc_id",
        foldAccents = true)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"))
    }),

    // numHashes=32 with 16 bands (2 rows/band): at threshold 0.6 the
    // band-collision miss rate is (1-j²)¹⁶ ≈ 8e-4 — better recall than
    // 64/16 (≈0.11) at half the signature cost; exact-Jaccard
    // verification keeps precision at 1 either way.
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minHashLsh(t(s, dir, "documents"), "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")),

    // AUTO-TUNED flavor: (numHashes, bands) chosen by the S-curve tuner
    // from a deterministic 20% corpus sample instead of hand-picked —
    // the sampled pair-similarity histogram prices each config's
    // false-candidate volume, the theory floor caps the miss rate at the
    // 0.6 threshold. The tuned config must reproduce the EXACT all-pairs
    // ground truth (recall 1 on this fixture, like the hand-tuned 32/16
    // — the identical oracle gates both).
    "minhash_autotuned" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sample = docs.filter(Sampling.bucket(col("doc_id"), 31L) < 2000)
      val tuned = Dedup.tuneMinhash(sample, "text", "doc_id", threshold = 0.6)
      Dedup.minHashLsh(docs, "text", "doc_id",
        numHashes = tuned.numHashes, bands = tuned.bands, threshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),

    // The daily-batch path: the corpus (80% of docs) is shingled ONCE
    // into a persisted (id, sig) store; the new batch (20%) is deduped
    // against store + itself without re-shingling the corpus. Must emit
    // exactly the batch-touching subset of the full-corpus pair set —
    // DuckDB recomputes that subset from all-pairs Jaccard ground truth.
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val sigs = s"/tmp/graft_minhash/sigs_${etlSuffix(dir)}"
      Dedup.writeMinHashSignatures(corpus, "text", "doc_id", sigs, numHashes = 32)
      Dedup.minHashLshIncremental(s, batch, corpus, "text", "doc_id", sigs,
        numHashes = 32, bands = 16, threshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),

    // INCREMENTAL CURATION END-TO-END: Snapshot.diff FEEDS the
    // incremental near-dup path — the daily-crawl composition. Classify
    // the new snapshot against the old (same mutation as corpus_diff:
    // 5% removed, 10% changed, 5% added-as-copies), shingle ONLY the
    // added/changed docs, and dedup them against the unchanged corpus
    // via a signature store written once from the unchanged side —
    // never re-shingling it. At 100 TB the re-shingled fraction is the
    // churn rate, not the corpus. Emits exactly the batch-touching
    // near-dup pairs of the new corpus; DuckDB rebuilds the mutated
    // snapshot, the diff classes, and all-pairs Jaccard ground truth
    // restricted to batch-touching pairs.
    "incremental_curation" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val bk = Sampling.bucket(col("doc_id"), 13L)
      val newSnap = docs.filter(bk >= 500)
        .withColumn("text",
          when(bk < 1500, concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
        .unionByName(docs.filter(bk >= 9500)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      val d = Snapshot.diff(docs, newSnap, "doc_id", Seq("text", "lang", "source"))
      val batch = newSnap.join(
        d.filter(col("status").isin("added", "changed")).select("doc_id"),
        Seq("doc_id"))
      val stable = newSnap.join(
        d.filter(col("status") === "unchanged").select("doc_id"), Seq("doc_id"))
      val sigs = s"/tmp/graft_minhash/sigs_cur_${etlSuffix(dir)}"
      Dedup.writeMinHashSignatures(stable, "text", "doc_id", sigs, numHashes = 32)
      Dedup.minHashLshIncremental(s, batch, stable, "text", "doc_id", sigs,
        numHashes = 32, bands = 16, threshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),

    // STREAMING incremental curation: the composition above as ONE
    // Structured Streaming query — quality gate + row-local minhash vs
    // the persisted signature store (stream-static band join, candidates
    // verified with exact Jaccard) + exact dedup with TTL keyed state —
    // drained over two staged micro-batches. Emits one verdict row per
    // fingerprint: keeper id, batch-duplicate count, distinct store
    // matches, best Jaccard, kept. The oracle recomputes every verdict
    // from raw text (mutation, quality, stage assignment, first-batch
    // emission, all-pairs batch-vs-stable Jaccard).
    "incremental_curation_streaming" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      val bk = Sampling.bucket(col("doc_id"), 13L)
      val newSnap = docs.filter(bk >= 500)
        .withColumn("text",
          when(bk < 1500, concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
        .unionByName(docs.filter(bk >= 9500)
          .withColumn("doc_id", col("doc_id") + 10000000L))
      val d = Snapshot.diff(docs, newSnap, "doc_id", Seq("text", "lang", "source"))
      val batch = newSnap.join(
        d.filter(col("status").isin("added", "changed")).select("doc_id"),
        Seq("doc_id"))
      val stable = newSnap.join(
        d.filter(col("status") === "unchanged").select("doc_id"), Seq("doc_id"))
      val sigs = s"/tmp/graft_minhash/sigs_curs_${etlSuffix(dir)}"
      Dedup.writeMinHashSignatures(stable, "text", "doc_id", sigs, numHashes = 32)
      val stageBk = Sampling.bucket(col("doc_id"), 23L)
      def staged(cond: org.apache.spark.sql.Column, ts: String) = batch.filter(cond)
        .select("doc_id", "text")
        .withColumn("__ts", lit(ts).cast("timestamp"))
      graft.streaming.StreamingCuration.curate(s,
        Seq(staged(stageBk < 5000, "2024-01-01 00:00:00"),
          staged(stageBk >= 5000, "2024-01-01 01:00:00")),
        stable.select("doc_id", "text"), sigs, "text", "doc_id", "__ts",
        numHashes = 32, bands = 16, threshold = 0.6)
        .orderBy("doc_id")
    }),

    // Transitive-closure clustering over the near-dup pairs: the pair
    // emitters above produce EDGES; a curation run keeps one doc per
    // connected component (A~B, B~C ⇒ one cluster of three, even with A
    // and C not directly similar). Large-star/small-star contraction —
    // O(log n) keyed-shuffle rounds, no driver state — labels all 500
    // docs; DuckDB recomputes the same closure with a recursive CTE over
    // its own all-pairs Jaccard ground truth.
    "dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.6)
      Components.clusters(docs.select("doc_id"), "doc_id", pairs)
        .select("doc_id", "cluster", "is_canonical")
        .orderBy("doc_id")
    }),

    // Retention POLICY over the near-dup clusters: keep the
    // HIGHEST-QUALITY doc per cluster (ties → lowest id), not the
    // arbitrary min-id canonical — what a curation run actually wants
    // (dedup should discard the worse copies). Quality is the engine's
    // deterministic heuristic score, the per-cluster argmax is a
    // row_number over cluster groups (clusters are small, the window
    // never sees a partition bigger than the largest cluster). DuckDB
    // recomputes the closure, the score, and the argmax.
    "dedup_keep_best" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.6)
      val clustered = Components.clusters(docs.select("doc_id"), "doc_id", pairs)
      Components.keepBest(clustered,
        docs.select(col("doc_id"), qualityScore(col("text")).as("quality")),
        "doc_id", "quality")
        .orderBy("doc_id")
    }),

    // Artifact-reuse retention: the cluster assignment (the expensive
    // pair-emission + transitive closure) is persisted ONCE per fixture
    // fingerprint via Reports.cached, and the keep-best argmax consumes
    // only the parquet artifact — the same analysis-once / act-many seam
    // as decontaminate_from_report, closing the round-8 verdict's watch
    // item that dedup_keep_best recomputes its pipeline. Same final
    // semantics as dedup_keep_best, so the oracle recomputes the closure,
    // the quality score, and the argmax from raw text and must agree.
    "dedup_keep_best_from_report" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val docs = t(s, dir, "documents")
      val clustered = Reports.cached(s, s"$dir/documents.parquet",
        "dedup_clusters_" + etlSuffix(dir)) {
        val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
          numHashes = 32, bands = 16, threshold = 0.6)
        Components.clusters(docs.select("doc_id"), "doc_id", pairs)
      }
      Components.keepBest(clustered.select("doc_id", "cluster"),
        docs.select(col("doc_id"), qualityScore(col("text")).as("quality")),
        "doc_id", "quality")
        .orderBy("doc_id")
    }),

    // CCNet-style PARAGRAPH-level exact dedup over a DETERMINISTIC
    // multi-line fixture planted from the documents table (same pattern
    // as line_rules/pii_redaction — the corpus has no native line
    // structure): line 1 is unique per doc (id-stamped), line 2 is
    // corpus-wide boilerplate (struck everywhere), line 3 is shared by
    // every 7th doc (struck at minDocs=3), line 4 is a text-derived tail
    // that may or may not repeat — the honest case the DF count decides.
    // DuckDB rebuilds the same fixture and recomputes the per-paragraph
    // document frequencies, the strike set, and the md5 of the rejoined
    // surviving text, so the reassembly order is verified byte-for-byte.
    "paragraph_dedup" -> ((s, dir) => {
      val planted = plantedParagraphDoc(t(s, dir, "documents"))
      Dedup.paragraphDedup(planted, "text", "doc_id", minDocs = 3)
        .select(col("doc_id"), col("n_paras"), col("n_struck"),
          md5(col("text_clean")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Substring-CONTAINMENT dedup — the asymmetric duplicate shape
    // symmetric Jaccard misses (an excerpt quoted inside a longer doc).
    // True containments are PLANTED: a 2% hash-bucket of docs re-enters
    // the corpus as 300-char excerpts under offset ids, and each must
    // surface as (excerpt ⊂ source) via winnow-fingerprint subset ratio.
    // The oracle recomputes the whole pipeline — union, winnow, DF
    // guard, pair counts, orientation — from raw text in SQL.
    "containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(excerptPlantedUnion(s, dir), "text", "doc_id",
        maxDf = 100, minFp = 5, minContain = 0.8)
        .orderBy("inner_id", "outer_id")),

    // The keep-longest retention ACTION over the containment report:
    // contained (inner) docs are struck, survivors audited by count, id
    // checksum, and surviving char mass. The report is passed to the
    // strike as an argument — the persisted-artifact reuse shape.
    "containment_strike" -> ((s, dir) => {
      val uni = excerptPlantedUnion(s, dir)
      val pairs = Dedup.containmentPairs(uni, "text", "doc_id",
        maxDf = 100, minFp = 5, minContain = 0.8)
      Dedup.containmentStrike(uni, "doc_id", pairs)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"),
          sum(length(col("text")).cast("long")).as("kept_chars"))
    }),

    // UNIFIED document-level fuzzy dedup: BOTH detector families —
    // symmetric near-dup (minhash-LSH, exact-Jaccard verified) and
    // asymmetric substring containment (winnow-fingerprint subset) —
    // merge their pair sets into ONE connected-components closure before
    // retention. Running the families independently strikes transitively
    // related docs into different clusters (an excerpt of A and a
    // near-dup of A must land in A's cluster, not two); the single
    // closure is what a curation run should gate retention on. The
    // oracle recomputes BOTH detectors from raw text and the same
    // closure in recursive SQL.
    "dedup_unified" -> ((s, dir) => {
      // Persist the shared planted corpus once: both detector pipelines
      // (and the final doc_id spine) re-derive it otherwise — the same
      // intra-query staging pattern curation_pipeline uses. The small
      // cluster result is materialized so the corpus cache can be
      // released before returning.
      val uni = excerptPlantedUnion(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mh = Dedup.minHashLsh(uni, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.6)
        .select("id_a", "id_b")
      val ct = Dedup.containmentPairs(uni, "text", "doc_id",
        maxDf = 100, minFp = 5, minContain = 0.8)
        .select(col("inner_id").as("id_a"), col("outer_id").as("id_b"))
      val out = Components.clusters(uni.select("doc_id"), "doc_id",
        mh.unionByName(ct).distinct())
        .select("doc_id", "cluster", "is_canonical")
        .orderBy("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize, then release the staged corpus
      uni.unpersist()
      out
    }),

    // THREE-detector unified closure: minhash near-dup + substring
    // containment + EMBEDDING near-dup (cell-blocked cosine at the
    // recall-1.0 operating point dedup_embedding_pairs pins) merge into
    // ONE connected-components closure — a semantic paraphrase of A, an
    // excerpt of A, and a lexical near-dup of A all land in A's cluster
    // before retention. vec_id ≡ doc_id (one embedding per original
    // document; planted excerpts have none, so embedding edges only
    // connect originals). The oracle recomputes ALL THREE detectors —
    // the embedding side from exact all-pairs cosine ground truth — and
    // the same recursive closure.
    "dedup_unified_3way" -> ((s, dir) => {
      // Same staged-corpus persist as dedup_unified (the embedding
      // detector reads its own table and is untouched).
      val uni = excerptPlantedUnion(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mh = Dedup.minHashLsh(uni, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.6)
        .select("id_a", "id_b")
      val ct = Dedup.containmentPairs(uni, "text", "doc_id",
        maxDf = 100, minFp = 5, minContain = 0.8)
        .select(col("inner_id").as("id_a"), col("outer_id").as("id_b"))
      val em = Similarity.cellBlockedCosinePairs(t(s, dir, "embeddings"),
        "embedding", "vec_id", threshold = 0.45, nlist = 8, probeCells = 4)
        .select("id_a", "id_b")
      val out = Components.clusters(uni.select("doc_id"), "doc_id",
        mh.unionByName(ct).unionByName(em).distinct())
        .select("doc_id", "cluster", "is_canonical")
        .orderBy("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count() // materialize, then release the staged corpus
      uni.unpersist()
      out
    }),

    // VERSIONED update-then-strike — curation with rollback: the planted
    // corpus commits as v0 of a Versioned table, the keep-longest
    // containment strike writes v1 through Versioned.curate (the strike
    // ACTION composes with the versioned sink instead of returning a
    // frame), and BOTH versions stay readable via VERSION AS OF — the
    // audit reads each version back and aggregates it. The oracle
    // recomputes v0 from the raw planted corpus and v1 from the full
    // detection CTE chain, so a strike that bled into the parent version
    // (or a version that missed part of the strike) breaks the hash.
    "versioned_strike" -> ((s, dir) => {
      val tbl = s"/tmp/graft_versioned/strike_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(tbl)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Versioned.commit(excerptPlantedUnion(s, dir), tbl)
      Versioned.curate(s, tbl) { cur =>
        val pairs = Dedup.containmentPairs(cur, "text", "doc_id",
          maxDf = 100, minFp = 5, minContain = 0.8)
        Dedup.containmentStrike(cur, "doc_id", pairs)
      }
      (0L to 1L).map { v =>
        Versioned.read(s, tbl, v)
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(length(col("text")).cast("long")).as("n_chars"))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
        .select("version", "n_docs", "id_sum", "n_chars")
        .orderBy("version")
    }),

    // The ARTIFACT-REUSE flavor: the containment report is persisted
    // once per fixture fingerprint (Reports.cached) and the strike
    // consumes only the parquet artifact — the report detour must be
    // invisible in the result, so the same oracle gates it.
    "containment_strike_from_report" -> ((s, dir) => {
      val uni = excerptPlantedUnion(s, dir)
      val report = Reports.cached(s, s"$dir/documents.parquet",
        "containment_report_" + etlSuffix(dir)) {
        Dedup.containmentPairs(uni, "text", "doc_id",
          maxDf = 100, minFp = 5, minContain = 0.8)
      }
      Dedup.containmentStrike(uni, "doc_id", report)
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("kept_id_sum"),
          sum(length(col("text")).cast("long")).as("kept_chars"))
    }),

    // The INCREMENTAL flavor — the daily-feed shape at 100 TB: the corpus
    // paragraph-DF table is persisted once (narrow (nh, nmd5, df) rows, raw
    // counts so the strike threshold is an apply-time choice), and each
    // new batch strikes against corpus + batch combined frequencies
    // without re-splitting stored documents. Exactly equal to the full
    // recompute restricted to batch docs (DedupSpec pins it); the oracle
    // proves it independently by recomputing the FULL-corpus document
    // frequencies from raw text and emitting only the batch rows.
    "paragraph_dedup_incremental" -> ((s, dir) => {
      val planted = plantedParagraphDoc(t(s, dir, "documents"))
      val corpus = planted.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = planted.filter(pmod(col("doc_id"), lit(5)) === 0)
      val store = s"/tmp/graft_paradf/store_${etlSuffix(dir)}"
      Dedup.writeParagraphDf(corpus, "text", "doc_id", store)
      Dedup.paragraphDedupIncremental(s, batch, "text", "doc_id", store, minDocs = 3)
        .select(col("doc_id"), col("n_paras"), col("n_struck"),
          md5(col("text_clean")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // STREAMING parity for the paragraph strike: the boilerplate set is
    // the persisted paragraph-DF artifact (built once from the full
    // planted corpus), and the strike itself is a stateless scan stage —
    // split + hash are projections, the boilerplate anti-join is
    // stream-static — emitting surviving paragraphs at paragraph grain
    // (no per-doc regroup, so no streaming state). With the store built
    // from the whole corpus, "store-known boilerplate" IS the full df>=3
    // strike set, so the oracle recomputes the batch frequencies from
    // raw text and must reproduce the kept lines exactly.
    // Sliding-window token chunking — the long-document preprocessing
    // step upstream of pack_sequences: 40-token windows, 8-token overlap
    // (stride 32), emitted only while a window contributes new tokens.
    // Pure row-parallel projection+explode, zero shuffles. The oracle
    // recomputes every window boundary with the same integer arithmetic
    // and the md5 of each window's rejoined tokens.
    "chunk_documents" -> ((s, dir) =>
      Packing.chunkDocuments(t(s, dir, "documents"), "text", "doc_id",
        maxTokens = 40, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // Chunk → pack COMPOSITION — the pipeline shape a pretraining data
    // owner runs: long docs into 40/8 sliding windows, windows packed
    // into 256-token training contexts across 8 shards, reported at pack
    // grain. The oracle recomputes the window boundaries AND the
    // per-shard running-sum pack assignment with the same integer
    // arithmetic, so every pack's chunk count and token mass is exact.
    "chunk_pack_pipeline" -> ((s, dir) => {
      val chunks = Packing.chunkDocuments(t(s, dir, "documents"),
        "text", "doc_id", maxTokens = 40, overlap = 8)
        // synthetic unique per-chunk key: chunk_id < 1000 at any doc
        // length this fixture can produce (40-token windows, stride 32)
        .withColumn("chunk_key", col("doc_id") * 1000 + col("chunk_id"))
      Packing.packSequences(chunks, "chunk_key", "n_tokens",
        budget = 256, shards = 8)
        .groupBy(col("shard").cast("long").as("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).as("pack_tokens"))
        .orderBy("shard", "pack_id")
    }),

    // STREAMING chunk→pack: the incremental twin of chunk_pack_pipeline.
    // Documents arrive in two id-ordered staged batches; each batch is
    // chunked (stateless projection) and packed against the carried
    // per-shard running totals (ONE LONG of state per shard — bounded by
    // construction). Because per-shard chunk keys are nondecreasing
    // across the id-split batches, the stream must equal the batch
    // packing of the full corpus — the gate is the IDENTICAL batch SQL.
    "chunk_pack_streaming" -> ((s, dir) => {
      val d = t(s, dir, "documents").select("doc_id", "text")
      val mid = 250L * (if (dir.endsWith("0.1")) 10 else 1)
      val batches = Seq(
        d.filter(col("doc_id") < mid), d.filter(col("doc_id") >= mid))
      graft.streaming.StreamingPacking.chunkPackStaged(
        s, batches, "text", "doc_id",
        maxTokens = 40, overlap = 8, keyFactor = 1000L,
        budget = 256, shards = 8)
        .groupBy(col("shard").cast("long").as("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("tokens")).as("pack_tokens"))
        .orderBy("shard", "pack_id")
    }),

    // OUT-OF-ORDER streaming packing with bounded lateness: stragglers
    // (every 29th doc in the 20-id band below the split) are withheld
    // from batch 1 and arrive late in batch 2 — within the lateness=25
    // bound, so every emitted assignment must equal the batch packing.
    // Per-shard finalization (maxSeen − lateness) leaves the trailing
    // tail buffered and unemitted, exactly as a watermark holds its
    // last window open — the oracle recomputes the full batch packing
    // restricted to ids at or below each shard's threshold.
    "pack_streaming_unordered" -> ((s, dir) => {
      import graft.functions.TextFunctions._
      val d = t(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).cast("long").as("tokens"))
      val half = 250L * (if (dir.endsWith("0.1")) 10 else 1)
      val straggler = pmod(col("doc_id"), lit(29)) === 3 &&
        col("doc_id") >= half - 20 && col("doc_id") < half
      val batches = Seq(
        d.filter(col("doc_id") < half && not(straggler)),
        d.filter(col("doc_id") >= half || straggler))
      graft.streaming.StreamingPacking.packStagedUnordered(
        s, batches, "doc_id", "tokens",
        budget = 256, shards = 8, lateness = 25L)
        .groupBy(col("shard").cast("long").as("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("pack_tokens"))
        .orderBy("shard", "pack_id")
    }),

    "paragraph_dedup_streaming" -> ((s, dir) => {
      val store = s"/tmp/graft_paradf/full_${etlSuffix(dir)}"
      Dedup.writeParagraphDf(plantedParagraphDoc(t(s, dir, "documents")),
        "text", "doc_id", store)
      val boiler = Dedup.boilerplateParagraphs(s, store, minDocs = 3)
      graft.streaming.StatelessStream.transformAvailableNow(
        s, s"$dir/documents.parquet",
        df => Dedup.paragraphStrike(plantedParagraphDoc(df), boiler,
          "text", "doc_id"))
        .orderBy("doc_id", "pos")
    }),

    // Leakage-safe splits: assignment by near-dup CLUSTER, so no split
    // boundary ever separates two near-duplicates (train never holds a
    // near-copy of a test doc). DuckDB recomputes the transitive
    // closure AND the split hash — the whole composition cross-checked.
    "leakage_safe_splits" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
        numHashes = 32, bands = 16, threshold = 0.6)
      Components.leakageSafeSplits(docs.select("doc_id"), "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 11L)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"))
        .orderBy("split")
    }),

    // Link-graph centrality as a quality signal: PageRank (3 iterations,
    // d=0.85, dangling mass redistributed uniformly) over the bipartite
    // customer→part graph from orders⋈lineitem — every part is a sink,
    // so the dangling path carries real mass here. EVERY node's rank is
    // hash-compared against the oracle's hand-unrolled power iteration
    // (rounded to 6 dp to absorb FP summation order); PageRankSpec
    // additionally pins the operator to 1e-12 against a dense in-test
    // reference on cycles/sinks/self-loops.
    "pagerank_centrality" -> ((s, dir) => {
      val orders = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      val edges = orders.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (lit(1000000L) + col("l_partkey")).as("dst"))
      Components.pageRank(edges, "src", "dst", iterations = 3)
        .select(col("node"), round(col("pr"), 6).as("pr"))
        .orderBy("node")
    }),

    // The driver-facing SimHash query: runs the full simHashPairs
    // pipeline and gates its MEANING, since the exact pair values are
    // not SQL-reproducible (xxhash64): the fraction of reported pairs
    // that are true near-dups by exact word-Jaccard must stay ≥ 0.9.
    // maxHamming=1 (not the classic 3): these are ~54-token docs, so the
    // 64-bit majority votes have thin margins and same-language docs
    // collide within a few bits — at budget 7 only 6% of reported pairs
    // were true near-dups (word-Jaccard ≥ 0.3), at budget 1 it is
    // 0.96-1.0 (measured at every SF).
    "simhash_precision_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 1)
      // shingle ONLY the docs that appear in a pair (interpreted HOF —
      // over the whole corpus it cost 10x the pipeline itself)
      val candIds = pairs
        .select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
      val sh = docs.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          array_distinct(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("sh"))
      pairs
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sa")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sb")), "id_b")
        .withColumn("jac",
          size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))))
        .agg((avg((col("jac") >= 0.3).cast("int")) >= 0.9).as("precision_ok"))
    }),

    // char shingles keep 64/16 (4 rows/band): baseline similarity between
    // UNRELATED docs is much higher for char 5-grams than word shingles,
    // so r=2 floods the band join with candidates (measured 8× slower).
    "dedup_ngram_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")),

    // Mid-similarity (0.45) pairing uses CELL blocking, not hyperplane
    // LSH: hyperplane tables recalled 6 of 144 true pairs at sf0.1 (the
    // 0.648-vs-0.5 per-plane gap at cos 0.45 can't be amplified), while
    // k-means cells recall 1.0 at every SF — so this query carries a
    // ground-truth all-pairs DuckDB oracle. The hyperplane path
    // (Dedup.embeddingCosinePairs) remains the near-dup (cos ≥ 0.9)
    // operator.
    "dedup_embedding_pairs" -> ((s, dir) =>
      Similarity.cellBlockedCosinePairs(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.45, nlist = 8, probeCells = 4)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("id_a", "id_b")),

    // The CLUSTERING path's recall, pinned (round-9 finding: at fixture
    // sizes the small-n all-pairs fast path is exact, which masked the
    // clustering path's real recall — 0.49-0.63 at the old probeCells=2).
    // Forcing the clustering path (maxBucket below n) at the new default
    // probeCells=4 measures 0.840/0.929/0.857 at sf0.1/0.01/0.001; floor
    // 0.75 sits under the minimum so a blocking regression (or a future
    // improvement) is driver-visible.
    "cell_recall_clustered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      val exact = pairs(Similarity.cellBlockedCosinePairs(
        emb, "embedding", "vec_id", threshold = 0.45))
      val clustered = pairs(Similarity.cellBlockedCosinePairs(
        emb, "embedding", "vec_id", threshold = 0.45, maxBucket = 300))
      recallGate(exact, clustered, floor = 0.75)
    }),

    // SemDeDup: semantic near-dup removal at the same threshold/blocking
    // as dedup_embedding_pairs (candidate recall 1.0, oracle-verified
    // there), so the DuckDB oracle can recompute the EXACT kept set from
    // all-pairs cosine + greater-member drop.
    "semantic_dedup" -> ((s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "embedding", "vec_id",
        threshold = 0.45, nlist = 8, probeCells = 4)
        .select("vec_id")
        .orderBy("vec_id")),

    // ------------------------------------------------------------ similarity
    "knn_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("query_id", "rank")
    }),

    "embedding_quantize" -> ((s, dir) =>
      Quantize.roundTripCosine(t(s, dir, "embeddings"), "embedding", "vec_id")
        .orderBy("vec_id")),

    // Semantic left join (exact flavor — the verifiable contract; the
    // ANN flavor is the same call with exact=false, recall-gated by
    // semantic_join_ann): every probe row keeps its identity and gains
    // its best-match corpus row above the cosine floor, NULL when
    // nothing clears it.
    "semantic_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val l = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select("vec_id", "embedding")
      val r = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        .select("vec_id", "embedding")
      Similarity.semanticJoin(l, r, "embedding", "vec_id", minCosine = 0.3)
        .select(col("vec_id"), col("match_id"),
          round(col("match_cosine"), 4).as("match_cosine"))
        .orderBy("vec_id")
    }),

    // The ANN flavor of the semantic join (exact=false — hyperplane-LSH
    // candidates instead of the broadcast cross product, the 100 TB
    // path), gated on TOP-1 agreement with the exact contract above:
    // recall = fraction of exact best-match pairs the ANN flavor also
    // attaches. Floor 0.40 sits under the minimum measured across
    // sf0.001/0.01/0.1 (0.455/0.633/0.65 — BASELINE.md records them).
    "semantic_join_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val l = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select("vec_id", "embedding")
      val r = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        .select("vec_id", "embedding")
      def pairs(exact: Boolean) =
        Similarity.semanticJoin(l, r, "embedding", "vec_id", minCosine = 0.3,
          exact = exact)
          .where(col("match_id").isNotNull)
          .select(col("vec_id").as("query_id"), col("match_id").as("neighbor_id"))
      recallGate(pairs(exact = true), pairs(exact = false), floor = 0.40)
    }),

    // The IVF-INDEX flavor of the semantic join: the reference corpus is
    // indexed once (persisted centroids + cell-partitioned assignments)
    // and the probe side attaches its best match from the artifact alone
    // — the shape for REPEATED joins against a fixed reference set,
    // where hyperplane LSH re-buckets the whole corpus per call. Gated
    // on top-1 agreement with the exact contract, floor 0.40 like
    // semantic_join_ann (measured 0.591/0.592/0.615 at sf0.001/0.01/0.1
    // with nlist=16/nprobe=4 — BASELINE.md records them).
    "semantic_join_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val l = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
        .select("vec_id", "embedding")
      val r = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        .select("vec_id", "embedding")
      val idx = s"/tmp/graft_ivf/semjoin_${etlSuffix(dir)}"
      IvfIndex.writeIndex(r, "embedding", "vec_id", idx, nlist = 16, iters = 2)
      val exact = Similarity.semanticJoin(l, r, "embedding", "vec_id",
        minCosine = 0.3)
        .where(col("match_id").isNotNull)
        .select(col("vec_id").as("query_id"), col("match_id").as("neighbor_id"))
      val ivf = Similarity.semanticJoinIvf(s, l, idx, "embedding", "vec_id",
        minCosine = 0.3)
        .where(col("match_id").isNotNull)
        .select(col("vec_id").as("query_id"), col("match_id").as("neighbor_id"))
      recallGate(exact, ivf, floor = 0.40)
    }),

    // ONE shared IVF artifact, TWO consumers — the session-level reuse
    // seam: the index over the full embeddings corpus is built (or
    // served) by IvfIndex.cachedIndex under the fixture fingerprint,
    // then BOTH an ANN search (top-5 probe, recall-gated vs exact brute
    // force) and an embedding near-dup pass (pairs >= 0.45 from per-
    // vector index probes, recall-gated vs the exact all-pairs set —
    // exact at fixture sizes via the small-n fast path) answer from the
    // same k-means + assignment build. At 100 TB this is three corpus
    // passes collapsed into one; in this suite the artifact also
    // amortizes across queries and rounds until the fixture changes.
    // Measured (deterministic per SF): search recall 0.600/0.660/0.520
    // and pair recall 0.714/0.929/0.778 at sf0.001/0.01/0.1 — floors
    // 0.45/0.70 sit under the minima.
    "ivf_shared_session" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idx = IvfIndex.cachedIndex(s, s"$dir/embeddings.parquet",
        "shared_nlist16") { d =>
        IvfIndex.writeIndex(emb, "embedding", "vec_id", d, nlist = 16, iters = 2)
      }
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val search = recallGate(
        Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5),
        IvfIndex.loadTopK(s, idx, q, "embedding", "vec_id", k = 5, nprobe = 4),
        floor = 0.45)
      val exactPairs = Similarity.cellBlockedCosinePairs(emb, "embedding",
        "vec_id", threshold = 0.45)
        .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      val idxPairs = IvfIndex.loadTopK(s, idx, emb, "embedding", "vec_id",
        k = 10, nprobe = 4)
        .filter(col("cosine") >= 0.45)
        .select(least(col("query_id"), col("neighbor_id")).as("query_id"),
          greatest(col("query_id"), col("neighbor_id")).as("neighbor_id"))
        .distinct()
      val dedup = recallGate(exactPairs, idxPairs, floor = 0.70)
      search.select(col("recall_ok").as("search_recall_ok"), col("n_queries"))
        .crossJoin(dedup.select(col("recall_ok").as("dedup_recall_ok"),
          col("n_queries").as("n_pair_docs")))
    }),

    // The driver-facing ANN/IVF queries: each runs the FULL approximate
    // top-k pipeline (annTopK / ivfTopK) and reports its recall@5,
    // measured against the exact brute-force top-5 INSIDE Spark (left
    // join on (query, neighbor)).
    // The oracle pins a quality floor: DuckDB computes the exact side's
    // query count and asserts recall_ok = true — if a code change drops
    // recall below the floor, Spark emits false and the driver flags a
    // hash mismatch. Both paths are deterministic (seeded hyperplanes /
    // seeded k-means), so measured recall is exact per SF; floors sit
    // under the minimum across sf0.001/0.01/0.1 (BASELINE.md records the
    // measurements — the test embeddings' true neighbors are at cosine
    // ~0.35-0.4, hard LSH geometry, so ~0.5-0.65 recall at the shipped
    // fast configs is expected, tunable via tables/planes/nprobe).
    "ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      val approx = Similarity.annTopK(emb, q, "embedding", "vec_id", k = 5,
        tables = 16, planesPerTable = 6)
      recallGate(exact, approx, floor = 0.40)
    }),

    "ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      val approx = IvfIndex.ivfTopK(emb, q, "embedding", "vec_id", k = 5,
        nlist = 16, nprobe = 4)
      recallGate(exact, approx, floor = 0.45)
    }),

    // IVF as a PERSISTED artifact: build the index once (centroids +
    // cell-partitioned assignments parquet), then answer the same query
    // from the artifact alone. Same recall floor as ivf_recall — the two
    // paths are value-identical at the same (nlist, seed, nprobe), which
    // the IvfSpec pins exactly; this gate proves the round trip through
    // parquet preserves it. At 100 TB this is the mode that matters:
    // k-means + assignment paid once at build, probes scan nprobe/nlist
    // of the corpus via partition pruning on `cell`.
    "ivf_persisted_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val idx = s"/tmp/graft_ivf/index_${etlSuffix(dir)}"
      IvfIndex.writeIndex(emb, "embedding", "vec_id", idx, nlist = 16, iters = 2)
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      val approx = IvfIndex.loadTopK(s, idx, q, "embedding", "vec_id", k = 5, nprobe = 4)
      recallGate(exact, approx, floor = 0.45)
    }),

    // Index LIFECYCLE: build on half the corpus, APPEND the other half
    // without retraining (the daily-feed path — assignment against the
    // stored centroids, no k-means, no rewrite of existing cells), then
    // probe the whole corpus from the artifact. Floor 0.45 as the other
    // IVF gates (measured 0.64/0.60/0.57 at sf0.001/0.01/0.1 — half-
    // distribution centroids cost a few recall points vs the 0.60/0.66/
    // 0.52 full-train recordings, the documented drift trade).
    "ivf_append_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val idx = s"/tmp/graft_ivf/append_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      IvfIndex.writeIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "embedding", "vec_id", idx, nlist = 16, iters = 2)
      IvfIndex.appendToIndex(s, idx,
        emb.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding", "vec_id")
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      val approx = IvfIndex.loadTopK(s, idx, q, "embedding", "vec_id", k = 5, nprobe = 4)
      recallGate(exact, approx, floor = 0.45)
    }),

    // Index lifecycle CLOSED: build on a partial subset (labels 0-2),
    // append the rest without retraining, then REBALANCE — the staged
    // retrain over current contents with an atomic directory swap — and
    // probe the swapped-in artifact. Gates two things: recall from the
    // rebalanced index clears the standard IVF floor (rebalance ≡ a
    // fresh full-corpus build at the same (nlist, iters, seed) — IvfSpec
    // pins value-identity, so measured recall is the fresh-build
    // 0.60/0.66/0.52), and `n_indexed` proves the swap lost no rows —
    // the integrity property a staged rewrite must preserve, and the one
    // the oracle can recompute exactly. (Cell imbalance before/after is
    // intentionally NOT gated: the fixture embeddings are isotropic in
    // 64-d, so no subset-trained build produces meaningful drift —
    // imbalance measured 1.2-1.35 both sides of the retrain, within
    // run-to-run noise. cellImbalance stays the monitoring hook a real
    // corpus with actual cluster structure would alert on.)
    "ivf_rebalance_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val idx = s"/tmp/graft_ivf/rebal_${etlSuffix(dir)}"
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      IvfIndex.writeIndex(emb.filter(col("label") < 3),
        "embedding", "vec_id", idx, nlist = 16, iters = 2)
      IvfIndex.appendToIndex(s, idx,
        emb.filter(col("label") >= 3), "embedding", "vec_id")
      IvfIndex.rebalance(s, idx, nlist = 16, iters = 2)
      val nIndexed = s.read.parquet(s"$idx/assignments").count()
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      val approx = IvfIndex.loadTopK(s, idx, q, "embedding", "vec_id", k = 5, nprobe = 4)
      recallGate(exact, approx, floor = 0.45)
        .withColumn("n_indexed", lit(nIndexed))
    }),

    // Dimension-truncation TRADE-OFF REPORT: top-5 retrieval recall of
    // prefix-truncated embeddings (16/32/48 of 64 dims) vs full
    // precision, as exact VALUES rather than a floor gate — on these
    // (non-matryoshka-trained) vectors prefix truncation costs real
    // recall, and that measurement is the operator's product: it tells a
    // pipeline owner whether their embeddings tolerate the 4×/2×/1.33×
    // compression before they commit to it. DuckDB recomputes each
    // recall from its own truncated brute-force top-5.
    "truncation_tradeoff" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
        .select("query_id", "neighbor_id").persist()
      val rows = Seq(16, 32, 48).map { d =>
        val tr = Quantize.truncate(emb, "embedding", d)
          .select(col("vec_id"), col("embedding_t"))
        val qt = tr.filter(pmod(col("vec_id"), lit(50)) === 0)
        val approx = Similarity.bruteForceTopK(tr, qt, "embedding_t", "vec_id", k = 5)
        exact
          .join(approx.select("query_id", "neighbor_id").withColumn("__hit", lit(1)),
            Seq("query_id", "neighbor_id"), "left")
          .agg(round(sum(coalesce(col("__hit"), lit(0))).cast("double") /
            count(lit(1)), 4).as("recall"))
          .withColumn("dims", lit(d))
          .select("dims", "recall")
      }
      val report = rows.reduce(_ unionByName _).orderBy("dims")
      // Materialize the three recall rows, then release the cached exact
      // frame — returning the lazy plan would leak the persist for the
      // rest of the session (the cached side is consumed three times
      // above, so the collect pays the plan exactly once).
      val materialized = report.collect().toIndexedSeq
      exact.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(materialized, 1), report.schema)
    }),

    // Quantization quality as a retrieval metric, not just per-row cosine:
    // top-5 neighbor recall of int8-dequantized vectors vs full precision
    // (measured 0.96/1.00/0.985 at sf0.001/0.01/0.1; floor 0.90).
    "quantized_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      val exact = Similarity.bruteForceTopK(emb, q, "embedding", "vec_id", k = 5)
      val deq = Quantize.dequantize(Quantize.int8(emb, "embedding"), "embedding")
        .select(col("vec_id"), col("embedding_deq"))
      val qd = deq.filter(pmod(col("vec_id"), lit(50)) === 0)
      val approx = Similarity.bruteForceTopK(deq, qd, "embedding_deq", "vec_id", k = 5)
      recallGate(exact, approx, floor = 0.90)
    }),

    // Capstone: a full corpus-curation pass — quality filter → exact
    // dedup → minhash near-dup dedup — chained through the real
    // operators, value-checked end-to-end against DuckDB recomputing
    // every stage (incl. all-pairs Jaccard ground truth for the near-dup
    // step). This is the composition a pretraining-data owner actually
    // runs; each stage's oracle-exactness compounds only if the stages
    // agree on every boundary (quality 6-dp rounding, min-id tiebreaks,
    // greater-member drop semantics).
    "curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qual = docs.filter(
        graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5)
      // Persist the filtered+exact-deduped stage: the near-dup pipeline
      // consumes its input several times (signatures, verification,
      // anti-join), and re-running the quality regexes + dedup join per
      // pass measured 22 s vs 7 s with the stage cached.
      val exact = Dedup.exactText(qual, "text", "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = Dedup.minHashDedup(exact, "text", "doc_id",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.6)
        .select("doc_id", "lang", "source")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      kept.count() // materialize, then release the staged input
      exact.unpersist()
      kept.orderBy("doc_id")
    }),

    // Per-column data-quality profile (nulls / exact distincts / min /
    // max, one scan + stack unpivot) over stably-formatted column types
    // (long/string/date — cross-engine float formatting is NOT part of
    // the contract, so the double column stays out of the driver query).
    "table_profile" -> ((s, dir) =>
      Profile.tableProfile(t(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"),
        exact = true)
        .orderBy("column_name")),

    // Quantile profile: discrete percentiles are actual data values, so
    // both engines report bit-identical doubles (interpolated/approx
    // quantiles would differ in the last ULP or by sketch design).
    "numeric_profile" -> ((s, dir) =>
      Profile.quantileProfile(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"),
        Seq(0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy("column_name", "quantile")),

    // Exact join-cardinality profile — the pre-flight check before a
    // 100 TB join: predicted output rows (Σ nl·nr over shared keys),
    // per-side max key multiplicity (the SkewJoin decision inputs), and
    // the heaviest single key's contribution. Counts only shuffle; data
    // rows never move.
    "join_cardinality" -> ((s, dir) =>
      Profile.joinCardinality(
        t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "k"),
        t(s, dir, "orders").withColumnRenamed("o_orderkey", "k"),
        Seq("k"))),

    // Fixed-width histogram with width_bucket under/overflow semantics
    // and empty bins materialized (26 rows always: data-independent
    // shape, diffable across snapshots). w = 25000 exactly, so the edge
    // arithmetic is bit-identical cross-engine.
    "histogram_price" -> ((s, dir) =>
      Profile.histogram(t(s, dir, "orders"), "o_totalprice",
        lo = 0.0, hi = 600000.0, nBins = 24)
        .orderBy("bin")),

    // PII redaction over text with PLANTED synthetic PII (the fixture
    // texts carry none, so the query derives an email + IPv4 per doc
    // from doc_id — deterministic, so DuckDB rebuilds the same input and
    // verifies the exact redacted output and audit counts; the regex
    // patterns are Java/RE2-portable by construction).
    // C4 line-rule quality filter over a DETERMINISTIC multi-line
    // fixture planted from the documents table (the pii_redaction
    // pattern — the corpus has no native line structure): line 1 ends
    // terminal and is kept iff long enough; line 2 always fails (short,
    // no punctuation); line 3 plants "javascript"; line 4 plants a `{`
    // page-killer on every 7th doc and a keepable tail line otherwise.
    // Every rule is a string expression DuckDB evaluates identically,
    // so the oracle recomputes counts AND the keep verdict per doc.
    "line_rules" -> ((s, dir) =>
      TextAnalysis.lineRules(plantedLineDoc(t(s, dir, "documents")),
        "text", "doc_id")
        .orderBy("doc_id")),

    // STREAMING parity for the curation scan stage: the SAME planted
    // multi-line fixture + C4 line rules run through Structured
    // Streaming to completion (file source → stateless transform →
    // memory sink, AvailableNow). Stateless transforms need no
    // watermark and emit every row in the draining batch, so parity
    // with the batch query is exact — the oracle asserts it with the
    // IDENTICAL batch SQL.
    "line_rules_streaming" -> ((s, dir) =>
      graft.streaming.StatelessStream.transformAvailableNow(
        s, s"$dir/documents.parquet",
        df => TextAnalysis.lineRules(plantedLineDoc(df), "text", "doc_id"))
        .orderBy("doc_id")),

    "pii_redaction" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(
          substring(col("text"), 1, 40),
          lit(" mail user"), col("doc_id").cast("string"), lit("@example.com "),
          lit("ip 10."), pmod(col("doc_id"), lit(250)).cast("string"),
          lit(".0."), pmod(col("doc_id"), lit(100)).cast("string"),
          lit(" done")).as("text"))
      TextAnalysis.redactPii(planted, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("text_redacted"))
        .orderBy("doc_id")
    }),

    // ------------------------------------------- sampling / packing / contam
    // Deterministic hash sampling: rebalance a corpus (keep 25% of the
    // dominant language, 60% of the rest) with NO shuffle — the filter is
    // a pure function of (doc_id, seed) evaluated inside the scan stage.
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.25), defaultFraction = 0.6, seed = 7L)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    // Train/val/test membership as a deterministic function of doc_id —
    // rows can never migrate between splits across runs or engines.
    "split_counts" -> ((s, dir) =>
      Sampling.assignSplits(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 11L)
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")),

    // Deterministic global shuffle into training shards: shard + order
    // key are pure hash functions of doc_id, so DuckDB recomputes the
    // ENTIRE permutation — order_checksum (Σ pos·doc_id over the
    // within-shard shuffle order) pins every position, not just
    // membership. The per-shard row_number window here is a
    // VERIFICATION construct (one task per shard — fine at oracle SFs);
    // the production path is Sampling.writeShuffledShards, which needs
    // no window: repartition + sortWithinPartitions keeps every shard's
    // order local to its write task at any scale.
    "shuffle_shards" -> ((s, dir) => {
      val sh = Sampling.shuffleShards(
        t(s, dir, "documents").select("doc_id"), "doc_id",
        numShards = 7, seed = 3L)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("shuffle_ord", "doc_id")
      sh.withColumn("pos", row_number().over(w))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("doc_id").as("sum_ids"),
          (min(col("shuffle_ord") * lit(10000000000L) + col("doc_id")) %
            lit(10000000000L)).as("first_doc"),
          sum(col("pos") * col("doc_id")).as("order_checksum"))
        .orderBy("shard")
    }),

    // Domain-mixture rebalancing: keep fractions that reshape the corpus
    // toward a target lang mixture by down-sampling only (the most
    // over-target domain keeps 100%); plan is one aggregate + tiny
    // windows, and the oracle recomputes every fraction from the same
    // counts.
    "mixture_plan" -> ((s, dir) =>
      Sampling.mixturePlan(t(s, dir, "documents"), "lang", MixtureShares)
        .withColumn("actual_share", round(col("actual_share"), 6))
        .withColumn("keep_frac", round(col("keep_frac"), 6))
        .orderBy("lang")),

    // The plan applied: deterministic hash resample per domain — kept
    // counts are a pure function of (doc_id, seed, domain counts), which
    // DuckDB reproduces exactly via the shared bucket/threshold SQL.
    "mixture_resample" -> ((s, dir) =>
      Sampling.resampleToMixture(t(s, dir, "documents"), "doc_id", "lang",
        MixtureShares, seed = 13L)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),

    // The plan applied QUALITY-FIRST: the same per-domain kept counts
    // as mixture_resample's hash sampler (floor(keep_frac * n_docs) —
    // the mixture lands identically), but the survivors are each
    // domain's BEST rows by n_chars (doc_id tiebreak). min_chars
    // witnesses the per-domain quality floor; the oracle recomputes the
    // full plan arithmetic + rank from raw documents.
    "mixture_quality_resample" -> ((s, dir) =>
      Sampling.resampleToMixtureByQuality(t(s, dir, "documents"),
        "doc_id", "lang", "n_chars", MixtureShares)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"),
          sum("doc_id").as("id_sum"), min("n_chars").as("min_chars"))
        .orderBy("lang")),

    // Concat-then-chunk sequence packing into 512-token windows, sharded
    // 8 ways (per-shard running sums — no global sort).
    "pack_sequences" -> ((s, dir) =>
      Packing.packSequences(
        t(s, dir, "documents")
          .select(col("doc_id"),
            graft.functions.TextFunctions.tokenCount(col("text"))
              .cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 512, shards = 8)
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("n_tokens"), col("pack_id"), col("pack_offset"))
        .orderBy("doc_id")),

    // GPT-3-style benchmark contamination: word-8-gram overlap between a
    // held-out 10% "benchmark" slice and the remaining "train" corpus
    // (the corpus' planted near-dups straddle the split, so leakage is
    // genuinely present and must be found).
    "contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Contamination.contaminationReport(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "text", "doc_id", n = 8, maxTrainDf = 1000)
        .orderBy("bench_id")
    }),

    // ------------------------------------------------------------ multimodal
    "multimodal_bytes" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.decodeFeatures(
        Multimodal.fromDocuments(t(s, dir, "documents")))
        .toDF()
        .select("media_id", "kind", "n_bytes")
        .orderBy("media_id")
    }),

    // REAL image decode: records carry genuine 24-bit BMP payloads
    // (Multimodal.fromDocumentsBmp) and the query must parse the header
    // and pixel rows to produce dimensions + exact per-channel sums.
    // DuckDB recomputes the same stats from the closed-form pixel
    // function without ever seeing the bytes — decode errors, row-order
    // or padding bugs all surface as value mismatches.
    "multimodal_decode" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.decodeImageStats(
        Multimodal.fromDocumentsBmp(t(s, dir, "documents")))
        .toDF()
        .orderBy("media_id")
    }),

    // Real resample: decode BMP → nearest-neighbor resize to 8×8 →
    // re-encode → decode AGAIN and take stats; the oracle recomputes the
    // floor-mapped source pixels. Exercises both codec directions.
    "multimodal_resize" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.decodeImageStats(
        Multimodal.resize(
          Multimodal.fromDocumentsBmp(t(s, dir, "documents")), 8, 8))
        .toDF()
        .orderBy("media_id")
    }),

    // REAL audio decode: genuine PCM16 WAV payloads (RIFF header + sample
    // data), parsed back for rate/length/amplitude stats. Same oracle
    // technique as multimodal_decode: samples are closed-form in
    // (doc_id, i), DuckDB recomputes without a codec.
    "multimodal_audio" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.decodeAudioStats(
        Multimodal.fromDocumentsWav(t(s, dir, "documents")))
        .toDF()
        .orderBy("media_id")
    }),

    "multimodal_frames" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.frameSample(
        Multimodal.fromDocuments(t(s, dir, "documents")),
        frameBytes = 64, everyNth = 2)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
        .orderBy("media_id")
    }),

    // REAL video decode: payloads are PNG-frame sequences in the GVF
    // container (PNG codec = the JDK's javax.imageio); the query parses
    // the container, inflates every 2nd frame, and reports per-frame
    // decoded dimensions + exact per-channel pixel sums. Pixels are
    // closed-form in (doc_id, frame, x, y), so DuckDB recomputes the
    // same stats without any codec — a container-offset, PNG-roundtrip,
    // or channel-order bug all surface as value mismatches.
    "multimodal_video" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      Multimodal.videoFrameStats(
        Multimodal.fromDocumentsVideo(t(s, dir, "documents")), everyNth = 2)
        .toDF()
        .orderBy("media_id", "frame_idx")
    }),

    // As-of join: each purchase event picks up the latest preceding click
    // of the same user (union-sort formulation, one keyed shuffle).
    "asof_purchase_click" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      AsOfJoin.asof(purchases, clicks, Seq("user_id"), "ts", "ts")
        .orderBy("event_id")
    }),

    // As-of with a staleness budget: clicks more than 10 minutes older
    // than the purchase are no usable attribution — NULL instead.
    "asof_tolerance_10m" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("click_id"), col("value").as("click_value"))
      AsOfJoin.asof(purchases, clicks, Seq("user_id"), "ts", "ts",
        toleranceSeconds = 600)
        .orderBy("event_id")
    }),

    // Forward as-of: for each click, the NEXT purchase by the same user
    // (conversion attribution in the other direction).
    "asof_forward_purchase" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      AsOfJoin.asof(clicks, purchases, Seq("user_id"), "ts", "ts",
        direction = "forward")
        .orderBy("event_id")
    }),

    // Skew-safe join: 99% of lineitems land on one synthetic hot key; the
    // operator routes that mass through a broadcast instead of one task.
    "skew_join_supplier" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("k", least(col("l_suppkey"), lit(10L)))
      val dim = t(s, dir, "supplier").filter(col("s_suppkey") <= 10)
        .select(col("s_suppkey").as("k"), col("s_name"))
      SkewJoin.join(li, dim, "k", sampleFraction = 0.1, hotFraction = 0.05)
        .groupBy("k", "s_name")
        .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("k")
    }),

    // Bucketed co-located join as a value-checked driver query: both
    // sides are WRITTEN bucketed on the join key first, so the join and
    // the downstream groupBy plan without a shuffle exchange on the fact
    // side (plan shape pinned by BucketingSpec; this oracle pins the
    // VALUES against a plain join). At 100 TB this is the
    // pay-the-shuffle-once-at-write-time answer for repeat fact joins.
    "colocated_join" -> ((s, dir) => {
      val suf = etlSuffix(dir)
      val (ot, lt) = (s"b_orders_$suf", s"b_lineitem_$suf")
      graft.sources.Bucketing.writeBucketed(
        t(s, dir, "orders"), ot, Seq("o_orderkey"), 8, Seq("o_orderkey"))
      graft.sources.Bucketing.writeBucketed(
        t(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        lt, Seq("o_orderkey"), 8, Seq("o_orderkey"))
      graft.sources.Bucketing.colocatedJoin(s, ot, lt, Seq("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Range join as a binned EQUI-join (RangeJoin.pointInInterval):
    // orders priced into overlapping price bands — a plain non-equi join
    // here plans a broadcast nested loop (O(n·bands) comparisons); the
    // binning rewrite hash-joins on the bin id. Aggregates are count +
    // min/max (order-independent, cross-engine-safe doubles).
    "range_join_bands" -> ((s, dir) => {
      val bands = s.range(0, 24).select(
        col("id").as("band"),
        (col("id") * 25000.0).as("lo"),
        (col("id") * 25000.0 + 35000.0).as("hi"))
      val pts = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      RangeJoin.pointInInterval(pts, "o_totalprice", bands, "lo", "hi",
          binWidth = 25000.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("min_price"),
          round(max("o_totalprice"), 2).as("max_price"))
        .orderBy("band")
    }),

    // Interval-overlap flavor (RangeJoin.intervalOverlap): each order
    // carries a [price, price+5000) interval; which bands does it
    // touch? Exercises the first-shared-bin dedup at data volume (every
    // pair must appear exactly once for the counts to hash-match).
    "range_join_overlap" -> ((s, dir) => {
      val bands = s.range(0, 24).select(
        col("id").as("band"),
        (col("id") * 25000.0).as("blo"),
        (col("id") * 25000.0 + 35000.0).as("bhi"))
      val oiv = t(s, dir, "orders").select(
        col("o_orderkey"),
        col("o_totalprice").as("olo"),
        (col("o_totalprice") + 5000.0).as("ohi"))
      RangeJoin.intervalOverlap(oiv, "olo", "ohi", bands, "blo", "bhi",
          binWidth = 25000.0)
        .groupBy("band")
        .agg(count(lit(1)).as("n"))
        .orderBy("band")
    }),

    // Z-order (Morton-curve) layout at data volume: events clustered on
    // (user_id, value), then scanned with a predicate on BOTH layout
    // dims — per-file min/max stay narrow on each dim, so a pruning scan
    // touches ~sqrt of the files where a single-column sort touches all
    // (LayoutSpec measures that ratio; here the oracle proves the layout
    // changed bytes, never rows).
    "zorder_scan" -> ((s, dir) => {
      val p = s"/tmp/graft_layout/events_${etlSuffix(dir)}"
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      graft.sources.Layout.zorderWrite(
        t(s, dir, "events").select("event_id", "user_id", "event_type", "value"),
        Seq("user_id", "value"), p, numFiles = 8)
      s.read.parquet(p)
        .where(col("user_id").between(30, 80) &&
          col("value") >= 50.0 && col("value") < 200.0)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(min("value"), 4).as("min_value"),
          round(max("value"), 4).as("max_value"))
        .orderBy("event_type")
    }),

    // Recon loaded through the FILE-based factory with ${param}
    // substitution — the recon twin of etl_fromconfig_upsert.
    "recon_fromconfig" -> ((s, dir) => {
      implicit val spark: SparkSession = s
      t(s, dir, "lineitem").createOrReplaceTempView("__recon_li2")
      val yaml =
        """version: 0
          |group_by: [l_linestatus]
          |data:
          |  - name: x
          |    query: SELECT * FROM __recon_li2
          |    metrics:
          |      - sum_qty: round(sum(l_quantity), 2)
          |      - n: count(*)
          |  - name: y
          |    query: SELECT l_linestatus, l_quantity * ${factor} AS l_quantity FROM __recon_li2
          |    metrics:
          |      - sum_qty: round(sum(l_quantity), 2)
          |      - n: count(*)
          |""".stripMargin
      val f = java.nio.file.Files.createTempFile("graft_recon_", ".yml")
      java.nio.file.Files.writeString(f, yaml)
      try ReconJob.fromConfig(f.toString, Map("factor" -> "1.0005")).run()
        .withColumn("delta_sum_qty", round(col("delta_sum_qty"), 2))
        .orderBy("l_linestatus")
      finally java.nio.file.Files.deleteIfExists(f)
    }),

    // ----------------------------------------------------- windows / events
    "events_tumbling_15m" -> ((s, dir) =>
      EventWindows.tumbling(t(s, dir, "events"), "ts", "15 minutes")
        .orderBy("window_start", "event_type")),

    "events_sliding_30m" -> ((s, dir) =>
      EventWindows.sliding(t(s, dir, "events"), "ts", "30 minutes", "15 minutes")
        .orderBy("window_start", "event_type")),

    // Sliding-window streaming parity — completes the window-family
    // parity set (tumbling and session already drain to completion and
    // oracle with the batch SQL).
    "events_sliding_streaming" -> ((s, dir) =>
      EventWindows.slidingAvailableNow(s, s"$dir/events.parquet", "ts",
        "30 minutes", "15 minutes", "30 minutes")
        .orderBy("window_start", "event_type")),

    // BOUNDED-STATE streaming dedup (TTL): emit the first event per
    // (user, type) key per retention epoch; state evicted by EVENT-TIME
    // TIMEOUT once the watermark passes last-seen + 3 days — the fix
    // for unbounded dedup state on an endless stream. Drained as two
    // checkpointed runs (even event_ids first) so eviction points are
    // deterministic; the oracle recomputes emissions, re-emissions
    // after eviction, the exact emitted ids (checksum), and the
    // late-filtered row count.
    "streaming_dedup_ttl" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val b1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val b2 = ev.filter(pmod(col("event_id"), lit(2)) =!= 0)
      graft.streaming.StreamingDedup.ttlDedupAudit(s, Seq(b1, b2),
        Seq("user_id", "event_type"), "ts", "event_id",
        watermarkDelay = "30 minutes", retentionMs = 3L * 24 * 3600 * 1000)
    }),

    // STREAMING exact-dedup run to completion: keyed state
    // (flatMapGroupsWithState) emits exactly one row per content
    // fingerprint. Which doc represents a fingerprint depends on shuffle
    // arrival order, so the oracle pins the order-insensitive invariant:
    // the emitted row count = distinct normalized-md5 fingerprints, which
    // DuckDB recomputes with its own md5.
    "streaming_dedup_count" -> ((s, dir) =>
      graft.streaming.StreamingDedup
        .dedupAvailableNow(s, s"$dir/documents.parquet", "text", "doc_id")
        .agg(count(lit(1)).as("n_unique"))),

    // STREAMING parity: the same tumbling aggregation run through
    // Structured Streaming to completion (file source → watermark →
    // windowed agg → memory sink, Trigger.AvailableNow) — oracled with
    // the identical SQL as the batch query, so the driver asserts
    // batch/stream parity as a value equality, not a spec-only claim.
    "events_tumbling_streaming" -> ((s, dir) =>
      EventWindows.tumblingAvailableNow(s, s"$dir/events.parquet", "ts",
        "15 minutes", "30 minutes")
        .orderBy("window_start", "event_type")),

    "events_sessions" -> ((s, dir) =>
      EventWindows.sessions(t(s, dir, "events"), "ts", "5 minutes")
        .orderBy("user_id", "session_start")),

    // Streaming parity for gap-sessionization: the SAME session_window
    // aggregation drained through Structured Streaming to completion
    // (AvailableNow, complete mode) and oracled with the batch query's
    // SQL — session state lives in the state store, eviction driven by
    // the watermark.
    "events_sessions_streaming" -> ((s, dir) =>
      EventWindows.sessionsAvailableNow(s, s"$dir/events.parquet", "ts",
        "5 minutes", "30 minutes")
        .orderBy("user_id", "session_start")),

    // WATERMARK LATE-DATA GATE: the tumbling aggregation drained as TWO
    // checkpointed AvailableNow runs (even event_ids first), so the
    // watermark restored for run 2 is deterministic and DuckDB
    // recomputes the engine's own numRowsDroppedByWatermark counter plus
    // the emitted window set exactly: run-2 rows whose window closed
    // under wm = max(run-1 ts) − 30 min are dropped (the metric counts
    // their DISTINCT GROUPS — it fires post-shuffle at the state
    // operator); append mode emits the (window, type) groups the FINAL
    // watermark passed.
    "streaming_late_counts" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val b1 = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val b2 = ev.filter(pmod(col("event_id"), lit(2)) =!= 0)
      EventWindows.tumblingLateAudit(s, Seq(b1, b2), "ts",
        "15 minutes", "30 minutes")
    }),

    "events_json_stats" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_events"),
          round(avg("k"), 4).as("avg_k"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("event_type"))
  )

  /** Mechanically-unrolled N-round BPE oracle (same arithmetic and
    * replace semantics as the 3-round hand-written one): each round is
    * a FULL recount in DuckDB, which is exactly what the incremental
    * trainer's maintained (pair, n) frame must equal. */
  private def bpeDeepOracleSql(rounds: Int, where: String): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH toks AS MATERIALIZED (
      |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
      |  FROM documents
      |  WHERE ($where)
      |    AND trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) <> ''),
      |wv AS MATERIALIZED (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
      |r0 AS MATERIALIZED (SELECT cnt, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS r FROM wv)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
        |x$i AS (SELECT cnt, string_split(r, ' ') AS a FROM r${i - 1}),
        |e$i AS (SELECT cnt, a, unnest(generate_series(1, len(a) - 1)) AS i FROM x$i WHERE len(a) >= 2),
        |p$i AS (SELECT a[i] || ' ' || a[i + 1] AS p, CAST(sum(cnt) AS BIGINT) AS n FROM e$i GROUP BY 1),
        |b$i AS MATERIALIZED (SELECT p, n FROM p$i ORDER BY n DESC, p ASC LIMIT 1)""".stripMargin
      if (i < rounds) sb ++= s""",
        |r$i AS MATERIALIZED (SELECT cnt, trim(regexp_replace(
        |         replace(' ' || replace(r, ' ', '  ') || ' ',
        |                 (SELECT ' ' || replace(p, ' ', '  ') || ' ' FROM b$i),
        |                 (SELECT ' ' || replace(p, ' ', '') || ' ' FROM b$i)),
        |         ' +', ' ', 'g')) AS r FROM r${i - 1})""".stripMargin
    }
    sb ++= "\n"
    sb ++= (1 to rounds).map { i =>
      if (i == 1)
        "SELECT 1 AS merge_round, p AS pair, replace(p, ' ', '') AS merged, n FROM b1"
      else s"UNION ALL SELECT $i, p, replace(p, ' ', ''), n FROM b$i"
    }.mkString("\n")
    sb ++= "\nORDER BY merge_round"
    sb.toString
  }

  /** Unrolled BPE train+ENCODE chain: like [[bpeDeepOracleSql]] but the
    * representation chain KEEPS the word column and applies the final
    * round's rewrite too, so `r<rounds>` IS the encoded vocabulary;
    * documents reassemble via position join + ordered string_agg, and
    * the packing window arithmetic runs over the encoded counts. */
  private def bpeEncodePackOracleSql(
      rounds: Int, where: String, budget: Int, shards: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH docs0 AS MATERIALIZED (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS a
      |  FROM documents
      |  WHERE ($where)
      |    AND trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) <> ''),
      |wv AS MATERIALIZED (
      |  SELECT w, count(*) AS cnt FROM (SELECT unnest(a) AS w FROM docs0) GROUP BY 1),
      |r0 AS MATERIALIZED (
      |  SELECT w, cnt, trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS r FROM wv)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
        |x$i AS (SELECT cnt, string_split(r, ' ') AS sa FROM r${i - 1}),
        |e$i AS (SELECT cnt, sa, unnest(generate_series(1, len(sa) - 1)) AS i FROM x$i WHERE len(sa) >= 2),
        |p$i AS (SELECT sa[i] || ' ' || sa[i + 1] AS p, CAST(sum(cnt) AS BIGINT) AS n FROM e$i GROUP BY 1),
        |b$i AS MATERIALIZED (SELECT p, n FROM p$i ORDER BY n DESC, p ASC LIMIT 1),
        |r$i AS MATERIALIZED (SELECT w, cnt, trim(regexp_replace(
        |         replace(' ' || replace(r, ' ', '  ') || ' ',
        |                 (SELECT ' ' || replace(p, ' ', '  ') || ' ' FROM b$i),
        |                 (SELECT ' ' || replace(p, ' ', '') || ' ' FROM b$i)),
        |         ' +', ' ', 'g')) AS r FROM r${i - 1})""".stripMargin
    }
    sb ++= s""",
      |enc AS MATERIALIZED (
      |  SELECT w, r AS repr,
      |    CAST(len(string_split(r, ' ')) AS BIGINT) AS ntok FROM r$rounds),
      |wordseq AS (
      |  SELECT doc_id, a, unnest(generate_series(1, len(a))) AS i FROM docs0),
      |assembled AS (
      |  SELECT q.doc_id, CAST(sum(e.ntok) AS BIGINT) AS n_bpe_tokens,
      |    md5(string_agg(e.repr, ' ' ORDER BY q.i)) AS stream_md5
      |  FROM (SELECT doc_id, i, a[i] AS w FROM wordseq) q
      |  JOIN enc e USING (w) GROUP BY q.doc_id),
      |cum AS (
      |  SELECT *, doc_id % $shards AS shard,
      |    sum(n_bpe_tokens) OVER (PARTITION BY doc_id % $shards ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) - n_bpe_tokens AS cb
      |  FROM assembled)
      |SELECT doc_id, n_bpe_tokens, stream_md5, CAST(shard AS BIGINT) AS shard,
      |  CAST(cb // $budget AS BIGINT) AS pack_id,
      |  CAST(cb % $budget AS BIGINT) AS pack_offset
      |FROM cum ORDER BY doc_id""".stripMargin
    sb.toString
  }

  /** DuckDB-dialect oracles, column names aligned with `queries`. Spark's
    * `div 1000`-converted event timestamps equal DuckDB's TIMESTAMP_NS cast
    * to microseconds on the 15-minute bucket boundaries used here. */
  def oracleSql: Map[String, String] = Map(
    "bpe_merges_deep" -> bpeDeepOracleSql(50, "doc_id % 20 = 0"),
    "bpe_encode_pack" ->
      bpeEncodePackOracleSql(15, "doc_id % 20 = 0", budget = 256, shards = 4),
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_revenue" ->
      """SELECT o_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,

    "q5_nation_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region
        |JOIN nation ON r_regionkey = n_regionkey
        |JOIN customer ON n_nationkey = c_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,

    "window_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "agg_distinct_stats" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_suppliers,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "cube_revenue" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "priority_counts_semijoin" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "set_ops_priorities" ->
      """WITH hi AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
        |     lo AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P')
        |SELECT 'except' AS op, o_orderpriority
        |FROM (SELECT o_orderpriority FROM hi EXCEPT SELECT o_orderpriority FROM lo)
        |UNION ALL
        |SELECT 'intersect' AS op, o_orderpriority
        |FROM (SELECT o_orderpriority FROM hi INTERSECT SELECT o_orderpriority FROM lo)
        |ORDER BY op, o_orderpriority""".stripMargin,

    // count(*) FILTER keeps the dtype BIGINT end-to-end: DuckDB's
    // sum(INTEGER) returns HUGEINT, which pandas widens to float64 and the
    // driver's hash compare then mismatches Spark's int64.
    "pivot_status_by_priority" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "monthly_revenue" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY 1
        |ORDER BY month""".stripMargin,

    "part_brand_union" ->
      """SELECT DISTINCT p_brand AS brand FROM (
        |  SELECT p_brand FROM part WHERE p_size <= 5
        |  UNION ALL
        |  SELECT p_brand FROM part WHERE p_retailprice > 1500)
        |ORDER BY brand""".stripMargin,

    "merge_upsert_orders" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_custkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, CAST(1.0 AS DOUBLE) FROM orders WHERE o_custkey % 100 = 7)
        |SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
        |  coalesce(s.o_totalprice, t.o_totalprice) AS o_totalprice,
        |  t.o_orderdate, t.o_orderpriority
        |FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |UNION ALL
        |SELECT s.o_orderkey, NULL, NULL, s.o_totalprice, NULL, NULL
        |FROM src s ANTI JOIN orders t ON s.o_orderkey = t.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "etl_append" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey % 10 IN (1, 2) ORDER BY o_orderkey""".stripMargin,

    // Row-level membership of both historical versions: v0 = the
    // snapshot subset, v1 = snapshot + append.
    "etl_versioned" ->
      """SELECT CAST(0 AS BIGINT) AS version, o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey % 10 = 1
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey % 10 IN (1, 2)
        |ORDER BY version, o_orderkey""".stripMargin,

    "etl_overwrite_partition" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
        |WHERE (o_custkey % 10 = 2 AND o_orderstatus = 'O')
        |   OR (o_custkey % 10 = 1 AND o_orderstatus <> 'O')
        |ORDER BY o_orderkey""".stripMargin,

    "etl_update" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_custkey % 10 = 3 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders WHERE o_custkey % 10 IN (3, 4)
        |ORDER BY o_orderkey""".stripMargin,

    "etl_update_partitioned" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_custkey % 10 = 3 AND o_orderstatus = 'F'
        |       THEN o_totalprice + 750.0 ELSE o_totalprice END AS o_totalprice,
        |  o_orderstatus
        |FROM orders WHERE o_custkey % 10 IN (3, 4)
        |ORDER BY o_orderkey""".stripMargin,

    "etl_upsert" ->
      """SELECT o_orderkey, o_custkey, o_totalprice + 100.0 AS o_totalprice
        |FROM orders WHERE o_custkey % 10 = 5
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS BIGINT), o_totalprice + 100.0
        |FROM orders WHERE o_custkey % 10 = 6
        |ORDER BY o_orderkey""".stripMargin,

    "etl_fromconfig_upsert" ->
      """SELECT o_orderkey, o_custkey, o_totalprice + 250.0 AS o_totalprice
        |FROM orders WHERE o_custkey % 10 = 9
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS BIGINT), o_totalprice + 250.0
        |FROM orders WHERE o_custkey % 10 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "etl_truncate_append" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey % 10 = 8 ORDER BY o_orderkey""".stripMargin,

    // The YAML-driven versioned merge recomputed from raw orders:
    // source rows (keys ≡ 3 mod 7) replace theirs, the rest survive.
    "etl_versioned_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey, 'RUSH' AS o_orderpriority,
        |    o_totalprice * 1.1 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 = 3),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |  WHERE o_orderkey % 7 <> 3)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // Ground-truth oracles for the text near-dup pipelines: DuckDB
    // computes ALL-pairs exact Jaccard (the O(n²) gram join costs ~0.3 s
    // at sf0.01, the driver's correctness SF) and the LSH pipeline must
    // reproduce it exactly. Sound because verification is exact
    // (precision 1 by construction) and recall is measured 1.0 at ALL of
    // sf0.001/0.01/0.1 (region-partitioned OPH signatures + the 3σ
    // prefilter margin; see BASELINE.md).
    "dedup_minhash_pairs" -> minhashGroundTruthSql,

    // The auto-tuned config must emit the IDENTICAL pair set — recall
    // parity with the hand-tuned 32/16 is exactly "same ground truth".
    "minhash_autotuned" -> minhashGroundTruthSql,

    // Same all-pairs ground truth, restricted to pairs touching the
    // batch slice (doc_id % 5 = 0) — corpus-internal pairs are the
    // already-deduped past and must NOT reappear.
    "dedup_incremental" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM pos),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(i::double / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE i::double / (sa.n + sb.n - i) >= 0.6
        |  AND (id_a % 5 = 0 OR id_b % 5 = 0)
        |ORDER BY id_a, id_b""".stripMargin,

    // Rebuilds the mutated snapshot (same hash picks as corpus_diff),
    // derives the batch (changed: 500<=bk<1500; added: shifted ids),
    // then recomputes all-pairs trigram Jaccard over the NEW corpus and
    // keeps batch-touching pairs above threshold — the exact contract
    // of diff→incremental-LSH.
    "incremental_curation" ->
      s"""WITH bkt AS (
         |  SELECT doc_id, ${Sampling.bucketSql("doc_id", 13L)} AS bk
         |  FROM documents),
         |news AS (
         |  SELECT d.doc_id,
         |    CASE WHEN b.bk < 1500 THEN d.text || ' [v2]' ELSE d.text END AS text
         |  FROM documents d JOIN bkt b USING (doc_id) WHERE b.bk >= 500
         |  UNION ALL
         |  SELECT d.doc_id + 10000000, d.text
         |  FROM documents d JOIN bkt b USING (doc_id) WHERE b.bk >= 9500),
         |batchids AS (
         |  SELECT doc_id FROM bkt WHERE bk >= 500 AND bk < 1500
         |  UNION ALL
         |  SELECT doc_id + 10000000 FROM bkt WHERE bk >= 9500),
         |tok AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM news),
         |pos AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM pos),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, round(i::double / (sa.n + sb.n - i), 4) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |WHERE i::double / (sa.n + sb.n - i) >= 0.6
         |  AND (id_a IN (SELECT doc_id FROM batchids)
         |    OR id_b IN (SELECT doc_id FROM batchids))
         |ORDER BY id_a, id_b""".stripMargin,

    // Recomputes every streaming verdict from raw text: the mutation,
    // the quality gate, the stage split, first-batch emission per
    // fingerprint (min-id keeper, batch-dup count), and the store-match
    // stats from all-pairs batch-vs-stable trigram Jaccard (band recall
    // 1.0 at these parameters — the incremental-LSH family guarantee).
    "incremental_curation_streaming" ->
      s"""WITH bkt AS (
         |  SELECT doc_id, ${Sampling.bucketSql("doc_id", 13L)} AS bk FROM documents),
         |batch AS (
         |  SELECT d.doc_id, d.text || ' [v2]' AS text
         |  FROM documents d JOIN bkt b USING (doc_id) WHERE b.bk >= 500 AND b.bk < 1500
         |  UNION ALL
         |  SELECT d.doc_id + 10000000, d.text
         |  FROM documents d JOIN bkt b USING (doc_id) WHERE b.bk >= 9500),
         |stab AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d JOIN bkt b USING (doc_id) WHERE b.bk >= 1500),
         |q AS (
         |  SELECT doc_id, ${oracleNormExpr("text")} AS nrm,
         |    CASE WHEN ${Sampling.bucketSql("doc_id", 23L)} < 5000 THEN 0 ELSE 1 END AS stage
         |  FROM batch WHERE ${oracleQualityExpr("text")} >= 0.5),
         |fs AS (SELECT md5(nrm) AS fp, min(stage) AS st FROM q GROUP BY 1),
         |grp AS (
         |  SELECT q.doc_id, q.nrm, f.fp
         |  FROM q JOIN fs f ON md5(q.nrm) = f.fp AND q.stage = f.st),
         |keeper AS (
         |  SELECT fp, min(doc_id) AS doc_id, count(*) - 1 AS n_batch_dups
         |  FROM grp GROUP BY fp),
         |ktext AS (
         |  SELECT k.doc_id, g.nrm FROM keeper k
         |  JOIN grp g ON g.fp = k.fp AND g.doc_id = k.doc_id),
         |btok AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM ktext),
         |bpos AS (SELECT doc_id, toks,
         |  unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM btok),
         |bgr AS (SELECT DISTINCT doc_id,
         |  array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM bpos),
         |bsz AS (SELECT doc_id, count(*) AS n FROM bgr GROUP BY 1),
         |stok AS (SELECT doc_id, string_split(${oracleNormExpr("text")}, ' ') AS toks
         |  FROM stab),
         |spos AS (SELECT doc_id, toks,
         |  unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM stok),
         |sgr AS (SELECT DISTINCT doc_id,
         |  array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM spos),
         |ssz AS (SELECT doc_id, count(*) AS n FROM sgr GROUP BY 1),
         |inter AS (
         |  SELECT b.doc_id AS bid, s.doc_id AS sid, count(*) AS i
         |  FROM bgr b JOIN sgr s USING (g) GROUP BY 1, 2),
         |mt AS (
         |  SELECT bid, sid, i::double / (bs.n + ss.n - i) AS jac
         |  FROM inter JOIN bsz bs ON bs.doc_id = bid JOIN ssz ss ON ss.doc_id = sid
         |  WHERE i::double / (bs.n + ss.n - i) >= 0.6),
         |agg AS (
         |  SELECT bid AS doc_id, count(*) AS nm, round(max(jac), 4) AS bj
         |  FROM mt GROUP BY 1)
         |SELECT k.doc_id,
         |  CAST(k.n_batch_dups AS INT) AS n_batch_dups,
         |  CAST(coalesce(a.nm, 0) AS INT) AS n_store_matches,
         |  a.bj AS best_jaccard,
         |  a.doc_id IS NULL AS kept
         |FROM keeper k LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Recursive-CTE transitive closure over the all-pairs Jaccard ground
    // truth (the same edge set dedup_minhash_pairs proves Spark's LSH
    // reproduces exactly): cluster = min reachable doc_id.
    "dedup_clusters" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
        |grams AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM pos),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |  WHERE i::double / (sa.n + sb.n - i) >= 0.6),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.s, e.v FROM reach r JOIN edges e ON r.t = e.u),
        |comp AS (SELECT s AS doc_id, least(min(t), s) AS cluster FROM reach GROUP BY s)
        |SELECT d.doc_id,
        |  coalesce(c.cluster, d.doc_id) AS cluster,
        |  coalesce(c.cluster, d.doc_id) = d.doc_id AS is_canonical
        |FROM documents d LEFT JOIN comp c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Same closure as dedup_clusters, then the quality argmax per
    // cluster (ties → lowest id) instead of the min-id canonical.
    "dedup_keep_best" -> keepBestSql,

    // The artifact-reuse twin: identical semantics, so the identical
    // from-raw-text oracle — the report persist/re-read detour must not
    // change a single row.
    "dedup_keep_best_from_report" -> keepBestSql,

    // Rebuild the planted 4-line fixture, recompute every paragraph's
    // document frequency, the strike set (df >= 3 on the non-empty
    // normalized form), and the md5 of the surviving paragraphs rejoined
    // in original order.
    "paragraph_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' opens doc ' || doc_id || '.'
        |      || chr(10) || 'subscribe to our newsletter for updates.'
        |      || chr(10) || 'shared slogan number ' || (doc_id % 7) || ' appears often.'
        |      || chr(10) || substr(text, 41, 30) || ' closes it.' AS text
        |  FROM documents),
        |parts AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM planted),
        |lines AS (
        |  SELECT doc_id, i AS pos, ps[i] AS para,
        |    trim(regexp_replace(lower(ps[i]), '\s+', ' ', 'g')) AS norm
        |  FROM (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i FROM parts)),
        |freq AS (
        |  SELECT norm, count(DISTINCT doc_id) AS df FROM lines
        |  WHERE norm <> '' GROUP BY 1),
        |flagged AS (
        |  SELECT l.doc_id, l.pos, l.para,
        |    coalesce(f.df >= 3, false) AS struck
        |  FROM lines l LEFT JOIN freq f ON l.norm = f.norm AND l.norm <> ''),
        |out AS (
        |  SELECT doc_id,
        |    count(*) AS n_paras,
        |    sum(CASE WHEN struck THEN 1 ELSE 0 END)::BIGINT AS n_struck,
        |    md5(coalesce(string_agg(CASE WHEN NOT struck THEN para END,
        |      chr(10) ORDER BY pos), '')) AS clean_md5
        |  FROM flagged GROUP BY doc_id)
        |SELECT doc_id, n_paras, n_struck, clean_md5 FROM out ORDER BY doc_id""".stripMargin,

    // Full recomputation of the containment pipeline from raw text:
    // the excerpt-planted union, the winnow fingerprint sets, the
    // df <= 100 boilerplate guard applied to numerator AND denominator,
    // pair overlap counts, the integer cross-multiplied 80% threshold,
    // and the shorter→longer orientation with id tiebreak.
    "containment_pairs" ->
      s"""WITH $containmentCtes
         |SELECT inner_id, outer_id,
         |  CAST(kept_fp AS BIGINT) AS inner_fp,
         |  CAST(overlap_fp AS BIGINT) AS overlap_fp,
         |  round(overlap_fp / kept_fp, 6) AS containment
         |FROM flagged
         |ORDER BY inner_id, outer_id""".stripMargin,

    // Keep-longest retention over the same report: every doc flagged as
    // the CONTAINED side of a pair is struck from the union; the
    // survivor audit (count, id checksum, surviving char mass) gates
    // the strike end-to-end.
    "containment_strike" -> containmentStrikeOracleSql,

    // The artifact-reuse flavor has IDENTICAL final semantics — the
    // report detour (persist + re-read) must be invisible in the
    // result, so the same from-raw-text oracle gates it.
    "containment_strike_from_report" -> containmentStrikeOracleSql,

    // Both detectors from raw text over the SAME planted union, pair
    // sets merged, one recursive closure — min-reachable-id canonical,
    // exactly the Spark composition's contract.
    "dedup_unified" ->
      s"""WITH RECURSIVE $containmentCtes,
         |tok AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM uni),
         |pos AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM pos),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (
         |  SELECT id_a, id_b
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE i::double / (sa.n + sb.n - i) >= 0.6),
         |cpairs AS (SELECT inner_id AS id_a, outer_id AS id_b FROM flagged),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM jpairs
         |  UNION SELECT id_b, id_a FROM jpairs
         |  UNION SELECT id_a, id_b FROM cpairs
         |  UNION SELECT id_b, id_a FROM cpairs),
         |reach(s, t) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.s, e.v FROM reach r JOIN edges e ON r.t = e.u),
         |comp AS (SELECT s AS doc_id, least(min(t), s) AS cluster FROM reach GROUP BY s)
         |SELECT d.doc_id,
         |  coalesce(c.cluster, d.doc_id) AS cluster,
         |  coalesce(c.cluster, d.doc_id) = d.doc_id AS is_canonical
         |FROM uni d LEFT JOIN comp c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // All THREE detectors recomputed (jaccard + containment from raw
    // text, embedding from exact all-pairs cosine), one recursive
    // closure over the union of their edge sets.
    "dedup_unified_3way" ->
      s"""WITH RECURSIVE $containmentCtes,
         |tok AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM uni),
         |pos AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM pos),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |jpairs AS (
         |  SELECT id_a, id_b
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE i::double / (sa.n + sb.n - i) >= 0.6),
         |cpairs AS (SELECT inner_id AS id_a, outer_id AS id_b FROM flagged),
         |en AS (
         |  SELECT vec_id, embedding,
         |    sqrt(list_dot_product(embedding, embedding)) AS nrm FROM embeddings),
         |epairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM en a JOIN en b ON a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm) >= 0.45),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM jpairs
         |  UNION SELECT id_b, id_a FROM jpairs
         |  UNION SELECT id_a, id_b FROM cpairs
         |  UNION SELECT id_b, id_a FROM cpairs
         |  UNION SELECT id_a, id_b FROM epairs
         |  UNION SELECT id_b, id_a FROM epairs),
         |reach(s, t) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.s, e.v FROM reach r JOIN edges e ON r.t = e.u),
         |comp AS (SELECT s AS doc_id, least(min(t), s) AS cluster FROM reach GROUP BY s)
         |SELECT d.doc_id,
         |  coalesce(c.cluster, d.doc_id) AS cluster,
         |  coalesce(c.cluster, d.doc_id) = d.doc_id AS is_canonical
         |FROM uni d LEFT JOIN comp c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Versioned curation audit: v0 is the raw planted corpus, v1 the
    // keep-longest strike over it — both recomputed from raw text via
    // the shared detection CTE chain, per-version aggregates exact.
    "versioned_strike" ->
      s"""WITH $containmentCtes,
         |struck AS (SELECT DISTINCT inner_id FROM flagged),
         |v0 AS (SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_docs,
         |         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |         CAST(sum(length(text)) AS BIGINT) AS n_chars
         |       FROM uni),
         |v1 AS (SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_docs,
         |         CAST(sum(u.doc_id) AS BIGINT) AS id_sum,
         |         CAST(sum(length(u.text)) AS BIGINT) AS n_chars
         |       FROM uni u LEFT JOIN struck sk ON u.doc_id = sk.inner_id
         |       WHERE sk.inner_id IS NULL)
         |SELECT * FROM v0 UNION ALL SELECT * FROM v1 ORDER BY version""".stripMargin,

    // Window boundaries recomputed with identical integer arithmetic:
    // nc = 1 for n <= 40, else (n - 8 + 31) // 32; window w covers
    // 1-based [cid*32+1, cid*32+40] (DuckDB list_slice is inclusive).
    "chunk_documents" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''),
        |sized AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 40 THEN 1 ELSE (len(toks) - 8 + 31) // 32 END AS nc
        |  FROM tok WHERE len(toks) > 0),
        |chunks AS (
        |  SELECT doc_id, toks, n, unnest(generate_series(0, nc - 1)) AS chunk_id
        |  FROM sized),
        |w AS (
        |  SELECT doc_id, chunk_id,
        |    list_slice(toks, chunk_id * 32 + 1, least(chunk_id * 32 + 40, n)) AS win
        |  FROM chunks)
        |SELECT doc_id, chunk_id, len(win) AS n_tokens,
        |  md5(array_to_string(win, ' ')) AS chunk_md5
        |FROM w ORDER BY doc_id, chunk_id""".stripMargin,

    // Chunk windows (same CTEs as chunk_documents), then the per-shard
    // running-sum pack assignment: shard = chunk_key % 8, pack =
    // cumulative-tokens-before // 256 in chunk_key order.
    "chunk_pack_pipeline" -> chunkPackOracleSql,

    // The streaming twin is gated by the IDENTICAL batch SQL: the
    // per-shard state carry across the id-ordered staged batches must be
    // invisible in the result.
    "chunk_pack_streaming" -> chunkPackOracleSql,

    // Full-corpus batch packing restricted to each shard's finalization
    // threshold (per-shard max id − lateness): what the out-of-order
    // stream must emit — late-but-in-bound stragglers packed in exact
    // id order, the trailing tail withheld.
    "pack_streaming_unordered" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = '' THEN 0
        |         ELSE len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
        |    END AS tokens
        |  FROM documents),
        |sh AS (SELECT doc_id, doc_id % 8 AS shard, tokens FROM tok),
        |cum AS (
        |  SELECT shard, doc_id, tokens,
        |    sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - tokens AS cb,
        |    max(doc_id) OVER (PARTITION BY shard) AS mx
        |  FROM sh)
        |SELECT shard, CAST(cb // 256 AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, sum(tokens)::BIGINT AS pack_tokens
        |FROM cum WHERE doc_id <= mx - 25
        |GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin,

    // The surviving paragraph ROWS (paragraph grain, 0-based positions)
    // under the same full-corpus df>=3 strike — what the stateless
    // streaming strike must emit exactly.
    "paragraph_dedup_streaming" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' opens doc ' || doc_id || '.'
        |      || chr(10) || 'subscribe to our newsletter for updates.'
        |      || chr(10) || 'shared slogan number ' || (doc_id % 7) || ' appears often.'
        |      || chr(10) || substr(text, 41, 30) || ' closes it.' AS text
        |  FROM documents),
        |parts AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM planted),
        |lines AS (
        |  SELECT doc_id, i - 1 AS pos, ps[i] AS para,
        |    trim(regexp_replace(lower(ps[i]), '\s+', ' ', 'g')) AS norm
        |  FROM (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i FROM parts)),
        |freq AS (
        |  SELECT norm, count(DISTINCT doc_id) AS df FROM lines
        |  WHERE norm <> '' GROUP BY 1)
        |SELECT l.doc_id, CAST(l.pos AS INT) AS pos, l.para
        |FROM lines l LEFT JOIN freq f ON l.norm = f.norm AND l.norm <> ''
        |WHERE NOT coalesce(f.df >= 3, false)
        |ORDER BY l.doc_id, l.pos""".stripMargin,

    // Same fixture and FULL-corpus document frequencies (the combined
    // store+batch count the incremental path reconstructs), output
    // restricted to the batch docs (doc_id % 5 = 0).
    "paragraph_dedup_incremental" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' opens doc ' || doc_id || '.'
        |      || chr(10) || 'subscribe to our newsletter for updates.'
        |      || chr(10) || 'shared slogan number ' || (doc_id % 7) || ' appears often.'
        |      || chr(10) || substr(text, 41, 30) || ' closes it.' AS text
        |  FROM documents),
        |parts AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM planted),
        |lines AS (
        |  SELECT doc_id, i AS pos, ps[i] AS para,
        |    trim(regexp_replace(lower(ps[i]), '\s+', ' ', 'g')) AS norm
        |  FROM (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i FROM parts)),
        |freq AS (
        |  SELECT norm, count(DISTINCT doc_id) AS df FROM lines
        |  WHERE norm <> '' GROUP BY 1),
        |flagged AS (
        |  SELECT l.doc_id, l.pos, l.para,
        |    coalesce(f.df >= 3, false) AS struck
        |  FROM lines l LEFT JOIN freq f ON l.norm = f.norm AND l.norm <> ''
        |  WHERE l.doc_id % 5 = 0),
        |out AS (
        |  SELECT doc_id,
        |    count(*) AS n_paras,
        |    sum(CASE WHEN struck THEN 1 ELSE 0 END)::BIGINT AS n_struck,
        |    md5(coalesce(string_agg(CASE WHEN NOT struck THEN para END,
        |      chr(10) ORDER BY pos), '')) AS clean_md5
        |  FROM flagged GROUP BY doc_id)
        |SELECT doc_id, n_paras, n_struck, clean_md5 FROM out ORDER BY doc_id""".stripMargin,

    // Same closure as dedup_clusters, then the split hash applied to the
    // CLUSTER representative — weights (.8/.1/.1) → bucket bounds
    // 8000/9000, same formula as split_counts.
    "leakage_safe_splits" ->
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM documents),
         |pos AS (
         |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM pos),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |prs AS (
         |  SELECT id_a, id_b
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE i::double / (sa.n + sb.n - i) >= 0.6),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM prs
         |  UNION SELECT id_b, id_a FROM prs),
         |reach(s, t) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.s, e.v FROM reach r JOIN edges e ON r.t = e.u),
         |comp AS (SELECT s AS doc_id, least(min(t), s) AS cluster FROM reach GROUP BY s),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c USING (doc_id)),
         |sp AS (
         |  SELECT doc_id, cluster,
         |    CASE WHEN ${Sampling.bucketSql("cluster", 11L)} < 8000 THEN 'train'
         |         WHEN ${Sampling.bucketSql("cluster", 11L)} < 9000 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM lab)
         |SELECT split, count(*) AS n_docs, count(DISTINCT cluster) AS n_clusters
         |FROM sp GROUP BY split ORDER BY split""".stripMargin,

    // The power iteration unrolled by hand, 3 steps: contrib join +
    // dangling mass per step, identical arithmetic to the operator.
    "pagerank_centrality" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_partkey AS dst
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
        |pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
        |d1 AS (SELECT coalesce(sum(p.pr), 0) AS m FROM pr0 p
        |       LEFT JOIN od ON p.node = od.src WHERE od.src IS NULL),
        |pr1 AS (
        |  SELECT nd.node, (1 - 0.85) / (SELECT n FROM nn)
        |    + 0.85 * (coalesce(c.contrib, 0) + (SELECT m FROM d1) / (SELECT n FROM nn)) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node, sum(p.pr / od.deg) AS contrib
        |    FROM e JOIN pr0 p ON e.src = p.node JOIN od ON od.src = e.src
        |    GROUP BY 1) c ON nd.node = c.node),
        |d2 AS (SELECT coalesce(sum(p.pr), 0) AS m FROM pr1 p
        |       LEFT JOIN od ON p.node = od.src WHERE od.src IS NULL),
        |pr2 AS (
        |  SELECT nd.node, (1 - 0.85) / (SELECT n FROM nn)
        |    + 0.85 * (coalesce(c.contrib, 0) + (SELECT m FROM d2) / (SELECT n FROM nn)) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node, sum(p.pr / od.deg) AS contrib
        |    FROM e JOIN pr1 p ON e.src = p.node JOIN od ON od.src = e.src
        |    GROUP BY 1) c ON nd.node = c.node),
        |d3 AS (SELECT coalesce(sum(p.pr), 0) AS m FROM pr2 p
        |       LEFT JOIN od ON p.node = od.src WHERE od.src IS NULL),
        |pr3 AS (
        |  SELECT nd.node, (1 - 0.85) / (SELECT n FROM nn)
        |    + 0.85 * (coalesce(c.contrib, 0) + (SELECT m FROM d3) / (SELECT n FROM nn)) AS pr
        |  FROM nodes nd LEFT JOIN (
        |    SELECT e.dst AS node, sum(p.pr / od.deg) AS contrib
        |    FROM e JOIN pr2 p ON e.src = p.node JOIN od ON od.src = e.src
        |    GROUP BY 1) c ON nd.node = c.node)
        |SELECT node, round(pr, 6) AS pr FROM pr3 ORDER BY node""".stripMargin,

    "dedup_ngram_pairs" ->
      """WITH nrm AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s FROM documents),
        |pos AS (
        |  SELECT doc_id, s, unnest(generate_series(1, greatest(length(s) - 4, 1))) AS i FROM nrm),
        |grams AS (SELECT DISTINCT doc_id, substr(s, i, 5) AS g FROM pos),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, round(i::double / (sa.n + sb.n - i), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |WHERE i::double / (sa.n + sb.n - i) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_pairs" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(embedding, embedding)) AS nrm FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm), 4) AS cosine
        |FROM n a JOIN n b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    // Denominator recomputed from all-pairs cosine ground truth: probes
    // with at least one true >=0.45 partner.
    "cell_recall_clustered" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(embedding, embedding)) AS nrm FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm) >= 0.45)
        |SELECT true AS recall_ok, count(DISTINCT id_a) AS n_queries FROM p""".stripMargin,

    "semantic_dedup" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(embedding, embedding)) AS nrm FROM embeddings),
        |drops AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm) >= 0.45)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM drops)
        |ORDER BY vec_id""".stripMargin,

    "curation_pipeline" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, source, text,
         |    ${oracleNormExpr("text")} AS nrm
         |  FROM documents WHERE ${oracleQualityExpr("text")} >= 0.5),
         |ex AS (
         |  SELECT * FROM q WHERE doc_id IN (
         |    SELECT min(doc_id) FROM q GROUP BY md5(nrm))),
         |tok AS (SELECT doc_id, string_split(nrm, ' ') AS toks FROM ex),
         |pos AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g
         |  FROM pos),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |losers AS (
         |  SELECT DISTINCT id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE i::double / (sa.n + sb.n - i) >= 0.6)
         |SELECT doc_id, lang, source FROM ex
         |WHERE doc_id NOT IN (SELECT id_b FROM losers)
         |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${Sampling.bucketSql("doc_id", 7L)} <
         |  CASE WHEN lang = 'en' THEN 2500 ELSE 6000 END
         |ORDER BY doc_id""".stripMargin,

    "split_counts" ->
      s"""WITH b AS (SELECT lang, ${Sampling.bucketSql("doc_id", 11L)} AS bk
         |           FROM documents)
         |SELECT CASE WHEN bk < 8000 THEN 'train'
         |            WHEN bk < 9000 THEN 'val' ELSE 'test' END AS split,
         |  lang, count(*) AS n
         |FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    // Recomputes the full shuffle permutation: same two bucket mixes for
    // the order key, same shard hash, row_number over (shard, ord, id).
    "shuffle_shards" ->
      s"""WITH s AS (
         |  SELECT doc_id,
         |    ${Sampling.bucketSql("doc_id", 5L)} % 7 AS shard,
         |    ${Sampling.bucketSql("doc_id", 3L)} * 10000 +
         |      ${Sampling.bucketSql("doc_id", 4L)} AS ord
         |  FROM documents),
         |r AS (
         |  SELECT shard, doc_id, ord,
         |    row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS pos
         |  FROM s)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(min(ord * 10000000000 + doc_id) % 10000000000 AS BIGINT) AS first_doc,
         |  CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum
         |FROM r GROUP BY shard ORDER BY shard""".stripMargin,

    "table_profile" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_value
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*),
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*),
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*),
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderdate),
        |    CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
        |  FROM orders)
        |SELECT * FROM p ORDER BY column_name""".stripMargin,

    "join_cardinality" ->
      """WITH lc AS (SELECT l_orderkey AS k, count(*) AS nl FROM lineitem GROUP BY 1),
        |rc AS (SELECT o_orderkey AS k, count(*) AS nr FROM orders GROUP BY 1),
        |j AS (SELECT nl, nr, nl * nr AS rws FROM lc JOIN rc USING (k))
        |SELECT CAST(coalesce(sum(rws), 0) AS BIGINT) AS predicted_rows,
        |  count(*) AS n_join_keys,
        |  CAST(coalesce(max(nl), 0) AS BIGINT) AS max_left_mult,
        |  CAST(coalesce(max(nr), 0) AS BIGINT) AS max_right_mult,
        |  CAST(coalesce(max(rws), 0) AS BIGINT) AS max_key_rows
        |FROM j""".stripMargin,

    "histogram_price" ->
      """WITH b AS (SELECT unnest(generate_series(0, 25)) AS bin),
        |c AS (
        |  SELECT CASE WHEN o_totalprice < 0.0 THEN 0
        |              WHEN o_totalprice >= 600000.0 THEN 25
        |              ELSE CAST(floor((o_totalprice - 0.0) / 25000.0) AS BIGINT) + 1
        |         END AS bin, count(*) AS n
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1)
        |SELECT b.bin,
        |  (b.bin - 1) * CAST(25000.0 AS DOUBLE) AS lo_edge,
        |  b.bin * CAST(25000.0 AS DOUBLE) AS hi_edge,
        |  coalesce(c.n, 0) AS n
        |FROM b LEFT JOIN c USING (bin)
        |ORDER BY bin""".stripMargin,

    // Strict trigrams (docs under 3 tokens contribute nothing), both
    // frequencies from the per-(doc, gram) pre-aggregate, same
    // (occurrences desc, gram asc) cut.
    "top_ngrams" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        |  FROM documents
        |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''),
        |g AS (
        |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g
        |  FROM tok, unnest(range(1, len(toks) - 1)) r(i)
        |  WHERE len(toks) >= 3),
        |per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT g AS ngram, CAST(sum(c) AS BIGINT) AS n_occurrences,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM per GROUP BY 1
        |ORDER BY n_occurrences DESC, ngram ASC LIMIT 20""".stripMargin,

    "vocab_coverage" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
        |  FROM documents
        |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''),
        |vocab AS (
        |  SELECT t FROM (
        |    SELECT t, count(*) AS n FROM tok GROUP BY t
        |    ORDER BY n DESC, t ASC LIMIT 500)),
        |j AS (
        |  SELECT lang, CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM tok LEFT JOIN vocab v USING (t))
        |SELECT lang, count(*) AS n_tokens,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,

    "numeric_profile" ->
      """WITH probs(i, q) AS (
        |  VALUES (1, 0.25), (2, 0.5), (3, 0.75), (4, 0.9), (5, 0.99)),
        |a AS (SELECT
        |  quantile_disc(l_quantity, [0.25, 0.5, 0.75, 0.9, 0.99]) AS vq,
        |  quantile_disc(l_extendedprice, [0.25, 0.5, 0.75, 0.9, 0.99]) AS ve,
        |  quantile_disc(l_discount, [0.25, 0.5, 0.75, 0.9, 0.99]) AS vd
        |  FROM lineitem)
        |SELECT column_name, CAST(q AS DOUBLE) AS quantile, value FROM (
        |  SELECT 'l_quantity' AS column_name, q, CAST(vq[i] AS DOUBLE) AS value FROM probs, a
        |  UNION ALL
        |  SELECT 'l_extendedprice', q, CAST(ve[i] AS DOUBLE) FROM probs, a
        |  UNION ALL
        |  SELECT 'l_discount', q, CAST(vd[i] AS DOUBLE) FROM probs, a)
        |ORDER BY column_name, quantile""".stripMargin,

    // Recomputes the ENTIRE line-rule evaluation — planted fixture,
    // per-line normalize/keep rules, per-doc verdict — in DuckDB's list
    // lambdas. len() is BIGINT there, so the int-typed counts cast.
    "line_rules" -> lineRulesOracleSql,

    // Streaming parity is asserted as VALUE EQUALITY: the identical
    // batch SQL gates the streamed result.
    "line_rules_streaming" -> lineRulesOracleSql,

    "pii_redaction" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    substr(text, 1, 40) || ' mail user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com ' || 'ip 10.' || CAST(doc_id % 250 AS VARCHAR)
         |      || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' done' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Pattern}')) AS INT) AS n_ips,
         |  regexp_replace(
         |    regexp_replace(text, '${TextAnalysis.EmailPattern}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.Ipv4Pattern}', '<IP>', 'g') AS text_redacted
         |FROM planted ORDER BY doc_id""".stripMargin,

    "mixture_plan" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |t AS (SELECT lang, n_docs,
         |  ${mixtureCaseSql("lang")} AS target_share,
         |  CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS actual_share
         |  FROM c),
         |r AS (SELECT *, target_share / actual_share AS ratio FROM t)
         |SELECT lang, n_docs, target_share,
         |  round(actual_share, 6) AS actual_share,
         |  round(ratio / max(ratio) OVER (), 6) AS keep_frac
         |FROM r ORDER BY lang""".stripMargin,

    "mixture_resample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |t AS (SELECT lang,
         |  ${mixtureCaseSql("lang")} AS target_share,
         |  CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS actual_share
         |  FROM c),
         |r AS (SELECT lang, target_share / actual_share AS ratio FROM t),
         |p AS (SELECT lang,
         |  CAST(floor((ratio / max(ratio) OVER ()) * 10000) AS BIGINT) AS thresh
         |  FROM r)
         |SELECT d.lang, count(*) AS n_kept
         |FROM documents d JOIN p USING (lang)
         |WHERE ${Sampling.bucketSql("d.doc_id", 13L)} < p.thresh
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    // Identical plan arithmetic (same float chain as mixture_resample's
    // oracle), then keep each domain's top floor(keep_frac*n_docs) by
    // (n_chars DESC, doc_id ASC) instead of a hash sample.
    "mixture_quality_resample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |t AS (SELECT lang, n_docs,
         |  ${mixtureCaseSql("lang")} AS target_share,
         |  CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS actual_share
         |  FROM c),
         |r AS (SELECT lang, n_docs, target_share / actual_share AS ratio FROM t),
         |p AS (SELECT lang,
         |  CAST(floor((ratio / max(ratio) OVER ()) * CAST(n_docs AS DOUBLE)) AS BIGINT) AS keep
         |  FROM r),
         |rk AS (SELECT d.lang, d.doc_id, d.n_chars, p.keep,
         |  row_number() OVER (PARTITION BY d.lang
         |    ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
         |  FROM documents d JOIN p USING (lang))
         |SELECT lang, count(*) AS n_kept,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars
         |FROM rk WHERE rn <= keep
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "pack_sequences" ->
      s"""WITH tok AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(CASE WHEN ${oracleNormExpr("text")} = '' THEN 0
         |         ELSE len(${oracleTokensExpr("text")}) END AS BIGINT) AS n_tokens
         |  FROM documents),
         |cum AS (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tokens AS cb
         |  FROM tok)
         |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
         |  CAST(cb // 512 AS BIGINT) AS pack_id,
         |  CAST(cb % 512 AS BIGINT) AS pack_offset
         |FROM cum ORDER BY doc_id""".stripMargin,

    "contamination_report" ->
      s"""WITH tok AS (
         |  SELECT doc_id, ${oracleTokensExpr("text")} AS toks FROM documents),
         |pos AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i FROM tok),
         |grams AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(list_slice(toks, i, i + 7), ' ') AS g FROM pos),
         |tg AS (SELECT doc_id AS train_id, g FROM grams WHERE doc_id % 10 <> 0),
         |bg AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 10 = 0),
         |rare AS (SELECT g FROM tg GROUP BY g HAVING count(*) <= 1000),
         |pairs AS (
         |  SELECT bench_id, train_id, count(*) AS shared_ngrams
         |  FROM bg JOIN tg USING (g) JOIN rare USING (g)
         |  GROUP BY 1, 2)
         |SELECT bench_id, count(*) AS n_train_docs,
         |  CAST(max(shared_ngrams) AS BIGINT) AS max_shared_ngrams,
         |  CAST(sum(shared_ngrams) AS BIGINT) AS total_shared_ngrams
         |FROM pairs GROUP BY bench_id ORDER BY bench_id""".stripMargin,

    "semantic_join" ->
      """WITH l AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |r AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
        |scored AS (
        |  SELECT l.vec_id AS vec_id, r.vec_id AS match_id,
        |    list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[]) AS cos_raw
        |  FROM l CROSS JOIN r),
        |best AS (
        |  SELECT vec_id, match_id, cos_raw,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_raw DESC, match_id ASC) AS rk
        |  FROM scored)
        |SELECT l.vec_id, b.match_id, round(b.cos_raw, 4) AS match_cosine
        |FROM l LEFT JOIN (
        |  SELECT * FROM best WHERE rk = 1 AND cos_raw >= 0.3) b USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // n_queries = probes whose exact best match clears the 0.3 floor —
    // the denominator of the recall gate, recomputed independently.
    "semantic_join_ann" ->
      """WITH l AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |r AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
        |best AS (
        |  SELECT l.vec_id,
        |    max(list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[])) AS c
        |  FROM l CROSS JOIN r GROUP BY l.vec_id)
        |SELECT true AS recall_ok, count(*) AS n_queries
        |FROM best WHERE c >= 0.3""".stripMargin,

    // Same denominator as semantic_join_ann — the IVF flavor is gated
    // against the identical exact contract.
    "semantic_join_ivf" ->
      """WITH l AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
        |r AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 0),
        |best AS (
        |  SELECT l.vec_id,
        |    max(list_cosine_similarity(l.embedding::DOUBLE[], r.embedding::DOUBLE[])) AS c
        |  FROM l CROSS JOIN r GROUP BY l.vec_id)
        |SELECT true AS recall_ok, count(*) AS n_queries
        |FROM best WHERE c >= 0.3""".stripMargin,

    "ann_recall" ->
      """SELECT true AS recall_ok,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries""".stripMargin,

    "ivf_recall" ->
      """SELECT true AS recall_ok,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries""".stripMargin,

    "ivf_persisted_recall" ->
      """SELECT true AS recall_ok,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries""".stripMargin,

    "ivf_append_recall" ->
      """SELECT true AS recall_ok,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries""".stripMargin,

    "ivf_rebalance_recall" ->
      """SELECT true AS recall_ok,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries,
        |  (SELECT count(*) FROM embeddings) AS n_indexed""".stripMargin,

    // Both consumers' gates must hold, and the denominators are
    // recomputed independently: probe count from the id pattern, pair-
    // doc count from all-pairs cosine ground truth.
    "ivf_shared_session" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_dot_product(embedding, embedding)) AS nrm FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm) >= 0.45)
        |SELECT true AS search_recall_ok,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries,
        |  true AS dedup_recall_ok,
        |  (SELECT count(DISTINCT id_a) FROM p) AS n_pair_docs""".stripMargin,

    "quantized_recall" ->
      """SELECT true AS recall_ok,
        |  (SELECT count(*) FROM embeddings WHERE vec_id % 50 = 0) AS n_queries""".stripMargin,

    // Exact recall values recomputed from DuckDB's own truncated
    // brute-force top-5 (same tie-break: cosine desc, neighbor asc).
    "truncation_tradeoff" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |           WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity(qe::DOUBLE[], ce::DOUBLE[]) DESC,
        |             neighbor_id ASC) <= 5),
        |t16 AS (
        |  SELECT query_id, neighbor_id FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity((qe::DOUBLE[])[1:16], (ce::DOUBLE[])[1:16]) DESC,
        |             neighbor_id ASC) <= 5),
        |t32 AS (
        |  SELECT query_id, neighbor_id FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity((qe::DOUBLE[])[1:32], (ce::DOUBLE[])[1:32]) DESC,
        |             neighbor_id ASC) <= 5),
        |t48 AS (
        |  SELECT query_id, neighbor_id FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY list_cosine_similarity((qe::DOUBLE[])[1:48], (ce::DOUBLE[])[1:48]) DESC,
        |             neighbor_id ASC) <= 5),
        |r16 AS (SELECT CAST(16 AS INT) AS dims,
        |  round(CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS recall
        |  FROM exact e LEFT JOIN t16 t
        |    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id),
        |r32 AS (SELECT CAST(32 AS INT) AS dims,
        |  round(CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS recall
        |  FROM exact e LEFT JOIN t32 t
        |    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id),
        |r48 AS (SELECT CAST(48 AS INT) AS dims,
        |  round(CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS recall
        |  FROM exact e LEFT JOIN t48 t
        |    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id)
        |SELECT * FROM r16 UNION ALL SELECT * FROM r32 UNION ALL SELECT * FROM r48
        |ORDER BY dims""".stripMargin,

    "simhash_precision_gate" ->
      "SELECT true AS precision_ok",

    "agg_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  true AS orders_ok, true AS parts_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // The csv written by the job is a faithful extract of orders, so the
    // oracle recomputes the aggregate straight from the parquet fixture.
    "etl_csv_export" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same lossless-roundtrip contract as the csv export, third format.
    "etl_orc_export" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // The csv is a faithful extract of orders, so both recon sides are
    // recomputed from the parquet fixture and the booleans are the SAME
    // tolerance decisions ReconJob must make (count equality; 1.0005
    // drift ratio vs the 1e-3 tolerance) — not literal constants.
    "recon_csv_extract" ->
      """WITH a AS (
        |  SELECT o_orderstatus, round(sum(o_totalprice), 2) AS s, count(*) AS n
        |  FROM orders GROUP BY o_orderstatus),
        |b AS (
        |  SELECT o_orderstatus, round(sum(o_totalprice * 1.0005), 2) AS s, count(*) AS n
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT a.o_orderstatus, a.n AS a_n, b.n AS b_n,
        |  a.n = b.n AS match_n,
        |  CASE WHEN a.s = b.s THEN true
        |       ELSE abs((a.s - b.s) / b.s) < 0.001 END AS match_sum_price
        |FROM a JOIN b USING (o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,

    "recon_lineitem" ->
      """WITH a AS (
        |  SELECT l_returnflag, round(sum(l_extendedprice), 2) AS a_sum_price,
        |         count(*) AS a_n
        |  FROM lineitem GROUP BY l_returnflag),
        |b AS (
        |  SELECT l_returnflag, round(sum(l_extendedprice * 1.0005), 2) AS b_sum_price,
        |         count(*) AS b_n
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT a.l_returnflag, a.a_sum_price, a.a_n, b.b_sum_price, b.b_n,
        |  abs(a.a_n - b.b_n) AS delta_n,
        |  a.a_n = b.b_n AS match_n,
        |  round(abs(a.a_sum_price - b.b_sum_price), 2) AS delta_sum_price,
        |  CASE WHEN a.a_sum_price = b.b_sum_price THEN true
        |       ELSE abs((a.a_sum_price - b.b_sum_price) / b.b_sum_price) < 0.001 END
        |    AS match_sum_price
        |FROM a JOIN b USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "recon_threeway" ->
      """WITH a AS (
        |  SELECT l_returnflag, round(sum(l_extendedprice), 2) AS a_sum_price,
        |         count(*) AS a_n
        |  FROM lineitem GROUP BY l_returnflag),
        |b AS (
        |  SELECT l_returnflag, round(sum(l_extendedprice * 1.0005), 2) AS b_sum_price,
        |         count(*) AS b_n
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, round(sum(l_extendedprice), 2) AS c_sum_price,
        |         count(*) AS c_n
        |  FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag)
        |SELECT l_returnflag, a_sum_price, a_n, b_sum_price, b_n, c_sum_price, c_n
        |FROM a FULL JOIN b USING (l_returnflag) FULL JOIN c USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    // vs_first mode: per non-first source, delta/match vs the baseline
    // `a` (tolerance denominator = baseline), shared metrics sorted.
    "recon_threeway_pairwise" ->
      """WITH a AS (
        |  SELECT l_returnflag, round(sum(l_extendedprice), 2) AS a_sum_price,
        |         count(*) AS a_n
        |  FROM lineitem GROUP BY l_returnflag),
        |b AS (
        |  SELECT l_returnflag, round(sum(l_extendedprice * 1.0005), 2) AS b_sum_price,
        |         count(*) AS b_n
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, round(sum(l_extendedprice), 2) AS c_sum_price,
        |         count(*) AS c_n
        |  FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag)
        |SELECT l_returnflag, a_sum_price, a_n, b_sum_price, b_n, c_sum_price, c_n,
        |  abs(a_n - b_n) AS delta_b_n,
        |  a_n = b_n AS match_b_n,
        |  abs(a_sum_price - b_sum_price) AS delta_b_sum_price,
        |  CASE WHEN b_sum_price = a_sum_price THEN true
        |       ELSE abs((b_sum_price - a_sum_price) / a_sum_price) < 0.001 END
        |    AS match_b_sum_price,
        |  abs(a_n - c_n) AS delta_c_n,
        |  a_n = c_n AS match_c_n,
        |  abs(a_sum_price - c_sum_price) AS delta_c_sum_price,
        |  CASE WHEN c_sum_price = a_sum_price THEN true
        |       ELSE abs((c_sum_price - a_sum_price) / a_sum_price) < 0.001 END
        |    AS match_c_sum_price
        |FROM a FULL JOIN b USING (l_returnflag) FULL JOIN c USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "asof_tolerance_10m" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts, event_id AS click_id, value AS click_value
        |  FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |    ORDER BY click_id DESC, click_value DESC) = 1),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ts, p.value,
        |         c.click_id, c.click_value, c.ts AS cts
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.user_id AND p.ts >= c.ts)
        |SELECT event_id, user_id, ts, value,
        |  CASE WHEN epoch(ts) - epoch(cts) <= 600 THEN click_id END AS click_id,
        |  CASE WHEN epoch(ts) - epoch(cts) <= 600 THEN click_value END AS click_value
        |FROM j ORDER BY event_id""".stripMargin,

    "asof_forward_purchase" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |    ORDER BY purchase_id DESC, purchase_value DESC) = 1)
        |SELECT c.event_id, c.user_id, c.ts, c.value, p.purchase_id, p.purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "colocated_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "range_join_bands" ->
      """WITH bands AS (
        |  SELECT i AS band, i * 25000.0 AS lo, i * 25000.0 + 35000.0 AS hi
        |  FROM generate_series(0, 23) t(i))
        |SELECT band, count(*) AS n,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM bands JOIN orders ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "zorder_scan" ->
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  round(min(value), 4) AS min_value,
        |  round(max(value), 4) AS max_value
        |FROM events
        |WHERE user_id BETWEEN 30 AND 80 AND value >= 50.0 AND value < 200.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "range_join_overlap" ->
      """WITH bands AS (
        |  SELECT i AS band, i * 25000.0 AS blo, i * 25000.0 + 35000.0 AS bhi
        |  FROM generate_series(0, 23) t(i))
        |SELECT band, count(*) AS n
        |FROM bands JOIN orders
        |  ON o_totalprice < bhi AND blo < o_totalprice + 5000.0
        |GROUP BY band ORDER BY band""".stripMargin,

    "skew_join_supplier" ->
      """WITH f AS (SELECT least(l_suppkey, 10) AS k, l_quantity FROM lineitem),
        |d AS (SELECT s_suppkey AS k, s_name FROM supplier WHERE s_suppkey <= 10)
        |SELECT k, s_name, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        |FROM f JOIN d USING (k)
        |GROUP BY k, s_name ORDER BY k""".stripMargin,

    "recon_fromconfig" ->
      """WITH x AS (
        |  SELECT l_linestatus, round(sum(l_quantity), 2) AS x_sum_qty,
        |         count(*) AS x_n
        |  FROM lineitem GROUP BY l_linestatus),
        |y AS (
        |  SELECT l_linestatus, round(sum(l_quantity * 1.0005), 2) AS y_sum_qty,
        |         count(*) AS y_n
        |  FROM lineitem GROUP BY l_linestatus)
        |SELECT x.l_linestatus, x.x_sum_qty, x.x_n, y.y_sum_qty, y.y_n,
        |  abs(x.x_n - y.y_n) AS delta_n,
        |  x.x_n = y.y_n AS match_n,
        |  round(abs(x.x_sum_qty - y.y_sum_qty), 2) AS delta_sum_qty,
        |  CASE WHEN x.x_sum_qty = y.y_sum_qty THEN true
        |       ELSE abs((x.x_sum_qty - y.y_sum_qty) / y.y_sum_qty) < 0.001 END
        |    AS match_sum_qty
        |FROM x JOIN y USING (l_linestatus)
        |ORDER BY l_linestatus""".stripMargin,

    // Same planting CASE, then the fold chain generated from the SAME
    // constants as the Column implementation (foldAccentsSql).
    "accent_fold_roundtrip" -> {
      import graft.functions.TextFunctions.foldAccentsSql
      s"""WITH planted AS (
         |  SELECT doc_id, text,
         |    CASE WHEN doc_id % 21 = 0
         |           THEN replace(translate(text, 'aeo', 'áéö'), 's', 'ß')
         |         WHEN doc_id % 3 = 0 THEN translate(text, 'aeo', 'áéö')
         |         ELSE text END AS planted
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(length(planted) AS BIGINT) AS len_planted,
         |  CAST(length(${foldAccentsSql("planted")}) AS BIGINT) AS len_folded,
         |  md5(${foldAccentsSql("planted")}) AS fold_md5,
         |  (${foldAccentsSql("planted")} = text) AS restored
         |FROM planted ORDER BY doc_id""".stripMargin
    },

    "text_profile" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INT) AS n_chars,
         |  CAST(CASE WHEN trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = '' THEN 0
         |       ELSE len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) END AS INT) AS n_tokens,
         |  CAST(CASE WHEN trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = '' THEN 0
         |       ELSE len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '[A-Za-z0-9]{1,4}'))
         |          + len(regexp_extract_all(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '[^A-Za-z0-9\\s]')) END AS INT) AS n_subwords,
         |  ${oracleLangExpr("text")} AS pred_lang,
         |  ${oraclePunctExpr("text")} AS punct_ratio,
         |  ${oracleStopRatioExpr("text")} AS stopword_ratio,
         |  ${oracleMtlExpr("text")} AS mean_token_len,
         |  ${oracleQualityExpr("text")} AS quality,
         |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "lang_distribution" ->
      s"""SELECT ${oracleLangExpr("text")} AS pred_lang, count(*) AS n_docs
         |FROM documents
         |GROUP BY 1
         |ORDER BY pred_lang""".stripMargin,

    "top_tokens" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |      FROM documents
        |      WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> '')
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 20""".stripMargin,

    // Three BPE rounds unrolled: vocab → char representation → pair
    // counts (vocab-weighted, boundary-correct) → argmax (ties lex) →
    // double-space literal-replace merge, repeated. Identical
    // arithmetic and identical replace semantics to the operator.
    "bpe_merges" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents
        |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''),
        |wv AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
        |r0 AS (SELECT cnt, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS r FROM wv),
        |x1 AS (SELECT cnt, string_split(r, ' ') AS a FROM r0),
        |e1 AS (SELECT cnt, a, unnest(generate_series(1, len(a) - 1)) AS i FROM x1 WHERE len(a) >= 2),
        |p1 AS (SELECT a[i] || ' ' || a[i + 1] AS p, CAST(sum(cnt) AS BIGINT) AS n FROM e1 GROUP BY 1),
        |b1 AS (SELECT p, n FROM p1 ORDER BY n DESC, p ASC LIMIT 1),
        |r1 AS (SELECT cnt, trim(regexp_replace(
        |         replace(' ' || replace(r, ' ', '  ') || ' ',
        |                 (SELECT ' ' || replace(p, ' ', '  ') || ' ' FROM b1),
        |                 (SELECT ' ' || replace(p, ' ', '') || ' ' FROM b1)),
        |         ' +', ' ', 'g')) AS r FROM r0),
        |x2 AS (SELECT cnt, string_split(r, ' ') AS a FROM r1),
        |e2 AS (SELECT cnt, a, unnest(generate_series(1, len(a) - 1)) AS i FROM x2 WHERE len(a) >= 2),
        |p2 AS (SELECT a[i] || ' ' || a[i + 1] AS p, CAST(sum(cnt) AS BIGINT) AS n FROM e2 GROUP BY 1),
        |b2 AS (SELECT p, n FROM p2 ORDER BY n DESC, p ASC LIMIT 1),
        |r2 AS (SELECT cnt, trim(regexp_replace(
        |         replace(' ' || replace(r, ' ', '  ') || ' ',
        |                 (SELECT ' ' || replace(p, ' ', '  ') || ' ' FROM b2),
        |                 (SELECT ' ' || replace(p, ' ', '') || ' ' FROM b2)),
        |         ' +', ' ', 'g')) AS r FROM r1),
        |x3 AS (SELECT cnt, string_split(r, ' ') AS a FROM r2),
        |e3 AS (SELECT cnt, a, unnest(generate_series(1, len(a) - 1)) AS i FROM x3 WHERE len(a) >= 2),
        |p3 AS (SELECT a[i] || ' ' || a[i + 1] AS p, CAST(sum(cnt) AS BIGINT) AS n FROM e3 GROUP BY 1),
        |b3 AS (SELECT p, n FROM p3 ORDER BY n DESC, p ASC LIMIT 1)
        |SELECT 1 AS merge_round, p AS pair, replace(p, ' ', '') AS merged, n FROM b1
        |UNION ALL SELECT 2, p, replace(p, ' ', ''), n FROM b2
        |UNION ALL SELECT 3, p, replace(p, ' ', ''), n FROM b3
        |ORDER BY merge_round""".stripMargin,

    // The streaming flavor's contract is the SAME full-vocabulary
    // top-30 — exactness must survive micro-batch arrival order.
    "heavy_hitters_streaming" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |      FROM documents
        |      WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> '')
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 30""".stripMargin,

    // The heavy-hitter operator's contract IS the full-vocabulary
    // top-k: same tokenization, k=30.
    "heavy_hitters_tokens" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |      FROM documents
        |      WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> '')
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 30""".stripMargin,

    "tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents
        |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf AS DOUBLE) * ln((n.n + 1.0) / (CAST(df AS DOUBLE) + 1.0)) AS tfidf
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
        |      FROM sc)
        |SELECT doc_id, term, CAST(rank AS INT) AS rank, round(tfidf, 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // Re-derives the bench excerpts, winnows BOTH sides with the same
    // rolling-hash/window-min arithmetic (shared CTE builder with the
    // winnow_profile oracle), applies the same DF guard and thresholds.
    "passage_overlap" ->
      s"""WITH tnorm AS (
         |  SELECT doc_id, ${oracleNormExpr("text")} AS norm FROM documents),
         |bsel AS (
         |  SELECT doc_id, substr(text, 40, 400) AS t FROM documents
         |  WHERE ${Sampling.bucketSql("doc_id", 17L)} < 300),
         |bnorm AS (SELECT doc_id, ${oracleNormExpr("t")} AS norm FROM bsel),
         |${winnowSelCtes("tnorm", "t_")},
         |${winnowSelCtes("bnorm", "b_")},
         |rare AS (SELECT wmin FROM t_sel GROUP BY wmin HAVING count(*) <= 100),
         |bsizes AS (SELECT doc_id AS bench_id, count(*) AS bench_fps
         |           FROM b_sel GROUP BY 1),
         |pairs AS (
         |  SELECT b.doc_id AS bench_id, t.doc_id AS train_id,
         |    count(*) AS shared_fps
         |  FROM b_sel b JOIN t_sel t ON b.wmin = t.wmin
         |  JOIN rare r ON b.wmin = r.wmin
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT p.bench_id, p.train_id,
         |  CAST(p.shared_fps AS BIGINT) AS shared_fps,
         |  CAST(s.bench_fps AS BIGINT) AS bench_fps,
         |  round(p.shared_fps / s.bench_fps, 6) AS overlap_frac
         |FROM pairs p JOIN bsizes s USING (bench_id)
         |ORDER BY bench_id, train_id""".stripMargin,

    // Same winnow/strike pipeline as passage_overlap's oracle, then the
    // per-source rollup over the surviving docs.
    "decontaminate_by_source" -> deconBySourceSql,

    // Result-identical by construction (bloom prune = semi-join
    // reduction, no false negatives): the bloom flavor must match the
    // exact same raw-text recomputation.
    "decontaminate_bloom" -> deconBySourceSql,

    // The artifact-reuse variant has IDENTICAL final semantics — the
    // report detour (persist + re-read) must be invisible in the result,
    // so the same from-raw-text oracle gates it.
    "decontaminate_from_report" -> deconBySourceSql,

    // Recomputes each version's row membership from raw documents: v0 =
    // hash-bucket subset, v1 = full corpus (append closed the set), v2 =
    // the non-en rewrite. Counts + id checksums gate the historical reads.
    "time_travel_versions" ->
      s"""WITH b AS (
         |  SELECT doc_id, ${Sampling.bucketSql("doc_id", 29L)} AS bk FROM documents)
         |SELECT CAST(0 AS BIGINT) AS version, 'snapshot' AS mode,
         |  count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM documents d JOIN b USING (doc_id) WHERE b.bk < 7000
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), 'append', count(*), CAST(sum(doc_id) AS BIGINT)
         |FROM documents
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'snapshot', count(*), CAST(sum(doc_id) AS BIGINT)
         |FROM documents WHERE lang <> 'en'
         |ORDER BY version""".stripMargin,

    // Post-vacuum audit: v0's row is gone with its manifest; v1 (append)
    // still lists v0's group + its own (2 groups, both present because
    // the shared group survives retention), v2 is a 1-group snapshot.
    "describe_history" ->
      """SELECT CAST(1 AS BIGINT) AS version, 'append' AS mode,
        |  count(*) AS n_rows, CAST(2 AS BIGINT) AS n_files, true AS readable
        |FROM documents
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'snapshot', count(*), CAST(1 AS BIGINT), true
        |FROM documents WHERE lang <> 'en'
        |ORDER BY version""".stripMargin,

    // The DV-pressure gauges recomputed: n_rows/dv_rows from the raw
    // documents, dv_files pinned as the accretion curve (1, 2, then 1
    // after the maxArtifacts=2 fold).
    "describe_history_dv" ->
      """WITH e AS (SELECT count(*) n FROM documents WHERE lang = 'en'),
        |  d AS (SELECT count(*) n FROM documents WHERE lang = 'de'),
        |  tot AS (SELECT count(*) n FROM documents),
        |  c1 AS (SELECT count(*) n FROM documents
        |         WHERE lang = 'en' AND doc_id % 11 = 0),
        |  c2 AS (SELECT count(*) n FROM documents
        |         WHERE lang = 'de' AND doc_id % 13 = 0),
        |  c3 AS (SELECT count(*) n FROM documents
        |         WHERE lang = 'fr' AND doc_id % 17 = 0)
        |SELECT CAST(0 AS BIGINT) AS version, 'snapshot' AS mode,
        |  CAST(e.n AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS dv_rows,
        |  CAST(0 AS BIGINT) AS dv_files FROM e
        |UNION ALL SELECT 1, 'append', e.n + d.n, 0, 0 FROM e, d
        |UNION ALL SELECT 2, 'append', tot.n, 0, 0 FROM tot
        |UNION ALL SELECT 3, 'delete', tot.n - c1.n, c1.n, 1 FROM tot, c1
        |UNION ALL SELECT 4, 'delete', tot.n - c1.n - c2.n, c1.n + c2.n, 2
        |  FROM tot, c1, c2
        |UNION ALL SELECT 5, 'delete', tot.n - c1.n - c2.n - c3.n,
        |  c1.n + c2.n + c3.n, 1 FROM tot, c1, c2, c3
        |ORDER BY version""".stripMargin,

    // Resync replay: the snapshot AS OF the earliest surviving version
    // (en+de minus the %97 DV delete) plus the fr append as the only
    // incremental change.
    "table_changes_resync" ->
      """WITH snap AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE lang IN ('en', 'de') AND doc_id % 97 <> 0)
        |SELECT 'resync' AS phase, lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM snap GROUP BY lang
        |UNION ALL
        |SELECT 'change:insert', lang, count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE lang = 'fr' GROUP BY lang
        |ORDER BY phase, lang""".stripMargin,

    // Streaming resync: the v2 snapshot (en+de minus the %97 delete)
    // lands once as inserts @v2, the fr append as inserts @v3, the
    // post-resync es append as inserts @v4 — exactly-once across the
    // two drains means no row appears twice.
    "table_changes_resync_streaming" ->
      """WITH snap AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE lang IN ('en', 'de') AND doc_id % 97 <> 0)
        |SELECT 'v2:insert' AS phase, lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM snap GROUP BY lang
        |UNION ALL
        |SELECT 'v3:insert', lang, count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE lang = 'fr' GROUP BY lang
        |UNION ALL
        |SELECT 'v4:insert', lang, count(*), CAST(sum(doc_id) AS BIGINT)
        |FROM documents WHERE lang = 'es' GROUP BY lang
        |ORDER BY phase, lang""".stripMargin,

    // The change set is the two appended batches, duplicates preserved
    // (UNION ALL, not UNION). id_sum cast: DuckDB sum(BIGINT) returns
    // HUGEINT — the r10 hash-failure class.
    "version_changes" ->
      """WITH chg AS (
        |  SELECT doc_id, lang FROM documents WHERE lang <> 'en'
        |  UNION ALL
        |  SELECT doc_id, lang FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2'))
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM chg GROUP BY lang ORDER BY lang""".stripMargin,

    // Every appended row exactly once: all documents (en group +
    // non-en group) plus the re-appended src0-2 rows. Any re-emission
    // on the second drain doubles a group and breaks the hash.
    "version_changes_streaming" ->
      """WITH chg AS (
        |  SELECT doc_id, lang FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2'))
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM chg GROUP BY lang ORDER BY lang""".stripMargin,

    // Skipping is an optimization, never the filter: the pruned scan's
    // result must equal a plain filter over the raw table. The bands
    // are max(doc_id)-derived exactly as the Spark side derives them.
    "version_skipping_scan" ->
      """WITH m AS (SELECT CAST(max(doc_id) AS BIGINT) AS hi FROM documents)
        |SELECT lang, count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents, m
        |WHERE doc_id > hi // 3 AND doc_id <= (2 * hi) // 3 AND n_chars >= 200
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The z-order rewrite must be row-invisible: the clustered scan's
    // two-dim-prunable predicate equals a plain filter over raw docs.
    "versioned_cluster_skipping" ->
      """SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM documents WHERE n_chars BETWEEN 150 AND 400
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The three staged batches partition the corpus, the forced replay
    // and the second drain are watermark/checkpoint no-ops — so the
    // ingested table is every document EXACTLY once; any duplicate
    // doubles a lang group and fails the hash.
    "streaming_versioned_ingest" ->
      """SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // The restored version is v1 = en snapshot + non-en append = every
    // document exactly once.
    "versioned_restore" ->
      """SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Survivors = every doc off the modulo slice; the deleted en keys
    // return as lang 'xx' via the merge insert. dv_engaged = true IS
    // the merge-on-read gate: if the delete silently rewrote (or the
    // DV dropped rows it shouldn't), the constant — or the rollup —
    // breaks.
    "versioned_dv" ->
      """WITH survivors AS (
        |  SELECT doc_id, lang FROM documents WHERE (doc_id % 97) <> 0
        |  UNION ALL
        |  SELECT doc_id, 'xx' AS lang FROM documents
        |  WHERE lang = 'en' AND (doc_id % 97) = 0)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  true AS dv_engaged,
        |  (SELECT count(*) FROM documents) AS pre_delete_rows
        |FROM survivors GROUP BY lang ORDER BY lang""".stripMargin,

    // Final table = every doc with the modulo slice re-langed 'xx';
    // the feed's pre-image slice (count + id checksum) recomputed
    // directly; dv_engaged = true IS the merge-on-read gate.
    "versioned_dv_update" ->
      """WITH upd AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id % 101) = 0 THEN 'xx' ELSE lang END AS lang
        |  FROM documents)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  true AS dv_engaged,
        |  (SELECT count(*) FROM documents WHERE (doc_id % 101) = 0)
        |    AS n_changed,
        |  (SELECT CAST(COALESCE(sum(doc_id), 0) AS BIGINT)
        |   FROM documents WHERE (doc_id % 101) = 0) AS changed_id_sum
        |FROM upd GROUP BY lang ORDER BY lang""".stripMargin,

    // Genesis inserts = en at cv0; the v4 update's pre/post slice is
    // %89 of the rows LIVE at v3 (en ∪ de minus the deleted %97
    // slice, plus fr).
    "version_changes_feed_streaming" ->
      """WITH live AS (
        |  SELECT doc_id, lang FROM documents
        |  WHERE lang IN ('en', 'de') AND (doc_id % 97) <> 0
        |  UNION ALL
        |  SELECT doc_id, lang FROM documents WHERE lang = 'fr'),
        |feed AS (
        |  SELECT 'insert' AS ct, 0 AS cv, doc_id, lang
        |  FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT 'insert', 1, doc_id, lang FROM documents WHERE lang = 'de'
        |  UNION ALL
        |  SELECT 'delete', 2, doc_id, lang FROM documents
        |  WHERE lang IN ('en', 'de') AND (doc_id % 97) = 0
        |  UNION ALL
        |  SELECT 'insert', 3, doc_id, lang FROM documents WHERE lang = 'fr'
        |  UNION ALL
        |  SELECT 'update_preimage', 4, doc_id, lang FROM live
        |  WHERE (doc_id % 89) = 0
        |  UNION ALL
        |  SELECT 'update_postimage', 4, doc_id, 'yy' FROM live
        |  WHERE (doc_id % 89) = 0)
        |SELECT ct AS change_type, CAST(cv AS BIGINT) AS commit_version,
        |  lang, count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM feed GROUP BY ct, cv, lang
        |ORDER BY change_type, commit_version, lang""".stripMargin,

    // v1 inserts = de; v2 deletes = the modulo slice of en ∪ de (the
    // table at delete time); v3 inserts = fr.
    // TVF replay: inclusive start 0 = genesis inserts (en at cv 0)
    // plus the same feed cells as version_changes_feed.
    "table_changes_sql" ->
      """WITH feed AS (
        |  SELECT 'insert' AS change_type, 0 AS cv, doc_id, lang
        |  FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT 'insert', 1, doc_id, lang
        |  FROM documents WHERE lang = 'de'
        |  UNION ALL
        |  SELECT 'delete', 2, doc_id, lang FROM documents
        |  WHERE lang IN ('en', 'de') AND (doc_id % 97) = 0
        |  UNION ALL
        |  SELECT 'insert', 3, doc_id, lang
        |  FROM documents WHERE lang = 'fr')
        |SELECT change_type, CAST(cv AS BIGINT) AS commit_version, lang,
        |  count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM feed GROUP BY change_type, cv, lang
        |ORDER BY change_type, commit_version, lang""".stripMargin,

    // ANSI tuple NOT IN replay via the null-aware NOT EXISTS rewrite
    // (r NOT IN S is TRUE iff no tuple is non-FALSE on every column).
    "datasource_dml_not_in_multi" ->
      """WITH sset AS (
        |  SELECT DISTINCT lang AS k1, source AS k2 FROM documents
        |  WHERE source = 'src1'
        |  UNION ALL SELECT 'en', NULL),
        |surv AS (
        |  SELECT * FROM documents d
        |  WHERE (NOT EXISTS (SELECT 1 FROM sset s
        |    WHERE (d.lang = s.k1 OR d.lang IS NULL OR s.k1 IS NULL)
        |      AND (d.source = s.k2 OR d.source IS NULL OR s.k2 IS NULL)))
        |    IS NOT TRUE)
        |SELECT lang, source, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM surv GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // Same null-aware NOT EXISTS rewrite over the over-limit tuple set
    // (join-fallback path), residual included in the claim.
    "datasource_dml_not_in_multi_large" ->
      """WITH sset AS (
        |  SELECT DISTINCT doc_id AS k1, lang AS k2 FROM documents
        |  WHERE source <> 'src5'
        |  UNION ALL SELECT -1, NULL),
        |surv AS (
        |  SELECT * FROM documents d
        |  WHERE ((NOT EXISTS (SELECT 1 FROM sset s
        |    WHERE (d.doc_id = s.k1 OR d.doc_id IS NULL OR s.k1 IS NULL)
        |      AND (d.lang = s.k2 OR d.lang IS NULL OR s.k2 IS NULL)))
        |    AND d.n_chars < 400) IS NOT TRUE)
        |SELECT lang, source, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM surv GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // Mixed-merge feed replay: matched %97 slice of en+de splits at
    // n_chars 250 into deletes vs update pairs; shifted src2 ids
    // insert as 'yy'.
    "version_changes_feed_merge" ->
      """WITH m AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE doc_id % 97 = 0 AND lang IN ('en', 'de')),
        |feed AS (
        |  SELECT 'delete' AS change_type, lang, doc_id FROM m
        |  WHERE n_chars < 250
        |  UNION ALL
        |  SELECT 'update_preimage', lang, doc_id FROM m WHERE n_chars >= 250
        |  UNION ALL
        |  SELECT 'update_postimage', 'xx', doc_id FROM m WHERE n_chars >= 250
        |  UNION ALL
        |  SELECT 'insert', 'yy', doc_id + 5000000
        |  FROM documents WHERE source = 'src2'
        |  UNION ALL
        |  SELECT 'insert', 'yy', doc_id FROM documents
        |  WHERE doc_id % 97 = 0 AND lang NOT IN ('en', 'de'))
        |SELECT change_type, lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM feed GROUP BY change_type, lang
        |ORDER BY change_type, lang""".stripMargin,

    "version_changes_feed" ->
      """WITH feed AS (
        |  SELECT 'insert' AS change_type, 1 AS cv, doc_id, lang
        |  FROM documents WHERE lang = 'de'
        |  UNION ALL
        |  SELECT 'delete', 2, doc_id, lang FROM documents
        |  WHERE lang IN ('en', 'de') AND (doc_id % 97) = 0
        |  UNION ALL
        |  SELECT 'insert', 3, doc_id, lang
        |  FROM documents WHERE lang = 'fr')
        |SELECT change_type, CAST(cv AS BIGINT) AS commit_version, lang,
        |  count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM feed GROUP BY change_type, cv, lang
        |ORDER BY change_type, commit_version, lang""".stripMargin,

    // en rows predate n_chars (NULL → predicate NULL → KEPT); evolved
    // rows delete only when n_chars > 400.
    "versioned_delete" ->
      """WITH rows AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang <> 'en' THEN n_chars END AS nc
        |  FROM documents)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM rows WHERE nc IS NULL OR nc <= 400
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Source = every document; clone = en docs from src0 only. Any
    // leakage across the clone boundary poisons one side's rows.
    "versioned_clone" ->
      """SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum, 'src' AS side
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT lang, count(*), CAST(sum(doc_id) AS BIGINT), 'clone'
        |FROM documents WHERE lang = 'en' AND source = 'src0'
        |GROUP BY lang
        |ORDER BY side, lang""".stripMargin,

    // Exact doc/token totals from the same tokenization; the packing
    // gates must hold whenever the operator is correct.
    "pack_binpack_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = '' THEN 0
        |           ELSE len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
        |      END) AS BIGINT) AS total_tokens,
        |  true AS within_budget, true AS util_ok
        |FROM documents""".stripMargin,

    // The identical rank window recomputed: bottom floor(0.2·n) of each
    // lang by (n_chars, doc_id) ascending drop.
    "domain_drop_bottom" ->
      """WITH r AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r WHERE rk > floor(0.2 * n)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Only rows under the cap can exist in a correctly-enforced table.
    "versioned_constraints" ->
      """SELECT lang, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM documents WHERE n_chars <= 500
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Urgent orders discounted 10%, everything else untouched.
    "versioned_update" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |                 THEN o_totalprice * 0.9 ELSE o_totalprice END), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // The merge result recomputed from raw orders: source rows win on
    // key collision, unmatched target rows survive, fresh keys insert.
    "versioned_merge" ->
      """WITH tgt AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |src AS (
        |  SELECT o_orderkey, 'X' AS o_orderstatus,
        |    o_totalprice + 1000 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', 0.5
        |  FROM orders WHERE o_orderkey % 500 = 0),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT t.* FROM tgt t LEFT JOIN src s USING (o_orderkey)
        |  WHERE s.o_orderstatus IS NULL)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS total
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,

    // en rows predate the column (NULL n_chars), non-en rows carry it.
    "versioned_schema_evolution" ->
      """WITH rows AS (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en')
        |SELECT lang, count(*) AS n_rows,
        |  count(n_chars) AS n_chars_known,
        |  CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS char_sum
        |FROM rows GROUP BY lang ORDER BY lang""".stripMargin,

    // snapshot(en) + append(non-en) + INSERT INTO(src0 rows) = all
    // documents plus the src0 slice again; the SELECT's filter rides
    // the datasource's pushdown path but must not change a row.
    "datasource_format_sql" ->
      """WITH rows AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars FROM documents WHERE source = 'src0')
        |SELECT lang, count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM rows WHERE n_chars >= 100
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Converted corpus + shifted src0 append, long-docs survivors of
    // the SQL delete.
    "convert_to_graft" ->
      """WITH rows AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000, lang, n_chars FROM documents
        |  WHERE source = 'src0')
        |SELECT lang, count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM rows WHERE n_chars >= 100
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // Clause-by-clause replay: src1 docs are matched (deleted when
    // n_chars<200, else lang='xx' and chars+1); other docs are
    // not-matched-by-source (de rows zeroed); shifted src2 rows insert
    // under the s.lang='yy' condition.
    "datasource_merge_clauses" ->
      """WITH final_t AS (
        |  SELECT doc_id,
        |    CASE WHEN source = 'src1' THEN 'xx' ELSE lang END AS lang,
        |    CASE WHEN source = 'src1' THEN n_chars + 1
        |         WHEN lang = 'de' THEN 0 ELSE n_chars END AS n_chars
        |  FROM documents
        |  WHERE NOT (source = 'src1' AND n_chars < 200)),
        |ins AS (
        |  SELECT doc_id + 5000000 AS doc_id, 'yy' AS lang, n_chars
        |  FROM documents WHERE source = 'src2'),
        |allr AS (SELECT * FROM final_t UNION ALL SELECT * FROM ins)
        |SELECT lang, count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM allr GROUP BY lang ORDER BY lang""".stripMargin,

    // Subquery-DML replay: quarantined (src1) short docs deleted, then
    // de-language survivors bumped — the UPDATE's self-referential
    // subquery reads the post-delete pre-image, so the CASE applies to
    // the delete's survivors only.
    "datasource_dml_subquery" ->
      """WITH d1 AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE NOT (source = 'src1' AND n_chars < 300)),
        |u1 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang = 'de' THEN n_chars + 1000 ELSE n_chars END
        |      AS n_chars
        |  FROM d1)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM u1 GROUP BY lang ORDER BY lang""".stripMargin,

    // Partial-merge replay: src1 docs matched (only n_chars updated —
    // lang carries), shifted src2 rows inserted with UNLISTED lang
    // NULL; lang_known pins the NULL-fill.
    "datasource_merge_partial_insert" ->
      """WITH upd AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN source = 'src1' THEN n_chars + 10 ELSE n_chars END
        |      AS n_chars
        |  FROM documents),
        |ins AS (
        |  SELECT doc_id + 7000000 AS doc_id, CAST(NULL AS VARCHAR) AS lang,
        |    n_chars * 2 AS n_chars
        |  FROM documents WHERE source = 'src2'),
        |allr AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT coalesce(lang, 'NULL') AS lang,
        |  count(*) AS n_rows, count(lang) AS lang_known,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM allr GROUP BY coalesce(lang, 'NULL') ORDER BY lang""".stripMargin,

    // The lifecycle's version/mode/row-count audit trail replayed
    // relationally: v0 = en snapshot, v1 = full append, v2 =
    // metadata-only constraint, v3 = ZORDER snapshot (same rows), v4 =
    // the COW delete's survivors, v5 = the restore (full rows again).
    "datasource_maintenance_sql" ->
      """WITH c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en,
        |    CAST(count(*) FILTER (WHERE doc_id % 5 <> 0) AS BIGINT) AS kept
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version, 'snapshot' AS mode, en AS n_rows FROM c
        |  UNION ALL SELECT 1, 'append', total FROM c
        |  UNION ALL SELECT 2, 'add_constraint', total FROM c
        |  UNION ALL SELECT 3, 'optimize', total FROM c
        |  UNION ALL SELECT 4, 'delete', kept FROM c
        |  UNION ALL SELECT 5, 'snapshot', total FROM c)
        |ORDER BY version""".stripMargin,

    // pre_rename = the full corpus under old names (version 1);
    // post_rename = corpus + shifted src0 slice, chars>=100 survivors
    // of the post-rename COW delete, under the new names.
    "versioned_rename" ->
      """WITH pre AS (
        |  SELECT 'pre_rename' AS phase, lang AS language,
        |    count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM documents GROUP BY 2),
        |post_rows AS (
        |  SELECT doc_id, lang AS language, n_chars AS chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars FROM documents
        |  WHERE source = 'src0'),
        |post AS (
        |  SELECT 'post_rename' AS phase, language,
        |    count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |  FROM post_rows WHERE chars >= 100 GROUP BY 2)
        |SELECT * FROM pre
        |UNION ALL SELECT * FROM post
        |ORDER BY phase, language""".stripMargin,

    // Relational replay of the three SQL mutations: DELETE keys%7=0,
    // UPDATE de rows +1000 chars, MERGE replace-src1/insert-shifted-src2.
    "datasource_dml_sql" ->
      """WITH d1 AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 <> 0),
        |u1 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang = 'de' THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM d1),
        |src AS (
        |  SELECT doc_id, 'xx' AS lang, CAST(0 AS BIGINT) AS n_chars
        |  FROM documents WHERE source = 'src1'
        |  UNION ALL
        |  SELECT doc_id + 5000000, 'yy', CAST(1 AS BIGINT)
        |  FROM documents WHERE source = 'src2'),
        |merged AS (
        |  SELECT u1.* FROM u1 WHERE doc_id NOT IN (SELECT doc_id FROM src)
        |  UNION ALL SELECT * FROM src)
        |SELECT lang, count(*) AS n_rows, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM merged GROUP BY lang ORDER BY lang""".stripMargin,

    // Replay of the four subquery-DML steps with DuckDB's OWN
    // NULL-aware evaluator: a DELETE keeps rows where the condition
    // `IS NOT TRUE`, an UPDATE applies where it `IS TRUE` — so NOT IN
    // against a NULL-bearing set (step 3) no-ops because DuckDB says
    // so, not because the oracle hand-simplified it away.
    "datasource_dml_exists" ->
      """WITH src AS (
        |  SELECT doc_id, n_chars AS nc FROM documents WHERE source = 'src1'),
        |langs AS (
        |  SELECT DISTINCT lang AS l FROM documents WHERE lang IN ('en','de')),
        |nulls AS (
        |  SELECT DISTINCT CASE WHEN lang = 'en' THEN lang END AS l
        |  FROM documents),
        |d1 AS (
        |  SELECT doc_id, lang, n_chars FROM documents t
        |  WHERE (EXISTS (SELECT 1 FROM src e
        |    WHERE e.doc_id = t.doc_id AND e.nc < 200)) IS NOT TRUE),
        |u1 AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN (lang NOT IN (SELECT l FROM langs)
        |               AND n_chars < 300) IS TRUE
        |         THEN n_chars + 500 ELSE n_chars END AS n_chars
        |  FROM d1),
        |d2 AS (
        |  SELECT * FROM u1
        |  WHERE (lang NOT IN (SELECT l FROM nulls)) IS NOT TRUE),
        |d3 AS (
        |  SELECT * FROM d2 t
        |  WHERE (NOT EXISTS (SELECT 1 FROM src e WHERE e.doc_id = t.doc_id)
        |         AND n_chars > 800) IS NOT TRUE)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM d3 GROUP BY lang ORDER BY lang""".stripMargin,

    // Relational replay of the general-ON MERGE: matched-ness = key
    // equality (doc_id = sdoc) AND the residual (n_chars < 400); a
    // key-equal pair failing the residual is NOT matched, so its
    // source row INSERTS — LEFT JOIN on keys+residual for updates,
    // NOT EXISTS on keys+residual for the inserts.
    // DV merge replay: the %97 slice deletes when short, relabels 'xx'
    // when long; dv_engaged must be TRUE (a rewrite fallback flips it).
    "datasource_merge_dv" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN 'xx' ELSE lang END AS lang,
        |    n_chars
        |  FROM documents
        |  WHERE NOT (doc_id % 97 = 0 AND n_chars < 250))
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum,
        |  TRUE AS dv_engaged
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "datasource_merge_on_expr" ->
      """WITH tgt AS (SELECT doc_id, lang, n_chars FROM documents),
        |src AS (
        |  SELECT doc_id AS sdoc, (n_chars % 50 + 1) AS bump
        |  FROM documents WHERE source = 'src2'),
        |upd AS (
        |  SELECT t.doc_id, t.lang,
        |    CASE WHEN s.sdoc IS NOT NULL THEN t.n_chars + s.bump
        |         ELSE t.n_chars END AS n_chars
        |  FROM tgt t LEFT JOIN src s
        |    ON t.doc_id = s.sdoc AND t.n_chars < 400),
        |ins AS (
        |  SELECT s.sdoc AS doc_id, 'xx' AS lang, s.bump AS n_chars
        |  FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM tgt t
        |    WHERE t.doc_id = s.sdoc AND t.n_chars < 400)),
        |finaltbl AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT lang, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS char_sum
        |FROM finaltbl GROUP BY lang ORDER BY lang""".stripMargin,

    // Each poll's rollup from raw docs: p1 = the non-en append, p2 =
    // the src0-2 append, p3 = the FULL es snapshot (resync). id_sum
    // casts against the HUGEINT class.
    "poll_changes_cycle" ->
      """SELECT 'p1_append' AS phase, count(*) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum, false AS resync
        |FROM documents WHERE lang <> 'en'
        |UNION ALL
        |SELECT 'p2_append', count(*), CAST(sum(doc_id) AS BIGINT), false
        |FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |UNION ALL
        |SELECT 'p3_resync', count(*), CAST(sum(doc_id) AS BIGINT), true
        |FROM documents WHERE lang = 'es'
        |ORDER BY phase""".stripMargin,

    // Full recomputation of the crawl loop: the batch construction, the
    // all-pairs trigram Jaccard (recall 1.0 at 32/16 on this family —
    // the same guarantee the other minhash oracles lean on), the
    // greater-member drop set, and the survivor rollup. The changes()
    // read must equal the survivors exactly.
    "crawl_append_loop" ->
      s"""WITH bkt AS (
         |  SELECT doc_id, ${Sampling.bucketSql("doc_id", 31L)} AS bk FROM documents),
         |batch AS (
         |  SELECT d.doc_id + 5000000000 AS doc_id,
         |    CASE WHEN d.doc_id % 2 = 0 THEN d.text || ' zz end tail'
         |         ELSE array_to_string(list_reverse(
         |           string_split(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g')), ' ')), ' ')
         |    END AS text, d.lang
         |  FROM documents d JOIN bkt b USING (doc_id) WHERE b.bk < 600),
         |alldocs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id, text FROM batch),
         |tok AS (
         |  SELECT doc_id,
         |    string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM alldocs),
         |pos AS (
         |  SELECT doc_id, toks,
         |    unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g
         |  FROM pos),
         |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |drops AS (
         |  SELECT DISTINCT id_b AS doc_id FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE i::double / (sa.n + sb.n - i) >= 0.6
         |    AND id_b IN (SELECT doc_id FROM batch))
         |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // Both versions' aggregates from raw docs; delta/match mirror the
    // recon contract (abs diff; equality, else 0.001 relative
    // tolerance). id_sum cast: DuckDB sum(BIGINT) → HUGEINT.
    "recon_versions" ->
      """WITH v0 AS (
        |  SELECT lang, count(*) AS v0_n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS v0_id_sum
        |  FROM documents GROUP BY lang),
        |v1 AS (
        |  SELECT lang, count(*) AS v1_n_docs,
        |    CAST(sum(doc_id) AS BIGINT) AS v1_id_sum
        |  FROM documents WHERE source <> 'src0' GROUP BY lang)
        |SELECT v0.lang, v0_n_docs, v0_id_sum, v1_n_docs, v1_id_sum,
        |  abs(v0_n_docs - v1_n_docs) AS delta_n_docs,
        |  v0_n_docs = v1_n_docs AS match_n_docs,
        |  abs(v0_id_sum - v1_id_sum) AS delta_id_sum,
        |  CASE WHEN v0_id_sum = v1_id_sum THEN true
        |       ELSE abs((v0_id_sum - v1_id_sum) / CAST(v1_id_sum AS DOUBLE)) < 0.001
        |  END AS match_id_sum
        |FROM v0 JOIN v1 USING (lang) ORDER BY lang""".stripMargin,

    // v0: en snapshot, 1 group. v1: +non-en append, 2 groups, all docs.
    // v2: +src0-2 append, 3 groups. v3: compaction snapshot — SAME row
    // count as v2, exactly 1 group. All readable (no vacuum ran).
    "versioned_compact" ->
      """WITH n AS (
        |  SELECT count(*) AS all_docs,
        |    count(*) FILTER (WHERE lang = 'en') AS en_docs,
        |    count(*) FILTER (WHERE source IN ('src0','src1','src2')) AS dup_docs
        |  FROM documents)
        |SELECT CAST(0 AS BIGINT) AS version, 'snapshot' AS mode,
        |  en_docs AS n_rows, CAST(1 AS BIGINT) AS n_files, true AS readable FROM n
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), 'append', all_docs, CAST(2 AS BIGINT), true FROM n
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append', all_docs + dup_docs, CAST(3 AS BIGINT), true FROM n
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'optimize', all_docs + dup_docs, CAST(1 AS BIGINT), true FROM n
        |ORDER BY version""".stripMargin,

    // Exact distinct tokens per language; the estimate gate must hold at
    // the 5% floor (HLL lgK=12 standard error ~1.6%), so est_ok is a
    // deterministic true. WHERE clause drops token-less docs the same
    // way Spark's empty tokens() array does. Shared with the streaming
    // flavor: mergeability makes the two stores' estimates identical,
    // so one oracle gates both.
    "sketch_store" -> sketchStoreOracleSql,
    "sketch_store_streaming" -> sketchStoreOracleSql,

    // Cross-batch customer overlap is the point: per-batch distinct
    // sums would overcount; the merged sketch must land within 5% of
    // the true distinct count.
    "sketch_store_values" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_exact,
        |  true AS est_ok
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The same quality expression as budget_select's oracle feeds a
    // per-source rank; membership and score are both hash-gated.
    "domain_quota" ->
      s"""WITH p AS (
         |  SELECT doc_id, source, ${oracleQualityExpr("text")} AS quality
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, source, quality,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY quality DESC, doc_id ASC) AS rk
         |  FROM p)
         |SELECT doc_id, source, quality FROM r
         |WHERE rk <= 10 ORDER BY source, doc_id""".stripMargin,

    // The scale-shaped distributed prefix sum must equal this one global
    // window cumsum exactly — integer token totals, same (quality desc,
    // id asc) total order.
    "budget_select" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN ${oracleNormExpr("text")} = '' THEN 0
         |              ELSE len(${oracleTokensExpr("text")}) END AS BIGINT) AS n_tokens,
         |    ${oracleQualityExpr("text")} AS quality
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens, quality,
         |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
         |                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
         |  FROM p)
         |SELECT doc_id, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
         |FROM c WHERE cum_tokens <= 15000 ORDER BY doc_id""".stripMargin,

    // Rebuilds the mutated snapshot (same hash picks), fingerprints both
    // sides with the same NUL/SOH-sentinel concat + md5, and re-derives
    // every verdict through its own full outer join.
    "corpus_diff" ->
      s"""WITH bkt AS (
         |  SELECT doc_id, ${Sampling.bucketSql("doc_id", 13L)} AS bk
         |  FROM documents),
         |news AS (
         |  SELECT d.doc_id,
         |    CASE WHEN b.bk < 1500 THEN d.text || ' [v2]' ELSE d.text END AS text,
         |    d.lang, d.source
         |  FROM documents d JOIN bkt b USING (doc_id) WHERE b.bk >= 500
         |  UNION ALL
         |  SELECT d.doc_id + 10000000, d.text, d.lang, d.source
         |  FROM documents d JOIN bkt b USING (doc_id) WHERE b.bk >= 9500),
         |ofp AS (
         |  SELECT doc_id, md5(concat_ws(chr(1),
         |    coalesce(text, chr(0)), coalesce(lang, chr(0)),
         |    coalesce(source, chr(0)))) AS fp
         |  FROM documents),
         |nfp AS (
         |  SELECT doc_id, md5(concat_ws(chr(1),
         |    coalesce(text, chr(0)), coalesce(lang, chr(0)),
         |    coalesce(source, chr(0)))) AS fp
         |  FROM news),
         |verdicts AS (
         |  SELECT coalesce(o.doc_id, n.doc_id) AS id,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN o.fp = n.fp THEN 'unchanged'
         |         ELSE 'changed' END AS status
         |  FROM ofp o FULL OUTER JOIN nfp n ON o.doc_id = n.doc_id),
         |agg AS (
         |  SELECT status, count(*) AS n, CAST(sum(id) AS BIGINT) AS id_sum
         |  FROM verdicts GROUP BY status)
         |SELECT st.status, COALESCE(agg.n, 0) AS n,
         |  COALESCE(agg.id_sum, 0) AS id_sum
         |FROM (VALUES ('added'), ('removed'), ('changed'), ('unchanged')) st(status)
         |LEFT JOIN agg USING (status)
         |ORDER BY status""".stripMargin,

    // Recomputes the whole model: same tokenization, same hash split,
    // gram counts rolled up identically, the same backoff CASE with
    // ln(0.4) embedded as the SAME literal, and the per-doc sum ordered
    // by position so the fold matches Spark's aggregate() bit-for-bit.
    "lm_doc_scores" ->
      s"""WITH base AS (
         |  SELECT doc_id, ${oracleNormExpr("text")} AS nrm,
         |    ${Sampling.bucketSql("doc_id", 7L)} AS bk
         |  FROM documents),
         |tokl AS (
         |  SELECT doc_id, bk,
         |    CASE WHEN nrm = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(nrm, ' ') END AS l
         |  FROM base),
         |tpos AS (SELECT l, unnest(range(1, len(l) + 1)) AS i FROM tokl WHERE bk >= 2000),
         |tctx AS (SELECT l[i] AS w,
         |           CASE WHEN i >= 2 THEN l[i-1] END AS b,
         |           CASE WHEN i >= 3 THEN l[i-2] END AS a FROM tpos),
         |uni AS (SELECT w, count(*) AS c FROM tctx GROUP BY w),
         |bi  AS (SELECT b, w, count(*) AS c FROM tctx WHERE b IS NOT NULL GROUP BY b, w),
         |tri AS (SELECT a, b, w, count(*) AS c FROM tctx WHERE a IS NOT NULL GROUP BY a, b, w),
         |nn AS (SELECT count(*)::double AS n FROM tctx),
         |spos AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM tokl WHERE bk < 2000),
         |sctx AS (SELECT doc_id, i - 1 AS pos, l[i] AS w,
         |           CASE WHEN i >= 2 THEN l[i-1] END AS b,
         |           CASE WHEN i >= 3 THEN l[i-2] END AS a FROM spos),
         |sc AS (
         |  SELECT s.doc_id, s.pos, s.w,
         |    t3.c AS c3, d3.c AS c3d, b2.c AS c2, u2.c AS c2d, u1.c AS c1
         |  FROM sctx s
         |  LEFT JOIN tri t3 ON s.a = t3.a AND s.b = t3.b AND s.w = t3.w
         |  LEFT JOIN bi d3 ON s.a = d3.b AND s.b = d3.w
         |  LEFT JOIN bi b2 ON s.b = b2.b AND s.w = b2.w
         |  LEFT JOIN uni u2 ON s.b = u2.w
         |  LEFT JOIN uni u1 ON s.w = u1.w),
         |lsq AS (
         |  SELECT doc_id, pos, c1,
         |    CASE
         |      WHEN pos >= 2 AND c3 IS NOT NULL THEN ln(c3::double / c3d::double)
         |      WHEN pos >= 2 AND c2 IS NOT NULL THEN (${LanguageModel.lnAlphaSql}) + ln(c2::double / c2d::double)
         |      WHEN pos >= 2 AND c1 IS NOT NULL THEN (${LanguageModel.lnAlphaSql}) + (${LanguageModel.lnAlphaSql}) + ln(c1::double / n)
         |      WHEN pos >= 2 THEN (${LanguageModel.lnAlphaSql}) + (${LanguageModel.lnAlphaSql}) + ln(1.0 / n)
         |      WHEN pos = 1 AND c2 IS NOT NULL THEN ln(c2::double / c2d::double)
         |      WHEN pos = 1 AND c1 IS NOT NULL THEN (${LanguageModel.lnAlphaSql}) + ln(c1::double / n)
         |      WHEN pos = 1 THEN (${LanguageModel.lnAlphaSql}) + ln(1.0 / n)
         |      WHEN c1 IS NOT NULL THEN ln(c1::double / n)
         |      ELSE ln(1.0 / n)
         |    END AS ls
         |  FROM sc CROSS JOIN nn),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |    sum(ls ORDER BY pos) AS lp
         |  FROM lsq GROUP BY doc_id)
         |SELECT t.doc_id,
         |  COALESCE(p.n_tokens, 0) AS n_tokens,
         |  COALESCE(p.n_oov, 0) AS n_oov,
         |  round(COALESCE(p.lp, 0.0), 6) AS logprob,
         |  CASE WHEN p.n_tokens > 0 THEN round(p.lp / p.n_tokens, 6) END AS avg_logprob
         |FROM tokl t LEFT JOIN perdoc p USING (doc_id)
         |WHERE t.bk < 2000
         |ORDER BY doc_id""".stripMargin,

    // The full Gopher stack recomputed from scratch: LM trained on the
    // bk>=2000 split scoring ALL docs (same CTEs as lm_doc_scores), the
    // repetition metrics (same CTEs as repetition_profile), the scan-rule
    // metrics, then every gate compared on the 6-dp rounded value —
    // thresholds mirror the query call (fixture-scaled) and Quality's
    // published defaults.
    "quality_verdict" ->
      s"""WITH base AS (
         |  SELECT doc_id, ${oracleNormExpr("text")} AS nrm,
         |    ${Sampling.bucketSql("doc_id", 7L)} AS bk
         |  FROM documents),
         |tokl AS (
         |  SELECT doc_id, bk, nrm,
         |    CASE WHEN nrm = '' THEN CAST([] AS VARCHAR[])
         |         ELSE string_split(nrm, ' ') END AS l
         |  FROM base),
         |tpos AS (SELECT l, unnest(range(1, len(l) + 1)) AS i FROM tokl WHERE bk >= 2000),
         |tctx AS (SELECT l[i] AS w,
         |           CASE WHEN i >= 2 THEN l[i-1] END AS b,
         |           CASE WHEN i >= 3 THEN l[i-2] END AS a FROM tpos),
         |uni AS (SELECT w, count(*) AS c FROM tctx GROUP BY w),
         |bi  AS (SELECT b, w, count(*) AS c FROM tctx WHERE b IS NOT NULL GROUP BY b, w),
         |tri AS (SELECT a, b, w, count(*) AS c FROM tctx WHERE a IS NOT NULL GROUP BY a, b, w),
         |nn AS (SELECT count(*)::double AS n FROM tctx),
         |spos AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM tokl),
         |sctx AS (SELECT doc_id, i - 1 AS pos, l[i] AS w,
         |           CASE WHEN i >= 2 THEN l[i-1] END AS b,
         |           CASE WHEN i >= 3 THEN l[i-2] END AS a FROM spos),
         |sc AS (
         |  SELECT s.doc_id, s.pos, s.w,
         |    t3.c AS c3, d3.c AS c3d, b2.c AS c2, u2.c AS c2d, u1.c AS c1
         |  FROM sctx s
         |  LEFT JOIN tri t3 ON s.a = t3.a AND s.b = t3.b AND s.w = t3.w
         |  LEFT JOIN bi d3 ON s.a = d3.b AND s.b = d3.w
         |  LEFT JOIN bi b2 ON s.b = b2.b AND s.w = b2.w
         |  LEFT JOIN uni u2 ON s.b = u2.w
         |  LEFT JOIN uni u1 ON s.w = u1.w),
         |lsq AS (
         |  SELECT doc_id, pos,
         |    CASE
         |      WHEN pos >= 2 AND c3 IS NOT NULL THEN ln(c3::double / c3d::double)
         |      WHEN pos >= 2 AND c2 IS NOT NULL THEN (${LanguageModel.lnAlphaSql}) + ln(c2::double / c2d::double)
         |      WHEN pos >= 2 AND c1 IS NOT NULL THEN (${LanguageModel.lnAlphaSql}) + (${LanguageModel.lnAlphaSql}) + ln(c1::double / n)
         |      WHEN pos >= 2 THEN (${LanguageModel.lnAlphaSql}) + (${LanguageModel.lnAlphaSql}) + ln(1.0 / n)
         |      WHEN pos = 1 AND c2 IS NOT NULL THEN ln(c2::double / c2d::double)
         |      WHEN pos = 1 AND c1 IS NOT NULL THEN (${LanguageModel.lnAlphaSql}) + ln(c1::double / n)
         |      WHEN pos = 1 THEN (${LanguageModel.lnAlphaSql}) + ln(1.0 / n)
         |      WHEN c1 IS NOT NULL THEN ln(c1::double / n)
         |      ELSE ln(1.0 / n)
         |    END AS ls
         |  FROM sc CROSS JOIN nn),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS n_tokens, sum(ls ORDER BY pos) AS lp
         |  FROM lsq GROUP BY doc_id),
         |lmscore AS (
         |  SELECT t.doc_id,
         |    CASE WHEN p.n_tokens > 0 THEN round(p.lp / p.n_tokens, 6) END AS avg_logprob
         |  FROM tokl t LEFT JOIN perdoc p USING (doc_id)),
         |rawlines AS (
         |  SELECT doc_id, unnest(string_split(text, chr(10))) AS rl FROM documents),
         |nl AS (
         |  SELECT doc_id, trim(regexp_replace(lower(rl), '\\s+', ' ', 'g')) AS nrl FROM rawlines),
         |per_line AS (
         |  SELECT doc_id, nrl, count(*) AS c, length(nrl) AS len
         |  FROM nl WHERE nrl <> '' GROUP BY doc_id, nrl),
         |line_stats AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
         |         count(*) AS n_distinct,
         |         CAST(sum(c*len) AS BIGINT) AS chars_total,
         |         CAST(sum(len) AS BIGINT) AS chars_distinct
         |  FROM per_line GROUP BY doc_id),
         |big AS (
         |  SELECT doc_id, length(nrm) AS normlen, l[i] || ' ' || l[i+1] AS b
         |  FROM tokl, unnest(range(1, len(l))) AS r(i)
         |  WHERE len(l) >= 2 AND nrm <> ''),
         |counted AS (SELECT doc_id, normlen, b, count(*) AS c FROM big GROUP BY doc_id, normlen, b),
         |winner AS (
         |  SELECT doc_id, round(c * length(b) * 1.0 / normlen, 6) AS f,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, length(b) DESC, b ASC) AS rn
         |  FROM counted),
         |rep AS (
         |  SELECT d.doc_id,
         |    round(CASE WHEN coalesce(ls.n_lines, 0) = 0 THEN 0.0
         |               ELSE 1.0 - ls.n_distinct * 1.0 / ls.n_lines END, 6) AS dup_line_frac,
         |    round(CASE WHEN coalesce(ls.chars_total, 0) = 0 THEN 0.0
         |               ELSE 1.0 - ls.chars_distinct * 1.0 / ls.chars_total END, 6) AS dup_line_char_frac,
         |    coalesce(w.f, 0.0) AS top_bigram_char_frac
         |  FROM documents d
         |  LEFT JOIN line_stats ls USING (doc_id)
         |  LEFT JOIN (SELECT doc_id, f FROM winner WHERE rn = 1) w USING (doc_id)),
         |rules AS (
         |  SELECT doc_id,
         |    CAST(len(l) AS BIGINT) AS n_words,
         |    round(CASE WHEN len(l) = 0 THEN 0.0
         |               ELSE (length(nrm) - (len(l) - 1)) * 1.0 / len(l) END, 6) AS mean_word_len,
         |    round(CASE WHEN len(l) = 0 THEN 0.0
         |               ELSE len(list_filter(l, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(l) END, 6) AS alpha_word_frac,
         |    round(CASE WHEN len(l) = 0 THEN 0.0
         |               ELSE ((length(nrm) - length(replace(nrm, '#', '')))
         |                     + len(regexp_extract_all(nrm, '\\.\\.\\.'))) * 1.0 / len(l) END, 6) AS symbol_word_ratio,
         |    CAST(len(list_intersect(list_distinct(l),
         |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits
         |  FROM tokl),
         |v AS (
         |  SELECT r.doc_id, r.n_words, r.mean_word_len, r.alpha_word_frac,
         |    r.symbol_word_ratio, r.n_stop_hits,
         |    p.dup_line_frac, p.dup_line_char_frac, p.top_bigram_char_frac,
         |    s.avg_logprob,
         |    (CASE WHEN r.n_words < 20 OR r.n_words > 100000 THEN 1 ELSE 0 END
         |     + CASE WHEN r.mean_word_len < 3.0 OR r.mean_word_len > 10.0 THEN 1 ELSE 0 END
         |     + CASE WHEN r.alpha_word_frac < 0.8 THEN 1 ELSE 0 END
         |     + CASE WHEN r.symbol_word_ratio > 0.1 THEN 1 ELSE 0 END
         |     + CASE WHEN r.n_stop_hits < 1 THEN 1 ELSE 0 END
         |     + CASE WHEN p.dup_line_frac > 0.3 THEN 1 ELSE 0 END
         |     + CASE WHEN p.dup_line_char_frac > 0.2 THEN 1 ELSE 0 END
         |     + CASE WHEN p.top_bigram_char_frac > 0.1 THEN 1 ELSE 0 END
         |     + CASE WHEN s.avg_logprob IS NULL OR NOT (s.avg_logprob >= -2.9) THEN 1 ELSE 0 END
         |    ) AS n_failed
         |  FROM rules r JOIN rep p USING (doc_id) JOIN lmscore s USING (doc_id))
         |SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
         |  symbol_word_ratio, n_stop_hits, dup_line_frac, dup_line_char_frac,
         |  top_bigram_char_frac, avg_logprob,
         |  CAST(n_failed AS BIGINT) AS n_failed, n_failed = 0 AS keep
         |FROM v
         |ORDER BY doc_id""".stripMargin,

    "bm25_ranking" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
        |  FROM documents
        |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''),
        |per AS (
        |  SELECT doc_id, count(*) AS dl,
        |    sum(CASE WHEN t = 'join' THEN 1 ELSE 0 END) AS tf0,
        |    sum(CASE WHEN t = 'vector' THEN 1 ELSE 0 END) AS tf1,
        |    sum(CASE WHEN t = 'merge' THEN 1 ELSE 0 END) AS tf2
        |  FROM tok GROUP BY doc_id),
        |g AS (
        |  SELECT count(*) AS nd, sum(dl) AS sdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM per)
        |SELECT doc_id, round(
        |    ln((nd - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf0 AS DOUBLE) * 2.2)
        |      / (CAST(tf0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / nd)))
        |  + ln((nd - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf1 AS DOUBLE) * 2.2)
        |      / (CAST(tf1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / nd)))
        |  + ln((nd - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(tf2 AS DOUBLE) * 2.2)
        |      / (CAST(tf2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / nd)))
        |  , 4) AS bm25
        |FROM per, g
        |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin,

    "repetition_profile" ->
      """WITH rawlines AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents
        |),
        |nl AS (
        |  SELECT doc_id, trim(regexp_replace(lower(l), '\s+', ' ', 'g')) AS l FROM rawlines
        |),
        |per_line AS (
        |  SELECT doc_id, l, count(*) AS c, length(l) AS len
        |  FROM nl WHERE l <> '' GROUP BY doc_id, l
        |),
        |line_stats AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |         count(*) AS n_distinct,
        |         CAST(sum(c*len) AS BIGINT) AS chars_total,
        |         CAST(sum(len) AS BIGINT) AS chars_distinct
        |  FROM per_line GROUP BY doc_id
        |),
        |toks AS (
        |  SELECT doc_id,
        |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t,
        |         length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS normlen
        |  FROM documents
        |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''
        |),
        |big AS (
        |  SELECT doc_id, normlen, t[i] || ' ' || t[i+1] AS b
        |  FROM toks, unnest(range(1, len(t))) AS r(i)
        |  WHERE len(t) >= 2
        |),
        |counted AS (SELECT doc_id, normlen, b, count(*) AS c FROM big GROUP BY doc_id, normlen, b),
        |winner AS (
        |  SELECT doc_id, round(c * length(b) * 1.0 / normlen, 6) AS f,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, length(b) DESC, b ASC) AS rn
        |  FROM counted
        |)
        |SELECT d.doc_id,
        |  coalesce(ls.n_lines, 0) AS n_lines,
        |  round(CASE WHEN coalesce(ls.n_lines, 0) = 0 THEN 0.0
        |             ELSE 1.0 - ls.n_distinct * 1.0 / ls.n_lines END, 6) AS dup_line_frac,
        |  round(CASE WHEN coalesce(ls.chars_total, 0) = 0 THEN 0.0
        |             ELSE 1.0 - ls.chars_distinct * 1.0 / ls.chars_total END, 6) AS dup_line_char_frac,
        |  coalesce(w.f, 0.0) AS top_bigram_char_frac
        |FROM documents d
        |LEFT JOIN line_stats ls USING (doc_id)
        |LEFT JOIN (SELECT doc_id, f FROM winner WHERE rn = 1) w USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "winnow_profile" -> winnowOracleSql,

    "quality_by_lang" ->
      s"""SELECT ${oracleLangExpr("text")} AS pred_lang,
         |  count(*) AS n_docs,
         |  round(avg(${oracleQualityExpr("text")}), 4) AS avg_quality
         |FROM documents
         |WHERE ${oracleQualityExpr("text")} >= 0.5
         |GROUP BY 1
         |ORDER BY pred_lang""".stripMargin,

    "orders_above_customer_avg" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM (SELECT o_orderpriority, o_totalprice,
        |        avg(o_totalprice) OVER (PARTITION BY o_custkey) AS avg_p
        |      FROM orders)
        |WHERE o_totalprice > avg_p
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "dedup_exact_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |WHERE o_orderkey IN (SELECT min(o_orderkey) FROM orders
        |                     GROUP BY o_custkey, o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin,

    "dedup_exact_keep" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents
        |  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
        |ORDER BY doc_id""".stripMargin,

    // Same planting, then group on the fold-chain + whitespace-normalized
    // text (the fold chain generated from the impl's constants).
    "dedup_exact_folded" -> {
      import graft.functions.TextFunctions.foldAccentsSql
      s"""WITH uni AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000 AS doc_id, translate(text, 'aeo', 'áéö')
         |  FROM documents WHERE doc_id % 4 = 1),
         |keyed AS (
         |  SELECT doc_id, ${oracleNormExpr(foldAccentsSql("text"))} AS norm
         |  FROM uni),
         |sel AS (SELECT min(doc_id) AS keep_id FROM keyed GROUP BY norm)
         |SELECT count(*) AS n_kept,
         |  CAST(sum(keep_id) AS BIGINT) AS kept_id_sum FROM sel""".stripMargin
    },

    "knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |           WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qe::DOUBLE[], ce::DOUBLE[]) AS cos_raw
        |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine,
        |  CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "embedding_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-12) / 127.0 AS scale
        |  FROM embeddings)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(list_cosine_similarity(v,
        |    list_transform(v, x -> round(x / scale) * scale)), 4) AS cos_rt
        |FROM q ORDER BY vec_id""".stripMargin,

    "multimodal_bytes" ->
      """SELECT doc_id AS media_id, 'image' AS kind,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes
        |FROM documents
        |ORDER BY media_id""".stripMargin,

    // Decoded-image stats recomputed from the closed-form pixel function
    // (pixel channels are (doc_id·a + x·b + y·c) mod 256; width/height
    // derive from doc_id). generate_series can't take correlated bounds
    // in DuckDB, so the grid is generated at max size (width ≤ 79,
    // height ≤ 63) and filtered per document.
    "multimodal_decode" ->
      """SELECT d.doc_id AS media_id,
        |  CAST((d.doc_id % 64) + 16 AS INT) AS width,
        |  CAST((d.doc_id % 48) + 16 AS INT) AS height,
        |  CAST(sum((d.doc_id*7 + x.x*19 + y.y*23) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((d.doc_id*5 + x.x*13 + y.y*17) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((d.doc_id*3 + x.x*7  + y.y*11) % 256) AS BIGINT) AS sum_b
        |FROM documents d, generate_series(0, 78) x(x), generate_series(0, 62) y(y)
        |WHERE x.x < (d.doc_id % 64) + 16 AND y.y < (d.doc_id % 48) + 16
        |GROUP BY 1, 2, 3
        |ORDER BY media_id""".stripMargin,

    // 8×8 nearest-neighbor resize: source pixel = floor(x·W/8), floor(y·H/8).
    "multimodal_resize" ->
      """SELECT d.doc_id AS media_id,
        |  CAST(8 AS INT) AS width,
        |  CAST(8 AS INT) AS height,
        |  CAST(sum((d.doc_id*7 + ((x.x * ((d.doc_id % 64) + 16)) // 8)*19
        |          + ((y.y * ((d.doc_id % 48) + 16)) // 8)*23) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((d.doc_id*5 + ((x.x * ((d.doc_id % 64) + 16)) // 8)*13
        |          + ((y.y * ((d.doc_id % 48) + 16)) // 8)*17) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((d.doc_id*3 + ((x.x * ((d.doc_id % 64) + 16)) // 8)*7
        |          + ((y.y * ((d.doc_id % 48) + 16)) // 8)*11) % 256) AS BIGINT) AS sum_b
        |FROM documents d, generate_series(0, 7) x(x), generate_series(0, 7) y(y)
        |GROUP BY 1, 2, 3
        |ORDER BY media_id""".stripMargin,

    // Decoded-audio stats recomputed from the closed-form sample function
    // sample(i) = (doc_id·131 + i·97) mod 2001 − 1000, n = doc_id%800+200.
    "multimodal_audio" ->
      """SELECT d.doc_id AS media_id,
        |  CAST(8000 AS INT) AS sample_rate,
        |  CAST((d.doc_id % 800) + 200 AS BIGINT) AS n_samples,
        |  CAST(sum(abs((d.doc_id*131 + i.i*97) % 2001 - 1000)) AS BIGINT) AS sum_abs,
        |  CAST(max(abs((d.doc_id*131 + i.i*97) % 2001 - 1000)) AS INT) AS peak
        |FROM documents d, generate_series(0, 999) i(i)
        |WHERE i.i < (d.doc_id % 800) + 200
        |GROUP BY 1, 2, 3
        |ORDER BY media_id""".stripMargin,

    "multimodal_frames" ->
      """SELECT doc_id AS media_id,
        |  count(*) AS n_frames
        |FROM documents,
        |  LATERAL unnest(range(0, (greatest(octet_length(encode(text)) - 1, 0) // 64) + 1)) AS t(frame_idx)
        |WHERE frame_idx % 2 = 0
        |GROUP BY doc_id
        |ORDER BY media_id""".stripMargin,

    // Per-frame decoded video stats recomputed from the closed-form pixel
    // function (channels are (doc_id·a + frame·b + x·c + y·d) mod 256;
    // frame count / dimensions derive from doc_id; every 2nd frame kept).
    "multimodal_video" ->
      """SELECT d.doc_id AS media_id,
        |  CAST(f.f AS INT) AS frame_idx,
        |  CAST((d.doc_id % 16) + 8 AS INT) AS width,
        |  CAST((d.doc_id % 12) + 8 AS INT) AS height,
        |  CAST(sum((d.doc_id*7 + f.f*37 + x.x*19 + y.y*23) % 256) AS BIGINT) AS sum_r,
        |  CAST(sum((d.doc_id*5 + f.f*31 + x.x*13 + y.y*17) % 256) AS BIGINT) AS sum_g,
        |  CAST(sum((d.doc_id*3 + f.f*29 + x.x*7  + y.y*11) % 256) AS BIGINT) AS sum_b
        |FROM documents d, generate_series(0, 4) f(f),
        |  generate_series(0, 22) x(x), generate_series(0, 18) y(y)
        |WHERE f.f < (d.doc_id % 4) + 2 AND f.f % 2 = 0
        |  AND x.x < (d.doc_id % 16) + 8 AND y.y < (d.doc_id % 12) + 8
        |GROUP BY 1, 2, 3, 4
        |ORDER BY media_id, frame_idx""".stripMargin,

    "events_tumbling_15m" ->
      """SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value,
        |  round(avg(value), 6) AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,

    "streaming_dedup_count" ->
      """SELECT count(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
        |  AS n_unique
        |FROM documents""".stripMargin,

    // Independent recomputation of the watermark machinery: Spark tracks
    // max event time in FLOOR MILLISECONDS (EventTimeStats), so the
    // watermark mirrors date_trunc to ms; a batch-2 row is dropped iff
    // its window closed under wm1 = ms(max batch-1 ts) − 30 min, and a
    // (window, type) group is emitted iff the final watermark passed its
    // end. All three outputs — emitted window count, emitted row mass,
    // and the engine's numRowsDroppedByWatermark — must match.
    "streaming_late_counts" ->
      """WITH b1 AS (SELECT * FROM events WHERE event_id % 2 = 0),
        |b2 AS (SELECT * FROM events WHERE event_id % 2 = 1),
        |wm1 AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '30 minutes' AS w FROM b1),
        |wmf AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '30 minutes' AS w FROM events),
        |live AS (
        |  SELECT * FROM b1
        |  UNION ALL
        |  SELECT * FROM b2
        |  WHERE NOT (time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes'
        |             <= (SELECT w FROM wm1))),
        |emitted AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts) AS ws, event_type, count(*) AS n
        |  FROM live
        |  WHERE time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes'
        |        <= (SELECT w FROM wmf)
        |  GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_events,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT DISTINCT time_bucket(INTERVAL '15 minutes', ts), event_type
        |     FROM b2
        |     WHERE time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes'
        |           <= (SELECT w FROM wm1))) AS n_dropped_late
        |FROM emitted""".stripMargin,

    // Streaming path must equal the batch aggregation exactly — same SQL.
    "events_tumbling_streaming" ->
      """SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP) AS window_start,
        |  event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value,
        |  round(avg(value), 6) AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin,

    "asof_purchase_click" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts, event_id AS click_id, value AS click_value
        |  FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts
        |    ORDER BY click_id DESC, click_value DESC) = 1)
        |SELECT p.event_id, p.user_id, p.ts, p.value, c.click_id, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // Sliding 30m/15m: every event lands in exactly two 15m-aligned
    // window starts (epoch-aligned in both engines).
    "events_sliding_30m" ->
      """WITH b AS (
        |  SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP) AS bk,
        |         event_type, value
        |  FROM events),
        |expanded AS (
        |  SELECT bk AS window_start, event_type, value FROM b
        |  UNION ALL
        |  SELECT bk - INTERVAL '15 minutes', event_type, value FROM b)
        |SELECT window_start, event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM expanded
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    // Streaming path must equal the batch sliding aggregation — same SQL.
    "events_sliding_streaming" ->
      """WITH b AS (
        |  SELECT CAST(time_bucket(INTERVAL '15 minutes', ts) AS TIMESTAMP) AS bk,
        |         event_type, value
        |  FROM events),
        |expanded AS (
        |  SELECT bk AS window_start, event_type, value FROM b
        |  UNION ALL
        |  SELECT bk - INTERVAL '15 minutes', event_type, value FROM b)
        |SELECT window_start, event_type, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value
        |FROM expanded
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    // Full recomputation of the TTL-dedup contract: run-1 emits min id
    // per key; run-2's visible rows are those the watermark filter keeps
    // (ts >= wm1); a key re-emits iff unseen OR its state timed out
    // (wm1 strictly beyond ms-floored last-seen + retention, fired by
    // run-1's trailing no-data batch). The checksum pins the exact ids.
    "streaming_dedup_ttl" ->
      """WITH b1 AS (SELECT * FROM events WHERE event_id % 2 = 0),
        |b2 AS (SELECT * FROM events WHERE event_id % 2 = 1),
        |wm1 AS (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL '30 minutes' AS w FROM b1),
        |s1 AS (
        |  SELECT user_id, event_type, min(event_id) AS eid,
        |         date_trunc('milliseconds', max(ts)) AS mx
        |  FROM b1 GROUP BY 1, 2),
        |v2 AS (SELECT * FROM b2 WHERE ts >= (SELECT w FROM wm1)),
        |s2 AS (SELECT user_id, event_type, min(event_id) AS eid FROM v2 GROUP BY 1, 2),
        |r2 AS (
        |  SELECT s2.user_id, s2.event_type, s2.eid
        |  FROM s2 LEFT JOIN s1 USING (user_id, event_type)
        |  WHERE s1.eid IS NULL
        |     OR (SELECT w FROM wm1) > s1.mx + INTERVAL '3 days'),
        |em AS (
        |  SELECT user_id, event_type, eid FROM s1
        |  UNION ALL
        |  SELECT user_id, event_type, eid FROM r2)
        |SELECT CAST(count(*) AS BIGINT) AS n_emitted,
        |  CAST(count(DISTINCT CAST(user_id AS VARCHAR) || chr(1) || event_type) AS BIGINT)
        |    AS n_keys,
        |  CAST(coalesce(sum(eid), 0) AS BIGINT) AS id_checksum,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b2
        |   WHERE ts < (SELECT w FROM wm1)) AS n_late_rows
        |FROM em""".stripMargin,

    // Gap-based sessionization: new session when the gap to the previous
    // event is >= 5 minutes (Spark merges only strictly-overlapping
    // [ts, ts+gap) intervals); session_end = last ts + gap.
    "events_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              < INTERVAL '5 minutes' THEN 0 ELSE 1 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) AS TIMESTAMP) + INTERVAL '5 minutes' AS session_end,
        |  user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // Identical oracle to events_sessions — that equality IS the parity
    // claim for the streaming path.
    "events_sessions_streaming" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              < INTERVAL '5 minutes' THEN 0 ELSE 1 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e)
        |SELECT CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) AS TIMESTAMP) + INTERVAL '5 minutes' AS session_end,
        |  user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "events_json_stats" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k,
        |  round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
  )

  /** recall@k gate: fraction of exact top-k pairs the approximate path
    * found, compared against a pinned floor. Output (recall_ok boolean,
    * n_queries bigint) is oracle-comparable: the floor assertion travels
    * in the Spark result, the query count anchors both sides. */
  private def recallGate(exact: DataFrame, approx: DataFrame, floor: Double): DataFrame = {
    val flagged = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id").withColumn("__hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
    flagged.agg(
      (sum(coalesce(col("__hit"), lit(0))).cast("double") / count(lit(1)) >= floor)
        .as("recall_ok"),
      countDistinct(col("query_id")).as("n_queries"))
  }

  /** Scratch parquet path for an ETL lifecycle query, unique per SF dir. */
  private def etlScratch(dir: String, name: String): String =
    s"/tmp/graft_etl/${name}_${etlSuffix(dir)}"

  /** Reset a scratch catalog table: drop it AND remove its warehouse
    * location — a fresh session's in-memory catalog doesn't know about a
    * previous run's table, so DROP alone leaves the directory behind and
    * saveAsTable fails with LOCATION_ALREADY_EXISTS. */
  private def etlResetTable(s: SparkSession, tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val p = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), tbl.toLowerCase)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private def etlSuffix(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9]", "_")

  /** Shared oracle for decontaminate_by_source AND its artifact-reuse
    * twin decontaminate_from_report: the report persist/re-read detour
    * must be invisible in the result, so one from-raw-text SQL gates
    * both (winnow/strike pipeline + per-source rollup). */
  private def deconBySourceSql: String =
    s"""WITH tnorm AS (
       |  SELECT doc_id, ${oracleNormExpr("text")} AS norm FROM documents),
       |bsel AS (
       |  SELECT doc_id, substr(text, 40, 400) AS t FROM documents
       |  WHERE ${Sampling.bucketSql("doc_id", 17L)} < 300),
       |bnorm AS (SELECT doc_id, ${oracleNormExpr("t")} AS norm FROM bsel),
       |${winnowSelCtes("tnorm", "t_")},
       |${winnowSelCtes("bnorm", "b_")},
       |rare AS (SELECT wmin FROM t_sel GROUP BY wmin HAVING count(*) <= 100),
       |pairs AS (
       |  SELECT t.doc_id AS train_id
       |  FROM b_sel b JOIN t_sel t ON b.wmin = t.wmin
       |  JOIN rare r ON b.wmin = r.wmin
       |  GROUP BY b.doc_id, t.doc_id HAVING count(*) >= 2),
       |flagged AS (SELECT DISTINCT train_id FROM pairs),
       |kept AS (
       |  SELECT d.source, d.doc_id, ${oracleNormExpr("d.text")} AS norm
       |  FROM documents d
       |  WHERE d.doc_id NOT IN (SELECT train_id FROM flagged)),
       |ks AS (
       |  SELECT source, count(*) AS n_kept,
       |    CAST(sum(CASE WHEN norm = '' THEN 0
       |                  ELSE len(string_split(norm, ' ')) END) AS BIGINT) AS kept_tokens
       |  FROM kept GROUP BY 1),
       |ts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
       |SELECT t.source, t.n_docs,
       |  t.n_docs - CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_struck,
       |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
       |FROM ts t LEFT JOIN ks k USING (source)
       |ORDER BY source""".stripMargin

  /** Target lang mixture shared by the mixture_* queries and their
    * oracles (en is ~2× overweight in the fixture, so it downsamples
    * while the rest keep (near-)full). */
  private val MixtureShares = Seq(
    "en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  /** DuckDB twin of the mixture target-share CASE, kept beside the data
    * so query and oracle cannot drift. */
  private def mixtureCaseSql(c: String): String =
    "CAST(CASE " +
      MixtureShares.map { case (k, v) => s"WHEN $c = '$k' THEN $v" }.mkString(" ") +
      " ELSE 0.0 END AS DOUBLE)"

  /** Shared oracle for dedup_keep_best AND its artifact-reuse twin
    * dedup_keep_best_from_report: the word-trigram all-pairs Jaccard
    * ground truth, the recursive-CTE transitive closure, the quality
    * score, and the per-cluster argmax — all recomputed from raw text. */
  private def keepBestSql: String =
    s"""WITH RECURSIVE tok AS (
       |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
       |  FROM documents),
       |pos AS (
       |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
       |grams AS (
       |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM pos),
       |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE i::double / (sa.n + sb.n - i) >= 0.6),
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach(s, t) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.s, e.v FROM reach r JOIN edges e ON r.t = e.u),
       |comp AS (SELECT s AS doc_id, least(min(t), s) AS cluster FROM reach GROUP BY s),
       |q AS (
       |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster,
       |    ${oracleQualityExpr("d.text")} AS quality
       |  FROM documents d LEFT JOIN comp c USING (doc_id)),
       |r AS (
       |  SELECT doc_id, cluster, quality,
       |    row_number() OVER (PARTITION BY cluster
       |                       ORDER BY quality DESC, doc_id ASC) AS rn
       |  FROM q)
       |SELECT doc_id, cluster, quality, rn = 1 AS keep
       |FROM r ORDER BY doc_id""".stripMargin

  // --- DuckDB expression builders for the text oracle (kept in one place
  // so the Spark implementation in TextFunctions and this SQL stay in
  // lockstep; both are exercised by the driver compare).

  private def dq(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Shared by `sketch_store` and `sketch_store_streaming`: the batch
    * and streaming stores merge to the SAME estimates (union of
    * sketches = sketch of the union), so one exact-count oracle gates
    * both. */
  private val sketchStoreOracleSql: String =
    """WITH tok AS (
      |  SELECT lang,
      |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
      |  FROM documents
      |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> '')
      |SELECT lang, count(DISTINCT t) AS n_exact, true AS est_ok
      |FROM tok GROUP BY lang ORDER BY lang""".stripMargin

  private def oracleTokensExpr(c: String): String =
    s"string_split(trim(regexp_replace(lower($c), '\\s+', ' ', 'g')), ' ')"

  /** Winnowing fingerprint CTE chain (k=8, w=16, B=257, M=1e9+7) over a
    * source CTE `src` exposing (doc_id, norm). Emits four CTE bodies
    * prefixed `p`; `${p}sel` is the distinct (doc_id, wmin) fingerprint
    * set — the same selection `TextAnalysis.winnowFingerprints` makes.
    * Shared by the winnow_profile and passage_overlap oracles. */
  private def winnowSelCtes(src: String, p: String): String = {
    val M = 1000000007L; val B = 257L; val k = 8; val w = 16
    val pows = Array.fill(k)(1L)
    for (j <- k - 2 to 0 by -1) pows(j) = pows(j + 1) * B % M
    val terms = pows.zipWithIndex.map { case (pw, j) =>
      s"CAST(unicode(substr(norm, CAST(i + $j AS INT), 1)) AS BIGINT) * $pw"
    }.mkString(" + ")
    s"""${p}sized AS (SELECT doc_id, norm, length(norm) AS n FROM $src),
       |${p}grams AS (
       |  SELECT doc_id, i, n - ${k - 1} AS nh, ($terms) % $M AS h
       |  FROM ${p}sized, unnest(range(1, n - ${k - 2})) r(i) WHERE n >= $k),
       |${p}wins AS (
       |  SELECT doc_id, i, nh,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin
       |  FROM ${p}grams),
       |${p}sel AS (SELECT DISTINCT doc_id, wmin FROM ${p}wins
       |            WHERE i <= greatest(nh - ${w - 1}, 1))""".stripMargin
  }

  /** All-pairs trigram-Jaccard ground truth at threshold 0.6 — the
    * oracle shared by `dedup_minhash_pairs` (hand-tuned 32/16) and
    * `minhash_autotuned` (S-curve tuner): both LSH configs must emit
    * exactly this set (precision 1 via exact verify, recall 1 on the
    * fixture). */
  private val minhashGroundTruthSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS i FROM tok),
      |grams AS (
      |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g FROM pos),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM grams a JOIN grams b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b, round(i::double / (sa.n + sb.n - i), 4) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      |WHERE i::double / (sa.n + sb.n - i) >= 0.6
      |ORDER BY id_a, id_b""".stripMargin

  /** Chunk→pack recomputation shared by `chunk_pack_pipeline` and its
    * streaming twin `chunk_pack_streaming` (identical batch SQL — the
    * per-shard state carry must be invisible): 40/8 window boundaries,
    * chunk_key = doc_id·1000 + chunk_id, shard = key % 8, running-sum
    * pack assignment cb // 256 in chunk_key order. */
  private val chunkPackOracleSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      |  FROM documents
      |  WHERE trim(regexp_replace(lower(text), '\s+', ' ', 'g')) <> ''),
      |sized AS (
      |  SELECT doc_id, toks, len(toks) AS n,
      |    CASE WHEN len(toks) <= 40 THEN 1 ELSE (len(toks) - 8 + 31) // 32 END AS nc
      |  FROM tok WHERE len(toks) > 0),
      |chunks AS (
      |  SELECT doc_id, toks, n, unnest(generate_series(0, nc - 1)) AS chunk_id
      |  FROM sized),
      |ck AS (
      |  SELECT doc_id * 1000 + chunk_id AS chunk_key,
      |    len(list_slice(toks, chunk_id * 32 + 1, least(chunk_id * 32 + 40, n))) AS n_tokens
      |  FROM chunks),
      |cum AS (
      |  SELECT chunk_key % 8 AS shard, chunk_key, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY chunk_key % 8 ORDER BY chunk_key
      |      ROWS UNBOUNDED PRECEDING) - n_tokens AS cb
      |  FROM ck)
      |SELECT shard, CAST(cb // 256 AS BIGINT) AS pack_id,
      |  count(*) AS n_chunks, sum(n_tokens)::BIGINT AS pack_tokens
      |FROM cum GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin

  /** Strike audit shared by `containment_strike` and its artifact-reuse
    * twin — detection CTEs from [[containmentCtes]]. */
  private def containmentStrikeOracleSql: String =
    s"""WITH $containmentCtes,
       |struck AS (SELECT DISTINCT inner_id FROM flagged)
       |SELECT count(*) AS n_kept,
       |  CAST(sum(u.doc_id) AS BIGINT) AS kept_id_sum,
       |  CAST(sum(length(u.text)) AS BIGINT) AS kept_chars
       |FROM uni u LEFT JOIN struck s ON u.doc_id = s.inner_id
       |WHERE s.inner_id IS NULL""".stripMargin

  /** Containment-dedup CTE chain shared by the `containment_pairs` and
    * `containment_strike` oracles (so the detection semantics cannot
    * drift between report and action): excerpt-planted union, winnow
    * fingerprints, df <= 100 boilerplate guard on numerator AND
    * denominator, >= 5 kept-fp floor, pair overlaps, the integer
    * cross-multiplied 80% threshold, and shorter→longer orientation
    * with id tiebreak. Ends with CTE `flagged`
    * (inner_id, outer_id, kept_fp, overlap_fp). */
  private def containmentCtes: String =
    s"""uni AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, substr(text, 30, 300) AS text
       |  FROM documents WHERE ${Sampling.bucketSql("doc_id", 23L)} < 200),
       |base AS (SELECT doc_id, ${oracleNormExpr("text")} AS norm FROM uni),
       |${winnowSelCtes("base", "c_")},
       |rare AS (SELECT wmin FROM c_sel GROUP BY wmin HAVING count(*) <= 100),
       |kept AS (SELECT s.doc_id, s.wmin FROM c_sel s JOIN rare USING (wmin)),
       |ksz AS (SELECT doc_id, count(*) AS kept_fp FROM kept
       |        GROUP BY doc_id HAVING count(*) >= 5),
       |gr AS (SELECT doc_id, greatest(n - 7, 0) AS n_grams FROM c_sized),
       |ov AS (SELECT a.doc_id AS inner_id, b.doc_id AS outer_id,
       |         count(*) AS overlap_fp
       |       FROM kept a JOIN kept b USING (wmin)
       |       WHERE a.doc_id <> b.doc_id GROUP BY 1, 2),
       |flagged AS (
       |  SELECT o.inner_id, o.outer_id, ks.kept_fp, o.overlap_fp
       |  FROM ov o
       |  JOIN ksz ks ON ks.doc_id = o.inner_id
       |  JOIN gr gi ON gi.doc_id = o.inner_id
       |  JOIN gr go ON go.doc_id = o.outer_id
       |  WHERE o.overlap_fp * 100 >= ks.kept_fp * 80
       |    AND (gi.n_grams < go.n_grams
       |      OR (gi.n_grams = go.n_grams AND o.inner_id < o.outer_id)))""".stripMargin

  /** DuckDB recomputation of `TextAnalysis.winnowFingerprints` (k=8,
    * w=16, B=257, M=1e9+7): same power constants, same window-min
    * selection; summarized as (count, sum, min, max) of the set. */
  private def winnowOracleSql: String = {
    val M = 1000000007L; val B = 257L; val k = 8; val w = 16
    val pows = Array.fill(k)(1L)
    for (j <- k - 2 to 0 by -1) pows(j) = pows(j + 1) * B % M
    val terms = pows.zipWithIndex.map { case (p, j) =>
      s"CAST(unicode(substr(norm, CAST(i + $j AS INT), 1)) AS BIGINT) * $p"
    }.mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents
       |),
       |sized AS (SELECT doc_id, norm, length(norm) AS n FROM base),
       |grams AS (
       |  SELECT doc_id, i, n - ${k - 1} AS nh, ($terms) % $M AS h
       |  FROM sized, unnest(range(1, n - ${k - 2})) r(i) WHERE n >= $k
       |),
       |wins AS (
       |  SELECT doc_id, i, nh,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS wmin
       |  FROM grams
       |),
       |sel AS (SELECT DISTINCT doc_id, wmin FROM wins WHERE i <= greatest(nh - ${w - 1}, 1)),
       |fp AS (
       |  SELECT doc_id, count(*) AS n_fp, CAST(sum(wmin) AS BIGINT) AS fp_sum,
       |         min(wmin) AS fp_min, max(wmin) AS fp_max
       |  FROM sel GROUP BY doc_id
       |),
       |ng AS (SELECT doc_id, CAST(greatest(n - ${k - 1}, 0) AS BIGINT) AS n_grams FROM sized)
       |SELECT d.doc_id, ng.n_grams,
       |  coalesce(fp.n_fp, 0) AS n_fp, coalesce(fp.fp_sum, 0) AS fp_sum,
       |  coalesce(fp.fp_min, 0) AS fp_min, coalesce(fp.fp_max, 0) AS fp_max
       |FROM documents d JOIN ng USING (doc_id) LEFT JOIN fp USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  private def oracleLangExpr(c: String): String = {
    import graft.functions.TextFunctions._
    def hits(ws: Seq[String]) =
      s"len(list_filter(${oracleTokensExpr(c)}, x -> list_contains(${dq(ws)}, x)))"
    s"""CASE
       |  WHEN len(regexp_extract_all($c, '[\u4e00-\u9fff]')) > 0 THEN 'zh'
       |  WHEN ${hits(StopwordsEn)} >= ${hits(StopwordsDe)}
       |   AND ${hits(StopwordsEn)} >= ${hits(StopwordsFr)}
       |   AND ${hits(StopwordsEn)} >= ${hits(StopwordsEs)} THEN 'en'
       |  WHEN ${hits(StopwordsDe)} >= ${hits(StopwordsFr)}
       |   AND ${hits(StopwordsDe)} >= ${hits(StopwordsEs)} THEN 'de'
       |  WHEN ${hits(StopwordsFr)} >= ${hits(StopwordsEs)} THEN 'fr'
       |  ELSE 'es' END""".stripMargin
  }

  private def oracleNormExpr(c: String): String =
    s"trim(regexp_replace(lower($c), '\\s+', ' ', 'g'))"

  /** Shared by `line_rules` and `line_rules_streaming` — streaming
    * parity is asserted with the identical batch SQL. */
  private val lineRulesOracleSql: String =
    """WITH planted AS (
      |  SELECT doc_id,
      |    substr(text, 1, 40) || ' and so it ends.' || chr(10) ||
      |    'too short' || chr(10) ||
      |    'enable javascript to view document ' || CAST(doc_id AS VARCHAR) || ' now.' || chr(10) ||
      |    (CASE WHEN doc_id % 7 = 0
      |      THEN 'brace line { for doc ' || CAST(doc_id AS VARCHAR) || '.'
      |      ELSE substr(text, 41, 40) || ' tail words linger here too.' END) AS text
      |  FROM documents),
      |norm AS (
      |  SELECT doc_id, text,
      |    list_filter(
      |      list_transform(string_split(text, chr(10)),
      |        l -> trim(regexp_replace(lower(l), '\s+', ' ', 'g'))),
      |      l -> l <> '') AS lines
      |  FROM planted),
      |kept AS (
      |  SELECT doc_id, text, lines,
      |    list_filter(lines, l ->
      |      regexp_matches(l, '[.!?"]$')
      |      AND len(string_split(l, ' ')) >= 5
      |      AND NOT contains(l, 'javascript')) AS keep_lines
      |  FROM norm)
      |SELECT doc_id,
      |  CAST(len(lines) AS INT) AS n_lines,
      |  CAST(len(keep_lines) AS INT) AS n_kept_lines,
      |  CAST(coalesce(list_sum(list_transform(keep_lines, l -> len(l))), 0) AS BIGINT)
      |    AS kept_chars,
      |  (len(keep_lines) >= 3
      |    AND NOT contains(lower(text), 'lorem ipsum')
      |    AND NOT contains(text, '{')) AS keep
      |FROM kept ORDER BY doc_id""".stripMargin

  private def oraclePunctExpr(c: String): String =
    s"""round(CASE WHEN length(${oracleNormExpr(c)}) = 0 THEN 0.0
       | ELSE len(regexp_extract_all(${oracleNormExpr(c)}, '[\\.,;:!\\?''"()\\[\\]{}-]'))::double
       |      / length(${oracleNormExpr(c)}) END, 6)""".stripMargin

  private def oracleStopRatioExpr(c: String): String = {
    import graft.functions.TextFunctions._
    s"""round(CASE WHEN ${oracleNormExpr(c)} = '' THEN 0.0
       | ELSE len(list_filter(${oracleTokensExpr(c)},
       |        x -> list_contains(${dq(StopwordsEn)}, x)))::double
       |      / len(${oracleTokensExpr(c)}) END, 6)""".stripMargin
  }

  private def oracleMtlExpr(c: String): String =
    s"""round(CASE WHEN ${oracleNormExpr(c)} = '' THEN 0.0
       | ELSE list_sum(list_transform(${oracleTokensExpr(c)}, x -> length(x)))::double
       |      / len(${oracleTokensExpr(c)}) END, 6)""".stripMargin

  private def oracleQualityExpr(c: String): String = {
    import graft.functions.TextFunctions._
    val nTok = s"(CASE WHEN ${oracleNormExpr(c)} = '' THEN 0 ELSE len(${oracleTokensExpr(c)}) END)::double"
    val punct = s"""(CASE WHEN length(${oracleNormExpr(c)}) = 0 THEN 0.0
       | ELSE len(regexp_extract_all(${oracleNormExpr(c)}, '[\\.,;:!\\?''"()\\[\\]{}-]'))::double
       |      / length(${oracleNormExpr(c)}) END)""".stripMargin
    val stop = s"""(CASE WHEN ${oracleNormExpr(c)} = '' THEN 0.0
       | ELSE len(list_filter(${oracleTokensExpr(c)}, x -> list_contains(${dq(StopwordsEn)}, x)))::double
       |      / len(${oracleTokensExpr(c)}) END)""".stripMargin
    val mtl = s"""(CASE WHEN ${oracleNormExpr(c)} = '' THEN 0.0
       | ELSE list_sum(list_transform(${oracleTokensExpr(c)}, x -> length(x)))::double
       |      / len(${oracleTokensExpr(c)}) END)""".stripMargin
    s"""round(
       |  least($nTok / 64.0, 1.0) * 0.4
       |  + (CASE WHEN $punct <= 0.2 THEN 1.0 ELSE greatest(0.0, 1.0 - ($punct - 0.2) * 4.0) END) * 0.2
       |  + least($stop * 5.0, 1.0) * 0.2
       |  + (CASE WHEN $mtl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6)""".stripMargin
  }
}
