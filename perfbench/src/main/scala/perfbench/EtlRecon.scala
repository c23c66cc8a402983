package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{EtlJob, ReconJob, Versioned}

/** `etl_recon`: the reference's own use as a closed loop with one client.
  * A seeded stream of writes runs against two targets: a partitioned
  * parquet catalog table written by `EtlJob` YAML jobs (append, partition
  * overwrite, update, upsert) and a `Versioned` table (merge, update,
  * delete, append, compact). Every write is followed by the read that
  * checks it (a `ReconJob` of the expected state against the ETL target,
  * or a full `Versioned.read`) and by each of `readAsOf` on the version
  * three writes back, `readWhere`, and `changes` over the last append. The
  * harness keeps an independent model of both tables; every read is
  * checked against it. */
object EtlRecon extends Workload {
  final case class Sizes(etlRows: Int, parts: Int, vRows: Int, groups: Int, batch: Int)
  val full = Sizes(etlRows = 8000, parts = 8, vRows = 8000, groups = 16, batch = 200)
  val tiny = Sizes(etlRows = 600, parts = 3, vRows = 600, groups = 4, batch = 30)
  /** Warm cycles of every write shape a run measures at the least. */
  val minCycles = 1
  /** Share of upsert and versioned-merge keys that are new: 2 of the 5
    * source keys of the reference's own upsert test case. */
  val newKeyShare = 0.4
  val writeKinds: Seq[String] = Seq(
    "versioned.append", "etl.append", "etl.overwrite", "etl.update", "etl.upsert",
    "versioned.merge", "versioned.update", "versioned.delete", "versioned.compact")

  final case class ERow(k: Long, line: Int, qty: Long, amount: Long, status: String, part: String)
  final case class VRow(id: Long, grp: Int, qty: Long, amount: Long, tag: String)

  val etlSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("line", IntegerType), StructField("qty", LongType),
    StructField("amount", LongType), StructField("status", StringType),
    StructField("part", StringType)))
  val vSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("grp", IntegerType), StructField("qty", LongType),
    StructField("amount", LongType), StructField("tag", StringType)))

  /** The run's state: targets on disk and the harness's model of them. */
  final class State(val dir: Path, val sz: Sizes, val rng: Random) {
    val etl = mutable.LinkedHashMap.empty[(Long, Int), ERow]
    val ver = mutable.LinkedHashMap.empty[Long, VRow]
    val vdir: String = dir.resolve("versioned").toString
    /** (version, instant after commit, rows, sum(amount)) per write. */
    val history = mutable.ArrayBuffer.empty[(Long, Instant, Long, Long)]
    var lastAppend: (Long, Long, Long) = (-1L, 0L, 0L) // version, rows, sum(amount)
    var nextK = 0L
    var nextId = 0L
    var batchNo = 0
    var planted = false
    var stagedBytes = 0L
    /** Versions committed by traced writes. */
    val tracedVersions = mutable.Set.empty[Long]
    /** Staged source bytes of each ETL write, by operation id. */
    val userBytes = mutable.Map.empty[Long, Long]
  }

  private def etlRow(st: State, k: Long, line: Int): ERow =
    ERow(k, line, 1 + st.rng.nextInt(50), 100 + st.rng.nextInt(100000),
      Seq("O", "F", "P")(st.rng.nextInt(3)), s"p${k % st.sz.parts}")

  private def vRow(st: State, id: Long, tag: String): VRow =
    VRow(id, (id % st.sz.groups).toInt, 1 + st.rng.nextInt(50), 100 + st.rng.nextInt(100000), tag)

  /** `n` rows under fresh keys, four lines per key. */
  private def newEtlRows(st: State, n: Int): Vector[ERow] = {
    val rows = (0 until n).map(i => etlRow(st, st.nextK + i / 4, 1 + i % 4)).toVector
    st.nextK += (n + 3) / 4
    rows
  }

  private def etlDf(spark: SparkSession, rows: Seq[ERow]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r.k, r.line, r.qty, r.amount, r.status, r.part)), 1), etlSchema)

  private def vDf(spark: SparkSession, rows: Seq[VRow]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(r => Row(r.id, r.grp, r.qty, r.amount, r.tag)), 1), vSchema)

  /** Land an ETL source batch as a parquet staging file; returns a
    * DataFrame over it. Untimed: this is the input the job reads.
    * Versioned writes take their batch as an in-memory DataFrame. */
  private def stage(spark: SparkSession, st: State, df: DataFrame): DataFrame = {
    st.batchNo += 1
    val p = st.dir.resolve(s"staging/b${st.batchNo}").toString
    df.write.parquet(p)
    st.stagedBytes = dirBytes(Path.of(p))
    spark.read.parquet(p)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  private def setupOnce(spark: SparkSession, dir: Path, b: Bench): State = {
    val sz = if (b.args.tiny) tiny else full
    val st = new State(dir, sz, new Random(b.args.seed))
    newEtlRows(st, sz.etlRows).foreach(r => st.etl((r.k, r.line)) = r)
    (0 until sz.vRows).foreach { _ => val r = vRow(st, st.nextId, "i"); st.ver(r.id) = r; st.nextId += 1 }
    spark.sql("DROP TABLE IF EXISTS etl_target")
    Bench.deleteTree(b.work.resolve("warehouse").resolve("etl_target"))
    etlDf(spark, st.etl.values.toSeq).repartition(sz.parts, col("part"))
      .write.format("parquet").partitionBy("part").saveAsTable("etl_target")
    val v = Versioned.commit(vDf(spark, st.ver.values.toSeq).repartition(4), st.vdir)
    st.history += ((v, Instant.now(), st.ver.size.toLong, st.ver.values.map(_.amount).sum))
    spark.range(1).count() // session warm-up: first job scheduled
    st
  }

  private def yaml(op: String): String = {
    val keys = if (op == "update" || op == "upsert")
      """  primary_key_column: [k, line, part]
        |  update_column: [qty, amount, status]
        |""".stripMargin else ""
    s"""version: 0
       |source:
       |  query: SELECT k, line, qty, amount, status, part FROM pb_src
       |target:
       |  table: etl_target
       |  operation: $op
       |$keys""".stripMargin
  }

  /** One write: prepare its seeded input, run it as a timed operation,
    * and apply it to the model when it succeeded. */
  private def write(b: Bench, st: State, kind: String, cold: Boolean): Unit = {
    val spark = b.spark
    val rng = st.rng
    def etlJob(op: String, rows: Seq[ERow], apply: () => Unit): Unit = {
      stage(spark, st, etlDf(spark, rows)).createOrReplaceTempView("pb_src")
      b.op(kind, "write", cold) {
        val job = b.tracer.span("spec.parse")(EtlJob.fromYaml(yaml(op))(spark))
        job.run()
      }(_ => true).foreach(_ => apply())
      st.userBytes(b.ops.last.id) = st.stagedBytes
    }
    def existingEtl(n: Int): Seq[ERow] =
      rng.shuffle(st.etl.keys.toVector).take(n).map { case (k, l) => etlRow(st, k, l) }
    def versioned(body: => Long, apply: Long => Unit): Unit =
      b.op(kind, "write", cold)(body)(_ >= 0).foreach { v =>
        apply(v)
        if (b.ops.last.traced) st.tracedVersions += v
        st.history += ((v, Instant.now(), st.ver.size.toLong, st.ver.values.map(_.amount).sum))
      }
    kind match {
      case "etl.append" =>
        val rows = newEtlRows(st, st.sz.batch)
        etlJob("append", rows, () => rows.foreach(r => st.etl((r.k, r.line)) = r))
      case "etl.overwrite" =>
        // Replace one partition with a regenerated copy: values change,
        // about a twentieth of its keys drop out and as many new ones come in.
        val p = s"p${rng.nextInt(st.sz.parts)}"
        val kept = st.etl.values.filter(_.part == p).filter(_ => rng.nextDouble() >= 0.05)
          .map(r => etlRow(st, r.k, r.line)).toVector
        val extra = Iterator.continually(newEtlRows(st, 4)).flatten.filter(_.part == p)
          .take(kept.size / 20 + 1).toVector
        val rows = kept ++ extra
        etlJob("overwrite", rows, () => {
          st.etl.filterInPlace((_, r) => r.part != p)
          rows.foreach(r => st.etl((r.k, r.line)) = r)
        })
      case "etl.update" =>
        val rows = existingEtl(st.sz.batch)
        etlJob("update", rows, () => rows.foreach(r => st.etl((r.k, r.line)) = r))
      case "etl.upsert" =>
        val fresh = (st.sz.batch * newKeyShare).toInt
        val rows = existingEtl(st.sz.batch - fresh) ++ newEtlRows(st, fresh)
        etlJob("upsert", rows, () => rows.foreach(r => st.etl((r.k, r.line)) = r))
      case "versioned.append" =>
        val rows = (0 until st.sz.batch).map { _ => st.nextId += 1; vRow(st, st.nextId - 1, "a") }
        val src = vDf(spark, rows)
        versioned(Versioned.append(src, st.vdir), v => {
          rows.foreach(r => st.ver(r.id) = r)
          st.lastAppend = (v, rows.size.toLong, rows.map(_.amount).sum)
        })
      case "versioned.merge" =>
        val fresh = (st.sz.batch * newKeyShare).toInt
        val old = rng.shuffle(st.ver.keys.toVector).take(st.sz.batch - fresh).map(vRow(st, _, "m"))
        val rows = old ++ (0 until fresh).map { _ => st.nextId += 1; vRow(st, st.nextId - 1, "m") }
        val src = vDf(spark, rows)
        versioned(Versioned.merge(spark, st.vdir, src, Seq("id")),
          _ => rows.foreach(r => st.ver(r.id) = r))
      case "versioned.update" =>
        val g = rng.nextInt(st.sz.groups)
        val m = rng.nextInt(7)
        versioned(
          Versioned.update(spark, st.vdir, col("grp") === g && pmod(col("id"), lit(7L)) === m,
            "amount" -> (col("amount") + 7L), "tag" -> lit("u")),
          _ => st.ver.values.filter(r => r.grp == g && r.id % 7 == m).toVector
            .foreach(r => st.ver(r.id) = r.copy(amount = r.amount + 7, tag = "u")))
      case "versioned.delete" =>
        val g = rng.nextInt(st.sz.groups)
        val m = rng.nextInt(11)
        versioned(
          Versioned.delete(spark, st.vdir)(col("grp") === g && pmod(col("id"), lit(11L)) === m),
          _ => st.ver.filterInPlace((_, r) => !(r.grp == g && r.id % 11 == m)))
      case "versioned.compact" =>
        versioned(Versioned.compact(spark, st.vdir), _ => ())
    }
  }

  private def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("amount")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Recon of the model's per-partition aggregates against the ETL
    * target: must be all-match, with the target's row count and amount
    * equal to the model's. `--plant-wrong` perturbs one expected total in
    * the first warm recon. */
  private def recon(b: Bench, st: State, cold: Boolean): Unit = {
    val spark = b.spark
    val exp = st.etl.values.groupBy(_.part).map { case (p, rs) =>
      (p, rs.size.toLong, rs.map(_.amount).sum, rs.map(_.qty).sum)
    }.toSeq.sortBy(_._1)
    val plant = b.args.plantWrong && !cold && !st.planted
    if (plant) st.planted = true
    val expRows = exp.zipWithIndex.map { case ((p, n, a, q), i) =>
      Row(p, n, if (plant && i == 0) a + 1 else a, q)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(expRows, 1), StructType(Seq(
      StructField("part", StringType), StructField("n", LongType),
      StructField("amount", LongType), StructField("qty", LongType))))
      .createOrReplaceTempView("pb_expected")
    b.op("recon.run", "read", cold)(ReconJob.fromYaml(reconYaml)(spark).run().collect()) { rows =>
      val matches = rows.forall(r => r.schema.fieldNames.filter(_.startsWith("match_"))
        .forall(f => r.getAs[Any](f) == true))
      val total = rows.map(_.getAs[Long]("target_rows")).sum
      val amount = rows.map(_.getAs[Long]("target_total")).sum
      matches && rows.length == exp.size &&
        total == st.etl.size && amount == st.etl.values.map(_.amount).sum
    }
  }

  /** The read that checks a write: the recon for an ETL write, a full
    * `Versioned.read` against the model for a versioned one. */
  private def checkRead(b: Bench, st: State, writeKind: String, cold: Boolean): Unit =
    if (writeKind.startsWith("etl.")) recon(b, st, cold)
    else {
      val live = (st.ver.size.toLong, st.ver.values.map(_.amount).sum)
      b.op("versioned.read", "read", cold)(countSum(Versioned.read(b.spark, st.vdir)))(_ == live)
    }

  val otherReads: Seq[String] = Seq("versioned.read_as_of", "versioned.read_where", "versioned.changes")

  /** The versioned reads that do not follow from the last write, each
    * checked against the model. */
  private def otherRead(b: Bench, st: State, kind: String, cold: Boolean): Unit = {
    val spark = b.spark
    kind match {
      case "versioned.read_as_of" =>
        // Always three writes back: which version it reads decides its cost
        // (deletion vectors or not), so a seeded pick would make the median
        // depend on the seed.
        val older = st.history(math.max(0, st.history.size - 4))
        b.op(kind, "read", cold)(
          countSum(Versioned.readAsOf(spark, st.vdir, older._2)))(_ == ((older._3, older._4)))
      case "versioned.read_where" =>
        val lo = st.rng.nextInt(math.max(1, st.nextId.toInt - st.sz.batch * 2)).toLong
        val hi = lo + st.sz.batch * 2
        val inRange = st.ver.values.filter(r => r.id >= lo && r.id < hi)
        b.op(kind, "read", cold)(
          countSum(Versioned.readWhere(spark, st.vdir)(col("id") >= lo, col("id") < hi)))(
          _ == ((inRange.size.toLong, inRange.map(_.amount).sum)))
      case "versioned.changes" =>
        val (av, an, aa) = st.lastAppend
        b.op(kind, "read", cold)(
          countSum(Versioned.changes(spark, st.vdir, av - 1, av)))(_ == ((an, aa)))
    }
  }

  private val reconYaml =
    """version: 0
      |group_by: [part]
      |data:
      |  - name: expected
      |    query: SELECT * FROM pb_expected
      |    metrics:
      |      - rows: sum(n)
      |      - total: sum(amount)
      |      - qty: sum(qty)
      |  - name: target
      |    query: SELECT * FROM etl_target
      |    metrics:
      |      - rows: count(*)
      |      - total: sum(amount)
      |      - qty: sum(qty)
      |""".stripMargin

  def run(b: Bench): Result = {
    val st = b.setup(3)((spark, dir) => setupOnce(spark, dir, b))
    b.log("set-up done")
    // Cold pass: every write shape once, each followed by its check read,
    // then every other read shape once.
    val coldStart = b.ops.size
    writeKinds.foreach { k => write(b, st, k, cold = true); checkRead(b, st, k, cold = true) }
    otherReads.foreach(otherRead(b, st, _, cold = true))
    val coldPass = b.ops.drop(coldStart).map(_.seconds).sum
    b.log("cold pass done")
    // Warm loop: whole cycles of the write shapes, their inputs seeded, at
    // least `minCycles` of them and until the first cycle boundary at or
    // after --seconds (so every shape is sampled equally often). Each write
    // is followed by its check read and by every other read shape, so each
    // of those gets one sample per write, nine per cycle.
    // A traced run measures one more cycle, so that its traced middle half
    // and its untraced quarters each hold every write shape once.
    var step = 0
    val planned = (if (b.args.trace) minCycles + 1 else minCycles) * writeKinds.size
    val deadline = System.nanoTime() + b.args.seconds * 1000000000L
    while (step % writeKinds.size != 0 || step < planned || System.nanoTime() < deadline) {
      b.traceAt(step.toDouble / planned)
      val k = writeKinds(step % writeKinds.size)
      write(b, st, k, cold = false)
      checkRead(b, st, k, cold = false)
      otherReads.foreach(otherRead(b, st, _, cold = false))
      step += 1
    }
    b.tracer.disable(b.spark)
    b.log("timed loop done")
    val warm = b.ops.filter(o => !o.cold && o.ok && !o.traced)
    val layers = if (b.args.trace) layerMetrics(b, st) else Map.empty[String, Double]
    Result(
      coldPassS = coldPass,
      writes = Sample.of(b.ops, "write"),
      reads = Sample.of(b.ops, "read"),
      throughputPerS = warm.size / warm.map(_.seconds).sum,
      detail = Map(
        "warm_ops" -> warm.size,
        "etl_rows" -> st.etl.size, "versioned_rows" -> st.ver.size,
        "versions" -> (st.history.last._1 + 1)),
      layers = layers)
  }

  private def layerMetrics(b: Bench, st: State): Map[String, Double] = {
    val spark = b.spark
    val traced = b.ops.filter(o => o.traced && o.ok).toSeq
    def med(name: String) = {
      val xs = traced.filter(_.name == name).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def perOp(prefix: String)(f: Counters => Double) = {
      val os = traced.filter(_.name.startsWith(prefix))
      if (os.isEmpty) 0.0 else os.map(o => f(b.tracer.countersOf(o.id))).sum / os.size
    }
    val etlOps = traced.filter(_.name.startsWith("etl."))
    val parse = b.tracer.spans.toArray(Array.empty[Span]).filter(_.name == "spec.parse")
      .map(s => (s.endNs - s.startNs) / 1e6).toSeq
    // Table state as the traced reads saw it: the mean over the versions
    // the traced writes committed, compactions included, so the build-up
    // of file groups and deletion vectors between compactions shows.
    val hist = Versioned.describeHistory(spark, st.vdir)
    val state = hist.filter(col("version").isin(st.tracedVersions.toSeq: _*))
      .agg(avg(col("n_files")), avg(col("dv_files"))).head()
    def avgOf(i: Int) = if (state.isNullAt(i)) 0.0 else state.getDouble(i)
    val latest = hist.agg(max(col("version"))).head().getLong(0)
    val liveFiles = Versioned.read(spark, st.vdir).inputFiles.map(f => new java.net.URI(f).getPath)
    val liveBytes = liveFiles.map(f => Files.size(Path.of(f))).sum.toDouble
    val allBytes = dirBytes(Path.of(st.vdir))
    val etlWritten = etlOps.map(o => b.tracer.countersOf(o.id).written).sum.toDouble
    val userBytes = etlOps.map(o => st.userBytes.getOrElse(o.id, 0L)).sum.max(1L).toDouble
    Map(
      "spec.parse_ms" -> (if (parse.isEmpty) 0.0 else Stats.median(parse)),
      "etl.append_s" -> med("etl.append"), "etl.overwrite_s" -> med("etl.overwrite"),
      "etl.update_s" -> med("etl.update"), "etl.upsert_s" -> med("etl.upsert"),
      "etl.jobs_per_op" -> perOp("etl.")(_.jobs.toDouble),
      "etl.shuffle_bytes_per_op" -> perOp("etl.")(c => (c.shuffleWrite + c.shuffleRead).toDouble),
      "etl.bytes_written_per_user_byte" -> etlWritten / userBytes,
      "versioned.merge_s" -> med("versioned.merge"), "versioned.update_s" -> med("versioned.update"),
      "versioned.delete_s" -> med("versioned.delete"), "versioned.append_s" -> med("versioned.append"),
      "versioned.compact_s" -> med("versioned.compact"),
      "versioned.read_s" -> med("versioned.read"), "versioned.read_as_of_s" -> med("versioned.read_as_of"),
      "versioned.read_where_s" -> med("versioned.read_where"),
      "versioned.changes_s" -> med("versioned.changes"),
      "versioned.read_tasks" -> perOp("versioned.read")(_.tasks.toDouble),
      "versioned.live_groups" -> avgOf(0),
      "versioned.dv_groups" -> avgOf(1),
      "versioned.space_amp" -> allBytes / liveBytes.max(1.0),
      "versioned.chain_length" -> (latest + 1).toDouble,
      "recon.run_s" -> med("recon.run"),
      "recon.jobs" -> perOp("recon.")(_.jobs.toDouble))
  }
}
