package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One latency sample of a workload's write or read class; `kind` names
  * the operation shape it measured. */
final case class Sample(kind: String, seconds: Double, traced: Boolean)

object Sample {
  def of(ops: Iterable[OpRecord], kind: String): Seq[Sample] =
    ops.filter(o => !o.cold && o.ok && o.kind == kind).map(o => Sample(o.name, o.seconds, o.traced)).toSeq
}

/** What a workload hands back after its run: the end-to-end figures only
  * it can define, and its own per-layer metrics (traced run). */
final case class Result(
    coldPassS: Double,
    writes: Seq[Sample],
    reads: Seq[Sample],
    throughputPerS: Double,
    detail: Map[String, Any],
    layers: Map[String, Double],
    sparkPerBatch: Option[Int] = None)

trait Workload {
  def run(b: Bench): Result
}

/** Entry point: `--workload <etl_recon|curation|stream_ingest> --seed <n>
  * --seconds <s> --trace <0|1> [--scale tiny] [--plant-wrong 1]`.
  * Prints a detail line and, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer ones. */
object Main {
  val workloads: Map[String, Workload] =
    Map("etl_recon" -> EtlRecon, "curation" -> Curation, "stream_ingest" -> StreamIngest)

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_pass_s" -> "s",
    "write_p50_s" -> "s", "read_p50_s" -> "s",
    "throughput_per_s" -> "1/s", "peak_rss_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "spec.parse_ms" -> "ms",
    "etl.append_s" -> "s", "etl.overwrite_s" -> "s", "etl.update_s" -> "s", "etl.upsert_s" -> "s",
    "etl.jobs_per_op" -> "count", "etl.shuffle_bytes_per_op" -> "bytes",
    "etl.bytes_written_per_user_byte" -> "ratio",
    "versioned.merge_s" -> "s", "versioned.update_s" -> "s", "versioned.delete_s" -> "s",
    "versioned.append_s" -> "s", "versioned.compact_s" -> "s",
    "versioned.read_s" -> "s", "versioned.read_as_of_s" -> "s", "versioned.read_where_s" -> "s",
    "versioned.changes_s" -> "s", "versioned.read_tasks" -> "count",
    "versioned.live_groups" -> "count", "versioned.dv_groups" -> "count",
    "versioned.space_amp" -> "ratio", "versioned.chain_length" -> "count",
    "recon.run_s" -> "s", "recon.jobs" -> "count",
    "curation.quality_s" -> "s", "curation.exact_s" -> "s", "curation.near_dup_s" -> "s",
    "curation.candidate_pairs" -> "count", "curation.verified_pairs" -> "count",
    "curation.verified_per_candidate" -> "ratio",
    "search.index_build_s" -> "s", "search.topk_s" -> "s", "search.recall" -> "ratio",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.state_commit_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_bytes" -> "bytes",
    "stream.late_dropped_rows" -> "count", "stream.batches" -> "count",
    "stream.backlog_files" -> "count", "stream.generator_late_s" -> "s",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
    "spark.codegen_compile_ms" -> "ms", "spark.codegen_classes" -> "count",
    "spark.codegen_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.driver_residual_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val wl = workloads.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; one of ${workloads.keys.mkString(", ")}"))
    val b = new Bench(args)
    Bench.deleteTree(b.work)
    Files.createDirectories(b.work)
    val code =
      try {
        val r = wl.run(b)
        val metrics = if (args.trace) layerMetrics(b, r) else endToEndMetrics(b, r)
        val units = (if (args.trace) perLayer else endToEnd).toMap
        val correct = b.failures.isEmpty
        println(json(Map("detail" -> (r.detail ++ Map(
          "workload" -> args.workload, "seed" -> args.seed, "cores" -> b.cores,
          "heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
          // Sizes against the program's caches: classes generated in the
          // whole run against the codegen cache, and Spark's memory for
          // cached blocks at this heap.
          "codegen_classes_run" -> Codegen.snapshot().classes,
          "codegen_cache_entries" -> b.spark.conf.get("spark.sql.codegen.cache.maxEntries", "100"),
          "storage_memory_mb" ->
            b.spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576,
          "writes" -> tails(r.writes), "reads" -> tails(r.reads),
          "setups_s" -> b.setupSeconds.toList,
          "ops" -> opSummary(b),
          "failures" -> b.failures.toList)))))
        val ms = metrics.map { case (k, v) =>
          require(!v.isNaN && !v.isInfinite, s"metric $k is not finite: $v")
          k -> Map("value" -> v, "unit" -> units(k))
        }
        println(json(ListMap("correct" -> correct, "attempted" -> b.attempted,
          "failed" -> b.failures.size, "metrics" -> ListMap(ms: _*))))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally {
        b.close()
        Bench.deleteTree(b.work)
      }
    System.out.flush()
    System.exit(code)
  }

  /** Per operation name: count and median seconds, cold and warm apart. */
  private def opSummary(b: Bench): Map[String, Any] =
    b.ops.groupBy(o => if (o.cold) s"${o.name}(cold)" else o.name).map { case (k, os) =>
      k -> Map("n" -> os.size, "median_s" -> Stats.median(os.map(_.seconds).toSeq))
    }.toMap

  /** Median latency of each operation shape, combined over shapes by
    * geometric mean, so every shape weighs the same however many samples
    * a run happened to take of it. */
  def p50(samples: Seq[Sample]): Double = {
    val byKind = samples.filterNot(_.traced).groupBy(_.kind).values.map(s => Stats.median(s.map(_.seconds)))
    math.exp(Stats.mean(byKind.map(math.log).toSeq))
  }

  /** A metric that has no successful samples is a failed run: it is
    * counted as a failure and reported at `fallback` (the operation
    * timeout, or no throughput), so the result line is still printed. */
  private def orFail(b: Bench, name: String, v: Option[Double], fallback: Double): Double =
    v.filter(x => !x.isNaN && !x.isInfinite && x > 0).getOrElse { b.fail(s"no samples for $name"); fallback }

  /** Tails, reported in the detail line: per shape, the highest
    * percentile with at least ten samples beyond it, and the sample count. */
  def tails(samples: Seq[Sample]): Map[String, Any] =
    samples.filterNot(_.traced).groupBy(_.kind).map { case (k, s) =>
      val (v, p, n) = Stats.tail(s.map(_.seconds))
      k -> Map("p50" -> Stats.median(s.map(_.seconds)), "tail" -> v, "percentile" -> p, "samples" -> n)
    }

  private def endToEndMetrics(b: Bench, r: Result): Seq[(String, Double)] = {
    val timeout = b.opTimeoutSec.toDouble
    def some(xs: Seq[Sample]) = if (xs.exists(!_.traced)) Some(p50(xs)) else None
    Seq(
      "setup_s" -> Stats.median(b.setupSeconds.toSeq),
      "cold_pass_s" -> orFail(b, "cold_pass_s", Some(r.coldPassS), timeout),
      "write_p50_s" -> orFail(b, "write_p50_s", some(r.writes), timeout),
      "read_p50_s" -> orFail(b, "read_p50_s", some(r.reads), timeout),
      "throughput_per_s" -> orFail(b, "throughput_per_s", Some(r.throughputPerS), 1.0 / timeout),
      "peak_rss_mb" -> Bench.peakRssMb())
  }

  /** Tracing overhead: geometric mean over operation names of the traced
    * median over the untraced median, as a percentage. */
  private def overheadPct(b: Bench, r: Result): Double = {
    val byName = b.ops.filter(o => o.ok && !o.cold).groupBy(_.name).values.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.nonEmpty && u.nonEmpty)
        Some(math.log(Stats.median(t.map(_.seconds).toSeq) / Stats.median(u.map(_.seconds).toSeq)))
      else None
    }.toSeq
    val ratios =
      if (byName.nonEmpty) byName
      else {
        val (t, u) = r.writes.partition(_.traced)
        if (t.nonEmpty && u.nonEmpty)
          Seq(math.log(Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds))))
        else Seq(0.0)
      }
    (math.exp(Stats.mean(ratios)) - 1) * 100
  }

  private def layerMetrics(b: Bench, r: Result): Seq[(String, Double)] = {
    val t = b.tracer
    val traced = b.ops.filter(o => o.traced && o.ok).toSeq
    // Counters of the traced operations, plus (streaming) the engine's
    // own micro-batch work, per operation or per micro-batch.
    val cs = traced.map(o => t.countersOf(o.id)) ++
      r.sparkPerBatch.map(_ => t.countersOf(-1L)).toSeq
    val units = r.sparkPerBatch.getOrElse(traced.size).max(1).toDouble
    def opsInterval(ms: Long) = traced.exists(o => ms >= o.startMs && ms <= o.endMs)
    val ph = t.phases.asScala.toSeq.filter(p => r.sparkPerBatch.nonEmpty || opsInterval(p.startMs))
    val cg = if (r.sparkPerBatch.nonEmpty) t.windowCodegen
      else traced.map(_.codegen).foldLeft(Codegen.zero)(_ plus _)
    val spark = Seq(
      "spark.analysis_ms" -> ph.map(_.analysisMs.toDouble).sum / units,
      "spark.optimization_ms" -> ph.map(_.optimizationMs.toDouble).sum / units,
      "spark.planning_ms" -> ph.map(_.planningMs.toDouble).sum / units,
      "spark.codegen_compile_ms" -> cg.compileNs / 1e6 / units,
      "spark.codegen_classes" -> cg.classes / units,
      "spark.codegen_bytes" -> cg.classBytes / units,
      "spark.jobs" -> cs.map(_.jobs).sum / units,
      "spark.stages" -> cs.map(_.stages).sum / units,
      "spark.tasks" -> cs.map(_.tasks).sum / units,
      "spark.executor_run_ms" -> cs.map(_.runMs).sum / units,
      "spark.executor_cpu_ms" -> cs.map(_.cpuMs).sum / units,
      "spark.gc_ms" -> cs.map(_.gcMs).sum / units,
      "spark.shuffle_read_bytes" -> cs.map(_.shuffleRead).sum / units,
      "spark.shuffle_write_bytes" -> cs.map(_.shuffleWrite).sum / units,
      "spark.spill_bytes" -> cs.map(_.spill).sum / units,
      "spark.driver_residual_ms" ->
        Stats.mean(traced.map(o => t.residualMs(o.id, o.startMs, o.endMs))),
      "trace.overhead_pct" -> overheadPct(b, r))
    val out = Paths.get(".bench_out")
    Files.createDirectories(out)
    Files.writeString(out.resolve(s"spans-${b.args.workload}-seed${b.args.seed}.json"), t.spansJson())
    val got = (r.layers ++ spark).toMap
    perLayer.map { case (k, _) => k -> got.getOrElse(k, 0.0) }
  }

  /** Minimal JSON writer for the harness's own maps, sequences and scalars. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case o => json(o.toString)
  }
}
