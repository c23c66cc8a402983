package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line arguments. `tiny` shrinks every input for the self-test;
  * `plantWrong` perturbs one expected value so the checks must fail;
  * `plantStall` makes the first warm operation ignore interrupts until
  * twice the operation timeout (`opTimeoutSec`) has passed. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    tiny: Boolean,
    plantWrong: Boolean,
    plantStall: Boolean,
    opTimeoutSec: Long)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "20").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      tiny = kv.getOrElse("scale", "full") == "tiny",
      plantWrong = kv.getOrElse("plant-wrong", "0") == "1",
      plantStall = kv.getOrElse("plant-stall", "0") == "1",
      opTimeoutSec = kv.getOrElse("op-timeout", "30").toLong)
  }
}

/** One timed call into the program: a harness operation. `kind` is
  * `write`, `read`, or `other` (measured but in neither latency class). */
final case class OpRecord(
    id: Long,
    name: String,
    kind: String,
    cold: Boolean,
    startNs: Long,
    endNs: Long,
    startMs: Long,
    endMs: Long,
    traced: Boolean,
    ok: Boolean,
    codegen: Codegen.Snapshot) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The harness: Spark session lifecycle, timed set-up, and per-operation
  * guard with failure accounting. Each operation runs on a worker thread
  * under its own cancellable job group (`pb-op-<id>`), the shape of the
  * program's own bench guard; a call that throws, times out, or fails its
  * output check is listed and counted, and the run continues. */
final class Bench(val args: Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val work: Path = Paths.get(".bench_work", s"${args.workload}-${ProcessHandle.current().pid()}")
    .toAbsolutePath
  val opTimeoutSec: Long = args.opTimeoutSec
  val tracer = new Tracer
  val ops = ArrayBuffer.empty[OpRecord]
  val failures = ArrayBuffer.empty[String]
  private var nextOp = 0L
  private var stalled = false
  private var checksAttempted = 0L
  private var _spark: SparkSession = _
  val setupSeconds = ArrayBuffer.empty[Double]
  /** Operations stop being started once the JVM has been up this long, so
    * that the run, its end-of-run checks and its result line stay inside
    * the runner's wall-clock limit even when operations time out. An
    * operation refused for this reason counts as failed. */
  val runBudgetSec: Long = 110
  private def newPool() = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  }
  private var pool = newPool()

  def spark: SparkSession = _spark

  /** In the traced run tracing is off in the first and last quarters of
    * the timed loop and on in its middle half, so traced and untraced
    * samples bracket each other and their difference is the tracing
    * overhead. `f` is the fraction of the loop done. */
  def traceAt(f: Double): Unit =
    if (args.trace) { if (f >= 0.25 && f < 0.75) tracer.enable(spark) else tracer.disable(spark) }

  def log(msg: String): Unit = {
    System.err.println(f"[perfbench] $uptimeSec%7.2fs $msg")
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set up `reps` times, each in a fresh session over a fresh input
    * directory, and keep the last. set-up = session start + input
    * generation + warm-up, up to the first timed operation. */
  def setup[T](reps: Int)(body: (SparkSession, Path) => T): T = {
    var last: Option[T] = None
    (1 to reps).foreach { r =>
      if (_spark != null) { _spark.stop(); _spark = null }
      val dir = work.resolve(s"setup$r")
      val t0 = System.nanoTime()
      _spark = newSession()
      val t1 = System.nanoTime()
      Files.createDirectories(dir)
      last = Some(body(_spark, dir))
      setupSeconds += (System.nanoTime() - t0) / 1e9
      log(f"setup $r: session ${(t1 - t0) / 1e9}%.2fs, inputs ${(System.nanoTime() - t1) / 1e9}%.2fs")
      if (r < reps) Bench.deleteTree(dir)
    }
    last.get
  }

  /** Run one program call under the guard. `body` is the timed region;
    * `check` validates its output outside the timing. Returns the output
    * when the call succeeded and passed its check. */
  def op[T](name: String, kind: String, cold: Boolean = false)(body: => T)(
      check: T => Boolean): Option[T] = {
    nextOp += 1
    val id = nextOp
    if (!budgetLeft) {
      failures += s"$id:$name"
      log(s"op $id $name FAILED: not started, run budget of ${runBudgetSec}s spent")
      return None
    }
    val group = s"pb-op-$id"
    val stall = args.plantStall && !cold && !stalled
    if (stall) stalled = true
    val traced = tracer.on
    val cg0 = Codegen.snapshot()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val fut = pool.submit(new Callable[T] {
      def call(): T = {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        if (stall) {
          val until = System.nanoTime() + 2 * opTimeoutSec * 1000000000L
          while (System.nanoTime() < until)
            try Thread.sleep(100) catch { case _: InterruptedException => () }
          sys.error("planted stall")
        }
        try tracer.span(name, id)(body)
        finally spark.sparkContext.clearJobGroup()
      }
    })
    val result: Either[String, T] =
      try Right(fut.get(opTimeoutSec, TimeUnit.SECONDS))
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          fut.cancel(true)
          // The worker may ignore the interrupt; leave it behind (it is a
          // daemon) so the operations after this one get a free thread.
          pool.shutdownNow()
          pool = newPool()
          Left(s"timed out after ${opTimeoutSec}s")
        case e: java.util.concurrent.ExecutionException =>
          Left(s"${e.getCause.getClass.getSimpleName}: ${e.getCause.getMessage}")
      }
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val cg = Codegen.snapshot().minus(cg0)
    val ok = result match {
      case Right(v) =>
        scala.util.Try(check(v)).recover { case e => log(s"$name check threw: $e"); false }.get
      case Left(_) => false
    }
    result.left.foreach(msg => log(s"op $id $name FAILED: $msg"))
    if (result.isRight && !ok) log(s"op $id $name FAILED its output check")
    if (!ok) failures += s"$id:$name"
    log(f"op $id $name${if (cold) " (cold)" else ""} ${(t1 - t0) / 1e9}%.3fs")
    ops += OpRecord(id, name, kind, cold, t0, t1, startMs, endMs, traced, ok, cg)
    result.toOption.filter(_ => ok)
  }

  /** A correctness check made outside any timed operation (end-of-run
    * verification). Counts as an attempted operation; a false result is a
    * failed one. */
  def verify(name: String)(cond: => Boolean): Boolean = {
    checksAttempted += 1
    val ok = budgetLeft &&
      scala.util.Try(cond).recover { case e => log(s"verify $name threw: $e"); false }.get
    if (!ok) { failures += s"verify:$name"; log(s"verify $name FAILED") }
    ok
  }

  /** A run-level failure that is no single operation's (a metric left
    * without samples); counted like a failed check. */
  def fail(name: String): Unit = {
    checksAttempted += 1
    failures += s"run:$name"
    log(s"$name FAILED")
  }

  def uptimeSec: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def budgetLeft: Boolean = uptimeSec < runBudgetSec

  def attempted: Long = ops.size + checksAttempted

  def samples(kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && !o.cold && o.ok && !o.traced).map(_.seconds).toSeq

  def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(30, TimeUnit.SECONDS)
    if (_spark != null) { _spark.stop(); _spark = null }
  }
}

object Bench {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  /** Peak resident set size of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)
}
