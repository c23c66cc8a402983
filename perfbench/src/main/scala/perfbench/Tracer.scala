package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Generated-code counters, read from Spark's static codegen metrics. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  final case class Snapshot(compileNs: Long, classes: Long, classBytes: Double) {
    def minus(o: Snapshot): Snapshot =
      Snapshot(compileNs - o.compileNs, classes - o.classes, classBytes - o.classBytes)
    def plus(o: Snapshot): Snapshot =
      Snapshot(compileNs + o.compileNs, classes + o.classes, classBytes + o.classBytes)
  }
  val zero: Snapshot = Snapshot(0, 0, 0)

  /** Sum of a histogram's samples: exact while the reservoir still holds
    * every sample, mean × count after that. */
  private def histSum(h: com.codahale.metrics.Histogram): Double = {
    val s = h.getSnapshot
    val n = h.getCount
    if (s.size >= n) s.getValues.map(_.toDouble).sum else s.getMean * n
  }

  def snapshot(): Snapshot = {
    val bytes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
    Snapshot(CodeGenerator.compileTime, bytes.getCount, histSum(bytes))
  }
}

/** A harness span: one call the harness made, or a phase inside one. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long)

/** Spark-side counters attributed to one operation (`-1`: work no harness
  * operation started, such as a streaming query's micro-batches). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0.0
  var shuffleRead, shuffleWrite, spill, written = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Query-planning phase times of one query execution. */
final case class Phases(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** The traced run's recorder. Spans are kept in memory and written out
  * when the run ends. While tracing is on, the harness's own
  * `SparkListener`, `QueryExecutionListener` and `StreamingQueryListener`
  * are registered; they count at the same operation boundaries as the
  * spans (jobs are attributed to operations by job group). Tracing off
  * means no listener of the harness is registered and no span recorded. */
final class Tracer {
  @volatile var on = false
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[(Long, Long)]] { override def initialValue() = Nil }

  private val counters = mutable.Map.empty[Long, Counters]
  private val jobOp = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageOp = mutable.Map.empty[Int, Long]
  val phases = new ConcurrentLinkedQueue[Phases]
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]
  /** Traced wall-clock windows, epoch ms. */
  val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var windowStart = 0L
  private var codegenAtOn = Codegen.zero
  /** Codegen deltas over traced windows (covers work outside operations). */
  var windowCodegen: Codegen.Snapshot = Codegen.zero

  def span[T](name: String, opId: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val frames = stack.get
      val id = ids.incrementAndGet()
      val parent = frames.headOption.map(_._1).getOrElse(0L)
      val op = if (opId >= 0) opId else frames.headOption.map(_._2).getOrElse(-1L)
      stack.set((id, op) :: frames)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(frames)
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
      }
    }

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-op-")).map(_.drop(6).toLong).getOrElse(-1L)

  private def c(op: Long): Counters = counters.getOrElseUpdate(op, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val op = opOf(e.properties)
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = op)
      c(op).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val op = jobOp.remove(e.jobId).getOrElse(-1L)
      jobStart.remove(e.jobId).foreach(t0 => c(op).jobIntervals += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { c(stageOp.getOrElse(e.stageInfo.stageId, -1L)).stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val k = c(stageOp.getOrElse(e.stageId, -1L))
        k.tasks += 1
        k.runMs += m.executorRunTime
        k.cpuMs += m.executorCpuTime / 1e6
        k.gcMs += m.jvmGCTime
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        k.written += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      phases.add(Phases(start, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Register the listeners and start recording spans. */
  def enable(spark: SparkSession): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    windowStart = System.currentTimeMillis()
    codegenAtOn = Codegen.snapshot()
    on = true
  }

  /** Stop recording; listener events already queued are let through first. */
  def disable(spark: SparkSession): Unit = if (on) {
    on = false
    windows += ((windowStart, System.currentTimeMillis()))
    windowCodegen = windowCodegen.plus(Codegen.snapshot().minus(codegenAtOn))
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def countersOf(op: Long): Counters = synchronized(counters.getOrElse(op, new Counters))

  /** Wall time of [t0, t1] (epoch ms) that no job attributed to `op` covered. */
  def residualMs(op: Long, t0: Long, t1: Long): Double = synchronized {
    val iv = counters.get(op).map(_.jobIntervals.toSeq).getOrElse(Nil)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var end = t0
    iv.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) { covered += b - s; end = b }
    }
    (t1 - t0 - covered).toDouble
  }

  /** Spans as JSON, with each span's self time (duration minus the part
    * of its interval its child spans cover). */
  def spansJson(): String = {
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val children = all.groupBy(_.parent)
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    all.map { s =>
      var covered = 0L
      var end = s.startNs
      children.getOrElse(s.id, Nil).sortBy(_.startNs).foreach { ch =>
        val a = math.max(ch.startNs, end)
        val b = math.min(ch.endNs, s.endNs)
        if (b > a) { covered += b - a; end = b }
      }
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${s.endNs - s.startNs - covered}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count). Fewer than 11 samples give the
    * maximum, reported as the 100th percentile. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n, n) else (s.last, 100.0, n)
  }
}
