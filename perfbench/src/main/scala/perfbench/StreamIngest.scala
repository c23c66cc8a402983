package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Versioned
import graft.streaming.StreamingDedup

/** `stream_ingest`: a plain file-source `readStream` ->
  * `StreamingDedup.firstPerKeyTtl` -> `Versioned.streamInto` with a
  * processing-time trigger. Phase 1 is an open loop: a generator thread
  * lands one seeded event file every `intervalMs`, stamped with its
  * creation time, with a stated share of late and duplicate events. A
  * reader polls the table and reads each new version (`changes`); a file's
  * ingest lag runs from when it was due to land until a version holding
  * it has been read. Phase 1 lasts twice --seconds. Phase 2 then lands a
  * backlog of files at once, several times, and times each drain. */
object StreamIngest extends Workload {
  final case class Sizes(eventsPerFile: Int, intervalMs: Int, backlogFiles: Int, backlogRounds: Int)
  val full = Sizes(eventsPerFile = 100, intervalMs = 200, backlogFiles = 20, backlogRounds = 4)
  val tiny = Sizes(eventsPerFile = 10, intervalMs = 200, backlogFiles = 4, backlogRounds = 2)
  // Key traffic, as measured on the program's `events` fixture by
  // perfbench/measure_fixtures.py: 1,500 users and 5 event types, each
  // drawn uniformly, so the duplicate share follows from the number of
  // events against the 7,500 keys. The fixture is in time order and has no
  // late events; the late share here is a stress setting, so the
  // watermark's drop path runs, and the rate is set by the trigger.
  val users = 1500
  private val types = Vector("view", "click", "signup", "purchase", "error")
  val lateShare = 0.05
  val watermarkDelay = "10 seconds"
  val watermarkMs = 10000L
  /** Longer than any run: no key times out, so the result does not depend
    * on where micro-batch boundaries fall. */
  val retentionMs = 3600000L
  val triggerMs = 200L
  /** Marker events (one per file, a key of its own) have ids that are
    * multiples of this; they tell the reader which files a version holds. */
  val fileStride = 100000L
  private val tsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
  private val fmt = DateTimeFormatter.ofPattern(tsFormat).withZone(ZoneOffset.UTC)

  final case class Ev(file: Int, id: Long, tsMs: Long, user: Long, etype: String, value: Double)

  /** Seeded event source. Files are written hidden, then renamed into the
    * landing directory, so the stream never sees a partial file. */
  final class Gen(seed: Long, sz: Sizes, landing: Path) {
    private val rng = new Random(seed)
    val events = mutable.ArrayBuffer.empty[Ev]

    def make(i: Int, allowLate: Boolean): Seq[Ev] = {
      val now = System.currentTimeMillis()
      val evs = Ev(i, i * fileStride, now, -(i + 1).toLong, "mark", 0.0) +: (1 to sz.eventsPerFile).map { j =>
        val key = (rng.nextInt(users).toLong, types(rng.nextInt(types.size)))
        val late = allowLate && rng.nextDouble() < lateShare
        Ev(i, i * fileStride + j, if (late) now - retentionMs else now + j % 50, key._1, key._2,
          math.rint(rng.nextDouble() * 10000) / 100)
      }
      events ++= evs
      evs
    }

    def stageFile(i: Int, evs: Seq[Ev]): Path = {
      val tmp = landing.resolve(s".part-$i.json")
      Files.write(tmp, evs.map(e =>
        s"""{"event_id":${e.id},"ts":"${fmt.format(Instant.ofEpochMilli(e.tsMs))}",""" +
          s""""user_id":${e.user},"event_type":"${e.etype}","value":${e.value}}""").asJava)
      tmp
    }

    def land(tmp: Path, i: Int): Unit =
      Files.move(tmp, landing.resolve(s"part-$i.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  final class State(val dir: Path, val sz: Sizes, val gen: Gen) {
    val landing: Path = dir.resolve("landing")
    val vdir: String = dir.resolve("versioned").toString
    val checkpoint: String = dir.resolve("checkpoint").toString
  }

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def setupOnce(spark: SparkSession, dir: Path, b: Bench): State = {
    val sz = if (b.args.tiny) tiny else full
    Files.createDirectories(dir.resolve("landing"))
    spark.range(1).count() // session warm-up: first job scheduled
    new State(dir, sz, new Gen(b.args.seed, sz, dir.resolve("landing")))
  }

  def run(b: Bench): Result = {
    val st = b.setup(3)((spark, dir) => setupOnce(spark, dir, b))
    val spark = b.spark
    val sz = st.sz
    val gen = st.gen
    val detected = mutable.Map.empty[Int, Long] // file -> nanoTime its version was read
    var lastSeen = -1L

    /** One poll: read every version committed since the last read. */
    def poll(cold: Boolean): Unit = {
      val v = Versioned.latestVersion(spark, st.vdir)
      if (v > lastSeen) {
        val from = lastSeen
        b.op("versioned.changes", "read", cold) {
          val df = if (from < 0) Versioned.read(spark, st.vdir, v) else Versioned.changes(spark, st.vdir, from, v)
          df.filter(pmod(col("event_id"), lit(fileStride)) === 0).select("event_id").collect()
            .map(r => (r.getLong(0) / fileStride).toInt)
        }(_ => true).foreach { files =>
          val now = System.nanoTime()
          files.foreach(f => detected.getOrElseUpdate(f, now))
          lastSeen = v
        }
      } else Thread.sleep(5)
    }
    def awaitFiles(files: Seq[Int], cold: Boolean = false): Boolean = {
      val limit = System.nanoTime() + b.opTimeoutSec * 1000000000L
      while (!files.forall(detected.contains) && System.nanoTime() < limit && b.budgetLeft) poll(cold)
      files.forall(detected.contains)
    }

    // Cold pass: file 0 is on disk before the query starts, so the first
    // micro-batch holds exactly file 0.
    gen.land(gen.stageFile(0, gen.make(0, allowLate = false)), 0)
    val c0 = System.nanoTime()
    val query = b.op("stream.start", "other", cold = true)(
      Versioned.streamInto(
        StreamingDedup.firstPerKeyTtl(
          spark.readStream.schema(schema).option("timestampFormat", tsFormat).json(st.landing.toString),
          Seq("user_id", "event_type"), "ts", "event_id", watermarkDelay, retentionMs),
        st.vdir, "perfbench", st.checkpoint, Trigger.ProcessingTime(triggerMs)))(_.isActive)
      .getOrElse(sys.error("streaming query did not start"))
    try {
      b.verify("first file ingested")(awaitFiles(Seq(0), cold = true))
      val coldPass = detected.get(0).map(t => (t - c0) / 1e9).getOrElse(Double.NaN)
      b.log("cold pass done")

      // Phase 1: open-loop generator on its own thread.
      val phase1Ns = 2 * b.args.seconds * 1000000000L
      val p0 = System.nanoTime()
      val due = mutable.Map.empty[Int, Long]
      val lateness = new java.util.concurrent.ConcurrentLinkedQueue[Double]
      val nFiles = (phase1Ns / (sz.intervalMs * 1000000L)).toInt
      (1 to nFiles).foreach(i => due(i) = p0 + (i - 1) * sz.intervalMs * 1000000L)
      val generator = new Thread(() => (1 to nFiles).foreach { i =>
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        gen.land(gen.stageFile(i, gen.make(i, allowLate = true)), i)
        lateness.add((System.nanoTime() - due(i)) / 1e9)
      }, "perfbench-generator")
      generator.start()
      def fraction(t: Long) = (t - p0).toDouble / phase1Ns
      def tracedAt(t: Long) = b.args.trace && fraction(t) >= 0.25 && fraction(t) < 0.75
      while (generator.isAlive) {
        b.traceAt(fraction(System.nanoTime()))
        poll(cold = false)
      }
      generator.join()
      b.tracer.disable(spark)
      b.verify("phase-1 files ingested")(awaitFiles(1 to nFiles))
      val lags = (1 to nFiles).filter(detected.contains)
        .map(i => Sample("ingest_lag", (detected(i) - due(i)) / 1e9, tracedAt(due(i))))

      // Phase 2: backlogs landed at once, each drained before the next.
      if (b.args.trace) b.tracer.enable(spark)
      var next = nFiles + 1
      val drains = (1 to sz.backlogRounds).flatMap { _ =>
        val files = next until next + sz.backlogFiles
        next += sz.backlogFiles
        val staged = files.map(i => (i, gen.stageFile(i, gen.make(i, allowLate = true))))
        val events = gen.events.count(e => files.contains(e.file))
        staged.foreach { case (i, tmp) => gen.land(tmp, i) }
        val landed = System.nanoTime()
        if (b.verify("backlog ingested")(awaitFiles(files)))
          Some(events / ((files.map(detected).max - landed) / 1e9))
        else None
      }
      b.tracer.disable(spark)
      query.stop()
      b.log("timed phases done")

      val progress = query.recentProgress.toSeq
      val lateDropped = progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      checkOutput(b, spark, st, lateDropped)
      val layers = if (b.args.trace) layerMetrics(b, spark, st, progress, lateness.asScala.toSeq) else Map.empty[String, Double]
      Result(
        coldPassS = coldPass,
        writes = lags,
        reads = Sample.of(b.ops, "read"),
        throughputPerS = if (drains.isEmpty) 0.0 else Stats.median(drains),
        detail = Map(
          "files" -> (next - 1), "events" -> gen.events.size, "late_dropped" -> lateDropped,
          "duplicate_share" ->
            (1.0 - gen.events.filter(_.etype != "mark").map(e => (e.user, e.etype)).distinct.size.toDouble /
              gen.events.count(_.etype != "mark").max(1)),
          "rate_events_per_s" -> (sz.eventsPerFile + 1) * 1000.0 / sz.intervalMs,
          "drain_events_per_s" -> drains,
          "generator_late_max_s" -> (if (lateness.isEmpty) 0.0 else lateness.asScala.max)),
        layers = layers,
        sparkPerBatch = Some(b.tracer.progress.size))
    } finally if (query.isActive) query.stop()
  }

  /** Emissions, distinct keys, id checksum and late drops against a batch
    * recomputation from the generated events, with the semantics of the
    * program's `streaming_dedup_ttl` oracle: the first micro-batch (file 0)
    * sets the watermark; later rows below it are late and dropped; each
    * key emits once, its smallest surviving id (no key outlives the
    * retention within a run). */
  private def checkOutput(b: Bench, spark: SparkSession, st: State, lateDropped: Long): Unit = {
    val evs = st.gen.events.toSeq
    val wm1 = evs.filter(_.file == 0).map(_.tsMs).max - watermarkMs
    val (late, kept) = evs.partition(e => e.file > 0 && e.tsMs < wm1)
    val firstIds = kept.groupBy(e => (e.user, e.etype)).values.map(_.map(_.id).min)
    val expected = (firstIds.size.toLong, firstIds.size.toLong,
      firstIds.sum + (if (b.args.plantWrong) 1L else 0L), late.size.toLong)
    val got = Versioned.read(spark, st.vdir)
      .agg(count(lit(1)), countDistinct(col("key")), coalesce(sum(col("event_id")), lit(0L))).head()
    b.verify("dedup output = batch recomputation")(
      (got.getLong(0), got.getLong(1), got.getLong(2), lateDropped) == expected)
  }

  private def layerMetrics(b: Bench, spark: SparkSession, st: State,
      progress: Seq[StreamingQueryProgress], lateness: Seq[Double]): Map[String, Double] = {
    val traced = b.tracer.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = {
      val xs = traced.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val commit = traced.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)
    val last = progress.lastOption
    val reads = b.ops.filter(o => o.traced && o.ok && o.kind == "read").map(_.seconds).toSeq
    Map(
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.state_commit_ms" -> (if (commit.isEmpty) 0.0 else Stats.median(commit)),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "stream.state_bytes" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "stream.late_dropped_rows" -> progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "stream.batches" -> progress.count(_.numInputRows > 0).toDouble,
      "stream.backlog_files" -> st.sz.backlogFiles.toDouble,
      "stream.generator_late_s" -> (if (lateness.isEmpty) 0.0 else lateness.max),
      // The foreachBatch sink is Versioned.appendOnce: one version per batch.
      "versioned.append_s" -> dur("addBatch") / 1000,
      "versioned.changes_s" -> (if (reads.isEmpty) 0.0 else Stats.median(reads)),
      "versioned.chain_length" -> (Versioned.latestVersion(spark, st.vdir) + 1).toDouble)
  }
}
