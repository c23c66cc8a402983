package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

import graft.operators.Versioned

/** MANIFEST-DRIVEN streaming source for versioned tables —
  * `spark.readStream.format("graft").load(dir)`, the push-flavor CDC
  * surface (Delta's streaming source, re-expressed over the bare-parquet
  * manifest log). Offsets ARE table versions: each micro-batch is
  * planned as the file groups INTRODUCED by the manifest range
  * `(fromVersion, toVersion]` — a pure metadata computation — so:
  *
  *  - the schema comes from the MANIFEST (no caller-supplied schema,
  *    unlike [[graft.operators.Versioned.changesStream]] which rides a
  *    schema-blind file stream);
  *  - a file group that is DURABLE BUT UNPUBLISHED is invisible by
  *    construction (it is in no manifest yet) — closing the residual
  *    race `changesStream` documents, where a directory listing could
  *    catch a rewrite's files before their manifest appeared;
  *  - the append-only contract is enforced at BATCH-PLAN time: a
  *    version whose mode is outside [[Versioned.streamSafeModes]]
  *    (snapshot/compact/COW DML/column DDL) fails the query loudly
  *    BEFORE any of its rows could emit, matching `changes`'s raise
  *    and `pollChanges`'s resync flag;
  *  - exactly-once across restarts is the engine's own offset
  *    checkpointing: manifests are immutable, so `getBatch` is
  *    deterministic for a given version range.
  *
  * Options: `startingVersion` (a version number; `latest` = only
  * versions committed after the stream starts; `earliest` = the OLDEST
  * retained version — the post-vacuum resync anchor: a consumer whose
  * previous checkpoint predates retention restarts here with a fresh
  * checkpoint, getting that version's full content once and exact
  * increments after, the streaming twin of the `table_version_bounds`
  * + `AS OF` + `table_changes` resync recipe; default 0 = from
  * genesis, CDC-from-start) and `maxVersionsPerBatch` (admission
  * control: cap how many versions one micro-batch may span — applied
  * from the FIRST batch of a fresh stream; best effort on restart,
  * where the engine's checkpoint may already span the full backlog).
  *
  * Scale shape: batch planning is a manifest set difference on the
  * driver (KB of JSON); the data scan is Spark's own vectorized parquet
  * reader over exactly the introduced groups — reading a day of
  * appends from a 100 TB table costs the appended groups, never a
  * listing of the table's files (the file-stream flavor pays an
  * O(files) listing per micro-batch; this source pays O(new versions)).
  * Vacuum safety matches [[Versioned.changes]]: retention that drops a
  * manifest the stream still needs fails loudly with the version named. */
final class GraftStreamSource(
    spark: SparkSession,
    tableDir: String,
    options: Map[String, String],
    metadataPath: Option[String] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow end latch. Implementing the interface keeps
    * the engine from wrapping this source in AvailableNowSourceWrapper,
    * whose latch is the FIRST getOffset result — under a capped fresh
    * stream that would end the run after one slice instead of draining
    * the backlog. Here the latch is the uncapped latest version at run
    * start; capped offers advance toward it batch by batch and the run
    * ends when it is reached — admission control AND the AvailableNow
    * contract. */
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    availableNowEnd = Some(Versioned.latestVersion(spark, tableDir))
  }

  /** SupportsAdmissionControl seam — the engine PREFERS this over the
    * v1 `getOffset` and hands us the TRUE start (checkpoint offset, or
    * [[initialOffset]] on a fresh stream), so `maxVersionsPerBatch`
    * caps EVERY batch safely: a capped offer can never regress below a
    * checkpoint we can see. Returns `start` itself when no new
    * versions exist (the engine's no-new-data signal). */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = synchronized {
    val from =
      if (start == null) startingVersion - 1
      else GraftStreamSource.versionOf(start)
    val live = Versioned.latestVersion(spark, tableDir)
    val bounded = availableNowEnd.map(math.min(live, _)).getOrElse(live)
    val end = maxVersionsPerBatch
      .map(m => math.min(bounded, from + m)).getOrElse(bounded)
    offeredOnce = true
    if (end <= from) start
    else { lastSeen = math.max(lastSeen, end); LongOffset(end) }
  }

  override def initialOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    LongOffset(startingVersion - 1)

  override def deserializeOffset(
      json: String): org.apache.spark.sql.connector.read.streaming.Offset =
    LongOffset(json.trim.toLong)

  /** Whether THIS instance created the stream's metadata marker — i.e.
    * the stream is FRESH, with provably no prior checkpoint. A fresh
    * stream may cap its very first offer (there is no engine offset it
    * could regress below); a restarted one may not (the checkpoint may
    * sit past any cap computed here). Unknown (no metadata path, or a
    * lost creation race) conservatively reads as restart. */
  private var createdMarker: Boolean = false

  /** The resolved start is PERSISTED under the stream's metadata path
    * on first resolution (create-exclusive; a racing restart re-reads
    * the winner's value): `startingVersion=latest` means "versions
    * committed after the QUERY first started", and without persistence
    * a restart would re-resolve 'latest' and silently skip everything
    * committed between the runs — the same reason Delta's source
    * writes its initial offset into the checkpoint. */
  private val startingVersion: Long = {
    def requested(): Long = options.get("startingVersion") match {
      case None => 0L
      case Some(s) if s.equalsIgnoreCase("latest") =>
        // only versions committed AFTER stream start
        Versioned.latestVersion(spark, tableDir) + 1
      case Some(s) if s.equalsIgnoreCase("earliest") =>
        // the oldest RETAINED version — survives vacuumed history
        val (lo, _) = Versioned.versionBounds(spark, tableDir)
        require(lo >= 0,
          s"graft streaming: no versions committed under $tableDir")
        lo
      case Some(s) =>
        val v = try s.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"graft streaming: startingVersion must be a version number, " +
              s"'latest', or 'earliest': '$s'")
        }
        require(v >= 0, s"graft streaming: startingVersion must be >= 0: $v")
        v
    }
    metadataPath match {
      case None => requested()
      case Some(mp) =>
        val p = new org.apache.hadoop.fs.Path(mp, "graft-starting-version")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def read(): Option[Long] =
          if (!fs.exists(p)) None
          else {
            val in = fs.open(p)
            val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
            Some(raw.trim.toLong)
          }
        read().getOrElse {
          val v = requested()
          fs.mkdirs(p.getParent)
          if (FsAtomic.createExclusive(fs, p, s"$v\n")) { createdMarker = true; v }
          else read().getOrElse(v) // lost the race: adopt the winner's
        }
    }
  }

  private val maxVersionsPerBatch: Option[Long] =
    options.get("maxVersionsPerBatch").map { s =>
      val m = s.toLong
      require(m > 0, s"graft streaming: maxVersionsPerBatch must be > 0: $m")
      m
    }

  /** Whether this stream was DECLARED with `startingVersion=earliest`
    * — the explicit opt-in to genesis-at-the-retention-boundary: when
    * the resolved start's parent is vacuumed away, the start version's
    * full content serves once instead of refusing. Read from the
    * OPTIONS (stable across restarts), not the resolved number. A
    * NUMERIC start keeps the strict refusal the vacuum test pins. */
  private val startedEarliest: Boolean =
    options.get("startingVersion").exists(_.equalsIgnoreCase("earliest"))

  /** CHANGE-DATA-FEED mode (`option("readChangeFeed", "true")` —
    * Delta's CDF streaming read): instead of the table's appended
    * rows, each micro-batch serves the ROW-LEVEL CHANGES of its
    * version range via [[Versioned.changesFeedPieces]] — inserts from
    * appends, deletes and update_preimage/update_postimage pairs from
    * deletion-vector mutations — so pure-DV DELETE/UPDATE versions
    * STREAM instead of failing the append-only contract. Derived
    * entirely from manifests + DVs; rewrites still fail loudly. */
  private val readChangeFeed: Boolean =
    options.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override val schema: StructType =
    GraftStreamSource.sourceSchema(spark, tableDir, readChangeFeed)

  /** Highest version this instance has offered or served — admission
    * control state only; correctness lives in the engine's checkpoint. */
  private var lastSeen: Long = startingVersion - 1
  private var offeredOnce: Boolean = false

  override def getOffset: Option[OffsetV1] = synchronized {
    val latestLive = Versioned.latestVersion(spark, tableDir)
    val latest = availableNowEnd.map(math.min(latestLive, _)).getOrElse(latestLive)
    if (latest < startingVersion && lastSeen < startingVersion) return None
    // The FIRST offer of a RESTARTED (or unknown-provenance) instance
    // is uncapped: the engine's checkpoint may already sit past any
    // cap we could compute locally, and an offset must never regress.
    // A FRESH stream (this instance created the metadata marker, so no
    // checkpoint can exist) caps from the very first batch — a long
    // backlog drains in admission-controlled slices instead of one
    // giant first micro-batch.
    val capped =
      if (!offeredOnce && !createdMarker) latest
      else maxVersionsPerBatch.map(m => math.min(latest, lastSeen + m))
        .getOrElse(latest)
    offeredOnce = true
    lastSeen = math.max(lastSeen, capped)
    if (lastSeen < 0) None else Some(LongOffset(lastSeen))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = GraftStreamSource.versionOf(end)
    val fromV = start.map(GraftStreamSource.versionOf).getOrElse(startingVersion - 1)
    synchronized {
      lastSeen = math.max(lastSeen, endV)
      offeredOnce = true
    }
    if (endV <= fromV) return emptyBatch()
    if (readChangeFeed) return changeFeedBatch(fromV, endV)
    // GENESIS detection: the stream serves everything when it starts
    // before any retained parent — from version 0 (fromV < 0), or,
    // under the EXPLICIT `startingVersion=earliest` opt-in, from the
    // stream's own initial offset when that offset's parent version
    // was VACUUMED away (startingVersion IS the genesis then, its
    // full content emits once). Numeric starts keep the strict raise.
    val genesisFresh = fromV < 0 || (startedEarliest &&
      fromV == startingVersion - 1 && !manifestRetained(fromV))
    // Append-only enforcement at PLAN time: every version in the range
    // must be an append or metadata-only constraint DDL. The GENESIS
    // version is exempt (any mode — it is the initial state, same as
    // changesStream's genesis rule). A missing manifest means vacuum
    // outran this consumer: fail loudly, the data may be incomplete.
    val enforceFrom =
      if (genesisFresh) math.max(startingVersion, 0L) + 1L
      else math.max(fromV, 0L) + 1L
    (enforceFrom to endV).foreach { v =>
      val m =
        try Versioned.parseManifest(spark, tableDir, v)
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"graft streaming source on $tableDir: version $v was " +
                "vacuumed away before this stream consumed it — its rows " +
                "are unrecoverable here; restart from a retained version " +
                "(startingVersion) or widen retention past the consumer lag")
        }
      if (!Versioned.streamSafeModes(m.mode))
        throw new IllegalStateException(
          s"graft streaming source on $tableDir: version $v " +
            s"(mode=${m.mode}) is not an append — a version-range stream " +
            "over a rewritten table would re-emit existing rows (or, for " +
            "column DDL, reshape the pinned schema). This source supports " +
            "APPEND-ONLY tables; use pollChanges and honor its resync " +
            "flag when rewrites can occur.")
    }
    val fromGroups: Set[String] =
      if (genesisFresh) Set.empty // serve endV's full file set once
      else {
        try Versioned.parseManifest(spark, tableDir, fromV).files.toSet
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"graft streaming source on $tableDir: start version $fromV " +
                "is no longer retained (vacuumed) — pick a retained " +
                "startingVersion (e.g. startingVersion=earliest with a " +
                "fresh checkpoint) or resync from a snapshot read")
        }
      }
    val endMeta = Versioned.parseManifest(spark, tableDir, endV)
    val introduced = endMeta.files.filterNot(fromGroups)
    if (introduced.isEmpty) return emptyBatch()
    // scanVERSIONGroups, not scanGroups: an `earliest` genesis at a
    // vacuum boundary may carry DELETION VECTORS on its groups (the
    // boundary can be a pure-DV delete version — mode-exempt as
    // genesis), and a plain group scan would resurrect the deleted
    // rows. Ordinary append ranges carry no DV entry for their
    // introduced groups, so this plans the identical no-join scan
    // there.
    val batch = Versioned.scanVersionGroups(
      spark, tableDir, introduced, endMeta.schemaDdl, endMeta.mapping,
      endMeta.dvs)
    if (batch.schema != schema)
      throw new IllegalStateException(
        s"graft streaming source on $tableDir: the table's schema evolved " +
          s"since this stream started (stream: ${schema.toDDL}; version " +
          s"$endV: ${batch.schema.toDDL}) — restart the stream to adopt " +
          "the new schema (Delta's streaming contract)")
    // The batch plan must be STREAMING (the engine splices it into the
    // incremental plan): flip the scan leaves; projections above them
    // (the column-mapping alias restore) propagate the flag. DV
    // position artifacts stay STATIC — the anti-join plans as a
    // supported stream-static join (same rule as the CDF path).
    val plan = batch.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !GraftStreamSource.isDvArtifactScan(lr) =>
        lr.copy(isStreaming = true)
    }
    org.apache.spark.sql.graftshim.GraftSqlBridge.ofRows(spark, plan)
  }

  private def emptyBatch(): DataFrame = {
    val attrs = schema.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
    org.apache.spark.sql.graftshim.GraftSqlBridge.ofRows(
      spark, LocalRelation(attrs, Nil, isStreaming = true))
  }

  /** One CDF micro-batch: the row-level changes of `(fromV, endV]` —
    * plus, when the stream begins at genesis (fromV < 0), version
    * `max(startingVersion, 0)`'s own content as the initial inserts
    * (Delta CDF's `startingVersion` reads that version's writes too).
    * The resulting plan mixes the change scans (streaming side) with
    * the DV position artifacts (static side): only the DATA leaves are
    * flipped to streaming, so the DV anti/semi-joins plan as supported
    * STREAM-STATIC joins, re-read fresh at every micro-batch. */
  private def changeFeedBatch(fromV: Long, endV: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val v0 = math.max(startingVersion, 0L)
    // GENESIS batch: from version 0, or — under the EXPLICIT
    // `startingVersion=earliest` opt-in — from a start whose parent
    // was vacuumed away: that version's FULL content emits once as
    // inserts (the snapshot baseline of the resync recipe),
    // increments follow from there. Numeric starts keep the raise.
    val genesisFresh = fromV < 0 || (startedEarliest &&
      fromV == v0 - 1 && !manifestRetained(fromV))
    val initial: Seq[DataFrame] =
      if (!genesisFresh) Seq.empty
      else {
        val m0 =
          try Versioned.parseManifest(spark, tableDir, v0)
          catch {
            case _: java.io.FileNotFoundException =>
              throw new IllegalStateException(
                s"graft CDF stream on $tableDir: starting version $v0 is " +
                  "no longer retained (vacuumed) — pick a retained " +
                  "startingVersion (e.g. startingVersion=earliest with a " +
                  "fresh checkpoint)")
          }
        val endMeta = Versioned.parseManifest(spark, tableDir, endV)
        Seq(Versioned.scanVersionGroups(spark, tableDir, m0.files,
          endMeta.schemaDdl, endMeta.mapping, m0.dvs)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v0))
          .withColumn("_commit_timestamp", lit(Versioned.commitTs(m0, v0))))
      }
    val pieces = initial ++ (
      try Versioned.changesFeedPieces(
        spark, tableDir, if (genesisFresh) v0 else fromV, endV)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"graft CDF stream on $tableDir: a version in " +
              s"($fromV, $endV] was vacuumed away before this stream " +
              "consumed it — restart from a retained version or widen " +
              "retention past the consumer lag")
      })
    if (pieces.isEmpty) return emptyBatch()
    val batch = pieces.reduce(_ unionByName _)
    if (batch.schema != schema)
      throw new IllegalStateException(
        s"graft CDF stream on $tableDir: the table's schema evolved " +
          s"since this stream started (stream: ${schema.toDDL}; range " +
          s"($fromV, $endV]: ${batch.schema.toDDL}) — restart the stream " +
          "to adopt the new schema (Delta's streaming contract)")
    val plan = batch.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !GraftStreamSource.isDvArtifactScan(lr) =>
        lr.copy(isStreaming = true)
    }
    org.apache.spark.sql.graftshim.GraftSqlBridge.ofRows(spark, plan)
  }

  /** Whether version `v`'s record still exists (false after vacuum
    * dropped it) — the genesis-at-startingVersion detection. */
  private def manifestRetained(v: Long): Boolean =
    try { Versioned.parseManifest(spark, tableDir, v); true }
    catch { case _: java.io.FileNotFoundException => false }

  override def commit(end: OffsetV1): Unit = ()

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftStreamSource[$tableDir, startingVersion=$startingVersion]"
}

private[graft] object GraftStreamSource {

  /** The table's LOGICAL schema from the latest manifest (column
    * mapping applied) — what `readStream.format("graft")` serves
    * without any caller-supplied schema. */
  def tableSchema(spark: SparkSession, tableDir: String): StructType = {
    require(Versioned.latestVersion(spark, tableDir) >= 0,
      s"graft streaming source: no versions committed under $tableDir — " +
        "create the table before streaming from it")
    Versioned.read(spark, tableDir).schema
  }

  /** [[tableSchema]], extended with the CDF columns when the stream
    * reads the change feed. */
  def sourceSchema(
      spark: SparkSession, tableDir: String, cdf: Boolean): StructType = {
    val base = tableSchema(spark, tableDir)
    if (!cdf) base
    else StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType, nullable = false)))
  }

  /** Is this relation a deletion-vector POSITION artifact scan (must
    * stay on the STATIC side of the CDF batch's joins)? Artifacts are
    * the `dv-*` directories under `files/`. */
  def isDvArtifactScan(lr: LogicalRelation): Boolean = lr.relation match {
    case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
      h.location.rootPaths.exists(_.getName.startsWith("dv-"))
    case _ => false
  }

  /** Version number of any offset shape the engine hands back —
    * LongOffset live, SerializedOffset across restarts (v1), or the
    * connector Offset of the admission-control path; every shape's
    * json IS the plain version number. */
  def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case l: LongOffset => l.offset
      case other => other.json.trim.toLong
    }
}
