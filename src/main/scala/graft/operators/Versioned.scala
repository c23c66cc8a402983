package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, max, min}
import org.apache.hadoop.fs.Path
import graft.operators.Checkpoints.CapOps

/** Parquet-native versioned tables — the time-travel workflow the
  * reference inherited implicitly from Delta
  * (source/pyzzle/datasource/delta.py:28, `VERSION AS OF`), rebuilt on
  * the two primitives bare parquet offers: immutable data files and
  * create-exclusive manifest publication.
  *
  * Layout under `tableDir`:
  *   - `files/<uuid>/` — immutable parquet file groups, written once,
  *     never modified or deleted by commits;
  *   - `_versions/v<n>.json` — one manifest per version listing the file
  *     groups that version reads. The manifest is the COMMIT: it is
  *     published with create-exclusive (the same arbiter as the merge
  *     lease), so version numbers are an atomic total order even under
  *     concurrent committers, and a crashed writer leaves only
  *     unreferenced data files, never a torn version.
  *
  * Concurrency is Delta's optimistic commit
  * (https://docs.delta.io/latest/concurrency-control.html): every write
  * publishes through one loop ([[commitLoop]]). A writer that finds its
  * version number taken reads the WINNER's record and applies its
  * operation's rule:
  *   - rebuild over any winner, re-checking schema, column mapping and
  *     constraints against it — [[commit]], [[append]], [[appendOnce]]
  *     (which returns None instead when a winner committed its batch),
  *     [[convert]], [[cloneTable]];
  *   - rebase over append winners, raise on any other — [[compact]],
  *     [[cluster]];
  *   - raise on any winner — [[delete]], [[update]], [[merge]],
  *     [[mergeClauses]], constraint and column DDL, [[restore]],
  *     [[curate]].
  * A raise is a `ConcurrentModificationException` (re-run against the
  * new latest version) and deletes the groups the write produced.
  *
  * Two commit modes, mirroring Delta's economics:
  *   - [[commit]] — full snapshot: writes the frame, manifest lists only
  *     the new group. Cost ∝ snapshot size.
  *   - [[append]] — writes ONLY the new rows and lists parent groups +
  *     the new one. Cost ∝ appended batch; at 100 TB this is the daily
  *     crawl path — a year of appends shares all prior files, exactly
  *     like Delta's add-only log. (Row-level updates compose as
  *     `commit(read(latest) merged)`, paying the rewrite Delta's
  *     copy-on-write also pays at file granularity.)
  *
  * Reads ([[read]], any historical version) are plain parquet scans of
  * the manifest's groups — predicate pushdown, column pruning, and
  * partition parallelism all intact; no log replay. [[diffVersions]]
  * composes with [[Snapshot.diff]] for row-level "what changed between
  * v3 and v7". */
object Versioned {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(tableDir: String, v: Long) =
    new Path(s"$tableDir/_versions/v$v.json")

  /** Largest committed version, or -1 for an empty/absent table. */
  def latestVersion(spark: SparkSession, tableDir: String): Long =
    versionBounds(spark, tableDir)._2

  /** (lowest, highest) committed version in one listing, or (-1, -1)
    * for an empty/absent table. The LOWEST version matters to the
    * incremental caches (their epoch derives from the oldest present
    * manifest, so a vacuum — which drops a prefix of the log — is
    * observable as an epoch change) AND to CDF consumers: a
    * `table_changes` read from a vacuumed-away start fails loudly, so
    * a consumer resyncs by restarting from the lowest bound — the SQL
    * surface is the `table_version_bounds('t')` TVF
    * ([[graft.sources.GraftDml]]), the programmatic one is this. */
  def versionBounds(spark: SparkSession, tableDir: String): (Long, Long) = {
    val p = new Path(s"$tableDir/_versions")
    val f = fs(spark, tableDir)
    if (!f.exists(p)) (-1L, -1L)
    else f.listStatus(p).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .foldLeft((Long.MaxValue, -1L)) { case ((lo, hi), v) =>
        (math.min(lo, v), math.max(hi, v)) } match {
        case (Long.MaxValue, hi) => (-1L, hi)
        case bounds => bounds
      }
  }

  /** CONTENT-derived epoch of a table's manifest log, for the
    * incremental per-table caches (txn watermarks, stream-unsafe
    * groups): a table deleted and re-created at the same path must
    * invalidate them, and an mtime epoch misses a re-creation inside
    * the filesystem's timestamp granularity (1 s on several) — a stale
    * watermark then silently SKIPS a legitimate batch. The epoch is an
    * FNV-1a hash of the OLDEST present manifest's text xor its version
    * number: a re-created table's v0 text always differs (fresh group
    * UUIDs and commit instant), and a vacuum that dropped the previous
    * oldest manifest rolls the epoch too (conservative: one cache
    * rebuild after a vacuum, never a stale read). -1 = unreadable. */
  private def tableEpoch(spark: SparkSession, tableDir: String, lowest: Long): Long = {
    if (lowest < 0) return -1L
    try fnv64(readText(fs(spark, tableDir), manifestPath(tableDir, lowest))) ^ lowest
    catch { case _: java.io.IOException => -1L }
  }

  /** Qualified-path cache key: trailing slashes and scheme-qualified vs
    * bare spellings of one directory must hit ONE cache entry. */
  private def cacheKey(spark: SparkSession, tableDir: String): String =
    fs(spark, tableDir).makeQualified(new Path(tableDir)).toString

  /** Bounded, access-ordered (LRU) cache map — the per-table
    * incremental caches must not grow without bound in a long-lived
    * session that touches many tables. */
  private def lruMap[V](maxEntries: Int): java.util.LinkedHashMap[String, V] =
    new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, V]): Boolean = size() > maxEntries
    }

  /** One version's resolved state, as [[ManifestCodec]] reads and
    * writes it.
    *
    * `mapping` is Delta-style COLUMN MAPPING state: (logical, physical)
    * name pairs for every column of the logical schema, plus tombstones
    * `("", physical)` for dropped columns. Empty = identity (tables
    * that never renamed/dropped pay nothing). `schema` always records
    * the LOGICAL schema; file groups store PHYSICAL column names, which
    * never change once assigned — that is what makes RENAME/DROP
    * metadata-only.
    *
    * `dvs` is DELETION-VECTOR state (Delta's merge-on-read deletes):
    * one entry per file group carrying a DV — (group, artifact,
    * deletedRows) where `artifact` is a parquet directory under
    * `files/` holding (rel, pos) rows: `rel` is the file's path suffix
    * after the LAST "/files/" (clone-safe — no absolute paths) and
    * `pos` its `_metadata.row_index`. Every scan of a version
    * anti-joins the DV'd groups against their artifacts; a rewrite of
    * a group materializes (drops) its entry. At most one entry per
    * group per version.
    *
    * `fileRows` is the PER-GROUP row count, recorded at commit time
    * (aligned with `files` in the JSON) — the metadata every mutation's
    * planning needs (untouched-row totals, DV fraction classification).
    * Without it each DML paid one serial driver-side sidecar read PER
    * GROUP: invisible on a local FS, but at 100k groups on an object
    * store (~10-20 ms/GET) that is tens of minutes of serial driver
    * time per mutation. Empty for pre-upgrade manifests — readers fall
    * back to the sidecars once, and the next publish records it.
    *
    * `fileStats` is the PER-GROUP min/max/null-count stats JSON
    * ([[GroupStats.toJson]] text, parsed on use), recorded at commit
    * time alongside `fileRows` — what moves planning-time data
    * skipping from one sidecar GET per group to ZERO metadata I/O
    * beyond the manifest itself. Coverage may be partial (pre-upgrade
    * groups, complex-typed-only groups): a group without an entry
    * conservatively falls back to its sidecar, and an absent sidecar
    * just means "cannot prune".
    *
    * `copies` marks which ADDED group(s) hold a DV mutation's updated
    * row copies (vs inserts) — the change feed's postimage attribution
    * for mixed merges. Like mode, n_rows, committed_at and txn it
    * belongs to its version alone and is never carried forward. */
  private[graft] final case class Manifest(
      files: Seq[String], nRows: Long, mode: String, committedAt: String,
      txn: Option[(String, Long)] = None,
      schemaDdl: Option[String] = None,
      constraints: Seq[(String, String)] = Seq.empty,
      mapping: Seq[(String, String)] = Seq.empty,
      dvs: Seq[(String, String, Long)] = Seq.empty,
      fileRows: Map[String, Long] = Map.empty,
      copies: Seq[String] = Seq.empty,
      fileStats: Map[String, String] = Map.empty) {
    /** This version's table state as the draft of a next version in
      * `mode` — the fields that belong to one version alone (txn,
      * copies) cleared. */
    def carried(mode: String): Manifest =
      copy(mode = mode, txn = None, copies = Seq.empty)
  }

  /** The state an absent table's first version builds on. */
  private val noTable = Manifest(Seq.empty, 0L, "", "")

  /** Checkpoint SIDECAR path for a version — a FULL record written by
    * [[vacuum]] beside a delta record whose ancestors it is about to
    * drop, so the retention boundary stays standalone-resolvable. The
    * `c` prefix keeps it outside [[versionBounds]]'s `v*.json` match. */
  private def checkpointPath(tableDir: String, v: Long) =
    new Path(s"$tableDir/_versions/c$v.json")

  /** FNV-1a of a record's raw text — the integrity pin that chains a
    * delta record to its exact parent BYTES (and keys the resolved-
    * manifest cache safely across a table re-created at one path: a
    * different incarnation's record can never collide). */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    h
  }

  private def readText(f: org.apache.hadoop.fs.FileSystem, path: Path): String = {
    val in = f.open(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Raw text of the record at `path`, FAIL-CLOSED on torn reads: on
    * the local scheme manifest content is atomic (FsAtomic links a
    * fully-written temp file into place), but other filesystems publish
    * via create(overwrite=false), whose content a racing reader can
    * observe INCOMPLETE — and a truncated manifest parsed best-effort
    * silently drops whatever fields the truncation cut (the dvs array
    * is last: dropped deletion vectors resurrect deleted rows). A
    * record must read as a complete JSON object or raise; in-flight
    * writes settle within the retry window, real corruption stays loud. */
  private def recordRaw(
      f: org.apache.hadoop.fs.FileSystem, path: Path): String = {
    var raw = ""
    var attempt = 0
    while ({
      raw = readText(f, path)
      val t = raw.trim
      val complete = t.startsWith("{") && t.endsWith("}")
      if (!complete) {
        attempt += 1
        if (attempt >= 5)
          throw new java.io.IOException(
            s"manifest $path is incomplete after $attempt reads (torn " +
              s"write or corruption) — failing closed: ${t.take(120)}")
        Thread.sleep(10L << attempt)
      }
      !complete
    }) ()
    raw
  }

  /** Resolved manifests, LRU-cached per (table, version) under an
    * approximate BYTE bound — not an entry count: a resolved manifest
    * now embeds per-group stats JSON, so a 10k-group table's state is
    * megabytes and an entry-bounded cache would pin gigabytes of
    * driver heap across a long history walk. Records are immutable
    * once published, so an entry is valid exactly while its stored
    * hash matches the record bytes — verified on every use (against a
    * fresh read for the requested version, against the child's
    * `parent_hash` pin during a chain walk). */
  private object resolvedManifestCache {
    private val maxBytes: Long =
      sys.props.get("graft.manifest.cacheBytes")
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(256L * 1024 * 1024)
    private var total = 0L
    private val map =
      new java.util.LinkedHashMap[String, (Long, Long, Manifest)](64, 0.75f, true)
    private def weigh(m: Manifest): Long =
      64L + m.files.map(_.length + 24L).sum +
        m.fileStats.map { case (k, v) => k.length + v.length + 32L }.sum +
        m.fileRows.size * 56L +
        m.dvs.map(d => d._1.length + d._2.length + 40L).sum +
        m.schemaDdl.map(_.length.toLong).getOrElse(0L) +
        m.constraints.map { case (a, b) => a.length + b.length + 16L }.sum +
        m.mapping.map { case (a, b) => a.length + b.length + 16L }.sum
    def get(key: String): Option[(Long, Manifest)] = synchronized {
      Option(map.get(key)).map { case (h, _, m) => (h, m) }
    }
    def put(key: String, h: Long, m: Manifest): Unit = synchronized {
      val w = weigh(m)
      Option(map.remove(key)).foreach { case (_, ow, _) => total -= ow }
      map.put(key, (h, w, m))
      total += w
      // evict eldest-first until under budget; the just-inserted entry
      // (most recent in access order) is never evicted by its own put
      val it = map.entrySet().iterator()
      while (total > maxBytes && it.hasNext) {
        val e = it.next()
        if (e.getKey != key) { total -= e.getValue._2; it.remove() }
      }
    }
    def clear(): Unit = synchronized { map.clear(); total = 0L }
  }

  /** Test hook: drop every cached resolved manifest and txn watermark
    * (simulates a cold JVM, so specs exercise the full chain walk and
    * [[lastCommittedBatch]] re-reads the records). */
  private[graft] def clearResolvedManifestCache(): Unit = {
    resolvedManifestCache.clear()
    txnWatermarkCache.synchronized(txnWatermarkCache.clear())
  }

  private[graft] def parseManifest(
      spark: SparkSession, tableDir: String, v: Long): Manifest =
    resolveWithHash(spark, tableDir, v)._2

  /** Resolve version `v`'s full [[Manifest]] plus its record hash: read
    * the record (always FRESH — a table re-created at the same path
    * must never serve a stale entry), then either parse it whole (a
    * full/checkpoint record) or fold it over its parent chain (a delta
    * record). The walk is ITERATIVE — bounded by heap, never the JVM
    * stack, so even a pathological never-checkpointed chain resolves
    * (or fails with a real error) instead of StackOverflowError — and
    * amortized O(1) I/O: each resolved ancestor is cached keyed by the
    * hash its child pins, so a cached parent serves without re-reading
    * and can never belong to a different table incarnation (its hash
    * would differ). A parent VACUUMED away diverts to the child's
    * checkpoint sidecar (vacuum writes one at the boundary before
    * dropping ancestors). `expectHash` carries a child's pin; a
    * mismatch fails closed. */
  private def resolveWithHash(
      spark: SparkSession, tableDir: String, v: Long,
      expectHash: Option[Long] = None): (Long, Manifest) = {
    val f = fs(spark, tableDir)
    def key(w: Long) = cacheKey(spark, tableDir) + "#" + w
    def what(w: Long) = s"manifest v$w of $tableDir"
    val raw0 = recordRaw(f, manifestPath(tableDir, v))
    val h0 = fnv64(raw0)
    expectHash.foreach { e =>
      if (e != h0) throw new IllegalStateException(
        s"manifest v$v of $tableDir does not match the hash its child " +
          s"record pinned (expected $e, got $h0) — the log was replaced " +
          "or corrupted under a live chain; failing closed")
    }
    resolvedManifestCache.get(key(v)) match {
      case Some((ch, m)) if ch == h0 => return (h0, m)
      case _ => ()
    }
    // walk DOWN the chain, collecting unresolved delta records
    // oldest-first, until a full record, a hash-verified cached
    // ancestor, or the vacuum boundary's checkpoint sidecar
    var chain = List.empty[(Long, org.json4s.JValue, Long)] // (version, record, hash)
    var curV = v; var curRaw = raw0; var curH = h0
    var base: Manifest = null
    while (base == null) {
      val j = ManifestCodec.parse(curRaw, what(curV))
      if (!ManifestCodec.isDelta(j)) {
        base = ManifestCodec.decodeFull(j, what(curV))
        resolvedManifestCache.put(key(curV), curH, base)
      } else {
        val (p, ph) = ManifestCodec.parentRef(j, what(curV))
        chain = (curV, j, curH) :: chain
        resolvedManifestCache.get(key(p)) match {
          case Some((ch, m)) if ch == ph => base = m
          case _ =>
            val praw =
              try Some(recordRaw(f, manifestPath(tableDir, p)))
              catch { case _: java.io.FileNotFoundException => None }
            praw match {
              case Some(r) =>
                val pH = fnv64(r)
                if (pH != ph) throw new IllegalStateException(
                  s"manifest v$p of $tableDir does not match the hash " +
                    s"its child record pinned (expected $ph, got $pH) — " +
                    "the log was replaced or corrupted under a live " +
                    "chain; failing closed")
                curV = p; curRaw = r; curH = pH
              case None =>
                // vacuumed parent: curV is the retention boundary and
                // carries a checkpoint sidecar — it IS curV's state,
                // so curV leaves the fold list
                val sidecar = s"checkpoint sidecar c$curV of $tableDir"
                base = ManifestCodec.decodeFull(ManifestCodec.parse(
                  recordRaw(f, checkpointPath(tableDir, curV)), sidecar), sidecar)
                resolvedManifestCache.put(key(curV), curH, base)
                chain = chain.tail
            }
        }
      }
    }
    // fold forward, caching every intermediate for the next walk
    var m = base
    chain.foreach { case (cv, cj, ch) =>
      m = ManifestCodec.foldDelta(m, cj)
      resolvedManifestCache.put(key(cv), ch, m)
    }
    (h0, m)
  }

  /** Row counts for `groups` from their stats sidecars, read as ONE
    * concurrent batch (the pre-upgrade fallback must not reintroduce
    * the serial one-GET-per-group pathology it exists to retire). */
  private def sidecarRows(
      spark: SparkSession, tableDir: String,
      groups: Seq[String]): Map[String, Long] = {
    if (groups.isEmpty) return Map.empty
    val f = fs(spark, tableDir)
    groups.zip(GroupStats.readMany(
      f, groups.map(g => GroupStats.sidecarPath(tableDir, g))))
      .collect { case (g, Some(st)) => g -> st.nRows }.toMap
  }

  /** The live constraint set: the latest version's, or empty. */
  def constraints(spark: SparkSession, tableDir: String): Seq[(String, String)] = {
    val v = latestVersion(spark, tableDir)
    if (v < 0) Seq.empty
    else scala.util.Try(parseManifest(spark, tableDir, v).constraints)
      .getOrElse(Seq.empty)
  }

  /** Commit-record cadence: every Nth version (and v0, and any state a
    * delta cannot represent) publishes as a FULL record — the log's
    * CHECKPOINT; the rest publish as O(churn) delta records. 0 or 1 =
    * full records only (the pre-checkpoint behavior). */
  private def checkpointInterval(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.manifest.checkpointInterval") match {
      case None => 10L
      case Some(s) => scala.util.Try(s.toLong).getOrElse(
        throw new IllegalArgumentException(
          "spark.graft.manifest.checkpointInterval must be a number " +
            s"(0/1 = full record every commit): '$s'"))
    }

  /** Serialize and publish version `v` (create-exclusive; false = lost
    * the race) from `draft` over `parent`, version `v - 1`'s hash and
    * state as [[commitLoop]] resolved them (None for v0). The draft's
    * `fileRows` are the counts its writer knows; its `committedAt` and
    * `fileStats` are filled here. Chooses the record shape: a FULL
    * record when `v` is a checkpoint slot, there is no parent, or the
    * delta encoding cannot represent the transition (group order
    * diverged, row-count coverage would degrade, a recorded schema
    * would have to clear); otherwise an O(churn) DELTA record chained
    * to the parent's bytes. ONE batched sidecar pass serves both the
    * row-count fallback and the stats embed, so commit metadata I/O is
    * O(new groups) — and a checkpoint back-fills stats coverage for
    * groups older records never carried. */
  private def publishRecordAt(
      spark: SparkSession, tableDir: String, v: Long,
      parent: Option[(Long, Manifest)], draft: Manifest): Boolean = {
    val f = fs(spark, tableDir)
    val groups = draft.files
    val pm = parent.map(_._2)
    val knownRows = pm.map(_.fileRows).getOrElse(Map.empty) ++ draft.fileRows
    val knownStats = pm.map(_.fileStats).getOrElse(Map.empty)
    val interval = checkpointInterval(spark)
    val checkpointSlot =
      parent.isEmpty || interval <= 1 || (v % interval == 0)
    val parentSet = pm.map(_.files.toSet).getOrElse(Set.empty)
    val added = groups.filterNot(parentSet)
    // one concurrent sidecar batch: row counts for groups no record
    // knows + stats for the groups this record will embed
    val needSidecar =
      (groups.filterNot(knownRows.contains) ++
        (if (checkpointSlot) groups else added).filterNot(knownStats.contains))
        .distinct
    val sidecarSt: Map[String, GroupStats.Stats] =
      if (needSidecar.isEmpty) Map.empty
      else needSidecar.zip(GroupStats.readMany(
        f, needSidecar.map(g => GroupStats.sidecarPath(tableDir, g))))
        .collect { case (g, Some(st)) => g -> st }.toMap
    val perRows = groups.map(g =>
      knownRows.get(g).orElse(sidecarSt.get(g).map(_.nRows)))
    val fileRows =
      if (perRows.forall(_.isDefined)) Some(perRows.map(_.get)) else None
    val next = draft.copy(committedAt = java.time.Instant.now().toString,
      fileRows = fileRows.map(groups.zip(_).toMap).getOrElse(Map.empty),
      fileStats = groups.flatMap(g => knownStats.get(g)
        .orElse(sidecarSt.get(g).map(GroupStats.toJson)).map(g -> _)).toMap)
    val json = parent match {
      case Some((phash, prev)) if !checkpointSlot &&
          // the delta fold must reproduce the exact file sequence
          (prev.files.filter(groups.toSet) ++ added) == groups &&
          // row-count coverage must not degrade through the fold: a
          // CARRIED group's count must come from the parent RECORD —
          // that is all the fold can see (a draft `fileRows` entry for a
          // carried group would satisfy the writer but fold to empty)
          (fileRows.isDefined && groups.filterNot(added.toSet)
            .forall(prev.fileRows.contains)
            || fileRows.isEmpty && prev.fileRows.isEmpty) &&
          // a recorded schema cannot CLEAR through a delta (absent =
          // inherit) — never happens in practice, full record if so
          !(draft.schemaDdl.isEmpty && prev.schemaDdl.nonEmpty) =>
        ManifestCodec.encodeDelta(v, phash, prev, next)
      case _ => ManifestCodec.encodeFull(v, next)
    }
    val ok = graft.sources.FsAtomic.createExclusive(
      f, manifestPath(tableDir, v), json)
    if (ok && checkpointSlot) writeLastCheckpointPointer(f, tableDir, v)
    ok
  }

  /** Best-effort `_last_checkpoint`-style pointer beside the log: the
    * newest FULL-record version, for external tooling and cold-start
    * anchoring ([[lastCheckpoint]]). Overwrite-by-rename,
    * last-writer-wins — purely advisory, readers fall back to the
    * parent-pointer walk (bounded by the checkpoint interval) when it
    * is stale or unreadable. */
  private def writeLastCheckpointPointer(
      f: org.apache.hadoop.fs.FileSystem, tableDir: String, v: Long): Unit =
    try {
      val tmp = new Path(
        s"$tableDir/_versions/._last_checkpoint.${java.util.UUID.randomUUID()}.tmp")
      val out = f.create(tmp, true)
      try out.write(ManifestCodec.encodeLastCheckpoint(v).getBytes("UTF-8"))
      finally out.close()
      val dst = new Path(s"$tableDir/_versions/_last_checkpoint")
      if (f.exists(dst)) f.delete(dst, false)
      if (!f.rename(tmp, dst)) scala.util.Try(f.delete(tmp, false))
    } catch { case _: java.io.IOException => () }

  /** The advisory `_last_checkpoint` pointer's version, if present and
    * readable — the newest version known to carry a FULL record. */
  def lastCheckpoint(spark: SparkSession, tableDir: String): Option[Long] =
    try {
      val p = new Path(s"$tableDir/_versions/_last_checkpoint")
      val f = fs(spark, tableDir)
      if (!f.exists(p)) None
      else ManifestCodec.decodeLastCheckpoint(readText(f, p))
    } catch {
      case _: java.io.IOException | _: IllegalStateException => None
    }

  /** What a commit does when another writer published the version
    * number it was about to take (the WINNER) — the per-operation
    * conflict rules of the object doc. */
  private sealed trait OnWinner
  /** Parent-independent writes: rebuild the record over the winner. */
  private case object Rebuild extends OnWinner
  /** History-dependent writes: a mutation computed against version P
    * may only land as P + 1 — sliding past a winner would silently DROP
    * its effect, the classic lost update. */
  private case object Refuse extends OnWinner
  /** Maintenance rewrites: rebase over pure appends (see
    * [[rebasePublish]]), raise on anything else. */
  private case object RebaseOverAppends extends OnWinner

  /** THE commit loop of every versioned write — Delta's optimistic
    * commit. Each attempt resolves the parent once, hands it to `build`
    * for the next record's draft and publishes create-exclusive at
    * parent + 1. A lost race reads only the WINNER's record at that
    * number (no re-listing), applies `rule` to it, and moves on to the
    * next number with the winner as the parent. Anything raised —
    * by the rule, by `build` (a constraint, schema or mapping check
    * against the new parent) or by the publication — deletes
    * `newGroups` first: vacuum reclaims only manifest-referenced
    * directories, so an orphan would be permanent. Returns the
    * published version. */
  private def commitLoop(
      spark: SparkSession, tableDir: String, readVersion: Long,
      rule: OnWinner, newGroups: Seq[String])(
      build: (Long, Manifest) => Manifest): Long = {
    def at(v: Long) =
      if (v < 0) None else Some(resolveWithHash(spark, tableDir, v))
    try {
      var parent = readVersion
      var resolved = at(parent)
      while (true) {
        val draft = build(parent, resolved.fold(noTable)(_._2))
        if (rule == RebaseOverAppends) rebaseAttemptHook()
        val v = parent + 1
        if (publishRecordAt(spark, tableDir, v, resolved, draft)) return v
        val winner = rule match {
          case Refuse =>
            throw new java.util.ConcurrentModificationException(
              s"${draft.mode} on $tableDir read version $readVersion but " +
                s"version $v was committed concurrently — re-run the " +
                "operation against the new latest version")
          case Rebuild =>
            try at(v)
            catch {
              // vacuumed already: later versions exist, take the head
              case _: java.io.FileNotFoundException =>
                parent = latestVersion(spark, tableDir) - 1
                at(parent + 1)
            }
          case RebaseOverAppends =>
            val w = try at(v) catch {
              case _: java.io.FileNotFoundException => cannotRebase(
                tableDir, readVersion, s"version $v was vacuumed while rebasing")
            }
            val m = w.get._2
            if (m.mode != "append")
              cannotRebase(tableDir, readVersion, s"concurrent version $v " +
                s"is a '${m.mode}', not an append — the rewrite no longer " +
                "represents the table")
            if (m.mapping.nonEmpty)
              cannotRebase(tableDir, readVersion, "the table uses column " +
                "mapping; a rebased snapshot manifest cannot carry the " +
                "winners' physical names")
            w
        }
        parent += 1
        resolved = winner
      }
      -1L // unreachable
    } catch {
      case e: Throwable =>
        val f = fs(spark, tableDir)
        newGroups.foreach(g =>
          scala.util.Try(f.delete(new Path(s"$tableDir/files/$g"), true)))
        throw e
    }
  }

  private def cannotRebase(
      tableDir: String, readVersion: Long, why: String): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"maintenance rewrite of $tableDir read version $readVersion " +
        s"but cannot rebase: $why — re-run against the new latest version")

  /** The schema recorded in a version's manifest, TOP-LEVEL-NULLABLE
    * (groups written before or after a column's lifetime null-fill it,
    * so no column may promise NOT NULL across versions). */
  private def storedSchema(df: DataFrame): String =
    org.apache.spark.sql.types.StructType(
      df.schema.fields.map(_.copy(nullable = true))).toDDL

  /** Schema-on-manifest scan: with a recorded schema the read is
    * INFERENCE-FREE (no sample-file footer pass — at 100 TB planning
    * cost is metadata-only) and DETERMINISTIC (column set and order come
    * from the manifest, not from whichever file the reader samples);
    * groups missing a column null-fill it — the evolution contract.
    * Pre-schema manifests fall back to parquet inference. */
  private[graft] def scanGroups(
      spark: SparkSession, tableDir: String,
      groups: Seq[String], schemaDdl: Option[String],
      mapping: Seq[(String, String)] = Seq.empty,
      helpers: Seq[Column] = Seq.empty): DataFrame = {
    val paths = groups.map(g => s"$tableDir/files/$g")
    (schemaDdl, activeMapping(mapping)) match {
      case (Some(d), am) if am.nonEmpty =>
        // COLUMN MAPPING read: groups store PHYSICAL names; the scan
        // declares the physical schema (logical types, physical names)
        // and one alias projection restores the logical view. Catalyst
        // pushes filters and pruning through the aliases, so skipping
        // and pushdown see physical names — the same names the stats
        // sidecars carry.
        val logical = org.apache.spark.sql.types.StructType.fromDDL(d)
        val physical = org.apache.spark.sql.types.StructType(
          logical.fields.map(f => f.copy(name = physicalName(am, f.name))))
        spark.read.schema(physical).parquet(paths: _*)
          .select(logical.fields.toSeq.map(f =>
            col(physicalName(am, f.name)).as(f.name)) ++ helpers: _*)
      case (Some(d), _) =>
        val logical = org.apache.spark.sql.types.StructType.fromDDL(d)
        val base = spark.read.schema(logical).parquet(paths: _*)
        if (helpers.isEmpty) base
        else base.select(logical.fields.toSeq.map(f => col(f.name)) ++ helpers: _*)
      case (None, _) =>
        val base = spark.read.parquet(paths: _*)
        if (helpers.isEmpty) base
        else base.select(base.columns.toSeq.map(col) ++ helpers: _*)
    }
  }

  /** DV row identity: the scanned file's path suffix after the LAST
    * "/files/" (matching the artifact's `rel` column — clone-safe, and
    * immune to a table path that itself contains "/files/"). */
  private def dvRelCol: Column =
    org.apache.spark.sql.functions.element_at(
      org.apache.spark.sql.functions.split(
        col("_metadata.file_path"), java.util.regex.Pattern.quote("/files/")),
      -1)

  /** Column names reserved for internal row identity ([[scanGroupsTagged]]'s
    * helpers and the probe's group tag) — refused at [[writeGroup]] so
    * a user column can never collide with (and silently break) the
    * DV anti-joins. */
  private val reservedCols =
    Set("__dv_rel", "__dv_pos", "__grp", "__file", "__cv", "__kind", "__ct")

  /** [[scanGroups]] with each group's row identity retained: adds
    * `__dv_rel` (file path suffix) and `__dv_pos` (`_metadata.row_index`)
    * BEFORE any mapping projection, so callers can anti-join deletion
    * vectors or tag rows with their group without `input_file_name()`
    * (which goes blank after a join). */
  private def scanGroupsTagged(
      spark: SparkSession, tableDir: String,
      groups: Seq[String], schemaDdl: Option[String],
      mapping: Seq[(String, String)]): DataFrame =
    scanGroups(spark, tableDir, groups, schemaDdl, mapping, helpers = Seq(
      dvRelCol.as("__dv_rel"),
      col("_metadata.row_index").as("__dv_pos")))

  /** The deletion-vector rows masking `groups` (empty frame if none):
    * (__dv_rel, __dv_pos) pairs read from the version's DV artifacts,
    * broadcast when the manifest-recorded total is small. */
  private def dvMaskRows(
      spark: SparkSession, tableDir: String,
      dvFor: Seq[(String, String, Long)]): DataFrame = {
    val artifacts = dvFor.map(_._2).distinct
    val groupSet = dvFor.map(_._1).toSet
    val raw = spark.read.parquet(artifacts.map(a => s"$tableDir/files/$a"): _*)
      // a shared artifact may carry rows for groups whose DV entry has
      // since been dropped (rewritten groups): mask only live entries
      .filter(org.apache.spark.sql.functions
        .substring_index(col("rel"), "/", 1).isin(groupSet.toSeq: _*))
      .select(col("rel").as("__dv_rel"), col("pos").as("__dv_pos"))
    val total = dvFor.map(_._3).sum
    val cap = spark.conf.getOption("spark.graft.dv.broadcastRows")
      .map(_.toLong).getOrElse(4000000L)
    if (total <= cap) org.apache.spark.sql.functions.broadcast(raw) else raw
  }

  /** A version's data: [[scanGroups]] with that version's deletion
    * vectors applied. Groups without a DV scan plain (full pushdown,
    * no join); DV'd groups anti-join their artifacts on (rel, pos).
    * This is THE read every consumer of live rows must use — a plain
    * [[scanGroups]] of a DV'd group resurrects deleted rows. */
  private[graft] def scanVersionGroups(
      spark: SparkSession, tableDir: String,
      groups: Seq[String], schemaDdl: Option[String],
      mapping: Seq[(String, String)] = Seq.empty,
      dvs: Seq[(String, String, Long)] = Seq.empty): DataFrame = {
    val groupSet = groups.toSet
    val dvFor = dvs.filter(d => groupSet(d._1))
    if (dvFor.isEmpty)
      return scanGroups(spark, tableDir, groups, schemaDdl, mapping)
    val dvGroups = dvFor.map(_._1).toSet
    val plain = groups.filterNot(dvGroups)
    val masked = scanGroupsTagged(
      spark, tableDir, groups.filter(dvGroups), schemaDdl, mapping)
      .join(dvMaskRows(spark, tableDir, dvFor),
        Seq("__dv_rel", "__dv_pos"), "left_anti")
      .drop("__dv_rel", "__dv_pos")
    if (plain.isEmpty) masked
    else scanGroups(spark, tableDir, plain, schemaDdl, mapping)
      .unionByName(masked)
  }

  /** The non-tombstone entries of a mapping; empty for identity. */
  private def activeMapping(
      mapping: Seq[(String, String)]): Seq[(String, String)] =
    mapping.filter(_._1.nonEmpty)

  private def physicalName(
      active: Seq[(String, String)], logical: String): String =
    active.collectFirst {
      case (l, p) if l.equalsIgnoreCase(logical) => p
    }.getOrElse(logical)

  /** Validate an APPEND batch's schema against the table's, returning
    * the (possibly evolved) schema DDL the new manifest should record.
    * Columns are matched by name case-insensitively (Spark's default
    * resolution); common columns must agree on type exactly. Without
    * `evolve`, any drift raises; with it, NEW columns extend the table
    * schema (appended after the existing columns, Delta's
    * mergeSchema placement) and columns MISSING from the batch are
    * tolerated (null-filled in the new group on read). */
  private def validateAppendSchema(
      df: DataFrame, parentDdl: Option[String], evolve: Boolean): Option[String] = {
    import org.apache.spark.sql.types.StructType
    val batch = StructType(df.schema.fields.map(_.copy(nullable = true)))
    parentDdl match {
      case None => Some(batch.toDDL) // pre-schema table: adopt the batch's
      case Some(ddl) =>
        val table = StructType.fromDDL(ddl)
        val tableByName = table.fields.map(f => f.name.toLowerCase -> f).toMap
        // Type equality modulo nullability: compare the sql strings of
        // the nullable-normalized types (sameType is private[sql]).
        import org.apache.spark.sql.types._
        def allNullable(dt: DataType): DataType = dt match {
          case s: StructType => StructType(s.fields.map(f =>
            f.copy(dataType = allNullable(f.dataType), nullable = true)))
          case a: ArrayType => ArrayType(allNullable(a.elementType), containsNull = true)
          case m: MapType =>
            MapType(allNullable(m.keyType), allNullable(m.valueType), valueContainsNull = true)
          case other => other
        }
        def norm(dt: DataType): String = allNullable(dt).sql
        val conflicts = batch.fields.flatMap { bf =>
          tableByName.get(bf.name.toLowerCase).collect {
            case tf if norm(tf.dataType) != norm(bf.dataType) =>
              s"${bf.name}: table ${tf.dataType.simpleString} vs batch ${bf.dataType.simpleString}"
          }
        }
        require(conflicts.isEmpty,
          s"append schema type conflict(s): ${conflicts.mkString("; ")}")
        val newCols = batch.fields.filterNot(f => tableByName.contains(f.name.toLowerCase))
        val missing = table.fields.map(_.name.toLowerCase).toSet
          .diff(batch.fields.map(_.name.toLowerCase).toSet)
        if (!evolve) {
          require(newCols.isEmpty && missing.isEmpty,
            s"append schema drift (pass evolveSchema=true to accept): " +
              s"new=[${newCols.map(_.name).mkString(",")}] " +
              s"missing=[${missing.mkString(",")}]")
          Some(ddl)
        } else Some(StructType(table.fields ++ newCols).toDDL)
    }
  }

  private def writeGroup(
      df: DataFrame, tableDir: String,
      mapping: Seq[(String, String)] = Seq.empty): (String, Long) = {
    val clash = df.columns.filter(c => reservedCols(c.toLowerCase))
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} are reserved for internal " +
        "row identity (the deletion-vector machinery) — rename the column")
    val group = java.util.UUID.randomUUID().toString
    // Under column mapping, groups always store PHYSICAL names: a
    // batch arrives with logical columns and is renamed on the way in,
    // so a later RENAME stays metadata-only for this group too.
    val am = activeMapping(mapping)
    val out =
      if (am.isEmpty) df
      else df.select(df.columns.map(c =>
        col(c).as(physicalName(am, c))).toSeq: _*)
    // A job failing MID-FLIGHT — the data write, the stats read-back,
    // or the sidecar write — leaves a directory no manifest will ever
    // reference and vacuum can never reclaim: delete it before
    // rethrowing. The cleanup delete itself is Try-wrapped so an
    // unhealthy filesystem cannot mask the root-cause exception.
    val spark = df.sparkSession
    val stats =
      try {
        // Stats are collected DURING the write (Dataset.observe): the
        // manifest row count and the group's min/max column stats come
        // from the exact rows the writer emitted, in the same job — the
        // read-back aggregate this replaces was a second full scan of
        // every committed byte. The `_stats.json` sidecar lands inside
        // the (still-unpublished) group dir, so a published version's
        // stats are always complete and vacuum reclaims them with the
        // data. See [[GroupStats]] and [[readWhere]].
        val obs = org.apache.spark.sql.Observation()
        val aggs = GroupStats.observedAggs(out)
        out.observe(obs, aggs.head, aggs.tail: _*)
          .write.parquet(s"$tableDir/files/$group")
        val st = GroupStats.fromObserved(out.schema, obs.get)
        GroupStats.write(fs(spark, tableDir),
          GroupStats.sidecarPath(tableDir, group), st)
        st
      } catch { case scala.util.control.NonFatal(e) =>
        scala.util.Try(fs(spark, tableDir)
          .delete(new Path(s"$tableDir/files/$group"), true))
        throw e
      }
    (group, stats.nRows)
  }

  /** CHECK-constraint enforcement on a freshly-written (unpublished)
    * group: ONE aggregate pass over the written files counts each
    * constraint's violations (ANSI CHECK: a row violates only when the
    * expression is FALSE — NULL passes). Any violation deletes the
    * group and raises with per-constraint counts; a constraint whose
    * expression no longer analyzes (a snapshot dropped its column)
    * raises too — Delta's rule: drop the constraint before dropping
    * the column. `schemaDdl` (the table schema the group will be read
    * under) null-fills columns the group doesn't carry, so an evolved
    * append missing a constrained column passes as NULL. */
  private def enforceConstraints(
      spark: SparkSession, tableDir: String, group: String,
      schemaDdl: Option[String], cons: Seq[(String, String)],
      mapping: Seq[(String, String)] = Seq.empty): Unit = {
    if (cons.isEmpty) return
    val path = s"$tableDir/files/$group"
    def fail(msg: String): Nothing = {
      fs(spark, tableDir).delete(new Path(path), true)
      throw new IllegalArgumentException(msg)
    }
    // Constraints are written against LOGICAL names; the group stores
    // physical ones — read through the same aliasing as scanGroups.
    val am = activeMapping(mapping)
    def logicalView: DataFrame = (schemaDdl, am) match {
      case (Some(d), m) if m.nonEmpty =>
        val logical = org.apache.spark.sql.types.StructType.fromDDL(d)
        val physical = org.apache.spark.sql.types.StructType(
          logical.fields.map(f => f.copy(name = physicalName(m, f.name))))
        spark.read.schema(physical).parquet(path)
          .select(logical.fields.map(f =>
            col(physicalName(m, f.name)).as(f.name)).toSeq: _*)
      case (Some(d), _) => spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(d)).parquet(path)
      case (None, _) => spark.read.parquet(path)
    }
    val aggs: Seq[Column] = cons.map { case (n, e) =>
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          !coalesce(org.apache.spark.sql.functions.expr(e), lit(true)), 1L)
          .otherwise(0L)).as(n)
    }
    val row =
      try logicalView.agg(aggs.head, aggs.tail: _*).head()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          fail(s"CHECK constraint no longer analyzes against the written " +
            s"schema (${e.getMessage.linesIterator.next()}) — drop the " +
            "constraint before reshaping its columns")
      }
    val bad = cons.zipWithIndex.collect {
      case ((n, e), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n (`$e`): ${row.getLong(i)} row(s)"
    }
    if (bad.nonEmpty)
      fail(s"CHECK constraint violation(s): ${bad.mkString("; ")}")
  }

  /** ALTER TABLE ADD CONSTRAINT: validate the constraint against ALL
    * current rows (one scan; any violation raises with the count and
    * nothing is committed), then publish a metadata-only version — same
    * file groups, same rows — whose manifest carries the extended
    * constraint set. Every subsequent write ([[commit]]/[[append]]/
    * [[appendOnce]]/[[delete]]/[[update]]/[[merge]]) enforces the live
    * set on the data it writes, BEFORE its manifest publishes, so a
    * published version can never contain a violating row. ANSI CHECK
    * semantics: NULL passes. Returns the new version. */
  def addConstraint(
      spark: SparkSession, tableDir: String,
      name: String, exprSql: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier: '$name'")
    require(exprSql.trim.nonEmpty, "constraint expression must be non-empty")
    val v = latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val m = parseManifest(spark, tableDir, v)
    require(!m.constraints.exists(_._1.equalsIgnoreCase(name)),
      s"constraint '$name' already exists")
    val violations = scanVersionGroups(
      spark, tableDir, m.files, m.schemaDdl, m.mapping, m.dvs)
      .filter(!coalesce(org.apache.spark.sql.functions.expr(exprSql), lit(true)))
      .count()
    require(violations == 0L,
      s"cannot add CHECK constraint '$name' (`$exprSql`): " +
        s"$violations existing row(s) violate it")
    commitLoop(spark, tableDir, v, Refuse, Nil)((_, p) =>
      p.carried("add_constraint").copy(
        constraints = p.constraints :+ (name -> exprSql)))
  }

  /** ALTER TABLE DROP CONSTRAINT (metadata-only). */
  def dropConstraint(
      spark: SparkSession, tableDir: String, name: String): Long = {
    val v = latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val existing = parseManifest(spark, tableDir, v).constraints
    require(existing.exists(_._1.equalsIgnoreCase(name)),
      s"no such constraint: '$name' (have ${existing.map(_._1).mkString(", ")})")
    commitLoop(spark, tableDir, v, Refuse, Nil)((_, p) =>
      p.carried("drop_constraint").copy(
        constraints = p.constraints.filterNot(_._1.equalsIgnoreCase(name))))
  }

  /** The identifier-boundary test "does this constraint expression
    * mention column `name`" — deliberately conservative (a false
    * positive only refuses a DDL; a false negative would break a
    * constraint silently). */
  private def constraintMentions(expr: String, name: String): Boolean =
    ("(?i)(?<![A-Za-z0-9_`])" + java.util.regex.Pattern.quote(name) +
      "(?![A-Za-z0-9_])").r.findFirstIn(expr).isDefined

  /** ALTER TABLE RENAME COLUMN — METADATA-ONLY, Delta's column mapping:
    * the logical schema changes, the data files never do. The manifest
    * records (logical → physical) name pairs; reads of EVERY version
    * resolve through that version's own mapping, so time travel to a
    * pre-rename version still shows the old name. Renaming a column a
    * CHECK constraint references is refused (drop or rewrite the
    * constraint first — Delta's rule too); so is a new name colliding
    * with any live logical or historical physical name. Returns the new
    * version. */
  def renameColumn(
      spark: SparkSession, tableDir: String,
      oldName: String, newName: String): Long = {
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"new column name must be an identifier: '$newName'")
    val v = latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val m = parseManifest(spark, tableDir, v)
    val ddl = m.schemaDdl.getOrElse(throw new IllegalArgumentException(
      s"$tableDir has a pre-schema manifest; rename needs a recorded schema"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val field = schema.fields.find(_.name.equalsIgnoreCase(oldName))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column: '$oldName' (have ${schema.fieldNames.mkString(", ")})"))
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column '$newName' already exists")
    val offenders = m.constraints.filter { case (_, e) =>
      constraintMentions(e, field.name) }
    require(offenders.isEmpty,
      s"cannot rename '$oldName': CHECK constraint(s) " +
        s"${offenders.map(_._1).mkString(", ")} reference it — " +
        "drop the constraint first")
    // Full mapping (identity entries materialize on first rename).
    val base =
      if (m.mapping.nonEmpty) m.mapping
      else schema.fieldNames.toSeq.map(n => (n, n))
    require(!base.exists(_._2.equalsIgnoreCase(newName)),
      s"cannot rename to '$newName': it is the physical name of a " +
        "renamed or dropped column; stale bytes in old file groups " +
        "would resurface under it — choose a different name")
    val mapping = base.map {
      case (l, p) if l.equalsIgnoreCase(field.name) => (newName, p)
      case other => other
    }
    val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName) else f))
    commitLoop(spark, tableDir, v, Refuse, Nil)((_, p) =>
      p.carried("rename_column").copy(
        schemaDdl = Some(newSchema.toDDL), mapping = mapping))
  }

  /** ALTER TABLE DROP COLUMN — METADATA-ONLY (Delta column mapping):
    * the column leaves the logical schema, its physical bytes stay in
    * the old groups (unread: every scan declares only the live physical
    * columns) and its physical name is TOMBSTONED so a future column
    * cannot accidentally resurface the stale bytes. Dropping a column a
    * CHECK constraint references is refused by name; so is dropping the
    * last column. Time travel before the drop still shows it. Returns
    * the new version. */
  def dropColumn(
      spark: SparkSession, tableDir: String, name: String): Long = {
    val v = latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val m = parseManifest(spark, tableDir, v)
    val ddl = m.schemaDdl.getOrElse(throw new IllegalArgumentException(
      s"$tableDir has a pre-schema manifest; drop needs a recorded schema"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val field = schema.fields.find(_.name.equalsIgnoreCase(name))
      .getOrElse(throw new IllegalArgumentException(
        s"no such column: '$name' (have ${schema.fieldNames.mkString(", ")})"))
    require(schema.fields.length > 1, "cannot drop the only column")
    val offenders = m.constraints.filter { case (_, e) =>
      constraintMentions(e, field.name) }
    require(offenders.isEmpty,
      s"cannot drop '$name': CHECK constraint(s) " +
        s"${offenders.map(_._1).mkString(", ")} reference it — " +
        "drop the constraint first")
    val base =
      if (m.mapping.nonEmpty) m.mapping
      else schema.fieldNames.toSeq.map(n => (n, n))
    val physical = physicalName(activeMapping(base), field.name)
    val mapping = base.filterNot(_._1.equalsIgnoreCase(field.name)) :+
      ("" -> physical) // tombstone: the physical name stays reserved
    val newSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name.equalsIgnoreCase(name)))
    commitLoop(spark, tableDir, v, Refuse, Nil)((_, p) =>
      p.carried("drop_column").copy(
        schemaDdl = Some(newSchema.toDDL), mapping = mapping))
  }

  /** Commit `df` as a FULL-SNAPSHOT version; returns the version number.
    * The manifest records the snapshot's schema (a snapshot may reshape
    * the table freely — it rewrites every row). */
  def commit(df: DataFrame, tableDir: String): Long = {
    val spark = df.sparkSession
    val (group, n) = writeGroup(df, tableDir)
    val schema = Some(storedSchema(df))
    // Enforced against the EXACT constraint set the published manifest
    // carries, which comes from each parent: a concurrent addConstraint
    // can neither be dropped from the manifest (lost metadata update)
    // nor claimed without validation.
    val enforce = enforcer(spark, tableDir, group)
    commitLoop(spark, tableDir, latestVersion(spark, tableDir), Rebuild,
      Seq(group)) { (_, p) =>
      enforce(schema, p.constraints, Seq.empty)
      Manifest(Seq(group), n, "snapshot", "", schemaDdl = schema,
        constraints = p.constraints, fileRows = Map(group -> n))
    }
  }

  /** CHECK enforcement of one written group across commit attempts:
    * runs again only when the parent's constraint set differs from the
    * one last enforced. */
  private def enforcer(spark: SparkSession, tableDir: String, group: String)
      : (Option[String], Seq[(String, String)], Seq[(String, String)]) => Unit = {
    var enforcedFor: Option[Seq[(String, String)]] = None
    (schema, cons, mapping) =>
      if (!enforcedFor.contains(cons)) {
        enforceConstraints(spark, tableDir, group, schema, cons, mapping)
        enforcedFor = Some(cons)
      }
  }

  /** Commit `df` as an APPEND version: parent file groups are shared,
    * only the new rows are written. Returns the version number.
    * The batch's schema is validated against the table's manifest
    * schema; `evolveSchema = true` accepts NEW columns (the table
    * schema extends, old groups null-fill them on read — Delta's
    * mergeSchema) and batches missing existing columns (null-filled in
    * the new group); type conflicts always raise. */
  def append(df: DataFrame, tableDir: String, evolveSchema: Boolean = false): Long = {
    val spark = df.sparkSession
    val head = latestVersion(spark, tableDir)
    val m = if (head < 0) noTable else parseManifest(spark, tableDir, head)
    // Fail fast on schema drift before paying the write.
    validateAppendSchema(df, m.schemaDdl, evolveSchema)
    val (group, n) = writeGroup(df, tableDir, m.mapping)
    commitLoop(spark, tableDir, head, Rebuild, Seq(group))(
      appendDraft(df, tableDir, group, n, m.mapping, evolveSchema, None))
  }

  /** Raised by [[appendDraft]] when a parent already records the batch
    * being appended; [[appendOnce]] turns it into None. */
  private object BatchCommitted extends scala.util.control.ControlThrowable

  /** The one build of [[append]] and [[appendOnce]]: the parent's
    * groups plus the written `group` (`n` rows). The group's data is
    * parent-independent, so over every parent [[commitLoop]] hands it,
    * it re-checks only what the parent may have changed:
    *  - a parent recording `txn`'s app at this batch or later raises
    *    [[BatchCommitted]] (a racer committed the batch first);
    *  - the group was written under `mappingAtWrite` (physical names),
    *    so a changed mapping (concurrent RENAME/DROP COLUMN) raises;
    *  - the schema is validated again, and the constraints are
    *    enforced again when their set changed. */
  private def appendDraft(
      df: DataFrame, tableDir: String, group: String, n: Long,
      mappingAtWrite: Seq[(String, String)], evolve: Boolean,
      txn: Option[(String, Long)]): (Long, Manifest) => Manifest = {
    val enforce = enforcer(df.sparkSession, tableDir, group)
    (_, p) => {
      txn.foreach { case (app, batch) =>
        if (p.txn.exists { case (a, b) => a == app && b >= batch })
          throw BatchCommitted
      }
      if (p.mapping != mappingAtWrite)
        throw new java.util.ConcurrentModificationException(
          s"column mapping of $tableDir changed while appending " +
            "(concurrent RENAME/DROP COLUMN) — re-run the " +
            (if (txn.isEmpty) "append" else "batch"))
      val schema = validateAppendSchema(df, p.schemaDdl, evolve)
      val mapping = extendedMapping(p.mapping, schema)
      enforce(schema, p.constraints, mapping)
      p.carried("append").copy(files = p.files :+ group,
        nRows = p.nRows + n, txn = txn, schemaDdl = schema,
        mapping = mapping, fileRows = p.fileRows + (group -> n))
    }
  }

  /** Extend a column mapping to cover `schemaDdl`'s fields: existing
    * entries keep their physical names, NEW (evolved) columns get
    * identity entries — unless the new name collides with a physical
    * name already used by a live or DROPPED column, which would make
    * stale bytes in old groups resurface under the new column; that
    * raises (pick a different name, as Delta's column mapping also
    * requires). Identity tables (empty mapping) stay empty. */
  private def extendedMapping(
      parent: Seq[(String, String)],
      schemaDdl: Option[String]): Seq[(String, String)] = {
    if (parent.isEmpty) return parent
    val fields = schemaDdl.map(d =>
      org.apache.spark.sql.types.StructType.fromDDL(d).fields.map(_.name).toSeq)
      .getOrElse(Seq.empty)
    val newCols = fields.filterNot(f => parent.exists(_._1.equalsIgnoreCase(f)))
    newCols.foreach { c =>
      require(!parent.exists(_._2.equalsIgnoreCase(c)),
        s"cannot add column '$c': its name is the physical name of a " +
          "renamed or dropped column; stale bytes in old file groups " +
          "would resurface under it — choose a different name")
    }
    parent ++ newCols.map(c => (c, c))
  }

  /** Highest `batchId` any committed version records for `appId`, or -1
    * if none — the idempotence watermark [[appendOnce]] consults. The
    * scan is metadata-only (a few KB of JSON per version, on the
    * driver) and INCREMENTAL: manifests are immutable once published,
    * so the per-table walk is cached (v0-mtime epoch detects a table
    * re-created at the same path) and each call parses only manifests
    * it has not seen. Without this a long-running ingest would pay an
    * O(versions) manifest sweep PER BATCH — quadratic over the life of
    * a 10k-batch stream. Versions dropped by [[vacuum]] no longer
    * witness their batches, so retention must exceed the longest replay
    * window a restarting writer can attempt — the exact contract Delta
    * documents for its SetTransaction retention. A vacuum drops the
    * oldest record and so rolls the cache epoch: the next call re-reads
    * the records that remain. */
  def lastCommittedBatch(
      spark: SparkSession, tableDir: String, appId: String): Long =
    batchWatermark(spark, tableDir, appId)._1

  /** [[lastCommittedBatch]] with the latest version it covers, both
    * from ONE listing. */
  private def batchWatermark(
      spark: SparkSession, tableDir: String, appId: String): (Long, Long) = {
    val (lowest, latest) = versionBounds(spark, tableDir)
    if (latest < 0) return (-1L, -1L)
    val epoch = tableEpoch(spark, tableDir, lowest)
    val key = cacheKey(spark, tableDir)
    txnWatermarkCache.synchronized {
      val (cachedV, marks) = Option(txnWatermarkCache.get(key)) match {
        case Some((e, v, m)) if e == epoch && v <= latest => (v, m)
        case _ => (-1L, Map.empty[String, Long])
      }
      var out = marks
      ((cachedV + 1) to latest).foreach { v =>
        val txn =
          try parseManifest(spark, tableDir, v).txn
          catch { case _: java.io.FileNotFoundException => None }
        txn.foreach { case (app, b) =>
          out = out.updated(app, math.max(out.getOrElse(app, -1L), b))
        }
      }
      txnWatermarkCache.put(key, (epoch, latest, out))
      (out.getOrElse(appId, -1L), latest)
    }
  }

  private val txnWatermarkCache =
    lruMap[(Long, Long, Map[String, Long])](256)

  /** IDEMPOTENT append — the exactly-once streaming-ingest seam, the
    * same mechanism as Delta's `txnAppId`/`txnVersion` options: the
    * commit manifest records `(appId, batchId)`, and a batch at or
    * below the app's committed watermark is a REPLAY and is skipped
    * (returns None) instead of duplicating rows. Structured Streaming's
    * `foreachBatch` is at-least-once across checkpoint restarts; this
    * turns it into exactly-once, because the replayed micro-batch
    * carries the same deterministic batchId the first attempt committed.
    *
    * Concurrency: the watermark and the commit's starting version come
    * from ONE listing, so every version the watermark did not see is a
    * winner [[commitLoop]] reads — two racing writers of the SAME
    * (appId, batchId) (a zombie executor beside its replacement)
    * commit once: the loser finds the winner's txn and deletes its
    * group. Writers of different appIds interleave freely, as with
    * [[append]]. Requires batchIds that are monotone per appId —
    * exactly what the streaming engine provides. Streaming batches
    * carry a fixed schema, so validation is strict. */
  def appendOnce(
      df: DataFrame, tableDir: String, appId: String, batchId: Long): Option[Long] = {
    require(appId.nonEmpty, "appId must be non-empty")
    val spark = df.sparkSession
    val (watermark, head) = batchWatermark(spark, tableDir, appId)
    if (watermark >= batchId) return None
    val mapping =
      if (head < 0) Seq.empty[(String, String)]
      else parseManifest(spark, tableDir, head).mapping
    val (group, n) = writeGroup(df, tableDir, mapping)
    try Some(commitLoop(spark, tableDir, head, Rebuild, Seq(group))(
      appendDraft(df, tableDir, group, n, mapping, evolve = false,
        Some(appId -> batchId))))
    catch { case BatchCommitted => None }
  }

  /** Run a streaming query whose sink is this versioned table: each
    * micro-batch lands as ONE append version via [[appendOnce]], so the
    * table's history IS the ingest log — every batch a version, CDC
    * consumers ([[changes]]/[[pollChanges]]/[[changesStream]]) see each
    * batch exactly once, and a checkpoint-restart replay of the last
    * batch is deduplicated by the txn watermark rather than appended
    * twice. Returns the started query: drain-shaped callers
    * (AvailableNow, the default) `awaitTermination()`; long-running
    * ingest manages the handle. */
  def streamInto(
      source: DataFrame,
      tableDir: String,
      appId: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendOnce(batch, tableDir, appId, id); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Apply a curation ACTION to the latest version and commit the result
    * as a new full-snapshot version — curation with rollback. This is
    * the versioned composition of the strike operators
    * ([[Dedup.containmentStrike]], [[Dedup.paragraphStrike]],
    * [[Contamination.decontaminate]], ...): instead of handing back a
    * frame the caller must manage, the struck corpus becomes the next
    * `VERSION AS OF`, the pre-strike corpus stays readable at its own
    * version, and an over-aggressive strike is undone by reading (or
    * re-committing) the parent — the operational shape Delta users get
    * from `RESTORE`. Returns the new version number.
    *
    * Scale: the action's plan executes exactly once, as the write of the
    * new file group — no extra materialization beyond what [[commit]]
    * already does; the parent version's files are untouched (immutable
    * groups), so rollback is metadata-only. */
  def curate(spark: SparkSession, tableDir: String)(
      action: DataFrame => DataFrame): Long = {
    val v = latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val df = action(read(spark, tableDir, v))
    val (group, n) = writeGroup(df, tableDir)
    val schema = Some(storedSchema(df))
    // The action is arbitrary: a rebase would silently skip applying it
    // to a winner's rows, so any winner raises.
    commitLoop(spark, tableDir, v, Refuse, Seq(group)) { (_, p) =>
      enforceConstraints(spark, tableDir, group, schema, p.constraints)
      Manifest(Seq(group), n, "snapshot", "", schemaDdl = schema,
        constraints = p.constraints, fileRows = Map(group -> n))
    }
  }

  /** Test seam: runs once per rebase publish attempt, after the draft
    * is built over the latest winner and before the conditional
    * publish. CompactRebaseSpec injects appends here to force
    * deterministic race losses; production leaves it a no-op. */
  private[graft] var rebaseAttemptHook: () => Unit = () => ()

  /** REBASE publication for MAINTENANCE rewrites ([[compact]],
    * [[cluster]]) — Delta's OPTIMIZE conflict resolution: a compaction
    * of version P losing the publish race to PURE APPENDS must not
    * throw away its full rewrite (at 100 TB that is the whole table's
    * bytes) — the compacted groups plus the winners' APPENDED groups
    * are, together, exactly the latest version's content, so the
    * commit republishes that union at the new head. Rebase is sound
    * ONLY because compaction is row-invariant over its input: the
    * final table equals compacted(P) ∪ appends = latest. Anything
    * else among the winners — DML/snapshot (rows changed under us),
    * constraint DDL (the rewrite was never validated against it),
    * column DDL, or a column-mapped table (winner groups store
    * physical names this manifest's empty mapping would misread) —
    * deletes the written groups and raises
    * [[java.util.ConcurrentModificationException]], the pre-rebase
    * contract ([[commitLoop]]'s [[RebaseOverAppends]] rule). Winner
    * appends may EVOLVE the schema: the rebased manifest adopts the
    * latest schema and the compacted groups null-fill the new columns,
    * the same contract any old group has. Returns the published
    * version. */
  private[graft] def rebasePublish(
      spark: SparkSession, tableDir: String, expectedParent: Long,
      newGroups: Seq[(String, Long)],
      schemaDdl: Option[String]): Long = {
    val newRows = newGroups.map(_._2).sum
    commitLoop(spark, tableDir, expectedParent, RebaseOverAppends,
      newGroups.map(_._1)) { (parent, p) =>
      // Diff baseline pinned to the rewrite's ORIGINAL read version:
      // the extras must be files(parent) \ files(expectedParent). A
      // baseline that advances with `parent` across publish retries
      // silently drops the first retry window's appended groups on a
      // second race loss (observed as a lost 1000-row append in
      // CompactRebaseSpec).
      def baseline = try parseManifest(spark, tableDir, expectedParent)
        catch {
          case _: java.io.FileNotFoundException => cannotRebase(
            tableDir, expectedParent,
            s"parent version $expectedParent was vacuumed while rebasing")
        }
      val (extra, schema) =
        if (parent == expectedParent) (Seq.empty[String], schemaDdl)
        else (p.files.filterNot(baseline.files.toSet),
          p.schemaDdl.orElse(schemaDdl))
      // mode 'optimize' (Delta's operation name): maintenance rewrites
      // are row-invariant, and describeHistory readers deserve the
      // "this was a compaction, not a content change" signal; every
      // CDC/stream consumer treats any non-append mode as a rewrite
      // boundary, so the semantics are unchanged.
      Manifest(newGroups.map(_._1) ++ extra,
        newRows + groupRows(spark, tableDir, extra, p.schemaDdl,
          known = p.fileRows),
        "optimize", "", schemaDdl = schema,
        constraints = p.constraints, fileRows = newGroups.toMap)
    }
  }

  /** Read a version (default: latest) — `VERSION AS OF` for parquet.
    * A plain multi-path parquet scan: pushdown and pruning intact. With
    * a schema-bearing manifest the scan is inference-free and groups
    * missing an evolved column null-fill it (see [[scanGroups]]). */
  def read(spark: SparkSession, tableDir: String, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val m = parseManifest(spark, tableDir, v)
    require(m.files.nonEmpty, s"version $v of $tableDir lists no files")
    scanVersionGroups(spark, tableDir, m.files, m.schemaDdl, m.mapping, m.dvs)
  }

  /** TIMESTAMP AS OF: the largest version whose manifest `committed_at`
    * is at or before `ts` — Delta's second time-travel axis. Raises if
    * the table's history starts after `ts` (nothing existed then) or if
    * retention ([[vacuum]]) dropped every manifest at-or-before `ts`.
    * Metadata-only: a linear driver-side scan of the per-version JSON. */
  def versionAt(
      spark: SparkSession, tableDir: String, ts: java.time.Instant): Long = {
    val latest = latestVersion(spark, tableDir)
    require(latest >= 0, s"no versions committed under $tableDir")
    val at = (0L to latest).flatMap { v =>
      scala.util.Try(parseManifest(spark, tableDir, v)).toOption
        .filter(m => m.committedAt.nonEmpty &&
          !java.time.Instant.parse(m.committedAt).isAfter(ts))
        .map(_ => v)
    }
    require(at.nonEmpty,
      s"no version of $tableDir committed at or before $ts " +
        "(history starts later, or retention dropped it)")
    at.max
  }

  /** `TIMESTAMP AS OF` read: [[read]] at [[versionAt]]`(ts)`. */
  def readAsOf(
      spark: SparkSession, tableDir: String, ts: java.time.Instant): DataFrame =
    read(spark, tableDir, versionAt(spark, tableDir, ts))

  /** `read` + predicates with MANIFEST-LEVEL DATA SKIPPING — the
    * Delta/Iceberg data-skipping economics for versioned tables. Each
    * file group carries a min/max/null-count sidecar written at commit
    * time ([[GroupStats]]); `readWhere` resolves the predicates against
    * the table's schema, then excludes every group whose bounds prove
    * no row can match, BEFORE the scan is planned. The surviving scan
    * still applies the full predicate (skipping is an optimization,
    * never the filter), so the result is always exactly
    * `read(...).filter(preds)` — pruning can only shrink the file set.
    *
    * Why this beats parquet row-group stats at 100 TB: parquet prunes
    * per-task after scheduling; this prunes at PLANNING time from a few
    * KB of driver-side JSON, so a year-of-appends table answering a
    * one-week window never lists, opens, or schedules the other 51
    * weeks' groups. Groups without a sidecar (pre-feature tables) and
    * predicates the stats can't reason about (functions, column-vs-
    * column) are conservatively kept. */
  def readWhere(
      spark: SparkSession,
      tableDir: String,
      version: Long = -1L)(preds: Column*): DataFrame = {
    require(preds.nonEmpty, "readWhere needs at least one predicate; use read() otherwise")
    val v = if (version >= 0) version else latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val m = parseManifest(spark, tableDir, v)
    val groups = m.files
    require(groups.nonEmpty, s"version $v of $tableDir lists no files")
    val cond = preds.reduce(_ && _)
    val (kept, _) = pruneGroups(spark, tableDir, groups, m.schemaDdl, cond, m.mapping, m.fileStats)
    if (kept.isEmpty)
      scanVersionGroups(spark, tableDir, groups, m.schemaDdl, m.mapping, m.dvs)
        .filter(cond).limit(0)
    else scanVersionGroups(spark, tableDir, kept, m.schemaDdl, m.mapping, m.dvs)
      .filter(cond)
  }

  /** Partition `groups` into (mayMatch, provablyNoMatch) under `cond`
    * using the per-group stats sidecars — the planning-time skipping
    * shared by [[readWhere]], [[delete]] and [[merge]]. The predicate is
    * resolved ONCE against the full scan's schema (the optimized plan's
    * Filter has real attribute names, type-promoted literals, and
    * between/isin lowered to comparisons); groups without stats are
    * conservatively kept on the mayMatch side. Bounds come from the
    * MANIFEST's embedded stats first (`fileStats` — zero metadata I/O
    * beyond the already-parsed manifest); only groups the manifest
    * never recorded (pre-upgrade) pay the batched sidecar read. */
  private def pruneGroups(
      spark: SparkSession, tableDir: String, groups: Seq[String],
      schemaDdl: Option[String], cond: Column,
      mapping: Seq[(String, String)] = Seq.empty,
      fileStats: Map[String, String] = Map.empty): (Seq[String], Seq[String]) = {
    // Under column mapping the optimizer pushes `cond` through the
    // alias projection, so the extracted Filter already speaks PHYSICAL
    // names - the names the stats sidecars carry. A filter that cannot
    // push (nondeterministic) keeps logical names and conservatively
    // prunes nothing.
    val full = scanGroups(spark, tableDir, groups, schemaDdl, mapping)
    val resolved: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      full.filter(cond).queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    // No surviving Filter (a constant-true condition folds away, a
    // nondeterministic one cannot push) means the stats can prove
    // nothing — skip the whole stats pass instead of paying metadata
    // reads for scans that cannot prune.
    if (resolved.isEmpty) return (groups, Seq.empty)
    val fromManifest: Map[String, GroupStats.Stats] =
      groups.flatMap(g => fileStats.get(g)
        .flatMap(s => scala.util.Try(GroupStats.fromJson(s)).toOption)
        .map(g -> _)).toMap
    // pre-upgrade remainder: batched CONCURRENT sidecar reads (16-way
    // parallel, never one serial GET per group)
    val needSidecar = groups.filterNot(fromManifest.contains)
    val fromSidecars: Map[String, GroupStats.Stats] =
      if (needSidecar.isEmpty) Map.empty
      else {
        val f = fs(spark, tableDir)
        needSidecar.zip(GroupStats.readMany(
          f, needSidecar.map(g => GroupStats.sidecarPath(tableDir, g))))
          .collect { case (g, Some(st)) => g -> st }.toMap
      }
    val parts = groups
      .map(g => g -> fromManifest.get(g).orElse(fromSidecars.get(g)))
      .partition {
        case (_, Some(st)) => resolved.forall(e => GroupStats.mayMatch(st, e))
        case (_, None)     => true // no stats anywhere: cannot prune
      }
    (parts._1.map(_._1), parts._2.map(_._1))
  }

  /** Total rows across `groups`: manifest-recorded counts first (zero
    * I/O — `known` is the version's `fileRows` map), a one-time sidecar
    * fallback for pre-upgrade groups, one counting scan as the
    * pre-stats-table last resort. */
  private def groupRows(
      spark: SparkSession, tableDir: String, groups: Seq[String],
      schemaDdl: Option[String],
      mapping: Seq[(String, String)] = Seq.empty,
      known: Map[String, Long] = Map.empty): Long =
    if (groups.isEmpty) 0L
    else {
      val fromSidecars = sidecarRows(spark, tableDir,
        groups.filterNot(known.contains))
      val per = groups.map(g => known.get(g).orElse(fromSidecars.get(g)))
      if (per.forall(_.isDefined)) per.map(_.get).sum
      else scanGroups(spark, tableDir, groups, schemaDdl, mapping).count()
    }

  /** LIVE rows across a version's `groups`: manifest-recorded totals
    * minus the groups' deletion-vector counts — pure metadata. */
  private def liveGroupRows(
      spark: SparkSession, tableDir: String, groups: Seq[String],
      m: Manifest): Long = {
    val gs = groups.toSet
    groupRows(spark, tableDir, groups, m.schemaDdl, m.mapping, m.fileRows) -
      m.dvs.filter(d => gs(d._1)).map(_._3).sum
  }

  /** The DV-masked, row-identity-tagged live scan of `groups` —
    * [[scanVersionGroups]] content plus `__dv_rel`/`__dv_pos` (the
    * row's deletion-vector identity) and `__grp` (its owning group):
    * the frame every [[RowAction]] runs on. */
  private def liveTagged(
      spark: SparkSession, tableDir: String,
      groups: Seq[String], m: Manifest): DataFrame = {
    val gs = groups.toSet
    val dvFor = m.dvs.filter(d => gs(d._1))
    val tagged = scanGroupsTagged(spark, tableDir, groups, m.schemaDdl, m.mapping)
    val live =
      if (dvFor.isEmpty) tagged
      else tagged.join(dvMaskRows(spark, tableDir, dvFor),
        Seq("__dv_rel", "__dv_pos"), "left_anti")
    live.withColumn("__grp", org.apache.spark.sql.functions
      .substring_index(col("__dv_rel"), "/", 1))
  }

  /** The matched groups that go merge-on-read (the rest rewrite): a
    * group goes merge-on-read when its matched fraction of LIVE rows
    * is at or below `spark.graft.dv.maxDeleteFraction` (default 0.1;
    * 0 disables DVs). Group totals come from the manifest's recorded
    * counts (zero I/O), with a sidecar fallback only for groups a
    * pre-upgrade manifest never recorded; groups with no count at all
    * always rewrite.
    *
    * DV PRESSURE: repeated small mutations accrete positions without
    * bound (every scan pays the anti-join over them) — so a group
    * whose CUMULATIVE deleted fraction (prior vector + this mutation's
    * claims, over its total rows) would cross
    * `spark.graft.dv.maxCumulativeFraction` (default 0.5) is sent to
    * the REWRITE side instead, which materializes its vector away.
    * A group repeatedly 1%-deleted self-heals at the threshold rather
    * than carrying an ever-growing position list. */
  private def dvClassify(
      spark: SparkSession, tableDir: String,
      perGroup: Map[String, Long],
      dvByGroup: Map[String, (String, String, Long)],
      m: Manifest): Seq[String] = {
    val maxFrac = spark.conf.getOption("spark.graft.dv.maxDeleteFraction")
      .map(_.toDouble).getOrElse(0.1)
    // DVs disabled: everything rewrites — pay no sidecar I/O deciding it
    if (maxFrac <= 0.0) return Seq.empty
    val cumFrac = spark.conf.getOption("spark.graft.dv.maxCumulativeFraction")
      .map(_.toDouble).getOrElse(0.5)
    val fromSidecars = sidecarRows(spark, tableDir,
      perGroup.keys.toSeq.filterNot(m.fileRows.contains))
    perGroup.keys.toSeq.sorted.filter { g =>
      val total = m.fileRows.get(g).orElse(fromSidecars.get(g))
        .getOrElse(-1L)
      val prior = dvByGroup.get(g).map(_._3).getOrElse(0L)
      val live = total - prior
      live > 0 && perGroup(g).toDouble / live <= maxFrac &&
        (prior + perGroup(g)).toDouble / total <= cumFrac
    }
  }

  /** Read DV artifact rows for `dvs`' groups as
    * (__dv_rel, __dv_pos, __kind) — `kind` null-filled for artifacts
    * written before claims were kind-tagged. */
  private def dvRowsKinded(
      spark: SparkSession, tableDir: String,
      dvs: Seq[(String, String, Long)]): DataFrame = {
    // mergeSchema: see the run-collapse read — a pre-kind artifact
    // must not win inference and hide `kind` from the kinded ones
    val raw0 = spark.read.option("mergeSchema", "true").parquet(
      dvs.map(_._2).distinct.map(a => s"$tableDir/files/$a"): _*)
    val raw =
      if (raw0.columns.contains("kind")) raw0
      else raw0.withColumn("kind", lit(null).cast("string"))
    raw.filter(org.apache.spark.sql.functions
        .substring_index(col("rel"), "/", 1).isin(dvs.map(_._1).distinct: _*))
      .select(col("rel").as("__dv_rel"), col("pos").as("__dv_pos"),
        col("kind").as("__kind"))
  }

  /** Write ONE position artifact for `dvGroups`: this mutation's
    * claimed positions (`claimRows`, rows of `dvGroups` only) merged
    * with the groups' prior DV rows (at most one live DV entry per
    * group, always complete). Each fresh row is KIND-tagged (`kindCol`:
    * 'delete' or 'update') so the change feed can attribute a mixed
    * merge's position growth per row. Returns the new manifest
    * entries; empty when no group takes the DV path.
    *
    * ARTIFACT-ACCRETION BOUND: when `absorb` is non-empty (the caller
    * found the new manifest would reference more than
    * `spark.graft.dv.maxArtifacts` distinct artifact directories),
    * those carried groups' vectors fold into THIS artifact too and
    * their remapped entries return alongside the fresh ones — N
    * sequential one-row deletes keep a bounded artifact count instead
    * of one directory per mutation (old directories age out via
    * vacuum's reference counting). */
  private def writeDvArtifact(
      spark: SparkSession, tableDir: String, claimRows: DataFrame,
      dvGroups: Seq[String],
      dvByGroup: Map[String, (String, String, Long)],
      perGroup: Map[String, Long],
      kindCol: Column,
      absorb: Seq[(String, String, Long)]): Seq[(String, String, Long)] = {
    if (dvGroups.isEmpty) return Seq.empty
    val fresh = claimRows
      .select(col("__dv_rel").as("rel"), col("__dv_pos").as("pos"),
        kindCol.cast("string").as("kind"))
    val prior = dvGroups.flatMap(dvByGroup.get) ++ absorb
    val merged =
      if (prior.isEmpty) fresh
      else fresh.unionByName(
        dvRowsKinded(spark, tableDir, prior)
          .select(col("__dv_rel").as("rel"), col("__dv_pos").as("pos"),
            col("__kind").as("kind")))
    val artifact = s"dv-${java.util.UUID.randomUUID()}"
    // Position artifacts are tiny relative to data (bounded by the
    // threshold fraction of the touched groups); write them as FEW
    // files — inheriting the scan's partitioning would emit one
    // near-empty part file per scan task (a 10k-group scatter
    // delete = 10k files of overhead for KBs of positions). ~4M
    // (rel, pos) rows per output file keeps big DVs under control.
    val parts = math.max(1L, (dvGroups.map(perGroup).sum +
      dvGroups.flatMap(dvByGroup.get).map(_._3).sum +
      absorb.map(_._3).sum) / 4000000L).toInt
    // partial-write cleanup: see writeGroup — an orphaned partial dv-*
    // directory is unreclaimable and poison to schema-pinned readers
    try merged.coalesce(parts).write.parquet(s"$tableDir/files/$artifact")
    catch { case scala.util.control.NonFatal(e) =>
      scala.util.Try(fs(spark, tableDir)
        .delete(new Path(s"$tableDir/files/$artifact"), true))
      throw e
    }
    dvGroups.map(g => (g, artifact,
      perGroup(g) + dvByGroup.get(g).map(_._3).getOrElse(0L))) ++
      absorb.map { case (g, _, nPos) => (g, artifact, nPos) }
  }

  /** The mutation's DV carry plan: `carried` = prior entries that
    * survive into the new manifest unchanged (groups neither rewritten
    * nor re-vectored this round); `absorb` = those same entries marked
    * for the FOLD — non-empty iff carrying them as-is would leave the
    * new manifest referencing more than `spark.graft.dv.maxArtifacts`
    * (default 8) distinct artifact directories. [[mutate]] passes
    * `absorb` to [[writeDvArtifact]] (which re-emits the absorbed
    * entries under the fresh artifact) and publishes
    * `(if (absorb.isEmpty) carried else Nil) ++ dvAdditions` — the
    * absorbed groups MUST re-enter via dvAdditions or their deleted
    * rows would resurrect. */
  private def dvCarryPlan(
      spark: SparkSession, m: Manifest,
      untouched: Seq[String], dvGroups: Seq[String]):
      (Seq[(String, String, Long)], Seq[(String, String, Long)]) = {
    val unSet = untouched.toSet
    val dvSet = dvGroups.toSet
    val carried = m.dvs.filter(d => unSet(d._1) && !dvSet(d._1))
    val maxArtifacts = spark.conf.getOption("spark.graft.dv.maxArtifacts")
      .map(_.toInt).getOrElse(8)
    val absorb =
      if (dvGroups.isEmpty) Seq.empty
      else if (carried.map(_._2).distinct.size + 1 > maxArtifacts) carried
      else Seq.empty[(String, String, Long)]
    (carried, absorb)
  }

  /** The latest version of `tableDir` and its parsed manifest — the
    * prologue of every DML statement. */
  private def latestManifest(
      spark: SparkSession, tableDir: String): (Long, Manifest) = {
    val v = latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val m = parseManifest(spark, tableDir, v)
    require(m.files.nonEmpty, s"version $v of $tableDir lists no files")
    (v, m)
  }

  /** One DML statement's effect on each live row, over [[liveTagged]]:
    *  - `view` adds what the statement reads (a MERGE left-joins its
    *    source; GraftDml's NOT IN fallback flags its key-set hits);
    *  - `kind` (over the view) is NULL for a kept row and 'delete' or
    *    'update' for a claimed one — the label the deletion vector
    *    records per position. [[mutate]] evaluates it ONCE per row into
    *    the `__kind` column, so an image reads the claim as
    *    `col("__kind")` even after it reassigns the columns `kind`
    *    reads;
    *  - `image` projects kept and updated rows to their post-image,
    *    given the view and the table's column names;
    *  - `mor` marks the claims that may go merge-on-read: a group goes
    *    merge-on-read only when every one of its claims may. */
  private final case class RowAction(
      kind: Column,
      image: (DataFrame, Seq[String]) => DataFrame,
      view: DataFrame => DataFrame,
      mor: Column = lit(true))

  /** THE commit path of every DML statement — [[delete]], [[update]],
    * [[merge]], [[mergeClauses]] and GraftDml's NOT IN fallback — in
    * Delta's shape: find the touched groups, rewrite them or extend
    * their deletion vectors, commit.
    *  1. ONE probe aggregate over the DV-masked candidates `cand`
    *     (already stats-pruned) yields the touched groups AND each
    *     group's claim counts, so the merge-on-read decision costs no
    *     second scan. A candidate whose bounds overlapped but which
    *     holds no claimed row carries over metadata-only.
    *  2. A touched group whose claims may all go merge-on-read and
    *     whose claimed fraction passes [[dvClassify]] is NOT rewritten:
    *     its claimed positions join its deletion vector, and its update
    *     claims' post-images land in one COPIES group (Delta's DV-update
    *     shape). Every other touched group is rewritten — kept and
    *     updated rows, plus `inserted` — into ONE new group; a new
    *     group left empty is dropped unless it is all the version
    *     would list.
    *  3. Every written group is checked against the table's
    *     constraints, the live-row count is metadata arithmetic, and
    *     the commit is optimistic ([[commitLoop]]'s [[Refuse]] rule).
    *     EVERY group and artifact written is deleted on ANY failure
    *     past the first write: vacuum reclaims only manifest-referenced
    *     directories, so an orphan is permanent — and an orphaned dv-*
    *     artifact is worse than dead bytes (a schema-pinned file stream
    *     could ingest it as all-NULL table rows).
    * `mode` labels the commit, except that a statement whose entire
    * effect is merge-on-read commits under that effect — 'delete' when
    * every claim deletes, 'update' when every claim updates — so
    * [[changesFeed]] serves it row by row; mixed ones keep `mode`, with
    * KIND-tagged positions and the `copies` annotation. `schemaDdl`
    * overrides the manifest's schema for the written groups (a star
    * MERGE's validated source schema). Returns the new version, or `v`
    * unchanged when nothing is claimed and nothing inserted. */
  private def mutate(
      spark: SparkSession, tableDir: String, v: Long, m: Manifest,
      cand: Seq[String], act: RowAction, mode: String,
      inserted: Option[DataFrame] = None,
      schemaDdl: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{count, sum, when}
    // `groups`' live rows through the action's view, with the table's
    // column names
    def viewed(groups: Seq[String]): (DataFrame, Seq[String]) = {
      val scan = liveTagged(spark, tableDir, groups, m)
      (act.view(scan).withColumn("__kind", act.kind),
        scan.columns.filterNot(reservedCols).toSeq)
    }
    val kind = col("__kind")
    def postImage(rows: (DataFrame, Seq[String]), keep: Column): DataFrame =
      act.image(rows._1.filter(keep), rows._2).select(rows._2.map(col): _*)
    // per touched group: (claims, delete claims, claims barred from
    // merge-on-read)
    val probe: Map[String, (Long, Long, Long)] =
      if (cand.isEmpty) Map.empty
      else viewed(cand)._1.filter(kind.isNotNull).groupBy("__grp")
        .agg(count(lit(1)), sum(when(kind === "delete", 1L).otherwise(0L)),
          sum(when(act.mor, 0L).otherwise(1L)))
        .collect().map(r =>
          r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    if (probe.isEmpty && inserted.isEmpty) return v
    val claims = probe.map { case (g, c) => g -> c._1 }
    val dvByGroup = m.dvs.map(d => d._1 -> d).toMap
    val dvGroups = dvClassify(spark, tableDir,
      claims.filter { case (g, _) => probe(g)._3 == 0L }, dvByGroup, m)
    val dvSet = dvGroups.toSet
    val (touched, untouched) =
      m.files.partition(g => probe.contains(g) && !dvSet(g))
    val dvClaims = dvGroups.map(claims).sum
    val dvUpdates = dvClaims - dvGroups.map(probe(_)._2).sum
    val dvRows = if (dvGroups.isEmpty) None else Some(viewed(dvGroups))
    val copies =
      if (dvUpdates == 0L) None
      else dvRows.map(postImage(_, kind === "update"))
    val rewritten =
      if (touched.isEmpty) None
      else Some(postImage(viewed(touched),
        kind.isNull || kind =!= "delete"))
    val newData = (rewritten.toSeq ++ inserted).reduceOption(_ unionByName _)
    val ddl = schemaDdl.orElse(m.schemaDdl)
    val f = fs(spark, tableDir)
    val (dvCarried, dvAbsorb) = dvCarryPlan(spark, m, untouched, dvGroups)
    val dvAdditions = dvRows.fold(Seq.empty[(String, String, Long)])(rows =>
      writeDvArtifact(spark, tableDir, rows._1.filter(kind.isNotNull),
        dvGroups, dvByGroup, claims, kind, dvAbsorb))
    val written =
      scala.collection.mutable.ArrayBuffer[String](dvAdditions.map(_._2).distinct: _*)
    def write(df: DataFrame): (String, Long) = {
      val (g, n) = writeGroup(df, tableDir, m.mapping)
      written += g
      enforceConstraints(spark, tableDir, g, ddl, m.constraints, m.mapping)
      (g, n)
    }
    val (copiesGroup, newGroup) =
      try {
        val copiesGroup = copies.map(write)
        (copiesGroup, newData.map(write) match {
          case Some((g, 0L)) if untouched.nonEmpty || copiesGroup.nonEmpty =>
            f.delete(new Path(s"$tableDir/files/$g"), true)
            None
          case other => other
        })
      } catch {
        case scala.util.control.NonFatal(e) =>
          written.foreach(g => scala.util.Try(
            f.delete(new Path(s"$tableDir/files/$g"), true)))
          throw e
      }
    val added = newGroup.toSeq ++ copiesGroup.toSeq
    val label =
      if (dvAdditions.isEmpty || touched.nonEmpty || newGroup.nonEmpty) mode
      else if (dvUpdates == 0L) "delete"
      else if (dvUpdates == dvClaims) "update"
      else mode
    commitLoop(spark, tableDir, v, Refuse, written.toSeq) { (_, p) =>
      Manifest(untouched ++ added.map(_._1),
        liveGroupRows(spark, tableDir, untouched, m) - dvClaims +
          added.map(_._2).sum,
        label, "", schemaDdl = ddl, constraints = p.constraints,
        mapping = m.mapping,
        dvs = (if (dvAbsorb.isEmpty) dvCarried else Seq.empty) ++ dvAdditions,
        fileRows = m.fileRows ++ added, copies = copiesGroup.map(_._1).toSeq)
    }
  }

  /** `DELETE FROM ... WHERE preds` — Delta's delete economics over bare
    * parquet, in two phases:
    * 1. the stats sidecars prune to CANDIDATE groups at planning time
    *    (metadata-only, KB of driver-side JSON);
    * 2. one scan of the candidates finds the groups that actually hold
    *    a matching row ([[mutate]]'s probe); only THOSE change — a
    *    heavily-hit group is rewritten minus its matches, a group whose
    *    matched fraction of live rows is at or below
    *    `spark.graft.dv.maxDeleteFraction` records the deleted
    *    positions in a deletion vector instead (merge-on-read: a
    *    GDPR-style 1-row-in-each-of-10k-groups delete writes KBs of
    *    positions, not 10k groups' bytes; scans apply the vector and
    *    [[compact]]/[[cluster]] materialize it away). Every other group
    *    carries into the new manifest METADATA-ONLY — deleting one day
    *    from a year-of-appends table rewrites one group, not 365.
    * A predicate that matches NOTHING is a pure no-op: the current
    * version number returns and no new version is committed.
    *
    * SQL DELETE null semantics: rows where the predicate evaluates NULL
    * are KEPT (survivors are `NOT coalesce(pred, false)`), exactly as
    * `DELETE FROM t WHERE p` behaves in Spark/Delta/ANSI. History is
    * intact — the parent version still reads the pre-delete rows. CDC:
    * [[changes]] raises across a delete and [[pollChanges]] resyncs,
    * since a file-group difference cannot represent removed rows;
    * [[changesFeed]] serves a merge-on-read delete row by row (its new
    * positions are the deleted rows) and raises on a rewrite. Returns
    * the new (or unchanged) version. */
  def delete(spark: SparkSession, tableDir: String)(preds: Column*): Long = {
    require(preds.nonEmpty, "delete needs at least one predicate")
    val cond = preds.reduce(_ && _)
    mutateWhere(spark, tableDir, Some(cond), coalesce(cond, lit(false)), Nil)
  }

  /** `UPDATE ... SET assignments WHERE cond` — the third leg of the DML
    * triad ([[delete]], [[merge]]), same two-phase economics: stats
    * sidecars prune to candidates, one probe scan picks the groups
    * that actually hold a matching row, only those change (each
    * assignment applies under `coalesce(cond, false)` — NULL-predicate
    * rows are NOT updated, ANSI semantics; assignments apply in order,
    * so a later one reads an earlier one's result), everything else
    * carries metadata-only. The update may not reshape the table: an
    * assignment that would change a column's type raises before any
    * write. A no-match update returns the current version unchanged.
    *
    * MERGE-ON-READ updates: a touched group whose matched fraction of
    * live rows is at or below `spark.graft.dv.maxDeleteFraction` is
    * NOT rewritten — the updated copies of its matched rows land in
    * one new file group and the ORIGINAL positions join the group's
    * deletion vector (Delta's DV-update shape). A scattered update
    * (one row in each of 10k groups) writes the changed rows plus KBs
    * of positions instead of 10k groups' bytes. CDC: [[changes]]
    * raises across any update and [[pollChanges]] resyncs;
    * [[changesFeed]] reads a merge-on-read update as
    * update_preimage/update_postimage rows and raises on a rewrite. */
  def update(
      spark: SparkSession, tableDir: String, cond: Column,
      assignments: (String, Column)*): Long = {
    require(assignments.nonEmpty, "update needs at least one assignment")
    mutateWhere(spark, tableDir, Some(cond), cond.isNotNull && cond, assignments)
  }

  /** [[delete]] (no `assignments`) or [[update]] of the rows `claimed`
    * selects over `view` of the tagged live scan — a predicate for the
    * two public statements, a key-set join flag for GraftDml's
    * over-limit NOT IN fallback. `prune` (when derivable from the
    * claim) narrows the candidate groups through the stats sidecars;
    * `None` probes all. */
  private[graft] def mutateWhere(
      spark: SparkSession, tableDir: String, prune: Option[Column],
      claimed: Column, assignments: Seq[(String, Column)],
      view: DataFrame => DataFrame = identity): Long = {
    val (v, m) = latestManifest(spark, tableDir)
    val cand = prune.fold(m.files)(c =>
      pruneGroups(spark, tableDir, m.files, m.schemaDdl, c, m.mapping, m.fileStats)._1)
    val mode = if (assignments.isEmpty) "delete" else "update"
    val kind = org.apache.spark.sql.functions.when(claimed, lit(mode))
    def assign(df: DataFrame, tableCols: Seq[String]): DataFrame = {
      val resolver = org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution
      assignments.foreach { case (c, _) =>
        require(tableCols.exists(resolver(_, c)),
          s"update assignment targets unknown column '$c' " +
            s"(table has ${tableCols.mkString(", ")})")
      }
      val out = assignments.foldLeft(df) { case (d, (c, expr)) =>
        d.withColumn(c, org.apache.spark.sql.functions
          .when(col("__kind").isNotNull, expr).otherwise(col(c)))
      }
      df.schema.fields.zip(out.schema.fields).foreach { case (a, b) =>
        require(a.dataType == b.dataType,
          s"update may not change column types: ${a.name} " +
            s"${a.dataType.simpleString} -> ${b.dataType.simpleString} " +
            "(cast the assignment expression to the column's type)")
      }
      out
    }
    mutate(spark, tableDir, v, m, cand, RowAction(kind, assign, view), mode)
  }

  /** Copy-on-write MERGE (upsert-by-replacement) into a versioned table:
    * target rows whose `keyCols` match a source row are REPLACED by that
    * source row, unmatched target rows are kept, unmatched source rows
    * are inserted — `MERGE WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *`, run as exactly that [[mergeClauses]]
    * program with merge-on-read off: every touched group is rewritten.
    *
    * Delta's two-phase shape: the source's per-key min/max (ONE
    * aggregate, collected as 2·|keys| scalars) builds a range predicate
    * that prunes to CANDIDATE groups from the stats sidecars
    * (metadata-only); then one probe of the candidates against the
    * source keys finds the groups that actually hold a match — so a
    * source whose keys are scattered (two extreme ids, or fresh insert
    * keys beyond every bound) still rewrites only the files with real
    * matches. Soundness: a matched row needs equality on EVERY key, so
    * a group outside the source's range on any key provably holds no
    * match — a daily upsert against a time-keyed 100 TB table rewrites
    * the recent groups only.
    *
    * Contracts: the source schema must match the table's ([[append]]'s
    * no-evolution validation), and source keys must be UNIQUE — two
    * source rows matching one target row is ambiguous, and raises here
    * exactly as Delta's MERGE does. CDC: [[changes]] raises across any
    * merge and [[pollChanges]] resyncs; [[changesFeed]] serves an
    * insert-only merge as inserts and raises on a rewrite. Returns the
    * new (or unchanged) version. */
  def merge(
      spark: SparkSession,
      tableDir: String,
      source: DataFrame,
      keyCols: Seq[String]): Long = {
    import MergeClause._
    mergeWith(spark, tableDir, source, keyCols,
      Seq(MatchedUpdate(source.columns.toSeq.map(c => c -> col(s"SRC.$c"))),
        NotMatchedInsert()),
      onResidual = None, mergeOnRead = false)
  }

  /** ONE pass over a merge source decides its row count, the
    * duplicate-key guard AND the candidate key range. With the guard
    * the pass is one keyed query — `groupBy(keys).count()` kept to its
    * first count above 1 — and the count and key bounds ride on it as
    * `Dataset.observe` metrics (one shuffle; the count_distinct of a
    * key struct this replaces planned two). groupBy's keys treat NULL
    * as equal to NULL, so a source with duplicate all-NULL key tuples
    * still raises. Returns the row count and, when `needBounds` and the
    * source is non-empty, the range predicate `lo_k <= k <= hi_k` over
    * every key. */
  private def mergeSourceStats(
      src: DataFrame,
      keyCols: Seq[String],
      checkDups: Boolean,
      needBounds: Boolean): (Long, Option[Column]) = {
    import org.apache.spark.sql.functions.count
    val aggCols: Seq[Column] =
      count(lit(1)).as("__n") +:
        (if (needBounds)
          keyCols.flatMap(k =>
            Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")))
         else Nil)
    def aggregated: Map[String, Any] = {
      val r = src.agg(aggCols.head, aggCols.tail: _*).collect()(0)
      r.getValuesMap[Any](r.schema.fieldNames.toSeq)
    }
    val stats: Map[String, Any] =
      if (!checkDups) aggregated
      else {
        val obs = org.apache.spark.sql.Observation()
        val dup = src.observe(obs, aggCols.head, aggCols.tail: _*)
          .groupBy(keyCols.map(col): _*).count()
          .filter(col("count") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"merge source has duplicate keys on (${keyCols.mkString(", ")}); " +
            "a multiply-matched target row is ambiguous (Delta MERGE raises too)")
        // the optimizer drops the metrics over a provably empty source,
        // which leaves them empty: the plain aggregate answers then
        Some(obs.get).filter(_.nonEmpty).getOrElse(aggregated)
      }
    val n = stats("__n").asInstanceOf[Long]
    val rangePred =
      if (n == 0L || !needBounds) None
      else Some(keyCols.map { k =>
        col(k) >= lit(stats(s"__lo_$k")) && col(k) <= lit(stats(s"__hi_$k"))
      }.reduce(_ && _))
    (n, rangePred)
  }

  /** One clause of a general [[mergeClauses]] MERGE. Conditions and
    * assignment VALUES reference the target row as `TGT.col` and the
    * source row as `SRC.col` (the same fixed aliases the YAML merge
    * surface uses — [[Merge]]); assignment KEYS are plain target column
    * names. `condition = None` means "always". NOT-MATCHED-BY-SOURCE
    * conditions may reference only `TGT` (no source row exists). */
  sealed trait MergeClause
  object MergeClause {
    final case class MatchedUpdate(
        assignments: Seq[(String, Column)],
        condition: Option[Column] = None) extends MergeClause
    final case class MatchedDelete(
        condition: Option[Column] = None) extends MergeClause
    /** INSERT: with empty `assignments` this is INSERT * — the whole
      * source row (source schema must match the table's, as in
      * [[merge]]). With assignments it is Delta's partial-column
      * INSERT (c1, c2) VALUES (e1, e2): listed columns take their
      * expression (SRC-qualified references allowed), UNLISTED columns
      * are NULL — the reference's own upsert semantic
      * (`source/pyzzle/datasource/delta.py:146-147`). */
    final case class NotMatchedInsert(
        condition: Option[Column] = None,
        assignments: Seq[(String, Column)] = Seq.empty) extends MergeClause
    final case class NotMatchedBySourceUpdate(
        assignments: Seq[(String, Column)],
        condition: Option[Column] = None) extends MergeClause
    final case class NotMatchedBySourceDelete(
        condition: Option[Column] = None) extends MergeClause
  }

  /** GENERAL copy-on-write MERGE — the full Delta clause surface over
    * the same two-phase economics as [[merge]]:
    *
    *   WHEN MATCHED [AND c] THEN UPDATE SET a = e, ... | DELETE
    *   WHEN NOT MATCHED [AND c] THEN INSERT *
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE ... | DELETE
    *
    * Clauses are FIRST-APPLICABLE within their category, in the order
    * given (Delta's semantics); a row no clause claims is carried
    * unchanged. Matching is key equality on `keyCols` (the ON clause);
    * NULL keys never match.
    *
    * Scale shape: matched/insert work prunes exactly like [[merge]]
    * (source key range → candidate groups). NOT-MATCHED-BY-SOURCE
    * clauses act on rows ABSENT from the source, which any group may
    * hold — those clauses widen the candidates to the groups whose
    * stats admit a row satisfying their conditions (an unconditional
    * by-source clause probes every group, exactly the cost Delta pays
    * for it). One probe of the candidates evaluates every clause per
    * row ([[mutate]]): only groups holding a row some clause actually
    * CLAIMS change; every other group carries metadata-only.
    *
    * MERGE-ON-READ matched actions (Delta's DV-backed MERGE): a group
    * whose claims all come from MATCHED clauses and whose claimed
    * fraction of live rows is at or below
    * `spark.graft.dv.maxDeleteFraction` is NOT rewritten — delete
    * claims join its deletion vector, update claims
    * write updated copies into one new group ([[update]]'s shape); a
    * scattered-key SQL MERGE writes positions + changed rows instead
    * of every touched group. When the merge's entire effect is a pure
    * DV delete or a pure DV update it commits under that EFFECT mode
    * ('delete'/'update'); mixed DV merges commit as 'merge' with
    * KIND-TAGGED position rows and a `copies` manifest annotation, so
    * [[changesFeed]] serves every DV merge row-level — deletes,
    * update pre/post images, and inserts, correctly attributed.
    *
    * `onResidual` is the NON-KEY remainder of a general ON clause
    * (`MERGE ... ON t.k = s.k AND <residual>`), a row-local condition
    * over `TGT.*`/`SRC.*`: matched-ness becomes key equality AND the
    * residual (ANSI MERGE — a key-equal pair failing the residual is
    * NOT matched: the source row inserts, the target row is claimable
    * by NOT-MATCHED-BY-SOURCE clauses). NULL residual = not matched.
    * Candidate pruning still runs on the key range (sound: the residual
    * only shrinks the matched set); the touched-group probe and the
    * insert anti-join evaluate the FULL condition.
    *
    * Contracts: duplicate source keys raise when a MATCHED clause
    * exists (ambiguous, as Delta raises) — and always when a residual
    * is given (two same-key source rows with different residual truth
    * cannot be disambiguated per target row here; refusal is loud,
    * never a wrong merge); with an INSERT * clause the
    * source schema must match the table's; update assignments are cast
    * to the column's type and may not reshape the table. Returns the
    * new (or unchanged) version. */
  def mergeClauses(
      spark: SparkSession,
      tableDir: String,
      source: DataFrame,
      keyCols: Seq[String],
      clauses: Seq[MergeClause],
      onResidual: Option[Column] = None): Long =
    mergeWith(spark, tableDir, source, keyCols, clauses, onResidual,
      mergeOnRead = true)

  /** [[mergeClauses]] with merge-on-read switchable: off, every touched
    * group is rewritten — [[merge]]'s copy-on-write contract. */
  private def mergeWith(
      spark: SparkSession, tableDir: String, source: DataFrame,
      keyCols: Seq[String], clauses: Seq[MergeClause],
      onResidual: Option[Column], mergeOnRead: Boolean): Long = {
    import MergeClause._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(clauses.nonEmpty, "merge needs at least one clause")
    val matched = clauses.collect {
      case c: MatchedUpdate => c: MergeClause
      case c: MatchedDelete => c: MergeClause
    }
    val inserts = clauses.collect { case c: NotMatchedInsert => c }
    val bySource = clauses.collect {
      case c: NotMatchedBySourceUpdate => c: MergeClause
      case c: NotMatchedBySourceDelete => c: MergeClause
    }
    val (v, m) = latestManifest(spark, tableDir)
    // Only STAR inserts need the source to mirror the table; a partial
    // INSERT (cols) VALUES (...) source may have any shape (unlisted
    // table columns become NULL).
    val schemaDdl =
      if (inserts.exists(_.assignments.isEmpty))
        validateAppendSchema(source, m.schemaDdl, evolve = false)
      else m.schemaDdl
    val resolver = org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution
    keyCols.foreach(k => require(source.columns.exists(resolver(_, k)),
      s"merge key '$k' missing from the source " +
        s"(has ${source.columns.mkString(", ")})"))
    val src = source.capLineage()
    val (srcRows, rangePred) = mergeSourceStats(src, keyCols,
      checkDups = matched.nonEmpty || onResidual.isDefined,
      needBounds = matched.nonEmpty || inserts.nonEmpty)
    val srcEmpty = srcRows == 0L
    if (srcEmpty && bySource.isEmpty) return v

    // Candidate groups for MATCH-driven work: the source's key range.
    val cand: Seq[String] = rangePred.fold(Seq.empty[String])(pred =>
      pruneGroups(spark, tableDir, m.files, m.schemaDdl, pred, m.mapping, m.fileStats)._1)
    val srcKeys = src.select(keyCols.map(col): _*)
    val keyJoinCond = keyCols.map(k =>
      col(s"TGT.$k") === col(s"SRC.$k")).reduce(_ && _)
    // matched-ness = key equality AND the ON residual (when given)
    val matchCond = onResidual.foldLeft(keyJoinCond)(_ && _)
    // By-source clauses claim rows ABSENT from the source, which any
    // group may hold: their candidates are the groups whose stats admit
    // a row satisfying the (approximate) union of their conditions.
    val bsCand: Seq[String] =
      if (bySource.isEmpty) Seq.empty
      else {
        // the conditions speak TGT.*; the prune runs on the bare scan
        val bsCond = org.apache.spark.sql.graftshim.GraftSqlBridge
          .stripTgtQualifier(bySource.map {
            case NotMatchedBySourceUpdate(_, c) => c.getOrElse(lit(true))
            case NotMatchedBySourceDelete(c) => c.getOrElse(lit(true))
            case _ => lit(true)
          }.reduce(_ || _))
        pruneGroups(spark, tableDir, m.files, m.schemaDdl, bsCond, m.mapping, m.fileStats)._1
      }

    val tableSchema = scanGroups(spark, tableDir, m.files, m.schemaDdl, m.mapping)
      .schema
    val tableCols = tableSchema.fieldNames.toSeq
    clauses.foreach {
      case MatchedUpdate(as, _) => as.foreach { case (c, _) =>
        require(tableCols.exists(resolver(_, c)),
          s"merge assignment targets unknown column '$c'") }
      case NotMatchedBySourceUpdate(as, _) => as.foreach { case (c, _) =>
        require(tableCols.exists(resolver(_, c)),
          s"merge assignment targets unknown column '$c'") }
      case NotMatchedInsert(_, as) => as.foreach { case (c, _) =>
        require(tableCols.exists(resolver(_, c)),
          s"merge INSERT targets unknown column '$c'") }
      case _ => ()
    }

    // Shared clause machinery — the aliased source, the
    // first-applicable action id, and the per-column projection — used
    // by BOTH the merge-on-read path (claimed copies) and the rewrite.
    //
    // With no MATCHED clause AND no residual the join exists only to
    // FLAG matched-ness (by-source branches test !isM; no branch
    // reads SRC columns), so join the DISTINCT key set: a dup-keyed
    // source is legal for by-source-only programs (the dup check
    // above deliberately does not run) and the full source would
    // multiply matched target rows — every copy action-0-carried =
    // silent duplication. A residual may read any SRC column, so it
    // joins the full (dup-checked) source; the residual lives in the
    // JOIN condition, so a key-equal pair failing it yields SRC
    // nulls = not matched, exactly the ANSI reading.
    val s =
      (if (matched.nonEmpty || onResidual.isDefined) src
       else srcKeys.distinct())
        .withColumn("__src_match", lit(1)).alias("SRC")
    val isM = col("SRC.__src_match").isNotNull
    // ids: matched clauses 1..n, by-source clauses 101..: first
    // matching branch of the when-chain wins = clause order.
    val branches: Seq[(Column, Int, MergeClause)] =
      matched.zipWithIndex.map { case (c, i) =>
        val cond = c match {
          case MatchedUpdate(_, cc) => cc.getOrElse(lit(true))
          case MatchedDelete(cc) => cc.getOrElse(lit(true))
          case _ => lit(true)
        }
        (isM && cond, i + 1, c)
      } ++ bySource.zipWithIndex.map { case (c, j) =>
        val cond = c match {
          case NotMatchedBySourceUpdate(_, cc) => cc.getOrElse(lit(true))
          case NotMatchedBySourceDelete(cc) => cc.getOrElse(lit(true))
          case _ => lit(true)
        }
        (!isM && cond, 101 + j, c)
      }
    val action = branches.foldLeft(org.apache.spark.sql.functions
      .when(lit(false), 0)) { case (acc, (cond, id, _)) =>
        acc.when(cond, lit(id))
      }.otherwise(lit(0))
    val dropIds = branches.collect {
      case (_, id, _: MatchedDelete) => id
      case (_, id, _: NotMatchedBySourceDelete) => id
    }
    val out = tableSchema.fields.toSeq.map { f =>
      val updates = branches.collect {
        case (_, id, MatchedUpdate(as, _))
            if as.exists(a => resolver(a._1, f.name)) =>
          (id, as.find(a => resolver(a._1, f.name)).get._2)
        case (_, id, NotMatchedBySourceUpdate(as, _))
            if as.exists(a => resolver(a._1, f.name)) =>
          (id, as.find(a => resolver(a._1, f.name)).get._2)
      }
      updates.foldLeft(org.apache.spark.sql.functions
        .when(lit(false), col(s"TGT.${f.name}"))) { case (acc, (id, value)) =>
          acc.when(col("__action") === id, value.cast(f.dataType))
        }.otherwise(col(s"TGT.${f.name}")).as(f.name)
    }

    // UPDATE SET * + INSERT * without merge-on-read ([[merge]]): a
    // matched row's post-image IS its source row, so the rewrite drops
    // the matched target rows and the WHOLE source lands as inserts —
    // one join with the candidates instead of two (no anti-join of the
    // source against the candidates' keys).
    val replace = !mergeOnRead && onResidual.isEmpty && (clauses match {
      case Seq(MatchedUpdate(as, None), NotMatchedInsert(None, Seq())) =>
        as.forall { case (c, e) => e == col(s"SRC.$c") } &&
          tableCols.forall(t => as.exists(a => resolver(a._1, t)))
      case _ => false
    })

    // Inserts: source rows matching NOTHING in the candidate groups
    // (matches are provably confined there). FIRST-APPLICABLE clause
    // selection decides the inserted values: star clauses take the
    // whole source row, partial clauses take their assignment
    // expressions with unlisted table columns NULL (Delta's partial
    // INSERT — the reference's own upsert semantic).
    val inserted: Option[DataFrame] =
      if (replace) Some(src.select(tableCols.map(col): _*))
      else if (inserts.isEmpty || srcEmpty) None
      else {
        val insAction = inserts.zipWithIndex.foldLeft(
          org.apache.spark.sql.functions.when(lit(false), 0)) {
            case (acc, (c, i)) =>
              acc.when(c.condition.getOrElse(lit(true)), lit(i + 1))
          }.otherwise(lit(0))
        // NOT MATCHED = no target row satisfies keys AND residual: with
        // a residual the anti-join must evaluate the full condition
        // against candidate target ROWS (a key-equal pair failing the
        // residual still inserts — the classic ANSI MERGE trap); the
        // keys-only anti-join stays for the residual-free path (cheaper:
        // the right side is just the key columns).
        // DV-aware: a deletion-vector'd target row no longer exists,
        // so its key must NOT block the matching source row's insert.
        val notMatchedSrc: DataFrame = onResidual match {
          case None =>
            val candKeys =
              if (cand.isEmpty) srcKeys.limit(0)
              else scanVersionGroups(spark, tableDir, cand, m.schemaDdl,
                m.mapping, m.dvs).select(keyCols.map(col): _*)
            src.alias("SRC").join(candKeys, keyCols, "left_anti")
          case Some(_) if cand.isEmpty => src.alias("SRC")
          case Some(_) =>
            src.alias("SRC").join(
              scanVersionGroups(spark, tableDir, cand, m.schemaDdl,
                m.mapping, m.dvs).alias("TGT"),
              matchCond, "left_anti")
        }
        val claimed = notMatchedSrc
          .withColumn("__ins", insAction)
          .filter(col("__ins") =!= 0)
        val out = tableSchema.fields.toSeq.map { f =>
          inserts.zipWithIndex.foldLeft(
            org.apache.spark.sql.functions
              .when(lit(false), lit(null).cast(f.dataType))) {
              case (acc, (c, i)) =>
                val value =
                  if (c.assignments.isEmpty) col(s"SRC.${f.name}") // INSERT *
                  else c.assignments.find(a => resolver(a._1, f.name))
                    .map(_._2.cast(f.dataType))
                    .getOrElse(lit(null).cast(f.dataType))
                acc.when(col("__ins") === (i + 1), value)
            }.otherwise(lit(null).cast(f.dataType)).as(f.name)
        }
        Some(claimed.select(out: _*))
      }

    val deletes = if (replace) Seq(1) else dropIds
    val isDelete =
      if (deletes.isEmpty) lit(false) else col("__action").isin(deletes: _*)
    val act = RowAction(
      kind = org.apache.spark.sql.functions.when(isDelete, "delete")
        .when(col("__action") =!= 0, "update"),
      image = (df, _) => df.select(out: _*),
      view = _.alias("TGT").join(s, matchCond, "left")
        .withColumn("__action", action),
      // merge-on-read covers MATCHED claims only: a group holding a
      // by-source claim always rewrites
      mor = if (mergeOnRead) col("__action") <= matched.size else lit(false))
    // matched claims lie in the key-range candidates, by-source claims
    // in theirs
    val probed =
      (if (matched.isEmpty || srcEmpty) Set.empty[String] else cand.toSet) ++ bsCand
    mutate(spark, tableDir, v, m, m.files.filter(probed), act, "merge",
      inserted, schemaDdl)
  }

  /** OPTIMIZE-style compaction: rewrite the latest version's data as a
    * fresh file group sized to ~`targetFileBytes` output files and
    * commit it as a new SNAPSHOT version. Rows are identical (spec-
    * pinned); history is preserved — the parent version still reads its
    * own groups — and the superseded small groups are reclaimed by the
    * next [[vacuum]] once no kept version references them. Why it
    * matters at scale: an append-per-batch table accumulates one group
    * per commit, and a parquet scan's task count tracks FILE count, not
    * data size — a year of small appends turns every read into a
    * many-thousand-task scan. Compaction restores the scan shape
    * without giving up the append history or [[changes]] consumers
    * (which difference manifests, not data). Returns the new version. */
  def compact(
      spark: SparkSession,
      tableDir: String,
      targetFileBytes: Long = 128L << 20): Long = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val v = latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val groups = parseManifest(spark, tableDir, v).files
    val f = fs(spark, tableDir)
    val bytes = groups.map { g =>
      f.getContentSummary(new Path(s"$tableDir/files/$g")).getLength
    }.sum
    val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    val df = read(spark, tableDir, v).repartition(parts.toInt)
    val (group, n) = writeGroup(df, tableDir)
    enforceConstraints(spark, tableDir, group,
      Some(storedSchema(df)), constraints(spark, tableDir))
    // Rebase-aware publication: racing pure APPENDS merge into the
    // compacted commit instead of discarding the full rewrite.
    rebasePublish(spark, tableDir, v, Seq(group -> n), Some(storedSchema(df)))
  }

  /** OPTIMIZE ZORDER BY for versioned tables: rewrite the latest
    * version Z-ORDER-CLUSTERED on `dims` into `numGroups` file groups,
    * each holding one contiguous range of the Morton curve, and commit
    * the rewrite as a new SNAPSHOT version. Because every group is a
    * small hyper-rectangle of the combined dims domain, the per-group
    * min/max sidecars ([[GroupStats]]) come out TIGHT on every layout
    * dimension at once — so [[readWhere]] with a predicate on ANY of
    * the dims prunes ~n^((d-1)/d) of the groups at planning time. This
    * is the versioned composition of [[graft.sources.Layout]]'s curve
    * with the manifest's skipping stats: append-heavy tables whose
    * groups are arrival-ordered (stats span the whole domain, nothing
    * prunes) get re-laid so the stats work, without losing history —
    * the parent version still reads its own groups, and the superseded
    * ones vacuum away.
    *
    * Cost shape (all pay-once, at rewrite time): one quantile pass for
    * the dims' bucket boundaries, one for the z-value's group edges,
    * then a single hash exchange on the group id with an in-partition
    * (group, z) sort feeding a partitioned write — the same shuffle a
    * bucketed write pays. Choose `numGroups` so groups land near the
    * size [[compact]] would target; at 1000 executors the group count
    * also bounds skip granularity: more groups = finer pruning, more
    * manifest rows. Returns the new version number. */
  def cluster(
      spark: SparkSession,
      tableDir: String,
      dims: Seq[String],
      numGroups: Int,
      bitsPerDim: Int = 8): Long = {
    require(numGroups >= 1, s"numGroups must be >= 1: $numGroups")
    val v = latestVersion(spark, tableDir)
    require(v >= 0, s"no versions committed under $tableDir")
    val df = read(spark, tableDir, v)
    val boundaries = graft.sources.Layout.boundariesFor(df, dims, bitsPerDim)
    val withZ = graft.sources.Layout.withZValue(df, dims, boundaries, bitsPerDim)
    // Equi-depth edges over the z-value → group id = rank among edges.
    // Duplicate edges (few distinct z-values) just leave some groups
    // empty; the publish lists only the groups that materialized.
    // bucketRank, not size(filter(...)): ArrayFilter is CodegenFallback
    // and would drag the whole staging projection into interpreted eval.
    val gid: org.apache.spark.sql.Column =
      if (numGroups == 1) org.apache.spark.sql.functions.lit(0)
      else {
        import org.apache.spark.sql.functions._
        val probs = (1 until numGroups).map(_.toDouble / numGroups).toArray
        val edges = withZ.stat.approxQuantile("__z", probs, 1.0 / (numGroups * 4))
        graft.sources.Layout.bucketRank(col("__z").cast("double"), edges)
          .cast("int")
      }
    val staging = s"$tableDir/_staging/${java.util.UUID.randomUUID()}"
    withZ.withColumn("__gid", gid)
      .repartition(numGroups, org.apache.spark.sql.functions.col("__gid"))
      .sortWithinPartitions("__gid", "__z")
      .drop("__z")
      .write.partitionBy("__gid").parquet(staging)
    val f = fs(spark, tableDir)
    val stagingPath = new Path(staging)
    try {
      val gidDirs = f.listStatus(stagingPath)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("__gid="))
        .sortBy(_.getPath.getName.stripPrefix("__gid=").toInt)
      // ONE grouped aggregate over the staged write yields every
      // group's stats — the per-group read-back this replaces paid one
      // full scan job per gid dir. Read before the renames move the
      // dirs out of the staging root.
      val statsByGid = GroupStats.computeByKey(
        spark.read.parquet(staging), "__gid")
      val groups = gidDirs.map { s =>
        val gidNo = s.getPath.getName.stripPrefix("__gid=").toLong
        val g = java.util.UUID.randomUUID().toString
        require(f.rename(s.getPath, new Path(s"$tableDir/files/$g")),
          s"failed to move clustered group ${s.getPath} into place")
        val stats = statsByGid(gidNo)
        GroupStats.write(f, GroupStats.sidecarPath(tableDir, g), stats)
        (g, stats.nRows)
      }.toSeq
      // Rebase-aware publication (same contract as [[compact]]): racing
      // pure appends merge in as-is — their groups simply are not
      // z-clustered yet, exactly as if they had landed after.
      rebasePublish(spark, tableDir, v, groups, Some(storedSchema(df)))
    } finally {
      f.delete(stagingPath, true)
      // rmdir the shared staging root if now empty (a concurrent
      // cluster's staging dir makes this a no-op, hence the Try)
      scala.util.Try(f.delete(new Path(s"$tableDir/_staging"), false))
    }
  }

  /** Version modes whose manifests can only ADD file groups (append)
    * or leave them untouched (metadata-only DDL) — the modes a
    * file-group-differencing CDC window may safely cross. */
  private val appendSafeModes: Set[String] = Set(
    "append", "add_constraint", "drop_constraint",
    "rename_column", "drop_column")

  /** CDC-style incremental read: the rows ADDED after `fromVersion`, up
    * to `toVersion` (inclusive; default latest), served by reading ONLY
    * the file groups that joined the manifest in that range — the
    * incremental-consumer seam. Planning is metadata-only (a manifest
    * set difference); the scan never touches `fromVersion`'s data, so a
    * consumer that processed v_N and asks for `changes(N)` over a
    * 100 TB table reads just the appended groups, the same
    * cost-tracks-churn shape as [[Snapshot.diff]] and the incremental
    * dedup flavors. Every version in `(fromVersion, toVersion]` must be
    * an APPEND: a snapshot rewrites the file set, so "what changed"
    * stops being a file-group difference — crossing one raises (use
    * [[diffVersions]] for a row-level diff instead). */
  def changes(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    val to = if (toVersion >= 0) toVersion else latestVersion(spark, tableDir)
    require(fromVersion >= 0 && fromVersion <= to,
      s"invalid version range ($fromVersion, $to]")
    ((fromVersion + 1) to to).foreach { v =>
      val m = parseManifest(spark, tableDir, v)
      // Metadata-only versions (constraint and column DDL) keep the
      // file set untouched, so differencing across them stays sound —
      // a CDC consumer must not be forced to resync because someone
      // added a constraint or renamed a column mid-window. Rewrites
      // (snapshot/delete/update/merge/...) still raise.
      require(appendSafeModes(m.mode),
        s"changes($fromVersion, $to] crosses rewrite version $v " +
          s"(mode=${m.mode}); file-group differencing is only valid over " +
          "append/metadata chains — use diffVersions for a row-level diff")
    }
    val fromGroups = parseManifest(spark, tableDir, fromVersion).files.toSet
    val toManifest = parseManifest(spark, tableDir, to)
    val added = toManifest.files.filterNot(fromGroups)
    if (added.isEmpty) read(spark, tableDir, to).limit(0)
    else scanGroups(spark, tableDir, added, toManifest.schemaDdl, toManifest.mapping)
  }

  /** ROW-LEVEL CDC feed — Delta's Change Data Feed shape, derived
    * entirely from the manifest log plus deletion vectors (no extra
    * change files are ever written): every row added or removed in
    * `(fromVersion, toVersion]`, tagged with `_change_type`
    * ('insert' | 'delete' | 'update_preimage' | 'update_postimage'),
    * `_commit_version`, and `_commit_timestamp` (the version's manifest
    * `committed_at` — Delta CDF's full column triple).
    *
    *  - APPEND-safe versions emit their introduced file groups as
    *    inserts — the same metadata-only planning as [[changes]];
    *  - a PURE-DV delete (file set unchanged, deletion vectors grew)
    *    emits exactly the rows its position-diff removed: the groups
    *    are immutable, so the deleted rows' full pre-image values are
    *    still on disk, and one semi-join of the touched groups against
    *    the (rel, pos) diff recovers them — cost tracks the CHURN,
    *    never the table;
    *  - a MERGE-ON-READ update (no group removed; DVs grew and the
    *    updated copies landed as added groups) emits the DV growth as
    *    `update_preimage` and the added groups as `update_postimage`
    *    — Delta CDF's update pair, derived with zero write-time cost;
    *  - a DV-backed MERGE with mixed claims (mode 'merge', no group
    *    removed) splits its position growth per row by the artifact's
    *    claim kind (delete vs update_preimage), serves the manifest-
    *    annotated copies group as update_postimage, and any other
    *    added group as inserts;
    *  - a REWRITE (snapshot/compact/COW delete/update/merge — any
    *    version that REMOVES a file group, including a mixed
    *    DV+rewrite mutation) still raises: a file-group difference
    *    cannot attribute row identity across a rewrite (use
    *    [[diffVersions]] there).
    *
    * This is what a downstream sync (search index, cache, replica)
    * consumes to stay exact under the append + GDPR-delete lifecycle
    * without ever rescanning the table.
    *
    * REPLAY CONTRACT (same as Delta CDF): apply changes in
    * `_commit_version` order — inserts add, deletes remove,
    * update_preimage removes and update_postimage adds (or treat the
    * pair as one keyed upsert). A row updated in two versions of one
    * window emits TWO pre/post pairs, each diffed against ITS parent;
    * applying them out of version order (or applying only postimages
    * without removing preimages) double-counts. Aggregating consumers
    * that cannot key rows should group by `_commit_version` first. */
  def changesFeed(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      toVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{lit => flit}
    val to = if (toVersion >= 0) toVersion else latestVersion(spark, tableDir)
    require(fromVersion >= 0 && fromVersion <= to,
      s"invalid version range ($fromVersion, $to]")
    val pieces = changesFeedPieces(spark, tableDir, fromVersion, to)
    if (pieces.isEmpty)
      read(spark, tableDir, to).limit(0)
        .withColumn("_change_type", flit("insert"))
        .withColumn("_commit_version", flit(-1L))
        .withColumn("_commit_timestamp",
          flit(new java.sql.Timestamp(0L)))
    else pieces.reduce(_ unionByName _)
  }

  /** A manifest's commit instant as a timestamp literal — the CDF's
    * `_commit_timestamp` (Delta CDF's third column). Every manifest
    * this module writes records `committed_at`; a hand-built one that
    * does not would break the CDF's declared non-null schema, so raise
    * with the version named. */
  private[graft] def commitTs(m: Manifest, v: Long): java.sql.Timestamp = {
    require(m.committedAt.nonEmpty,
      s"manifest v$v has no committed_at — cannot derive _commit_timestamp")
    // TimestampType stores MICROSECONDS; truncate here so the value is
    // identical whether read back from the column or recomputed.
    java.sql.Timestamp.from(java.time.Instant.parse(m.committedAt)
      .truncatedTo(java.time.temporal.ChronoUnit.MICROS))
  }

  /** Delta's `table_changes('t', start [, end])` contract over
    * [[changesFeed]]: INCLUSIVE start — version `startVersion`'s OWN
    * changes are served (the same reading the streaming CDF source
    * gives `startingVersion`), and a start of 0 emits version 0's full
    * content as version-0 inserts (there is no parent to difference
    * against — Delta CDF does the same for a from-genesis read).
    * `endVersion < 0` = latest. This is the SQL TVF's engine; the SQL
    * surface is `SELECT ... FROM table_changes('dir-or-table', start
    * [, end])` under [[graft.sources.GraftExtensions]]. */
  def tableChanges(
      spark: SparkSession,
      tableDir: String,
      startVersion: Long,
      endVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{lit => flit}
    require(startVersion >= 0, s"startVersion must be >= 0: $startVersion")
    val to = if (endVersion >= 0) endVersion else latestVersion(spark, tableDir)
    if (startVersion > 0) return changesFeed(spark, tableDir, startVersion - 1, to)
    val m0 = parseManifest(spark, tableDir, 0L)
    val endMeta = parseManifest(spark, tableDir, to)
    val genesis = scanVersionGroups(spark, tableDir, m0.files,
      endMeta.schemaDdl, endMeta.mapping, m0.dvs)
      .withColumn("_change_type", flit("insert"))
      .withColumn("_commit_version", flit(0L))
      .withColumn("_commit_timestamp", flit(commitTs(m0, 0L)))
    (genesis +: changesFeedPieces(spark, tableDir, 0L, to))
      .reduce(_ unionByName _)
  }

  /** [[changesFeed]]'s frames (already `_change_type` /
    * `_commit_version`-tagged) — exposed so the streaming CDF source
    * can union and re-flag them without inheriting the batch wrapper's
    * empty-range `limit(0)` (a Limit is illegal in a streaming plan).
    *
    * PLAN-SIZE bound: consecutive insert-only versions COLLAPSE into
    * ONE scan over all their groups plus a broadcast-tiny
    * (group → version) map join — a year of daily appends replays as
    * one scan, not 365 — and consecutive pure-DV mutations (deletes,
    * merge-on-read updates, AND mixed DV merges, mixed freely)
    * collapse the same way into ≤ 3 frames per run
    * ([[dvMutRunPieces]]: one min-attributed positions frame whose
    * per-row change type rides the artifact's claim kind, one
    * postimage frame, one merge-insert frame), so a from-genesis CDF
    * stream's first micro-batch (which the engine never caps) cannot
    * blow the analyzer up with per-version plan nodes however the
    * history mixes appends, deletes, updates, and merges; the plan
    * grows with the RUN boundaries, not the version count. */
  private[graft] def changesFeedPieces(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      to: Long): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{lit => flit}
    val toManifest = parseManifest(spark, tableDir, to)
    // classification pass: metadata-only
    sealed trait Ev
    final case class Ins(v: Long, added: Seq[String], ts: java.sql.Timestamp) extends Ev
    // `mode` ∈ delete | update | merge — every non-rewrite DV mutation
    // joins ONE run kind; the run collapse attributes change types per
    // version (delete/update) or per ROW (merge, via the artifact's
    // claim kind), so mixed histories never pay per-version frames.
    final case class DvMut(v: Long, ts: java.sql.Timestamp,
        prev: Manifest, cur: Manifest, mode: String) extends Ev
    var prev = parseManifest(spark, tableDir, fromVersion)
    val events = scala.collection.mutable.ArrayBuffer.empty[Ev]
    ((fromVersion + 1) to to).foreach { v =>
      val cur = parseManifest(spark, tableDir, v)
      val ts = commitTs(cur, v)
      val prevSet = prev.files.toSet
      val curSet = cur.files.toSet
      // INSERT-ONLY MERGE detection: a merge that rewrote nothing and
      // touched no deletion vector only ADDED rows (the no-match
      // upsert case) — its new groups are pure inserts, same as an
      // append. Any merge that rewrote a group fails the file-subset
      // test; one that re-DV'd fails the dvs-equality test.
      val insertOnly = appendSafeModes(cur.mode) ||
        (cur.mode == "merge" && prev.files.forall(curSet) &&
          cur.dvs == prev.dvs)
      if (insertOnly) {
        val added = cur.files.filterNot(prevSet)
        if (added.nonEmpty) events += Ins(v, added, ts)
      } else if (cur.mode == "delete" && curSet == prevSet) {
        // pure-DV delete: removed rows = the per-group position growth.
        // CONSECUTIVE pure-DV mutations collapse into O(1) frames (see
        // dvMutRunPieces) — a year of daily GDPR deletes replays as
        // one artifact scan + one attribution join, not 365 frames.
        events += DvMut(v, ts, prev, cur, "delete")
      } else if (cur.mode == "update" && prev.files.forall(curSet)) {
        // merge-on-read UPDATE: the pre-images are the DV position
        // growth (same machinery as the delete branch), the
        // post-images are the version's ADDED groups — the updated
        // copies. Delta CDF's update_preimage/update_postimage pair.
        // Rides the same run consolidation as pure-DV deletes.
        events += DvMut(v, ts, prev, cur, "update")
      } else if (cur.mode == "merge" && prev.files.forall(curSet)) {
        // MIXED DV-backed MERGE (pure delete/update shapes publish
        // under their effect mode and take the branches above): the
        // position growth splits PER ROW by its artifact-recorded
        // claim kind — delete claims emit 'delete', update claims
        // 'update_preimage' — the manifest's `copies` annotation
        // yields 'update_postimage', and any other added group is
        // the insert clauses' rows. Rides the SAME run consolidation
        // as deletes/updates: the artifact's per-position kind travels
        // with the min-over-appearances attribution, so a years-of-
        // daily-merges history replays in ≤ 3 frames, not one each.
        events += DvMut(v, ts, prev, cur, "merge")
      } else {
        throw new IllegalArgumentException(
          s"changesFeed($fromVersion, $to] crosses rewrite version $v " +
            s"(mode=${cur.mode}); row-level change attribution across a " +
            "rewrite is impossible from file groups — use diffVersions")
      }
      prev = cur
    }
    // collapse consecutive insert versions into one scan + version map
    // THE two construction sites for CDF-attributed group scans —
    // every piece shape (insert runs, update postimages, merge copies
    // and inserts) goes through one of these, so the CDF column
    // construction (incl. the nullability alignment the streaming
    // source's strict schema check depends on) lives in one place.
    // LITERAL attribution: all of `groups` belongs to one version.
    def taggedScanLit(groups: Seq[String], changeType: String,
        v: Long, ts: java.sql.Timestamp): DataFrame =
      scanGroups(spark, tableDir, groups, toManifest.schemaDdl,
        toManifest.mapping)
        .withColumn("_change_type", flit(changeType))
        .withColumn("_commit_version", flit(v))
        .withColumn("_commit_timestamp", flit(ts))
    // MAP attribution: one scan over many versions' groups, each row
    // tagged with ITS group's (version, ts) through a broadcast map.
    // The encoder marks the Timestamp field nullable; coalesce it back
    // to non-nullable (never hit — every entry carries a ts) so ALL
    // pieces agree on the CDF columns' nullability.
    def taggedScanMap(entries: Seq[(String, Long, java.sql.Timestamp)],
        changeType: String, fallbackTs: java.sql.Timestamp): DataFrame = {
      import spark.implicits._
      val vmap = org.apache.spark.sql.functions.broadcast(
        entries.toDF("__grp", "__cv", "__ct")
          .withColumn("__ct", coalesce(col("__ct"), flit(fallbackTs))))
      scanGroupsTagged(spark, tableDir, entries.map(_._1),
        toManifest.schemaDdl, toManifest.mapping)
        .withColumn("__grp", org.apache.spark.sql.functions
          .substring_index(col("__dv_rel"), "/", 1))
        .join(vmap, Seq("__grp"))
        .withColumn("_change_type", flit(changeType))
        .withColumn("_commit_version", col("__cv"))
        .withColumn("_commit_timestamp", col("__ct"))
        .drop("__grp", "__cv", "__ct", "__dv_rel", "__dv_pos")
    }
    def insertPiece(run: Seq[Ins]): DataFrame =
      if (run.size == 1)
        taggedScanLit(run.head.added, "insert", run.head.v, run.head.ts)
      else taggedScanMap(
        run.flatMap(i => i.added.map(g => (g, i.v, i.ts))), "insert",
        run.head.ts)
    // A RUN of consecutive pure-DV mutations (deletes AND merge-on-read
    // updates) collapses into O(1) frames: every distinct artifact any
    // run version (plus the run's parent) references is read in ONE
    // scan, each position is attributed to the FIRST version whose
    // artifact carries it (positions only grow within a run, and every
    // artifact is the group's complete merged set — so
    // min-over-appearances is the commit version, and a position
    // already present in the parent's artifact attributes to the parent
    // and drops out); the version's MODE decides the row's change type
    // ('delete' vs 'update_preimage'). Update versions' POSTIMAGES —
    // their added copies groups — collapse into one more frame via the
    // same broadcast (group -> version) map the insert-run collapse
    // uses. Artifact compaction (absorb) remaps untouched groups to
    // fresh artifacts with UNCHANGED positions; those positions still
    // appear in the parent pair, so the min filters them — no spurious
    // changes. Plan cost: <= 2 frames per run instead of O(run length).
    def dvMutRunPieces(dvRun: Seq[DvMut]): Seq[DataFrame] = {
      import spark.implicits._
      if (dvRun.size == 1) {
        val d = dvRun.head
        if (d.mode == "delete")
          return Seq(dvGrowthRows(spark, tableDir, d.prev, d.cur, toManifest)
            .drop("__kind")
            .withColumn("_change_type", flit("delete"))
            .withColumn("_commit_version", flit(d.v))
            .withColumn("_commit_timestamp", flit(d.ts)))
        val prevSet1 = d.prev.files.toSet
        if (d.mode == "update") {
          val pre = dvGrowthRows(spark, tableDir, d.prev, d.cur, toManifest)
            .drop("__kind")
            .withColumn("_change_type", flit("update_preimage"))
            .withColumn("_commit_version", flit(d.v))
            .withColumn("_commit_timestamp", flit(d.ts))
          val post = taggedScanLit(d.cur.files.filterNot(prevSet1),
            "update_postimage", d.v, d.ts)
          return Seq(pre.unionByName(post))
        }
        // single mixed MERGE: per-row kind split of the growth, the
        // copies group as postimages, remaining added groups as inserts
        val growth = dvGrowthRows(spark, tableDir, d.prev, d.cur, toManifest)
          .withColumn("__kind", coalesce(col("__kind"), flit("update")))
        val del = growth.filter(col("__kind") === "delete").drop("__kind")
          .withColumn("_change_type", flit("delete"))
          .withColumn("_commit_version", flit(d.v))
          .withColumn("_commit_timestamp", flit(d.ts))
        val pre = growth.filter(col("__kind") =!= "delete").drop("__kind")
          .withColumn("_change_type", flit("update_preimage"))
          .withColumn("_commit_version", flit(d.v))
          .withColumn("_commit_timestamp", flit(d.ts))
        val copiesSet = d.cur.copies.toSet
        val added = d.cur.files.filterNot(prevSet1)
        val post =
          if (d.cur.copies.isEmpty) Seq.empty[DataFrame]
          else Seq(taggedScanLit(d.cur.copies, "update_postimage", d.v, d.ts))
        val insGroups = added.filterNot(copiesSet)
        val ins =
          if (insGroups.isEmpty) Seq.empty[DataFrame]
          else Seq(taggedScanLit(insGroups, "insert", d.v, d.ts))
        return Seq((Seq(del, pre) ++ post ++ ins).reduce(_ unionByName _))
      }
      val base = dvRun.head.prev
      val baseV = dvRun.head.v - 1
      // (artifact, group) -> earliest version it is the group's entry
      val entries: Seq[(String, String, Long)] =
        (base.dvs.map(e => (e._2, e._1, baseV)) ++
          dvRun.flatMap(d => d.cur.dvs.map(e => (e._2, e._1, d.v))))
          .groupBy(t => (t._1, t._2))
          .map { case ((a, g), vs) => (a, g, vs.map(_._3).min) }.toSeq
      val amap = org.apache.spark.sql.functions.broadcast(
        entries.toDF("__art", "__grp", "__v0"))
      // per-version metadata: timestamp + how to type the pre-image
      // rows — 'delete'/'update_preimage' for whole-version modes, or
      // the MERGE flag that defers to the row's artifact claim kind.
      val vmeta = org.apache.spark.sql.functions.broadcast(
        dvRun.map(d => (d.v, d.ts,
            if (d.mode == "update") "update_preimage" else "delete",
            d.mode == "merge"))
          .toDF("__v0", "__ct", "__chg", "__mrg")
          .withColumn("__ct", coalesce(col("__ct"), flit(dvRun.head.ts))))
      val sub = org.apache.spark.sql.functions.substring_index _
      // Position attribution: min version over appearances. The KIND
      // travels alongside — a position's claim kind is recorded once
      // and carried verbatim through every later merged artifact (and
      // absorb folds), so max() over appearances (null-skipping, for
      // pre-kind artifacts) recovers it exactly.
      // mergeSchema: the run may span artifacts written before claims
      // were kind-tagged beside ones written after — without the merge
      // a pre-kind file can win schema inference and silently drop the
      // `kind` column for the WHOLE read, mistyping merge delete
      // claims. The merged schema null-fills kind for old files —
      // exactly the conservative reading. Artifact file counts are
      // small (KB-scale positions), so the footer merge is cheap.
      val rawPos0 = spark.read.option("mergeSchema", "true").parquet(
        entries.map(_._1).distinct.map(a => s"$tableDir/files/$a"): _*)
      val rawPos =
        if (rawPos0.columns.contains("kind")) rawPos0
        else rawPos0.withColumn("kind", flit(null).cast("string"))
      val positions = rawPos
        .withColumn("__art", sub(sub(
          org.apache.spark.sql.functions.input_file_name(), "/files/", -1),
          "/", 1))
        .withColumn("__grp", sub(col("rel"), "/", 1))
        .select(col("rel"), col("pos"), col("kind"), col("__art"), col("__grp"))
        .join(amap, Seq("__art", "__grp"))
        .groupBy(col("rel").as("__dv_rel"), col("pos").as("__dv_pos"))
        .agg(org.apache.spark.sql.functions.min(col("__v0")).as("__v0"),
          org.apache.spark.sql.functions.max(col("kind")).as("__kind"))
        .filter(col("__v0") > lit(baseV))
      // only groups whose vector actually grew need scanning
      val baseBy = base.dvs.map(d => d._1 -> d._3).toMap
      val grownGroups = dvRun.last.cur.dvs
        .filter(d => d._3 > baseBy.getOrElse(d._1, 0L)).map(_._1)
      // coalesce on the change columns is the nullability-alignment
      // trick (encoders/min() mark them nullable; the streaming CDF
      // source holds every piece to the declared NON-NULL schema) —
      // the literal arms are never hit (every position joined a version)
      val rowChange = org.apache.spark.sql.functions.when(
        col("__mrg") && col("__kind") === "delete", flit("delete"))
        .when(col("__mrg"), flit("update_preimage"))
        .otherwise(col("__chg"))
      val preFrame = scanGroupsTagged(spark, tableDir, grownGroups,
          toManifest.schemaDdl, toManifest.mapping)
        .join(positions, Seq("__dv_rel", "__dv_pos"))
        .join(vmeta, Seq("__v0"))
        .withColumn("_change_type", coalesce(rowChange, flit("delete")))
        .withColumn("_commit_version",
          coalesce(col("__v0"), flit(dvRun.head.v)))
        .withColumn("_commit_timestamp", col("__ct"))
        .drop("__v0", "__ct", "__chg", "__mrg", "__kind", "__dv_rel", "__dv_pos")
      // postimages: update versions' added groups plus merge versions'
      // annotated copies groups — all in one scan, version-attributed
      // through the broadcast map (insertPiece's shape — the groups
      // are disjoint across versions by construction)
      val copies: Seq[(String, Long, java.sql.Timestamp)] = dvRun
        .flatMap { d =>
          if (d.mode == "update") {
            val prevSet1 = d.prev.files.toSet
            d.cur.files.filterNot(prevSet1).map(g => (g, d.v, d.ts))
          } else if (d.mode == "merge") d.cur.copies.map(g => (g, d.v, d.ts))
          else Seq.empty
        }
      // merge versions' insert-clause groups: added, not copies
      val mergeIns: Seq[(String, Long, java.sql.Timestamp)] = dvRun
        .filter(_.mode == "merge").flatMap { d =>
          val prevSet1 = d.prev.files.toSet
          val cp = d.cur.copies.toSet
          d.cur.files.filterNot(prevSet1).filterNot(cp)
            .map(g => (g, d.v, d.ts))
        }
      Seq(preFrame) ++
        (if (copies.isEmpty) Seq.empty
         else Seq(taggedScanMap(copies, "update_postimage", dvRun.head.ts))) ++
        (if (mergeIns.isEmpty) Seq.empty
         else Seq(taggedScanMap(mergeIns, "insert", dvRun.head.ts)))
    }
    val pieces = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val run = scala.collection.mutable.ArrayBuffer.empty[Ins]
    val dvRun = scala.collection.mutable.ArrayBuffer.empty[DvMut]
    def flushRun(): Unit =
      if (run.nonEmpty) { pieces += insertPiece(run.toSeq); run.clear() }
    def flushDvRun(): Unit =
      if (dvRun.nonEmpty) { pieces ++= dvMutRunPieces(dvRun.toSeq); dvRun.clear() }
    events.foreach {
      case i: Ins => flushDvRun(); run += i
      case d: DvMut => flushRun(); dvRun += d
    }
    flushRun(); flushDvRun()
    pieces.toSeq
  }

  /** The rows whose positions JOINED the deletion vectors between
    * `prev` and `cur` (full pre-image values, read back from the
    * immutable groups) — [[changesFeed]]'s delete / update_preimage
    * machinery. */
  private def dvGrowthRows(
      spark: SparkSession, tableDir: String,
      prev: Manifest, cur: Manifest, toManifest: Manifest): DataFrame = {
    val prevBy = prev.dvs.map(d => d._1 -> d).toMap
    val grown = cur.dvs.filter(d =>
      d._3 > prevBy.get(d._1).map(_._3).getOrElse(0L))
    // A published DV delete/update always grows at least one vector, so
    // this cannot fire today — but dvMaskRows on an EMPTY artifact list
    // would die in spark.read.parquet() with an opaque zero-path
    // AnalysisException; pin the invariant with a clear message so a
    // future mode-classification drift fails diagnosably.
    require(grown.nonEmpty,
      s"changesFeed: version classified as a DV mutation of $tableDir " +
        "grew no deletion vector — manifest mode/dv state is inconsistent")
    val curRows = dvRowsKinded(spark, tableDir, grown)
    val prevFor = grown.flatMap(d => prevBy.get(d._1))
    val diff =
      if (prevFor.isEmpty) curRows
      else curRows.join(dvMaskRows(spark, tableDir, prevFor),
        Seq("__dv_rel", "__dv_pos"), "left_anti")
    val total = grown.map(_._3).sum
    val cap = spark.conf.getOption("spark.graft.dv.broadcastRows")
      .map(_.toLong).getOrElse(4000000L)
    val diffSide = if (total <= cap)
      org.apache.spark.sql.functions.broadcast(diff) else diff
    // INNER join (positions are unique per group by the merged-set
    // invariant) keeps `__kind` — the per-row claim class the mixed-
    // merge feed branch splits on; plain delete/update callers drop it.
    scanGroupsTagged(spark, tableDir, grown.map(_._1),
      toManifest.schemaDdl, toManifest.mapping)
      .join(diffSide, Seq("__dv_rel", "__dv_pos"))
      .drop("__dv_rel", "__dv_pos")
  }

  /** Version history: (version, mode, n_rows), ascending. */
  def versions(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    (0L to latestVersion(spark, tableDir)).flatMap { v =>
      scala.util.Try(parseManifest(spark, tableDir, v)).toOption
        .map(m => (v, m.mode, m.nRows))
    }.toDF("version", "mode", "n_rows")
  }

  /** `DESCRIBE HISTORY`-style audit surface: one row per committed
    * version with mode, row count, file-group count, the commit
    * timestamp recorded in the manifest, and whether the version's file
    * groups are still fully present on disk (false after a [[vacuum]]
    * that dropped them — the row stays, so the audit trail survives the
    * data). Vacuumed-away versions whose MANIFEST was dropped do not
    * appear, matching Delta's behavior of history following retention. */
  def describeHistory(spark: SparkSession, tableDir: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, tableDir)
    // groups and artifacts repeat across versions: one exists/size probe
    // per DISTINCT name for the whole history, not per version — a
    // long-history audit pays O(distinct groups) driver round-trips,
    // not O(versions x groups)
    val sizeOf = scala.collection.mutable.Map.empty[String, Long]
    val existsOf = scala.collection.mutable.Map.empty[String, Boolean]
    (0L to latestVersion(spark, tableDir)).flatMap { v =>
      scala.util.Try(parseManifest(spark, tableDir, v)).toOption.map { m =>
        val present = m.files.forall(g => existsOf.getOrElseUpdate(g,
          f.exists(new Path(s"$tableDir/files/$g"))))
        val artifacts = m.dvs.map(_._2).distinct
        val dvBytes = artifacts.map(a => sizeOf.getOrElseUpdate(a,
          scala.util.Try(f.getContentSummary(
            new Path(s"$tableDir/files/$a")).getLength).getOrElse(0L))).sum
        (v, m.mode, m.nRows, m.files.size.toLong, m.committedAt, present,
          m.dvs.map(_._3).sum, artifacts.size.toLong, dvBytes)
      }
    }.toDF("version", "mode", "n_rows", "n_files", "committed_at", "readable",
      "dv_rows", "dv_files", "dv_bytes")
    // dv_rows = positions carried by the version's deletion vectors —
    // the DV-pressure gauge (rewrites/compacts drop it back to 0);
    // dv_files/dv_bytes = the ARTIFACT-ACCRETION gauge: distinct
    // position-artifact directories the version references and their
    // on-disk bytes (bounded by spark.graft.dv.maxArtifacts — repeated
    // small mutations fold into one artifact at the threshold; a
    // vacuumed-away artifact reads as 0 bytes, not an error).
    // committed_at stays the manifest's ISO-8601 instant string:
    // Instant.toString emits 0/3/6/9 fractional digits, so a fixed
    // timestamp parse would be fragile, and an audit surface wants the
    // recorded value verbatim anyway.
  }

  /** Delete file groups referenced ONLY by versions older than
    * `keepFrom` and drop those versions' manifests — the Delta VACUUM
    * analog. Retention is by VERSION (not wall-clock): everything
    * `>= keepFrom` stays fully readable, shared groups survive as long
    * as ANY kept version lists them. Returns (droppedVersions,
    * deletedGroups). Irreversible; callers choose `keepFrom` the way
    * they would a Delta retention window. */
  def vacuum(spark: SparkSession, tableDir: String, keepFrom: Long): (Long, Long) = {
    val f = fs(spark, tableDir)
    val latest = latestVersion(spark, tableDir)
    require(keepFrom >= 0 && keepFrom <= latest,
      s"keepFrom must be within [0, $latest]: $keepFrom")
    // Deletion-vector artifacts live under files/ too and follow the
    // same reference-counted lifecycle as data groups.
    val all = (0L to latest).flatMap { v =>
      scala.util.Try(parseManifest(spark, tableDir, v)).toOption
        .map(m => v -> (m.files ++ m.dvs.map(_._2).distinct))
    }
    val keptGroups = all.collect { case (v, gs) if v >= keepFrom => gs }.flatten.toSet
    val dropGroups = all.collect { case (v, gs) if v < keepFrom => gs }.flatten.toSet
      .diff(keptGroups)
    val dropVersions = all.collect { case (v, _) if v < keepFrom => v }
    // The retention BOUNDARY must stay standalone-resolvable: if its
    // record is a delta (parent chain about to be dropped), publish a
    // checkpoint sidecar (c<v>.json, a full record) FIRST — readers
    // divert to it when the parent read comes back FileNotFound. The
    // sidecar lands create-exclusive BEFORE any manifest is deleted,
    // so a racing reader always finds either the chain or the sidecar.
    if (dropVersions.nonEmpty && keepFrom > 0) {
      val raw = recordRaw(f, manifestPath(tableDir, keepFrom))
      if (ManifestCodec.isDelta(
          ManifestCodec.parse(raw, s"manifest v$keepFrom of $tableDir"))) {
        // the resolved state as a standalone full record, keeping its
        // committed_at (time travel and history read it verbatim)
        val m = parseManifest(spark, tableDir, keepFrom)
        val created = graft.sources.FsAtomic.createExclusive(
          f, checkpointPath(tableDir, keepFrom),
          ManifestCodec.encodeFull(keepFrom, m))
        // The sidecar is what keeps the surviving table readable: a
        // swallowed write failure followed by the manifest deletes
        // below would leave EVERY version >= keepFrom unresolvable.
        // `false` is fine only when the sidecar already exists (an
        // earlier vacuum attempt) — verify before destroying anything.
        require(created || f.exists(checkpointPath(tableDir, keepFrom)),
          s"vacuum aborted: could not write the boundary checkpoint " +
            s"sidecar ${checkpointPath(tableDir, keepFrom)} — retention " +
            "not applied, table left untouched")
      }
    }
    dropGroups.foreach(g => f.delete(new Path(s"$tableDir/files/$g"), true))
    dropVersions.foreach { v =>
      f.delete(manifestPath(tableDir, v), false)
      // a dropped version's own checkpoint sidecar (a PREVIOUS vacuum
      // boundary) goes with it
      scala.util.Try(f.delete(checkpointPath(tableDir, v), false))
    }
    (dropVersions.size.toLong, dropGroups.size.toLong)
  }

  /** Wall-clock retention — the `RETAIN n HOURS` shape on top of
    * [[vacuum]]: drop every version whose manifest `committed_at` is
    * strictly before `cutoff`, except that the LATEST version is always
    * kept (a fully-expired table must stay readable, matching Delta's
    * guarantee). `keepFrom` is the first version at-or-after the
    * cutoff, so retention stays version-contiguous: a version is never
    * dropped while an OLDER one survives. Returns (droppedVersions,
    * deletedGroups). */
  def vacuumOlderThan(
      spark: SparkSession,
      tableDir: String,
      cutoff: java.time.Instant): (Long, Long) = {
    val latest = latestVersion(spark, tableDir)
    require(latest >= 0, s"no versions committed under $tableDir")
    val keepFrom = (0L to latest).find { v =>
      scala.util.Try(parseManifest(spark, tableDir, v)).toOption.exists { m =>
        m.committedAt.nonEmpty &&
          !java.time.Instant.parse(m.committedAt).isBefore(cutoff)
      }
    }.getOrElse(latest)
    vacuum(spark, tableDir, keepFrom)
  }

  /** CDC cursor — the consumer side of [[changes]]: given the last
    * version this consumer processed, return (new rows, advanced
    * cursor, resync flag). Over an all-append window the rows are
    * served from only the appended file groups, exactly [[changes]];
    * when a snapshot/rewrite intervened (or the cursor predates
    * retention), file-group differencing is impossible, so the FULL
    * latest version is returned with `resync = true` — the consumer
    * reprocesses from scratch, the same contract as a Delta CDF reader
    * hitting a vacuumed-away range. A caller polling in a loop holds
    * only the cursor long; state never grows with the table. */
  def pollChanges(
      spark: SparkSession,
      tableDir: String,
      cursor: Long): (DataFrame, Long, Boolean) = {
    val latest = latestVersion(spark, tableDir)
    require(latest >= 0, s"no versions committed under $tableDir")
    if (cursor >= latest) return (read(spark, tableDir, latest).limit(0), latest, false)
    val windowIsAppend = cursor >= 0 &&
      scala.util.Try(parseManifest(spark, tableDir, cursor)).isSuccess &&
      ((cursor + 1) to latest).forall { v =>
        scala.util.Try(parseManifest(spark, tableDir, v)).toOption
          .exists(m => appendSafeModes(m.mode))
      }
    if (windowIsAppend) (changes(spark, tableDir, cursor, latest), latest, false)
    else (read(spark, tableDir, latest), latest, true)
  }

  /** The PUSH flavor of [[pollChanges]]: tail an APPEND-ONLY versioned
    * table as a Structured Streaming source. Since round 15 this
    * DELEGATES to the manifest-driven source
    * (`spark.readStream.format("graft")`,
    * [[graft.sources.GraftStreamSource]]): offsets are table versions,
    * every micro-batch is planned from manifest ranges, and a file
    * group that is durable but unpublished is invisible BY
    * CONSTRUCTION — which closes the residual race the retired
    * file-stream implementation documented (its directory listing
    * could catch a rewrite's files before their manifest appeared; the
    * exclusion-join + guard-stream machinery that bounded that window
    * is deleted, not quarantined). Consumers get the same contract:
    * genesis emits the existing groups once, each append exactly once
    * across restarts (engine checkpoint over immutable manifests), and
    * any non-append version past genesis fails the query loudly AT
    * PLAN TIME — before a single row of it could emit.
    *
    * `schema` is retained for signature compatibility and VALIDATED:
    * the manifest already knows the table's schema, so a mismatched
    * caller expectation raises instead of silently reshaping rows.
    * Prefer `spark.readStream.format("graft").load(dir)` (plus
    * `startingVersion` / `maxVersionsPerBatch` options) in new code. */
  def changesStream(
      spark: SparkSession,
      tableDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val live = graft.sources.GraftStreamSource.tableSchema(spark, tableDir)
    require(schema == live,
      s"changesStream($tableDir): the supplied schema does not match the " +
        s"table's manifest schema (supplied: ${schema.toDDL}; manifest: " +
        s"${live.toDDL}) — pass Versioned.read(spark, dir).schema or drop " +
        "to spark.readStream.format(\"graft\").load(dir)")
    spark.readStream.format("graft").load(tableDir)
  }

  /** Version modes a STREAMING tail may live through past genesis:
    * appends and the metadata-only CONSTRAINT versions. Rewrites
    * (snapshot/compact/restore/COW DML) re-emit rows; RENAME/DROP
    * COLUMN reshape the pinned schema mid-stream — both fail the
    * query at batch-plan time ([[graft.sources.GraftStreamSource]]). */
  private[graft] val streamSafeModes: Set[String] =
    Set("append", "add_constraint", "drop_constraint")

  /** CONVERT TO GRAFT — adopt an existing plain-parquet directory as
    * version 0 of a versioned table IN PLACE, Delta's `CONVERT TO
    * DELTA` economics: the data files are MOVED (same-filesystem
    * renames) into one file group, never read-rewritten — converting a
    * 100 TB directory costs one metadata pass (the stats/schema
    * read-back aggregate) plus renames, not a copy. After conversion
    * the directory IS the table: time travel, appends, COW DML,
    * constraints and vacuum all apply; the original file names are
    * preserved inside the group.
    *
    * Restrictions (clear errors, matching the honest subset):
    * partition-directory layouts are refused (re-write via [[commit]]
    * to adopt them — declaring partition columns is a different schema
    * contract), as is a directory that already has versions. NOT
    * crash-atomic: a failure mid-move leaves some files under
    * `files/<group>/` with no manifest published — re-running after
    * moving them back (or completing the move by hand) recovers;
    * readers never see a torn table because the manifest only appears
    * at the end. Returns version 0. */
  def convert(spark: SparkSession, dir: String): Long = {
    require(latestVersion(spark, dir) < 0,
      s"$dir already has versions — it is already a graft table")
    val f = fs(spark, dir)
    val root = new Path(dir)
    require(f.exists(root), s"no such directory: $dir")
    val entries = f.listStatus(root).toSeq
    val dataFiles = entries.filter(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
    val partDirs = entries.filter(s => s.isDirectory && {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && n != "files"
    })
    require(partDirs.isEmpty,
      s"$dir has partition directories (${partDirs.map(_.getPath.getName).take(3).mkString(", ")}…) — " +
        "CONVERT adopts flat parquet layouts only; rewrite partitioned " +
        "data via commit() to adopt it")
    require(dataFiles.nonEmpty, s"no parquet files to adopt under $dir")
    // reserved-name check BEFORE any file moves (writeGroup's gate,
    // applied to adopted files)
    val previewClash = spark.read.parquet(dir).columns
      .filter(c => reservedCols(c.toLowerCase))
    require(previewClash.isEmpty,
      s"column name(s) ${previewClash.mkString(", ")} are reserved for " +
        "internal row identity (the deletion-vector machinery) — rename " +
        "before converting")
    val group = java.util.UUID.randomUUID().toString
    val gdir = new Path(s"$dir/files/$group")
    require(f.mkdirs(gdir), s"cannot create $gdir")
    dataFiles.foreach { df =>
      require(f.rename(df.getPath, new Path(gdir, df.getPath.getName)),
        s"failed to move ${df.getPath} into the file group")
    }
    val back = spark.read.parquet(gdir.toString)
    val stats = GroupStats.compute(back)
    GroupStats.write(f, GroupStats.sidecarPath(dir, group), stats)
    // No groups to delete on a raise: the group holds the user's files.
    commitLoop(spark, dir, -1L, Rebuild, Nil)((_, p) =>
      Manifest(Seq(group), stats.nRows, "convert", "",
        schemaDdl = Some(storedSchema(back)), constraints = p.constraints,
        fileRows = Map(group -> stats.nRows)))
  }

  /** RESTORE: republish an earlier version's file groups as the NEW
    * latest version — Delta's `RESTORE TABLE ... TO VERSION AS OF`,
    * and like Delta's it is METADATA-ONLY: no data is read or copied,
    * the new manifest simply lists the old groups again (immutable
    * groups make this sound; [[vacuum]] keeps shared groups alive as
    * long as any kept version lists them). The undo button for a bad
    * [[curate]]/strike/compact: history keeps every intermediate state,
    * including the mistake. Mode is `snapshot` — the restored file set
    * is a rewrite boundary for CDC consumers ([[changes]] raises,
    * [[pollChanges]] resyncs), exactly as a restore should read.
    * Returns the new version number. */
  def restore(spark: SparkSession, tableDir: String, version: Long): Long = {
    val latest = latestVersion(spark, tableDir)
    require(version >= 0 && version <= latest,
      s"restore target must be within [0, $latest]: $version")
    val m = scala.util.Try(parseManifest(spark, tableDir, version)).getOrElse(
      throw new IllegalArgumentException(
        s"version $version is no longer restorable: retention dropped its manifest"))
    require(m.files.nonEmpty, s"version $version of $tableDir lists no files")
    val f = fs(spark, tableDir)
    val missing = m.files.filterNot(g => f.exists(new Path(s"$tableDir/files/$g")))
    require(missing.isEmpty,
      s"version $version is no longer restorable: vacuum dropped " +
        s"group(s) ${missing.mkString(", ")}")
    // The LIVE constraint set carries forward (not the target
    // version's): restoring to pre-constraint data must not launder a
    // violation in, so when constraints exist the restored rows are
    // validated first — the one case where restore pays a scan.
    val missingDv = m.dvs.map(_._2).distinct
      .filterNot(a => f.exists(new Path(s"$tableDir/files/$a")))
    require(missingDv.isEmpty,
      s"version $version is no longer restorable: vacuum dropped " +
        s"deletion-vector artifact(s) ${missingDv.mkString(", ")}")
    val liveCons = constraints(spark, tableDir)
    if (liveCons.nonEmpty) {
      val conds = liveCons.map { case (n, e) =>
        (n, e, scanVersionGroups(
          spark, tableDir, m.files, m.schemaDdl, m.mapping, m.dvs)
          .filter(!coalesce(org.apache.spark.sql.functions.expr(e), lit(true)))
          .count())
      }.filter(_._3 > 0)
      require(conds.isEmpty,
        "restore would violate live CHECK constraint(s): " +
          conds.map { case (n, e, c) => s"$n (`$e`): $c row(s)" }.mkString("; ") +
          " — drop the constraint first or restore a later version")
    }
    commitLoop(spark, tableDir, latest, Refuse, Nil)((_, p) =>
      m.carried("snapshot").copy(constraints = p.constraints))
  }

  /** CREATE TABLE CLONE (deep): materialize `version` (default latest)
    * of `srcDir` as version 0 of a FRESH table at `dstDir`, carrying
    * the source's manifest schema and the constraint set live AT THAT
    * VERSION. The copy is a distributed read→write (one Spark job, the
    * same plan a snapshot commit pays), not a driver-side file copy —
    * at 100 TB the executors move the bytes. The clone is fully
    * independent afterwards: source history, vacuum and future writes
    * on either side never touch the other. A shallow (metadata-only)
    * clone is deliberately not offered: manifests reference file
    * groups relative to their own tableDir, so sharing groups across
    * tables would couple the two tables' vacuum lifecycles — the exact
    * caveat Delta documents for shallow clones, made unrepresentable
    * here instead. */
  def cloneTable(
      spark: SparkSession, srcDir: String, dstDir: String,
      version: Long = -1L): Long = {
    require(latestVersion(spark, dstDir) < 0,
      s"clone target already has versions: $dstDir")
    val v = if (version >= 0) version else latestVersion(spark, srcDir)
    require(v >= 0, s"no versions committed under $srcDir")
    val m = parseManifest(spark, srcDir, v)
    require(m.files.nonEmpty, s"version $v of $srcDir lists no files")
    val (group, n) = writeGroup(read(spark, srcDir, v), dstDir)
    commitLoop(spark, dstDir, -1L, Rebuild, Seq(group))((_, _) =>
      Manifest(Seq(group), n, "clone", "", schemaDdl = m.schemaDdl,
        constraints = m.constraints, fileRows = Map(group -> n)))
  }

  /** Row-level diff between two versions (see [[Snapshot.diff]]). */
  def diffVersions(
      spark: SparkSession, tableDir: String, oldV: Long, newV: Long,
      idCol: String, compareCols: Seq[String]): DataFrame =
    Snapshot.diff(read(spark, tableDir, oldV), read(spark, tableDir, newV),
      idCol, compareCols)
}
