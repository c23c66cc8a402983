package graft.operators

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import graft.spec.{JobConfigException, JobSpec, Operation}
import graft.sources.{DataSource, PathRef, TableRef, TargetRef}

import scala.jdk.CollectionConverters._

/** ETL job lifecycle (reference: etl/parent.py:206-223). Seven logical
  * phases — the reference numbers them 01,03..08 (a planned step_02 was
  * never built, parent.py:208-216):
  *   1. source pre-sql        (side-effecting SQL hook)
  *   2. materialize source query as temp view `__source_view`
  *   3. source post-sql
  *   4. target pre-sql        — the reference runs this on the SOURCE
  *      datasource (parent.py:181), a catalogued defect; intended and
  *      implemented semantics: target datasource.
  *   5. operate (append/overwrite/update/upsert)
  *   6. target post-sql
  *   7. clean — deliberate no-op (parent.py:202-204): temp views are
  *      session-scoped.
  *
  * Everything before `operate` is lazy plan construction; the first Spark
  * action is the write inside `operate` (plus hook side effects).
  */
final class EtlJob(val spec: JobSpec)(implicit spark: SparkSession) {
  import EtlJob._

  private val fromDs = DataSource(spec.source.datasource)
  private val toDs   = DataSource(spec.target.datasource, spec.target.schema)

  val targetRef: TargetRef =
    spec.target.table.map(TableRef.apply)
      .orElse(spec.target.path.map(PathRef.apply))
      .getOrElse(throw new IllegalStateException("validated spec lacks target"))

  def run(): Unit = {
    spec.source.preSql.foreach(fromDs.sql(_))
    val source = fromDs.sql(spec.source.effectiveQuery)
    source.createOrReplaceTempView(SourceView)
    spec.source.postSql.foreach(fromDs.sql(_))
    validatePlan(source)
    spec.target.preSql.foreach(toDs.sql(_))
    operate(spark.table(SourceView))
    spec.target.postSql.foreach(toDs.sql(_))
  }

  /** Plan-time validation of the configured columns against real schemas —
    * the reference validator's INTENDED checks (its implementation parses
    * `SHOW CREATE TABLE` output and is disabled; defects catalogued in
    * SURVEY.md §2.6): for update/upsert the target must already exist, and
    * every primary_key_column / update_column must resolve in BOTH the
    * source view and the target. Without this, a typo'd column name
    * surfaces as an AnalysisException deep inside the merge join instead
    * of a clean JobConfigException naming the offending key. Runs after
    * the source view is built (schema known, no data read) and before any
    * target side effect. Comparison is case-insensitive, matching Spark's
    * default resolution.
    *
    * Schema-drift contract (the reference got this from Delta's write-time
    * schema enforcement, delta.py:91-100; parquet enforces nothing, so the
    * contract lives here): against an EXISTING target,
    *   - append requires the exact target column set with matching types
    *     (a drifted daily feed fails plan-time with the columns named,
    *     never half-writes);
    *   - update/upsert allow MISSING source columns (upsert's documented
    *     NULL-for-unlisted-columns insert semantics) but reject EXTRA
    *     source columns and retyped shared columns — the merge rewrite
    *     would otherwise silently republish the table with a changed
    *     schema.
    * Path targets are drift-checked only for parquet (self-describing
    * schema); csv/json inference is not a contract to enforce against. */
  private[graft] def validatePlan(source: DataFrame): Unit = {
    // A DECLARED file schema (target `schema:` on csv/json paths) is the
    // write contract: whatever the operation, the produced columns must
    // match it exactly — checked here from plan metadata alone, no file
    // read, no inference pass, exactly like a catalog target's check.
    toDs match {
      case f: graft.sources.FileFormatSource => f.declaredSchema.foreach(st =>
        EtlJob.checkSchemaDrift(source.schema, st, appendSemantics = true))
      case _ => ()
    }
    spec.target.operation match {
      case Operation.Append =>
        val checkable = targetRef match {
          case TableRef(t) => spark.catalog.tableExists(t)
          case PathRef(p) =>
            toDs.pathFormat == "parquet" && {
              val hp = new org.apache.hadoop.fs.Path(p)
              hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
            }
        }
        if (checkable)
          EtlJob.checkSchemaDrift(source.schema, toDs.read(targetRef).schema,
            appendSemantics = true)
      case Operation.Update | Operation.Upsert =>
        // Fail BEFORE the target pre-sql hook runs: the same check in
        // Writes.merge fires after that side effect.
        targetRef match {
          case PathRef(_) if toDs.pathFormat != "parquet" =>
            throw new JobConfigException(
              s"update/upsert requires a parquet path target, not ${toDs.pathFormat}")
          case _ => ()
        }
        val exists = targetRef match {
          case TableRef(t) => spark.catalog.tableExists(t)
          case PathRef(p) =>
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
        }
        if (!exists)
          throw new JobConfigException(
            s"${spec.target.operation} requires an existing target, " +
              s"but ${targetRef} does not exist")
        val srcCols = source.schema.fieldNames.map(_.toLowerCase).toSet
        val tgtSchema = toDs.read(targetRef).schema
        val tgtCols = tgtSchema.fieldNames.map(_.toLowerCase).toSet
        def check(role: String, cols: Seq[String], schema: Set[String], side: String): Unit = {
          val missing = cols.filterNot(c => schema.contains(c.toLowerCase))
          if (missing.nonEmpty)
            throw new JobConfigException(
              s"$role ${missing.mkString(", ")} not found in $side schema")
        }
        check("primary_key_column", spec.target.primaryKeyColumns, srcCols, "source")
        check("primary_key_column", spec.target.primaryKeyColumns, tgtCols, "target")
        check("update_column", spec.target.updateColumns, srcCols, "source")
        check("update_column", spec.target.updateColumns, tgtCols, "target")
        EtlJob.checkSchemaDrift(source.schema, tgtSchema, appendSemantics = false)
      case Operation.VersionedMerge =>
        val path = versionedPath
        if (Versioned.latestVersion(spark, path) < 0)
          throw new JobConfigException(
            s"versioned_merge target '$path' has no committed versions " +
              "(merge needs an existing table; use versioned_snapshot first)")
        val srcCols = source.schema.fieldNames.map(_.toLowerCase).toSet
        val tgtCols =
          Versioned.read(spark, path).schema.fieldNames.map(_.toLowerCase).toSet
        val missing = spec.target.primaryKeyColumns
          .filterNot(c => srcCols.contains(c.toLowerCase) && tgtCols.contains(c.toLowerCase))
        if (missing.nonEmpty)
          throw new JobConfigException(
            s"primary_key_column ${missing.mkString(", ")} not found in both " +
              "source and versioned-target schemas")
        // Versioned.merge itself enforces the full schema contract
        // (append-path validation, no evolution).
      case Operation.VersionedSnapshot | Operation.VersionedAppend =>
        // versionedPath validates the path-only + parquet constraints;
        // an append into existing history must not drift the schema —
        // unless the job opts into evolution (`evolve_schema: true`),
        // where Versioned.append itself arbitrates (new columns extend
        // the manifest schema, type conflicts still fail loudly).
        val path = versionedPath
        if (spec.target.operation == Operation.VersionedAppend &&
            !spec.target.evolveSchema &&
            Versioned.latestVersion(spark, path) >= 0)
          EtlJob.checkSchemaDrift(source.schema,
            Versioned.read(spark, path).schema, appendSemantics = true)
      case _ => ()
    }
  }

  /** Versioned operations are path-only (a versioned table IS a
    * directory layout) and parquet-only — fail at plan time, named. */
  private def versionedPath: String = {
    if (toDs.pathFormat != "parquet")
      throw new JobConfigException(
        s"versioned operations require a parquet datasource, not ${toDs.pathFormat}")
    targetRef match {
      case PathRef(p) => p
      case TableRef(t) => throw new JobConfigException(
        s"versioned operations require a 'path' target, got table '$t'")
    }
  }

  private[graft] def operate(source: DataFrame): Unit = spec.target.operation match {
    case Operation.Append    => Writes.append(source, targetRef, toDs)
    case Operation.Overwrite => Writes.overwrite(source, targetRef, toDs)
    case Operation.VersionedSnapshot => Versioned.commit(source, versionedPath)
    case Operation.VersionedAppend =>
      Versioned.append(source, versionedPath, spec.target.evolveSchema)
    case Operation.VersionedMerge =>
      Versioned.merge(spark, versionedPath, source, spec.target.primaryKeyColumns)
    case Operation.Update =>
      Writes.merge(source, targetRef, toDs, spec.target.primaryKeyColumns,
        spec.target.updateColumns, spec.target.whereStatementOnTable,
        insertWhenNotMatched = false)
    case Operation.Upsert =>
      Writes.merge(source, targetRef, toDs, spec.target.primaryKeyColumns,
        spec.target.updateColumns, spec.target.whereStatementOnTable,
        insertWhenNotMatched = true)
  }
}

object EtlJob {
  val SourceView = "__source_view"

  /** Schema-drift check against an existing target (see [[EtlJob.validatePlan]]'s
    * contract). `appendSemantics = true` additionally requires every
    * target column in the source (append must supply the full row);
    * merge semantics allow missing source columns (NULL-insert).
    * Name comparison is case-insensitive; types compare exactly
    * (nullability is not part of the contract). */
  private[graft] def checkSchemaDrift(
      src: org.apache.spark.sql.types.StructType,
      tgt: org.apache.spark.sql.types.StructType,
      appendSemantics: Boolean): Unit = {
    val srcTypes = src.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val tgtTypes = tgt.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val extra = src.fieldNames.filterNot(n => tgtTypes.contains(n.toLowerCase))
    if (extra.nonEmpty)
      throw new JobConfigException(
        s"schema drift: source column(s) ${extra.mkString(", ")} do not exist " +
          "in the target schema (drop them in the source query, or recreate " +
          "the target with the evolved schema)")
    if (appendSemantics) {
      val missing = tgt.fieldNames.filterNot(n => srcTypes.contains(n.toLowerCase))
      if (missing.nonEmpty)
        throw new JobConfigException(
          s"schema drift: target column(s) ${missing.mkString(", ")} are " +
            "missing from the source — append must supply every target column")
    }
    // An untyped NULL literal (void) is the reference's own idiom for
    // "no value for this column" (the golden scenarios feed `NULL AS c5`)
    // — castable to any target type, so never drift.
    val retyped = src.fields.flatMap { f =>
      tgtTypes.get(f.name.toLowerCase).collect {
        case t if t != f.dataType &&
            f.dataType != org.apache.spark.sql.types.NullType =>
          s"${f.name} (source ${f.dataType.simpleString}, target ${t.simpleString})"
      }
    }
    if (retyped.nonEmpty)
      throw new JobConfigException(
        s"schema drift: column type mismatch — ${retyped.mkString("; ")}")
  }

  /** Factory mirroring `init_etl_job` (parent.py:10-65): YAML → ${param}
    * substitution → lowercased keys → operation dispatch. */
  def fromConfig(path: String, params: Map[String, String] = Map.empty)(
      implicit spark: SparkSession): EtlJob =
    new EtlJob(JobSpec.load(path, params))

  def fromYaml(yaml: String, params: Map[String, String] = Map.empty)(
      implicit spark: SparkSession): EtlJob =
    new EtlJob(JobSpec.fromString(yaml, params))
}

/** The physical write operations. All are DataFrame-writer based — no
  * driver-side data movement; every shape here scales with executor count.
  */
object Writes {

  /** O7 append / insert: name-resolved append (reference: etl/append.py,
    * delta.py:65-102). Creates the table/path when absent. Path targets
    * honor the target datasource's file format (parquet/csv/json);
    * catalog tables keep their own provider. */
  def append(source: DataFrame, ref: TargetRef,
      ds: DataSource = new graft.sources.ParquetCatalogSource)(
      implicit spark: SparkSession): Unit =
    ref match {
      case TableRef(t) =>
        val w = source.write.format("parquet").mode(SaveMode.Append)
        // saveAsTable-append onto an existing partitioned table must restate
        // the table's partitioning (Spark checks spec equality).
        val parts = if (spark.catalog.tableExists(t)) partitionColumns(t) else Nil
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).saveAsTable(t)
      case PathRef(p) =>
        source.write.mode(SaveMode.Append)
          .format(ds.pathFormat).options(ds.writeOptions).save(p)
    }

  /** O8 partition-scoped overwrite. The reference collects the source's
    * distinct partition values to the DRIVER and builds a `replaceWhere`
    * predicate (etl/overwrite.py:20-36) — a driver bottleneck at scale.
    * Spark gives the same observable semantics natively with dynamic
    * partition overwrite: only partitions present in the source are
    * rewritten, untouched partitions survive; the partition set is computed
    * distributed, never on the driver. Non-partitioned targets degenerate
    * to full overwrite, same as the reference's `1=1` predicate. */
  def overwrite(source: DataFrame, ref: TargetRef,
      ds: DataSource = new graft.sources.ParquetCatalogSource)(
      implicit spark: SparkSession): Unit =
    ref match {
      case TableRef(t) if spark.catalog.tableExists(t) =>
        withConf("spark.sql.sources.partitionOverwriteMode", "dynamic") {
          // insertInto is position-based: reorder to the table's schema.
          source.select(spark.table(t).columns.toIndexedSeq.map(source.col): _*)
            .write.mode(SaveMode.Overwrite).insertInto(t)
        }
      case TableRef(t) =>
        source.write.format("parquet").mode(SaveMode.Overwrite).saveAsTable(t)
      case PathRef(p) =>
        source.write.mode(SaveMode.Overwrite)
          .format(ds.pathFormat).options(ds.writeOptions).save(p)
    }

  /** O9/O10 update/upsert via the Merge join-rewrite. The merged result is
    * staged (one data write) and then swapped into the target: Spark
    * refuses to overwrite files it is concurrently reading, so the lineage
    * must be broken by a materialization. For a PARTITIONED table target
    * the stage-and-swap happens per affected partition — only partitions
    * containing matched, inserted, or moved rows are written and swapped;
    * everything else is left byte-identical on disk (the parquet analogue
    * of Delta's file-pruned MERGE).
    *
    * Delta's multiple-matches contract is checked in band, from two counts
    * the staged write's own job takes ([[Merge.guarded]]), after the
    * staged write and before any swap, for every target shape. Any failure
    * before the swap deletes the staging directory; the target is never
    * touched.
    *
    * Multi-writer isolation is LEASE-BASED (the parquet analog of the
    * optimistic concurrency the reference inherited from Delta's txn log,
    * delta.py:104-148): a `…__graft_lock` sentinel next to the target
    * location is created exclusively before any side effect; a second
    * merge on the same target WAITS (bounded by graft.merge.lock.waitMs)
    * and serializes behind the first instead of interleaving renames
    * (which can silently corrupt). A live holder heartbeats the sentinel;
    * a lock left by a CRASHED merge goes stale after
    * graft.merge.lock.leaseMs and is broken automatically by the next
    * waiter. [[graft.spec.ConcurrentWriteException]] fires only when the
    * wait budget is exhausted against a live (refreshed) lease. */
  def merge(
      source: DataFrame,
      ref: TargetRef,
      ds: DataSource,
      primaryKeys: Seq[String],
      updateColumns: Seq[String],
      baseCondition: String,
      insertWhenNotMatched: Boolean)(implicit spark: SparkSession): Unit = {

    // The staged-swap rewrite reads and writes parquet fragments; a
    // csv/json path target has no partition/statistics story worth a
    // merge — reject cleanly rather than corrupt.
    if (ds.pathFormat != "parquet")
      ref match {
        case PathRef(_) => throw new JobConfigException(
          s"update/upsert requires a parquet path target, not ${ds.pathFormat}")
        case _ => ()
      }
    withMergeLock(ref) {
      val target = ds.read(ref)
      // A def, built only where a staged write follows: its observations
      // stay registered with the session until a query carrying them succeeds.
      def guarded = Merge.guarded(target, source, primaryKeys,
        updateColumns, baseCondition, insertWhenNotMatched)
      val location = storageLocation(ref)
      val table = ref match { case TableRef(t) => Some(t); case PathRef(_) => None }
      val partCols = table.toSeq.flatMap(partitionColumns(_))
      table match {
        case Some(t) if partCols.nonEmpty =>
          mergePartitionScoped(guarded, t, location, partCols,
            Merge.affectedPartitions(target, source, primaryKeys, updateColumns,
              baseCondition, insertWhenNotMatched, partCols))
        case _ =>
          // Unpartitioned table or path: ONE data write to a staging
          // directory + two directory renames; not stage-table + INSERT
          // OVERWRITE, which writes the merged data TWICE. A table's catalog
          // entry (definition, grants) is untouched; only the bytes under
          // its location change, and parquet reads them by column name.
          val (merged, checkGuard) = guarded
          swapIntoPlace(location, { stage =>
            merged.write.parquet(stage.toString)
            checkGuard()
          })
          table.foreach(spark.catalog.refreshTable)
      }
    }
  }

  /** Storage location of a merge target: the table's location, or the path. */
  private def storageLocation(ref: TargetRef)(
      implicit spark: SparkSession): org.apache.hadoop.fs.Path = ref match {
    case TableRef(t) =>
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
      new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(ident).location)
    case PathRef(p) => new org.apache.hadoop.fs.Path(p)
  }

  /** Lock-sentinel path for a merge target: a SIBLING of the target
    * location (never under it — a file inside a parquet directory would
    * be read as data/corrupt a listing). */
  private[graft] def mergeLockPath(ref: TargetRef)(
      implicit spark: SparkSession): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      storageLocation(ref).toString.stripSuffix("/") + "__graft_lock")

  /** Run `body` holding the merge lease for `ref` — the parquet-feasible
    * analog of Delta's optimistic concurrency
    * (reference: source/pyzzle/datasource/delta.py:104-148, where the txn
    * log serializes concurrent writers).
    *
    * Protocol: create-exclusive lock file (the one atomic primitive every
    * Hadoop filesystem offers) carrying owner id + acquisition time. A
    * contender RETRIES until `graft.merge.lock.waitMs` (default 10 min),
    * so two schedulers overlapping the same job serialize instead of one
    * erroring. While held, a daemon heartbeat re-stamps the file every
    * lease/3; a lock whose modification time is older than
    * `graft.merge.lock.leaseMs` (default 15 min) is a crashed holder —
    * the contender breaks it via atomic RENAME (only one breaker can win
    * the rename) and re-contends on create-exclusive.
    * [[ConcurrentWriteException]] fires only at wait timeout. */
  private def withMergeLock[A](ref: TargetRef)(body: => A)(
      implicit spark: SparkSession): A = {
    val lock = mergeLockPath(ref)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def confMs(key: String, default: Long): Long =
      scala.util.Try(spark.conf.get(key).toLong).toOption
        .filter(_ > 0).getOrElse(default)
    val waitMs  = confMs("graft.merge.lock.waitMs", 600000L)
    val leaseMs = confMs("graft.merge.lock.leaseMs", 900000L)
    val pollMs  = confMs("graft.merge.lock.pollMs", 1000L)
    val owner = java.util.UUID.randomUUID().toString

    def content =
      s"graft merge lock owner=$owner stamped=${java.time.Instant.now()}\n"
    // Acquisition MUST go through the genuinely atomic create-exclusive
    // (FsAtomic): Hadoop's local create(overwrite=false) is check-then-
    // act, and the four-writer soak produced two simultaneous "holders"
    // interleaving their swaps. The heartbeat overwrite path stays on
    // fs.create — only the holder touches it.
    def stamp(overwrite: Boolean): Boolean =
      if (!overwrite) graft.sources.FsAtomic.createExclusive(fs, lock, content)
      else try {
        val out = fs.create(lock, true)
        out.writeBytes(content)
        out.close()
        true
      } catch { case _: java.io.IOException => false }

    val deadline = System.nanoTime() + waitMs * 1000000L
    var acquired = stamp(overwrite = false)
    while (!acquired && System.nanoTime() < deadline) {
      val status = try Some(fs.getFileStatus(lock))
                   catch { case _: java.io.IOException => None }
      status match {
        case Some(s)
            if System.currentTimeMillis() - s.getModificationTime > leaseMs =>
          // Stale lease (holder crashed or lost its heartbeat). Rename is
          // the atomic arbiter: of N contenders observing the same stale
          // lock, exactly one rename succeeds; that one deletes the
          // tombstone and ALL contenders re-race on create-exclusive. A
          // live holder is never broken — its heartbeat keeps mtime fresh.
          val tomb = new org.apache.hadoop.fs.Path(
            lock.toString + s".stale.$owner")
          if (scala.util.Try(fs.rename(lock, tomb)).getOrElse(false))
            fs.delete(tomb, false)
        case Some(_) => Thread.sleep(math.min(pollMs,
          math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
        case None => () // holder just released — re-contend immediately
      }
      acquired = stamp(overwrite = false)
    }
    if (!acquired)
      throw new graft.spec.ConcurrentWriteException(
        s"timed out after ${waitMs}ms waiting for the merge lock on $ref " +
          s"(lock file $lock held and refreshed by another writer). If no " +
          "merge is running, remove the lock file to recover; a crashed " +
          s"holder clears itself after the ${leaseMs}ms lease.")
    // Heartbeat: keep the lease visibly alive for merges longer than the
    // lease. Overwrite is safe — only the holder heartbeats this path.
    // Shutdown is flag-FIRST, interrupt second: Hadoop filesystem code
    // inside stamp() can swallow/clear the interrupt flag, and a
    // heartbeat that survives its interrupt would re-create the lock
    // file AFTER the release below deleted it — a phantom lock the next
    // writer must wait a full lease to break (the one observed full-
    // suite flake: "broken-then-reacquired lock must be released").
    val hbPeriod = math.max(leaseMs / 3, 50L)
    val hbStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Thread(() => {
      try while (!hbStop.get()) {
        Thread.sleep(hbPeriod)
        if (!hbStop.get()) stamp(overwrite = true)
      } catch { case _: InterruptedException => () }
    }, s"graft-merge-lease-$owner")
    hb.setDaemon(true)
    hb.start()
    try body
    finally {
      hbStop.set(true)
      hb.interrupt()
      // The join bound only matters if a single local-FS create stalls
      // this long; the stop flag guarantees no further stamp either way.
      hb.join(30000L)
      fs.delete(lock, false)
    }
  }

  /** Partition-scoped merge rewrite: write ONLY the partitions the merge
    * can change, swap each affected partition directory into place, leave
    * every other partition's files untouched (byte-identical, same
    * inodes). At 100 TB this is the difference between rewriting the
    * table and rewriting the handful of partitions a daily source feed
    * touches. The affected-partition set itself is computed distributed
    * ([[Merge.affectedPartitions]]) and only its DISTINCT tuples come to
    * the driver — bounded by the table's partition count (metadata scale,
    * same order as any metastore listing), never by data volume.
    * The guarded merge plan is built only once the affected set is
    * non-empty; its check runs after the staged write, before any rename. */
  private def mergePartitionScoped(
      guarded: => (DataFrame, () => Unit),
      table: String,
      location: org.apache.hadoop.fs.Path,
      partCols: Seq[String],
      affectedPartitions: DataFrame)(implicit spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.functions.{broadcast, col, lit, when}

    // Canonical partition value — the value that determines the PHYSICAL
    // directory a row lands in. null and "" both map to the default
    // partition (__HIVE_DEFAULT_PARTITION__), so partition membership must
    // be decided on this canonical form, never on the raw typed value:
    // a partition directory is swapped wholesale, and any live row whose
    // fragment is swapped but who missed the write set is silently lost.
    def canonical(c: Column): Column = {
      val s = c.cast("string")
      when(s.isNull || s === "", lit(null).cast("string")).otherwise(s)
    }

    val affected = affectedPartitions
      .select(partCols.map(c => canonical(col(c)).as(c)): _*).distinct()
    val affectedRows = affected.collect()
    if (affectedRows.isEmpty) return // merge is a no-op; touch nothing
    val (merged, checkGuard) = guarded
    // Partition-directory fragments (part1=v/part2=v…), using the same
    // escaping Spark's own dynamic-partition writer applies, so the
    // fragments match the directories the staging write produces. The
    // canonical distinct above guarantees one fragment per tuple —
    // processing a fragment twice would swap it in, then mistake the
    // second pass for an emptied partition and delete the data just
    // published.
    val frags = affectedRows.map { row =>
      partCols.indices.map { i =>
        ExternalCatalogUtils.getPartitionPathString(partCols(i), row.getString(i))
      }.mkString("/")
    }

    // Rows to rewrite = full merged contents of the affected partitions
    // (matched AND untouched rows of those partitions — a partition is
    // replaced wholesale or not at all). The affected tuples are
    // re-materialized as a fresh LOCAL DataFrame so the semi-join's right
    // side shares no lineage with `merged` (avoids self-join attribute
    // ambiguity), with renamed columns and an explicit broadcast; both
    // sides compare in canonical-fragment space.
    val local = spark
      .createDataFrame(affectedRows.toList.asJava, affected.schema)
      .select(partCols.map(c => col(c).as(s"__aff_$c")): _*)
    val joinCond =
      partCols.map(c => canonical(col(c)) <=> col(s"__aff_$c")).reduce(_ && _)
    val writeSet = merged.join(broadcast(local), joinCond, "left_semi")

    val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val suffix = UUID.randomUUID().toString.take(8)
    def sibling(kind: String) = new org.apache.hadoop.fs.Path(
      location.toString.stripSuffix("/") + s"__graft_${kind}_$suffix")
    val staging = sibling("staging")
    // Displaced partitions go to a SIBLING of the table location, not
    // under it: a leftover `…=v__old` inside the table parses as a valid
    // partition fragment and a later repair would register it as a bogus
    // partition. The sibling dir mirrors the fragment layout so a failed
    // swap can restore exactly.
    val displaced = sibling("displaced")
    val fragSet = frags.toSet
    val emptied = scala.collection.mutable.ListBuffer.empty[String]
    deletingOnFailure(fs, staging) {
      writeSet.write.partitionBy(partCols: _*).parquet(staging.toString)
      checkGuard()

      // Sanity gate before anything destructive: every partition directory
      // the staging write produced must be in the affected set. A fragment
      // outside it would mean our escaping disagrees with the writer's —
      // deleting the staging dir at the end would then silently discard
      // data, so fail loudly instead.
      val unexpected =
        listPartitionFragments(fs, staging, partCols.length).filterNot(fragSet)
      if (unexpected.nonEmpty)
        throw new IllegalStateException(
          "merge staging produced partition directories outside the " +
            s"affected set (escaping mismatch?): ${unexpected.mkString(", ")}")

      frags.foreach { frag =>
        val stagedDir = new org.apache.hadoop.fs.Path(staging, frag)
        val liveDir   = new org.apache.hadoop.fs.Path(location, frag)
        if (fs.exists(stagedDir)) {
          val old = new org.apache.hadoop.fs.Path(displaced, frag)
          val hadOld = fs.exists(liveDir)
          if (hadOld) {
            fs.mkdirs(old.getParent)
            // Proceeding with liveDir still present is never safe: on
            // HDFS-semantics filesystems the publish rename would move the
            // staged dir INSIDE it, silently nesting new under old.
            if (!fs.rename(liveDir, old))
              throw new IllegalStateException(
                s"merge swap: cannot move $liveDir aside")
          }
          fs.mkdirs(liveDir.getParent)
          if (!fs.rename(stagedDir, liveDir)) {
            if (hadOld) fs.rename(old, liveDir) // restore
            throw new IllegalStateException(
              s"merge swap: cannot publish $stagedDir to $liveDir")
          }
        } else {
          // Affected but absent from the staged output: every row moved
          // out of this partition — it is now empty, remove it.
          fs.delete(liveDir, true)
          emptied += frag
        }
      }
    }
    fs.delete(staging, true)
    fs.delete(displaced, true)
    // The files changed underneath the catalog: refresh caches and sync
    // the metastore's partition list with TARGETED DDL — O(affected)
    // metastore calls. (MSCK REPAIR would list the ENTIRE table location
    // to diff partitions: at 10⁴–10⁵ partitions that's minutes of
    // object-store listing per merge, growing with table size rather
    // than merge size.)
    spark.catalog.refreshTable(table)
    val live = fragSet -- emptied
    if (live.nonEmpty)
      spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS " +
        live.toSeq.sorted.map(partitionSpecSql).mkString(" "))
    emptied.foreach { frag =>
      spark.sql(s"ALTER TABLE $table DROP IF EXISTS ${partitionSpecSql(frag)}")
    }
  }

  /** Enumerate `depth`-level partition directory fragments under `dir`
    * (e.g. `p1=a/p2=b`), skipping non-directories (writer `_SUCCESS`
    * markers). Listing is O(partitions actually written) — bounded by the
    * merge's write set, not the table. */
  private def listPartitionFragments(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      depth: Int): Seq[String] =
    if (depth == 0) Seq("")
    else
      fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
        listPartitionFragments(fs, st.getPath, depth - 1).map { rest =>
          if (rest.isEmpty) st.getPath.getName else s"${st.getPath.getName}/$rest"
        }
      }

  /** `p1=a/p2=b%20c` → `PARTITION (`p1`='a', `p2`='b c')` — the targeted
    * DDL spec for one partition fragment. The null partition travels as
    * the literal `__HIVE_DEFAULT_PARTITION__` sentinel, which the catalog
    * itself uses for null partition values. */
  private def partitionSpecSql(frag: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val parts = frag.split("/").toSeq.map { piece =>
      val eq = piece.indexOf('=')
      require(eq > 0, s"not a partition fragment: $piece")
      val col = ExternalCatalogUtils.unescapePathName(piece.substring(0, eq))
      val v   = ExternalCatalogUtils.unescapePathName(piece.substring(eq + 1))
      val lit = v.replace("\\", "\\\\").replace("'", "\\'")
      s"`$col`='$lit'"
    }
    s"PARTITION (${parts.mkString(", ")})"
  }

  /** Write to a staging sibling of `dest` via `write`, then swap it into
    * place: one data write + two renames (metadata-only on HDFS-like
    * filesystems; object stores without atomic rename should front this
    * with a rename-capable committer). `write` may also verify what it
    * staged; a throw there leaves `dest` untouched. The displaced old data
    * is removed after a successful swap and restored on failure. */
  private def swapIntoPlace(
      dest: org.apache.hadoop.fs.Path,
      write: org.apache.hadoop.fs.Path => Unit)(implicit spark: SparkSession): Unit = {
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val suffix = UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(
      dest.toString.stripSuffix("/") + s"__graft_staging_$suffix")
    val old = new org.apache.hadoop.fs.Path(s"${staging}_old")
    deletingOnFailure(fs, staging) {
      write(staging)
      if (!fs.rename(dest, old))
        throw new IllegalStateException(s"merge swap: cannot move $dest aside")
      if (!fs.rename(staging, dest)) {
        fs.rename(old, dest) // restore
        throw new IllegalStateException(s"merge swap: cannot publish $staging to $dest")
      }
    }
    fs.delete(old, true)
  }

  /** Run a stage-to-swap window: if `body` throws, delete `staging` (best
    * effort) first, so a rejected or failed merge leaves no staged copy. */
  private def deletingOnFailure(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path)(body: => Unit): Unit =
    try body
    catch { case t: Throwable => scala.util.Try(fs.delete(staging, true)); throw t }

  def partitionColumns(table: String)(implicit spark: SparkSession): Seq[String] =
    spark.catalog.listColumns(table).collect().toSeq
      .filter(_.isPartition).map(_.name)

  private def withConf[A](key: String, value: String)(body: => A)(
      implicit spark: SparkSession): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
