package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE as a deterministic join-rewrite (no Delta in the environment, and
  * vanilla parquet catalog tables don't support `MERGE INTO`).
  *
  * Semantics reproduced from the reference's Delta merge
  * (datasource/delta.py:104-148, etl/update_and_upsert.py):
  *   - condition: `base AND TGT.pk1=SRC.pk1 AND …` with fixed aliases
  *     TGT/SRC (delta.py:115,143; update_and_upsert.py:3-8);
  *   - update set = `update_column ∪ primary_key_column`
  *     (update_and_upsert.py:26-27);
  *   - upsert inserts carry values ONLY for the update set — every other
  *     target column is NULL (delta.py:124-127,146-147);
  *   - multiple source rows matching one target row is an error, matching
  *     Delta's contract.
  *
  * The plan is one outer join of target against source on the primary
  * keys (left-outer for update, full-outer for upsert), with a tag column
  * on each side recording provenance; a per-column CASE then picks the
  * matched, untouched or inserted value. Catalyst plans it as a shuffle
  * join partitioned by pk (or broadcasts a small source), so at 100 TB
  * this scales like any keyed join and reads the target once; no driver
  * collect anywhere. Physical rewrite scope lives in `Writes.merge`: for a
  * PARTITIONED target only the partitions containing matched / inserted /
  * moved rows are rewritten (the parquet analogue of Delta's file-pruned
  * MERGE, computed via [[affectedPartitions]]); an unpartitioned target is
  * necessarily a whole-table rewrite.
  */
object Merge {

  /** Pure plan: returns the post-merge contents of `target` (lazy).
    *
    * ONE outer join, not the classic three (untouched ∪ matched ∪
    * inserts): each branch of that union re-joins target against source,
    * and since a small source plans as a broadcast join there is no
    * reusable exchange on the streamed side — the (100 TB) target is
    * scanned once per branch. Here a left-outer (update) or full-outer
    * (upsert) join tags each row's provenance and a per-column CASE
    * picks the matched / untouched / insert value, so the target is
    * read exactly once. Row multiset and schema match the union shape:
    * CASE branch types coerce to the same widest(TGT, SRC) the
    * unionByName coercion produced. */
  def apply(
      target: DataFrame,
      source: DataFrame,
      primaryKeys: Seq[String],
      updateColumns: Seq[String],
      baseCondition: String = "1=1",
      insertWhenNotMatched: Boolean = false): DataFrame = {

    val p = Plan(target, source, primaryKeys, updateColumns, baseCondition)
    // Non-null side tags survive the outer join where data columns
    // (nullable pks included) could not distinguish no-match from null.
    val tgtT = tagged(target, "__tgt_tag").alias("TGT")
    val srcT = tagged(source, "__src_tag").alias("SRC")
    val joined = tgtT.join(srcT, p.cond,
      if (insertWhenNotMatched) "full_outer" else "left_outer")
    val matched = col("__src_tag").isNotNull && col("__tgt_tag").isNotNull
    val outCols = p.tgtCols.map { c =>
      val base = when(matched, p.matchedVal(c)).otherwise(col(s"TGT.$c"))
      (if (!insertWhenNotMatched) base
       else when(col("__tgt_tag").isNull, p.insertVal(c)).otherwise(base))
        .as(c)
    }
    joined.select(outCols: _*)
  }

  /** Distinct partition-column tuples a merge can change — the union of
    * (a) the pre-update partitions of matched target rows, (b) the
    * post-update partitions of those rows (different from (a) only when a
    * partition column is itself in the update set — a row "moves"), and
    * (c) the partitions of inserted rows. Everything outside this set is
    * provably byte-identical before and after the merge, so a partitioned
    * rewrite only needs to touch these. Stays a distributed plan — caller
    * decides whether collecting it (bounded by the table's partition
    * count, i.e. metadata scale) is acceptable. */
  def affectedPartitions(
      target: DataFrame,
      source: DataFrame,
      primaryKeys: Seq[String],
      updateColumns: Seq[String],
      baseCondition: String,
      insertWhenNotMatched: Boolean,
      partitionCols: Seq[String]): DataFrame = {

    val p = Plan(target, source, primaryKeys, updateColumns, baseCondition)
    // Same single-pass shape as [[apply]]: the pre/post/insert branch
    // selects of the union form each re-joined target against source
    // (≈3 scans of each side); one tagged join + explode reads each
    // side once. Inner join when inserts are off (only matched rows
    // matter here); right-outer keeps not-matched source rows as the
    // insert branch.
    val tgtT = tagged(target, "__tgt_tag").alias("TGT")
    val srcT = tagged(source, "__src_tag").alias("SRC")
    val joined = tgtT.join(srcT, p.cond,
      if (insertWhenNotMatched) "right_outer" else "inner")
    val pre  = struct(partitionCols.map(c => col(s"TGT.$c").as(c)): _*)
    val post = struct(partitionCols.map(c => p.matchedVal(c).as(c)): _*)
    val ins  = struct(partitionCols.map(c => p.insertVal(c).as(c)): _*)
    val branches =
      if (!insertWhenNotMatched) array(pre, post)
      else when(col("__tgt_tag").isNotNull, array(pre, post))
        .otherwise(array(ins))
    joined.select(explode(branches).as("__p"))
      .select(col("__p.*"))
      .distinct()
  }

  /** Shared column-level merge expressions, so the full-plan and the
    * affected-partitions computations can never drift apart. */
  private final case class Plan(
      target: DataFrame,
      source: DataFrame,
      primaryKeys: Seq[String],
      updateColumns: Seq[String],
      baseCondition: String) {

    require(primaryKeys.nonEmpty, "merge requires primary key columns")
    val updateSet: Seq[String] = (updateColumns ++ primaryKeys).distinct
    val tgtCols: Seq[String] = target.columns.toSeq
    private val srcCols = source.columns.toSet
    private val tgtSchema = target.schema

    val cond: Column =
      primaryKeys.map(k => col(s"TGT.$k") === col(s"SRC.$k")).reduce(_ && _) &&
        expr(baseCondition)

    /** Value of column `c` for a matched target row after the update
      * (unaliased — usable inside CASE branches). */
    def matchedVal(c: String): Column =
      if (updateSet.contains(c) && srcCols.contains(c)) col(s"SRC.$c")
      else col(s"TGT.$c")

    /** Value of column `c` for an inserted (not-matched source) row:
      * update-set columns from SRC, NULL elsewhere (reference golden
      * data: upserted rows carry NULL c5/c6). Unaliased. */
    def insertVal(c: String): Column =
      if (updateSet.contains(c) && srcCols.contains(c))
        col(s"SRC.$c").cast(tgtSchema(c).dataType)
      else lit(null).cast(tgtSchema(c).dataType)
  }

  /** Provenance-tag a side of the merge join. `withColumn` would
    * silently REPLACE a same-named data column and corrupt the branch
    * dispatch — refuse instead. */
  private def tagged(df: DataFrame, tag: String): DataFrame = {
    require(!df.columns.contains(tag),
      s"merge input already carries a column named '$tag' (reserved for " +
        "merge-branch dispatch) — rename the column")
    df.withColumn(tag, lit(true))
  }

  /** Fails if more than one source row matches a single target row —
    * Delta's multiple-matches contract. Counts source matches per target
    * ROW (a per-row id keeps duplicate key tuples distinct), but joins
    * only the columns the match condition can read: primary keys plus
    * whatever `baseCondition` references ([[guardColumns]]) — so at
    * 100 TB the guard's target scan is a keys-wide projection (column
    * pruning reaches the parquet scan), not a second full-width pass.
    * Falls back to the full-width join only when a condition reference
    * cannot be classified to a side. One extra keyed aggregation job;
    * scales map-side (partial count). */
  def checkAmbiguousMatches(
      target: DataFrame,
      source: DataFrame,
      primaryKeys: Seq[String],
      baseCondition: String): Unit = {
    val (tgtNarrow, srcNarrow) =
      guardColumns(target.columns.toSeq, source.columns.toSeq,
          primaryKeys, baseCondition) match {
        case Some((tc, sc)) =>
          (target.select(tc.map(col): _*), source.select(sc.map(col): _*))
        case None => (target, source)
      }
    val tgt = tgtNarrow
      .withColumn("__tgt_row", monotonically_increasing_id())
      .alias("TGT")
    val src = srcNarrow.alias("SRC")
    val cond =
      primaryKeys.map(k => col(s"TGT.$k") === col(s"SRC.$k")).reduce(_ && _) &&
        expr(baseCondition)
    val dupes = tgt
      .join(src, cond, "inner")
      .groupBy(col("TGT.__tgt_row")).count()
      .filter(col("count") > 1)
      .limit(1).count()
    if (dupes > 0)
      throw new IllegalStateException(
        "Merge failed: multiple source rows matched a single target row " +
          s"on keys ${primaryKeys.mkString(", ")}")
  }

  /** The columns the ambiguity guard must retain per side: primary keys
    * plus every column `baseCondition` references, classified by its
    * `TGT.`/`SRC.` qualifier (unqualified references keep the column on
    * every side that has one — exactly the sides the join's resolver
    * could bind them to). Returns None — "use full width" — when a
    * reference cannot be classified safely: an alias qualifier that
    * collides with a real column name, a reference found on neither
    * side, or an unresolvable shape. Conservative by construction: the
    * narrow projection can only ever DROP columns the condition provably
    * never reads, so the guard's join semantics are unchanged. */
  private[graft] def guardColumns(
      tgtCols: Seq[String],
      srcCols: Seq[String],
      primaryKeys: Seq[String],
      baseCondition: String): Option[(Seq[String], Seq[String])] = {
    import org.apache.spark.sql.catalyst.analysis.{caseInsensitiveResolution => res}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def find(cols: Seq[String], n: String): Option[String] = cols.find(res(_, n))
    val tgtKeep = scala.collection.mutable.LinkedHashSet.empty[String]
    val srcKeep = scala.collection.mutable.LinkedHashSet.empty[String]
    // Primary keys must exist on both sides for the merge to resolve at
    // all; if one is missing, fall back and let the join raise the
    // analysis error the full-width path would raise.
    val pksOk = primaryKeys.forall { k =>
      (find(tgtCols, k), find(srcCols, k)) match {
        case (Some(t), Some(s)) => tgtKeep += t; srcKeep += s; true
        case _ => false
      }
    }
    if (!pksOk) return None
    val parsed = scala.util.Try(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(baseCondition))
    if (parsed.isFailure) return None // let the full-width join raise it
    val refs = parsed.get.collect {
      case u: UnresolvedAttribute => u.nameParts
    }
    val aliasCollides = Seq("TGT", "SRC").exists(a =>
      tgtCols.exists(res(_, a)) || srcCols.exists(res(_, a)))
    val ok = !aliasCollides && refs.forall {
      case Seq(q, rest @ _*) if rest.nonEmpty && res(q, "TGT") =>
        find(tgtCols, rest.head).exists { c => tgtKeep += c; true }
      case Seq(q, rest @ _*) if rest.nonEmpty && res(q, "SRC") =>
        find(srcCols, rest.head).exists { c => srcKeep += c; true }
      case parts if parts.nonEmpty =>
        // Unqualified reference (possibly a struct-field path): keep the
        // head column on every side that has it — resolution ambiguity
        // stays the analyzer's call, with the column present.
        val t = find(tgtCols, parts.head)
        val s = find(srcCols, parts.head)
        t.foreach(tgtKeep += _)
        s.foreach(srcKeep += _)
        t.nonEmpty || s.nonEmpty
      case _ => false
    }
    if (ok) Some((tgtKeep.toSeq, srcKeep.toSeq)) else None
  }
}
