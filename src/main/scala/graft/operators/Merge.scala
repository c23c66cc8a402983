package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation}
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
  *     Delta's contract. The check rides on the plan's own join (see
  *     [[guarded]]): no second join, no extra pass.
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

  /** Pure plan: returns the post-merge contents of `target` (lazy); see
    * [[plan]] for its shape. */
  def apply(
      target: DataFrame,
      source: DataFrame,
      primaryKeys: Seq[String],
      updateColumns: Seq[String],
      baseCondition: String = "1=1",
      insertWhenNotMatched: Boolean = false): DataFrame =
    plan(Plan(target, source, primaryKeys, updateColumns, baseCondition),
      insertWhenNotMatched, None)

  /** [[apply]]'s plan together with the check of Delta's multiple-matches
    * contract, taken in band from two `Dataset.observe` counts on the
    * plan's own join: target rows in, and target-tagged rows out. A target
    * row matched by k source rows leaves the outer join max(1, k) times,
    * so the counts agree exactly when no target row is matched more than
    * once under the full condition (primary keys AND `baseCondition`).
    * Call the check once the plan has been written: it raises on a
    * mismatch, or when a count has not arrived within 60 s (fail closed,
    * never hang). */
  private[graft] def guarded(
      target: DataFrame,
      source: DataFrame,
      primaryKeys: Seq[String],
      updateColumns: Seq[String],
      baseCondition: String,
      insertWhenNotMatched: Boolean): (DataFrame, () => Unit) = {
    val (rowsIn, rowsOut) = (Observation(), Observation())
    val merged = plan(Plan(target, source, primaryKeys, updateColumns, baseCondition),
      insertWhenNotMatched, Some((rowsIn, rowsOut)))
    // Retries: a failed task attempt's accumulator updates are dropped, so
    // task retries do not double count. A re-run of a whole stage can only
    // over-count, which makes the counts disagree: the guard then aborts
    // rather than pass a wrong merge (unless the re-run's surplus exactly
    // cancels a duplicate's).
    def rows(o: Observation) =
      Try(Await.result(o.future, 60.seconds).getLong(0)).toOption
    (merged, () => (rows(rowsIn), rows(rowsOut)) match {
      case (Some(in), Some(out)) if in == out => ()
      case (in, out) =>
        def shown(n: Option[Long]) = n.fold("none within 60 s")(_.toString)
        throw new IllegalStateException(
          "Merge failed: multiple source rows matched a single target row " +
            s"on keys ${primaryKeys.mkString(", ")} " +
            s"(target rows in: ${shown(in)}, out: ${shown(out)})")
    })
  }

  /** The one tagged outer join described on the object. It replaces the
    * classic union of three joins (untouched ∪ matched ∪ inserts), which
    * scans the target once per branch; row multiset and schema match that
    * union (CASE branches coerce to the same widest(TGT, SRC) type). */
  private def plan(p: Plan, insertWhenNotMatched: Boolean,
      guard: Option[(Observation, Observation)]): DataFrame = {
    def observed(df: DataFrame, o: Option[Observation], rows: Column) =
      o.fold(df)(df.observe(_, count(rows).as("rows")))
    // The source's count is never read: its node only stops the optimizer
    // folding a literal source key into the join condition, where a
    // full-outer join left without an equi-key plans as a nested-loop join
    // that scans the target twice and so doubles the count of rows in.
    val joined = observed(
      p.join(observed(p.target, guard.map(_._1), lit(1)),
        observed(p.source, guard.map(_ => Observation()), lit(1)),
        if (insertWhenNotMatched) "full_outer" else "left_outer"),
      guard.map(_._2), col("__tgt_tag"))
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
    // Same single tagged join as [[apply]], exploded into the pre/post/
    // insert tuples. Inner join when inserts are off (only matched rows
    // matter here); right-outer keeps not-matched source rows as the
    // insert branch.
    val joined = p.join(target, source,
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

    /** `tgt` ⋈ `src` on [[cond]], each side provenance-tagged: non-null
      * tags survive the outer join where data columns (nullable pks
      * included) could not distinguish no-match from null. */
    def join(tgt: DataFrame, src: DataFrame, how: String): DataFrame =
      tagged(tgt, "__tgt_tag").alias("TGT")
        .join(tagged(src, "__src_tag").alias("SRC"), cond, how)

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
}
