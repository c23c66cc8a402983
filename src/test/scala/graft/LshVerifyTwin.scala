package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.Dedup

/** The near-dup verification `Dedup` ran before its native expressions:
  * the higher-order slot-match prefilter and the explode + `collect_set`
  * exact Jaccard. DedupSpec pins `graft_sig_matches` and
  * `graft_shingle_jaccard` bit-equal to [[sigMatches]] and
  * [[setJaccard]], and the LSH operators' pair sets equal to [[pairs]]. */
object LshVerifyTwin {

  /** Equal-slot count as an interpreted `zip_with`/`aggregate` fold. */
  def sigMatches(sa: Column, sb: Column): Column =
    aggregate(
      zip_with(sa, sb, (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
      lit(0), (acc, z) => acc + z)

  /** Jaccard of two distinct shingle-hash arrays. */
  def setJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** `(__id, __sh)`: each document's distinct shingle hashes, from the
    * exploded shingle rows and a `collect_set` shuffle. */
  def shingleSets(
      df: DataFrame, textCol: String, idCol: String,
      charMode: Boolean, n: Int): DataFrame =
    (if (charMode) Dedup.explodedCharShingles(df, textCol, idCol, n)
     else Dedup.explodedWordShingles(df, textCol, idCol, n))
      .groupBy("__id").agg(collect_set(col("__h")).as("__sh"))

  /** The former LSH pipeline, collected: persisted native signatures →
    * band candidates → HOF prefilter at `(t − 3σ)·k` → exact Jaccard over
    * `collect_set` shingle sets of the candidate documents. */
  def pairs(
      df: DataFrame, textCol: String, idCol: String, charMode: Boolean,
      n: Int, numHashes: Int, bands: Int, threshold: Double): Set[(Long, Long, Double)] = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sig =
      if (charMode) Dedup.rowLocalCharMinhashSig(col(textCol), n, numHashes)
      else Dedup.rowLocalMinhashSig(col(textCol), n, numHashes)
    val sigs = df.select(col(idCol).as("__id"), sig.as("__sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val candidates = Dedup.bandCandidates(sigs, numHashes, bands, Dedup.DefaultMaxBucket)
      val sigma = math.sqrt(threshold * (1 - threshold) / numHashes)
      val minMatches = math.max(0.0, threshold - 3.0 * sigma) * numHashes
      val prefiltered = candidates
        .join(sigs.select(col("__id").as("id_a"), col("__sig").as("__sa")), "id_a")
        .join(sigs.select(col("__id").as("id_b"), col("__sig").as("__sb")), "id_b")
        .filter(sigMatches(col("__sa"), col("__sb")) >= minMatches)
        .select("id_a", "id_b")
      val candIds = prefiltered
        .select(explode(array(col("id_a"), col("id_b"))).as("__cand_id"))
        .distinct()
      val sets = shingleSets(
        df.join(candIds, df(idCol) === candIds("__cand_id"), "left_semi"),
        textCol, idCol, charMode, n)
      prefiltered
        .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), "id_a")
        .join(sets.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), "id_b")
        .select(col("id_a"), col("id_b"), setJaccard(col("__sh_a"), col("__sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    } finally sigs.unpersist()
  }
}
