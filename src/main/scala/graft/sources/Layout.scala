package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-ORDER (Morton-curve) clustering at
  * write time, so that scans filtering on ANY of the layout dimensions
  * skip most of the data — the standard answer (Delta OPTIMIZE ZORDER
  * BY, Iceberg sort orders) to "we sorted by date, so every query on
  * customer still reads 100 TB".
  *
  * A single-column sort concentrates that column's values per file but
  * leaves every other column's min/max spanning the full domain — file
  * and row-group statistics (the pruning unit at scale) only help on the
  * sort column. Interleaving the bits of several columns' EQUI-DEPTH
  * bucket ranks gives each file a small hyper-rectangle of the combined
  * domain, so min/max stats stay narrow on every layout dimension at
  * once: a predicate on any of them prunes ~n^((d-1)/d) of the files.
  *
  * Scale shape: one `approxQuantile` pass per dimension for the bucket
  * boundaries (equi-depth ranks, so skewed columns still spread across
  * the curve — linear min/max scaling would collapse a heavy hitter into
  * one bucket), then a single range-repartition + in-partition sort on
  * the z-value — the exact pay-once shuffle a bucketed write does. The
  * z-value itself is pure codegen arithmetic (shift/and/or), no UDFs.
  */
object Layout {

  /** Count of sorted `edges` at or below `x` — the equi-depth bucket
    * rank, as the native [[graft.functions.BucketRank]] binary search.
    * NOT `size(filter(litArray, _ <= x))`: ArrayFilter is
    * CodegenFallback, which forces the whole enclosing projection into
    * interpreted eval (and the layout write evaluates that projection
    * twice — range-sampling pass + shuffle pass); a when-tree
    * formulation stays expression-only but its 2^bits CaseWhen nodes
    * blow the codegen size limits and fall back just the same. Duplicate
    * edges keep the exact count semantics (upper-bound search). Nulls
    * must be pre-coalesced by the caller (rank 0 ⇔ -Inf). Callers must
    * have run `GraftFunctions.register`. */
  private[graft] def bucketRank(x: Column, edges: Array[Double]): Column =
    call_function(graft.functions.GraftFunctions.BucketRankName,
      x, array(edges.map(lit(_)): _*))

  /** `df` plus `outCol` = interleaved bits of the equi-depth bucket ranks
    * of `dims` (numeric columns; nulls rank lowest). `boundaries(d)` are
    * the ascending bucket edges for dimension d (size 2^bitsPerDim - 1,
    * from [[boundariesFor]]'s quantile pass). Shared by [[zorderWrite]]
    * and [[graft.operators.Versioned.cluster]].
    *
    * The ranks land in their OWN projection and the bit-interleave reads
    * them as plain attributes: inlining the rank tree into the fold would
    * copy it into every bit term (bitsPerDim × dims copies of a
    * 2^bits-node tree — a plan so large codegen degrades and interpreted
    * eval re-walks every copy). */
  private[graft] def withZValue(
      df: DataFrame,
      dims: Seq[String],
      boundaries: Seq[Array[Double]],
      bitsPerDim: Int,
      outCol: String = "__z"): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val d = dims.size
    // Collision-free temp names: withColumn silently REPLACES a
    // same-named caller column, so suffix until no input column matches
    // (the temps are dropped before return either way).
    val rankCols = {
      val taken = df.columns.toSet
      var prefix = "__zrank_"
      while (dims.indices.exists(i => taken(s"$prefix$i"))) prefix += "x"
      dims.indices.map(i => s"$prefix$i")
    }
    val ranked = dims.zip(boundaries).zipWithIndex.foldLeft(df) {
      case (acc, ((c, bs), i)) =>
        val x = coalesce(col(c).cast("double"), lit(Double.NegativeInfinity))
        acc.withColumn(rankCols(i), bucketRank(x, bs))
    }
    val z = rankCols.zipWithIndex.foldLeft(lit(0L)) { case (acc, (rc, dim)) =>
      (0 until bitsPerDim).foldLeft(acc) { (a, i) =>
        a.bitwiseOR(shiftleft(shiftright(col(rc), i).bitwiseAND(lit(1L)), i * d + dim))
      }
    }
    ranked.withColumn(outCol, z).drop(rankCols: _*)
  }

  /** Equi-depth bucket boundaries for every layout dimension in ONE
    * quantile pass (one job, not one per dim — at 100 TB each quantile
    * pass is a full scan). Boundary precision only needs to resolve
    * bucket edges, so the relative error tracks the bucket width
    * (quarter-bucket): tighter bits → tighter summaries, and a coarse
    * curve never pays for precision it cannot encode. */
  private[graft] def boundariesFor(
      df: DataFrame, dims: Seq[String], bitsPerDim: Int): Seq[Array[Double]] = {
    require(dims.nonEmpty, "z-order requires at least one dimension")
    require(bitsPerDim >= 1 && dims.size * bitsPerDim <= 63,
      s"dims*bitsPerDim must fit a long, got ${dims.size}*$bitsPerDim")
    val nb = (1 << bitsPerDim) - 1
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    val err = 0.25 / (nb + 1)
    df.stat.approxQuantile(dims.toArray, probs, err).toSeq
  }

  /** Write `df` to `path` as parquet, z-order-clustered on `dims`
    * (numeric columns). `numFiles` bounds the file count — at cluster
    * scale set it so files land near the row-group/HDFS-block sweet spot
    * (~128 MB–1 GB). `bitsPerDim` trades curve resolution against the
    * quantile pass (2^bits boundaries per dimension); 8 bits = 256
    * equi-depth buckets per dimension is plenty below ~10⁵ files. */
  def zorderWrite(
      df: DataFrame,
      dims: Seq[String],
      path: String,
      numFiles: Int,
      bitsPerDim: Int = 8): Unit = {
    val boundaries = boundariesFor(df, dims, bitsPerDim)
    withZValue(df, dims, boundaries, bitsPerDim)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file [min, max] of `valueCol` in a parquet directory — the
    * statistics a pruning scan consults. One column-pruned footer-cheap
    * aggregate per file; used by specs (and operators sizing a layout)
    * to measure how many files a predicate would actually touch. */
  def fileRanges(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      valueCol: String): Seq[(String, Double, Double)] = {
    spark.read.parquet(path)
      .select(input_file_name().as("f"), col(valueCol).cast("double").as("v"))
      .groupBy("f").agg(min("v").as("lo"), max("v").as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSeq
  }
}
