package perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.{Dedup, IvfIndex, Similarity}

/** `curation`: a closed-loop batch pipeline repeated over one corpus. The
  * corpus is `m` salted copies of a seeded document set; copy `c` prefixes
  * every token with `c<c>_` (the token bijection of the program's
  * `ScaleCurve`), so within-copy similarity is preserved exactly and
  * cross-copy similarity is zero. Each iteration runs one staged pipeline
  * pass (`qualityScore` filter, `Dedup.exactText`, `Dedup.minHashDedup`;
  * each stage reads the previous stage's parquet output and writes its
  * own), rebuilds an `IvfIndex` over the embeddings, and serves batches of
  * seeded top-k queries from it with `loadTopK`. */
object Curation extends Workload {
  final case class Sizes(
      docs: Int, copies: Int, vectors: Int, dim: Int, cells: Int, queries: Int, batches: Int)
  val full = Sizes(docs = 2500, copies = 3, vectors = 2000, dim = 64, cells = 8, queries = 64, batches = 2)
  val tiny = Sizes(docs = 200, copies = 2, vectors = 300, dim = 16, cells = 4, queries = 8, batches = 2)
  // Document traffic, as measured on the program's `documents` fixture by
  // perfbench/measure_fixtures.py (5,000 documents): lengths uniform over
  // 10-99 tokens of a 30-word vocabulary drawn uniformly; near copies
  // are an earlier document with one token appended (4.9%), 0.16% an
  // exact copy.
  val minTokens = 10
  val maxTokens = 99
  val nearDupShare = 0.049
  val exactDupShare = 0.0016
  val nearDupToken = "dup"
  // Embedding traffic, measured on the `embeddings` fixture: unit vectors
  // in 10 labelled groups whose centres are weak (per-dimension spread of
  // the centres 0.0089 against 0.125 within a group).
  val centres = 10
  val centreSpread = 0.0089
  val withinSpread = 0.125
  val k = 10
  val qualityFloor = 0.6
  val recallFloor = 0.5
  /** Document ids of copy c start at c * copyStride. */
  val copyStride = 10000000L

  /** The fixture's vocabulary. */
  private val vocab: Vector[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** The 1x document set, with the fixture's traffic. A near copy appends
    * `nearDupToken` to an original no other copy came from, so every near
    * pair has a word-3-shingle Jaccard of 8/9 or more and every other pair
    * one far below the 0.8 threshold: the verified pairs do not depend on
    * how a copy's tokens hash. Documents below about 22 tokens fail the
    * quality floor. */
  private def documents(rng: Random, n: Int): Seq[(Long, String)] = {
    def words(k: Int) = Vector.fill(k)(vocab(rng.nextInt(vocab.size)))
    val originals = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    val unused = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    (0 until n).map { i =>
      val u = rng.nextDouble()
      val text =
        if (unused.nonEmpty && u < exactDupShare) originals(rng.nextInt(originals.size)).mkString(" ")
        else if (unused.nonEmpty && u < exactDupShare + nearDupShare)
          (unused.remove(rng.nextInt(unused.size)) :+ nearDupToken).mkString(" ")
        else {
          val doc = words(minTokens + rng.nextInt(maxTokens - minTokens + 1))
          originals += doc; unused += doc
          doc.mkString(" ")
        }
      (i.toLong, text)
    }
  }

  /** Seeded unit vectors around weak centres, as in the fixture. */
  private def vectors(rng: Random, n: Int, dim: Int, cs: Seq[Array[Double]], idBase: Long) =
    (0 until n).map { i =>
      val c = cs(rng.nextInt(cs.size))
      val v = c.map(_ + rng.nextGaussian() * withinSpread)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(idBase + i, v.map(x => (x / norm).toFloat).toSeq)
    }

  final class State(val dir: Path, val sz: Sizes) {
    val corpus: String = dir.resolve("corpus").toString
    val embeddings: String = dir.resolve("embeddings").toString
    val queries: Seq[String] = (0 until sz.batches).map(i => dir.resolve(s"queries$i").toString)
    val index: String = dir.resolve("index").toString
    val quality: String = dir.resolve("stage_quality").toString
    val exact: String = dir.resolve("stage_exact").toString
    val curated: String = dir.resolve("curated").toString
    var corpusDocs = 0L
  }

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  private def setupOnce(spark: SparkSession, dir: Path, b: Bench): State = {
    val sz = if (b.args.tiny) tiny else full
    val st = new State(dir, sz)
    val rng = new Random(b.args.seed)
    import spark.implicits._
    val docs = documents(rng, sz.docs)
    // m salted copies: copy c renames every token t to c<c>_t (a bijection
    // of the token alphabet that keeps case and spacing), ids shifted per copy.
    def salted(c: Int): Seq[(Long, String)] = docs.map { case (id, text) =>
      (id + c * copyStride, text.split(" ", -1).map(t => if (t.isEmpty) t else s"c${c}_$t").mkString(" "))
    }
    (0 until sz.copies).flatMap(salted).toDF("doc_id", "text")
      .repartition(b.cores).write.parquet(st.corpus)
    st.corpusDocs = docs.size.toLong * sz.copies
    val cs = Seq.fill(centres)(Array.fill(sz.dim)(rng.nextGaussian() * centreSpread))
    spark.createDataFrame(spark.sparkContext.parallelize(
      vectors(rng, sz.vectors, sz.dim, cs, 0L), b.cores), vecSchema).write.parquet(st.embeddings)
    st.queries.zipWithIndex.foreach { case (q, i) =>
      spark.createDataFrame(spark.sparkContext.parallelize(
        vectors(rng, sz.queries, sz.dim, cs, 10000000L * (i + 1)), 1), vecSchema).write.parquet(q)
    }
    st
  }

  private def qualityStage(docs: DataFrame): DataFrame =
    docs.filter(TextFunctions.qualityScore(col("text")) >= qualityFloor)

  private def exactStage(docs: DataFrame): DataFrame = Dedup.exactText(docs, "text", "doc_id")

  private def topK(b: Bench, st: State, i: Int): Array[Row] =
    IvfIndex.loadTopK(b.spark, st.index, b.spark.read.parquet(st.queries(i)),
      "embedding", "vec_id", k).collect()

  private def fullAnswers(st: State, rows: Array[Row]): Boolean = {
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    byQ.size == st.sz.queries && byQ.values.forall(_.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to k))
  }

  def run(b: Bench): Result = {
    val st = b.setup(3)((spark, dir) => setupOnce(spark, dir, b))
    val spark = b.spark
    var deadline = Long.MaxValue
    def open = System.nanoTime() < deadline
    def stage(name: String, in: String, out: String, cold: Boolean)(f: DataFrame => DataFrame): Boolean =
      open && b.op(name, "write", cold)(
        f(spark.read.parquet(in)).write.mode("overwrite").parquet(out))(_ => true).isDefined
    val answers = scala.collection.mutable.ArrayBuffer.empty[Row] // cold pass top-k, for recall
    var persistedBytes = 0L // what the near-dup stage leaves cached, at most
    def search(cold: Boolean, i: Int): Unit =
      if (open) b.op("search.topk", "read", cold)(topK(b, st, i))(fullAnswers(st, _))
        .foreach(rows => if (cold) answers ++= rows)
    /** One iteration, each operation started only before the deadline;
      * returns the kept-document count of a completed pass, else -1. A
      * warm iteration serves its first query batch before the pass, so a
      * short run still samples reads. */
    def iteration(cold: Boolean, expectedKept: Long): Long = {
      if (!cold) search(cold, 0)
      val staged = stage("curation.quality", st.corpus, st.quality, cold)(qualityStage) &&
        stage("curation.exact", st.quality, st.exact, cold)(exactStage)
      val complete = staged &&
        stage("curation.near_dup", st.exact, st.curated, cold)(Dedup.minHashDedup(_, "text", "doc_id"))
      persistedBytes = persistedBytes.max(
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
      spark.catalog.clearCache()
      val kept = if (complete) spark.read.parquet(st.curated).count() else -1L
      if (complete && expectedKept >= 0) b.verify("kept docs stable across passes")(kept == expectedKept)
      if (open)
        b.op("search.index_build", "write", cold)(IvfIndex.writeIndex(
          spark.read.parquet(st.embeddings), "embedding", "vec_id", st.index, nlist = st.sz.cells))(_ => true)
      (if (cold) st.queries.indices else st.queries.indices.drop(1)).foreach(search(cold, _))
      kept
    }
    b.log("set-up done")
    val coldStart = b.ops.size
    val firstKept = iteration(cold = true, -1L)
    val coldPass = b.ops.drop(coldStart).map(_.seconds).sum
    val expectedKept = if (b.args.plantWrong) firstKept + 1 else firstKept
    b.log("cold pass done")
    // Untraced: one whole iteration, then more until --seconds, the last
    // one cut at the first operation due after the deadline. Traced: three
    // whole iterations, the middle one traced.
    val end = System.nanoTime() + b.args.seconds * 1000000000L
    var iter = 0
    while (if (b.args.trace) iter < 3 else iter == 0 || System.nanoTime() < end) {
      if (!b.args.trace && iter == 1) deadline = end
      b.traceAt(if (iter == 1) 0.5 else 0.0)
      iteration(cold = false, expectedKept)
      iter += 1
    }
    b.tracer.disable(spark)
    b.log("timed loop done")

    // Output checks, outside the timed loop. The token bijection makes every
    // copy of the corpus yield the same verified pairs and kept documents,
    // so the m-copy totals are m times those of copy 0 (the 1x corpus). The
    // pairs are counted on the exact stage's output of the last pass, the
    // near-dup stage's own input.
    // A check whose inputs are missing (a stage that failed) fails itself.
    val m = st.sz.copies
    lazy val corpus = spark.read.parquet(st.exact)
    val (pairsM, pairs1, kept1) = scala.util.Try {
      val pairs = Dedup.minHashLsh(corpus, "text", "doc_id").select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val inCopy0 = pairs.filter(_._2 < copyStride)
      // minHashDedup's rule: drop the higher id of every verified pair.
      (pairs.length.toLong, inCopy0.length.toLong,
        corpus.filter(col("doc_id") < copyStride).count() - inCopy0.map(_._2).distinct.length)
    }.getOrElse((-1L, -1L, -1L))
    spark.catalog.clearCache()
    b.log("m-copy pairs counted")
    b.verify("verified pairs = m x 1x")(pairsM == m * pairs1 && pairs1 > 0)
    b.verify("kept docs = m x 1x")(kept1 >= 0 && firstKept == m * kept1)
    val recall = scala.util.Try {
      val queries = st.queries.map(spark.read.parquet(_)).reduce(_.unionByName(_))
      val exact = Similarity.bruteForceTopK(spark.read.parquet(st.embeddings), queries,
        "embedding", "vec_id", k).select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val approx = answers.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (exact & approx).size.toDouble / exact.size
    }.getOrElse(0.0)
    b.verify(s"recall@$k >= $recallFloor")(recall >= recallFloor)
    b.log("checks done")

    // A pipeline pass is its three stages; the iterations whose stages all
    // ran untraced and succeeded.
    val stages = Seq("curation.quality", "curation.exact", "curation.near_dup")
    val complete = b.ops.filter(o => !o.cold && stages.contains(o.name)).grouped(3)
      .filter(g => g.size == 3 && g.forall(_.ok)).toSeq
    val passes = {
      val untraced = complete.filter(_.forall(!_.traced)).map(_.map(_.seconds).sum)
      if (untraced.nonEmpty || !b.args.trace) untraced else complete.map(_.map(_.seconds).sum)
    }
    val layers =
      if (!b.args.trace) Map.empty[String, Double]
      else {
        val candidates = scala.util.Try(candidatePairs(spark, corpus, st.dir.resolve("sigs").toString))
          .getOrElse(0L)
        def opMed(name: String) = {
          val xs = b.ops.filter(o => o.traced && o.ok && o.name == name).map(_.seconds).toSeq
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
        Map(
          "curation.quality_s" -> opMed("curation.quality"),
          "curation.exact_s" -> opMed("curation.exact"),
          "curation.near_dup_s" -> opMed("curation.near_dup"),
          "curation.candidate_pairs" -> candidates.toDouble,
          "curation.verified_pairs" -> pairsM.toDouble,
          "curation.verified_per_candidate" -> pairsM.toDouble / math.max(1L, candidates),
          "search.index_build_s" -> opMed("search.index_build"),
          "search.topk_s" -> opMed("search.topk"),
          "search.recall" -> recall)
      }
    Result(
      coldPassS = coldPass,
      writes = Sample.of(b.ops, "write"),
      reads = Sample.of(b.ops, "read"),
      throughputPerS = if (passes.isEmpty) Double.NaN else st.corpusDocs / Stats.median(passes),
      detail = Map(
        "corpus_docs" -> st.corpusDocs, "copies" -> m, "kept_docs" -> firstKept,
        "pass_s" -> (if (passes.isEmpty) Double.NaN else Stats.median(passes)),
        "persisted_bytes" -> persistedBytes,
        "verified_pairs" -> pairsM, "verified_pairs_1x" -> pairs1, "search_recall" -> recall,
        "queries_per_batch" -> st.sz.queries,
        "search_qps" -> (if (b.samples("read").isEmpty) Double.NaN
          else st.sz.queries / Stats.median(b.samples("read")))),
      layers = layers)
  }

  /** LSH candidate pairs the band join enumerates before verification:
    * Σ n(n-1)/2 over (band, band slice) buckets of the program's own
    * stored MinHash signatures, at `minHashDedup`'s default 64 hashes in
    * 16 bands. */
  private def candidatePairs(spark: SparkSession, docs: DataFrame, sigPath: String): Long = {
    val bands = 16
    val rows = 64 / bands
    Dedup.writeMinHashSignatures(docs, "text", "doc_id", sigPath)
    val sigs = spark.read.parquet(sigPath)
    (0 until bands).map { band =>
      sigs.groupBy(slice(col("sig"), band * rows + 1, rows).as("s")).count()
        .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0))).head().getDouble(0)
    }.sum.toLong
  }
}
