package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.TextFunctions._
import graft.operators.Checkpoints.CapOps

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design, common to every near-dup variant here: candidate pairs
  * come from an LSH-style BLOCKING key (band hash / bit chunk / hyperplane
  * bucket), so the only joins are equi-joins on small keys — never an
  * O(n²) cross join. Each stage is a shuffle keyed by the blocking value;
  * skew is bounded because blocking keys are hashes (uniform). Verification
  * (exact Jaccard / hamming / cosine) runs only on candidate pairs.
  * Nothing ever collects to the driver.
  *
  * MinHash LSH ([[minHashLsh]], [[ngramJaccardPairs]],
  * [[minHashDedup]], [[minHashLshIncremental]]) is one query of two
  * sides over the input:
  *  - the BAND side computes every document's signature with the native
  *    [[graft.functions.MinhashSig]] projection (word mode over the token
  *    array, char mode over the normalized text), explodes band hashes,
  *    caps hot buckets and self-joins them into candidate id pairs;
  *  - the VERIFICATION side semi-joins the input down to the candidate
  *    ids, computes `(signature, shingle input)` for those documents
  *    only, joins them to both ends of each pair and keeps a pair when
  *    `graft_sig_matches` passes the 3σ signature prefilter and
  *    `graft_shingle_jaccard` (exact Jaccard of the distinct shingle
  *    hashes) reaches the threshold.
  *
  * Both checks are native expressions over one projection: no
  * interpreted higher-order lambda, no explode + `collect_set` shuffle,
  * no persisted intermediate. The signature and the Jaccard shingle the
  * text through one shared loop, so they agree by construction; DedupSpec
  * pins both bit-equal to the explode/`collect_set` formulation they
  * replaced. The explode + NARROW hash-aggregate signature
  * ([[minhashSigs]]) remains as the signature's verification twin,
  * pinned by StreamingCurationSpec (word) and DedupSpec (char).
  */
object Dedup {

  // ------------------------------------------------------------ exact dedup

  /** Exact dedup: keep the lowest-`idCol` row per duplicate group of
    * `keyCols` (deterministic winner). Hash-aggregate based: one shuffle
    * on the dedup key. Equivalent SQL: GROUP BY key → min(id) → semi-join.
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val winners = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol))
      .select((keyCols :+ idCol).map(c => col(c).as(s"__w_$c")): _*)
    // Null-safe key equality (<=>): groupBy treats NULL keys as a group, so
    // the winner row exists — a plain equi-join would silently drop it.
    val cond = keyCols.map(k => df(k) <=> winners(s"__w_$k")).reduce(_ && _) &&
      df(idCol) === winners(s"__w_$idCol")
    df.join(winners, cond, "left_semi")
  }

  /** Exact text dedup on the md5 fingerprint of normalized text: cheaper
    * shuffle (32-byte key instead of full document text). With
    * `foldAccents = true` the key is additionally diacritic-folded
    * ([[graft.functions.TextFunctions.foldAccents]]), so "café" and
    * "cafe" collapse into one duplicate group — the robustness knob for
    * multilingual web corpora where the same page surfaces with and
    * without mojibake-stripped accents. Folding stays a pure scan-stage
    * projection; the shuffle shape is unchanged. */
  def exactText(df: DataFrame, textCol: String, idCol: String,
      foldAccents: Boolean = false): DataFrame = {
    val key = if (foldAccents)
      md5(normalizeText(graft.functions.TextFunctions.foldAccents(col(textCol))))
    else fingerprint(col(textCol))
    val keyed = df.withColumn("__fp", key)
    exact(keyed, Seq("__fp"), idCol).drop("__fp")
  }

  // ------------------------------------------------------- paragraph dedup

  /** CCNet-style PARAGRAPH-level exact dedup (Wenzek et al. 2020,
    * arXiv:1911.00359 §3.1): strike individual paragraphs whose
    * normalized form appears in at least `minDocs` DISTINCT documents —
    * the standard web-corpus mitigation for boilerplate that survives
    * document-level dedup (navigation chrome, license headers, cookie
    * banners repeat across pages whose bodies differ).
    *
    * Returns one row per input document: `idCol`, `n_paras` (paragraphs
    * seen), `n_struck` (paragraphs removed), and `text_clean` (the
    * surviving paragraphs rejoined with `sep`, original order).
    * Whitespace-only paragraphs are never struck (they carry no content
    * and would otherwise all collide on the empty normal form).
    *
    * Scale shape: one split+posexplode projection, one count-distinct
    * aggregate keyed by the paragraph hash (two-level, map-side partial),
    * one equi-join of the lines against the (small, boilerplate-only)
    * struck set, one per-doc reassembly aggregate. All shuffles are keyed
    * by uniform hashes; nothing collects to the driver; the struck-norm
    * side is tiny by construction (only paragraphs repeated across
    * `minDocs`+ docs) so AQE broadcasts it in practice.
    *
    * Collision bound: the join and DF count run on a COMPOUND hash of the
    * normalized paragraph — `(xxhash64, md5)`, 192 bits total — not the
    * text, so the shuffle carries 24-byte keys. A false strike needs a
    * SIMULTANEOUS 64-bit and 128-bit collision between two distinct
    * normal forms; at 2^-192 the multi-billion-paragraph birthday bound
    * (which makes a bare 64-bit key genuinely risky at the 100 TB target)
    * is negligible. */
  def paragraphDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minDocs: Int = 2,
      sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val lines = paragraphLines(df, textCol, idCol, sep)
    val struck = lines.filter(col("__nh").isNotNull)
      .groupBy("__nh", "__nmd5").agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__nh"), col("__nmd5"), lit(true).as("__struck"))
    reassemble(lines, struck, idCol, sep)
  }

  /** `(idCol, __pos, __para, __nh, __nmd5)` rows from a paragraph split —
    * `(__nh, __nmd5)` is the compound 24-byte join/DF key (xxhash64 +
    * binary md5 of the normalized paragraph; null for whitespace-only
    * paragraphs, which never participate in dedup). */
  private def paragraphLines(
      df: DataFrame, textCol: String, idCol: String, sep: String): DataFrame =
    df.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("__pos", "__para")))
      .withColumn("__norm", normalizeText(col("__para")))
      .withColumn("__nh",
        when(col("__norm") === "", lit(null).cast("long"))
          .otherwise(xxhash64(col("__norm"))))
      .withColumn("__nmd5",
        when(col("__norm") === "", lit(null).cast("binary"))
          .otherwise(unhex(md5(col("__norm")))))
      .drop("__norm")

  /** Join the struck-set flags back and reassemble per-doc outputs. */
  private def reassemble(
      lines: DataFrame, struck: DataFrame, idCol: String, sep: String): DataFrame =
    lines.join(struck, Seq("__nh", "__nmd5"), "left")
      .withColumn("__struck", coalesce(col("__struck"), lit(false)))
      .groupBy(idCol)
      .agg(
        count(lit(1)).cast("long").as("n_paras"),
        sum(when(col("__struck"), lit(1L)).otherwise(lit(0L))).as("n_struck"),
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("__struck"), struct(col("__pos"), col("__para"))))),
            x => x.getField("__para")),
          sep).as("text_clean"))

  /** Persist the corpus paragraph document-frequency table: one narrow
    * `(nh, nmd5, df)` parquet row per distinct non-empty normalized
    * paragraph (compound 192-bit key — see [[paragraphDedup]]'s collision
    * bound).
    * The artifact [[paragraphDedupIncremental]] strikes later batches
    * against — the corpus is paragraph-split exactly ONCE, here; every
    * subsequent daily batch pays splitting only for its own documents.
    * Raw counts (not a thresholded strike list) are stored so the strike
    * threshold can be chosen — or changed — at apply time without
    * recomputing the scan. */
  def writeParagraphDf(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      sep: String = "\n"): Unit =
    paragraphLines(df, textCol, idCol, sep)
      .filter(col("__nh").isNotNull)
      .groupBy("__nh", "__nmd5").agg(countDistinct(col(idCol)).as("__df"))
      .select(col("__nh").as("nh"), col("__nmd5").as("nmd5"), col("__df").as("df"))
      .write.mode("overwrite").parquet(path)

  /** Paragraph dedup of a NEW batch against a corpus summarized by a
    * [[writeParagraphDf]] store: a batch paragraph is struck when its
    * document frequency across corpus + batch reaches `minDocs` — exactly
    * the rows [[paragraphDedup]] over corpus ∪ batch would emit for the
    * batch documents (pinned by DedupSpec), without re-splitting the
    * stored corpus. Same output contract as [[paragraphDedup]]. Corpus
    * documents a batch pushes over the threshold are NOT re-emitted —
    * the store-side strike was decided when the corpus was processed,
    * the same touch-only-the-batch contract as [[minHashLshIncremental]].
    * Batch ids must be disjoint from corpus ids. */
  def paragraphDedupIncremental(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      dfPath: String,
      minDocs: Int = 2,
      sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val lines = paragraphLines(batch, textCol, idCol, sep)
    // Eager checkpoint: referenced by the bloom build AND the join —
    // narrow batch-sized rows, same lineage-cut convention as the band
    // union below in minHashLshIncremental.
    val batchDf = lines.filter(col("__nh").isNotNull)
      .groupBy("__nh", "__nmd5").agg(countDistinct(col(idCol)).as("__bdf"))
      .capLineage()
    val stored0 = spark.read.parquet(dfPath)
      .select(col("nh").as("__nh"), col("nmd5").as("__nmd5"), col("df").as("__sdf"))
    // Bloom-prune the store scan against the batch's paragraph keys:
    // the join below is batch-LEFT, so a stored row only matters when
    // its (nh, nmd5) matches a batch paragraph — pruning a non-matching
    // row is indistinguishable from it losing the join (coalesce(0)
    // either way), and matching rows always survive (no false
    // negatives). At a 100 TB corpus the paragraph-DF store is
    // corpus-paragraph-sized while a daily batch touches a sliver of
    // it; the prune makes the store-side join input (and, in the
    // non-broadcast regime, its shuffle) overlap-sized.
    val paraKey = xxhash64(col("__nh"), col("__nmd5"))
    val stored = BloomPrune.build(batchDf, paraKey,
        estItems = math.max(1024L, batchDf.count())) match {
      case Some(bf) => BloomPrune.prune(stored0, paraKey, bf)
      // No batch paragraphs: nothing can be struck, the store is dead.
      case None => stored0.limit(0)
    }
    // Combined df = batch-side distinct docs + stored corpus count. The
    // batch side is the small one in the daily regime, so AQE broadcasts
    // it against the store; stored rows never shuffle.
    val struck = batchDf
      .join(stored, Seq("__nh", "__nmd5"), "left")
      .filter(col("__bdf") + coalesce(col("__sdf"), lit(0L)) >= minDocs)
      .select(col("__nh"), col("__nmd5"), lit(true).as("__struck"))
    reassemble(lines, struck, idCol, sep)
  }

  /** The boilerplate side of a paragraph strike: the stored paragraphs
    * whose corpus document frequency reaches `minDocs`, as narrow
    * 8-byte-key rows. localCheckpointed — it is the STATIC side of a
    * stream-static join, which would otherwise re-evaluate per
    * micro-batch. */
  def boilerplateParagraphs(
      spark: org.apache.spark.sql.SparkSession,
      dfPath: String,
      minDocs: Int = 2): DataFrame =
    spark.read.parquet(dfPath)
      .filter(col("df") >= minDocs)
      .select(col("nh").as("__nh"), col("nmd5").as("__nmd5"))
      .capLineage()

  /** Paragraph strike as a STATELESS scan stage: drop the paragraphs of
    * incoming documents that match a persisted boilerplate set
    * ([[boilerplateParagraphs]] over a [[writeParagraphDf]] store),
    * emitting surviving paragraphs at PARAGRAPH grain `(idCol, pos,
    * para)` — no per-doc regroup, so the same transform runs unchanged
    * over a stream (split + hash are projections; the anti-join is
    * stream-static, which Structured Streaming executes statelessly).
    * This is the in-stream flavor of the strike: the corpus-side DF
    * analysis is the persisted artifact, the batch-side counting of
    * [[paragraphDedupIncremental]] is deliberately absent (a scan stage
    * cannot count across documents without becoming stateful), and
    * reassembly — when wanted — is a per-doc aggregation the consumer
    * runs downstream. Whitespace-only paragraphs (null key) never
    * match, so they always survive. */
  def paragraphStrike(
      docs: DataFrame,
      boilerplate: DataFrame,
      textCol: String,
      idCol: String,
      sep: String = "\n"): DataFrame =
    paragraphLines(docs, textCol, idCol, sep)
      .join(boilerplate, Seq("__nh", "__nmd5"), "left_anti")
      .select(col(idCol), col("__pos").as("pos"), col("__para").as("para"))

  // ------------------------------------------------------------ minhash LSH

  /** Exploded word-shingle hashes `(__id, __h)`: one row per shingle
    * position, substring/concat + xxhash64 computed inside whole-stage
    * codegen. No shingle array is ever materialized (the interpreted
    * `transform`-built arrays were the measured hot spot). Docs shorter
    * than `n` units yield one whole-text shingle, mirroring
    * `TextFunctions.wordShingles`. Duplicate shingles are kept — minhash
    * over a multiset equals minhash over its set. */
  private[graft] def explodedWordShingles(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("__id"), tokens(col(textCol)).as("__t"))
      .select(col("__id"), col("__t"),
        explode(sequence(lit(1), greatest(size(col("__t")) - (n - 1), lit(1)))).as("__i"))
      .select(col("__id"),
        xxhash64(concat_ws(" ", slice(col("__t"), col("__i"), lit(n)))).as("__h"))

  /** Exploded char-shingle hashes, same contract as the word variant. */
  private[graft] def explodedCharShingles(
      df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("__id"), normalizeText(col(textCol)).as("__t"))
      .select(col("__id"), col("__t"),
        explode(sequence(lit(1), greatest(length(col("__t")) - (n - 1), lit(1)))).as("__i"))
      .select(col("__id"), xxhash64(col("__t").substr(col("__i"), lit(n))).as("__h"))

  /** Cap on members per blocking bucket. A bucket of n docs yields n²/2
    * candidate pairs — boilerplate-heavy corpora (license headers,
    * navigation chrome) produce million-doc buckets at scale, and one
    * such bucket stalls the whole join. Buckets above the cap are dropped:
    * their members are near-identical boilerplate better handled by exact
    * dedup first (the standard production mitigation; skew never reaches
    * the join). */
  val DefaultMaxBucket = 10000

  /** Drop blocking buckets with more than `maxBucket` members. `keys` are
    * the bucket columns. One windowed count per bucket: a single shuffle
    * on the keys, which also leaves the rows partitioned for the bucket
    * self-join that follows — cheap relative to the n² it prevents. */
  private[graft] def capBuckets(
      buckets: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    buckets
      .withColumn("__bucket_n",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("__bucket_n") <= maxBucket)
      .drop("__bucket_n")

  /** Number of independent rehash regions in the minhash signature. A
    * pure one-permutation signature (1 region) leaves
    * `(1-1/k)^|shingles|` of its slots EMPTY for short documents — ~19%
    * for 52-token docs at k=32 — and an empty-vs-filled slot between two
    * docs almost never matches, which measurably depressed band recall
    * (3-4 of 256 true pairs missed at sf0.1). With m regions each fed by
    * ALL shingles under an independent rehash, a region bucket is empty
    * with prob `(1-m/k)^|shingles|` (~0.1% at m=4, k=32) and every slot's
    * match probability is back to the Jaccard similarity. Cost: m agg
    * updates per shingle instead of one — still narrow codegen, still
    * ~k/m× cheaper than classic k-permutation minhash. */
  private val SigRegions = 4

  /** Region-partitioned one-permutation minhash signatures `(__id, __sig)`
    * from exploded shingle-hash rows `(__id, __h)`.
    * [Li, Owen, Zhang 2012; densification: Shrivastava & Li 2014]
    *
    * Signature slot `r·(k/m) + (h_r mod k/m)` holds the min of rehash
    * `h_r = xxhash64(h, r)` over the doc's shingles — a narrow 3-column
    * two-level aggregate (codegen stays small; the round-1 k-column
    * aggregate spent seconds in Janino). Residual empty buckets (only
    * near-empty docs have any) are densified with the doc's global min —
    * a deterministic function of the shingle set, so identical docs still
    * collide on every band and unrelated short docs don't inherit a
    * shared sentinel. */
  private[operators] def minhashSigs(
      shingleRows: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes % SigRegions == 0, "numHashes must divide into regions")
    val per = numHashes / SigRegions
    val rehashes = (0 until SigRegions).map { r =>
      val hr = xxhash64(col("__h"), lit(r))
      struct((lit(r * per) + pmod(hr, lit(per.toLong)).cast("int")).as("b"),
        hr.as("m"))
    }
    val bucketMins = shingleRows
      .select(col("__id"), explode(array(rehashes: _*)).as("__bm"))
      .select(col("__id"), col("__bm.b").as("__b"), col("__bm.m").as("__m"))
      .groupBy("__id", "__b").agg(min(col("__m")).as("__m"))
    bucketMins.groupBy("__id")
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__m")))).as("__mm"),
        min(col("__m")).as("__g"))
      .select(col("__id"),
        transform(sequence(lit(0), lit(numHashes - 1)),
          i => coalesce(element_at(col("__mm"), i), col("__g"))).as("__sig"))
  }

  /** Row-local CHAR-shingle OPH signature via the same native expression
    * (STRING child selects char mode): `substr(norm, i, n)` shingles,
    * identical slot layout and densification — bit-equality with the
    * [[minhashSigs]]-over-[[explodedCharShingles]] aggregate is pinned by
    * DedupSpec. A pure projection, so the char LSH pipeline's signature
    * stage loses its explode + two-level aggregate exactly as the word
    * path did. */
  private[graft] def rowLocalCharMinhashSig(
      text: Column, n: Int, numHashes: Int): Column =
    minhashSig(normalizeText(text), n, numHashes)

  /** ROW-LOCAL twin of [[minhashSigs]] for STREAMING inputs: identical
    * region-partitioned OPH signature (same shingle hashes, same region
    * rehashes, same slot layout, same global-min densification —
    * equality with the batch signatures is pinned by
    * StreamingCurationSpec), computed by the native
    * [[graft.functions.MinhashSig]] expression inside one row, because a
    * streaming scan stage cannot host an aggregation without becoming a
    * stateful operator. (An interpreted-HOF fold was tried first:
    * ~150 s for the 5k-doc sf0.1 batch, ~50× the whole pipeline — the
    * per-element×slot lambda machinery, same lesson as the batch path's
    * explode+groupBy choice.) Caller must have run
    * `GraftFunctions.register(spark)`. */
  private[graft] def rowLocalMinhashSig(
      text: Column, shingleSize: Int, numHashes: Int): Column =
    minhashSig(tokens(text), shingleSize, numHashes)

  /** Band-hash struct array `array<struct<b:int, h:long>>` from a
    * signature column — the single definition both the batch band join
    * and the streaming scan derive band keys from. */
  private[graft] def bandStructs(sig: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map { bi =>
      struct(lit(bi).as("b"), xxhash64(slice(sig, bi * rows + 1, rows)).as("h"))
    }: _*)
  }

  /** Static `(__id, __band, __bandhash)` frame from a persisted
    * [[writeMinHashSignatures]] store — the corpus side of a streaming
    * batch-vs-store band join. */
  private[graft] def bandedStore(
      spark: org.apache.spark.sql.SparkSession,
      sigPath: String, numHashes: Int, bands: Int): DataFrame =
    spark.read.parquet(sigPath)
      .select(col("id").as("__id"),
        explode(bandStructs(col("sig"), numHashes, bands)).as("__bh"))
      .select(col("__id"), col("__bh.b").as("__band"), col("__bh.h").as("__bandhash"))

  /** LSH band candidate pairs from OPH signatures `(__id, __sig)`.
    *
    * band hash = xxhash64 of the band's signature slice; candidates come
    * from a self-equi-join on (band index, band hash), id_a < id_b,
    * distinct. Only doc ids cross the band join — signatures and shingle
    * inputs are attached later to the (small) candidate set, so
    * band-collision skew can't amplify wide rows. */
  private[graft] def bandCandidates(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucket: Int): DataFrame = {
    val banded = sigs
      .select(col("__id"), explode(bandStructs(col("__sig"), numHashes, bands)).as("__bh"))
      .select(col("__id"), col("__bh.b").as("__band"), col("__bh.h").as("__bandhash"))
    val capped = capBuckets(banded, Seq("__band", "__bandhash"), maxBucket)
    val l = capped.withColumnRenamed("__id", "id_a")
    val r = capped.withColumnRenamed("__id", "id_b")
    l.join(r, Seq("__band", "__bandhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** What a signature is computed from: the token array (word shingles)
    * or the normalized text (char shingles). */
  private def shingleInput(text: Column, charMode: Boolean): Column =
    if (charMode) normalizeText(text) else tokens(text)

  /** The native signature of a [[shingleInput]]. */
  private def minhashSig(input: Column, n: Int, numHashes: Int): Column =
    call_function(graft.functions.GraftFunctions.MinhashSigName, input, lit(n), lit(numHashes))

  /** OPH signatures `(__id, __sig)` as one native projection. */
  private def nativeSigs(
      df: DataFrame, textCol: String, idCol: String,
      charMode: Boolean, n: Int, numHashes: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("__id"),
      minhashSig(shingleInput(col(textCol), charMode), n, numHashes).as("__sig"))
  }

  /** Verified near-dup pairs `(id_a, id_b, jaccard)` among `candidates`
    * (`id_a`, `id_b`), in one projection over the pairs.
    *
    * `docs` is semi-joined down to the candidate ids first, so signatures
    * and shingle inputs are computed only for documents in some pair (AQE
    * broadcasts the id list) — never for the whole corpus. Each pair then
    * passes two native checks in order:
    *  - the signature prefilter: `graft_sig_matches ≥ (t − 3σ)·k`, with
    *    σ = √(t(1−t)/k). Band collisions at char-shingle granularity are
    *    noisy (unrelated docs share many char grams), so the band join
    *    can emit 50-100× more candidates than survive; the slot-match
    *    estimate drops that junk before the exact check. Precision is
    *    unaffected. The 3σ margin keeps the miss probability for a
    *    true-threshold pair near 0.1% even at k=32 (a 2.5σ cut dropped
    *    ~4 of 256 borderline pairs at sf0.1);
    *  - exact Jaccard, `graft_shingle_jaccard ≥ t`, over the distinct
    *    shingle hashes of both documents. */
  private def verifiedPairs(
      docs: DataFrame, textCol: String, idCol: String, candidates: DataFrame,
      charMode: Boolean, n: Int, numHashes: Int, threshold: Double): DataFrame = {
    import graft.functions.GraftFunctions.{ShingleJaccardName, SigMatchesName}
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sigma = math.sqrt(threshold * (1 - threshold) / numHashes)
    val minMatches = math.max(0.0, threshold - 3.0 * sigma) * numHashes
    val candIds = candidates.select(explode(array(col("id_a"), col("id_b"))).as(idCol))
    val candDocs = docs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol).as("__id"), shingleInput(col(textCol), charMode).as("__in"))
      .select(col("__id"), col("__in"),
        minhashSig(col("__in"), n, numHashes).as("__sig"))
    def end(s: String) = candDocs.select(col("__id").as(s"id_$s"),
      col("__in").as(s"__in_$s"), col("__sig").as(s"__sig_$s"))
    candidates.join(end("a"), "id_a").join(end("b"), "id_b")
      .filter(call_function(SigMatchesName, col("__sig_a"), col("__sig_b")) >= minMatches)
      .select(col("id_a"), col("id_b"),
        call_function(ShingleJaccardName, col("__in_a"), col("__in_b"), lit(n)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shared LSH pipeline, LAZY: native signatures → band candidates →
    * [[verifiedPairs]]. It reads `df` twice (the band side and the
    * verification side), so `df` must be deterministic. */
  private def lshJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      charMode: Boolean,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val candidates = bandCandidates(
      nativeSigs(df, textCol, idCol, charMode, n, numHashes), numHashes, bands,
      DefaultMaxBucket)
    verifiedPairs(df, textCol, idCol, candidates, charMode, n, numHashes, threshold)
  }

  /** Persist and count: the small pair set is materialized once, so
    * every later use (clustering, retention, reports) reads the cache
    * instead of re-running the pipeline. */
  private def materialized(pairs: DataFrame): DataFrame = {
    val result = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    result
  }

  /** MinHash + LSH banding near-dup pipeline over a text column: word
    * n-gram shingles → k-slot OPH minhash signature → band equi-join
    * candidates → signature prefilter → exact Jaccard ≥ threshold.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * EAGER: the result is persisted and materialized before it is
    * returned (the caller may `unpersist` it); nothing else stays cached.
    *
    * `seed` is retained for API stability but unused: one-permutation
    * hashing derives every slot from the single fixed-seed xxhash64, so
    * signatures are deterministic across runs by construction. */
  def minHashLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      seed: Long = 42L): DataFrame =
    materialized(lshJaccardPairs(df, textCol, idCol, charMode = false,
      shingleSize, numHashes, bands, threshold))

  /** A tuned [[minHashLsh]] configuration: `numHashes = rowsPerBand ×
    * bands`, `missAtThreshold` the S-curve probability that a pair at
    * EXACTLY the target Jaccard collides in no band, and
    * `expectedFalseCandidates` the estimated sub-threshold pairs the
    * band join would emit on the sampled distribution (the cost the
    * exact-verify stage pays). */
  final case class MinhashTuning(
      numHashes: Int,
      bands: Int,
      rowsPerBand: Int,
      missAtThreshold: Double,
      expectedFalseCandidates: Double)

  /** Choose `(numHashes, bands)` for [[minHashLsh]] from the LSH S-curve
    * and a CORPUS SAMPLE, instead of hand-picking: for band size r and
    * band count b, a pair at Jaccard j collides in at least one band
    * with probability `1 − (1 − j^r)^b` [Leskovec/Rajaraman/Ullman,
    * Mining of Massive Datasets §3.4]. The tuner enumerates r, takes for
    * each the MINIMAL b that pushes the miss rate at the target
    * threshold under `targetMiss` (recall floor from theory, not from
    * luck), and picks the feasible config minimizing a two-part cost:
    * signature work (`numHashes` slots per doc) plus verification work
    * (expected sub-threshold candidates × `verifyWeight`). The second
    * term is where the SAMPLE earns its keep — the sampled pair-Jaccard
    * histogram prices each config's false-candidate volume on THIS
    * corpus: boilerplate-heavy corpora (many mid-similarity pairs) push
    * the choice toward sharper curves (larger r, more hashes), clean
    * corpora settle on cheap flat ones.
    *
    * The classic S-curve assumes INDEPENDENT minhashes; OPH signatures
    * are not quite that. When `numHashes` approaches the per-doc shingle
    * count, region slots go EMPTY and densify to the doc's global min —
    * and a slot that is empty on one side of a pair but filled on the
    * other almost surely disagrees. The tuner corrects for this with the
    * sampled median shingle count s: per-slot empty probability
    * `p0 ≈ e^(−s/per)` (per = slots per region), pair agreement scales
    * by `q = 1 − 2·p0·(1−p0)`, and the band probability becomes
    * `(j·q)^r`. Without the correction the tuner happily "upgrades" to
    * more hashes than the documents have shingles and loses recall
    * exactly where theory promised none would be lost (measured: a
    * 96/32 pick missed 4/256 ground-truth pairs at sf0.1 that the
    * corrected pick recovers).
    *
    * Deterministic: the sample should be a deterministic slice
    * (`Sampling.bucket`), everything downstream is closed-form. The
    * all-pairs Jaccard pass over the sample is quadratic in sample size
    * — keep samples to O(100s) of docs; the histogram collected to the
    * driver is ≤ 20 rows regardless. Constraints honored: numHashes is
    * a multiple of 4 (the OPH region count) and divides evenly into
    * bands, so the result is always a legal [[minHashLsh]] config. */
  def tuneMinhash(
      sample: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      targetMiss: Double = 1e-3,
      maxHashes: Int = 256,
      verifyWeight: Double = 200.0): MinhashTuning = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1): $threshold")
    require(targetMiss > 0 && targetMiss < 1, s"targetMiss in (0,1): $targetMiss")
    // Sampled pair-similarity histogram (20 j-buckets, driver-bounded):
    // exact Jaccard over distinct shingle hashes, pairs sharing >= 1.
    val grams = explodedWordShingles(sample, textCol, idCol, shingleSize)
      .select(col("__id"), col("__h")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.groupBy("__id").agg(count(lit(1)).as("__n"))
    val inter = grams.withColumnRenamed("__id", "__ia")
      .join(grams.withColumnRenamed("__id", "__ib"), "__h")
      .filter(col("__ia") < col("__ib"))
      .groupBy("__ia", "__ib").agg(count(lit(1)).as("__i"))
    val hist: Map[Int, Long] = inter
      .join(sizes.select(col("__id").as("__ia"), col("__n").as("__na")), "__ia")
      .join(sizes.select(col("__id").as("__ib"), col("__n").as("__nb")), "__ib")
      .select(floor(col("__i") * 20.0 / (col("__na") + col("__nb") - col("__i")))
        .cast("int").as("__bk"))
      .groupBy("__bk").agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nSampleDocs = sample.select(idCol).distinct().count()
    val medianShingles = sizes.agg(
      expr("percentile_approx(__n, 0.5)").cast("double")).head().getDouble(0)
    grams.unpersist()

    // occupancy-corrected agreement factor for a config with n slots
    def qFactor(n: Int): Double = {
      val per = n / 4.0
      val p0 = math.exp(-medianShingles / per)
      1.0 - 2.0 * p0 * (1.0 - p0)
    }
    def missAt(j: Double, r: Int, b: Int): Double =
      math.pow(1 - math.pow(j * qFactor(r * b), r), b)

    val candidates = (1 to 16).flatMap { r =>
      // smallest region-legal b whose CORRECTED miss meets the target;
      // q shrinks as b grows, so walk b upward and stop at the cap
      val bTheory = math.max(1, math.ceil(
        math.log(targetMiss) / math.log(1 - math.pow(threshold, r))).toInt)
      val bStart = Iterator.from(bTheory).find(bb => (r * bb) % 4 == 0).get
      Iterator.iterate(bStart)(bb =>
          Iterator.from(bb + 1).find(nb => (r * nb) % 4 == 0).get)
        .takeWhile(bb => r * bb <= maxHashes)
        .find(bb => missAt(threshold, r, bb) <= targetMiss)
        .map { b =>
          val n = r * b
          val fp = hist.collect { case (bk, c) if (bk + 0.5) / 20.0 < threshold =>
            val jMid = (bk + 0.5) / 20.0
            c * (1 - missAt(jMid, r, b))
          }.sum
          MinhashTuning(n, b, r, missAt(threshold, r, b), fp)
        }
    }
    require(candidates.nonEmpty,
      s"no (numHashes <= $maxHashes) config reaches miss <= $targetMiss at j=$threshold; " +
        "raise maxHashes or relax targetMiss")
    candidates.minBy(t =>
      (t.numHashes.toDouble * nSampleDocs + verifyWeight * t.expectedFalseCandidates,
        t.numHashes))
  }

  // ------------------------------------------------- incremental minhash

  /** Persist the OPH minhash signature store for a corpus slice: one
    * narrow `(id, sig)` parquet row per document — the artifact
    * [[minHashLshIncremental]] dedups later batches against. At 100 TB
    * the corpus is shingled exactly ONCE, here; every subsequent daily
    * batch pays shingling only for its own documents. Store size is
    * ~`numHashes`·8 bytes per doc (e.g. 256 GB per trillion docs at
    * k=32) — a rounding error next to the corpus it summarizes. */
  def writeMinHashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64): Unit =
    nativeSigs(df, textCol, idCol, charMode = false, shingleSize, numHashes)
      .select(col("__id").as("id"), col("__sig").as("sig"))
      .write.mode("overwrite").parquet(path)

  /** Near-dup pairs of a NEW batch against a corpus summarized by a
    * [[writeMinHashSignatures]] store, plus within-batch pairs — without
    * re-shingling or re-hashing the stored corpus. Emits exactly the
    * pairs [[minHashLsh]] over corpus ∪ batch would emit that touch at
    * least one batch doc (corpus-internal pairs were dealt with when the
    * corpus was deduped); same `(id_a, id_b, jaccard)` contract,
    * `id_a < id_b`.
    *
    * Scale shape: band hashes are recomputed from the narrow stored
    * signatures (16 slice+hash structs per row — no text touched); the
    * stored band stream is bloom-pruned against the batch's band keys
    * at the scan stage (result-identical — see the inline proof), so
    * the bucket-cap union and its checkpoint are overlap-sized, not
    * corpus-sized; the batch-vs-store candidate join is an equi-join on
    * (band, bandhash) whose batch side AQE broadcasts in the
    * daily-batch regime, so stored-corpus band rows never shuffle.
    * Verification is [[minHashLsh]]'s: `corpus ∪ batch` is semi-joined
    * down to the ids the band join surfaced, and only those documents
    * are re-shingled. Like [[minHashLsh]], the result is persisted and
    * materialized before it is returned.
    *
    * Contract: `corpus` must be the data the store was built from (it
    * supplies text for candidate verification), and batch ids must be
    * disjoint from corpus ids. */
  def minHashLshIncremental(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      sigPath: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val stored = spark.read.parquet(sigPath)
      .select(col("id").as("__id"), col("sig").as("__sig"))
    val fresh = nativeSigs(batch, textCol, idCol, charMode = false, shingleSize, numHashes)
      .persist(StorageLevel.MEMORY_AND_DISK)

    def banded(sigs: DataFrame, isNew: Boolean) = sigs
      .select(col("__id"), explode(bandStructs(col("__sig"), numHashes, bands)).as("__bh"))
      .select(col("__id"), lit(isNew).as("__new"),
        col("__bh.b").as("__band"), col("__bh.h").as("__bandhash"))
    // Bloom-prune the STORED band stream against the batch's band keys
    // before the union: every candidate that touches a stored row is an
    // equi-join on (band, bandhash) with a BATCH row (new-new pairs use
    // no stored rows), so dropping stored rows whose key cannot be in
    // the batch set is result-identical — bloom filters never
    // false-negative, a bucket that does contain a batch key keeps ALL
    // its stored rows (so capBuckets sees the identical population for
    // every bucket that can produce a candidate), and false-positive
    // survivors form batch-free buckets that produce nothing. The win is
    // the materialization below: without the prune the localCheckpoint
    // writes the CORPUS's whole band universe (stored docs × bands) on
    // every daily batch; with it, ~the true-overlap set. At a 100 TB
    // corpus that converts the incremental path's dominant IO into a
    // scan-stage codegen'd probe, the same seam as
    // Contamination.passageOverlapBloom.
    val bandedFresh = banded(fresh, isNew = true)
    val bandKey = xxhash64(col("__band"), col("__bandhash"))
    val prunedStored = BloomPrune.build(bandedFresh, bandKey,
        estItems = math.max(1024L, fresh.count() * bands)) match {
      case Some(bf) => BloomPrune.prune(banded(stored, isNew = false), bandKey, bf)
      // Empty batch: no candidate can exist — every stored row is dead.
      case None => banded(stored, isNew = false).limit(0)
    }
    // Cap hot band buckets over the UNION — a boilerplate bucket is hot
    // because of its total population, stored + new alike. Eager
    // localCheckpoint, NOT persist: this node is referenced by four join
    // branches, each of which the verification references twice — with lazy
    // lineage the logical tree DUPLICATES multiplicatively per level
    // (measured: a 2.1 MB plan string, 126 BroadcastExchange nodes, 40+
    // concurrent single-task broadcast jobs re-deriving band rows, ~14 s
    // for a query whose useful work is ~1 s). The checkpoint replaces
    // the subtree with an RDD-scan leaf, same as the iterative lineage
    // cuts in Components.clusters / IvfIndex k-means. Narrow rows (id,
    // flag, band, hash), so the retained footprint is small relative to
    // the signature store itself.
    val capped = capBuckets(
      prunedStored.unionByName(bandedFresh),
      Seq("__band", "__bandhash"), maxBucket)
      .capLineage()
    val newB = capped.filter(col("__new")).drop("__new")
    val oldB = capped.filter(!col("__new")).drop("__new")
    val l = newB.select(col("__band"), col("__bandhash"), col("__id").as("id_a"))
    val r = newB.select(col("__band"), col("__bandhash"), col("__id").as("id_b"))
    val newNew = l.join(r, Seq("__band", "__bandhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val newOld = newB.select(col("__band"), col("__bandhash"), col("__id").as("__n"))
      .join(oldB.select(col("__band"), col("__bandhash"), col("__id").as("__o")),
        Seq("__band", "__bandhash"))
      .select(least(col("__n"), col("__o")).as("id_a"),
        greatest(col("__n"), col("__o")).as("id_b"))
    val candidates = newNew.union(newOld).dropDuplicates("id_a", "id_b")
    val docs = corpus.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
    val result = materialized(verifiedPairs(docs, textCol, idCol, candidates,
      charMode = false, shingleSize, numHashes, threshold))
    fresh.unpersist()
    result
  }

  /** SemDeDup-style semantic near-duplicate removal (Abbas et al. 2023,
    * arXiv:2303.09540) over an embedding column: k-means cluster blocking
    * (cells reused from the IVF machinery) generates candidate pairs at
    * cluster granularity, exact cosine verifies them, and the greater-id
    * member of every pair >= threshold is dropped — same keep-the-min-id
    * semantics as `minHashDedup`, so the two compose interchangeably in a
    * curation pipeline. Cost is bounded by cell population — auto-sized
    * clustering + recursive over-cap re-clustering (`IvfIndex
    * .boundedCells`), never all-pairs and never a silent drop; candidate
    * recall at the shipped configs is oracle-verified 1.0 by
    * `dedup_embedding_pairs`. */
  def semanticDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      nlist: Int = 0,
      probeCells: Int = 4,
      iters: Int = 2,
      seed: Long = 42L,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // Pairs from the bounded blocking, PLUS the linear representative
    // pass over cells the blocking had to drop (a coherent over-cap
    // cluster): members within threshold of their cell's min-id
    // representative are dropped too — SemDeDup's own centroid-proxy,
    // one cosine per member. Without this, the giant boilerplate
    // clusters a 10⁸-vector corpus actually contains would be the ONE
    // thing semantic dedup silently skipped.
    val (pairs, droppedLosers) = Similarity.cellPairsWithDroppedLosers(
      df, vecCol, idCol, threshold, nlist, probeCells, iters, seed, maxBucket)
    val losers = pairs.select(col("id_b").as(idCol))
      .unionByName(droppedLosers.withColumnRenamed("__id", idCol))
      .distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Keep one representative per near-dup cluster found by minHashLsh:
    * drops every id that appears as the greater member of a qualifying
    * pair (transitive chains collapse to their smallest id stepwise).
    *
    * LAZY, unlike [[minHashLsh]]: the pair plan is composed into the
    * anti-join, so the returned frame is one query and nothing is
    * cached or run until an action. That query scans `df` three times
    * (band side, verification side, the anti-join), so `df` must be
    * deterministic; checkpoint it first if it is costly to recompute. */
  def minHashDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val losers = lshJaccardPairs(df, textCol, idCol, charMode = false,
      shingleSize, numHashes, bands, threshold).select(col("id_b").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------------- simhash

  /** 64-bit SimHash of the token stream as a single Column (per-bit vote
    * of token hashes). HOF formulation — fine for ad-hoc per-row use; the
    * scale path for whole-corpus dedup is `simHashPairs`, which computes
    * the same hash via explode + codegen'd vote sums. */
  def simHash(textCol: Column): Column = {
    val toks = tokens(textCol)
    val votes = aggregate(
      toks,
      transform(sequence(lit(0), lit(63)), _ => lit(0L)),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, i) => a + when(
            pmod(call_function("shiftrightunsigned", h, i.cast("int")), lit(2L)) =!= 0,
            1L).otherwise(-1L))
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)), (v, i) => struct(v.as("v"), i.as("i"))),
      lit(0L),
      (acc, s) => acc + when(s("v") > 0,
        call_function("shiftleft", lit(1L), s("i").cast("int"))).otherwise(0L))
  }

  /** SimHash signatures `(__id, __sim)` for a whole corpus: the native
    * [[graft.functions.SimhashSig]] projection — one tight per-row loop,
    * no explode, no aggregate shuffle. The packed vote-sum aggregate
    * below remains as the verification probe (bit-equality pinned by
    * DedupSpec). */
  private def simHashSigs(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("__id"),
      call_function(graft.functions.GraftFunctions.SimhashSigName,
        tokens(col(textCol))).as("__sim"))
  }

  /** The explode + PACKED vote-sum aggregate the native expression
    * replaced — kept as the VERIFICATION TWIN: explode tokens,
    * hash-aggregate packed per-bit counts, then reassemble the 64-bit
    * hash by OR-ing the winning bits.
    *
    * Packing: 16 accumulator longs, each holding 4 independent 16-bit
    * lanes — lane l of accumulator j counts bit (j + 16·l) of the token
    * hash. Versus 64 one-bit-per-column sums this shrinks the aggregate
    * buffer and the generated class 4× (the 64-column variant spent more
    * wall-clock in Janino/C2 compilation than in execution at sf0.1), at
    * identical per-row arithmetic. Bit i of a token hash contributes +1 to
    * its lane; the majority vote for bit i is then `2·count > n` over the
    * doc's token count n. Lanes are 16-bit unsigned ⇒ safe below 65k
    * tokens per doc (a 100-page document is ~50k tokens; token streams
    * should be chunked upstream long before that).
    *
    * Tokenless docs keep a null token via explode_outer → zero counts and
    * n=0 → hash 0, matching the HOF `simHash` on empty input. */
  private[graft] def simHashSigsAggregateProbe(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      explode_outer(tokens(col(textCol))).as("__t"))
    val h = xxhash64(col("__t"))
    // packed_j = Σ_l ((h >> (j+16l)) & 1) << (16l), one addend per lane
    val packedAggs = (0 until 16).map { j =>
      val packed = (0 until 4).map { l =>
        shiftleft(shiftrightunsigned(h, j + 16 * l).bitwiseAND(lit(1L)), 16 * l)
      }.reduce(_ + _)
      sum(when(col("__t").isNull, lit(0L)).otherwise(packed)).as(s"__p$j")
    }
    val n = sum(when(col("__t").isNull, lit(0L)).otherwise(lit(1L))).as("__n")
    val sim = (0 until 64).map { i =>
      val cnt = shiftrightunsigned(col(s"__p${i % 16}"), 16 * (i / 16))
        .bitwiseAND(lit(0xFFFFL))
      when(cnt * 2 > col("__n"), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    toks.groupBy("__id").agg(packedAggs.head, (packedAggs.tail :+ n): _*)
      .select(col("__id"), sim.as("__sim"))
  }

  /** SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= maxHamming.
    * Blocking by the pigeonhole principle: split the 64-bit hash into
    * (maxHamming+1) chunks — any pair within the hamming budget agrees on
    * at least one whole chunk, so candidates come from equi-joins on
    * (chunk index, chunk value). Returns (id_a, id_b, hamming).
    *
    * Budget guidance (measured on ~54-token docs): the 64 majority votes
    * have margins proportional to document length, so SHORT docs in the
    * same language collide within a few bits even when unrelated —
    * maxHamming=7 yielded 6% precision (vs exact word-Jaccard ≥ 0.3)
    * while maxHamming=1 yields 0.96-1.0. Reserve budgets ≥3 for
    * page-length documents; the classic 64-bit/3-bit setting assumes
    * web-page-sized inputs [Manku et al. 2007]. */
  def simHashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val chunks = maxHamming + 1
    require(64 % chunks == 0, "maxHamming+1 must divide 64")
    val bitsPer = 64 / chunks
    val mask = (1L << bitsPer) - 1
    val chunkCols = (0 until chunks).map { ci =>
      struct(lit(ci).as("i"),
        shiftrightunsigned(col("__sim"), ci * bitsPer).bitwiseAND(lit(mask)).as("v"))
    }
    // persisted for the self-join below; released after materialization
    val hashed = simHashSigs(df, textCol, idCol)
      .select(col("__id"), col("__sim"), explode(array(chunkCols: _*)).as("__c"))
      .select(col("__id"), col("__sim"),
        col("__c.i").as("__ci"), col("__c.v").as("__cv"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val capped = capBuckets(hashed, Seq("__ci", "__cv"), DefaultMaxBucket)
    val l = capped.select(col("__ci"), col("__cv"), col("__id").as("id_a"), col("__sim").as("__sim_a"))
    val r = capped.select(col("__ci"), col("__cv"), col("__id").as("id_b"), col("__sim").as("__sim_b"))
    val result = l.join(r, Seq("__ci", "__cv"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("__sim_a").bitwiseXOR(col("__sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .persist(StorageLevel.MEMORY_AND_DISK)
    result.count() // materialize, then release the signature cache
    hashed.unpersist()
    result
  }

  // -------------------------------------------------------- n-gram jaccard

  /** Character n-gram Jaccard near-dup pairs. Candidates via minhash-LSH
    * over the char-shingle hashes (same banding machinery), verified with
    * exact n-gram Jaccard. Catches small edits word-shingles miss. EAGER
    * like [[minHashLsh]]: the result is persisted and materialized. */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 5,
      threshold: Double = 0.7,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 7L): DataFrame =
    materialized(lshJaccardPairs(df, textCol, idCol, charMode = true,
      n, numHashes, bands, threshold))

  /** Verification twin (spec-only): the explode + aggregate formulation
    * of the WORD-shingle signatures — StreamingCurationSpec pins the
    * native projection bit-equal against this. */
  private[graft] def wordSigsAggregateProbe(
      df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int): DataFrame =
    minhashSigs(explodedWordShingles(df, textCol, idCol, n), numHashes)

  /** Verification twin (spec-only): the explode + aggregate formulation
    * of the CHAR-shingle signatures — DedupSpec pins the native
    * projection bit-equal against this. */
  private[graft] def charSigsAggregateProbe(
      df: DataFrame, textCol: String, idCol: String,
      n: Int, numHashes: Int): DataFrame =
    minhashSigs(explodedCharShingles(df, textCol, idCol, n), numHashes)

  // --------------------------------------------------- embedding near-dup

  /** Embedding cosine NEAR-DUP pairs via random-hyperplane LSH blocking:
    * `tables` independent hash tables of `planesPerTable` sign bits each;
    * docs sharing a full bucket in ANY table become candidates; verified
    * with exact cosine ≥ threshold. Returns (id_a, id_b, cosine).
    *
    * Regime: thresholds ≥ ~0.85, where the per-plane agreement gap vs
    * random pairs is wide enough to amplify. For mid-similarity pairing
    * (0.3-0.8) use `Similarity.cellBlockedCosinePairs` — hyperplane
    * tables selective enough to reject the random mass also reject most
    * mid-similarity true pairs (measured recall 4% at cos 0.45). */
  def embeddingCosinePairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double = 0.95,
      tables: Int = 8,
      planesPerTable: Int = 12,
      seed: Long = 42L): DataFrame =
    Similarity.cosinePairs(df, vecCol, idCol, threshold, tables, planesPerTable, seed)

  // ------------------------------------------------- substring containment

  /** Substring-CONTAINMENT report: ordered pairs (inner, outer) where the
    * shorter document's text is wholly or mostly a substring of the
    * longer one — the asymmetric duplicate shape Jaccard-style symmetric
    * measures miss (a tweet quoted inside an article scores near-zero
    * Jaccard against it but 100% containment). Detection is via
    * winnowing fingerprints ([[TextAnalysis.winnowFingerprints]]): a
    * substring of `outer` selects (nearly) the same window minima inside
    * `outer`'s stream, so `containment = |FP(inner) ∩ FP(outer)| /
    * |FP(inner)|` approaches 1 for true containment regardless of the
    * length ratio.
    *
    * Semantics: fingerprints occurring in more than `maxDf` documents are
    * struck BEFORE both the numerator and the denominator (boilerplate
    * shared by everything is not evidence of containment — same
    * document-frequency guard as [[Contamination.passageOverlap]]);
    * `minFp` suppresses tiny-doc noise. A pair is emitted once, oriented
    * shorter→longer by gram count with id as the tiebreak for equal
    * lengths (exact clones). The `minContain` threshold is quantized to
    * 1% and applied by integer cross-multiplication, so the filter is
    * bit-exact across engines; `containment` itself is rounded to 6 dp
    * for the report.
    *
    * Scale shape: the only join is the equi-join on the fingerprint
    * value, whose per-key fan-out the DF guard caps at `maxDf`² pairs —
    * never all-pairs. Everything else is linear keyed aggregation. The
    * winnow branch is checkpointed for the same codegen-blowup reason
    * documented at [[Contamination.passageOverlap]]. */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      w: Int = 16,
      maxDf: Int = 100,
      minFp: Int = 5,
      minContain: Double = 0.8): DataFrame = {
    require(minContain > 0 && minContain <= 1, s"minContain in (0,1]: $minContain")
    val pct = math.round(minContain * 100)
    val fps = graft.operators.TextAnalysis
      .winnowFingerprints(df, textCol, idCol, k, w)
      .capLineage()
    val grams = fps.select(col(idCol), col("n_grams"))
    val ex = fps.select(col(idCol), explode(col("fingerprints")).as("__fp"))
    val rare = ex.groupBy("__fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).drop("__df")
    val kept = ex.join(rare, "__fp")
    val keptSizes = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("__kept")).filter(col("__kept") >= minFp)
    val a = kept.select(col(idCol).as("inner_id"), col("__fp"))
    val b = kept.select(col(idCol).as("outer_id"), col("__fp"))
    a.join(b, "__fp")
      .filter(col("inner_id") =!= col("outer_id"))
      .groupBy("inner_id", "outer_id")
      .agg(count(lit(1)).as("overlap_fp"))
      .join(keptSizes.select(col(idCol).as("inner_id"),
        col("__kept").as("inner_fp")), "inner_id")
      .filter(col("overlap_fp") * 100L >= col("inner_fp") * pct)
      .join(grams.select(col(idCol).as("inner_id"),
        col("n_grams").as("__gi")), "inner_id")
      .join(grams.select(col(idCol).as("outer_id"),
        col("n_grams").as("__go")), "outer_id")
      .filter(col("__gi") < col("__go") ||
        (col("__gi") === col("__go") && col("inner_id") < col("outer_id")))
      .select(col("inner_id"), col("outer_id"), col("inner_fp"),
        col("overlap_fp"),
        round(col("overlap_fp") / col("inner_fp"), 6).as("containment"))
  }

  /** The keep-longest retention ACTION over a [[containmentPairs]]
    * report: strike every document that appears as the CONTAINED (inner)
    * side of any pair, keeping the containing documents — the policy a
    * corpus owner wants when excerpts, quotes, and syndicated fragments
    * duplicate token mass a longer document already carries. Takes the
    * report as an argument so a persisted pairs artifact is reused
    * instead of recomputed (same artifact-reuse shape as
    * [[Contamination.decontaminateWithReport]]); the strike itself is
    * one left-anti keyed shuffle on the id. */
  def containmentStrike(
      df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("inner_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
}
