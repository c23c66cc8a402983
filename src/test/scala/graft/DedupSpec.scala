package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** The sf0.001 documents fixture (TESTDATA.md). */
  private val fixtureDocs = "/root/testdata/sf0.001/documents.parquet"

  private val base =
    "the quick brown fox jumps over the lazy dog near the quiet river bank " +
      "while morning light spreads across the wide green valley floor"

  /** Planted corpus: 0 and 1 identical, 2 a near-dup small edit of 0,
    * 3/4 unrelated. */
  private def docs = Seq(
    (0L, base),
    (1L, base),
    (2L, base.replace("quick", "swift")),
    (3L, "completely different text about database engines and query planners optimizing join order"),
    (4L, "yet another unrelated document mentioning streaming watermarks state stores and checkpoints")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per duplicate group") {
    val out = Dedup.exactText(docs, "text", "doc_id")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == Seq(0L, 2L, 3L, 4L))
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), s"exact dup not found: $pairs")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)),
      s"near dup not found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"false positive: $pairs")
  }

  test("minhash jaccard of identical docs is 1.0") {
    val j = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.5)
      .filter($"id_a" === 0 && $"id_b" === 1)
      .select("jaccard").as[Double].collect()
    assert(j.sameElements(Array(1.0)))
  }

  test("minHashDedup keeps one representative per cluster") {
    val out = Dedup.minHashDedup(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(0L, 3L, 4L))
  }

  test("simhash pairs near-identical docs within hamming budget") {
    val pairs = Dedup.simHashPairs(docs, "text", "doc_id", maxHamming = 7)
      .select("id_a", "id_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0),
      s"identical docs must have hamming 0: $pairs")
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L && p._1 == 3L),
      s"unrelated docs paired: $pairs")
  }

  test("char ngram jaccard finds the small-edit near-dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)), s"char-level near dup not found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embedding cosine near-dup pairs planted vectors") {
    val rnd = new scala.util.Random(1)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val v0 = vec()
    val v1 = v0.map(x => x + 0.01f) // near-dup of v0
    val others = Seq.tabulate(8)(_ => vec())
    val df = ((0L, v0) +: (1L, v1) +: others.zipWithIndex.map { case (v, i) => (i + 2L, v) })
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosinePairs(df, "embedding", "vec_id", threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"expected only the planted pair: $pairs")
  }

  test("semanticDedup drops the greater member of each planted near-dup") {
    val rnd = new scala.util.Random(3)
    def vec() = Array.fill(16)(rnd.nextGaussian().toFloat)
    val v0 = vec()
    val v1 = v0.map(x => x + 0.01f)  // near-dup of v0 -> 1L must drop
    val v2 = vec()
    val v3 = v2.map(x => x * 1.001f) // near-dup of v2 -> 3L must drop
    val others = Seq.tabulate(8)(_ => vec())
    val df = (Seq((0L, v0), (1L, v1), (2L, v2), (3L, v3)) ++
      others.zipWithIndex.map { case (v, i) => (i + 4L, v) })
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(df, "embedding", "vec_id",
      threshold = 0.99, nlist = 4, probeCells = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(!kept.contains(1L) && !kept.contains(3L))
    assert(kept.contains(0L) && kept.contains(2L))
    assert(kept.size == df.count() - 2)
  }

  test("brute-force topK is exact and deterministic on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    val out = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 5)
    val byQuery = out.groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(byQuery == Map(0L -> 5L, 1L -> 5L, 2L -> 5L))
    // rank 1 must be the argmax cosine — cross-check one query by sorting
    val q0 = out.filter($"query_id" === 0).orderBy($"rank")
      .select("cosine").as[Double].collect()
    assert(q0.toSeq == q0.sorted(Ordering[Double].reverse).toSeq)
  }

  test("ANN topK achieves reasonable recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(emb, queries, "embedding", "vec_id", k = 10,
      tables = 16, planesPerTable = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall too low: $recall")
  }

  test("capBuckets drops oversize blocking buckets, keeps the rest") {
    val buckets = Seq(
      (0, 1L, 1L), (0, 1L, 2L), (0, 1L, 3L),   // bucket (0,1): 3 members
      (0, 2L, 4L), (0, 2L, 5L)                 // bucket (0,2): 2 members
    ).toDF("b", "h", "id")
      .select($"b".as("__band"), $"h".as("__bandhash"), $"id".as("__id"))
    val capped = Dedup.capBuckets(buckets, Seq("__band", "__bandhash"), 2)
    assertRows(capped, Seq("__id"), Set(Seq(4L), Seq(5L)))
  }

  test("incremental minhash against a signature store ≡ full LSH restricted to batch pairs") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = all.filter(pmod($"doc_id", lit(5)) =!= 0)
    val batch = all.filter(pmod($"doc_id", lit(5)) === 0)
    val sigPath = java.nio.file.Files.createTempDirectory("graft_sigs_").toString
    Dedup.writeMinHashSignatures(corpus, "text", "doc_id", sigPath, numHashes = 32)
    val inc = Dedup.minHashLshIncremental(spark, batch, corpus, "text", "doc_id",
      sigPath, numHashes = 32, bands = 16, threshold = 0.6)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minHashLsh(all, "text", "doc_id",
      numHashes = 32, bands = 16, threshold = 0.6)
      .filter(pmod($"id_a", lit(5)) === 0 || pmod($"id_b", lit(5)) === 0)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(inc == full, s"incremental ${inc.size} pairs vs full ${full.size}: " +
      s"missing=${full -- inc} extra=${inc -- full}")
    assert(inc.nonEmpty, "fixture produced no batch-touching pairs")
  }

  test("paragraph dedup strikes cross-doc repeats, keeps order and singletons") {
    val docs = Seq(
      (1L, "unique opening for one\nShared Boilerplate Line\nmiddle bit one\n\nunique closing for one"),
      (2L, "unique opening for two\nshared  boilerplate   line\nunique closing for two"),
      (3L, "shared boilerplate line\nunique only line for three"),
      (4L, "repeated in two docs\nsolo paragraph for four"),
      (5L, "repeated in two docs\nsolo paragraph for five"),
      (6L, "")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "text", "doc_id", minDocs = 3)
      .orderBy("doc_id")
      .select("doc_id", "n_paras", "n_struck", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      // boilerplate (normalized: case + whitespace runs) struck in 1-3;
      // the empty line in doc 1 is kept (whitespace-only is never struck)
      (1L, 5L, 1L, "unique opening for one\nmiddle bit one\n\nunique closing for one"),
      (2L, 3L, 1L, "unique opening for two\nunique closing for two"),
      (3L, 2L, 1L, "unique only line for three"),
      // "repeated in two docs" has df=2 < minDocs=3 → kept
      (4L, 2L, 0L, "repeated in two docs\nsolo paragraph for four"),
      (5L, 2L, 0L, "repeated in two docs\nsolo paragraph for five"),
      (6L, 1L, 0L, "")))
  }

  test("incremental paragraph dedup ≡ full recompute restricted to batch docs") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat_ws("\n", col("text"),
          lit("all rights reserved."),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("every third doc line"))
            .otherwise(col("text"))).as("text"))
    val corpus = all.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = all.filter(pmod(col("doc_id"), lit(4)) === 0)
    val store = java.nio.file.Files.createTempDirectory("graft_paradf_").toString + "/df"
    Dedup.writeParagraphDf(corpus, "text", "doc_id", store)
    val inc = Dedup.paragraphDedupIncremental(spark, batch, "text", "doc_id",
      store, minDocs = 3)
      .select("doc_id", "n_paras", "n_struck", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSet
    val full = Dedup.paragraphDedup(all, "text", "doc_id", minDocs = 3)
      .filter(pmod(col("doc_id"), lit(4)) === 0)
      .select("doc_id", "n_paras", "n_struck", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(inc == full)
    assert(inc.exists(_._3 > 0), "fixture produced no struck batch paragraphs")
  }

  test("paragraph strike vs full-corpus store ≡ batch dedup's kept paragraphs") {
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat_ws("\n", col("text"), lit("all rights reserved."), col("text")).as("text"))
    val store = java.nio.file.Files.createTempDirectory("graft_parast_").toString + "/df"
    Dedup.writeParagraphDf(all, "text", "doc_id", store)
    val struckRows = Dedup.paragraphStrike(all,
      Dedup.boilerplateParagraphs(spark, store, minDocs = 3), "text", "doc_id")
    // reassemble the paragraph-grain output per doc and compare with the
    // batch operator's text_clean (store = full corpus ⇒ same strike set)
    val reassembled = struckRows.groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
        x => x.getField("para")), "\n").as("text_clean"))
      .as[(Long, String)].collect().toMap
    val batch = Dedup.paragraphDedup(all, "text", "doc_id", minDocs = 3)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(reassembled == batch)
  }

  test("native char-shingle signature is bit-identical to the aggregate twin") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200).select("doc_id", "text")
      // plant short and empty docs: the single-whole-text-shingle branch
      // and empty-string hashing must agree between the two formulations
      .unionByName(Seq((90001L, "ab"), (90002L, ""), (90003L, "exactly5")).toDF("doc_id", "text"))
    val native = docs.select(col("doc_id").as("id"),
      Dedup.rowLocalCharMinhashSig(col("text"), 5, 64).as("nsig"))
    val agg = Dedup.charSigsAggregateProbe(docs, "text", "doc_id", 5, 64)
      .select(col("__id").as("id"), col("__sig").as("asig"))
    assert(native.count() == 203)
    val mismatched = agg.join(native, "id").filter(not(col("asig") === col("nsig")))
    assert(mismatched.count() == 0,
      "native char signature must be bit-identical to the explode+aggregate twin")
  }

  test("containment pairs surface a planted excerpt, orient shorter→longer") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100).select("doc_id", "text")
    // plant: doc 90010 is an exact interior excerpt of doc 0's text
    val src = corpus.filter(col("doc_id") === 0L)
      .select(lit(90010L).as("doc_id"),
        substring(col("text"), 25, 320).as("text"))
    val out = Dedup.containmentPairs(
      corpus.unionByName(src), "text", "doc_id",
      maxDf = 100, minFp = 5, minContain = 0.8)
    val pairs = out.select("inner_id", "outer_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((90010L, 0L)),
      s"planted excerpt must be reported contained in its source; got $pairs")
    // orientation: the excerpt (shorter) is always the inner side
    assert(!pairs.contains((0L, 90010L)))
    // containment of the planted pair is near-total (boundary windows only)
    val c = out.filter(col("inner_id") === 90010L && col("outer_id") === 0L)
      .select("containment").as[Double].head()
    assert(c >= 0.9, s"excerpt containment should be near 1, got $c")
  }

  test("containment ignores boilerplate-only overlap via the DF guard") {
    // 30 docs sharing one boilerplate sentence + distinct bodies: with
    // maxDf below 30 the shared sentence's fingerprints are struck from
    // numerator AND denominator, so no pair reaches the threshold.
    val boiler = "subscribe to our newsletter for updates every single day. "
    val rows = (0 until 30).map { i =>
      // bodies share no text across docs, so the only cross-doc overlap
      // is the boilerplate sentence itself
      (i.toLong, boiler + (1 to 24).map(j => s"tok${i}x$j").mkString(" "))
    }
    val out = Dedup.containmentPairs(rows.toDF("doc_id", "text"),
      "text", "doc_id", maxDf = 10, minFp = 5, minContain = 0.8)
    assert(out.count() == 0)
  }

  test("native simhash is bit-identical to the packed aggregate twin") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200).select("doc_id", "text")
      // plant empty and single-token docs: the n=0 → 0 branch and the
      // unanimous-vote branch must agree between the formulations
      .unionByName(Seq((91001L, ""), (91002L, "word"), (91003L, "  spaced   out  "))
        .toDF("doc_id", "text"))
    import graft.functions.TextFunctions.tokens
    val native = docs.select(col("doc_id").as("id"),
      call_function(graft.functions.GraftFunctions.SimhashSigName,
        tokens(col("text"))).as("nsim"))
    val agg = Dedup.simHashSigsAggregateProbe(docs, "text", "doc_id")
      .select(col("__id").as("id"), col("__sim").as("asim"))
    val joined = native.join(agg, "id")
    assert(joined.count() == 203)
    val mismatched = joined.filter(col("nsim") =!= col("asim"))
    assert(mismatched.count() == 0,
      "native simhash must be bit-identical to the packed aggregate")
    // empty doc hashes to 0 in both
    assert(joined.filter(col("id") === 91001L)
      .select("nsim").as[Long].head() == 0L)
  }

  test("native simhash/minhash skip null array elements (SQL-reachable shapes)") {
    // Both functions are in the session FunctionRegistry, so SQL callers
    // can feed containsNull=true arrays (explode_outer/collect_list
    // shapes). Null elements must be SKIPPED — same signature as the
    // null-free array, no NPE, no garbage reads — matching the aggregate
    // probe's explode_outer handling and concat_ws's null-skip contract.
    graft.functions.GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT
        |  graft_simhash_sig(array('alpha', 'beta', 'gamma')) AS s_clean,
        |  graft_simhash_sig(array('alpha', CAST(NULL AS STRING), 'beta',
        |                          CAST(NULL AS STRING), 'gamma')) AS s_nulls,
        |  graft_simhash_sig(array(CAST(NULL AS STRING))) AS s_allnull,
        |  graft_minhash_sig(array('alpha', 'beta', 'gamma'), 1, 8) AS m_clean,
        |  graft_minhash_sig(array('alpha', CAST(NULL AS STRING), 'beta',
        |                          CAST(NULL AS STRING), 'gamma'), 1, 8) AS m_nulls
        |""".stripMargin).head()
    assert(rows.getLong(0) == rows.getLong(1),
      "simhash over null-padded tokens must equal the null-free signature")
    assert(rows.getLong(2) == 0L, "all-null tokens must hash to 0 like empty")
    // shingleSize=1 word shingles: a null token concat_ws-skips to the
    // empty-string shingle, so signatures differ only through that one
    // extra '' shingle — assert no exception and a deterministic result
    assert(rows.getSeq[Long](3).size == 8 && rows.getSeq[Long](4).size == 8)
  }

  test("minhash auto-tuner: legal config, theory miss floor, recall parity with 32/16") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sample = docs.filter(
      graft.operators.Sampling.bucket(col("doc_id"), 31L) < 4000)
    val tuned = Dedup.tuneMinhash(sample, "text", "doc_id", threshold = 0.6)
    // legal for minHashLsh AND the native signature
    assert(tuned.numHashes % 4 == 0 && tuned.numHashes % tuned.bands == 0)
    assert(tuned.numHashes == tuned.rowsPerBand * tuned.bands)
    assert(tuned.numHashes <= 256)
    // the S-curve floor the tuner promises
    assert(tuned.missAtThreshold <= 1e-3,
      s"miss ${tuned.missAtThreshold} above target")
    // deterministic: same sample, same answer
    val again = Dedup.tuneMinhash(sample, "text", "doc_id", threshold = 0.6)
    assert(tuned == again)
    // recall parity: the tuned config reproduces the hand-tuned 32/16
    // pair set on the full corpus (both are ground-truth-exact here)
    val hand = Dedup.minHashLsh(docs, "text", "doc_id",
      numHashes = 32, bands = 16, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val auto = Dedup.minHashLsh(docs, "text", "doc_id",
      numHashes = tuned.numHashes, bands = tuned.bands, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(auto == hand,
      s"tuned (${tuned.numHashes}/${tuned.bands}) missed pairs: ${hand -- auto}")
    // a corpus dominated by mid-similarity pairs must push the tuner to
    // a SHARPER curve (more rows per band) than a clean corpus does:
    // the sample is where that decision comes from
    // every pair shares a 50-token block + 30 unique tokens → trigram
    // jaccard ≈ 0.45: ALL pairs are sub-threshold mid-similarity, the
    // worst case for a flat curve's candidate volume
    val shared = (1 to 50).map(j => s"c$j").mkString(" ")
    val noisy = (0L until 60L).map { i =>
      (i, shared + " " + (1 to 30).map(j => s"u${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val noisyTuned = Dedup.tuneMinhash(noisy, "text", "doc_id", threshold = 0.6)
    assert(noisyTuned.rowsPerBand >= tuned.rowsPerBand,
      s"noisy corpus (${noisyTuned.rowsPerBand}) should not pick a flatter " +
        s"curve than the clean one (${tuned.rowsPerBand})")
  }

  test("accent-folded exact dedup collapses accented clones; default keeps them") {
    val rows = Seq(
      (0L, "the cafe on the corner serves great coffee"),
      (1L, "the café on the corner serves great coffee"),
      (2L, "ein GROSSES haus am see"),
      (3L, "ein GROßES haus am see"),
      (4L, "unrelated text entirely")
    ).toDF("doc_id", "text")
    val folded = Dedup.exactText(rows, "text", "doc_id", foldAccents = true)
      .select("doc_id").as[Long].collect().toSet
    assert(folded == Set(0L, 2L, 4L),
      s"accented clones must collapse to the min-id winner; got $folded")
    val default = Dedup.exactText(rows, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(default == Set(0L, 1L, 2L, 3L, 4L),
      "default dedup must treat accent variants as distinct")
  }

  test("near-dup over a folded projection catches accent-variant clones") {
    // Folding composes with EVERY text operator as a plain projection —
    // no per-operator flag needed: pre-fold the column, run the op.
    import graft.functions.TextFunctions.foldAccents
    val accented = base.replace("a", "á").replace("e", "é")
    val docs = Seq((0L, base), (1L, accented), (2L, "unrelated words entirely"))
      .toDF("doc_id", "text")
    val folded = docs.withColumn("text", foldAccents(col("text")))
    val hit = Dedup.minHashLsh(folded, "text", "doc_id", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(hit == Set((0L, 1L)),
      s"folded minhash must pair the accent-variant clone: $hit")
    val miss = Dedup.minHashLsh(docs, "text", "doc_id", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!miss.contains((0L, 1L)),
      "unfolded tokens differ on every accented word — no pair expected")
  }

  test("containment strike drops contained docs, keeps the containers") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).select("doc_id", "text")
    val excerpt = corpus.filter(col("doc_id") === 3L)
      .select(lit(90020L).as("doc_id"),
        substring(col("text"), 25, 320).as("text"))
    val uni = corpus.unionByName(excerpt)
    val pairs = Dedup.containmentPairs(uni, "text", "doc_id",
      maxDf = 100, minFp = 5, minContain = 0.8)
    val keptIds = Dedup.containmentStrike(uni, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(!keptIds.contains(90020L), "the contained excerpt must be struck")
    assert(keptIds.contains(3L), "the containing source doc must survive")
    // survivors = union minus exactly the inner side of the report
    val inner = pairs.select("inner_id").as[Long].collect().toSet
    val all = uni.select("doc_id").as[Long].collect().toSet
    assert(keptIds == all -- inner)
  }

  test("graft_sig_matches equals the zip_with/aggregate slot count, unequal lengths and NULL too") {
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(fixtureDocs)
      .filter(col("doc_id") < 25).select("doc_id", "text")
    // real 32- and 64-slot signatures, paired across lengths and with NULL
    val sigs = docs.select(col("doc_id").as("id"),
      Dedup.rowLocalMinhashSig(col("text"), 3, 32).as("s32"),
      Dedup.rowLocalMinhashSig(col("text"), 3, 64).as("s64"))
    val a = sigs.select(col("id").as("ia"), col("s32").as("sa32"), col("s64").as("sa64"))
    val b = sigs.select(col("id").as("ib"), col("s32").as("sb32"), col("s64").as("sb64"))
    val shapes = Seq(
      (col("sa32"), col("sb32")), (col("sa64"), col("sb64")),
      (col("sa32"), col("sb64")), (col("sa64"), col("sb32")),
      (lit(null).cast("array<bigint>"), col("sb32")))
    val mismatches = a.join(b, col("ia") <= col("ib")).agg(count(lit(1)), shapes.map {
      case (x, y) => sum(when(
        call_function(graft.functions.GraftFunctions.SigMatchesName, x, y) <=>
          LshVerifyTwin.sigMatches(x, y), 0L).otherwise(1L))
    }: _*).head()
    assert(mismatches.getLong(0) > 0)
    assert((1 to shapes.size).forall(i => mismatches.getLong(i) == 0L),
      s"slot count differs from the twin: $mismatches")
    // null slots never match; the count stops at the shorter signature
    val r = spark.sql(
      """SELECT graft_sig_matches(array(1L, CAST(NULL AS BIGINT), 3L),
        |                         array(1L, CAST(NULL AS BIGINT), 3L, 4L)),
        |       graft_sig_matches(array(1L, 2L), CAST(NULL AS ARRAY<BIGINT>))""".stripMargin).head()
    assert(r.getInt(0) == 2 && r.isNullAt(1))
  }

  test("graft_shingle_jaccard equals the explode/collect_set Jaccard (word n=1,3; char n=5)") {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.TextFunctions.{normalizeText, tokens}
    val docs = spark.read.parquet(fixtureDocs)
      .filter(col("doc_id") < 20).select("doc_id", "text")
      .unionByName(Seq(
        (90001L, "two words"),                        // shorter than n = 3
        (90002L, ""),                                 // empty text
        (90003L, "a a a a b b b a a a a b b b"),      // repeated shingles
        (90004L, "a a a b b b"),
        (90005L, "Café naïve résumé — 東京 über straße"), // non-ASCII
        (90006L, "café  naive résumé — 東京 über strasse"),
        (90007L, "x"),
        (90008L, "two words")).toDF("doc_id", "text"))
    val nDocs = docs.count()
    Seq((false, 1), (false, 3), (true, 5)).foreach { case (charMode, n) =>
      val sets = LshVerifyTwin.shingleSets(docs, "text", "doc_id", charMode, n)
      val in = docs.select(col("doc_id").as("__id"),
        (if (charMode) normalizeText(col("text")) else tokens(col("text"))).as("__in"))
        .join(sets, "__id")
      val a = in.select(col("__id").as("ia"), col("__in").as("ina"), col("__sh").as("sha"))
      val b = in.select(col("__id").as("ib"), col("__in").as("inb"), col("__sh").as("shb"))
      val rows = a.join(b, col("ia") <= col("ib"))
        .select(col("ia") =!= col("ib"),
          call_function(graft.functions.GraftFunctions.ShingleJaccardName,
            col("ina"), col("inb"), lit(n)),
          LshVerifyTwin.setJaccard(col("sha"), col("shb")))
        .collect().map(r => (r.getBoolean(0), r.getDouble(1), r.getDouble(2)))
      assert(rows.length == nDocs * (nDocs + 1) / 2)
      val off = rows.filter { case (_, native, twin) => native != twin }
      assert(off.isEmpty, s"charMode=$charMode n=$n: ${off.take(5).mkString(", ")}")
      // the fixture reaches both ends of the range
      assert(rows.exists { case (distinct, j, _) => distinct && j == 1.0 })
      assert(rows.exists { case (_, j, _) => j > 0.0 && j < 1.0 })
    }
    val nulls = spark.sql(
      """SELECT graft_shingle_jaccard(CAST(NULL AS ARRAY<STRING>), array('a'), 3),
        |       graft_shingle_jaccard('abcdef', CAST(NULL AS STRING), 5)""".stripMargin).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1), "NULL text must give NULL")
  }

  test("minHashLsh, ngramJaccardPairs, minHashLshIncremental return the twin pipeline's rows") {
    val all = spark.read.parquet(fixtureDocs)
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val word = LshVerifyTwin.pairs(all, "text", "doc_id", charMode = false,
      n = 3, numHashes = 32, bands = 16, threshold = 0.6)
    assert(word.nonEmpty)
    assert(rows(Dedup.minHashLsh(all, "text", "doc_id",
      numHashes = 32, bands = 16, threshold = 0.6)) == word)
    val chars = LshVerifyTwin.pairs(all, "text", "doc_id", charMode = true,
      n = 5, numHashes = 64, bands = 16, threshold = 0.7)
    assert(chars.nonEmpty)
    assert(rows(Dedup.ngramJaccardPairs(all, "text", "doc_id")) == chars)
    val corpus = all.filter(pmod($"doc_id", lit(5)) =!= 0)
    val batch = all.filter(pmod($"doc_id", lit(5)) === 0)
    val sigPath = java.nio.file.Files.createTempDirectory("graft_twin_sigs_").toString
    Dedup.writeMinHashSignatures(corpus, "text", "doc_id", sigPath, numHashes = 32)
    val inc = rows(Dedup.minHashLshIncremental(spark, batch, corpus, "text", "doc_id",
      sigPath, numHashes = 32, bands = 16, threshold = 0.6))
    assert(inc.nonEmpty)
    assert(inc == word.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0))
  }

  test("job counts: minHashDedup(...).write and minHashLsh on the sf0.001 documents") {
    // A projection no other case runs, so no cached plan serves a subtree.
    val docs = spark.read.parquet(fixtureDocs)
      .select(col("doc_id"), concat_ws(" ", col("text"), lit("jobpin")).as("text"))
    val out = java.nio.file.Files.createTempDirectory("graft_dedup_jobs").toString + "/kept"
    val jDedup = jobsOf(
      Dedup.minHashDedup(docs, "text", "doc_id").write.parquet(out))
    var pairs: org.apache.spark.sql.DataFrame = null
    val jLsh = jobsOf { pairs = Dedup.minHashLsh(docs, "text", "doc_id") }
    assert(spark.read.parquet(out).count() ==
      docs.count() - pairs.select("id_b").distinct().count())
    pairs.unpersist()
    info(s"jobs: minHashDedup write $jDedup, minHashLsh $jLsh")
    // Measured 11 and 10 (AQE on, local[4]). The persisted explode +
    // collect_set verification ran 30 and 27 on the same corpus.
    assert(jDedup <= 11, s"minHashDedup write ran $jDedup jobs (expected <= 11)")
    assert(jLsh <= 10, s"minHashLsh ran $jLsh jobs (expected <= 10)")
  }
}
