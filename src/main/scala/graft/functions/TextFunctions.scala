package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text analysis for large-scale document pipelines:
  * normalization, tokenization, shingling, fingerprinting, language ID,
  * and quality scoring. Built-in functions only — every expression here
  * participates in whole-stage codegen (plain string ops) or evaluates as
  * a JVM higher-order function (array ops); there are no UDFs and no
  * driver-side work, so everything scales linearly with executors.
  *
  * Tokenize once: normalization (`regexp_replace` + `lower`) and
  * tokenization (`split`) are the expensive steps — a profile computing k
  * metrics straight off the raw text re-runs them k times (measured >10×
  * slowdown on quality_by_lang). Every metric therefore has a `*From`
  * variant taking precomputed `norm`/`toks` columns; callers project
  * those once (`TextAnalysis.profile`, SparkEntry's text queries) and the
  * single-column conveniences below remain for ad-hoc use.
  *
  * Oracle parity: each op has an equivalent DuckDB SQL formulation used by
  * `graft.SparkEntry.oracleSql` — math is integer/double deterministic.
  */
object TextFunctions {

  /** Lowercase, collapse whitespace runs to single spaces, trim. */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  // ------------------------------------------------------------ accents

  /** 1:1 accent fold pairs, built programmatically so the `translate`
    * source/target strings can never mis-align; uppercase pairs are
    * derived from the lowercase ones. Multi-char expansions (ß→ss, æ→ae,
    * œ→oe) live in [[AccentExpansions]]. The SAME constants drive the
    * Column form ([[foldAccents]]) and the SQL form ([[foldAccentsSql]])
    * so an oracle cannot drift from the implementation. */
  private val AccentPairsLower: Seq[(Char, Char)] = Seq(
    "àáâãäå" -> 'a', "èéêë" -> 'e', "ìíîï" -> 'i', "òóôõöø" -> 'o',
    "ùúûü" -> 'u', "ýÿ" -> 'y', "ñ" -> 'n', "ç" -> 'c', "š" -> 's',
    "ž" -> 'z', "āă" -> 'a', "ē" -> 'e', "ī" -> 'i', "ōő" -> 'o',
    "ūű" -> 'u', "ðđ" -> 'd'
  ).flatMap { case (from, to) => from.map(_ -> to) }
  private val AccentPairs: Seq[(Char, Char)] =
    AccentPairsLower ++ AccentPairsLower.map { case (f, t) =>
      (f.toUpper, t.toUpper)
    }
  val AccentFrom: String = AccentPairs.map(_._1).mkString
  val AccentTo: String = AccentPairs.map(_._2).mkString
  val AccentExpansions: Seq[(String, String)] = Seq(
    "ß" -> "ss", "æ" -> "ae", "Æ" -> "AE", "œ" -> "oe", "Œ" -> "OE",
    "þ" -> "th", "Þ" -> "TH")

  /** Accent folding / diacritic strip: the normalization step that makes
    * dedup keys and lang-agnostic matching robust to accent variants
    * ("café" ≡ "cafe"). One codegen'd `translate` for the 1:1 map plus a
    * short literal-replace chain for the multi-char expansions — pure
    * scan-stage projection, no regex engine per char, no UDF. */
  def foldAccents(c: Column): Column =
    AccentExpansions.foldLeft(translate(c, AccentFrom, AccentTo)) {
      case (acc, (from, to)) => regexp_replace(acc, from, to)
    }

  /** The same fold as an inline SQL string (DuckDB/ANSI), generated from
    * the same constants. */
  def foldAccentsSql(e: String): String =
    AccentExpansions.foldLeft(s"translate($e, '$AccentFrom', '$AccentTo')") {
      case (acc, (from, to)) => s"replace($acc, '$from', '$to')"
    }

  /** Whitespace tokens of already-normalized text. Empty input → empty
    * array (a bare split of "" yields [""]). */
  def tokensFromNorm(norm: Column): Column =
    when(norm === "", array().cast("array<string>")).otherwise(split(norm, " "))

  /** Whitespace tokens of the normalized text. Empty input → empty array. */
  def tokens(c: Column): Column = tokensFromNorm(normalizeText(c))

  /** Whitespace token count (the cheap token counter). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count over normalized text: word characters grouped
    * in runs of ≤4 plus standalone non-space symbols — a deterministic,
    * tokenizer-free approximation of subword token counts. */
  def subwordCountFrom(norm: Column): Column = {
    // count of [A-Za-z0-9]{1,4} runs + count of other non-space chars
    val wordRuns = size(regexp_extract_all(norm, lit("[A-Za-z0-9]{1,4}"), lit(0)))
    val symbols  = size(regexp_extract_all(norm, lit("[^A-Za-z0-9\\s]"), lit(0)))
    when(norm === "", lit(0)).otherwise(wordRuns + symbols)
  }

  def subwordCount(c: Column): Column = subwordCountFrom(normalizeText(c))

  /** Word n-gram shingles of the normalized text — the native
    * [[WordShingles]] expression (one normalize + one substring pass per
    * row). A document of at most `n` tokens yields a single shingle (the
    * whole normalized text), so it still participates in dedup. The HOF
    * tree it replaces ([[wordShinglesTree]], retained as the
    * verification twin WordShinglesSpec pins bit-equality against)
    * re-evaluated the whole normalize+split chain once PER SHINGLE
    * inside its interpreted `transform` lambda. Self-registers on the
    * active/default session, same convention as [[qualityScore]]. */
  def wordShingles(c: Column, n: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(GraftFunctions.register)
    call_function(GraftFunctions.WordShinglesName, c, lit(n))
  }

  /** The Column-tree formulation [[wordShingles]] replaced. */
  private[graft] def wordShinglesTree(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) <= n, array(concat_ws(" ", t)))
      .otherwise(
        transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))
  }

  /** Character n-gram shingles of the normalized text. */
  def charShingles(c: Column, n: Int): Column = {
    val s = normalizeText(c)
    when(length(s) <= n, array(s))
      .otherwise(
        transform(sequence(lit(1), length(s) - (n - 1)),
          i => s.substr(i, lit(n))))
  }

  /** Document fingerprint: md5 of the normalized text — stable across
    * engines (DuckDB md5 produces identical hex), usable as an exact-dup
    * key that's cheap to shuffle (32 bytes vs full text). */
  def fingerprint(c: Column): Column = md5(normalizeText(c))

  /** 64-bit rolling-style content hash (xxhash64 of normalized text) for
    * engine-internal use (cheaper joins than md5 strings). */
  def fingerprint64(c: Column): Column = xxhash64(normalizeText(c))

  // ---------------------------------------------------------------- lang id

  /** Stopword tables for the n-gram/stopword language heuristic. */
  val StopwordsEn: Seq[String] = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")
  val StopwordsDe: Seq[String] = Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "den")
  val StopwordsFr: Seq[String] = Seq("le", "la", "les", "et", "des", "est", "un", "une", "du", "que")
  val StopwordsEs: Seq[String] = Seq("el", "los", "las", "y", "es", "que", "de", "un", "una", "por")

  /** Count of tokens that belong to `words`, computed as a regex count
    * over the NORMALIZED (single-space-joined) text. Exactly equivalent to
    * filtering the token array — tokens are delimited by spaces/ends, and
    * the lookahead keeps consecutive stopwords ("of the") both matchable —
    * but regexp_extract_all is codegen'd, while an array `filter` lambda
    * is interpreted per element and knocks the whole projection out of
    * whole-stage codegen (measured 4× on quality_by_lang). */
  private[graft] def stopwordHits(norm: Column, words: Seq[String]): Column =
    size(regexp_extract_all(
      norm, lit(words.mkString("(?:^| )(?:", "|", ")(?= |$)")), lit(0)))

  /** Language ID from the raw text (CJK check) + precomputed normalized
    * text. CJK characters dominate → zh; otherwise the language whose
    * stopword list scores the most token hits, ties broken
    * en > de > fr > es. Deterministic and fully SQL-expressible (mirrored
    * in DuckDB). */
  def langIdFrom(raw: Column, norm: Column): Column =
    langIdFromHits(
      cjkCount(raw),
      stopwordHits(norm, StopwordsEn),
      stopwordHits(norm, StopwordsDe),
      stopwordHits(norm, StopwordsFr),
      stopwordHits(norm, StopwordsEs))

  /** CJK character count of the raw text (the zh signal). */
  def cjkCount(raw: Column): Column =
    size(regexp_extract_all(raw, lit("[\\u4e00-\\u9fff]"), lit(0)))

  /** The lang-ID decision tree over precomputed hit counts. Callers on hot
    * paths should project the five counts as columns first — passing the
    * raw hit EXPRESSIONS repeats each stopword regex up to 3× in the CASE
    * tree, which balloons plan analysis + codegen time (measured ~4 s of
    * one-time cost on quality_by_lang). */
  def langIdFromHits(zh: Column, en: Column, de: Column, fr: Column, es: Column): Column =
    when(zh > 0, "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")

  def langId(c: Column): Column = langIdFrom(c, normalizeText(c))

  // ---------------------------------------------------------- quality score

  /** Ratio of punctuation chars to total chars (0 for empty docs). */
  def punctRatioFrom(norm: Column): Column =
    when(length(norm) === 0, 0.0d).otherwise(
      size(regexp_extract_all(norm, lit("[\\.,;:!\\?'\"()\\[\\]{}-]"), lit(0)))
        .cast("double") / length(norm))

  def punctRatio(c: Column): Column = punctRatioFrom(normalizeText(c))

  /** Ratio of (english) stopword tokens to all tokens (0 for empty docs). */
  def stopwordRatioFrom(norm: Column, toks: Column): Column =
    when(size(toks) === 0, 0.0d)
      .otherwise(stopwordHits(norm, StopwordsEn).cast("double") / size(toks))

  def stopwordRatio(c: Column): Column = {
    val n = normalizeText(c)
    stopwordRatioFrom(n, tokensFromNorm(n))
  }

  /** Mean token length in characters (0 for empty docs). Tokens of the
    * normalized text are single-space joined, so the sum of token lengths
    * is exactly `length(norm) - (n_tokens - 1)` — integer arithmetic, no
    * per-element array traversal, bit-identical to summing lengths. */
  def meanTokenLengthFrom(norm: Column, toks: Column): Column =
    when(size(toks) === 0, 0.0d).otherwise(
      (length(norm) - (size(toks) - 1)).cast("double") / size(toks))

  def meanTokenLength(c: Column): Column = {
    val n = normalizeText(c)
    meanTokenLengthFrom(n, tokensFromNorm(n))
  }

  /** Heuristic document-quality score in [0,1]: favors mid-length docs,
    * modest punctuation, presence of stopwords, word-like token lengths —
    * the classic cheap pre-filter before expensive dedup/training steps. */
  def qualityScoreFrom(norm: Column, toks: Column): Column =
    qualityScoreFromParts(
      size(toks),
      punctRatioFrom(norm),
      stopwordRatioFrom(norm, toks),
      meanTokenLengthFrom(norm, toks))

  /** Quality score as pure arithmetic over precomputed metric columns —
    * the hot-path form (each metric expression evaluates once; the naive
    * composition repeats the punctuation regex 3× and the stopword regex
    * 2× in the tree). */
  def qualityScoreFromParts(
      nTok: Column, punct: Column, stopRatio: Column, mtl: Column): Column = {
    val lenTerm = least(nTok.cast("double") / 64.0d, lit(1.0d)) // enough text
    val punTerm = when(punct <= 0.2d, 1.0d).otherwise(greatest(lit(0.0d), lit(1.0d) - (punct - 0.2d) * 4.0d))
    val stoTerm = least(stopRatio * 5.0d, lit(1.0d))            // natural language-ness
    val mtlTerm = when(mtl.between(3.0d, 10.0d), 1.0d).otherwise(0.5d)
    round((lenTerm * 0.4d + punTerm * 0.2d + stoTerm * 0.2d + mtlTerm * 0.2d), 6)
  }

  /** Single-pass quality score: the native [[QualityScore]] expression
    * (one normalize + one counting pass per metric per row), wrapped in
    * Spark's own `round(_, 6)` so rounding semantics cannot drift. The
    * Column-tree composition it replaces duplicated the normalize regex
    * 27× per row inside a pushed-down filter condition (FilterExec does
    * no subexpression elimination); bit-equality with that tree is
    * pinned by QualityScoreSpec. Registers the session function on the
    * active/default session (idempotent — the [[VectorFunctions.dotNative]]
    * convention, made self-serve because quality scoring appears in
    * filters built far from any operator entry point). */
  def qualityScore(c: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(GraftFunctions.register)
    round(call_function(GraftFunctions.QualityScoreName, c), 6)
  }
}
