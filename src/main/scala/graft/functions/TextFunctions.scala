package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar library for the training-data-pipeline operators
  * (SURVEY.md §7 step 8): normalization, tokenization, shingling, portable
  * hashing, language-ID heuristics, quality scoring and token statistics.
  *
  * Everything here is a pure `Column` expression (whole-stage codegen, no
  * UDFs) with a DuckDB-SQL twin used to generate the oracle, so the
  * engine/oracle pair is derived from one definition.
  *
  * Portable hash contract: `md5` produces identical lowercase hex in Spark
  * and DuckDB; the first 8 hex chars parsed as an integer give a uniform
  * 32-bit hash whose arithmetic (`*`, `+`, `%` on BIGINT) is engine-exact.
  * MinHash permutations stay below 2^42 (< 2^63) so no overflow on either
  * side.
  */
object TextFunctions {

  // ------------------------------------------------------------- hashing

  /** First 8 hex chars of md5 as a long in [0, 2^32): portable across
    * Spark (`conv`) and DuckDB (`('0x'||substr(md5 s,1,8))::BIGINT`). */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  def hash32Sql(e: String): String =
    s"(('0x' || substr(md5($e), 1, 8))::BIGINT)"

  /** First 15 hex chars of md5 (60 bits) — a collision-safe document
    * fingerprint that still fits a signed 64-bit integer. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  def hash60Sql(e: String): String =
    s"(('0x' || substr(md5($e), 1, 15))::BIGINT)"

  /** MinHash permutation j of a 32-bit hash: (a_j·h + b_j) mod p with
    * p = 2^31 − 1. a_j odd keeps the map bijective-ish; values small
    * enough that a_j·h < 2^42. */
  def minhashPerm(h: Column, j: Int): Column =
    (h * lit(2L * j + 1) + lit(97L * j + 13)) % lit(2147483647L)

  def minhashPermSql(h: String, j: Int): String =
    s"(($h * ${2L * j + 1} + ${97L * j + 13}) % 2147483647)"

  // -------------------------------------------------- tokens & shingles

  /** Whitespace tokenization after normalization (lower + squeeze). */
  def tokens(text: Column): Column =
    split(trim(regexp_replace(lower(text), " +", " ")), " ")

  def tokensSql(e: String): String =
    s"string_split(trim(regexp_replace(lower($e), ' +', ' ', 'g')), ' ')"

  /** Shingles from an already-materialized token array column. `tk` MUST
    * be a plain column attribute, not a computed expression: expressions
    * referenced inside the `transform` lambda are re-evaluated per
    * element, so an inline `split(regexp_replace(...))` here costs
    * O(shingles × tokenize) per document — it tripled the bench before
    * the pipelines switched to tokenize-then-shingle (see
    * [[graft.operators.Dedup.shingleRows]]). */
  def shinglesOfTokens(tk: Column, n: Int): Column =
    when(size(tk) >= n,
      array_distinct(transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(tk, (i + j + 1).cast("int"))): _*))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word n-gram shingles; empty array when the doc is shorter
    * than n tokens (guards `sequence`'s descending-range behavior).
    * Convenience form — for per-row pipelines prefer materializing
    * [[tokens]] first and calling [[shinglesOfTokens]] (see its note). */
  def shingles(text: Column, n: Int): Column = shinglesOfTokens(tokens(text), n)

  def shinglesSql(e: String, n: Int): String = {
    val tk = tokensSql(e)
    s"""(CASE WHEN len($tk) >= $n
        THEN list_distinct(list_transform(range(len($tk) - ${n - 1}),
             i -> array_to_string(($tk)[i+1:i+$n], ' ')))
        ELSE [] END)"""
  }

  // ------------------------------------------------------- language ID

  /** Tiny function-word lists per language for the n-gram/stopword
    * language-ID heuristic (reference labels its corpora per source; we
    * score text directly). Deterministic: ties break by language code. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "du", "pour"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "y", "de", "por"),
    "nl" -> Seq("de", "het", "een", "en", "is", "van", "niet", "met", "voor", "dat"))

  /** Fraction of tokens (an already-materialized token-array column) that
    * are stopwords of `lang`, 4 decimals. As with [[shinglesOfTokens]],
    * `tk` should be a plain attribute when scored for several languages in
    * one projection — otherwise each language re-tokenizes the text. */
  def langScoreOfTokens(tk: Column, lang: String): Column = {
    val hits = size(filter(tk, t =>
      t.isin(stopwords(lang).map(lit(_)): _*)))
    round(hits.cast("double") / size(tk), 4)
  }

  /** Fraction of tokens that are stopwords of `lang`, 4 decimals.
    * Convenience form — see [[langScoreOfTokens]] for multi-language use. */
  def langScore(text: Column, lang: String): Column =
    langScoreOfTokens(tokens(text), lang)

  def langScoreSql(e: String, lang: String): String = {
    val list = stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    val tk = tokensSql(e)
    s"round(len(list_filter($tk, t -> list_contains($list, t))) / CAST(len($tk) AS DOUBLE), 4)"
  }

  // ---------------------------------------------------- quality scoring

  /** Shared quality-signal thresholds — consumed by BOTH the soft
    * [[qualityScore]] and the hard gates in
    * [[graft.operators.CorpusFilter]], so tuning one side can't silently
    * drift from the other. */
  val QualityMinTok = 5
  val QualityMaxTok = 2000
  val QualityMeanLenLo = 2.5
  val QualityMeanLenHi = 12.0

  /** Mean token length over an already-materialized token array. */
  def meanTokenLen(tk: Column): Column =
    length(concat_ws("", tk)).cast("double") / size(tk)

  def meanTokenLenSql(tkE: String): String =
    s"(length(array_to_string($tkE, '')) / CAST(len($tkE) AS DOUBLE))"

  /** Fraction of characters that are ASCII letters or spaces. */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z ]", "")).cast("double") / length(text)

  def alphaRatioSql(e: String): String =
    s"(length(regexp_replace($e, '[^A-Za-z ]', '', 'g')) / CAST(length($e) AS DOUBLE))"

  /** Composite document quality score in [0,1]: penalizes extreme
    * lengths, missing stopwords, very short mean token length and
    * non-alphabetic noise — the length/punct/stopword recipe of typical
    * pretraining-data filters. */
  def qualityScore(text: Column): Column = {
    val tk = tokens(text)
    val nTok = size(tk).cast("double")
    val meanLen = meanTokenLen(tk)
    val alpha = alphaRatio(text)
    val stopHit = langScore(text, "en")
    val lenOk = when(nTok.between(QualityMinTok, QualityMaxTok), lit(1.0))
      .otherwise(lit(0.2))
    // NOT rounded: the 0.25-weighted sum frequently lands on exact
    // x.xxxx5 values where Spark HALF_UP (exact decimal) and DuckDB
    // (binary double) disagree; both engines produce the bit-identical
    // raw double, which the driver's canonical rounding then aligns.
    least(lit(1.0),
      lit(0.25) * lenOk +
        lit(0.25) * least(lit(1.0), stopHit * 5) +
        lit(0.25) * when(meanLen.between(QualityMeanLenLo, QualityMeanLenHi),
          1.0).otherwise(0.3) +
        lit(0.25) * alpha)
  }

  def qualityScoreSql(e: String): String = {
    val tk = tokensSql(e)
    val nTok = s"CAST(len($tk) AS DOUBLE)"
    val meanLen = meanTokenLenSql(tk)
    val alpha = alphaRatioSql(e)
    val stopHit = langScoreSql(e, "en")
    val lenOk =
      s"(CASE WHEN $nTok BETWEEN $QualityMinTok AND $QualityMaxTok THEN 1.0 ELSE 0.2 END)"
    s"""least(1.0,
        0.25 * $lenOk +
        0.25 * least(1.0, $stopHit * 5) +
        0.25 * (CASE WHEN $meanLen BETWEEN $QualityMeanLenLo AND $QualityMeanLenHi THEN 1.0 ELSE 0.3 END) +
        0.25 * $alpha)"""
  }

  // ---------------------------------------------------- token statistics

  /** BPE-ish subword count: alpha runs, digit runs, and isolated
    * punctuation each count as one token (regex kept to the common
    * subset of Java and RE2 regex syntax). r13: the engine side is the
    * native one-pass [[graft.plans.BpeishCount]] — value-identical to
    * `regexp_count(lower(text), "[a-z]+|[0-9]+|[^a-z0-9 ]")` (spec-
    * pinned), because the alternation regex's backtracking scan WAS the
    * whole q105 sf10 budget. [[graft.plans.GraftExtensions]] injects the
    * function into every session. */
  def bpeishCount(text: Column): Column =
    call_function("bpeish_count", text)

  def bpeishCountSql(e: String): String =
    s"len(regexp_extract_all(lower($e), '[a-z]+|[0-9]+|[^a-z0-9 ]'))"
}
