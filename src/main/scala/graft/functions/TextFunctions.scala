package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for LLM-data-pipeline use.
  *
  * All pure `org.apache.spark.sql.functions` compositions — codegen'd,
  * no UDFs, no serialization in the hot path; each scales as a
  * rowwise map over a 100 TB document scan with full column pruning.
  */
object TextFunctions {

  /** The whitespace tokenizer contract, the one rule every text query
    * and its DuckDB oracle share: lower + trim (spaces only) +
    * collapse each run of whitespace to one space, then split on
    * that space. Each engine spells it once, here: `normalizeText`/
    * `wsTokens`/`tokenCount` for Spark and the `*Sql` mirrors for
    * the oracle SQL; TextFunctionsSpec pins both spellings.
    *
    * Empty and space-only text gives one empty token `[""]`, which
    * the closed forms over `len(tokens)` in TextQueries count; and
    * whitespace that trim keeps gives empty edge tokens (tab, "a",
    * tab → `["", "a", ""]`).
    *
    * Known divergence, not handled: Java's `\s` matches U+000B
    * (vertical tab) but RE2's does not, so DuckDB keeps "a", VT, "b"
    * as one token where Spark splits it in two. No generated
    * document contains U+000B.
    */
  def normalizeText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Whitespace tokens of the normalized text. */
  def wsTokens(c: Column): Column = split(normalizeText(c), " ")

  def tokenCount(c: Column): Column = size(wsTokens(c))

  /** DuckDB mirror of `normalizeText` over the SQL expression `e`. */
  def normalizeTextSql(e: String): String =
    s"regexp_replace(lower(trim($e)), '\\s+', ' ', 'g')"

  /** DuckDB mirror of `wsTokens`. */
  def wsTokensSql(e: String): String = s"string_split(${normalizeTextSql(e)}, ' ')"

  /** DuckDB mirror of `tokenCount`. */
  def tokenCountSql(e: String): String = s"len(${wsTokensSql(e)})"

  /** BPE-ish subword count: alphabetic runs, digit runs, and single
    * non-alphanumeric marks each count as one token (a cheap stand-in
    * for a byte-pair tokenizer's piece count).
    */
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Number of tokens that appear in `words` (fused one-pass scan —
    * see VectorExpressions.TokenSetStats).
    */
  def stopwordHits(c: Column, words: Seq[String]): Column =
    VectorExpressions.tokenSetStats(wsTokens(c), Seq(words)).getField("hits0")

  def stopwordRatio(c: Column, words: Seq[String]): Column =
    stopwordHits(c, words).cast("double") / greatest(tokenCount(c), lit(1)).cast("double")

  /** Mean whitespace-token length. */
  def avgTokenLen(c: Column): Column =
    VectorExpressions.tokenSetStats(wsTokens(c), Nil).getField("sum_len").cast("double") /
      greatest(tokenCount(c), lit(1)).cast("double")

  def punctRatio(c: Column): Column =
    size(regexp_extract_all(c, lit("[.,;:!?]"), lit(0))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  /** Common English function words (used by quality + langid). */
  val EnStop = Seq("the", "a", "of", "to", "and", "is", "in", "it")
  val EsStop = Seq("el", "la", "de", "que", "y", "en", "los", "es")
  val DeStop = Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu")
  val FrStop = Seq("le", "la", "et", "les", "des", "un", "une", "est")

  /** Heuristic document-quality score in [0, 1]:
    * rewards mid-length docs, normal token lengths, some stopwords,
    * penalizes punctuation soup. Deterministic rational arithmetic so
    * an external oracle can reproduce it bit-for-bit.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val tokScore = lit(1.0) - least(abs(avgTokenLen(c) - lit(5.0)) / lit(5.0), lit(1.0))
    val stopScore = least(stopwordRatio(c, EnStop) * lit(4.0), lit(1.0))
    val punctPenalty = least(punctRatio(c) * lit(4.0), lit(1.0))
    (lenScore * lit(0.3) + tokScore * lit(0.3) + stopScore * lit(0.4)) * (lit(1.0) - punctPenalty)
  }

  /** N-gram/stopword language ID over {en, es, de, fr, zh}.
    * CJK characters short-circuit to zh; otherwise argmax of
    * stopword-set hits with a fixed preference order
    * (en > es > de > fr) on ties, 'und' (undetermined) when no
    * evidence. Pure expression — mirrors to a SQL CASE for oracles.
    */
  def langId(c: Column): Column = {
    val stats = VectorExpressions.tokenSetStats(
      wsTokens(c), Seq(EnStop, EsStop, DeStop, FrStop))
    val en = stats.getField("hits0")
    val es = stats.getField("hits1")
    val de = stats.getField("hits2")
    val fr = stats.getField("hits3")
    val hasCjk = size(regexp_extract_all(c, lit("[\\x{4e00}-\\x{9fff}]"), lit(0))) > 0
    when(hasCjk, lit("zh"))
      .when(en === 0 && es === 0 && de === 0 && fr === 0, lit("und"))
      .when(en >= es && en >= de && en >= fr, lit("en"))
      .when(es >= de && es >= fr, lit("es"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }
}
