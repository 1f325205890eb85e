package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the training-data-pipeline surface:
  * token counting, quality scoring, document fingerprinting, and an n-gram /
  * stopword language-ID heuristic. All are pure `Column` expressions
  * (codegen'd, no UDFs) so they stay inside whole-stage codegen at 100 TB.
  *
  * The reference's text analysis is regex classification over titles
  * (`src/risk_rules.py:27-52`, `dashboard_app/narrative_runtime.py:35-219`)
  * and lookup-normalization (`dashboard_app/app.py:964-987`); the generalized
  * operators here follow the same shape: normalize → count/classify → score.
  */
object TextFunctions {

  /** Collapse runs of whitespace to single spaces. */
  def normalizeWhitespace(text: Column): Column =
    regexp_replace(text, "\\s+", " ")

  /** Canonical content fingerprint: md5 of lowercased, whitespace-collapsed
    * text. Exact-dedup key (cheap, stable across engines). */
  def fingerprint(text: Column): Column =
    md5(lower(normalizeWhitespace(text)))

  /** Whitespace token count. `split` on trimmed text; empty text counts 1
    * token of "" — consistent with the SQL oracle's regexp_split_to_array. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-style pre-tokenizer pattern (the GPT-2 family shape, lookahead
    * dropped for RE2 portability): an optional leading space glued to a
    * letter run, digit run, or punctuation run. Runs in Java regex AND RE2
    * (DuckDB/Go) identically, so pre-tokenized counts replay in oracles. */
  val BpePretokenRe = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  /** Pre-tokenizer token count — the "tokens the BPE merge stage will see"
    * estimate a token-budgeted pipeline plans capacity with (whitespace
    * counts undercount punctuation-heavy and digit-heavy text). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePretokenRe), lit(0))).cast("long")

  /** Number of occurrences of `word` as a standalone token, via the
    * length-difference trick over space-padded text: literal (non-regex)
    * replace of `" word "` with `" "` removes word.length+1 chars per
    * non-overlapping hit. Left-to-right non-overlapping scan semantics are
    * identical in Spark and every ANSI SQL engine, which makes this oracle-
    * comparable (a lookaround regex would not be: RE2 engines lack it). */
  def wordHits(text: Column, word: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    ((length(padded) - length(replace(padded, lit(s" $word "), lit(" "))))
      / lit(word.length + 1)).cast("long")
  }

  /** Stopword-hit totals per language, as (lang -> column) — the langid
    * heuristic scores a doc by standalone-stopword frequency. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    stopwords.map(w => wordHits(text, w)).reduce(_ + _)

  /** Pick the arg-max language label from (lang, score) pairs with
    * first-listed-wins tie-break (deterministic). */
  def argMaxLang(scores: Seq[(String, Column)]): Column = {
    // greatest-so-far fold: start from the first, replace only on strictly
    // greater score, so ties keep the earlier language (fixed priority).
    val (l0, s0) = scores.head
    val init = struct(s0.as("s"), lit(l0).as("l"))
    val best = scores.tail.foldLeft(init) { case (acc, (l, s)) =>
      when(s > acc.getField("s"), struct(s.as("s"), lit(l).as("l"))).otherwise(acc)
    }
    best.getField("l")
  }

  /** Quality-score component: doc length in characters (with
    * [[tokenCount]] and [[stopwordHits]], the shape of classic
    * pretraining-corpus quality filters). */
  def charCount(text: Column): Column = length(text).cast("long")

  /** Rolling (polynomial) content hash over whitespace tokens, base/mod fixed:
    * order-sensitive document fingerprint complementing [[fingerprint]].
    * Computed with higher-order functions — stays distributed, no UDF. */
  def rollingTokenHash(text: Column): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    // fold: h = (h*31 + xxhash64(token) mod p) mod p, p prime < 2^49 so the
    // intermediate h*31 + th stays well inside Long (ANSI mode = no wraps).
    val p = 562949953421231L
    aggregate(toks, lit(0L),
      (h, t) => pmod(h * lit(31L) + pmod(xxhash64(t), lit(p)), lit(p)))
  }
}
