package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions (SURVEY.md §2.12 L4/L6): tokenization,
  * quality scoring, language-ID heuristic, fingerprinting. All native
  * column expressions (no UDFs) so they survive codegen and pushdown.
  */
object TextFunctions {

  val DefaultStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Whitespace tokens, empties removed. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Lowercased alpha tokens (BPE-ish pre-tokenization regex). */
  def alphaTokens(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), t => t =!= "")

  /** Token count without exploding (stays row-local). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer pattern (the public BPE vocab spec's
    * regex, minus its `\s+(?!\S)` lookahead so the same pattern runs on
    * RE2-based engines — the DuckDB oracle among them): contractions,
    * letter runs, digit runs, and punctuation runs, each with an
    * optional leading space. Whitespace itself is not a token.
    */
  val BpeTokenPattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token count — the pre-merge token stream length a
    * GPT-2-family tokenizer would start from; row-local regex count,
    * no explode, codegen'd.
    */
  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(BpeTokenPattern))

  /** Tokens with stopwords removed. */
  def normalizedTokens(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    filter(alphaTokens(text), t => !t.isin(stopwords: _*))

  /** Stopword ratio in [0,1]; null-safe on empty docs. */
  def stopwordRatio(text: Column, stopwords: Seq[String] = DefaultStopwords): Column = {
    val toks = tokens(text)
    val stops = filter(toks, t => t.isin(stopwords: _*))
    when(size(toks) > 0, size(stops).cast("double") / size(toks)).otherwise(lit(null))
  }

  /** Mean token length (quality signal). */
  def avgTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(transform(toks, t => length(t).cast("double")), lit(0.0), (a, x) => a + x)
        / size(toks))
      .otherwise(lit(null))
  }

  /** Composite quality score in [0,1]: length sanity x lexical diversity x
    * punctuation sanity. Heuristic, deterministic, and cheap — the shape a
    * pretraining-data filter takes; thresholds are tunable per corpus.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lengthOk = when(n.between(5, 100000), lit(1.0)).otherwise(lit(0.2))
    val distinctRatio =
      when(n > 0, size(array_distinct(tokens(text))).cast("double") / n).otherwise(lit(0.0))
    val alphaRatio =
      when(length(text) > 0,
        length(regexp_replace(text, "[^a-zA-Z ]", "")).cast("double") / length(text))
        .otherwise(lit(0.0))
    // 10dp decimal snap before the 4dp round: both engines agree on the
    // DECIMAL(18,10) image of the same IEEE product, then round the exact
    // decimal half-up — a raw round(double, 4) splits on exact 4dp ties
    // (e.g. a score of exactly 0.48125: Spark's canonical-string round
    // gives 0.4813, DuckDB's binary round 0.4812 — seen at the sf1 tier).
    // Oracle SQL mirrors the hop.
    round((lengthOk * (lit(0.5) + lit(0.5) * distinctRatio) * alphaRatio)
      .cast(org.apache.spark.sql.types.DecimalType(18, 10)), 4)
      .cast("double")
  }

  /** Word n-grams as space-joined strings, row-local (no explode): the
    * unit of the repetition quality signals (Rae et al. 2021 "Gopher"
    * §A1.1 duplicate/top n-gram fractions) and of n-gram overlap
    * decontamination (Brown et al. 2020 §C). Empty array when the doc has
    * fewer than n tokens. One-pass expression; the test-side HOF spelling
    * (`ReferenceSpellings.wordNgramsExpr`) is the cross-checked reference
    * (see [[org.apache.spark.sql.graft.WordNgrams]] for why the
    * transform/slice form is interpreter-bound).
    */
  def wordNgrams(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, WordNgrams}
    ColumnBridge.toColumn(WordNgrams(ColumnBridge.toExpression(text), n))
  }

  /** Per-document n-gram repetition statistics
    * `struct(n_grams, n_distinct, max_count)`, row-local — see
    * [[org.apache.spark.sql.graft.WordNgramStats]] for why this beats the
    * explode + double-groupBy spelling at scale.
    */
  def wordNgramStats(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.{ColumnBridge, WordNgramStats}
    ColumnBridge.toColumn(WordNgramStats(ColumnBridge.toExpression(text), n))
  }

  /** Per-document codepoint-distribution statistics
    * `struct(n_chars, n_distinct, entropy)`, row-local — see
    * [[org.apache.spark.sql.graft.CharEntropyStats]] for why this beats
    * the explode + double-groupBy spelling at corpus scale. */
  def charEntropyStats(text: Column): Column = {
    import org.apache.spark.sql.graft.{CharEntropyStats, ColumnBridge}
    ColumnBridge.toColumn(CharEntropyStats(ColumnBridge.toExpression(text)))
  }

  /** PII patterns, deliberately lookahead-free so the identical pattern
    * runs on both Java regex (Spark codegen) and RE2-based engines (the
    * DuckDB oracle): the same cross-engine differential q44c uses.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern: String = "\\b\\d{3}-\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and phone-like numbers with typed
    * placeholder tags. Email first: its local/domain parts could otherwise
    * be nibbled by the narrower patterns. Row-local, codegen'd.
    */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Pattern, "<IP>")
    regexp_replace(noIp, PhonePattern, "<PHONE>")
  }

  /** Markup-strip patterns — lookahead-free and non-greedy only, so the
    * identical strings run on Java regex and RE2 (the q69/q44c contract).
    * Container blocks go first WITH their content (script/style payloads
    * are code, not prose); then bare tags; then the entity escapes.
    */
  val ScriptBlockPattern: String = "<(script|style)[^>]*>.*?</(script|style)>"
  val TagPattern: String = "<[^>]+>"

  /** HTML/markup boilerplate removal — the extraction step every
    * pretraining pipeline runs before quality scoring: drop script/style
    * blocks with their payload, strip remaining tags to spaces, unescape
    * the common entities, collapse whitespace. Row-local, codegen'd —
    * scales as a narrow map.
    */
  def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(text, ScriptBlockPattern, " ")
    val noTags = regexp_replace(noBlocks, TagPattern, " ")
    // &amp; LAST, so "&amp;lt;" unescapes to the literal "&lt;" instead of
    // being double-unescaped to "<"
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => regexp_replace(c, from, to) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  /** Unicode NFC canonical composition — the pre-hash/pre-dedup cleanup
    * step (decomposed e+U+0301 vs precomposed U+00E9 must hash alike).
    * Codegen'd custom expression; see
    * [[org.apache.spark.sql.graft.NormalizeUnicode]].
    */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graft.NormalizeUnicode.column(text, "NFC")

  /** 64-bit document fingerprint: order-sensitive xxhash64 rolling
    * combination of tokens (SURVEY.md L4 "document fingerprinting").
    * Identical token sequences => identical fingerprint.
    */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => xxhash64(acc, t))

  /** Character n-gram profile language-ID heuristic: scores text against
    * tiny per-language trigram profiles and returns the argmax label.
    * Profiles are the highest-frequency function-word trigrams of each
    * language (public linguistic knowledge, cf. Cavnar & Trenkle 1994).
    */
  def languageId(text: Column): Column = {
    val profiles: Map[String, Seq[String]] = Map(
      "en" -> Seq(" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing", "ng "),
      "de" -> Seq("er ", " de", "der", "ie ", " di", "die", "ein", "ich", "sch", "und"),
      "fr" -> Seq(" de", "de ", " le", "le ", "es ", "ent", " la", "la ", "que", "ion"),
      "es" -> Seq(" de", "de ", " la", "la ", "el ", " el", "os ", "ión", "ent", "que"),
      "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"),
    )
    val lowered = lower(text)
    val scores = profiles.toSeq.sortBy(_._1).map { case (langCode, grams) =>
      val s = grams
        .map(g => when(lowered.contains(g), lit(1)).otherwise(lit(0)))
        .reduce(_ + _)
      struct(s.as("score"), lit(langCode).as("lang"))
    }
    // argmax by (score, lang) — deterministic tie-break on the lang code.
    array_max(array(scores: _*)).getField("lang")
  }

  /** Per-script character counts (Unicode script property classes — the
    * script-detection half of language ID, needed before any per-language
    * processing of a mixed web crawl). Java regex spells the class
    * `\p{IsCyrillic}`; an RE2-based engine (the DuckDB oracle) spells the
    * same property `\p{Cyrillic}` — same Unicode data underneath.
    * Returns a struct of counts; row-local, codegen'd.
    */
  def scriptCounts(text: Column): Column = struct(
    regexp_count(text, lit("\\p{IsLatin}")).as("latin"),
    regexp_count(text, lit("\\p{IsCyrillic}")).as("cyrillic"),
    regexp_count(text, lit("\\p{IsHan}")).as("han"),
    regexp_count(text, lit("\\p{IsGreek}")).as("greek"))

  /** Dominant script label: the script with the highest character count,
    * ties broken by the fixed order latin > cyrillic > han > greek (the
    * argmax idiom of [[languageId]]).
    */
  def dominantScript(text: Column): Column = {
    val c = scriptCounts(text)
    // array_max on (count, 4-k) structs: earlier scripts win ties via the
    // descending priority rank
    val ranked = Seq("latin", "cyrillic", "han", "greek").zipWithIndex.map {
      case (s, k) => struct(c.getField(s).as("n"), lit(3 - k).as("prio"), lit(s).as("script"))
    }
    array_max(array(ranked: _*)).getField("script")
  }
}
