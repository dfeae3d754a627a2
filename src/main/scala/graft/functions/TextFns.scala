package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-data-pipeline layer: tokenizing,
  * shingling, quality scoring, language-ID heuristics, MinHash signatures.
  * All native `functions._` expressions (codegen'd, no UDFs) so they run at
  * full scan speed over 100 TB of documents.
  */
object TextFns {

  /** Whitespace tokens of a trimmed document.
    *
    * PERFORMANCE: higher-order functions (transform/filter/aggregate) are
    * interpreted, with no common-subexpression elimination inside the
    * lambda — passing `tokens(text)` directly into `shinglesOf` re-runs the
    * regex split once per element_at. Bind tokens to a column first
    * (`withColumn("toks", tokens(...))`) and pass the attribute.
    *
    * ORACLE-PARITY boundary (relied on by every documents oracle, which
    * pairs this with its DuckDB twin [[tokensSql]]):
    * Java regex `\s` is [ \t\n\x0B\f\r] but DuckDB's RE2 `\s` excludes
    * vertical tab \x0B — outside the corpus contract (no \x0B); a corpus
    * where it could occur needs an explicit pre-normalization step.
    * On the EMPTY string the engines AGREE: Spark's split uses Java
    * Pattern.split with limit -1, which returns [""] for empty input,
    * the same single-empty-token array DuckDB yields (verified against
    * Spark 4.1.2: split(trim(lit("")), "\s+") == [""]). */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  /** DuckDB twin of [[tokens]]: `regexp_split_to_array(trim(t), '\s+')`. */
  def tokensSql(t: String): String =
    s"regexp_split_to_array(trim($t), '\\s+')"

  /** The md5-prefix 32-bit hash both engines compute identically: the first
    * 8 hex digits of md5 over a STRING column, as a long in [0, 2³²). The
    * cross-engine basis of the dedup, sampling, sharding and sketch
    * operators; [[hash32Sql]] renders the DuckDB form. */
  def hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** DuckDB twin of [[hash32]] over a VARCHAR expression `s`. */
  def hash32Sql(s: String): String =
    s"CAST(CONCAT('0x', SUBSTR(md5($s), 1, 8)) AS BIGINT)"

  /** The C4 doc-level rule primitives (Raffel et al. 2020, arXiv:1910.10683
    * §2.2), shared by the d50 rule query and the d54 pipeline composition
    * so the two cannot drift: sentence-terminator count, the bad-word
    * stand-in list, and the combined pass predicate. [[c4PassSql]] renders
    * the identical DuckDB condition for the oracles. */
  val c4Badwords: Seq[String] = Seq("badword1", "badword2", "badword3")
  def c4SentenceCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.!?]", ""))).cast("long")
  def c4Pass(text: Column): Column = {
    val lowered = lower(text)
    c4SentenceCount(text) >= 3 && !lowered.contains("lorem ipsum") &&
      !text.contains("{") && !lowered.contains("javascript") &&
      !c4Badwords.map(lowered.contains(_)).reduce(_ || _)
  }
  def c4PassSql(t: String): String =
    s"""(CAST(length($t) - length(regexp_replace($t, '[.!?]', '', 'g')) AS BIGINT) >= 3
      AND NOT contains(lower($t), 'lorem ipsum')
      AND NOT contains($t, '{')
      AND NOT contains(lower($t), 'javascript')
      AND NOT (${c4Badwords.map(w => s"contains(lower($t), '$w')").mkString(" OR ")}))"""

  /** CCNet's dedup text normalization (Wenzek et al. 2020, arXiv:1911.00359
    * — cc_net normalizes before hashing so trivial variants collide):
    * lowercase → accent fold → every digit → '0' → strip everything
    * outside [a-z0 \t\n\r\f] → collapse whitespace. The accent fold is an
    * EXPLICIT literal translate map (both engines replay `translate`
    * identically); the character classes are plain ASCII and the
    * whitespace class is spelled out LITERALLY — `\s` itself forks
    * between Java (includes \x0B vertical tab) and RE2 (does not), so a
    * VT-bearing doc would normalize to different bytes per engine. With
    * the explicit class, VT is "punctuation" (stripped) on both. */
  val accentFrom = "áàâäãåéèêëíìîïóòôöõúùûüçñý"
  // 6a 4e 4i 5o 4u cny — the two literals MUST stay codepoint-aligned; a
  // length mismatch silently shifts every later mapping (caught in dev:
  // a sixth 'o' sent ú→o, ñ→c, ý→n on both engines at once)
  val accentTo = "aaaaaa" + "eeee" + "iiii" + "ooooo" + "uuuu" + "cny"
  require(accentFrom.length == accentTo.length,
    s"accent maps misaligned: ${accentFrom.length} vs ${accentTo.length}")
  def ccnetNormalize(text: Column): Column = {
    val folded = translate(lower(text), accentFrom, accentTo)
    val digits = regexp_replace(folded, "[0-9]", "0")
    val depunct = regexp_replace(digits, "[^a-z0 \t\n\r\f]", "")
    trim(regexp_replace(depunct, "[ \t\n\r\f]+", " "))
  }

  /** Word k-grams ("shingles") as space-joined strings over a PRE-BOUND
    * token array column. Empty array when fewer than k tokens. */
  def shinglesOf(t: Column, k: Int): Column =
    when(size(t) >= k,
      transform(sequence(lit(0), size(t) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(t, i + j + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Word k-grams from raw text (convenience; see the CSE note on tokens). */
  def shingles(text: Column, k: Int): Column = shinglesOf(tokens(text), k)

  /** Distinct shingle set (for Jaccard). */
  def shingleSet(text: Column, k: Int): Column = array_distinct(shingles(text, k))

  /** Exact n-gram Jaccard similarity between two distinct-shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** LSH band keys from a minhash signature: `numBands` strings, each hashing
    * `rows = numHashes / numBands` consecutive signature slots. Two docs share
    * a band key iff that band's slots all match. */
  def lshBandKeys(signature: Column, numBands: Int, rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      concat_ws(",", (lit(b) +:
        (0 until rowsPerBand).map(r => element_at(signature, b * rowsPerBand + r + 1))): _*)
    }: _*)

  /** Characters remaining after stripping whitespace. */
  def nonWsChars(text: Column): Column =
    length(regexp_replace(text, "\\s+", ""))

  /** Ratio of tokens found in `vocab` over a PRE-BOUND token column. */
  def vocabTokenRatioOf(t: Column, vocab: Seq[String]): Column = {
    val hits = size(filter(t, x => x.isin(vocab.map(lit(_)): _*)))
    when(size(t) > 0, hits.cast("double") / size(t).cast("double")).otherwise(lit(0.0))
  }

  /** Ratio of tokens found in `vocab` (e.g. stopwords) to all tokens.
    * Prefer the `...Of` variant with a bound token column on hot paths
    * (see the CSE note on [[tokens]]). */
  def vocabTokenRatio(text: Column, vocab: Seq[String]): Column =
    vocabTokenRatioOf(tokens(text), vocab)

  /** Count of `vocab` tokens over a PRE-BOUND token column. */
  def vocabTokenCountOf(t: Column, vocab: Seq[String]): Column =
    size(filter(t, x => x.isin(vocab.map(lit(_)): _*)))

  /** Mean token length (non-whitespace chars / token count). */
  def meanTokenLen(text: Column): Column = {
    val nTok = size(tokens(text))
    when(nTok > 0, nonWsChars(text).cast("double") / nTok.cast("double")).otherwise(lit(0.0))
  }

  /** A deterministic "winnowing-lite" document fingerprint: the minimum md5
    * over the document's word k-shingles. Oracle-friendly (md5 is standard)
    * and stable under content reordering-free edits. */
  def minShingleFingerprint(text: Column, k: Int): Column =
    minShingleFingerprintOf(tokens(text), text, k)

  /** [[minShingleFingerprint]] over a PRE-BOUND token array (see the CSE
    * note on [[tokens]] — the unbound form re-runs the regex split per
    * element_at inside the shingle lambda). Single evaluation of the
    * shingle set: `array_min` over an empty transform is NULL, so the
    * coalesce replaces the size-guarded double reference. */
  def minShingleFingerprintOf(toks: Column, text: Column, k: Int): Column =
    coalesce(array_min(transform(shinglesOf(toks, k), s => md5(s))),
      md5(trim(text)))

  /** Per-language stopword seed lists for the language-ID heuristic. Tiny on
    * purpose — they inline into codegen'd `isin` filters. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "para"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "dans", "est", "pour", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"))

  /** Heuristic language ID over a PRE-BOUND token column: argmax of
    * per-language stopword hits with a fixed tie-break order (list order
    * above); "und" when no list scores > 0. */
  def langIdHeuristicOf(t: Column): Column = {
    val scores = langStopwords.map { case (lang, words) =>
      lang -> vocabTokenCountOf(t, words)
    }
    val best = greatest(scores.map(_._2): _*)
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, score)) =>
      when(score > 0 && score === best, lit(lang)).otherwise(acc)
    }
  }

  /** [[langIdHeuristicOf]] over `text`'s [[tokens]]. */
  def langIdHeuristic(text: Column): Column = langIdHeuristicOf(tokens(text))
}
