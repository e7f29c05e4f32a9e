package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, shingling. All pure
  * `Column` folds of built-ins → whole-stage codegen, no UDF boundary,
  * trivially distributed (per-row, no shuffle).
  */
object TextFunctions {

  /** Whitespace token count. Empty/blank → 0. */
  def tokenCount(text: Column): Column =
    when(trim(text) === "", lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast(LongType))

  /** BPE-ish subword token count: letter runs, digits, and single
    * non-alphanumeric marks each count as one token (a cheap, regex-only
    * approximation of byte-pair pretokenization). */
  def subwordTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
      .cast(LongType)

  /** Mean whitespace-token length in characters (null on empty). */
  def meanWordLen(text: Column): Column = {
    val toks = tokenCount(text)
    when(toks > 0,
      (length(regexp_replace(text, "\\s+", "")).cast(DoubleType)) / toks)
  }

  /** Fraction of characters that are ASCII punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, """[^!-/:-@\[-`{-~]""", "")).cast(DoubleType)
        / length(text))
      .otherwise(lit(0.0))

  /** Fraction of whitespace tokens that appear in `stopwords`. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    when(tokenCount(text) > 0,
      size(filter(toks, t => array_contains(lit(stopwords.toArray), t)))
        .cast(DoubleType) / size(toks))
      .otherwise(lit(0.0))
  }

  private val EnglishStopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "this", "was", "are")

  /** Composite quality score in [0,1]: rewards mid-length documents with
    * word-like tokens and some stopword mass; penalizes punctuation
    * soup. Heuristic in the spirit of C4/Gopher quality filters
    * (length/punct/stopword ratios). */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast(DoubleType) / 200.0, lit(1.0))
    val wordScore = when(meanWordLen(text).between(3.0, 10.0), 1.0).otherwise(0.5)
    val stopScore = least(stopwordRatio(text, EnglishStopwords) * 4.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 5.0)
    round((lenScore * 0.3 + wordScore * 0.3 + stopScore * 0.2) * punctPenalty
      + lit(0.2) * punctPenalty, 4)
  }

  /** Per-language stopword profiles for the n-gram/dictionary language
    * ID heuristic. Deliberately tiny — the point is the distributed
    * scoring shape, not linguistic accuracy. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "and", "is", "of", "to", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** Dictionary-overlap language ID: picks the profile with the most
    * (non-distinct) token hits; ties break toward the later profile
    * name, unknown → "und". Pure Column expression: the per-language
    * scores are an array of (score, lang) structs reduced with
    * array_max — no UDF, no shuffle. */
  def langId(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val scored = LangProfiles.map { case (lang, words) =>
      struct(
        size(filter(toks, t => array_contains(lit(words.toArray), t))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise("und")
  }

  /** Distinct word n-gram shingles (the unit for Jaccard/MinHash dedup).
    * Documents shorter than `n` words yield an empty array. Backed by
    * the native WordNgrams expression (graft.plans) — the equivalent
    * higher-order-function composition evaluates interpreted and was
    * ~1000× slower; requires a session from GraftSession (function
    * registry). */
  def wordShingles(text: Column, n: Int = 3): Column =
    call_function("word_ngrams", text, lit(n))

  /** ALL word n-grams in order with multiplicity (LM counts /
    * repetition stats); `wordShingles` is the distinct-set variant for
    * dedup. Native WordNgramsAll expression; requires
    * GraftSession.tune. */
  def wordShinglesAll(text: Column, n: Int = 3): Column =
    call_function("word_ngrams_all", text, lit(n))

  /** PII masking battery, applied in order (kind, pattern, placeholder).
    * Patterns deliberately avoid backreferences and lookaround so the
    * same strings run identically under Java regex and RE2-class engines
    * (the DuckDB oracle executes literal copies — keep q92 in sync).
    * Order matters: emails before phones/ids so an address's digits are
    * consumed by the email mask, phones (distinguished by the leading
    * `+`) before bare digit runs. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"),
    ("url", "https?://[^ ]+", "<URL>"),
    ("phone", "\\+[0-9][0-9()\\-]{5,}[0-9]", "<PHONE>"),
    ("id", "[0-9]{6,}", "<ID>"))

  /** Scrub all PII-shaped spans from `text` — chained native
    * regexp_replace: codegen'd, map-local, no UDF, no shuffle. */
  def scrubPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (_, p, r)) =>
      regexp_replace(c, p, r)
    }

  /** Match count for one PII category (audit/reporting side of the
    * scrubber). */
  def piiCount(text: Column, kind: String): Column = {
    val p = PiiPatterns.find(_._1 == kind)
      .getOrElse(sys.error(s"unknown PII kind $kind"))._2
    regexp_count(text, lit(p)).cast("long")
  }

  /** Tracking query parameters stripped by [[canonicalizeUrl]]. */
  private val TrackingParams = "(?:utm_[A-Za-z0-9]+|gclid|fbclid|ref)"

  /** URL canonicalization — the RefinedWeb/CCNet pre-content-dedup
    * stage (strict subset of their rules, all backtracking-safe
    * regexps like [[scrubPii]]):
    *  - drop the fragment;
    *  - lowercase scheme + authority (path/query case is preserved —
    *    paths are case-sensitive);
    *  - drop a `www.` host prefix and the scheme's default port
    *    (`:80` for http, `:443` for https);
    *  - strip tracking query params (utm_*, gclid, fbclid, ref),
    *    collapsing the separators they leave behind;
    *  - strip the path's trailing slash.
    * Map-local column expression — composes in front of the dedup
    * battery (dedup-by-canonical-URL keep-best, q153) at zero shuffle
    * cost. Non-URL input degrades to lowercase-authority-less
    * pass-through, never throws. */
  def canonicalizeUrl(u: Column): Column = {
    val authority = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*"
    val noFrag = regexp_replace(u, "#.*", "")
    val head0 = lower(regexp_extract(noFrag, "(" + authority + ")", 1))
    val tail0 = regexp_replace(noFrag, authority, "")
    // (www\.)+ not www\.: strip ALL leading www. labels so the
    // function is idempotent (canon(canon(u)) == canon(u)) — a
    // www.www.x.com host would otherwise lose one label per pass
    val head1 = regexp_replace(head0, "://(?:www\\.)+", "://")
    val scheme = regexp_extract(head1, "^([a-z0-9+.-]+)://", 1)
    val head = when(scheme === "http", regexp_replace(head1, ":80$", ""))
      .when(scheme === "https", regexp_replace(head1, ":443$", ""))
      .otherwise(head1)
    val t0 = regexp_replace(tail0, "/\\?", "?") // path trailing slash (pre-query)
    val t1 = regexp_replace(t0, "&" + TrackingParams + "=[^&]*", "")
    val t2 = regexp_replace(t1, "\\?" + TrackingParams + "=[^&]*&", "?")
    val t3 = regexp_replace(t2, "\\?" + TrackingParams + "=[^&]*$", "")
    val tail = regexp_replace(t3, "/$", "") // bare trailing slash
    concat(head, tail)
  }
}
