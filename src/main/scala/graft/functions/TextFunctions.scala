package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality metrics, language ID, shingling. All built from
  * codegen'd built-in/higher-order functions — no Scala UDFs — so they
  * stay inside whole-stage codegen and scale linearly with no
  * serialization boundary.
  */
object TextFunctions {

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokens(text: Column): Column =
    split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  def charCount(text: Column): Column = length(text)

  /** Share of characters that are not alphanumeric/whitespace. The
    * divisor is floored at 1 so a zero-length text scores 0 (numerator
    * is 0 too) instead of throwing ANSI DIVIDE_BY_ZERO — inert on any
    * non-empty text, and the definition a filter stack needs: an empty
    * doc must be CLASSIFIED (length gate catches it), never crash the
    * scoring pass (TotalitySweep row `whitespace`).
    */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
      greatest(length(text), lit(1))

  /** English stopword list used by the quality score (public, standard). */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "this", "that")

  /** Share of tokens that are stopwords (quality signal: natural prose
    * has a stable stopword rate; keyword spam and boilerplate don't).
    */
  def stopwordRatio(text: Column): Column = {
    val stop = array(EnStopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(stop, t))).cast("double") /
      size(tokens(text))
  }

  /** Composite quality score in [0,1]: length saturation, stopword
    * presence, low punctuation noise. Fixed association order so the
    * double arithmetic is reproducible across engines.
    */
  def qualityScore(text: Column): Column = {
    val lenTerm = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopTerm = least(stopwordRatio(text) * 4.0, lit(1.0))
    val punctTerm = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    lenTerm * 0.4 + stopTerm * 0.4 + punctTerm * 0.2
  }

  /** Per-language marker words for the n-gram/stopword language-ID
    * heuristic (top function words per language; public knowledge).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "with", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "es", "en", "por", "para"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "nicht"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "人"))

  /** Heuristic language ID: count marker-word hits per language, take the
    * argmax (ties broken by LangMarkers order, 'und' when nothing hits).
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val hits = LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(toks, t => array_contains(array(markers.map(lit): _*), t)))
    }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und"): Column) { case ((lang, h), acc) =>
      when(h > 0 && h === best, lit(lang)).otherwise(acc)
    }
  }

  /** Word k-shingles (space-joined k-grams of the token array) — the unit
    * for MinHash/Jaccard near-dup detection. Uses transform over an index
    * sequence; empty result for texts shorter than k tokens.
    */
  def shingles(text: Column, k: Int): Column = {
    // BIND the token array as a lambda variable (the array-of-one +
    // element_at trick) instead of embedding the `tokens(text)` subtree
    // in the inner lambda: higher-order functions are interpreted (no
    // codegen, no common-subexpression elimination), so an embedded
    // subtree re-runs the full whitespace split ONCE PER ELEMENT —
    // O(n_tokens × doc_len) per row. Harmless on prose, catastrophic on
    // the degenerate token streams every crawl eventually ingests (a
    // 20k-token uniform doc made this the long pole of a whole
    // registry sweep — TotalitySweep row `uniform`). With the binding, the split
    // runs once per row and lambda references are O(1) variable reads.
    element_at(
      transform(array(tokens(text)), toks =>
        when(size(toks) >= k,
          transform(sequence(lit(0), size(toks) - k),
            i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
          .otherwise(array().cast("array<string>"))),
      1)
  }

  /** Distinct shingles — the set form used by Jaccard/MinHash. Backed by
    * the fused [[Shingles]] expression (HOFs are interpreted, never
    * codegen'd; the fused pass is ~10× faster — see its scaladoc).
    * `shingles` above remains the declarative reference implementation.
    */
  def shingleSet(text: Column, k: Int): Column =
    Shingles.shingles(text, k)

  // ------------------------------------------------------------------
  // Fused fast paths (one tokenize pass; declarative forms above stay
  // as the reference semantics — FunctionsSpec asserts equality).

  /** `struct(n_tokens, n_stop)` in one pass — see [[TextStats]]. */
  def textStats(text: Column): Column =
    TextStats.textStats(text, EnStopwords)

  /** [[stopwordRatio]] on a precomputed [[textStats]] struct. */
  def stopwordRatioOf(st: Column): Column =
    st.getField("n_stop").cast("double") / st.getField("n_tokens")

  /** [[qualityScore]] with the token/stopword counts taken from a
    * precomputed [[textStats]] struct — same term order, same doubles.
    */
  def qualityScoreFused(text: Column, st: Column): Column = {
    val lenTerm = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopTerm = least(stopwordRatioOf(st) * 4.0, lit(1.0))
    val punctTerm = lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))
    lenTerm * 0.4 + stopTerm * 0.4 + punctTerm * 0.2
  }

  /** Fused [[langId]] — one pass, same argmax/tie semantics. */
  def langIdFused(text: Column): Column =
    LangIdExpr.langIdFused(text, LangMarkers)
}
