package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import graft.functions.PolyHash.polyHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface (language ID, quality scoring, token
  * counting, fingerprinting, exact dedup). Row-level outputs avoid
  * double-sum aggregation so every value is order-independent and
  * oracle-checkable.
  */
object TextQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val stopList =
    EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The q28/q30 quality-score expression as DuckDB SQL (expects a
    * `text` column in scope) — shared with oracles that rank by the same
    * doubles (q85's quality-aware canonical selection). The punct-ratio
    * divisor mirrors the Spark side's `greatest(length(text), 1)` floor
    * (TextFunctions.punctRatio) so both engines share ONE definition on
    * empty text: 0-length docs score 0.2, never NaN/NULL/err. (The
    * stopword divisor needs no guard: string_split_regex('') is [''] in
    * DuckDB, length ≥ 1 always.)
    */
  private[operators] def qualitySqlExpr: String =
    s"""least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
       |              + least(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |                                           x -> list_contains($stopList, x))) AS DOUBLE)
       |                      / len(string_split_regex(lower(trim(text)), '\\s+')) * 4.0, 1.0) * 0.4
       |              + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |                             / greatest(length(text), 1) * 10.0, 1.0)) * 0.2""".stripMargin

  /** q72's multilingual decoration: composed + DECOMPOSED accents (the
    * trailing "été" is e+U+0301 twice), a compatibility ligature (ﬁ,
    * untouched by NFC/NFD), Turkish İ, stroked Ł (no decomposition),
    * Greek, Hangul (NFD → Jamo → must RECOMPOSE), and multi-mark stacks
    * (ậ Ḉ ǻ ử ᾷ). Every char's strip_accents/nfc_normalize parity
    * between java.text.Normalizer and DuckDB utf8proc was probed before
    * inclusion.
    */
  private val UnicodeDecor =
    " — naïve café ﬁn İstanbul Łukasz ñü " +
      "ώρα 한국 ậḈǻửᾷ " +
      "ÅÆΩ e\u0301te\u0301"

  /** Shared q75 body: TF-IDF top-5 terms per doc, parameterized by how
    * the tf⋈dfreq term join is performed (plain equi-join vs salted) so
    * the two registry entries provably score through identical logic.
    */
  private def tfidfTop5(s: SparkSession, dir: String,
      joinTfDf: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    // r14: materialize tf once — it feeds BOTH the scoring join's probe
    // side and the document-frequency aggregation, and ReuseExchange
    // cannot dedupe the two subtrees (the join side carries a pushed
    // IsNotNull(term) the dfreq side lacks, breaking canonical equality
    // — the q125 lesson), so without this the corpus was tokenized and
    // TF-aggregated twice per run
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = joinTfDf(tf, dfreq)
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        (lit(1.0) + graft.functions.MathLn.ln(col("tf").cast("double"))) *
          graft.functions.MathLn.ln((col("n_docs").cast("double") + 1.0) /
            (col("df").cast("double") + 1.0)))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val TfidfOracle = Some("""WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM toks GROUP BY doc_id, term),
        dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                  FROM tf GROUP BY term),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, term, tf, df,
                 (1.0 + ln(CAST(tf AS DOUBLE)))
                   * ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        ranked AS (
          SELECT doc_id, term, tf, df, tfidf,
                 CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, term) AS BIGINT) AS rank
          FROM scored)
        SELECT doc_id, rank, term, tf, df, tfidf
        FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""")

  /** q76's BM25 scoring of every document against the fixed query
    * (`dup spark vector`; Robertson k1=1.2, b=0.75, +1 idf form),
    * UNORDERED and unfiltered: (doc_id, dl, tf_*, bm25). Shared by q76
    * (top-50 by score) and q91 (hybrid RRF fusion with the vector
    * ranking). Per-term contributions are summed in FIXED order (three
    * explicit columns, left to right) — never a groupBy sum over
    * doubles, whose accumulation order would vary with partitioning.
    * Corpus stats (N, avgdl) and per-term dfs ride as 1-row broadcast
    * dims: the scoring pass is a single map over documents.
    */
  private[operators] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("dup", "spark", "vector")
    val k1 = 1.2
    val b = 0.75
    // r14 optimization (guide §2.4): per-doc TF of the three FIXED query
    // terms and per-term document frequency are ROW-LOCAL over the token
    // array — size(filter(tk, = term)) and tf > 0 — so the old
    // explode + groupBy TF shuffle and the distinct + agg DF shuffle
    // disappear, and the corpus is tokenized ONCE (was four times: tfq,
    // dfs, stats, dl). Null-text semantics preserved exactly: a NULL
    // text yields NULL tk → NULL dl/tf, is counted in n_docs (count(*),
    // like the oracle's stats CTE), contributes nothing to total_dl or
    // any df (null-guarded counts), and is dropped from the scored rows
    // (the old inner join on the exploded frame dropped it the same
    // way). The per-doc frame is checkpointed once — it feeds the
    // 1-row stats/df aggregate AND the scoring pass.
    val tfCols = qterms.map(tm =>
      size(filter(col("tk"), x => x === lit(tm))).cast("long").as(s"tf_$tm"))
    val base = t(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id") +: size(col("tk")).cast("long").as("dl") +:
        tfCols: _*)
      .localCheckpoint()
    val statCols =
      count(lit(1)).as("n_docs") +: sum(col("dl")).as("total_dl") +:
        qterms.map(tm =>
          count(when(col(s"tf_$tm") > 0, lit(1))).as(s"df_$tm"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    def part(tm: String) = {
      val tf = col(s"tf_$tm").cast("double")
      val df = col(s"df_$tm").cast("double")
      val idf = graft.functions.MathLn.ln(lit(1.0) +
        (col("n_docs").cast("double") - df + 0.5) / (df + 0.5))
      // IEEE multiply is commutative, so Column*scalar == the
      // oracle's scalar*Column bit-for-bit; addition order matches.
      val denom = tf +
        (lit(1.0 - b) + (col("dl").cast("double") / avgdl) * b) * k1
      when(col(s"tf_$tm") > 0, idf * (tf * (k1 + 1.0)) / denom)
        .otherwise(lit(0.0))
    }
    base.filter(col("dl").isNotNull)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("dl"),
        col("tf_dup"), col("tf_spark"), col("tf_vector"),
        (part("dup") + part("spark") + part("vector")).as("bm25"))
  }

  /** The oracle-side CTE chain ending in `scored` (doc_id, dl, tf_*,
    * bm25) — the relational replay of [[bm25Scored]], shared by the q76
    * and q91 oracles. Use as `WITH $Bm25ScoredCtes SELECT ... FROM
    * scored`.
    */
  private[operators] val Bm25ScoredCtes: String =
    """toks AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        tfq AS (
          SELECT doc_id,
                 CAST(count(CASE WHEN term = 'dup' THEN 1 END) AS BIGINT) AS tf_dup,
                 CAST(count(CASE WHEN term = 'spark' THEN 1 END) AS BIGINT) AS tf_spark,
                 CAST(count(CASE WHEN term = 'vector' THEN 1 END) AS BIGINT) AS tf_vector
          FROM toks GROUP BY doc_id),
        dfs AS (
          SELECT CAST(count(CASE WHEN term = 'dup' THEN 1 END) AS BIGINT) AS df_dup,
                 CAST(count(CASE WHEN term = 'spark' THEN 1 END) AS BIGINT) AS df_spark,
                 CAST(count(CASE WHEN term = 'vector' THEN 1 END) AS BIGINT) AS df_vector
          FROM (SELECT DISTINCT doc_id, term FROM toks)),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS total_dl
          FROM documents),
        dls AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS dl
          FROM documents),
        scored AS (
          SELECT d.doc_id, d.dl, t.tf_dup, t.tf_spark, t.tf_vector,
            (CASE WHEN t.tf_dup > 0 THEN
              ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df_dup AS DOUBLE) + 0.5) / (CAST(f.df_dup AS DOUBLE) + 0.5))
                * (CAST(t.tf_dup AS DOUBLE) * 2.2)
                / (CAST(t.tf_dup AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
             ELSE 0.0 END
             + CASE WHEN t.tf_spark > 0 THEN
              ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df_spark AS DOUBLE) + 0.5) / (CAST(f.df_spark AS DOUBLE) + 0.5))
                * (CAST(t.tf_spark AS DOUBLE) * 2.2)
                / (CAST(t.tf_spark AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
             ELSE 0.0 END
             + CASE WHEN t.tf_vector > 0 THEN
              ln(1.0 + (CAST(s.n_docs AS DOUBLE) - CAST(f.df_vector AS DOUBLE) + 0.5) / (CAST(f.df_vector AS DOUBLE) + 0.5))
                * (CAST(t.tf_vector AS DOUBLE) * 2.2)
                / (CAST(t.tf_vector AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.total_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))
             ELSE 0.0 END) AS bm25
          FROM dls d JOIN tfq t USING (doc_id) CROSS JOIN dfs f CROSS JOIN stats s)"""

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // q28: token counting + quality metrics, row-level. Token/stopword
    // counts come from the fused single-pass TextStats expression (the
    // declarative HOF forms re-tokenize per column and filter
    // interpreted); ratio/score arithmetic is identical.
    Q("q28_text_stats",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            textStats(col("text")).as("st"))
          .select(
            col("doc_id"),
            charCount(col("text")).as("n_chars"),
            col("st.n_tokens").as("n_tokens"),
            (length(regexp_replace(trim(col("text")), "\\s+", ""))
              .cast("double") / col("st.n_tokens")).as("avg_token_len"),
            punctRatio(col("text")).as("punct_ratio"),
            stopwordRatioOf(col("st")).as("stopword_ratio"),
            qualityScoreFused(col("text"), col("st")).as("quality"))
          .orderBy(col("doc_id")),
      Some(s"""SELECT doc_id,
        CAST(length(text) AS INTEGER) AS n_chars,
        CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS INTEGER) AS n_tokens,
        CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS DOUBLE)
          / len(string_split_regex(lower(trim(text)), '\\s+')) AS avg_token_len,
        CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
          / length(text) AS punct_ratio,
        CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> list_contains($stopList, x))) AS DOUBLE)
          / len(string_split_regex(lower(trim(text)), '\\s+')) AS stopword_ratio,
        least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
          + least(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                       x -> list_contains($stopList, x))) AS DOUBLE)
                  / len(string_split_regex(lower(trim(text)), '\\s+')) * 4.0, 1.0) * 0.4
          + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                         / length(text) * 10.0, 1.0)) * 0.2 AS quality
        FROM documents ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // q29: per-language corpus stats (counts + exact int sums only —
    // no order-dependent double aggregation).
    Q("q29_lang_stats",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .withColumn("avg_chars",
            col("total_chars").cast("double") / col("n_docs"))
          .orderBy(col("lang")),
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        CAST(min(n_chars) AS BIGINT) AS min_chars,
        CAST(max(n_chars) AS BIGINT) AS max_chars,
        CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*) AS avg_chars
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ------------------------------------------------------------------
    // q30: quality-gate pass rates per source (threshold counts, not
    // double sums → deterministic under any partitioning).
    Q("q30_quality_gate",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("source"),
            qualityScoreFused(col("text"), textStats(col("text"))).as("q"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            count(when(col("q") >= 0.7, lit(1))).as("n_pass"))
          .withColumn("pass_rate",
            col("n_pass").cast("double") / col("n_docs"))
          .orderBy(col("source")),
      Some(s"""WITH scored AS (
          SELECT source,
            least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
              + least(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                           x -> list_contains($stopList, x))) AS DOUBLE)
                      / len(string_split_regex(lower(trim(text)), '\\s+')) * 4.0, 1.0) * 0.4
              + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                             / length(text) * 10.0, 1.0)) * 0.2 AS q
          FROM documents)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(CASE WHEN q >= 0.7 THEN 1 END) AS BIGINT) AS n_pass,
               CAST(count(CASE WHEN q >= 0.7 THEN 1 END) AS DOUBLE) / count(*) AS pass_rate
        FROM scored GROUP BY source ORDER BY source""")),

    // ------------------------------------------------------------------
    // q31: language-ID heuristic (marker-word hits, argmax with fixed
    // tie order) vs the labeled lang column.
    Q("q31_lang_id",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            langIdFused(col("text")).as("predicted"))
          .withColumn("hit", (col("predicted") === col("lang")).cast("int"))
          .orderBy(col("doc_id")),
      {
        val hitExprs = LangMarkers.map { case (lang, markers) =>
          val lst = markers.map(w => s"'$w'").mkString("[", ", ", "]")
          lang -> s"len(list_filter(toks, x -> list_contains($lst, x)))"
        }
        val best = hitExprs.map(_._2).mkString("greatest(", ", ", ")")
        val caseChain = hitExprs
          .map { case (lang, e) => s"WHEN $e > 0 AND $e = $best THEN '$lang'" }
          .mkString(" ")
        Some(s"""WITH tok AS (
            SELECT doc_id, lang,
                   string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM documents)
          SELECT doc_id, lang,
                 CASE $caseChain ELSE 'und' END AS predicted,
                 CAST(CASE $caseChain ELSE 'und' END = lang AS INTEGER) AS hit
          FROM tok ORDER BY doc_id""")
      }),

    // ------------------------------------------------------------------
    // q32: PolyHash rolling-hash fingerprints (custom codegen'd Catalyst
    // expression). The oracle replays the byte-level fold in DuckDB
    // HUGEINT arithmetic — mod-2^64 per step, two's-complement at the
    // end — so the exact JVM-overflow hash values are gate-checked. The
    // fold is BYTE-TRUE (MulMod61.sqlUtf8Bytes decodes hex(encode(..))
    // pairs), so parity holds on non-ASCII text too (r8).
    Q("q32_fingerprints",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), polyHash(col("text")).as("fingerprint"),
            polyHash(lower(trim(col("text")))).as("normalized_fingerprint"))
          .orderBy(col("doc_id")),
      Some(s"""WITH n AS (SELECT doc_id, text, lower(trim(text)) AS ntext FROM documents)
        SELECT doc_id,
               ${graft.functions.MulMod61.sqlPh64Signed("text")} AS fingerprint,
               ${graft.functions.MulMod61.sqlPh64Signed("ntext")} AS normalized_fingerprint
        FROM n ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // q33: exact dedup via content-hash groupBy (md5), keeping the
    // minimum doc_id per group — the hash-groupBy scales to 100 TB
    // (one shuffle on the digest, no pairwise comparison).
    Q("q33_exact_dedup",
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(md5(col("text").cast("binary")).as("content_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("content_hash")),
      Some("""SELECT md5(text) AS content_hash,
        CAST(min(doc_id) AS BIGINT) AS keep_id,
        CAST(count(*) AS BIGINT) AS n_copies
        FROM documents GROUP BY md5(text) ORDER BY content_hash""")),

    // ------------------------------------------------------------------
    // q72: Unicode normalization — NFC canonical composition and accent
    // stripping (NFD − Mn marks, NFC recomposed), the corpus-cleaning
    // passes that make visually-identical strings byte-identical before
    // dedup/shingling. The testdata text is ASCII (where both passes are
    // identity and the fused expressions take the zero-copy fast path),
    // so each row is decorated with a fixed multilingual suffix — incl.
    // a DECOMPOSED e+U+0301 and Hangul — to force real normalization
    // work through the gate: DuckDB's nfc_normalize/strip_accents must
    // reproduce java.text.Normalizer byte-for-byte. Row-local, no
    // shuffle: scales as a pure map stage.
    Q("q72_unicode_norm",
      (s, dir) => {
        import graft.functions.UnicodeNorm._
        val decorated = concat(col("text"), lit(UnicodeDecor))
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            nfcNormalize(decorated).as("nfc_text"),
            stripAccentsCol(decorated).as("plain_text"),
            (length(decorated) - length(nfcNormalize(decorated)))
              .cast("int").as("n_composed"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, text || '$UnicodeDecor' AS t FROM documents)
        SELECT doc_id,
               nfc_normalize(t) AS nfc_text,
               strip_accents(t) AS plain_text,
               CAST(length(t) - length(nfc_normalize(t)) AS INTEGER) AS n_composed
        FROM d ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // q75: TF-IDF — top-5 terms per document by (1+ln tf)·ln((N+1)/(df+1)).
    // The relevance-weighting primitive for corpus search/analysis. Three
    // shuffles, all on keys (doc-term counts; per-term document
    // frequencies; per-doc top-k window) — vocabulary is zipf-bounded, so
    // the df side stays small at any corpus size, and the top-k window is
    // partitioned by doc. ln() is bit-identical between Math.log and
    // DuckDB (probed on 2000 ratios in this value domain) and products/
    // divisions are IEEE-deterministic, so the gate hash-checks the
    // double scores themselves.
    Q("q75_tfidf",
      (s, dir) => tfidfTop5(s, dir, (tf, dfreq) => tf.join(dfreq, "term")),
      TfidfOracle),

    // q75 salted twin: the SAME scores through an explicitly salted
    // tf⋈dfreq join. At corpus scale the term key is zipf-skewed — stop
    // words put a constant fraction of ALL doc-term rows on single
    // shuffle keys, and once the vocabulary outgrows broadcast range the
    // equi-join's hot partitions bottleneck even under AQE's skew split
    // (one key can exceed what splitting rebalances). Salting by the
    // unique (doc_id, term) row spreads each hot term n ways at the cost
    // of an n× explode of the tiny df side. Row-identical to q75 (same
    // oracle SQL); SCALING.md records the sf0.1 measurement.
    Q("q75_tfidf_salted",
      (s, dir) => tfidfTop5(s, dir, (tf, dfreq) =>
        SkewJoin.saltedInnerJoin(tf, dfreq, "term", n = 8,
          saltBy = Seq("doc_id", "term"))),
      TfidfOracle),

    // ------------------------------------------------------------------
    // q76: BM25 scoring of the corpus against a fixed query (terms with
    // deliberately different rarity: 'dup' df≈5%, 'spark'/'vector'
    // common). Classic Robertson k1=1.2, b=0.75 with the +1 idf form.
    // Per-term contributions are summed in FIXED order (three explicit
    // columns, left to right) — never a groupBy sum over doubles, whose
    // accumulation order would vary with partitioning. Corpus stats
    // (N, avgdl) and per-term dfs ride as 1-row broadcast dims: the
    // scoring pass is a single map over documents.
    Q("q76_bm25",
      (s, dir) =>
        bm25Scored(s, dir)
          .filter(col("bm25") > 0.0)
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(50),
      Some(s"""WITH $Bm25ScoredCtes
        SELECT doc_id, dl, tf_dup, tf_spark, tf_vector, bm25
        FROM scored WHERE bm25 > 0.0
        ORDER BY bm25 DESC, doc_id LIMIT 50""")),

    // ------------------------------------------------------------------
    // q47: token counting two ways — whitespace and a BPE-ish regex
    // (word / number / punctuation runs with optional leading space,
    // the GPT-2 pre-tokenizer shape, ASCII-simplified so Java regex and
    // RE2 agree). Cost estimation for training pipelines.
    Q("q47_token_regex",
      (s, dir) => {
        val bpe = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            tokenCount(col("text")).as("n_ws_tokens"),
            regexp_count(col("text"), lit(bpe)).cast("int")
              .as("n_bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS INTEGER) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS INTEGER) AS n_bpe_tokens
        FROM documents ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // q83: DUPLICATE-NGRAM FRACTION — the Gopher/Dolma repetition signal
    // at CORPUS scope (q51 is the within-document form): for each doc,
    // the share of its distinct word-5-grams that also appear in at
    // least one OTHER document. High values flag boilerplate and near-
    // template text that per-doc signals can't see. Dataflow: distinct
    // (doc, shingle) pairs (the fused Shingles expression dedups per
    // doc, so count(*) per shingle IS document frequency), df counts
    // (map-side combinable), df-dim equi-join back on the shingle key,
    // per-doc fold — the same one-fat-shuffle-on-the-term-key shape as
    // q75, with the same salted-join escape hatch if stop-grams skew at
    // corpus scale. Docs with <5 tokens have no 5-grams and drop out in
    // both engines.
    Q("q83_dup_ngram_fraction",
      (s, dir) => {
        val pairs = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.functions.Shingles.shingles(col("text"), 5)).as("sh"))
        val dfDim = pairs.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        pairs.join(dfDim, Seq("sh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            count(when(col("df") >= 2, lit(1))).as("n_dup"))
          .select(col("doc_id"), col("n_shingles"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_shingles")).as("dup_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 3, 1)),
                   i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS sh
          FROM tk),
        dfs AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(CASE WHEN dfs.df >= 2 THEN 1 END) AS BIGINT) AS n_dup,
               CAST(count(CASE WHEN dfs.df >= 2 THEN 1 END) AS DOUBLE)
                 / count(*) AS dup_frac
        FROM sh s JOIN dfs ON s.sh = dfs.sh
        GROUP BY s.doc_id ORDER BY s.doc_id""")),

    // ------------------------------------------------------------------
    // q86: TWO-PASS HEAVY HITTERS — global top words WITHOUT a
    // corpus-sized shuffle. Pass 1: the mergeable Misra-Gries sketch
    // ([[graft.functions.FreqSketch]], k=64) folds each partition into
    // one ≤64-entry map; only those maps cross the shuffle, and the MG
    // merge guarantee says every word with true count > n/(k+1) is in
    // the result. Pass 2: recount ONLY the ≤64 candidates exactly
    // (broadcast semi-join + a 64-group agg) and apply the exact
    // threshold cnt·(k+1) > n in integer arithmetic. The sketch's
    // merge-order-dependent counts never reach the output — the final
    // set and counts are exact and deterministic, which is what lets a
    // sketch-based operator sit under the hash gate at all. q54 is the
    // exact-shuffle form this replaces at scale.
    Q("q86_heavy_hitters",
      (s, dir) => {
        val k = 64
        val words = t(s, dir, "documents")
          .select(explode(split(lower(trim(col("text"))), "\\s+"))
            .as("word"))
        // r14: the MG sketch and the exact word total fold in ONE
        // aggregate over ONE tokenize pass (they previously ran as two
        // separate corpus passes); the 1-row result is checkpointed so
        // its two consumers (candidate keys + total) don't re-run the
        // pass. Scans 3 → 2 — pass 1 sketch+count, pass 2 recount.
        val sk = words
          .agg(graft.functions.FreqSketch.freqSketch(col("word"), k)
            .as("mg"), count(lit(1)).as("n_words"))
          .localCheckpoint()
        val cand = sk.select(explode(map_keys(col("mg"))).as("word"))
        val totals = sk.select(col("n_words"))
        words.join(broadcast(cand), Seq("word"), "left_semi")
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(totals))
          .filter(col("cnt") * (k + 1) > col("n_words"))
          .select(col("word"), col("cnt"), col("n_words"))
          .orderBy(col("cnt").desc, col("word"))
      },
      Some("""WITH w AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
          FROM documents),
        tot AS (SELECT count(*) AS n_words FROM w)
        SELECT word, CAST(count(*) AS BIGINT) AS cnt,
               CAST(n_words AS BIGINT) AS n_words
        FROM w CROSS JOIN tot
        GROUP BY word, n_words
        HAVING count(*) * 65 > n_words
        ORDER BY cnt DESC, word""")),

    // ------------------------------------------------------------------
    // q88: KMV DISTINCT-COUNT SKETCH — per-source vocabulary estimation
    // in O(k) state ([[graft.functions.KmvSketch]], k=32): hash each
    // token with an independent MulMod61 permutation, keep the k
    // smallest distinct hashes per group, estimate distinct-count as
    // (k−1)·p / h_(k) (Beyer et al. SIGMOD'07). The sketch state is a
    // pure function of the token SET — order/partition/merge-tree
    // independent — so DuckDB recomputes the identical k minima
    // relationally and the estimate hash-matches. Map-side combine
    // sends one ≤32-long array per partition per group across the
    // shuffle; the `exact_vocab` column is the verification fixture
    // (at 100 TB the production path is the sketch alone — the exact
    // COUNT(DISTINCT) is the corpus-sized shuffle this replaces).
    Q("q88_kmv_distinct",
      (s, dir) => {
        import graft.functions.{Affine61, KmvSketch, PolyHash61Str}
        val k = 32
        val words = t(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("word"))
        words
          .select(col("source"), col("word"),
            Affine61.affine61(PolyHash61Str.polyHash61Str(col("word")),
              KmvSketch.kmvA, KmvSketch.kmvB).as("h"))
          .groupBy(col("source"))
          .agg(KmvSketch.kmvSketch(col("h"), k).as("kmv"),
            // exact distinct WORDS (not hashes): the fixture must be
            // able to catch a collision-induced estimator error
            countDistinct(col("word")).as("exact_vocab"))
          .select(col("source"),
            KmvSketch.estimate(col("kmv"), k).as("est_vocab"),
            col("exact_vocab"))
          .orderBy(col("source"))
      },
      Some(s"""WITH w AS (
          SELECT source,
                 unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
          FROM documents),
        h AS (
          SELECT DISTINCT source, word,
                 CAST((${graft.functions.KmvSketch.kmvA}::HUGEINT
                       * ${graft.functions.MulMod61.sqlPh61("word")}
                       + ${graft.functions.KmvSketch.kmvB})
                      % ${graft.functions.MulMod61.P} AS BIGINT) AS h
          FROM w),
        hh AS (SELECT DISTINCT source, h FROM h),
        r AS (
          SELECT source,
                 CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
                      ELSE 31::DOUBLE * ${graft.functions.MulMod61.P}::DOUBLE
                           / CAST(max(CASE WHEN rn = 32 THEN h END) AS DOUBLE)
                 END AS est_vocab
          FROM (SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                FROM hh)
          GROUP BY source),
        x AS (SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS exact_vocab
              FROM h GROUP BY source)
        SELECT source, est_vocab, exact_vocab
        FROM r JOIN x USING (source) ORDER BY source"""),
      doc = "Mergeable KMV distinct sketch; exact_vocab column is the fixture."),

    // ------------------------------------------------------------------
    // q89: CORPUS UNIGRAM LOG-PROB — the CCNet/KenLM-style fluency
    // signal: train a unigram LM on the corpus itself (word → count /
    // total), score each document by its mean token log-probability.
    // Boilerplate and keyboard-mash score low; template-heavy docs score
    // suspiciously high — both tails get gated. Per-token log-probs are
    // QUANTIZED to integer micro-nats before the per-doc fold so the sum
    // is order-independent (double addition isn't associative; the q73
    // integer-ppm rule) — and ln goes through MathLn (Math.log) for
    // libm/DuckDB parity, not Spark's 1-ulp-off StrictMath log().
    // Quantum is 100 µnat (floor(x·1e4)·100): ln is only 1-ulp portable
    // across libms (~1 in 150k calls), and a product within 1 ulp of a
    // bucket boundary would still flip a 1-µnat floor — the coarser
    // bucket shrinks that flaky-gate tail 100× while keeping micro-nat
    // output units.
    // Dataflow: one word-keyed count shuffle (map-side combinable, the
    // LM "training"), an EQUI-join of the count dim back onto the token
    // stream — deliberately NOT broadcast-hinted: the vocabulary of a
    // web corpus is unbounded (typos/mash ⇒ 10⁸⁺ rows at 100 TB, past
    // Spark's 8 GB broadcast hard limit), so the planner/AQE must stay
    // free to pick shuffle-hash when the dim outgrows the threshold —
    // then one doc-keyed fold. No corpus-sized intermediate anywhere.
    Q("q89_unigram_logprob",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        val lm = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        val total = words.agg(count(lit(1)).as("n_total"))
        val scored = words
          .join(lm, Seq("word"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"),
            (floor(graft.functions.MathLn.ln(
              col("cnt").cast("double") / col("n_total").cast("double"))
              * 1e4) * 100).as("lp_micro"))
        scored.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("lp_micro")).as("sum_lp_micro"))
          .select(col("doc_id"), col("n_tokens"), col("sum_lp_micro"),
            (col("sum_lp_micro").cast("double")
              / col("n_tokens").cast("double") / 1e6).as("avg_logprob"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
          FROM documents),
        lm AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        tot AS (SELECT count(*) AS n_total FROM w),
        scored AS (
          SELECT doc_id,
                 CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE))
                            * 1e4) AS BIGINT) * 100 AS lp_micro
          FROM w JOIN lm USING (word) CROSS JOIN tot)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro,
               CAST(sum(lp_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                 AS avg_logprob
        FROM scored GROUP BY doc_id ORDER BY doc_id"""),
      doc = "Unigram-LM fluency scoring (CCNet-style), integer micro-nat fold."),

    // ------------------------------------------------------------------
    // q90: CHARACTER-ENTROPY QUALITY SIGNAL — Shannon entropy of each
    // document's byte distribution ([[graft.functions.ByteEntropy]]),
    // the compressibility filter of the Gopher/Dolma family: mash and
    // repeated-char runs score near 0, natural prose ~2.5-3.1 nats.
    // Row-local fused expression (256 counters, one pass) — scales as a
    // map. The oracle is BYTE-TRUE (r8, closing the r7 ASCII coupling):
    // `hex(encode(text))` split into per-byte pairs replays the exact
    // UTF-8 byte histogram ByteEntropy counts, and fixed-width uppercase
    // hex sorts lexicographically in numeric byte order, so `ORDER BY b`
    // replays the expression's ascending-byte fold ASSOCIATION on ANY
    // input, not just ASCII. ln itself is only 1-ulp portable across
    // libms (measured: one doc in 5000 differed in the last bit at
    // sf0.1), so the row output is quantized to integer MICRO-NATS (the
    // q89 rule): fix the fold order AND quantize at the output boundary
    // whenever transcendental doubles must cross engines. Quantum is
    // 100 µnat (floor(x·1e4)·100, the q89 rule's round-7 tightening): a
    // fold landing within 1 ulp of a 1-µnat boundary would still flip —
    // the coarser bucket shrinks the residual flaky-gate tail 100×.
    Q("q90_char_entropy",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            (floor(graft.functions.ByteEntropy.byteEntropy(col("text"))
              * 1e4) * 100).as("entropy_unat"))
          .orderBy(col("doc_id")),
      Some("""WITH ch AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(hex(encode(text)), '..')) AS b
          FROM documents),
        hist AS (
          SELECT doc_id, b, count(*) AS c FROM ch GROUP BY doc_id, b),
        tot AS (SELECT doc_id, sum(c) AS n FROM hist GROUP BY doc_id),
        folded AS (
          SELECT h.doc_id,
                 list_reduce(
                   list_prepend(0.0, list((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                       * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY b)),
                   (x, y) -> x + y) AS s
          FROM hist h JOIN tot USING (doc_id) GROUP BY h.doc_id, n)
        SELECT d.doc_id, d.n_chars,
               CAST(floor((CASE WHEN f.s = 0 OR f.s IS NULL THEN 0.0
                                ELSE -f.s END) * 1e4)
                    AS BIGINT) * 100 AS entropy_unat
        FROM documents d LEFT JOIN folded f USING (doc_id)
        ORDER BY d.doc_id"""),
      doc = "Byte-distribution entropy (compressibility gate), micro-nat quantized."),

    // ------------------------------------------------------------------
    // q92: TOKEN-BUDGET SELECTION — data-constrained curation: within
    // each source, keep the highest-quality documents until a fixed
    // token budget (1000 tokens/source here) is exhausted. The greedy
    // quality-ranked prefix is the standard budgeted-subset heuristic
    // (SlimPajama-style curation with token, not row, quotas — the
    // token-denominated complement of q73's ppm row quotas). Dataflow:
    // one window partitioned by source (the shard key — q74's packing
    // rule: NEVER a global cumsum) computing the running token total in
    // quality order; the cumulative sum is over LONGS along a
    // UNIQUELY-ordered frame (quality desc, doc_id), so it is
    // deterministic and engine-portable; quality doubles reuse q30's
    // proven-parity expression.
    Q("q92_token_budget_select",
      (s, dir) => {
        val budget = 1000L
        val scored = t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            tokenCount(col("text")).cast("long").as("n_tokens"),
            qualityScoreFused(col("text"), textStats(col("text"))).as("q"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("q").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scored
          .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
          .filter(col("cum_tokens") <= budget)
          .select(col("source"), col("doc_id"), col("n_tokens"),
            col("cum_tokens"), col("q"))
          .orderBy(col("source"), col("cum_tokens"))
      },
      Some(s"""WITH scored AS (
          SELECT source, doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
                 $qualitySqlExpr AS q
          FROM documents),
        cum AS (
          SELECT source, doc_id, n_tokens, q,
                 CAST(sum(n_tokens) OVER (PARTITION BY source
                        ORDER BY q DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_tokens
          FROM scored)
        SELECT source, doc_id, n_tokens, cum_tokens, q
        FROM cum WHERE cum_tokens <= 1000
        ORDER BY source, cum_tokens"""),
      doc = "Per-source greedy quality prefix under a token budget."),

    // ------------------------------------------------------------------
    // q101: PERPLEXITY-BUCKETED CORPUS PARTITION — the CCNet
    // head/middle/tail split: rank every document by its unigram-LM
    // fluency (q89's integer micro-nat fold) WITHIN its source and cut
    // each source into fluency tertiles (bucket 1 = head = most
    // fluent). CCNet partitions per language/domain, never globally —
    // which is also exactly the scale-correct plan: the ntile window
    // partitions on the shard key (source), so there is no global sort;
    // its input is the narrow per-doc score frame (the corpus text
    // never enters the window). Bucket aggregates stay engine-exact:
    // token counts and micro-nat sums are integers, and each reported
    // double is a division of two of them (per-doc avg_logprob ordering
    // is a deterministic IEEE division, ties broken by doc_id; ntile's
    // smaller-trailing-bucket rule is the same in Spark and DuckDB).
    Q("q101_perplexity_buckets",
      (s, dir) => {
        val words = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(tokens(col("text"))).as("word"))
        val lm = words.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        val total = words.agg(count(lit(1)).as("n_total"))
        val scored = words
          .join(lm, Seq("word"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("source"),
            (floor(graft.functions.MathLn.ln(
              col("cnt").cast("double") / col("n_total").cast("double"))
              * 1e4) * 100).as("lp_micro"))
        val perDoc = scored.groupBy(col("doc_id"), col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("lp_micro")).as("sum_lp_micro"))
          .withColumn("avg_logprob",
            col("sum_lp_micro").cast("double")
              / col("n_tokens").cast("double") / 1e6)
        val w = Window.partitionBy(col("source"))
          .orderBy(col("avg_logprob").desc, col("doc_id"))
        perDoc.withColumn("bucket", ntile(3).over(w))
          .groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("sum_lp_micro")).as("sum_lp_micro"),
            min(col("avg_logprob")).as("min_avg_logprob"),
            max(col("avg_logprob")).as("max_avg_logprob"))
          .select(col("source"), col("bucket"), col("n_docs"),
            col("n_tokens"),
            (col("sum_lp_micro").cast("double")
              / col("n_tokens").cast("double") / 1e6)
              .as("bucket_avg_logprob"),
            col("min_avg_logprob"), col("max_avg_logprob"))
          .orderBy(col("source"), col("bucket"))
      },
      Some("""WITH w AS (
          SELECT doc_id, source,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
          FROM documents),
        lm AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        tot AS (SELECT count(*) AS n_total FROM w),
        scored AS (
          SELECT doc_id, source,
                 CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE))
                            * 1e4) AS BIGINT) * 100 AS lp_micro
          FROM w JOIN lm USING (word) CROSS JOIN tot),
        per_doc AS (
          SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro,
                 CAST(sum(lp_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                   AS avg_logprob
          FROM scored GROUP BY doc_id, source),
        bucketed AS (
          SELECT *, CAST(ntile(3) OVER (PARTITION BY source
                     ORDER BY avg_logprob DESC, doc_id) AS INTEGER) AS bucket
          FROM per_doc)
        SELECT source, bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(sum_lp_micro) AS DOUBLE)
                 / CAST(sum(n_tokens) AS DOUBLE) / 1e6 AS bucket_avg_logprob,
               min(avg_logprob) AS min_avg_logprob,
               max(avg_logprob) AS max_avg_logprob
        FROM bucketed GROUP BY source, bucket ORDER BY source, bucket"""),
      doc = "CCNet-style per-source fluency tertiles (head/middle/tail)."),

    // ------------------------------------------------------------------
    // q104: BIGRAM-LM FLUENCY — q89's scoring with first-order context:
    // P(w|prev) = cnt(prev,w) / cnt(prev,·), the conditional the
    // unigram model ignores (it scores "the the the" as highly fluent;
    // the bigram model does not). Dataflow: token positions are
    // row-local; the bigram pairing is ONE lag window on the doc_id
    // shard key; model "training" is a (prev,word)-keyed count shuffle
    // (map-side combinable) with the prev-marginal folded from the
    // bigram counts (no second pass over tokens); scoring joins the
    // model back on (prev,word) — UNHINTED, the q89 lesson: a bigram
    // vocabulary is unbounded squared, so the optimizer must be free
    // to pick shuffle-hash. Per-token log-probs quantize to 100-µnat
    // integers before the per-doc fold (the q89/q90 rule), so sums are
    // partition-order-independent and engine-portable.
    Q("q104_bigram_logprob",
      (s, dir) => {
        // r14 optimization (guide §2.4 "remove shuffles outright"):
        // bigram pairing is ROW-LOCAL — adjacent positions live in the
        // same token array — so the previous posexplode + lag-window
        // shape paid a full token-stream shuffle + sort (hashpartition
        // by doc_id, sort by pos) for information the row already had.
        // Derive the pairs with the BPE trainer's adjacent-pair
        // transform instead (same multiset per doc: lag over pos ==
        // tokens i,i+1 for i in 1..n-1; the `syms` materialize-before-
        // lambda rule applies, see bpeTrain). The pair stream is
        // consumed twice (model counts + scoring probe) but stays
        // UNmaterialized: recomputing a row-local explode is the right
        // 100 TB trade — only the model-sized count table below is
        // checkpointed.
        val bigramsOf = {
          val syms = col("syms")
          when(size(syms) >= 2,
            transform(sequence(lit(1), size(syms) - 1),
              i => struct(element_at(syms, i).as("prev"),
                element_at(syms, i + 1).as("word"))))
            .otherwise(array().cast("array<struct<prev:string,word:string>>"))
        }
        val bg = t(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("syms"))
          .select(col("doc_id"), explode(bigramsOf).as("p"))
          .select(col("doc_id"), col("p.prev").as("prev"),
            col("p.word").as("word"))
        val bi = bg.groupBy(col("prev"), col("word"))
          .agg(count(lit(1)).as("cnt"))
          // model-sized (distinct bigrams); feeds the prev-marginal AND
          // the probe join, which no exchange reuse can share
          .localCheckpoint()
        val pv = bi.groupBy(col("prev")).agg(sum(col("cnt")).as("prev_cnt"))
        bg.join(bi, Seq("prev", "word"))
          .join(pv, Seq("prev"))
          .select(col("doc_id"),
            (floor(graft.functions.MathLn.ln(
              col("cnt").cast("double") / col("prev_cnt").cast("double"))
              * 1e4) * 100).as("lp_micro"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("lp_micro")).as("sum_lp_micro"))
          .select(col("doc_id"), col("n_bigrams"), col("sum_lp_micro"),
            (col("sum_lp_micro").cast("double")
              / col("n_bigrams").cast("double") / 1e6).as("avg_logprob"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        tp AS (
          SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos
          FROM tk),
        bg AS (
          SELECT doc_id,
                 lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
                 word
          FROM tp QUALIFY prev IS NOT NULL),
        bi AS (SELECT prev, word, count(*) AS cnt FROM bg GROUP BY prev, word),
        pv AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS prev_cnt
               FROM bi GROUP BY prev),
        scored AS (
          SELECT g.doc_id,
                 CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(prev_cnt AS DOUBLE))
                            * 1e4) AS BIGINT) * 100 AS lp_micro
          FROM bg g JOIN bi USING (prev, word) JOIN pv USING (prev))
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro,
               CAST(sum(lp_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
                 AS avg_logprob
        FROM scored GROUP BY doc_id ORDER BY doc_id"""),
      doc = "Bigram-LM fluency scoring: P(w|prev), integer micro-nat fold."),

    // ------------------------------------------------------------------
    // q107: ZIPF RANK-FREQUENCY SLOPE — per-source OLS fit of
    // ln(freq) ~ ln(rank); natural text sits near −1 (Zipf's law), so
    // the slope is a corpus-health diagnostic (template/boilerplate
    // sources flatten it, spam steepens it). Dataflow: token explode →
    // (source, word) count (map-side combinable) → per-source
    // row_number on the shard key (cnt DESC, word tiebreak) → ln's
    // quantized to 0.1-millinat integers (the q104 quantum, coarse
    // enough that the 1-ulp cross-libm ln tail cannot flip a floor) →
    // per-source exact long sums (n, Σx, Σy, Σx², Σxy) → slope and
    // intercept as fixed-order IEEE expressions of those five exact
    // integers. Nothing order-dependent ever hits a double sum.
    Q("q107_zipf_slope",
      (s, dir) => {
        val freq = t(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("word"))
          .groupBy(col("source"), col("word"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("cnt").desc, col("word").asc)
        val qz = freq
          .withColumn("rnk", row_number().over(w))
          .select(col("source"),
            floor(graft.functions.MathLn.ln(col("rnk").cast("double"))
              * lit(1e4)).as("lx"),
            floor(graft.functions.MathLn.ln(col("cnt").cast("double"))
              * lit(1e4)).as("ly"))
        val agg = qz.groupBy(col("source")).agg(
          count(lit(1)).as("n_words"),
          sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
          sum(col("lx") * col("lx")).as("sxx"),
          sum(col("lx") * col("ly")).as("sxy"))
          // a single-word source has one rank point — no line to fit
          // (and a 0/0 denominator); with ≥2 ranks lx differs so the
          // denominator is strictly positive
          .filter(col("n_words") >= 2)
        val nD = col("n_words").cast("double")
        val slope =
          (nD * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")) /
            (nD * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double"))
        agg.select(col("source"), col("n_words"),
          slope.as("zipf_slope"),
          ((col("sy").cast("double") - slope * col("sx").cast("double"))
            / nD / lit(1e4)).as("intercept_nat"))
          .orderBy(col("source"))
      },
      Some("""WITH tk AS (
          SELECT source,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
          FROM documents),
        fr AS (SELECT source, word, count(*) AS cnt
               FROM tk GROUP BY source, word),
        qz AS (
          SELECT source,
                 CAST(floor(ln(CAST(row_number() OVER
                     (PARTITION BY source ORDER BY cnt DESC, word)
                   AS DOUBLE)) * 1e4) AS BIGINT) AS lx,
                 CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e4) AS BIGINT) AS ly
          FROM fr),
        ag AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(lx) AS BIGINT) AS sx,
                 CAST(sum(ly) AS BIGINT) AS sy,
                 CAST(sum(lx * lx) AS BIGINT) AS sxx,
                 CAST(sum(lx * ly) AS BIGINT) AS sxy
          FROM qz GROUP BY source HAVING count(*) >= 2)
        SELECT source, n_words,
               (CAST(n_words AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n_words AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS zipf_slope,
               (CAST(sy AS DOUBLE)
                - (CAST(n_words AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n_words AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE))
               / CAST(n_words AS DOUBLE) / 1e4 AS intercept_nat
        FROM ag ORDER BY source"""),
      doc = "Per-source Zipf slope: OLS on quantized-integer ln sums."),

    // ------------------------------------------------------------------
    // q109: BPE MERGE STATISTICS — the first step of byte-pair-encoding
    // tokenizer training (Sennrich ACL'16): corpus-weighted counts of
    // adjacent symbol pairs, top candidates first. The classic BPE trick
    // is the scale story: aggregate to the WORD-FREQUENCY table first
    // (vocabulary-sized, not corpus-sized — map-side-combinable count),
    // then generate pairs row-locally over the vocab and weight by word
    // count. The corpus is touched once; the pair shuffle carries
    // O(vocab · avg_word_len) rows regardless of corpus row count. Top-50
    // via TakeOrderedAndProject (total order: cnt DESC, a, b — no ties
    // at the cut can flip membership). All-integer — exact on both
    // engines.
    Q("q109_bpe_pairs",
      (s, dir) => {
        val wc = t(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("word"))
          .filter(length(col("word")) >= 2)
          .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
        wc.select(col("wcnt"), col("word"),
            explode(expr("sequence(1, length(word) - 1)")).as("i"))
          .select(col("word").substr(col("i"), lit(1)).as("a"),
            col("word").substr(col("i") + lit(1), lit(1)).as("b"),
            col("wcnt"))
          .groupBy(col("a"), col("b")).agg(sum(col("wcnt")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(50)
      },
      Some("""WITH tk AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
          FROM documents),
        wc AS (SELECT word, count(*) AS wcnt FROM tk
               WHERE length(word) >= 2 GROUP BY word),
        ix AS (SELECT word, wcnt,
                      unnest(generate_series(1, length(word) - 1)) AS i
               FROM wc),
        pr AS (SELECT substring(word, CAST(i AS INTEGER), 1) AS a,
                      substring(word, CAST(i AS INTEGER) + 1, 1) AS b,
                      wcnt
               FROM ix)
        SELECT a, b, CAST(sum(wcnt) AS BIGINT) AS cnt
        FROM pr GROUP BY a, b
        ORDER BY cnt DESC, a, b LIMIT 50"""),
      doc = "BPE tokenizer-training pair counts over the word-frequency table."),

    // ------------------------------------------------------------------
    // q111: CROSS-SOURCE SHINGLE-OVERLAP MATRIX — for every source pair,
    // the number of shared distinct 5-gram shingles and the Jaccard
    // similarity of their shingle sets: the corpus-level contamination /
    // provenance-overlap diagnostic (q50 asks "is this doc contaminated";
    // this asks "how much do these SOURCES overlap"). Dataflow: distinct
    // (source, shingle) — map-side-combinable dedup, vocabulary-sized —
    // then a self-equi-join ON THE SHINGLE: per-key fanout is bounded by
    // #sources² (a constant), never doc×doc. Per-source set sizes ride
    // back on a broadcast of #sources rows. Pairs sharing zero shingles
    // are absent (inner-join semantics) — same on both engines. Jaccard
    // = inter/(na+nb−inter), one fixed-order IEEE expression of three
    // exact longs.
    Q("q111_source_overlap",
      (s, dir) => {
        // r14: materialize the distinct (source, shingle) set once — it
        // feeds three consumers (both self-join sides + the size dim),
        // each of which otherwise recomputed the corpus-sized
        // explode + distinct shuffle (ReuseExchange can't share them:
        // the join sides carry pushed IsNotNull/alias asymmetries)
        val ss = t(s, dir, "documents")
          .select(col("source"),
            explode(graft.functions.Shingles.shingles(col("text"), 5)).as("sh"))
          .distinct()
          .localCheckpoint()
        val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("nsh"))
        val inter = ss.as("x").join(ss.as("y"),
            col("x.sh") === col("y.sh")
              && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("source_a"),
            col("y.source").as("source_b"))
          .agg(count(lit(1)).as("n_shared"))
        inter
          .join(broadcast(sizes.select(col("source").as("source_a"),
            col("nsh").as("na"))), Seq("source_a"))
          .join(broadcast(sizes.select(col("source").as("source_b"),
            col("nsh").as("nb"))), Seq("source_b"))
          .select(col("source_a"), col("source_b"), col("n_shared"),
            col("na"), col("nb"),
            (col("n_shared").cast("double")
              / (col("na") + col("nb") - col("n_shared")).cast("double"))
              .as("jaccard"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH tk AS (
          SELECT source, doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT DISTINCT source, sh FROM (
            SELECT source, unnest(list_distinct(list_transform(
                     range(1, greatest(len(w) - 3, 1)),
                     i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS sh
            FROM tk)),
        sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nsh
               FROM sh GROUP BY source),
        iv AS (SELECT x.source AS source_a, y.source AS source_b,
                      CAST(count(*) AS BIGINT) AS n_shared
               FROM sh x JOIN sh y
                 ON x.sh = y.sh AND x.source < y.source
               GROUP BY x.source, y.source)
        SELECT source_a, source_b, n_shared,
               a.nsh AS na, b.nsh AS nb,
               CAST(n_shared AS DOUBLE)
                 / CAST(a.nsh + b.nsh - n_shared AS DOUBLE) AS jaccard
        FROM iv
        JOIN sz a ON iv.source_a = a.source
        JOIN sz b ON iv.source_b = b.source
        ORDER BY source_a, source_b"""),
      doc = "Source-pair distinct-shingle overlap + Jaccard (provenance diagnostic)."),

    // ------------------------------------------------------------------
    // q115: PER-SOURCE QUALITY CAP — the C4/RefinedWeb-style domain cap:
    // keep at most N docs per source, ranked by the q28/q30 quality
    // score (tie → lower doc_id), so no single domain dominates the
    // training mix. One shuffle on source + a per-source window; the
    // groups are domain-sized, and at 100 TB a skew-heavy domain is
    // pre-pruned by the same window run per partition first (AQE handles
    // the exchange; the window itself is the standard per-key top-N
    // shape used across this registry). Ranks by the SAME quality
    // doubles the oracle computes (q85 established the parity).
    Q("q115_source_cap",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            qualityScoreFused(col("text"), textStats(col("text")))
              .as("quality"))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 10)
          .orderBy(col("source"), col("rk"))
      },
      Some(s"""WITH scored AS (
          SELECT doc_id, source,
                 $qualitySqlExpr AS quality
          FROM documents)
        SELECT doc_id, source, quality,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY quality DESC, doc_id) AS BIGINT) AS rk
        FROM scored QUALIFY rk <= 10 ORDER BY source, rk"""),
      doc = "Per-domain document cap by quality (corpus-mix curation)."),

    // ------------------------------------------------------------------
    // q116: VOCABULARY COVERAGE CURVE — for tokenizer/vocab design: what
    // fraction of all corpus token OCCURRENCES is covered by the top-K
    // most frequent terms, for a ladder of K. Explode→count is the one
    // corpus-sized pass; everything after runs on the vocab-sized
    // aggregate (the global rank window sorts |V| rows, corpus-
    // independent), and the K ladder is a broadcast of 5 rows. coverage
    // = exact-long covered/total in ONE IEEE division — portable. Only
    // ranks ≤ max(K) matter, so the rank window runs AFTER a
    // distributed top-5000 (TakeOrderedAndProject: per-partition heaps,
    // never a single-task sort of the full vocabulary — the difference
    // between |V| and 5000 rows in one partition at web scale).
    Q("q116_vocab_coverage",
      (s, dir) => {
        import s.implicits._
        val counts = t(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("c"))
        val ranked = counts.orderBy(col("c").desc, col("term")).limit(5000)
          .withColumn("r",
            row_number().over(Window.orderBy(col("c").desc, col("term"))))
        val totals = counts.agg(sum(col("c")).as("total"))
        val ks = Seq(100, 500, 1000, 2000, 5000).toDF("k")
        ranked.join(broadcast(ks), col("r") <= col("k"))
          .groupBy(col("k")).agg(sum(col("c")).as("cov_tokens"))
          .crossJoin(totals)
          .select(col("k").cast("long").as("k"),
            col("cov_tokens"),
            (col("cov_tokens").cast("double") /
              col("total").cast("double")).as("coverage"))
          .orderBy(col("k"))
      },
      Some("""WITH toks AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          FROM documents),
        counts AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        ranked AS (SELECT term, c,
                     row_number() OVER (ORDER BY c DESC, term) AS r
                   FROM counts),
        tot AS (SELECT sum(c) AS total FROM counts),
        ks AS (SELECT unnest([100, 500, 1000, 2000, 5000]) AS k)
        SELECT CAST(k AS BIGINT) AS k,
               CAST(sum(c) AS BIGINT) AS cov_tokens,
               CAST(sum(c) AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM tot)
                 AS coverage
        FROM ranked JOIN ks ON r <= k
        GROUP BY k ORDER BY k"""),
      doc = "Top-K vocabulary coverage of token occurrences (tokenizer sizing)."),

    // ------------------------------------------------------------------
    // q125: PER-SOURCE KL DIVERGENCE TO THE CORPUS UNIGRAM DISTRIBUTION
    // — the data-mixture diagnostic behind domain re-weighting (the
    // DoReMi/Pile-mix family of questions): how far does each source's
    // word distribution sit from the corpus-wide one? KL(P_s‖Q) =
    // Σ_w p_{s,w}·ln(p_{s,w}/q_w), always ≥ 0, and 0 iff the source
    // reads like the corpus. Sources with high KL are the candidates
    // for up/down-weighting review; a source whose KL jumps between
    // snapshots signals a scrape change.
    // Every probability comes from integer counts, so the only doubles
    // are one ratio per (source, word) term and the MathLn on it; each
    // term is QUANTIZED to integer micro-nats (the q89/q90 rule:
    // floor(x·1e4)·100 — fixed boundary, 100× slack against 1-ulp libm
    // drift) BEFORE the per-source fold, making the sum associative and
    // partition-order independent. Dataflow: ONE corpus-sized explode →
    // (source, word)-keyed count shuffle (map-side combinable); the
    // word-marginal and source-marginal re-aggs run on the VOCAB-sized
    // result, not the corpus. The word-marginal join back is
    // deliberately NOT broadcast-hinted (unbounded web vocabulary —
    // q89's reasoning); the source marginal is O(#sources) and the
    // corpus total is a 1-row broadcast. No corpus-sized intermediate
    // after the first agg.
    // The sw frame is MATERIALIZED (localCheckpoint, the q117 MO)
    // because four subtrees reference it and ReuseExchange provably
    // does NOT dedupe them: the join inputs carry inferred IsNotNull
    // pushed filters the marginal subtrees lack, so the exchanges
    // canonicalize differently and the optimizer replans the corpus
    // explode FOUR times (measured: 4 Generate nodes in the executed
    // plan before this). The checkpoint pins it to one corpus pass by
    // construction; PlanSpec asserts no Generate survives downstream.
    // eager = false (r10 ADVICE): construction stays side-effect-free —
    // the one corpus pass runs at the query's FIRST ACTION, not when
    // the registry lambda builds the plan (explain-only consumers
    // used to execute the explode), and all four subtrees
    // share the single lazily-materialized RDD. Fault-tolerance
    // trade-off at 100 TB: localCheckpoint blocks are executor-local
    // (an executor loss fails the query instead of recomputing
    // lineage); a production run at that scale swaps in
    // checkpoint(eager) to reliable storage or persist+count —
    // recorded in SCALING.md's known trade-offs.
    Q("q125_source_kl",
      (s, dir) => {
        val sw = t(s, dir, "documents")
          .select(col("source"), explode(tokens(col("text"))).as("word"))
          .groupBy(col("source"), col("word"))
          .agg(count(lit(1)).as("c_sw"))
          .localCheckpoint(eager = false)
        val wMarg = sw.groupBy(col("word")).agg(sum(col("c_sw")).as("c_w"))
        val sMarg = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
        val corpus = sw.agg(sum(col("c_sw")).as("n_corpus"))
        sw.join(wMarg, Seq("word"))
          .join(broadcast(sMarg), Seq("source"))
          .crossJoin(broadcast(corpus))
          .select(col("source"), col("n_s"),
            (floor((col("c_sw").cast("double") / col("n_s").cast("double"))
              * graft.functions.MathLn.ln(
                (col("c_sw").cast("double") * col("n_corpus").cast("double"))
                  / (col("n_s").cast("double") * col("c_w").cast("double")))
              * 1e4) * 100).as("term_unat"))
          .groupBy(col("source"), col("n_s"))
          .agg(count(lit(1)).as("n_terms"),
            sum(col("term_unat")).as("kl_unat"))
          .select(col("source"), col("n_s").as("n_tokens"), col("n_terms"),
            col("kl_unat"),
            (col("kl_unat").cast("double") / 1e6).as("kl_nats"))
          .orderBy(col("source"))
      },
      Some("""WITH w AS (
          SELECT source,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
          FROM documents),
        sw AS (SELECT source, word, count(*) AS c_sw
               FROM w GROUP BY source, word),
        wm AS (SELECT word, sum(c_sw) AS c_w FROM sw GROUP BY word),
        sm AS (SELECT source, sum(c_sw) AS n_s FROM sw GROUP BY source),
        tot AS (SELECT sum(c_sw) AS n_corpus FROM sw),
        terms AS (
          SELECT sw.source, sm.n_s,
                 CAST(floor((CAST(c_sw AS DOUBLE) / CAST(n_s AS DOUBLE))
                   * ln((CAST(c_sw AS DOUBLE) * CAST(n_corpus AS DOUBLE))
                        / (CAST(n_s AS DOUBLE) * CAST(c_w AS DOUBLE)))
                   * 1e4) AS BIGINT) * 100 AS term_unat
          FROM sw JOIN wm USING (word) JOIN sm USING (source) CROSS JOIN tot)
        SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(sum(term_unat) AS BIGINT) AS kl_unat,
               CAST(sum(term_unat) AS DOUBLE) / 1e6 AS kl_nats
        FROM terms GROUP BY source, n_s ORDER BY source"""),
      doc = "Per-source KL divergence vs corpus unigram LM (mixture diagnostics)."),

    // ------------------------------------------------------------------
    // q126: THE FILTER STACK AS ONE AUDITABLE QUERY — the Dolma/FineWeb-
    // style per-document keep/drop decision with a REASON CODE: length
    // bounds, within-doc 5-gram repetition, byte-entropy gate, composite
    // quality, language check, applied in a fixed precedence ladder
    // (first failing gate names the reason). Every raw signal rides in
    // the output, so the oracle pins the signals exactly, not just the
    // flags — and a curation run gets its drop-reason histogram for
    // free (GROUP BY reason). Every signal is ROW-LOCAL (the within-doc
    // repetition uses distinct-vs-total shingle counts of the doc
    // itself, q51's form, NOT q83's corpus-df form): the whole stack is
    // one map pass over the corpus, no shuffle, no model state — the
    // shape that lets a 100 TB filter run as a side effect of the first
    // read. Thresholds (20..30k tokens, >20% repeated 5-grams, <2.0
    // nats byte entropy, quality µ<400000, predicted≠labeled lang) are
    // the tunable dials; the repetition compare is pure integer
    // ((total−distinct)·5 > total ⟺ dup frac > 0.2), entropy/quality
    // ride in the proven micro-unit quantizations.
    Q("q126_filter_stack",
      (s, dir) => filterStack(t(s, dir, "documents"))
        .orderBy(col("doc_id")),
      {
        // lang argmax chain over the token array `w` (q31's builder)
        val hitExprs = LangMarkers.map { case (lang, markers) =>
          val lst = markers.map(m => s"'$m'").mkString("[", ", ", "]")
          lang -> s"len(list_filter(w, x -> list_contains($lst, x)))"
        }
        val best = hitExprs.map(_._2).mkString("greatest(", ", ", ")")
        val caseChain = hitExprs
          .map { case (lang, e) => s"WHEN $e > 0 AND $e = $best THEN '$lang'" }
          .mkString(" ")
        Some(s"""WITH tk AS (
            SELECT doc_id, lang, text,
                   string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM documents),
          ch AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(hex(encode(text)), '..')) AS b
            FROM documents),
          hist AS (
            SELECT doc_id, b, count(*) AS c FROM ch GROUP BY doc_id, b),
          tot AS (SELECT doc_id, sum(c) AS n FROM hist GROUP BY doc_id),
          folded AS (
            SELECT h.doc_id,
                   list_reduce(
                     list_prepend(0.0, list((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                         * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) ORDER BY b)),
                     (x, y) -> x + y) AS s
            FROM hist h JOIN tot USING (doc_id) GROUP BY h.doc_id, n),
          base AS (
            SELECT t.doc_id, t.lang,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   CAST(greatest(len(w) - 4, 0) AS BIGINT) AS n_shingles,
                   CAST(CASE WHEN len(w) >= 5 THEN
                       len(list_distinct(list_transform(range(1, len(w) - 3),
                         i -> array_to_string(list_slice(w, i, i + 4), ' '))))
                     ELSE 0 END AS BIGINT) AS n_distinct_shingles,
                   CAST(floor((CASE WHEN f.s = 0 OR f.s IS NULL THEN 0.0
                                    ELSE -f.s END) * 1e4) AS BIGINT) * 100
                     AS entropy_unat,
                   CAST(floor(($qualitySqlExpr) * 1000000.0) AS BIGINT) AS qmu,
                   CASE $caseChain ELSE 'und' END AS predicted_lang
            FROM tk t LEFT JOIN folded f USING (doc_id)),
          decided AS (
            SELECT *,
                   CASE WHEN n_tokens < 20 THEN 'too_short'
                        WHEN n_tokens > 30000 THEN 'too_long'
                        WHEN (n_shingles - n_distinct_shingles) * 5 > n_shingles
                          THEN 'repetitive'
                        WHEN entropy_unat < 2000000 THEN 'low_entropy'
                        WHEN qmu < 400000 THEN 'low_quality'
                        WHEN predicted_lang <> lang THEN 'lang_mismatch'
                        ELSE 'keep' END AS reason
            FROM base)
          SELECT doc_id, lang, n_tokens, n_shingles, n_distinct_shingles,
                 entropy_unat, qmu, predicted_lang, reason,
                 (reason = 'keep') AS keep
          FROM decided ORDER BY doc_id""")
      },
      doc = "Row-local filter stack with reason codes (Dolma/FineWeb-style gate)."),

    // ------------------------------------------------------------------
    // q127: PER-SOURCE QUALITY CALIBRATION — raw quality scores are not
    // comparable across domains (length/stopword/punctuation priors
    // differ per source: a mid-tier news page outscores a top-tier code
    // README on prose heuristics), so per-domain percentile RANK is
    // what a cross-source gate actually thresholds (the FineWeb-edu
    // per-domain-gate practice). pct_permille = (rk−1)·1000 div
    // (n_src−1) ∈ [0,1000] is EXACT integer arithmetic end-to-end —
    // rank ties are impossible (doc_id tie-break), the division is
    // truncating in both engines, and no doubles ever cross the gate.
    // Dataflow: one row-local scoring pass, then ONE window partitioned
    // by source (the shard key — bounded by source size, never global;
    // a mega-source calibrates via the q53 approx-quantile twin
    // instead, same thresholds to ±ε). keep_top_half shows the gate a
    // curation run would apply.
    Q("q127_quality_calibrate",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
        val wr = w.orderBy(col("qmu").desc, col("doc_id"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            floor(qualityScoreFused(col("text"), textStats(col("text")))
              * 1000000.0).cast("long").as("qmu"))
          .withColumn("rk", row_number().over(wr).cast("long"))
          .withColumn("n_src", count(lit(1)).over(w))
          .withColumn("pct_permille",
            expr("((rk - 1) * 1000) div greatest(n_src - 1, 1)"))
          .withColumn("keep_top_half", col("pct_permille") < 500)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH scored AS (
          SELECT doc_id, source,
                 CAST(floor(($qualitySqlExpr) * 1000000.0) AS BIGINT) AS qmu
          FROM documents),
        ranked AS (
          SELECT doc_id, source, qmu,
                 CAST(row_number() OVER (PARTITION BY source
                        ORDER BY qmu DESC, doc_id) AS BIGINT) AS rk,
                 CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
          FROM scored)
        SELECT doc_id, source, qmu, rk, n_src,
               CAST(((rk - 1) * 1000) // greatest(n_src - 1, 1) AS BIGINT)
                 AS pct_permille,
               (((rk - 1) * 1000) // greatest(n_src - 1, 1) < 500)
                 AS keep_top_half
        FROM ranked ORDER BY doc_id"""),
      doc = "Per-domain percentile-rank quality calibration (cross-source-comparable gate)."),

    // ------------------------------------------------------------------
    // q129: BPE MERGE APPLICATION — q109's step 2 (Sennrich ACL'16):
    // take the learned top-50 merge list and RE-TOKENIZE every document
    // with it, reporting symbol counts before (characters) and after
    // (BPE tokens) — the operator that prices a tokenizer against a
    // corpus (token count drives training cost and the q92 budget
    // math). The merge table is O(model): 50 rows collected to the
    // driver from q109's vocab-sized pair aggregation (total order
    // cnt DESC, a, b — both engines derive the identical list) and
    // baked into the fused BpeApply expression as a constant — the
    // q110 inlined-model MO. APPLICATION IS ROW-LOCAL: one map pass
    // over the corpus scan, no explode, no join, no shuffle before the
    // output sort — at 100 TB the re-tokenization rides the first
    // read. Merge semantics (GPT-2 convention, exact in both engines):
    // per word, merges in rank order, each one left-to-right non-
    // overlapping over the symbol sequence; the oracle replays it with
    // a chr(31)-prefix-separator string and 50 recursive-CTE replace
    // steps on the DISTINCT vocab, then joins counts back per doc (the
    // oracle may be vocab-sized; the ENGINE side must not be — see
    // BpeApply's scaladoc for why rank-order single-pass is exact for
    // a single-round merge table).
    Q("q129_bpe_apply",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val merges = bpeMergeTable(docs, 50)
        docs.select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
            graft.functions.BpeApply.bpeApply(col("text"), merges).as("st"))
          .select(col("doc_id"), col("n_ws_tokens"),
            col("st.n_chars").as("n_chars"),
            col("st.n_bpe").as("n_bpe_tokens"))
          .withColumn("tokens_saved", col("n_chars") - col("n_bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE tk0 AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
          FROM documents),
        wc AS (SELECT word, count(*) AS wcnt FROM tk0
               WHERE length(word) >= 2 GROUP BY word),
        ix AS (SELECT word, wcnt,
                      unnest(generate_series(1, length(word) - 1)) AS i
               FROM wc),
        pr AS (SELECT substring(word, CAST(i AS INTEGER), 1) AS a,
                      substring(word, CAST(i AS INTEGER) + 1, 1) AS b,
                      wcnt
               FROM ix),
        pc AS (SELECT a, b, sum(wcnt) AS cnt FROM pr GROUP BY a, b),
        merges AS (
          SELECT a, b,
                 CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS BIGINT) AS rnk
          FROM pc QUALIFY rnk <= 50),
        vocab AS (SELECT DISTINCT word FROM tk0 WHERE length(word) > 0),
        steps(word, s, r) AS (
          SELECT word,
                 chr(31) || array_to_string(string_split(word, ''),
                                            chr(30) || chr(31)) || chr(30),
                 0
          FROM vocab
          UNION ALL
          SELECT st.word,
                 replace(st.s,
                         chr(31) || m.a || chr(30) || chr(31) || m.b || chr(30),
                         chr(31) || m.a || m.b || chr(30)),
                 st.r + 1
          FROM steps st JOIN merges m ON m.rnk = st.r + 1),
        fin AS (
          SELECT word,
                 CAST(length(s) - length(replace(s, chr(31), '')) AS BIGINT) AS n_sym
          FROM steps WHERE r = (SELECT count(*) FROM merges)),
        dtk AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
          FROM documents)
        SELECT d.doc_id,
               CAST(count(*) AS BIGINT) AS n_ws_tokens,
               CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
               CAST(sum(coalesce(f.n_sym, 0)) AS BIGINT) AS n_bpe_tokens,
               CAST(sum(length(d.word)) - sum(coalesce(f.n_sym, 0)) AS BIGINT)
                 AS tokens_saved
        FROM dtk d LEFT JOIN fin f ON f.word = d.word
        GROUP BY d.doc_id ORDER BY d.doc_id"""),
      doc = "BPE merge application (q109 step 2): corpus re-tokenization accounting."),

    // ------------------------------------------------------------------
    // q131: TRUE ITERATIVE BPE TRAINING (Sennrich ACL'16, the full
    // loop) — q109 computes one round of pair statistics and q129
    // applies a single-round list; this is the trainer that closes the
    // loop: 16 rounds of (count adjacent symbol pairs over the CURRENT
    // segmentation, weighted by word frequency) → (argmax by the total
    // order cnt DESC, a, b) → (merge all occurrences, canonical
    // left-to-right). Later rounds select pairs INVOLVING merged
    // multi-character symbols — real BPE, not the single-round
    // approximation. Scale shape: the state is the VOCAB-sized
    // (wcnt, segmentation) frame (the q109 scale story — corpus
    // touched once); each round is one small shuffle agg plus ONE
    // argmax row to the driver (the q122 per-round TakeOrdered(1)
    // MO — O(n) driver rows total, model parameters, never data);
    // the merge applies as a codegen'd string `replace` on the
    // bracketed encoding, which is canonical-exact (see BpeApply's
    // scaladoc). The oracle unrolls all 16 stages CTE-for-CTE with
    // the same encoding and replace — the q43 k-means-replay MO —
    // so the entire training TRAJECTORY is value-pinned, not just
    // the final table.
    Q("q131_bpe_train",
      (s, dir) => bpeTrain(t(s, dir, "documents"), 16),
      Some(bpeTrainOracleSql(16)),
      doc = "Distributed iterative BPE training (16 merges): per-round argmax, zero data collect."),

    // ------------------------------------------------------------------
    // q133: TRAINED-TABLE BPE APPLICATION — the composition that closes
    // train→apply into a real tokenizer pipeline: q131's 16-round
    // trainer yields a merge table whose later ranks pair MULTI-
    // CHARACTER symbols; this query re-tokenizes the corpus with that
    // table applied in RANK order — Sennrich's `apply_bpe` convention.
    // Rank-order single-pass-per-merge is EXACT for a UNIQUE-OUTPUT
    // trained table (not just the single-char q129 case): when every
    // merge's concatenated output string is distinct, each symbol has
    // exactly one creating merge, whose rank precedes any merge
    // referencing it, so no later merge can create a new occurrence of
    // an earlier merge's pair — "apply each merge once, in rank order"
    // equals the greedy "always merge the lowest-rank pair present"
    // loop of the reference apply_bpe. The restriction is REAL
    // (round-11 ScalaCheck find): two merges CAN concatenate to one
    // string ((b,bb) early + (bb,b) late both make "bbb"), giving the
    // symbol a second, later creation path that greedy revisits and a
    // single pass cannot — Round11Props pins both the equivalence on
    // unique-output tables and the divergence boundary; TrainingSpec
    // checks the q131 tables this query ACTUALLY trains on the gate
    // corpora are unique-output, and the single pass is the DEFINED,
    // oracle-replayed semantics regardless. Scale shape: the
    // trained table is O(model) — 16 rows collected from the q131
    // trainer (ONE argmax row per round) and baked into the fused
    // BpeApply expression as a constant (the q110 inlined-model MO);
    // application is ROW-LOCAL — one map pass over the corpus scan, no
    // explode, no join, no shuffle before the output sort. The oracle
    // replays the training stage-for-stage (the q131 unrolled CTEs,
    // with `word` carried through the segmentation chain) and then
    // reads each vocab word's final symbol count straight off the
    // trained segmentation frame — application and training share one
    // bracketed-encoding replay, so the oracle pins the COMPOSED
    // trajectory, not just the final counts.
    Q("q133_bpe_train_apply",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val trained = trainedMergePairs(docs, 16)
        docs.select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
            graft.functions.BpeApply.bpeApply(col("text"), trained).as("st"))
          .select(col("doc_id"), col("n_ws_tokens"),
            col("st.n_chars").as("n_chars"),
            col("st.n_bpe").as("n_bpe_tokens"))
          .withColumn("tokens_saved", col("n_chars") - col("n_bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(bpeTrainApplyOracleSql(16)),
      doc = "Trained-table BPE application (q131 table through BpeApply in rank order — Sennrich apply_bpe)."),

    // ------------------------------------------------------------------
    // q134: BPE-TOKEN SEQUENCE PACKING — the composition the q74/q119
    // batch-shape operators were waiting for: q74 packs documents into
    // fixed-budget training chunks by WHITESPACE token counts (the
    // approximation every tokenization-dependent operator used before a
    // trained tokenizer existed); with q131's trainer and q133's
    // rank-order application landed, this prices the SAME packing plan
    // in REAL trained-BPE tokens. Dataflow: train (O(model) driver
    // rows) → row-local BpeApply count per doc → q74's per-source
    // cumulative-sum window (partitioned by the shard key, never
    // global). Chunk counts shift versus q74 exactly where BPE
    // compresses best — the delta a training-cost estimate actually
    // needs. The oracle replays training stage-for-stage, derives each
    // doc's BPE token count from the trained vocab segmentation, and
    // re-runs the q74 packing SQL over those counts.
    Q("q134_bpe_sequence_pack",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val trained = trainedMergePairs(docs, 16)
        val budget = 1024L
        val w = Window.partitionBy(col("source"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs.select(col("source"), col("doc_id"),
            graft.functions.BpeApply.bpeApply(col("text"), trained)
              .getField("n_bpe").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("chunk_id", ((col("cum") - col("n_tok")) / budget)
            .cast("long"))
          .groupBy(col("source"), col("chunk_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("chunk_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("source"), col("chunk_id"))
      },
      Some(bpePackOracleSql(16, 1024L)),
      doc = "Sequence packing priced in trained-BPE tokens (q131 train -> q133 apply -> q74 pack)."),

    // ------------------------------------------------------------------
    // q138: COUNT-MIN FREQUENCY SKETCH — the third classic mergeable
    // sketch next to q86's Misra-Gries (WHICH keys are frequent) and
    // q88's KMV (HOW MANY distinct keys): point-frequency estimates for
    // individual keys in O(d·w) state (Cormode & Muthukrishnan 2005,
    // [[graft.functions.CountMin]], d=4 × w=1024). Every cell is a pure
    // SUM, so unlike Misra-Gries the sketch state is a pure function of
    // the input MULTISET — order/partition/merge-tree independent, no
    // truncation step — which is what lets a sketch sit under the exact
    // hash-equality oracle gate: DuckDB rebuilds the identical counter
    // matrix relationally (GROUP BY row, cell) and derives identical
    // estimates. Dataflow: one token pass folds into ONE 32 KB array
    // per partition (map-side combine — the property that replaces a
    // corpus-sized word→count shuffle at 100 TB when only point
    // estimates are needed); probes are element_at lookups against the
    // broadcast single-row sketch. The exact top-20 (`exact_cnt`, an
    // exact word-count shuffle) is the VERIFICATION fixture — it is
    // what lets the oracle pin the one-sided error (cms_est ≥ exact,
    // overcount ≤ εN); the production candidate source at scale is
    // q86's Misra-Gries summary, not the exact recount.
    Q("q138_countmin",
      (s, dir) => {
        import graft.functions.{CountMin, PolyHash61Str}
        val hashed = t(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("word"))
          .select(col("word"),
            PolyHash61Str.polyHash61Str(col("word")).as("ph"))
        val sketch = hashed.agg(CountMin.countMin(col("ph")).as("cms"))
        val top = hashed.groupBy(col("word"), col("ph"))
          .agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("word")).limit(20)
        top.crossJoin(broadcast(sketch))
          .select(col("word"), col("exact_cnt"),
            CountMin.estimate(col("cms"), col("ph")).as("cms_est"))
          .withColumn("overcount", col("cms_est") - col("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("word"))
      },
      Some(countMinOracleSql),
      doc = "Count-Min point-frequency sketch (Cormode-Muthukrishnan); exact_cnt is the fixture.")
  )

  /** The q138 oracle: rebuild the d×w counter matrix relationally
    * (per-distinct-word hash, cell counts weighted by word frequency —
    * the same multiset the Spark token stream folds), then replay each
    * top-20 probe as a min over its d cells. Inner join is safe: a
    * probed word's own occurrences guarantee every probed cell ≥ 1.
    */
  private def countMinOracleSql: String = {
    import graft.functions.{CountMin, MulMod61}
    val cells = (0 until CountMin.D).map { i =>
      s"SELECT cnt, $i AS row_i, ${CountMin.sqlCell("ph", i)} AS cell FROM h"
    }.mkString("\n          UNION ALL ")
    val probes = (0 until CountMin.D).map { i =>
      s"SELECT word, exact_cnt, $i AS row_i, ${CountMin.sqlCell("ph", i)} AS cell FROM top"
    }.mkString("\n          UNION ALL ")
    s"""WITH w AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents),
      wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt
             FROM w GROUP BY word),
      h AS (SELECT word, cnt, ${MulMod61.sqlPh61("word")} AS ph FROM wc),
      cells AS ($cells),
      sketch AS (
        SELECT row_i, cell, CAST(sum(cnt) AS BIGINT) AS cellcnt
        FROM cells GROUP BY row_i, cell),
      top AS (
        SELECT word, ph, cnt AS exact_cnt FROM h
        ORDER BY exact_cnt DESC, word LIMIT 20),
      probes AS ($probes),
      est AS (
        SELECT word, exact_cnt, min(cellcnt) AS cms_est
        FROM probes JOIN sketch USING (row_i, cell)
        GROUP BY word, exact_cnt)
      SELECT word, exact_cnt, CAST(cms_est AS BIGINT) AS cms_est,
             CAST(cms_est - exact_cnt AS BIGINT) AS overcount
      FROM est ORDER BY exact_cnt DESC, word"""
  }

  /** q133/q134's trained merge table: the q131 trainer's result,
    * COLLECTED in rank order — O(model) driver rows (16 trained merge
    * pairs), never data; baked into the fused BpeApply constant (the
    * q110 inlined-model MO).
    */
  private def trainedMergePairs(docs: DataFrame, n: Int): Seq[(String, String)] =
    bpeTrain(docs, n)
      .select(col("a"), col("b"))
      .collect() // O(model): n trained merge rows, never data
      .toSeq.map(r => (r.getString(0), r.getString(1)))

  /** The q126 filter stack as a library entry point over any (doc_id,
    * lang, text) frame: every raw signal plus the fixed-precedence
    * reason ladder, fully ROW-LOCAL — which is what lets the SAME
    * function run as a batch query (q126) and as a per-micro-batch map
    * on the streaming ingest path ([[graft.streaming.DocStream
    * .filterStream]]) with provably identical labels (DocStreamSpec
    * pins stream == batch row-for-row).
    */
  def filterStack(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        greatest(size(tokens(col("text"))).cast("long") - 4L, lit(0L))
          .as("n_shingles"),
        size(shingleSet(col("text"), 5)).cast("long")
          .as("n_distinct_shingles"),
        (floor(graft.functions.ByteEntropy.byteEntropy(col("text"))
          * 1e4) * 100).as("entropy_unat"),
        floor(qualityScoreFused(col("text"), textStats(col("text")))
          * 1000000.0).cast("long").as("qmu"),
        langIdFused(col("text")).as("predicted_lang"))
      .withColumn("reason",
        when(col("n_tokens") < 20, "too_short")
          .when(col("n_tokens") > 30000, "too_long")
          .when((col("n_shingles") - col("n_distinct_shingles")) * 5
            > col("n_shingles"), "repetitive")
          .when(col("entropy_unat") < 2000000L, "low_entropy")
          .when(col("qmu") < 400000L, "low_quality")
          .when(col("predicted_lang") =!= col("lang"), "lang_mismatch")
          .otherwise("keep"))
      .withColumn("keep", col("reason") === "keep")

  // Bracketed symbol encoding shared by q129's oracle and q131's
  // trainer (BOTH engines): every symbol is chr(31)+sym+chr(30). Two
  // DISTINCT brackets make merge-pattern occurrences char-disjoint
  // (non-overlapping replace = canonical left-to-right single pass)
  // and prefix matches into longer symbols impossible (the pattern
  // ends with the closing bracket) — see BpeApply's scaladoc for the
  // measured failure modes of one-sided/single-separator encodings.
  private val BrO = "\u001f"
  private val BrC = "\u001e"

  /** Encode a word as a bracketed single-character symbol string. */
  private def encodeSeg(word: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(word, "(.)", BrO + "$1" + BrC)

  /** TRUE iterative BPE training (q131): `n` rounds of count-argmax-
    * merge over the word-frequency table, fully DISTRIBUTED — the
    * per-round state is the vocab-sized segmentation frame, the only
    * driver traffic is ONE argmax row per round (the q122 per-round
    * TakeOrdered(1) MO), and each merge applies as a codegen'd
    * `replace` on the bracketed segmentation string (identical
    * operation in the DuckDB oracle, which unrolls all rounds
    * stage-for-stage — the q43 k-means-replay MO). Returns the learned
    * merge table (rank, a, b, cnt-at-selection).
    */
  private[operators] def bpeTrain(docs: DataFrame, n: Int): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.Row
    // The r14 `coalesce(1)` that sat here (making every round's
    // pair-count groupBy plan exchange-free via SinglePartition) was a
    // measured REGRESSION (r14 driver bench: q131/q133/q134 1.3-1.5×
    // slower at 32 cores, 8-core runs FASTER than 32 — the serialized-
    // work signature): the removed exchange was a one-partition
    // shuffle of model-scale rows (~ms), but the coalesce also ran
    // each round's explode+pair-count map side as ONE task. Removed
    // (r15): the vocab checkpoint stays (one tokenize+count pass
    // shared by all rounds), the per-round pair-count keeps its tiny
    // exchange, and the map side keeps the checkpoint's partitioning.
    var seg = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
      .select(col("wcnt"), encodeSeg(col("word")).as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < n && !exhausted) {
      // adjacent-pair extraction. The symbol array is MATERIALIZED as a
      // column in its own projection BEFORE the lambda references it:
      // transform() is interpreted (no codegen, no common-subexpression
      // elimination), so a split subtree embedded in the lambda would
      // re-split the whole bracketed string once per element —
      // O(word_len²) per vocab row per round, which turns a single 60k
      // char unbroken token (minified blob) into an hours-long training
      // round (caught by TotalitySweep row `uniform`). As an attribute, the split
      // runs once per row and element_at is an O(1) array read.
      // Guard size>=2 (Spark's sequence(1,0) DESCENDS instead of
      // returning empty).
      val pairs = when(size(col("syms")) >= 2,
        transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val top: Array[Row] = seg
        .select(col("wcnt"),
          split(expr("substring(s, 2, length(s) - 2)"), BrC + BrO)
            .as("syms"))
        .select(col("wcnt"), explode(pairs).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wcnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect() // ONE row per round — model parameters, never data
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((a, b, cnt))
        seg = seg.withColumn("s",
          replace(col("s"), lit(BrO + a + BrC + BrO + b + BrC),
            lit(BrO + a + b + BrC)))
        // keep the lineage shallow across rounds
        if ((r + 1) % 4 == 0) seg = seg.localCheckpoint()
      }
      r += 1
    }
    import spark.implicits._
    merges.toSeq.zipWithIndex
      .map { case ((a, b, c), i) => (i + 1L, a, b, c) }
      .toDF("rank", "a", "b", "cnt")
      .orderBy(col("rank"))
  }

  /** The q131 oracle: `n` unrolled (segment → pair-count → argmax →
    * replace) stages in DuckDB, sharing the bracketed encoding and the
    * (cnt DESC, a, b) total order with the Spark trainer.
    */
  private def bpeTrainOracleSql(n: Int): String = {
    val enc = s"regexp_replace(word, '(.)', chr(31) || '\\1' || chr(30), 'g')"
    // every stage CTE is MATERIALIZED: DuckDB inlines single-reference
    // CTEs, and each v_{i+1} references v_i and m_i several times — an
    // inlined chain re-expands EXPONENTIALLY across 16 stages (first
    // run died with fd exhaustion from ~5^16 duplicated scans)
    val stages = (0 until n).map { i =>
      s"""p$i AS MATERIALIZED (
        SELECT L[j] AS a, L[j + 1] AS b, sum(wcnt) AS cnt
        FROM (
          SELECT wcnt, L, unnest(range(1, len(L))) AS j
          FROM (
            SELECT wcnt,
                   string_split(substring(s, 2, length(s) - 2),
                                chr(30) || chr(31)) AS L
            FROM v$i WHERE length(s) > 2) t1) t2
        GROUP BY a, b),
      m$i AS MATERIALIZED (
        SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
      v${i + 1} AS MATERIALIZED (
        SELECT wcnt,
               replace(s,
                 chr(31) || (SELECT a FROM m$i) || chr(30) ||
                   chr(31) || (SELECT b FROM m$i) || chr(30),
                 chr(31) || (SELECT a FROM m$i) ||
                   (SELECT b FROM m$i) || chr(30)) AS s
        FROM v$i)"""
    }.mkString(",\n      ")
    val out = (0 until n)
      .map(i => s"SELECT CAST(${i + 1} AS BIGINT) AS rank, a, b, CAST(cnt AS BIGINT) AS cnt FROM m$i")
      .mkString("\n        UNION ALL ")
    s"""WITH tk0 AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents),
      wc AS (SELECT word, count(*) AS wcnt FROM tk0 GROUP BY word),
      v0 AS MATERIALIZED (SELECT wcnt, $enc AS s FROM wc),
      $stages
      SELECT * FROM ($out) ORDER BY rank"""
  }

  /** The shared WITH-prefix of the q133/q134 oracles: the q131
    * training replay (same `n` unrolled MATERIALIZED stages, same
    * bracketed encoding and (cnt DESC, a, b) total order) with `word`
    * carried through the segmentation chain, so the final frame v_n IS
    * the trained tokenization of the vocab; `fin` exposes each word's
    * post-merge symbol count (the opening brackets left in its
    * segmentation string). Consumers append their own per-doc joins.
    */
  private[operators] def bpeTrainedSegSql(n: Int): String = {
    val enc = s"regexp_replace(word, '(.)', chr(31) || '\\1' || chr(30), 'g')"
    // MATERIALIZED for the same reason as bpeTrainOracleSql: inlined
    // single-reference CTEs re-expand exponentially across the stages
    val stages = (0 until n).map { i =>
      s"""p$i AS MATERIALIZED (
        SELECT L[j] AS a, L[j + 1] AS b, sum(wcnt) AS cnt
        FROM (
          SELECT wcnt, L, unnest(range(1, len(L))) AS j
          FROM (
            SELECT wcnt,
                   string_split(substring(s, 2, length(s) - 2),
                                chr(30) || chr(31)) AS L
            FROM v$i WHERE length(s) > 2) t1) t2
        GROUP BY a, b),
      m$i AS MATERIALIZED (
        SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
      v${i + 1} AS MATERIALIZED (
        SELECT word, wcnt,
               replace(s,
                 chr(31) || (SELECT a FROM m$i) || chr(30) ||
                   chr(31) || (SELECT b FROM m$i) || chr(30),
                 chr(31) || (SELECT a FROM m$i) ||
                   (SELECT b FROM m$i) || chr(30)) AS s
        FROM v$i)"""
    }.mkString(",\n      ")
    s"""tk0 AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents),
      wc AS (SELECT word, count(*) AS wcnt FROM tk0 GROUP BY word),
      v0 AS MATERIALIZED (SELECT word, wcnt, $enc AS s FROM wc),
      $stages,
      fin AS (
        SELECT word,
               CAST(length(s) - length(replace(s, chr(31), '')) AS BIGINT)
                 AS n_sym
        FROM v$n)"""
  }

  /** The q133 oracle: [[bpeTrainedSegSql]] + per-doc counts joined back
    * to the token stream (the oracle may be vocab-joined; the ENGINE
    * side is row-local — see q133's doc).
    */
  private def bpeTrainApplyOracleSql(n: Int): String =
    s"""WITH ${bpeTrainedSegSql(n)},
      dtk AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents)
      SELECT d.doc_id,
             CAST(count(*) AS BIGINT) AS n_ws_tokens,
             CAST(sum(length(d.word)) AS BIGINT) AS n_chars,
             CAST(sum(coalesce(f.n_sym, 0)) AS BIGINT) AS n_bpe_tokens,
             CAST(sum(length(d.word)) - sum(coalesce(f.n_sym, 0)) AS BIGINT)
               AS tokens_saved
      FROM dtk d LEFT JOIN fin f ON f.word = d.word
      GROUP BY d.doc_id ORDER BY d.doc_id"""

  /** The q134 oracle: [[bpeTrainedSegSql]] → per-doc BPE token counts →
    * the q74 per-source packing replay over them.
    */
  private def bpePackOracleSql(n: Int, budget: Long): String =
    s"""WITH ${bpeTrainedSegSql(n)},
      dtk AS (
        SELECT doc_id, source,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
        FROM documents),
      docbpe AS (
        SELECT d.doc_id, any_value(d.source) AS source,
               CAST(sum(coalesce(f.n_sym, 0)) AS BIGINT) AS n_tok
        FROM dtk d LEFT JOIN fin f ON f.word = d.word
        GROUP BY d.doc_id),
      packed AS (
        SELECT source, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM docbpe)
      SELECT source,
             CAST((cum - n_tok) // $budget AS BIGINT) AS chunk_id,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS chunk_tokens,
             CAST(min(doc_id) AS BIGINT) AS first_doc,
             CAST(max(doc_id) AS BIGINT) AS last_doc
      FROM packed GROUP BY source, chunk_id
      ORDER BY source, chunk_id"""

  /** q129's merge table: q109's pair aggregation, top-`topN` by the
    * total order (cnt DESC, a, b), COLLECTED — O(model) driver rows
    * (50 single-char pairs), never data; the DuckDB oracle derives the
    * identical list from the same total order.
    */
  private def bpeMergeTable(docs: DataFrame, topN: Int): Seq[(String, String)] =
    docs.select(explode(tokens(col("text"))).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))
      .select(col("wcnt"), col("word"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(col("word").substr(col("i"), lit(1)).as("a"),
        col("word").substr(col("i") + lit(1), lit(1)).as("b"),
        col("wcnt"))
      .groupBy(col("a"), col("b")).agg(sum(col("wcnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(topN)
      .select(col("a"), col("b"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
}
