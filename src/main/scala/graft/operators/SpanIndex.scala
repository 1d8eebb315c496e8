package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Layout

/** The persisted side of incremental EXACT-SUBSTRING dedup — q128's
  * [[DedupIndex]] analogue, completing the per-tier story: every dedup
  * tier (whole-doc near-dup via the band index, exact spans via this)
  * has an O(batch) ingest path against durable state.
  *
  * The index holds one row per (fingerprint, doc_id) — the winnowed
  * 40-gram fingerprints of every admitted document — BUCKETED on the
  * probe join key (fingerprint), so an ingest batch computes only its
  * own fingerprints and equi-joins them against the index with the
  * corpus side read in place (no re-exchange; SpanIndexSpec asserts it
  * from the physical plan, the DedupIndexSpec MO). Candidates then
  * verify with the exact [[graft.functions.SharedSpan]] kernel against
  * only the docs the probe surfaced.
  *
  * The winnowing guarantee carries over unchanged: a new document
  * sharing a ≥ [[DedupQueries.SpanTokens]]-token run with ANY admitted
  * document shares at least one selected fingerprint with it, so the
  * probe has no false negatives; SharedSpan kills false positives.
  */
object SpanIndex {

  /** Build and persist the fingerprint index for `docs` (doc_id, text),
    * bucketed and per-bucket sorted on fp. `gramK`/`winnowW` default to
    * the q128 exact-substring configuration; the q132 eval-side index
    * passes the [[TrainingQueries.DecontamGramK]] family instead.
    */
  def write(docs: DataFrame, table: String, nBuckets: Int,
      gramK: Int = DedupQueries.SpanGramK,
      winnowW: Int = DedupQueries.SpanWinnowW): Unit =
    Layout.writeBucketed(fingerprints(docs, gramK, winnowW), table, nBuckets,
      "fp")

  /** (doc_id, fp) winnowed fingerprints for any (doc_id, text) frame —
    * the q128 candidate key, distinct per document by construction.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    fingerprints(docs, DedupQueries.SpanGramK, DedupQueries.SpanWinnowW)

  /** Parameterized fingerprint stream: winnowed `gramK`-gram
    * fingerprints with window `winnowW` — detection guaranteed for any
    * shared run of ≥ gramK+winnowW−1 tokens.
    */
  def fingerprints(docs: DataFrame, gramK: Int, winnowW: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.WinnowFingerprints.winnow(col("text"),
        gramK, winnowW)).as("fp"))

  /** Probe the persisted index with a new batch: distinct candidate
    * (new_id, corpus_id) pairs sharing a fingerprint. Only the batch
    * side shuffles.
    */
  def probeCandidates(spark: SparkSession, table: String,
      newDocs: DataFrame): DataFrame = {
    val fresh = fingerprints(newDocs)
      .select(col("fp"), col("doc_id").as("new_id"))
    spark.table(table)
      .select(col("fp"), col("doc_id").as("corpus_id"))
      .join(fresh, Seq("fp"))
      .select(col("new_id"), col("corpus_id")).distinct()
  }

  /** Incremental exact-substring flags for a new batch against the
    * admitted corpus: probe → SharedSpan verify → earliest admitted
    * sharer, the q128 output convention ((doc_id, n_tokens,
    * is_exact_dup, dup_of) with -1 when clean). Cost is O(batch +
    * candidates) — the corpus is touched only for candidate rows.
    */
  def flagIncremental(spark: SparkSession, table: String,
      corpusDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val base = newDocs.select(col("doc_id"), col("text"))
    flagCandidates(probeCandidates(spark, table, base), corpusDocs, base)
      .orderBy(col("doc_id"))
  }

  /** The verify-and-flag step of [[flagIncremental]] over any candidate
    * (new_id, corpus_id) frame: SharedSpan verify against `corpusDocs`,
    * earliest verified sharer, then the q128 flags for every row of
    * `base` (doc_id, text), unordered. The span stream calls it with
    * candidates from the base index and its deltas.
    */
  def flagCandidates(cand: DataFrame, corpusDocs: DataFrame,
      base: DataFrame): DataFrame = {
    val verified = cand
      .join(base.select(col("doc_id").as("new_id"), col("text").as("b_text")),
        Seq("new_id"))
      .join(corpusDocs.select(col("doc_id").as("corpus_id"),
          col("text").as("a_text")),
        Seq("corpus_id"))
      .filter(graft.functions.SharedSpan.sharedSpan(col("a_text"),
        col("b_text"), DedupQueries.SpanTokens))
      .groupBy(col("new_id")).agg(min(col("corpus_id")).as("dup_of"))
    base.select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"))
      .join(verified.withColumnRenamed("new_id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        col("dup_of").isNotNull.cast("int").as("is_exact_dup"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
  }

  /** Persist the EVAL side of q132's span-fraction decontamination as a
    * fingerprint index — the benchmark set rarely changes, so indexing
    * IT (not the corpus) is what makes per-batch decontamination
    * O(batch): every ingest batch computes only its own winnowed
    * [[TrainingQueries.DecontamGramK]]-gram fingerprints and probes the
    * persisted, fp-bucketed eval table with the index side read in
    * place. Rebuild only when the benchmark suite itself changes.
    */
  def writeEvalIndex(evalDocs: DataFrame, table: String,
      nBuckets: Int): Unit =
    write(evalDocs, table, nBuckets,
      TrainingQueries.DecontamGramK, TrainingQueries.DecontamWinnowW)

  /** Incremental q132: span-fraction eval decontamination for an
    * ingest batch against the persisted eval index. Probe (only the
    * batch side shuffles — the winnowing guarantee makes it
    * false-negative-free at [[TrainingQueries.DecontamTokens]] = 13
    * tokens) → per-doc matched-eval-text fold (the eval set is
    * benchmark-sized, so the text join broadcasts) → ONE fused
    * SharedCoverage pass → the exact q132 output convention
    * (n_eval_tokens, eval_frac, integer-cross-multiplied 5% gate).
    * Because decontamination is train-vs-eval only (no batch-internal
    * pairs exist by definition), the incremental result over a batch
    * EQUALS the full-recompute q132 restricted to that batch's docs —
    * pinned by SpanIndexSpec.
    */
  def decontaminateIncremental(spark: SparkSession, table: String,
      evalDocs: DataFrame, batchDocs: DataFrame): DataFrame = {
    val base = batchDocs.select(col("doc_id"), col("text"))
    val cand = spark.table(table)
      .select(col("fp"), col("doc_id").as("e_id"))
      .join(fingerprints(base, TrainingQueries.DecontamGramK,
          TrainingQueries.DecontamWinnowW)
        .select(col("fp"), col("doc_id").as("t_id")), Seq("fp"))
      .select(col("t_id"), col("e_id")).distinct()
    val partners = cand
      .join(broadcast(evalDocs
          .select(col("doc_id").as("e_id"), col("text").as("e_text"))),
        Seq("e_id"))
      .groupBy(col("t_id"))
      .agg(collect_list(col("e_text")).as("ev"))
    base
      .join(partners.withColumnRenamed("t_id", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"),
        when(col("ev").isNull, lit(0L))
          .otherwise(graft.functions.SharedCoverage
            .sharedCoverage(col("text"), col("ev"),
              TrainingQueries.DecontamTokens))
          .as("n_eval_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_eval_tokens"),
        (col("n_eval_tokens").cast("double")
          / col("n_tokens").cast("double")).as("eval_frac"),
        (col("n_eval_tokens") * 1000L > col("n_tokens") * 50L)
          .cast("int").as("is_contaminated"))
      .orderBy(col("doc_id"))
  }
}
