package graft.corpus

import graft.functions.TextFunctions
import graft.functions.UnicodeNorm
import graft.operators.{CanonicalMap, DataSplit, DedupCluster, DedupIndex, DedupQueries, Materialize, SpanIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation — the LLM-pipeline analogue of
  * the warehouse's `Pipeline.run`: one call composes the individually
  * oracle-checked operators into the standard assembly line
  *
  *   normalize → quality gate → classifier sample (opt-in) →
  *   exact dedup → near-dup resolution → exact-substring dedup →
  *   decontaminate → mix → split → pack
  *
  * Every stage is the same dataflow its registry query runs (q72, q30,
  * q135→q136 classifier-Pareto, q33, q36+q85 keep-best, q128, q50,
  * q73, q45, q74), so each is
  * value-verified by the DuckDB gate in isolation; CorpusPrepSpec
  * verifies the composition
  * (stage accounting, end-state invariants). The plain doc-id hash
  * split (stage 7) is sound HERE because stage 4 already removed every
  * verified near-dup — q120_split_leakage audits exactly that
  * assumption, and a pipeline that retains near-dups (no keep-best
  * stage) should split by cluster canonical instead
  * (q121_dedup_aware_split). Scale posture per stage is
  * documented in SCALING.md — nothing here shuffles more than its
  * registry twin.
  *
  * @param minQuality      quality-score gate (q30's score; 0 disables)
  * @param classifierSample learned curation gate (q135→q136): train the
  *                        quantized-gradient quality classifier on the
  *                        gated corpus (weak labels from curated
  *                        sources), score row-locally, keep iff the
  *                        Pareto(9) draw admits — GPT-3's soft,
  *                        long-tailed sampling where the hard threshold
  *                        above is binary. Uses the q137 production
  *                        features when the frame carries `lang`, the
  *                        trio otherwise. Off by default.
  * @param classifierWeights frozen trained model for [[CorpusPrep
  *                        .ingestBatch]]'s learned gate: a production
  *                        ingest path trains ONCE at the periodic full
  *                        rebuild ([[graft.operators.TrainingQueries
  *                        .qcTrain]]), freezes the weights, and applies
  *                        them per batch — the same deployment shape as
  *                        `DocStream.scoreStream`. Dimension selects
  *                        the featurizer (4 → trio, 7 → q137 full).
  *                        None disables the stage (pass-through).
  *                        Ignored by [[CorpusPrep.run]], which trains
  *                        fresh on its own corpus (`classifierSample`).
  * @param nearDupJaccard  verified-Jaccard threshold for near-dup edges
  * @param spanDedup       drop docs sharing an exact ≥50-token run with
  *                        an earlier doc (q128, Lee et al. 2022) — the
  *                        tier whole-doc near-dup cannot see
  * @param decontamShingleK n-gram size for eval-overlap contamination
  * @param mixQuotasPpm    per-source keep quotas (ppm); empty = keep all
  * @param packBudget      tokens per training chunk
  * @param trainPct/valPct hash-split proportions (rest = test)
  */
final case class CorpusPrepConfig(
    minQuality: Double = 0.3,
    classifierSample: Boolean = false,
    classifierWeights: Option[Array[Double]] = None,
    nearDupJaccard: Double = 0.8,
    spanDedup: Boolean = true,
    decontamShingleK: Int = 5,
    mixQuotasPpm: Map[String, Long] = Map.empty,
    packBudget: Long = 1024L,
    trainPct: Int = 80,
    valPct: Int = 10)

object CorpusPrep {

  /** One row per pipeline stage: rows surviving after it ran. */
  final case class StageCount(stage: String, rows: Long)

  /** The stage chain [[run]] and [[ingestBatch]] compose. Each stage is
    * materialized once by [[Materialize]], its row count observed in that
    * same job, and the previous stage's checkpoint is released right
    * after: the new checkpoint cut the lineage, so nothing reads the old
    * one any more. A stage that returns the previous stage's frame itself
    * (a disabled gate or mix) passes straight through with the previous
    * count; it runs no job and releases nothing. The last stage is the
    * caller's result, so a run leaves nothing in the CacheManager and
    * pins only that checkpoint, whose blocks the ContextCleaner frees
    * once the caller drops it.
    */
  private final class Stages {
    private val built = Seq.newBuilder[StageCount]
    private var prev: DataFrame = null
    private var prevRows = 0L

    def apply(name: String, df: DataFrame): DataFrame = {
      if (!(df eq prev)) {
        val (ck, m) = Materialize(df, count(lit(1)))
        if (prev != null) Materialize.release(prev)
        prev = ck
        prevRows = m.getLong(0)
      }
      built += StageCount(name, prevRows)
      prev
    }

    def counts: Seq[StageCount] = built.result()
  }

  /** Run the full preparation pipeline.
    *
    * @param docs  corpus with (doc_id, text, source) columns
    * @param eval  held-out benchmark docs (doc_id, text) to
    *              decontaminate against; None skips the stage
    * @return (prepared corpus, per-stage accounting). The prepared
    *         corpus carries the original columns plus `split`
    *         (train/val/test) and `chunk_id` (per-(source, split) packing).
    */
  def run(docs: DataFrame, eval: Option[DataFrame],
      cfg: CorpusPrepConfig = CorpusPrepConfig()): (DataFrame, Seq[StageCount]) = {
    val stage = new Stages

    val input = stage("input", docs)

    // 1. normalize: NFC canonical composition, so byte-level dedup and
    // shingling below see one representation per string
    val normalized = stage("normalize",
      input.withColumn("text", UnicodeNorm.nfcNormalize(col("text"))))

    // 2. quality gate (row-local score, no shuffle)
    val gated = stage("quality_gate",
      if (cfg.minQuality <= 0.0) normalized
      else normalized.filter(
        TextFunctions.qualityScoreFused(col("text"),
          TextFunctions.textStats(col("text"))) >= cfg.minQuality))

    // 2b. learned curation gate (q135→q136, GPT-3's order: classifier
    // sampling BEFORE dedup): train the quantized-gradient classifier
    // on the gated corpus, score row-locally, keep iff the Pareto(9)
    // draw admits — retains most high-scorers plus a long tail of
    // low-scorers, which the binary threshold above cannot express.
    // Training is O(rounds) one-row aggregates; the decision is a pure
    // function of the row, so the stage is one broadcast-free filter
    // pass. Production features (q137) when the frame carries lang.
    val classified = stage("classifier_sample",
      if (!cfg.classifierSample) gated
      else {
        val kept = graft.operators.TrainingQueries
          .paretoSample(gated, graft.operators.TrainingQueries.QcRounds,
            fullFeatures = gated.columns.contains("lang"))
          .filter(col("kept") === 1L)
          .select(col("doc_id"))
        gated.join(kept, Seq("doc_id"))
      })

    // 3. exact dedup: one shuffle on the content digest, keep min id
    val exactKeep = classified
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exact = stage("exact_dedup", classified.join(exactKeep, Seq("doc_id")))

    // 4. near-dup resolution: LSH candidates → verified Jaccard edges →
    // connected components → keep the BEST copy per cluster (q85's
    // semantics: argmax quality score, tie → lower doc_id). Near-dup
    // members differ in small ways — truncation, boilerplate, junk —
    // so the survivor should be the highest-quality copy, not an
    // arbitrary id. Scoring is row-local; the window groups are
    // near-dup clusters, bounded by construction.
    val edges = DedupQueries.lshVerifiedPairs(exact)
      .filter(col("jaccard") >= cfg.nearDupJaccard)
    val scored = exact.select(col("doc_id"),
      TextFunctions.qualityScoreFused(col("text"),
        TextFunctions.textStats(col("text"))).as("q"))
    val keepW = Window.partitionBy(col("canonical_id"))
      .orderBy(col("q").desc, col("doc_id"))
    val losers = DedupCluster.resolve(edges)
      .select(col("id").as("doc_id"), col("canonical_id"))
      .join(scored, Seq("doc_id"))
      .withColumn("rn", row_number().over(keepW))
      .filter(col("rn") > 1)
      .select(col("doc_id"))
    val nearDeduped = stage("near_dedup",
      exact.join(losers, Seq("doc_id"), "left_anti"))

    // 4b. exact-substring dedup (q128's dataflow): drop docs sharing an
    // exact ≥50-token contiguous run with an earlier doc — syndicated
    // passages and quoted boilerplate invisible to whole-doc Jaccard.
    // Removing every flagged doc leaves ZERO cross-span pairs: any
    // surviving pair (x < y) would have flagged y against the earlier
    // x, flagged or not (CorpusPrepSpec asserts the end state).
    val spanDeduped = stage("span_dedup",
      if (!cfg.spanDedup) nearDeduped
      else {
        val dupIds = DedupQueries.exactSubstringFlags(nearDeduped)
          .filter(col("is_exact_dup") === 1).select(col("doc_id"))
        nearDeduped.join(dupIds, Seq("doc_id"), "left_anti")
      })

    // 5. decontamination: drop docs sharing any k-gram with the eval
    // set (shuffle on the shingle key, never doc×doc)
    val decontaminated = stage("decontaminate", eval match {
      case None => spanDeduped
      case Some(ev) =>
        val trainSh = spanDeduped.select(col("doc_id"),
          explode(graft.functions.Shingles.shingles(col("text"),
            cfg.decontamShingleK)).as("sh"))
        val evalSh = ev.select(
          explode(graft.functions.Shingles.shingles(col("text"),
            cfg.decontamShingleK)).as("sh")).distinct()
        val contaminated = trainSh.join(evalSh, Seq("sh"))
          .select(col("doc_id")).distinct()
        spanDeduped.join(contaminated, Seq("doc_id"), "left_anti")
    })

    // 6. mix: per-source ppm quotas (broadcast dim; deterministic,
    // monotone in quota)
    val mixed = stage("mix",
      if (cfg.mixQuotasPpm.isEmpty) decontaminated
      else DataSplit.mixSample(decontaminated, cfg.mixQuotasPpm))

    // 7. split: hash-derived membership, stable under corpus growth
    val split = mixed.withColumn("split",
      DataSplit.byHash(col("doc_id"), cfg.trainPct, cfg.valPct))

    // 8. pack: per-(source, split) fixed-budget chunking — the window
    // partitions by the shard key, never global, and includes the split
    // label so no chunk_id ever spans train/val/test (a chunk is a
    // training unit; mixing splits inside one would leak eval data)
    val w = Window.partitionBy(col("source"), col("split"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nTok = size(TextFunctions.tokens(col("text"))).cast("long")
    val packed = stage("pack",
      split.withColumn("n_tok", nTok)
        .withColumn("chunk_id",
          ((sum(col("n_tok")).over(w) - col("n_tok")) / cfg.packBudget)
            .cast("long")))

    (packed, stage.counts)
  }

  /** Incremental ingest — [[run]]'s O(batch) production counterpart:
    * instead of re-running the full pipeline over corpus ∪ batch, a new
    * batch is driven through the three PERSISTED dedup artifacts the
    * library maintains between full rebuilds:
    *
    *   1. normalize + quality gate (row-local, identical to [[run]]),
    *      then the learned gate with the FROZEN weights the last full
    *      rebuild trained (`cfg.classifierWeights`; pass-through when
    *      None) — score + Pareto draw are row-local, so the deployed
    *      model rides the batch scan;
    *   2. batch-internal exact dedup (digest min-id — within the batch
    *      only; batch-vs-corpus exact dups verify at Jaccard 1.0 in the
    *      next stage);
    *   3. near-dup vs the admitted corpus: probe the persisted
    *      [[DedupIndex]] band index (only the batch shuffles), verify
    *      candidates exactly, DROP every batch doc matching an admitted
    *      doc at ≥ nearDupJaccard — the admitted copy is the immutable
    *      keeper (first-wins; [[run]]'s keep-best applies at the
    *      periodic full rebuild, where both copies are in play);
    *   4. exact-substring vs the admitted corpus: [[SpanIndex
    *      .flagIncremental]], drop flagged (Lee et al. first-occurrence
    *      convention);
    *   5. split assignment through the persisted [[CanonicalMap]]
    *      (bucketed map join): survivors carry no map row, so they are
    *      their own canonical under the SAME split rule as the admitted
    *      corpus — and because ingest never writes any of the three
    *      artifacts, no admitted document's canonical (hence split) can
    *      move — the q120 no-migration invariant by construction.
    *
    * Batch-INTERNAL near-dup/span pairs are deliberately left to the
    * periodic full rebuild (the q71/[[graft.streaming.DocStream]]
    * convention). CorpusPrepSpec pins the composition: end-state
    * cross-span/cross-near-dup cleanliness, admitted-split immutability,
    * and the exchange-free index sides of all three probes.
    *
    * @param corpusDocs admitted corpus (doc_id, text, …) backing the
    *                   three artifacts; ids disjoint from the batch
    * @return (admitted batch docs with `split`, per-stage accounting)
    */
  def ingestBatch(corpusDocs: DataFrame, batch: DataFrame,
      bandIndexTable: String, spanIndexTable: String, mapTable: String,
      cfg: CorpusPrepConfig = CorpusPrepConfig()): (DataFrame, Seq[StageCount]) = {
    val spark = batch.sparkSession
    val stage = new Stages

    val input = stage("input", batch)
    val normalized = stage("normalize",
      input.withColumn("text", UnicodeNorm.nfcNormalize(col("text"))))
    val gated = stage("quality_gate",
      if (cfg.minQuality <= 0.0) normalized
      else normalized.filter(
        TextFunctions.qualityScoreFused(col("text"),
          TextFunctions.textStats(col("text"))) >= cfg.minQuality))

    // 2b. learned curation gate, FROZEN-model form: [[run]] trains
    // fresh at each full rebuild; the ingest path applies the weights
    // that rebuild froze (the scoreStream deployment shape). Row-local
    // score + draw, so the stage costs one map over the batch plus the
    // doc_id semi-join — O(batch), like every other ingest tier.
    val classified = stage("classifier_sample",
      cfg.classifierWeights match {
        case None => gated
        case Some(w) =>
          val kept = graft.operators.TrainingQueries.paretoApply(gated, w)
            .filter(col("kept") === 1L)
            .select(col("doc_id"))
          gated.join(kept, Seq("doc_id"))
      })

    val exactKeep = classified
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exact = stage("exact_dedup", classified.join(exactKeep, Seq("doc_id")))

    val cand = DedupIndex.probeCandidates(spark, bandIndexTable, exact)
    val dupNew = DedupQueries.verifyCandidates(cand, exact, corpusDocs)
      .filter(col("jaccard") >= cfg.nearDupJaccard)
      .select(col("new_id").as("doc_id")).distinct()
    val nearDeduped = stage("near_dedup",
      exact.join(dupNew, Seq("doc_id"), "left_anti"))

    val spanDeduped = stage("span_dedup",
      if (!cfg.spanDedup) nearDeduped
      else {
        val flagged = SpanIndex
          .flagIncremental(spark, spanIndexTable, corpusDocs, nearDeduped)
          .filter(col("is_exact_dup") === 1).select(col("doc_id"))
        nearDeduped.join(flagged, Seq("doc_id"), "left_anti")
      })

    val admitted = stage("split",
      spanDeduped.join(
        CanonicalMap.assignSplits(spark, mapTable, spanDeduped)
          .select(col("doc_id"), col("split")),
        Seq("doc_id")))

    (admitted, stage.counts)
  }
}
