package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.operators.{DedupIndex, DedupQueries, SpanIndex}

/** Structured Streaming over a document feed — the streaming face of the
  * incremental-dedup pipeline (q71/[[DedupIndex]]).
  *
  * The design choice that matters at 100 TB: dedup state does NOT live
  * in executor state-store memory (a `flatMapGroupsWithState` over
  * (band, bucket) groups would grow state with the corpus forever — the
  * unbounded-state anti-pattern). It lives in persisted, restart-safe
  * artifacts, and — since round 7 — every per-batch write is KEYED BY
  * BATCH ID and written with overwrite ([[BatchStore]]'s `batch=<id>`
  * partitions), so an at-least-once foreachBatch replay rewrites its own
  * partition instead of duplicating rows:
  *
  *   - matches land in the batch's partition of the matches store;
  *   - admitted docs land in the batch's partition of the docs store;
  *   - the batch's LSH band keys land in its partition of the index
  *     delta store. The corpus-scale BUCKETED band index ([[DedupIndex]],
  *     hash-clustered on the probe join key so probes shuffle only the
  *     batch) is created EMPTY up front and populated only by
  *     [[compact]], which folds the accumulated deltas in — an LSM
  *     shape: writes go to small idempotent deltas, reads probe
  *     base ∪ deltas, a periodic compaction keeps the base carrying
  *     ~all rows so the probe stays effectively exchange-free.
  *
  * Candidate pairs are `distinct()`, so even a crash *inside* compaction
  * (deltas folded into the base but not yet deleted) only duplicates
  * index rows, never match rows; the next compaction restores counts —
  * the same idempotence argument transactional formats make, built from
  * plain parquet.
  */
object DocStream {

  /** documents schema as a stream source would emit it. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory of parquet document drops, one
    * drop per trigger (each ingest file becomes one micro-batch).
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Where the stream keeps its persisted dedup state and output. */
  final case class DedupState(
      indexTable: String,
      docsPath: String,
      matchesPath: String,
      nBuckets: Int = 8,
      verifyThreshold: Double = 0.5,
      dupThreshold: Double = 0.8)

  /** Batch-keyed band-key deltas awaiting compaction into the bucketed
    * base table (sibling of the docs store, so all durable state shares
    * one root).
    */
  private[streaming] def deltaDir(st: DedupState): String =
    s"${st.docsPath}_index_delta"

  /** The streaming incremental dedup: every micro-batch of documents is
    * checked against everything admitted before it (q71's new-vs-corpus
    * semantics — batch-internal pairs are the full pipeline's job, run
    * periodically). Start with `.start()` on the returned writer.
    */
  def dedupStream(docs: DataFrame, state: DedupState): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, state))

  /** One micro-batch of the q71 dataflow against the persisted state.
    * Probe + verify run BEFORE the admit writes, so a document never
    * matches itself; candidates join the docs store only for the rows
    * the index probe surfaced. Every write is batch-keyed overwrite —
    * re-running the same (batch, batchId) leaves all state row counts
    * unchanged (DocStreamSpec replays a batch to pin exactly that).
    *
    * Replay VALUE-idempotence (r10 ADVICE): the corpus side — both the
    * delta probes and the doc-text join — is restricted to batch
    * partitions with id < the CURRENT batchId. A replay (same
    * checkpoint or a fresh one re-processing the same drops in order)
    * therefore sees exactly the state the original run saw: a stale
    * candidate surfaced by the compacted base against a LATER-admitted
    * doc drops at the corpus join, so a match can never point at a
    * later document and the earliest-sharer convention survives
    * re-processing, value-for-value, not just count-for-count.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      st: DedupState): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("text")).persist()
    try {
      BatchStore.ensureBase(spark, st.indexTable, st.docsPath)(
        compact(spark, st),
        DedupIndex.write(b.limit(0), st.indexTable, st.nBuckets))
      // no prior batch (the first, or a replay of it): nothing to probe
      BatchStore.readBefore(spark, st.docsPath, batchId).foreach { corpus =>
        val cand = candidates(spark, b, batchId,
          DedupIndex.probeCandidates(spark, st.indexTable, b), deltaDir(st),
          DedupQueries.bandIndex(b), "band", "bucket")
        DedupQueries.verifyCandidates(cand, b, corpus)
          .filter(col("jaccard") >= st.verifyThreshold)
          .withColumn("is_dup",
            (col("jaccard") >= st.dupThreshold).cast("int"))
          .write.mode("overwrite")
          .parquet(BatchStore.path(st.matchesPath, batchId))
      }
      // admit: band keys to this batch's delta partition, docs to this
      // batch's docs partition — both full-partition overwrites
      DedupQueries.bandIndex(b).write.mode("overwrite")
        .parquet(BatchStore.path(deltaDir(st), batchId))
      b.write.mode("overwrite").parquet(BatchStore.path(st.docsPath, batchId))
    } finally b.unpersist()
  }

  /** Candidate (new_id, corpus_id) pairs for `b`: the `base` probe of the
    * bucketed index plus a probe of the deltas under `deltaRoot` admitted
    * BEFORE `batchId` (later ones would drop at the corpus join anyway),
    * both on `keys`. `keyed` holds b's (doc_id, keys) rows.
    */
  private def candidates(spark: SparkSession, b: DataFrame, batchId: Long,
      base: DataFrame, deltaRoot: String, keyed: DataFrame,
      keys: String*): DataFrame = {
    def probe(index: DataFrame, id: String) =
      index.select(keys.map(col) :+ col("doc_id").as(id): _*)
    val all = BatchStore.readBefore(spark, deltaRoot, batchId).fold(base) {
      delta =>
        base.unionByName(probe(delta, "corpus_id")
          .join(probe(keyed, "new_id"), keys)
          .select(col("new_id"), col("corpus_id")))
    }
    // exclude the batch's own documents from the corpus side: the
    // compacted base is not batch-keyed, so a replayed batch still
    // probes an index containing itself — without this, every replayed
    // document matches its own admitted copy (and q71 semantics exclude
    // batch-internal pairs anyway)
    all.distinct()
      .join(b.select(col("doc_id").as("corpus_id")), Seq("corpus_id"),
        "left_anti")
  }

  /** Streaming CURATION GATE: run the q126 filter stack (row-local
    * signals + reason ladder, [[graft.operators.TextQueries
    * .filterStack]]) over every ingest micro-batch, landing labeled
    * documents AND the per-batch reason-code histogram — the live
    * drop-reason dashboard a production ingest watches — under
    * batch-keyed overwrite partitions (the established idempotent-
    * replay convention: an at-least-once redelivery rewrites its own
    * partition, counts never double).
    *
    * Because the stack is one stateless map pass, stream and batch
    * labels are IDENTICAL by construction — no watermark, no state
    * store, no ordering sensitivity; DocStreamSpec pins label parity
    * and histogram-vs-labels consistency across trigger schedules. At
    * 100 TB this is the shape where curation rides the ingest scan for
    * free instead of being a second corpus pass.
    */
  def filterStream(docs: DataFrame, outPath: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) => {
        val labeled = graft.operators.TextQueries.filterStack(
          batch.select(col("doc_id"), col("lang"), col("text")))
        labeled.write.mode("overwrite")
          .parquet(BatchStore.path(s"$outPath/labeled", batchId))
        // histogram derived from the labeled frame (one source of
        // truth); tiny (#reasons rows), coalesced to one file
        labeled.groupBy(col("reason"))
          .agg(count(lit(1)).as("n_docs"))
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(BatchStore.path(s"$outPath/reasons", batchId))
      })

  /** Streaming TRAINED-MODEL scoring: apply a FROZEN weight vector
    * ([[graft.operators.TrainingQueries.qcTrain]] output — trained
    * offline on the batch corpus, deployed as O(d) literals; 4 dims =
    * the q135 trio, 7 = the q137 production feature set — the weight
    * dimension selects the featurizer) to every ingest micro-batch —
    * the serve-time shape of the learned quality gate, and the
    * production division of labor: training stays a batch job over the
    * full corpus, the stream pays only one stateless row-local map per
    * document. Batch-keyed overwrite partitions keep replays
    * idempotent (the filterStream convention). Because scoring is
    * row-local with frozen weights, stream and batch scores are
    * IDENTICAL by construction — DocStreamSpec pins parity across
    * trigger schedules for both models.
    */
  def scoreStream(docs: DataFrame, weights: Array[Double],
      outPath: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) => {
        graft.operators.TrainingQueries.scoreWith(
            batch.select(col("doc_id"), col("source"), col("lang"),
              col("text")),
            weights)
          .write.mode("overwrite")
          .parquet(BatchStore.path(s"$outPath/scored", batchId))
      })

  /** Where streaming exact-substring dedup keeps its persisted state:
    * the fp-bucketed [[graft.operators.SpanIndex]] base table, the
    * admitted-docs store, per-batch flag output, and fingerprint
    * deltas awaiting [[compactSpans]].
    */
  final case class SpanState(
      indexTable: String,
      docsPath: String,
      flagsPath: String,
      nBuckets: Int = 8)

  private[streaming] def spanDeltaDir(st: SpanState): String =
    s"${st.docsPath}_span_delta"

  /** Streaming EXACT-SUBSTRING dedup (q128's stream face — the same
    * LSM shape as [[dedupStream]], over the span tier): each
    * micro-batch probes the persisted fingerprint base ∪ deltas for
    * ≥50-token shared-span candidates against everything admitted
    * before it, verifies with the exact SharedSpan kernel, lands the
    * q128-convention flags for the batch, and admits its fingerprints
    * as a batch-keyed delta. All writes are batch-keyed overwrite —
    * replays rewrite their own partitions. Batch-internal span pairs
    * are the periodic full pipeline's job (the q71 convention).
    */
  def spanStream(docs: DataFrame, state: SpanState): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        processSpanBatch(batch, batchId, state))

  /** One micro-batch of the span stream: probe base ∪ prior deltas,
    * then [[SpanIndex.flagCandidates]] (SharedSpan verify, earliest
    * admitted sharer), then admit. The replay VALUE-idempotence rule of
    * [[processBatch]] holds unchanged: delta probes and the corpus text
    * join see only batches with id < `batchId`, so dup_of can never
    * point at a later document (DocStreamSpec pins it).
    */
  private[streaming] def processSpanBatch(batch: DataFrame, batchId: Long,
      st: SpanState): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("doc_id"), col("text")).persist()
    try {
      BatchStore.ensureBase(spark, st.indexTable, st.docsPath)(
        compactSpans(spark, st),
        SpanIndex.write(b.limit(0), st.indexTable, st.nBuckets))
      val flags = BatchStore.readBefore(spark, st.docsPath, batchId) match {
        case None =>
          b.select(col("doc_id"),
            size(graft.functions.TextFunctions.tokens(col("text")))
              .cast("long").as("n_tokens"),
            lit(0).as("is_exact_dup"), lit(-1L).as("dup_of"))
        case Some(corpus) =>
          SpanIndex.flagCandidates(candidates(spark, b, batchId,
              SpanIndex.probeCandidates(spark, st.indexTable, b),
              spanDeltaDir(st), SpanIndex.fingerprints(b), "fp"),
            corpus, b)
      }
      flags.write.mode("overwrite")
        .parquet(BatchStore.path(st.flagsPath, batchId))
      SpanIndex.fingerprints(b).write.mode("overwrite")
        .parquet(BatchStore.path(spanDeltaDir(st), batchId))
      b.write.mode("overwrite").parquet(BatchStore.path(st.docsPath, batchId))
    } finally b.unpersist()
  }

  /** Fold span-fingerprint deltas into the bucketed base (rebuilt from
    * the admitted store — the [[compact]] crash-safety argument applies
    * unchanged) and drop exactly the deltas the snapshot covers.
    */
  def compactSpans(spark: SparkSession, st: SpanState): Unit =
    BatchStore.compact(spark, st.docsPath, spanDeltaDir(st), "doc_id", "text")(
      SpanIndex.write(_, st.indexTable, st.nBuckets))

  /** Fold the accumulated delta partitions into the bucketed base table
    * and drop them, restoring the fully exchange-free probe. Rebuilds
    * the base from the admitted-docs store (the source of truth), so it
    * is safe to run at any time — including after a crash that left the
    * base and deltas overlapping, and CONCURRENTLY with an active
    * stream: the docs-store batch listing is snapshotted first, the base
    * is rebuilt from exactly those partitions, and only the delta
    * partitions covered by that snapshot are deleted. A batch admitted
    * mid-compact keeps its delta (probes keep unioning it; the next
    * compact folds it) instead of being silently dropped by a
    * whole-directory delete.
    */
  def compact(spark: SparkSession, st: DedupState): Unit =
    BatchStore.compact(spark, st.docsPath, deltaDir(st), "doc_id", "text")(
      DedupIndex.write(_, st.indexTable, st.nBuckets))
}
