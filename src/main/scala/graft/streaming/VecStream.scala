package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.functions.CosineSim.cosineFused
import graft.functions.HyperplaneBucket.hyperplaneBucketFused
import graft.sources.Layout

/** Structured Streaming over an embedding feed — the streaming face of
  * the ANN stack (q41's hyperplane-LSH buckets), the vector sibling of
  * [[DocStream]]'s incremental text dedup and the same answer to the
  * same 100 TB question: similarity state must NOT live in executor
  * state-store memory (it grows with the corpus forever). It lives in
  * persisted, restart-safe artifacts with the LSM shape DocStream
  * proved out:
  *
  *   - near-duplicate matches land in the batch's partition of the
  *     matches store (overwrite — an at-least-once replay rewrites its
  *     partition; [[BatchStore]] owns the layout);
  *   - admitted vectors land in the batch's partition of the vecs store;
  *   - each batch's (bucket, vec_id, embedding) rows land in its
  *     partition of the index delta store. The corpus-scale
  *     BUCKETED index (hash-clustered on the LSH bucket — the probe
  *     join key) is created empty up front and populated only by
  *     [[compact]]: writes go to small idempotent deltas, probes read
  *     base ∪ deltas, compaction folds deltas into the base so the
  *     probe stays effectively exchange-free (only the new batch
  *     shuffles — the [[graft.operators.DedupIndex]] property).
  *
  * Single-probe semantics: one 8-plane bucket per vector, so a
  * (new, corpus) pair collides at most once per store; the
  * `dropDuplicates` guards only the crash window where a vector sits
  * in both base and an unfolded delta. Matches are new-vs-admitted
  * only (batch-internal pairs are the periodic full q40/q41 job, the
  * q71 split DocStream also uses).
  */
object VecStream {

  /** embeddings schema as a stream source would emit it. */
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over a directory of parquet embedding drops,
    * one drop per trigger.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Where the stream keeps its persisted ANN state and output. */
  final case class AnnState(
      indexTable: String,
      vecsPath: String,
      matchesPath: String,
      nPlanes: Int = 8,
      nBuckets: Int = 8,
      simThreshold: Double = 0.8)

  private[streaming] def deltaDir(st: AnnState): String =
    s"${st.vecsPath}_index_delta"

  /** (bucket, vec_id, embedding) — the index row shape; bucket is the
    * fused q41 hyperplane id, so stream and batch ANN agree bucket-for-
    * bucket.
    */
  private def indexRows(vecs: DataFrame, nPlanes: Int): DataFrame =
    vecs.select(
      hyperplaneBucketFused(col("embedding"), nPlanes, seed = 42)
        .as("bucket"),
      col("vec_id"), col("embedding"))

  /** Build and persist the bucketed base index for `vecs`, hash-
    * clustered and per-bucket sorted on the probe join key (mirrors
    * [[graft.operators.DedupIndex.write]]).
    */
  def writeIndex(vecs: DataFrame, table: String, nPlanes: Int,
      nBuckets: Int): Unit =
    Layout.writeBucketed(indexRows(vecs, nPlanes), table, nBuckets, "bucket")

  /** The streaming incremental near-dup detection: every micro-batch of
    * vectors is scored against everything admitted before it. Start
    * with `.start()` on the returned writer.
    */
  def annStream(vecs: DataFrame, state: AnnState): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode("append")
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, state))

  /** One micro-batch: probe (base ∪ deltas) with the batch's buckets,
    * cosine-score colliding pairs, keep those at/above the threshold,
    * then admit. Probe runs BEFORE the admit writes and excludes the
    * batch's own ids, so a replayed batch (whose vectors are already in
    * state) rewrites the same partitions — every write is batch-keyed
    * overwrite. Replay VALUE-idempotence is [[DocStream.processBatch]]'s
    * rule: the probe sees only vectors admitted before `batchId`, so a
    * replay against later state yields the matches its first run did.
    */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      st: AnnState): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col("vec_id"), col("embedding")).persist()
    try {
      BatchStore.ensureBase(spark, st.indexTable, st.vecsPath)(
        compact(spark, st),
        writeIndex(b.limit(0), st.indexTable, st.nPlanes, st.nBuckets))
      probeAll(spark, st, b, batchId).foreach { cand =>
        cand.filter(col("cos_sim") >= st.simThreshold)
          .write.mode("overwrite")
          .parquet(BatchStore.path(st.matchesPath, batchId))
      }
      indexRows(b, st.nPlanes).write.mode("overwrite")
        .parquet(BatchStore.path(deltaDir(st), batchId))
      b.write.mode("overwrite").parquet(BatchStore.path(st.vecsPath, batchId))
    } finally b.unpersist()
  }

  /** Scored candidate (new_id, corpus_id, cos_sim) rows for `b` against
    * base ∪ deltas, restricted to vectors admitted before `batchId`;
    * None when there are none. Only the batch side of the base probe
    * shuffles (bucketed-table property).
    */
  private def probeAll(spark: SparkSession, st: AnnState, b: DataFrame,
      batchId: Long): Option[DataFrame] =
    BatchStore.readBefore(spark, st.vecsPath, batchId).map { prior =>
      val fresh = indexRows(b, st.nPlanes)
        .select(col("bucket"), col("vec_id").as("new_id"),
          col("embedding").as("new_emb"))
      def score(corpus: DataFrame): DataFrame =
        corpus
          .select(col("bucket"), col("vec_id").as("corpus_id"),
            col("embedding").as("corpus_emb"))
          .join(fresh, Seq("bucket"))
          .select(col("new_id"), col("corpus_id"),
            cosineFused(col("new_emb"), col("corpus_emb")).as("cos_sim"))
      val base = score(spark.table(st.indexTable))
      val all = BatchStore.readBefore(spark, deltaDir(st), batchId)
        .fold(base)(delta => base.unionByName(score(delta)))
      // a vector can sit in base AND an unfolded delta only inside a
      // crashed-compaction window; pairs are otherwise unique (single
      // probe bucket per vector). The compacted base is not batch-keyed:
      // keep only corpus vectors admitted before this batch, never the
      // batch's own
      all.dropDuplicates("new_id", "corpus_id")
        .join(prior.select(col("vec_id").as("corpus_id")), Seq("corpus_id"),
          "left_semi")
        .join(b.select(col("vec_id").as("corpus_id")), Seq("corpus_id"),
          "left_anti")
    }

  /** Fold the delta partitions into the bucketed base and drop them,
    * restoring the exchange-free probe. Rebuilds from the admitted-
    * vector store (the source of truth), so it is safe after any crash
    * — and concurrently with an active stream: the vec-store batch
    * listing is snapshotted first and only delta partitions covered by
    * the snapshot are deleted (the [[DocStream.compact]] rule); a batch
    * admitted mid-compact keeps its delta until the next compact.
    */
  def compact(spark: SparkSession, st: AnnState): Unit =
    BatchStore.compact(spark, st.vecsPath, deltaDir(st), "vec_id", "embedding")(
      writeIndex(_, st.indexTable, st.nPlanes, st.nBuckets))
}
