package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Layout

/** The persisted side of incremental dedup (q71): the corpus's LSH band
  * index as a BUCKETED table, hash-clustered on the probe join key
  * (band, bucket) at write time. Each ingest batch then computes only
  * its own band keys and equi-joins them against the index — and
  * because the index's storage layout already satisfies the join's
  * distribution requirement, Spark shuffles ONLY the (small) new batch;
  * the corpus-sized index is read bucket-by-bucket in place, never
  * re-exchanged. DedupIndexSpec asserts exactly that from the physical
  * plan, and that the probe finds the same candidates as the
  * stateless-recompute form.
  *
  * This is the artifact that makes per-ingest cost O(batch): the
  * index is built once per full dedup (one shuffle, paid at write) and
  * appended to as batches are admitted.
  */
object DedupIndex {

  /** Build and persist the band index for `docs` (doc_id, text),
    * bucketed and per-bucket sorted on (band, bucket).
    */
  def write(docs: DataFrame, table: String, nBuckets: Int): Unit =
    Layout.writeBucketed(DedupQueries.bandIndex(docs), table, nBuckets,
      "band", "bucket")

  /** Probe the persisted index with a new batch: distinct candidate
    * (new_id, corpus_id) pairs whose band keys collide. Only the batch
    * side shuffles; downstream, exact Jaccard verifies candidates as in
    * q71/q36.
    */
  def probeCandidates(spark: SparkSession, table: String,
      newDocs: DataFrame): DataFrame = {
    val fresh = DedupQueries.bandIndex(newDocs)
      .select(col("band"), col("bucket"), col("doc_id").as("new_id"))
    spark.table(table)
      .select(col("band"), col("bucket"), col("doc_id").as("corpus_id"))
      .join(fresh, Seq("band", "bucket"))
      .select(col("new_id"), col("corpus_id")).distinct()
  }
}
