package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The `root/batch=<id>` partition layout the streaming stores share, and
  * the LSM lifecycle the dedup and ANN streams build on it: every
  * micro-batch writes its rows under [[path]] with overwrite (so an
  * at-least-once replay rewrites its own partition), probes read a
  * bucketed base table plus the deltas admitted before the batch
  * ([[readBefore]]), and [[compact]] folds the deltas into the base.
  *
  * Compaction SNAPSHOTS the admitted store's batch ids before rebuilding
  * the base and then deletes ONLY the delta partitions that snapshot
  * covered: a delta admitted by a concurrent micro-batch after the
  * listing survives (probes keep unioning it; the next compact folds
  * it), instead of being silently dropped by a whole-directory delete —
  * the r7 ADVICE concurrency hole.
  */
private[streaming] object BatchStore {

  /** Where batch `id`'s rows live under `root`. */
  def path(root: String, id: Long): String = s"$root/batch=$id"

  /** Batch ids of `batch=<id>` children under `root`; empty if `root`
    * does not exist. Resolved against root's own filesystem.
    */
  def listBatchIds(spark: SparkSession, root: String): Seq[Long] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("batch=") =>
        n.stripPrefix("batch=").toLong }
      .sorted
  }

  private def read(spark: SparkSession, root: String,
      ids: Seq[Long]): DataFrame =
    spark.read.parquet(ids.map(path(root, _)): _*)

  /** The rows of the batches under `root` with id < `batchId`; None when
    * there are none. Listing the partitions (rather than reading `root`)
    * pins exactly which batches a probe sees, and survives a root that a
    * concurrent compact left present but empty. Restricting to earlier
    * ids is the replay VALUE-idempotence rule (r10 ADVICE): a replayed
    * batch sees exactly the state its first run saw.
    */
  def readBefore(spark: SparkSession, root: String,
      batchId: Long): Option[DataFrame] = {
    val ids = listBatchIds(spark, root).filter(_ < batchId)
    if (ids.isEmpty) None else Some(read(spark, root, ids))
  }

  /** Delete `root/batch=<id>` for each id; missing partitions are
    * ignored (a delta may legitimately lag its store partition — the
    * write order inside a micro-batch is delta first, store second).
    */
  def deleteBatches(spark: SparkSession, root: String,
      ids: Seq[Long]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    ids.foreach { id =>
      val p = new Path(path(root, id))
      p.getFileSystem(conf).delete(p, true)
    }
    // best-effort: remove the root once empty (non-recursive, so a
    // partition admitted concurrently makes this a harmless no-op)
    val rp = new Path(root)
    val fs = rp.getFileSystem(conf)
    try if (fs.exists(rp) && fs.listStatus(rp).isEmpty) fs.delete(rp, false)
    catch { case _: java.io.IOException => () }
  }

  /** Fold the deltas under `deltaRoot` into the base: snapshot the batch
    * ids of the admitted `store`, rebuild the base with `writeBase` from
    * exactly those batches' `cols`, then delete only the delta
    * partitions that snapshot covers. The store is the source of truth,
    * so this is safe at any time — after a crash that left base and
    * deltas overlapping, and concurrently with an active stream. A no-op
    * on an empty store.
    */
  def compact(spark: SparkSession, store: String, deltaRoot: String,
      cols: String*)(writeBase: DataFrame => Unit): Unit = {
    val snapshot = listBatchIds(spark, store)
    if (snapshot.nonEmpty) {
      writeBase(read(spark, store, snapshot).select(cols.map(col): _*))
      deleteBatches(spark, deltaRoot, snapshot)
    }
  }

  /** Make sure the base `table` exists before a batch probes it. A
    * missing base alongside a NON-empty `store` means a crash hit a
    * compaction between its DROP and its commit: `rebuild` it from the
    * store, the source of truth. Otherwise `createEmpty` — an empty base
    * over a non-empty store would silently drop all compacted probe
    * state.
    */
  def ensureBase(spark: SparkSession, table: String, store: String)(
      rebuild: => Unit, createEmpty: => Unit): Unit =
    if (!spark.catalog.tableExists(table)) {
      if (listBatchIds(spark, store).nonEmpty) rebuild else createEmpty
    }
}
