package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier

/** Physical data layout management — the knobs that decide how much of
  * 100 TB a query actually reads:
  *
  *   - [[writePartitioned]]: hive-style directory partitioning. Filters
  *     on the partition column become PartitionFilters at plan time —
  *     pruned directories are never listed, let alone read. Use for
  *     low-cardinality routing keys (date, source, lang).
  *   - [[writeClustered]]: range-partition + sort within files on a
  *     clustering key. Every output file covers a disjoint key range, so
  *     parquet row-group min/max stats make point/range predicates skip
  *     whole files inside the scan. Use for high-cardinality keys where
  *     directory partitioning would explode the file count.
  *   - [[compact]]: rewrite a directory of small files into
  *     evenly-sized files near a target size. Small-file sprawl is the
  *     classic death of table scans (per-file open/footer cost, starved
  *     vectorized readers, NameNode/listing pressure); streaming sinks
  *     and incremental ingests produce it constantly, so compaction is
  *     regular maintenance, not a one-off.
  *   - [[writeBucketed]]: hash-bucket + sort a catalog table on its join
  *     key at write time. A join on that key then reads the table bucket
  *     by bucket in place: the table side is never re-exchanged, only
  *     the other side shuffles. Every persisted probe index (band, span,
  *     canonical map, vector) is written through it.
  */
object Layout {

  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode("overwrite").parquet(path)

  /** Range-partition into `numFiles` files by `clusterCol`, rows sorted
    * within each file — disjoint per-file key ranges by construction
    * (spec-asserted), which is what turns parquet min/max stats into
    * file-skipping for range predicates.
    */
  def writeClustered(df: DataFrame, path: String, clusterCol: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, df(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(path)

  /** (Re)build `table` as a parquet catalog table, hash-bucketed into
    * `nBuckets` and sorted within each bucket on `keys`. Bucket metadata
    * lives in the session catalog, hence a managed table rather than a
    * bare path. A full rebuild: the prior table is dropped, and so is any
    * orphan directory at the catalog's default location (a writer that
    * crashed mid-write leaves one, and it blocks CREATE TABLE).
    */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
      keys: String*): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new Path(
      spark.sessionState.catalog.defaultTablePath(TableIdentifier(table)))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .format("parquet")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .saveAsTable(table)
  }

  /** Total bytes of parquet part-files under `path` (recursive). */
  private[sources] def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) total += f.getLen
    }
    total
  }

  /** Rewrite `path` in place into ~`targetFileBytes` files (write to a
    * sibling temp dir, then swap, so a reader never sees a half-written
    * table). `repartition` (a shuffle) rather than `coalesce`: coalesce
    * glues existing partitions unevenly and caps out at the current file
    * count, while compaction wants evenly-sized output regardless of the
    * input's skew. Returns the new file count.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long): Int = {
    val n = math.max(1,
      math.ceil(dataBytes(spark, path).toDouble / targetFileBytes).toInt)
    val tmp = path.stripSuffix("/") + "_compacting"
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(tmp)
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.rename(new Path(tmp), p)
    n
  }
}
