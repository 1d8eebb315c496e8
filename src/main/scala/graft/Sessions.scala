package graft

import org.apache.spark.sql.SparkSession

/** Single place to build a correctly-configured local session. The same
  * confs are what a cluster submit would set: AQE on (runtime skew-join +
  * partition coalescing), shuffle partitions sized to the parallelism at
  * hand (32 threads locally, not the 200 default), UTC session time zone
  * for date/timestamp determinism, and the legacy nanos conf so an
  * events parquet in the old TIMESTAMP(NANOS) encoding stays readable —
  * [[Tables.load]] normalizes both that and the current timestamp[us]
  * NTZ encoding to TimestampType.
  */
object Sessions {
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Spark frees broadcast/shuffle/RDD state via ContextCleaner, which
      // only learns a reference is dead from a JVM GC. The default
      // periodic-GC interval (30min) never fires inside a multi-query
      // batch session, so ~90 sequential queries pile their broadcasts
      // and shuffle registrations into the old gen until the heap is
      // nearly full and every allocation-heavy operator (window sorts
      // especially) thrashes in GC — measured 60× slowdowns on the last
      // queries of a full Bench run at the default 8g heap; 1min keeps
      // the cleaner fed at a cost of one full GC per minute, and cut the
      // builder's runs from 387s to ~73s. It REDUCES the failure mode
      // but has not been proven to eliminate it: the round-6 official
      // bench still stalled 10-58× on four row-local queries with this
      // conf in place (host noise vs residual session state was
      // indistinguishable from that artifact). Bench therefore carries
      // its own instrumentation — gc_sec/heap_peak_mb, forced-GC outlier
      // re-timing, and an end-of-run tail-health probe — so any future
      // stall is attributable from the artifact alone.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: benign planner warnings (e.g. WindowExec's
    // single-partition notice on deliberately-global post-aggregation
    // windows) otherwise flood stderr around the one-line JSON contract
    // output of Bench/Verify.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop the blocks of every persisted RDD (cache entries and
    * localCheckpoints alike) without waiting for the block removal. A
    * multi-query session calls this between queries, outside any timed
    * region: otherwise each query's checkpoint blocks pile up in executor
    * storage until a GC happens to feed the ContextCleaner.
    */
  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
}
