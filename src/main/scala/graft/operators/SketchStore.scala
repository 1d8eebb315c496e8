package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted per-day sketch state — the durable-index MO (DedupIndex /
  * SpanIndex / CanonicalMap) applied to the sketch tier: one HLL
  * register array AND one KMV k-min array per (day, scope) kept as a
  * DAY-PARTITIONED parquet table, incrementally absorbed batch by
  * batch, with every rollup (per-scope, per-day, global) computed from
  * O(days·scopes·(m+k)) bytes of state and NO pass over historical
  * rows. q142 proves union-of-sketches == sketch-of-union under the
  * oracle and q145 puts THIS store's absorb→rollup path under it; at
  * 100 TB the events history is unreadably large, but the state table
  * is a few megabytes and every distinct-users dashboard question is a
  * register fold.
  *
  * Two column families, one absorb path:
  *   - `regs` (HLL, q140/q142 conventions) answers per-scope / global
  *     distinct counts;
  *   - `kmv` (k-min values, q144's EXACT hash family [[RelationalExtras
  *     .setA]]/[[RelationalExtras.setB]], k = [[RelationalExtras.SetK]])
  *     additionally answers SET ALGEBRA between scopes
  *     ([[setOpsFromState]] — audience overlap from durable state, the
  *     same pairwise estimator as q144 via one shared definition).
  *     Sharing the family is deliberate: the store persists the SAME
  *     measurement q144 computes in-query, so state-derived sketches
  *     are bit-identical to in-query ones (SketchStoreSpec pins it).
  *
  * Update semantics make replay FREE: the stored register array is an
  * element-wise MAX and the kmv array a k-smallest-distinct SET MIN
  * over everything absorbed — both idempotent — so re-absorbing a
  * delivered-twice batch leaves the state bit-identical
  * (SketchStoreSpec pins it). That is why the state deliberately holds
  * ONLY sketches: an exact row counter alongside them would double on
  * replay and need the batch-id bookkeeping DocStream carries; the
  * sketch tier alone is exactly-once for free under at-least-once
  * delivery.
  *
  * Scale shape: an update touches ONLY the partitions of the days in
  * the batch (dynamic partition overwrite — untouched day directories
  * are not rewritten, spec-pinned by file listing), and a single-day
  * read prunes to that partition (spec-pinned from the physical plan's
  * PartitionFilters). Merge cost is O(batch days · scopes · (m + k)).
  */
object SketchStore {

  /** The hashed per-row projection every absorb path shares: (day,
    * scope, ph, kh) — the q140/q142 hash and sentinel conventions for
    * the HLL side (md5 60-bit key hash; NULL users skipped; NULL event
    * types keep their own '__null__' scope) and q144's affine∘polyhash
    * family for the KMV side. Factored out of [[batchSketches]] so an
    * ingest job that slices ONE events pass into several batches
    * ([[storeFor]]) hashes each row exactly once. `carry` columns
    * (evaluated against the raw events row) ride along unchanged —
    * e.g. a batch key the caller will slice on.
    */
  def hashedProjection(events: DataFrame,
      carry: org.apache.spark.sql.Column*): DataFrame = {
    import graft.functions.{Affine61, HllSketch, PolyHash61Str}
    events
      // day is coalesced to a sentinel like scope: a NULL day would
      // both fall out of update()'s left-semi touched-days join (NULL
      // never equi-matches, so previously-absorbed NULL-day state is
      // dropped while dynamic overwrite still replaces the partition —
      // silent state loss on a NULL-ts feed) and land in parquet's
      // __HIVE_DEFAULT_PARTITION__; the sentinel keeps the absorb
      // algebra total and the q149 oracle join NULL-free
      .select(Seq(coalesce(date_format(col("ts"), "yyyy-MM-dd"),
          lit("__null__")).as("day"),
        coalesce(col("event_type"), lit("__null__")).as("scope"),
        coalesce(HllSketch.hash60(col("user_id").cast("string")),
          lit(-1L)).as("ph"),
        coalesce(Affine61.affine61(
          PolyHash61Str.polyHash61Str(col("user_id").cast("string")),
          RelationalExtras.setA, RelationalExtras.setB), lit(-1L)).as("kh"))
        ++ carry: _*)
  }

  /** Fold an already-hashed projection (columns day/scope/ph/kh, extra
    * columns ignored) into per-(day, scope) sketch rows.
    */
  def sketchesFromHashed(hashed: DataFrame): DataFrame = {
    import graft.functions.{HllSketch, KmvSketch}
    hashed
      .groupBy(col("day"), col("scope"))
      .agg(HllSketch.hll(col("ph")).as("regs"),
        KmvSketch.kmvSketch(col("kh"), RelationalExtras.SetK).as("kmv"))
  }

  /** Per-(day, scope) HLL register + KMV k-min arrays for an events
    * frame — [[hashedProjection]] composed with [[sketchesFromHashed]].
    */
  def batchSketches(events: DataFrame): DataFrame =
    sketchesFromHashed(hashedProjection(events))

  /** Absorb one events batch into the persisted state at `storeDir`:
    * read ONLY the touched days' existing sketches (left-semi on the
    * batch's day set — no driver-side day list), fold old and new
    * (element-wise max for registers, k-smallest-distinct for kmv),
    * and dynamically overwrite just those day partitions. Safe against
    * the read-own-path overwrite hazard via localCheckpoint (the q63
    * convention: checkpoint blocks are ContextCleaner-tracked, unlike
    * cache pins).
    *
    * CONCURRENCY CONTRACT — single writer per store. update() is
    * read-merge-overwrite with no lock: two writers interleaving on the
    * same `storeDir` can each read the same prior state and the second
    * dynamic overwrite silently drops the first one's absorbed sketches
    * for any shared day partition (last writer wins). Every caller here
    * is serial by construction (a Structured Streaming foreachBatch
    * sink runs micro-batches one at a time; [[storeFor]] builds each
    * store exactly once per session); a deployment with more than one
    * ingest job per store must serialize them externally (one writer
    * job, or a queue in front — the standard single-writer table
    * pattern). CONCURRENT READERS are always safe: the overwrite is
    * per-partition-atomic (parquet dir swap) and sketches only grow.
    */
  def update(spark: SparkSession, storeDir: String, events: DataFrame): Unit =
    updateHashed(spark, storeDir, hashedProjection(events))

  /** [[update]] for a pre-hashed projection (see [[hashedProjection]]);
    * same semantics and single-writer contract.
    */
  def updateHashed(spark: SparkSession, storeDir: String, hashed: DataFrame): Unit =
    updateSketched(spark, storeDir, sketchesFromHashed(hashed))

  /** [[update]] for a batch that is ALREADY per-(day, scope) sketch
    * rows (day/scope/regs/kmv — [[sketchesFromHashed]]'s shape); same
    * merge algebra, semantics and single-writer contract. This is the
    * cheapest absorb entry point: the caller ships O(days·scopes·(m+k))
    * bytes of sketch state, not hashes — the guide §8 "decide with
    * small rows" shape applied to ingest.
    */
  def updateSketched(spark: SparkSession, storeDir: String, batch0: DataFrame): Unit = {
    import graft.functions.{HllSketch, KmvSketch}
    val batch = batch0.select(col("day"), col("scope"), col("regs"), col("kmv"))
    val merged =
      if (exists(spark, storeDir)) {
        // no distinct() on the semi-join's build side: left_semi is
        // set-semantic regardless of right-side duplicates, and the
        // distinct was one whole aggregation exchange per absorb (r15)
        val touched = read(spark, storeDir)
          .join(batch.select(col("day")), Seq("day"), "left_semi")
        touched.unionByName(batch)
          // coalesce(1): SinglePartition satisfies the merge groupBy's
          // clustering, so the per-absorb exchange disappears. Unlike
          // the measured-and-reverted BPE coalesce, single-task is the
          // RIGHT shape here: this frame is O(days·scopes·(m+k)) sketch
          // STATE — bounded by the key space, not the corpus — a few
          // hundred rows at any scale (r15)
          .coalesce(1)
          .groupBy(col("day"), col("scope"))
          .agg(HllSketch.hllMerge(col("regs")).as("regs"),
            KmvSketch.kmvMerge(col("kmv"), RelationalExtras.SetK).as("kmv"))
          // materialize before overwriting the source: the merge READS
          // storeDir, which the write below replaces. A fresh store has
          // no such self-read, so the batch-only branch skips the
          // checkpoint job and pipelines the aggregation into the write
          .localCheckpoint()
      } else batch
    merged.write
      .partitionBy("day")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(storeDir)
  }

  /** The gate-fixture store for a testdata directory, built ONCE per
    * (session, dir) and shared by every registry query that reads
    * state (q145/q149/q150) — the Tables.load memoization pattern
    * applied to derived state. Absorbs the events table as three
    * DETERMINISTIC batches (event_id mod 3) plus an at-least-once
    * REPLAY of batch 0, so the state the queries read has provably
    * survived batching AND redelivery.
    *
    * ONE events pass, ONE aggregation (r15 — was: stage the hashed
    * projection as a bkey-partitioned parquet table, then four pruned
    * scan+aggregate absorbs): the per-batch sketches are computed in a
    * single groupBy(bkey, day, scope) pass over the hashed projection
    * and checkpointed — O(batches·days·scopes·(m+k)) bytes, sketch
    * STATE, not rows — and every absorb (and the replay) is a filter
    * of that tiny in-memory frame through [[updateSketched]]. Compared
    * to the r14 staged shape this removes the 100 %-of-events parquet
    * write+read and three of four per-batch aggregation passes; the
    * per-batch sketch rows are identical to what a per-batch
    * aggregation produces (HLL max-fold / KMV set-min are
    * order-independent), so the persisted state is bit-identical
    * (SketchStoreSpec's batch==stream pin still holds). The r14
    * scaladoc's checkpoint-vs-staging measurement argued against
    * checkpointing the 100k-row HASHED projection (row-based re-read ×
    * 4 absorbs); checkpointing the AGGREGATED sketch frame is two
    * orders of magnitude smaller and re-read four times for free.
    * Batch boundaries stay deterministic (event_id mod 3). Production
    * mirror: each ingest job aggregates the batch it was handed into
    * sketch rows and ships THOSE to the store writer — megabytes of
    * state, never raw events.
    */
  def storeFor(spark: SparkSession, dir: String): String =
    cachedStore("batch", spark, dir) { store =>
      val perBatch = perBatchSketches(
        graft.Tables.load(spark, dir, "events"), 3).localCheckpoint()
      (0 to 2).foreach(i =>
        updateSketched(spark, store, perBatch.filter(col("bkey") === i)))
      // at-least-once replay of batch 0
      updateSketched(spark, store, perBatch.filter(col("bkey") === 0))
    }

  /** One-pass per-batch sketch rows: [[hashedProjection]] with the
    * deterministic batch key (event_id mod `nBatches`) carried through,
    * aggregated per (bkey, day, scope) — each bkey slice is exactly
    * what [[sketchesFromHashed]] produces for that batch alone (HLL
    * max-fold / KMV set-min are order-independent), in one events pass.
    */
  def perBatchSketches(events: DataFrame, nBatches: Int): DataFrame = {
    import graft.functions.{HllSketch, KmvSketch}
    hashedProjection(events,
        pmod(coalesce(col("event_id"), lit(0L)), lit(nBatches)).as("bkey"))
      .groupBy(col("bkey"), col("day"), col("scope"))
      .agg(HllSketch.hll(col("ph")).as("regs"),
        KmvSketch.kmvSketch(col("kh"), RelationalExtras.SetK).as("kmv"))
  }

  /** The stream-built twin of [[storeFor]]: the same per-(session, dir)
    * memoized gate store, but ingested by
    * [[graft.streaming.EventStream.absorbToStore]] — the events table
    * written as three files and replayed as three file-source
    * micro-batches through the foreachBatch sketch sink. Because the
    * absorb algebra is idempotent and closed under union, the resulting
    * state is bit-identical to a one-shot build regardless of
    * micro-batch boundaries — q152 puts THAT equality under the DuckDB
    * oracle (its oracle is q145's verbatim).
    */
  def streamStoreFor(spark: SparkSession, dir: String): String =
    cachedStore("stream", spark, dir) { store =>
      val src = graft.TempDirs("graft_stream_src") + "/events"
      val ckpt = graft.TempDirs("graft_stream_ckpt")
      graft.Tables.load(spark, dir, "events")
        .repartition(3).write.parquet(src)
      graft.streaming.EventStream.absorbToStore(spark, src, store, ckpt,
        maxFilesPerTrigger = 1)
    }

  /** Memoized store build: at most one build per (kind, session, dir).
    * Sessions are WEAK keys — a closed, unreferenced SparkSession (and
    * its store entries) can be collected instead of living for the
    * process, and the temp dirs themselves are removed by the shutdown
    * hook of [[graft.TempDirs]]. The BUILD runs OUTSIDE any lock (the weak map
    * is only synchronized for the map get/put itself): racing callers
    * may build twice into separate temp dirs (publication is
    * putIfAbsent — first one wins, the loser's orphan dir is swept at
    * exit), but no Spark job ever runs under a map lock where a second
    * tenant would serialize or re-enter.
    */
  private def cachedStore(kind: String, spark: SparkSession, dir: String)
      (build: String => Unit): String = {
    val stores = sessionStores(spark)
    val key = (kind, dir)
    val cur = stores.get(key)
    if (cur != null) return cur
    val store = graft.TempDirs(s"graft_store_$kind") + "/state"
    build(store)
    val prev = stores.putIfAbsent(key, store)
    if (prev != null) prev else store
  }

  private def sessionStores(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[(String, String), String] =
    storeCache.synchronized {
      var m = storeCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[(String, String), String]
        storeCache.put(spark, m)
      }
      m
    }

  // SparkSession doesn't override equals, so WeakHashMap gives identity
  // semantics with weak keys — exactly the "don't retain the session"
  // contract a UUID key would buy (sessionUUID is private[sql])
  private val storeCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), String]]

  def exists(spark: SparkSession, storeDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** The persisted state: (day, scope, regs, kmv). An absorbed-nothing
    * store (every batch empty — a partitioned write of zero rows leaves
    * only _SUCCESS, which parquet cannot infer a schema from) reads as
    * an empty frame of the state schema. That case is detected by
    * LISTING for data files, not by catching AnalysisException — a
    * blanket catch would also swallow a typo'd path or an
    * old-schema store (missing `kmv` resolves as UNRESOLVED_COLUMN)
    * as "empty", and a later update() would then dynamically
    * overwrite surviving partitions with batch-only sketches. Real
    * errors must propagate.
    */
  def read(spark: SparkSession, storeDir: String): DataFrame =
    if (hasDataFiles(spark, storeDir))
      spark.read.parquet(storeDir)
        .select(col("day").cast("string").as("day"), col("scope"),
          col("regs"), col("kmv"))
    else {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("day", StringType),
          StructField("scope", StringType),
          StructField("regs", ArrayType(LongType)),
          StructField("kmv", ArrayType(LongType)))))
    }

  /** True iff `storeDir` contains at least one parquet data file
    * (recursive — the state is day-partitioned).
    */
  private def hasDataFiles(spark: SparkSession, storeDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    }
    false
  }

  /** Roll the state up to `keys` (e.g. Seq("scope") for all-time
    * per-scope, Seq("day") for per-day all-scopes, Seq() for global):
    * one sketch fold over state rows, then the estimator set — the raw
    * HLL estimate plus the small-range linear-counting branch
    * (`zero_regs` / `est_lc_micro`, the q140 pair) and the KMV
    * (k−1)·p/h₍ₖ₎ estimate (`est_users_kmv`, exact while unsaturated),
    * so a consumer always has the applicable estimator.
    */
  def rollup(state: DataFrame, keys: Seq[String]): DataFrame = {
    import graft.functions.{HllSketch, KmvSketch, MathLn}
    val aggs = Seq(HllSketch.hllMerge(col("regs")).as("regs"),
      KmvSketch.kmvMerge(col("kmv"), RelationalExtras.SetK).as("kmv"))
    val grouped =
      if (keys.isEmpty) state.agg(aggs.head, aggs.tail: _*)
      else state.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val est = grouped
      .withColumn("hll_sum", expr(HllSketch.sumSql("regs")))
      .withColumn("zero_regs", expr(HllSketch.zerosSql("regs")).cast("long"))
      .withColumn("est_users", expr(HllSketch.estRawSql("hll_sum")))
      .withColumn("est_lc_micro",
        when(col("zero_regs") > 0,
          floor(MathLn.ln(lit(HllSketch.M.toDouble) /
            col("zero_regs").cast("double")) *
            lit(HllSketch.M * 1000000.0)).cast("long")))
      .withColumn("est_users_kmv",
        KmvSketch.estimate(col("kmv"), RelationalExtras.SetK))
      .drop("hll_sum")
    if (keys.isEmpty) est else est.orderBy(keys.map(col): _*)
  }

  /** Audience overlap FROM DURABLE STATE: fold each scope's per-day kmv
    * arrays into its all-time sketch, then run the q144 pairwise
    * set-operation estimator over the scope sketches — the SAME
    * definition ([[RelationalExtras.kmvPairEstimates]]), so the only
    * difference from q144 is where the sketches come from (megabytes of
    * state vs a pass over raw events). Because kmv state is a pure
    * set-min of the same hash family, the two routes produce
    * bit-identical estimates (SketchStoreSpec pins it) — the
    * incremental story q142 gives distinct-users, extended to
    * union/intersection/Jaccard/differences.
    */
  def setOpsFromState(state: DataFrame): DataFrame = {
    import graft.functions.KmvSketch
    val perScope = state.groupBy(col("scope").as("t"))
      .agg(KmvSketch.kmvMerge(col("kmv"), RelationalExtras.SetK).as("kmv"))
    RelationalExtras.kmvPairEstimates(perScope)
  }
}
