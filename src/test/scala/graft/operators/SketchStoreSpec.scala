package graft.operators

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted sketch store's load-bearing properties, for BOTH
  * column families (HLL registers + KMV k-mins):
  *   - incremental absorption == one-shot build (sketch state is a
  *     pure function of the absorbed row set, however it was batched);
  *   - replay idempotence FOR FREE (max-merge / set-min): re-absorbing
  *     a batch leaves the state bit-identical — no batch-id
  *     bookkeeping;
  *   - rollups from state == direct sketches over all rows (q142's
  *     equality, exploited against durable state);
  *   - audience overlap from state == q144's in-query estimates
  *     (the shared kmvPairEstimates definition over identical sketches);
  *   - an update rewrites ONLY the touched day partitions;
  *   - a single-day read prunes to that partition (physical plan);
  *   - an absorbed-nothing store reads as an empty typed frame, not a
  *     schema-inference crash.
  */
class SketchStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val srcDir = "/root/testdata/sf0.001/events.parquet"

  private def events = spark.read.parquet(srcDir)

  private def stateMap(dir: String)
      : Map[(String, String), (Seq[Long], Seq[Long])] =
    SketchStore.read(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getSeq[Long](2), r.getSeq[Long](3))).toMap

  /** Partition-dir file listing (path -> length) for change detection. */
  private def listing(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("three incremental batches == one-shot build; replay is bit-idempotent") {
    val dir = TempDirs("graft_sks") + "/state"
    val batches = (0 to 2).map(i => events.filter($"event_id" % 3 === i))
    batches.foreach(b => SketchStore.update(spark, dir, b))
    val incremental = stateMap(dir)
    // one-shot reference over the same rows — BOTH sketch families
    val oneShot = SketchStore.batchSketches(events).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getSeq[Long](2), r.getSeq[Long](3))).toMap
    assert(incremental == oneShot,
      "incrementally absorbed sketches must equal the one-shot build")
    // at-least-once delivery: replaying batch 1 changes NOTHING
    SketchStore.update(spark, dir, batches(1))
    assert(stateMap(dir) == incremental, "replay must be value-idempotent")
  }

  test("stream-built gate store == batch-built gate store, bit-for-bit") {
    // the two memoized gate stores differ ONLY in ingest path (batch
    // slices vs Structured Streaming micro-batches through
    // absorbToStore); the idempotent union-closed algebra makes their
    // persisted state identical — q152's cross-engine pin, engine-side
    val batchDir = SketchStore.storeFor(spark, "/root/testdata/sf0.001")
    val streamDir = SketchStore.streamStoreFor(spark, "/root/testdata/sf0.001")
    assert(batchDir != streamDir)
    assert(stateMap(streamDir) == stateMap(batchDir))
  }

  test("storeFor/streamStoreFor are memoized per (session, dir)") {
    assert(SketchStore.storeFor(spark, "/root/testdata/sf0.001") ==
      SketchStore.storeFor(spark, "/root/testdata/sf0.001"))
    assert(SketchStore.streamStoreFor(spark, "/root/testdata/sf0.001") ==
      SketchStore.streamStoreFor(spark, "/root/testdata/sf0.001"))
  }

  test("rollups from state equal direct sketches over all rows") {
    import graft.functions.{Affine61, HllSketch, KmvSketch, PolyHash61Str}
    val dir = TempDirs("graft_sksr") + "/state"
    (0 to 2).foreach(i =>
      SketchStore.update(spark, dir, events.filter($"event_id" % 3 === i)))
    val state = SketchStore.read(spark, dir)
    // per-scope rollup vs direct per-scope sketches over the raw rows
    val rolled = SketchStore.rollup(state, Seq("scope"))
      .select($"scope", $"regs", $"kmv").collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    val direct = events
      .select(coalesce($"event_type", lit("__null__")).as("scope"),
        coalesce(HllSketch.hash60($"user_id".cast("string")), lit(-1L)).as("ph"),
        coalesce(Affine61.affine61(
          PolyHash61Str.polyHash61Str($"user_id".cast("string")),
          RelationalExtras.setA, RelationalExtras.setB), lit(-1L)).as("kh"))
      .groupBy($"scope")
      .agg(HllSketch.hll($"ph").as("regs"),
        KmvSketch.kmvSketch($"kh", RelationalExtras.SetK).as("kmv"))
      .collect()
      .map(r => r.getString(0) -> (r.getSeq[Long](1), r.getSeq[Long](2))).toMap
    assert(rolled == direct)
    // global rollup vs direct global sketches
    val g = SketchStore.rollup(state, Seq.empty).collect()(0)
    val gDirect = events
      .select(
        coalesce(HllSketch.hash60($"user_id".cast("string")), lit(-1L)).as("ph"),
        coalesce(Affine61.affine61(
          PolyHash61Str.polyHash61Str($"user_id".cast("string")),
          RelationalExtras.setA, RelationalExtras.setB), lit(-1L)).as("kh"))
      .agg(HllSketch.hll($"ph").as("regs"),
        KmvSketch.kmvSketch($"kh", RelationalExtras.SetK).as("kmv"))
      .collect()(0)
    assert(g.getSeq[Long](g.fieldIndex("regs")) == gDirect.getSeq[Long](0))
    assert(g.getSeq[Long](g.fieldIndex("kmv")) == gDirect.getSeq[Long](1))
    // the estimator set rides along (q140 convention + the KMV member)
    assert(!g.isNullAt(g.fieldIndex("est_users")))
    assert(!g.isNullAt(g.fieldIndex("est_users_kmv")))
    val zr = g.getLong(g.fieldIndex("zero_regs"))
    if (zr > 0) {
      val exp = math.floor(Math.log(256.0 / zr) * 256000000.0).toLong
      assert(g.getLong(g.fieldIndex("est_lc_micro")) == exp)
    }
  }

  test("audience overlap from state is bit-identical to q144's in-query estimates") {
    val dir = TempDirs("graft_skso") + "/state"
    (0 to 2).foreach(i =>
      SketchStore.update(spark, dir, events.filter($"event_id" % 3 === i)))
    val fromState = SketchStore.setOpsFromState(SketchStore.read(spark, dir))
      .select($"type_a", $"type_b", $"est_union", $"est_intersection",
        $"est_jaccard", $"est_diff_ab", $"est_diff_ba")
      .orderBy($"type_a", $"type_b")
      .collect().map(_.toSeq).toSeq
    val inQuery = graft.SparkEntry
      .queries("q144_kmv_setops")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    // same hash family, pure set-min state ⇒ the durable-state route
    // and the one-pass in-query route yield IDENTICAL estimates — the
    // incremental story q142 gives distinct-users, extended to set ops
    assert(fromState.nonEmpty)
    assert(fromState == inQuery)
  }

  test("NULL-ts rows keep their sentinel day through incremental absorb (no silent state loss)") {
    // pre-fix failure mode: a NULL day falls out of update()'s
    // left-semi touched-days join (NULL never equi-matches) while
    // dynamic overwrite still replaces the partition — the second
    // absorb would silently DROP the first batch's NULL-day users.
    // The '__null__' sentinel (scope's convention applied to day)
    // makes the absorb algebra total; this pins incremental ==
    // one-shot on a NULL-ts feed.
    val dir = TempDirs("graft_sksn") + "/state"
    val nulled = events.withColumn("ts",
      when($"event_id" % 2 === 0, lit(null)).otherwise($"ts"))
    val batches = (0 to 2).map(i => nulled.filter($"event_id" % 3 === i))
    batches.foreach(b => SketchStore.update(spark, dir, b))
    val incremental = stateMap(dir)
    assert(incremental.keySet.exists(_._1 == "__null__"),
      "NULL-ts rows must land in the sentinel day partition")
    val oneShot = SketchStore.batchSketches(nulled).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getSeq[Long](2), r.getSeq[Long](3))).toMap
    assert(incremental == oneShot,
      "incremental absorb over a NULL-ts feed must equal the one-shot build")
  }

  test("read() propagates real errors instead of reading them as an empty store") {
    // an old-schema store (regs only, no kmv) must FAIL to read, not
    // silently return empty state that a later update() would then
    // partially overwrite
    val dir = TempDirs("graft_skss") + "/state"
    SketchStore.batchSketches(events).drop("kmv")
      .write.partitionBy("day").parquet(dir)
    intercept[org.apache.spark.sql.AnalysisException] {
      SketchStore.read(spark, dir).collect()
    }
  }

  test("an update rewrites only the touched day partitions") {
    val dir = TempDirs("graft_sksp") + "/state"
    SketchStore.update(spark, dir, events)
    val before = listing(dir)
    // a late batch for ONE day
    val oneDay = events
      .filter(date_format($"ts", "yyyy-MM-dd") === "2024-01-15")
      .limit(50)
    SketchStore.update(spark, dir, oneDay)
    val after = listing(dir)
    val changedDirs = (after.keySet -- before.keySet)
      .map(p => p.replaceAll("/[^/]*$", "")) // parent dirs of new files
    assert(changedDirs.forall(_.contains("day=2024-01-15")),
      s"untouched partitions rewritten: $changedDirs")
    val untouchedBefore = before.filterNot(_._1.contains("day=2024-01-15"))
    val untouchedAfter = after.filterNot(_._1.contains("day=2024-01-15"))
    assert(untouchedBefore == untouchedAfter,
      "files outside the touched day must be byte-identical (same paths, sizes)")
  }

  test("a single-day read prunes to that partition") {
    val dir = TempDirs("graft_sksq") + "/state"
    SketchStore.update(spark, dir, events)
    val df = spark.read.parquet(dir).filter($"day" === "2024-01-15")
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters:") && plan.contains("2024-01-15"),
      s"day filter not pushed to partition pruning:\n${plan.take(2000)}")
  }

  test("an absorbed-nothing store reads as an empty typed frame") {
    val dir = TempDirs("graft_skse") + "/state"
    SketchStore.update(spark, dir, events.filter(lit(false)))
    val state = SketchStore.read(spark, dir)
    assert(state.columns.toSeq == Seq("day", "scope", "regs", "kmv"))
    assert(state.count() == 0)
    // and the global rollup over it is a well-formed empty-sketch row
    val g = SketchStore.rollup(state, Seq.empty).collect()(0)
    assert(g.getLong(g.fieldIndex("zero_regs")) == 256L)
    assert(g.getDouble(g.fieldIndex("est_users_kmv")) == 0.0)
  }
}
