package graft.streaming

import java.nio.file.Files

import graft.{Tables, TestSpark}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CosineSim.cosineFused
import graft.functions.HyperplaneBucket.hyperplaneBucketFused

/** Streaming ANN ingest against its batch recompute: feeding the
  * embeddings through [[VecStream.annStream]] in ingest-order drops must
  * produce, for each drop, exactly the bucket-collision cosine matches
  * a batch job would compute for the same new-vs-earlier split — state
  * persisted in the bucketed index + deltas, never the state store.
  */
class VecStreamSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  private def embeddings = Tables.load(spark, sfDir, "embeddings")
    .select($"vec_id", $"embedding", $"label")

  /** The batch twin: q41-bucket collisions of `newSide` against
    * `corpus`, cosine-scored, at/above `thr`.
    */
  private def expectedMatches(corpus: org.apache.spark.sql.DataFrame,
      newSide: org.apache.spark.sql.DataFrame, thr: Double,
      nPlanes: Int) = {
    val c = corpus.select(
      hyperplaneBucketFused($"embedding", nPlanes, seed = 42).as("bucket"),
      $"vec_id".as("corpus_id"), $"embedding".as("corpus_emb"))
    val n = newSide.select(
      hyperplaneBucketFused($"embedding", nPlanes, seed = 42).as("bucket"),
      $"vec_id".as("new_id"), $"embedding".as("new_emb"))
    c.join(n, Seq("bucket"))
      .select($"new_id", $"corpus_id",
        cosineFused($"new_emb", $"corpus_emb").as("cos_sim"))
      .filter($"cos_sim" >= thr)
  }

  test("streaming ANN ingest: each drop's matches equal the batch recompute") {
    val emb = embeddings.cache()
    val base = Files.createTempDirectory("graft_vecstream").toString
    val dropDir = s"$base/drops"
    Files.createDirectories(java.nio.file.Paths.get(dropDir))
    val st = VecStream.AnnState(
      indexTable = "vecstream_idx",
      vecsPath = s"$base/admitted",
      matchesPath = s"$base/matches",
      nPlanes = 4, // 16 buckets: dense enough for cross-split collisions at sf0.001
      simThreshold = 0.4)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    val q = VecStream.annStream(VecStream.read(spark, dropDir), st)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      for (m <- 0L to 2L) {
        emb.filter($"vec_id" % 3 === m).coalesce(1)
          .write.mode("append").parquet(dropDir)
        q.processAllAvailable()
      }
    } finally q.stop()

    val emitted = spark.read.parquet(st.matchesPath)
    // drop 0 saw an empty corpus
    assert(emitted.filter($"batch" === 0).count() == 0)
    // final drop: new-vs-(drops 0,1) — row-identical to the batch form,
    // cosine values exact (same fused expression on both paths)
    val streamed = emitted.filter($"batch" === 2)
      .select($"new_id", $"corpus_id", $"cos_sim")
      .collect().map(_.toSeq).toSet
    val expected = expectedMatches(
      emb.filter($"vec_id" % 3 =!= 2), emb.filter($"vec_id" % 3 === 2),
      st.simThreshold, st.nPlanes).collect().map(_.toSeq).toSet
    assert(expected.nonEmpty, "threshold too high for the testdata")
    assert(streamed == expected)
    // every vector admitted exactly once; index deltas cover them all
    assert(spark.read.parquet(st.vecsPath).count() == emb.count())
    assert(spark.read.parquet(VecStream.deltaDir(st)).count() == emb.count())
    // prefix semantics: drop 1 only matches drop 0
    val mid = emitted.filter($"batch" === 1)
    assert(mid.filter($"new_id" % 3 =!= 1).count() == 0)
    assert(mid.filter($"corpus_id" % 3 =!= 0).count() == 0)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    emb.unpersist()
  }

  test("replay: re-processing a committed batch leaves all state unchanged") {
    val emb = embeddings.cache()
    val base = Files.createTempDirectory("graft_vecstream_replay").toString
    val st = VecStream.AnnState(
      indexTable = "vecstream_replay_idx",
      vecsPath = s"$base/admitted",
      matchesPath = s"$base/matches",
      nPlanes = 4, // 16 buckets: dense enough for cross-split collisions at sf0.001
      simThreshold = 0.4)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    val d0 = emb.filter($"vec_id" % 3 === 0)
    val d1 = emb.filter($"vec_id" % 3 === 1)
    VecStream.processBatch(d0, 0L, st)
    VecStream.processBatch(d1, 1L, st)
    def counts() = (
      spark.read.parquet(st.vecsPath).count(),
      spark.read.parquet(VecStream.deltaDir(st)).count(),
      spark.read.parquet(st.matchesPath).count())
    val before = counts()
    val matchesBefore = spark.read.parquet(st.matchesPath)
      .collect().map(_.toSeq).toSet
    // at-least-once delivery: batch 1 fires again
    VecStream.processBatch(d1, 1L, st)
    assert(counts() == before)
    val matchesAfter = spark.read.parquet(st.matchesPath)
      .collect().map(_.toSeq).toSet
    assert(matchesAfter == matchesBefore)
    // in particular: no self-matches from probing state that already
    // contains the replayed batch
    assert(!matchesAfter.exists(r => r.head == r(1)))
    // EARLIER-batch replay against LATER state: after batch 2, batch 0
    // fires again. It may only see vectors admitted before it (none), so
    // the matches stay value-identical and never point at a vector
    // admitted later
    VecStream.processBatch(emb.filter($"vec_id" % 3 === 2), 2L, st)
    val matchesAt2 = spark.read.parquet(st.matchesPath)
      .collect().map(_.toSeq).toSet
    VecStream.processBatch(d0, 0L, st)
    assert(spark.read.parquet(st.matchesPath).collect().map(_.toSeq).toSet ==
      matchesAt2, "earlier-batch replay against later state changed matches")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    emb.unpersist()
  }

  test("compact folds deltas into the bucketed base; probe results unchanged") {
    val emb = embeddings.cache()
    val base = Files.createTempDirectory("graft_vecstream_compact").toString
    val st = VecStream.AnnState(
      indexTable = "vecstream_compact_idx",
      vecsPath = s"$base/admitted",
      matchesPath = s"$base/matches",
      nPlanes = 4, // 16 buckets: dense enough for cross-split collisions at sf0.001
      simThreshold = 0.4)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    val d0 = emb.filter($"vec_id" % 3 === 0)
    val d1 = emb.filter($"vec_id" % 3 === 1)
    val d2 = emb.filter($"vec_id" % 3 === 2)
    VecStream.processBatch(d0, 0L, st)
    VecStream.processBatch(d1, 1L, st)
    VecStream.compact(spark, st)
    // deltas gone, base carries every admitted vector
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(VecStream.deltaDir(st))))
    assert(spark.table(st.indexTable).count() == d0.count() + d1.count())
    // a post-compact drop probes the base alone and still reproduces
    // the batch recompute exactly
    VecStream.processBatch(d2, 2L, st)
    val streamed = spark.read.parquet(s"${st.matchesPath}/batch=2")
      .select($"new_id", $"corpus_id", $"cos_sim")
      .collect().map(_.toSeq).toSet
    val expected = expectedMatches(d0.unionByName(d1), d2, st.simThreshold,
      st.nPlanes).collect().map(_.toSeq).toSet
    assert(streamed == expected && expected.nonEmpty)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    emb.unpersist()
  }

  test("crashed compaction: a destroyed base rebuilds from the admitted store") {
    // the worst crash window: compact() has DROPped the base (and a
    // prior compact already consumed the deltas) but died before the
    // replacement committed. The next batch must rebuild the base from
    // the vecs store — NOT create an empty one and silently lose every
    // compacted match.
    val emb = embeddings.cache()
    val base = Files.createTempDirectory("graft_vecstream_crash").toString
    val st = VecStream.AnnState(
      indexTable = "vecstream_crash_idx",
      vecsPath = s"$base/admitted",
      matchesPath = s"$base/matches",
      nPlanes = 4,
      simThreshold = 0.4)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    val d0 = emb.filter($"vec_id" % 3 === 0)
    val d1 = emb.filter($"vec_id" % 3 === 1)
    val d2 = emb.filter($"vec_id" % 3 === 2)
    VecStream.processBatch(d0, 0L, st)
    VecStream.processBatch(d1, 1L, st)
    VecStream.compact(spark, st) // deltas folded and deleted
    spark.sql(s"DROP TABLE `${st.indexTable}`") // simulated mid-compact crash
    VecStream.processBatch(d2, 2L, st)
    val streamed = spark.read.parquet(s"${st.matchesPath}/batch=2")
      .select($"new_id", $"corpus_id", $"cos_sim")
      .collect().map(_.toSeq).toSet
    val expected = expectedMatches(d0.unionByName(d1), d2, st.simThreshold,
      st.nPlanes).collect().map(_.toSeq).toSet
    assert(streamed == expected && expected.nonEmpty,
      s"lost compacted state: ${streamed.size} vs ${expected.size} matches")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    emb.unpersist()
  }

  test("restart: a fresh query on the same checkpoint resumes over base+delta state") {
    // Mirror of DocStreamSpec's restart case (the r7 verdict's missing
    // coverage): process two drops, STOP the query, compact (so durable
    // state is a populated BASE), start a FRESH query on the same
    // checkpoint and feed a third drop. The second query must continue
    // the batch numbering (no replay of committed batches), admit each
    // vector exactly once, and produce drop 3's matches against the
    // compacted corpus exactly as an uninterrupted run would — proving a
    // cold restart recovers from the base+delta store, not memory.
    val emb = embeddings.cache()
    val base = Files.createTempDirectory("graft_vecstream_restart").toString
    val dropDir = s"$base/drops"
    Files.createDirectories(java.nio.file.Paths.get(dropDir))
    val st = VecStream.AnnState(
      indexTable = "vecstream_restart_idx",
      vecsPath = s"$base/admitted",
      matchesPath = s"$base/matches",
      nPlanes = 4,
      simThreshold = 0.4)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")

    val q1 = VecStream.annStream(VecStream.read(spark, dropDir), st)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      for (m <- 0L to 1L) {
        emb.filter($"vec_id" % 3 === m).coalesce(1)
          .write.mode("append").parquet(dropDir)
        q1.processAllAvailable()
      }
    } finally q1.stop()
    // fold the deltas so the restarted query probes a populated base
    VecStream.compact(spark, st)
    assert(spark.table(st.indexTable).count() ==
      emb.filter($"vec_id" % 3 =!= 2).count())

    val q2 = VecStream.annStream(VecStream.read(spark, dropDir), st)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      emb.filter($"vec_id" % 3 === 2).coalesce(1)
        .write.mode("append").parquet(dropDir)
      q2.processAllAvailable()
    } finally q2.stop()

    // no replay of committed batches: every vector admitted exactly once
    val admitted = spark.read.parquet(st.vecsPath)
    assert(admitted.count() == emb.count())
    assert(admitted.groupBy($"vec_id").count().filter($"count" > 1).count() == 0)
    // batch numbering continued across the restart; drop 3's matches are
    // the batch recompute against drops 1+2
    val streamed = spark.read.parquet(s"${st.matchesPath}/batch=2")
      .select($"new_id", $"corpus_id", $"cos_sim")
      .collect().map(_.toSeq).toSet
    val expected = expectedMatches(
      emb.filter($"vec_id" % 3 =!= 2), emb.filter($"vec_id" % 3 === 2),
      st.simThreshold, st.nPlanes).collect().map(_.toSeq).toSet
    assert(streamed == expected && expected.nonEmpty,
      s"restart lost state: ${streamed.size} vs ${expected.size} matches")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    emb.unpersist()
  }

  test("index probe plan: bucketed scan in effect, index side never exchanged") {
    // the DedupIndex scale property, asserted for the vector index: the
    // corpus-sized side of the probe join is read through its bucket
    // layout and never re-shuffled — only the batch side moves
    val emb = embeddings.cache()
    val tbl = "vecstream_plan_idx"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    // at sf0.001 the index is small enough that AQE would broadcast it
    // (fine at this size, but it hides the layout the test exists to
    // pin); force the at-scale join strategy, where the bucketed
    // distribution is what saves the corpus-side exchange
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    VecStream.writeIndex(emb.filter($"vec_id" % 3 =!= 2), tbl,
      nPlanes = 4, nBuckets = 8)
    val fresh = emb.filter($"vec_id" % 3 === 2).select(
      hyperplaneBucketFused($"embedding", 4, seed = 42).as("bucket"),
      $"vec_id".as("new_id"), $"embedding".as("new_emb"))
    val probe = spark.table(tbl)
      .select($"bucket", $"vec_id".as("corpus_id"),
        $"embedding".as("corpus_emb"))
      .join(fresh, Seq("bucket"))
      .select($"new_id", $"corpus_id",
        cosineFused($"new_emb", $"corpus_emb").as("cos_sim"))
    probe.count() // let AQE finalize the real plan
    val plan = probe.queryExecution.executedPlan
    assert(plan.toString.contains("Bucketed: true") &&
      plan.toString.contains("SelectedBucketsCount"),
      s"bucketed read not in effect:\n${plan.toString.take(1200)}")
    val joins = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty, s"no join in plan:\n$plan")
    val indexSide = Seq(joins.head.left, joins.head.right)
      .filter(_.toString.contains(tbl))
    assert(indexSide.length == 1, s"index scan not under the join:\n$plan")
    val indexShuffles = collect(indexSide.head) {
      case e: ShuffleExchangeLike => e
    }
    assert(indexShuffles.isEmpty, s"index side re-exchanged:\n$plan")
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    emb.unpersist()
  }
}
