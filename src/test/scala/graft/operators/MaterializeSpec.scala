package graft.operators

import graft.TestSpark
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint-plus-metrics primitive the corpus line materializes
  * every step through, and the lifecycle its callers promise: superseded
  * checkpoints are released, and nothing is left in the CacheManager.
  * (CorpusPrepSpec pins the same lifecycle for `CorpusPrep.run` and
  * `ingestBatch`.)
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddIdOf(checkpoint: org.apache.spark.sql.DataFrame): Int =
    checkpoint.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.rdd.id
    }.get

  test("observed count and sum equal count() and agg(sum) on the same frame, empty frame included") {
    val frames = Seq(
      "non-empty" -> spark.range(0, 1000, 1, 4).toDF("v").filter($"v" % 7 =!= 3),
      "empty" -> spark.range(0, 1000, 1, 4).toDF("v").filter($"v" < 0))
    frames.foreach { case (what, df) =>
      val (ck, m) = Materialize(df, count(lit(1)), sum($"v"))
      val sumOf = (f: org.apache.spark.sql.DataFrame) =>
        f.agg(sum($"v")).head().get(0)
      assert(m.getLong(0) == df.count(), what)
      assert(m.getLong(0) == ck.count(), what)
      assert(m.get(1) == sumOf(df), what)
      assert(m.get(1) == sumOf(ck), what)
      assert(ck.as[Long].collect().sorted.toSeq ==
        df.as[Long].collect().sorted.toSeq, what)
      Materialize.release(ck)
    }
    val (_, empty) = Materialize(spark.range(0).toDF("v"), count(lit(1)), sum($"v"))
    assert(empty.getLong(0) == 0L)
    assert(empty.isNullAt(1), "sum over no rows is null")
  }

  test("release drops the checkpoint's RDD from the persisted set; only checkpoints are accepted") {
    val (ck, _) = Materialize(spark.range(0, 100).toDF("v"), count(lit(1)))
    val id = rddIdOf(ck)
    assert(persistedIds.contains(id))
    Materialize.release(ck)
    assert(!persistedIds.contains(id))
    intercept[IllegalArgumentException](
      Materialize.release(spark.range(0, 3).toDF("v")))
  }

  test("resolve leaves nothing cached and pins exactly its returned checkpoint") {
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (20L, 21L)).toDF("a_id", "b_id")
    val before = persistedIds
    val resolved = DedupCluster.resolve(pairs)
    val added = persistedIds -- before
    assert(added == Set(rddIdOf(resolved)),
      s"resolve left $added persisted, expected only its result")
    assert(spark.sharedState.cacheManager.isEmpty)
    // the pinned checkpoint is the full result, readable with no recompute
    assert(resolved.as[(Long, Long)].collect().toMap == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }
}
