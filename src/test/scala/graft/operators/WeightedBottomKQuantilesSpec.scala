package graft.operators

import graft.{TempDirs, TestSpark}
import graft.functions.WeightedBottomK
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q151's load-bearing properties:
  *   - the EXACT branch: a group with n ≤ k keeps its whole (value,
  *     weight) multiset, so its quantiles are the exact type-1 WEIGHTED
  *     quantiles (smallest value whose cumulative weight reaches q·W) —
  *     pinned on a hand-computed fixture;
  *   - the SATURATED branch: the PPS uniform order-statistic read lands
  *     within a sane weighted-rank band of its target on the fixed gate
  *     corpus (no formal DKW analogue exists for weighted WOR — see
  *     WeightedBottomK's scaladoc — so this is a pinned sanity band on
  *     deterministic data, not a probabilistic guarantee);
  *   - the sketch state is a pure function of the input multiset —
  *     partitioning/merge-tree invariance, the property that lets it
  *     sit under the cross-engine hash gate;
  *   - the Aggregator's merge is commutative and keeps exactly the k
  *     smallest triples, duplicates included, sentinel keys skipped.
  */
class WeightedBottomKQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def q151 = graft.SparkEntry.queries("q151_weighted_bottomk_quantiles")

  test("hand-computed fixture: value i with quantity i (complete sample, exact weighted quantiles)") {
    val dir = TempDirs("graft_wbk")
    // cents 1..10, weight(centi-units) = 100·i; W = 5500. The exact
    // type-1 weighted quantiles: p25=5, p50=7, p75=9, p95=10.
    (1 to 10).map(c => ("A", c.toLong, c, BigDecimal(c) / 100, BigDecimal(c)))
      .toDF("l_returnflag", "l_orderkey", "l_linenumber",
        "l_extendedprice", "l_quantity")
      .withColumn("l_extendedprice", $"l_extendedprice".cast("decimal(12,2)"))
      .withColumn("l_quantity", $"l_quantity".cast("double"))
      .write.parquet(s"$dir/lineitem.parquet")
    val r = q151(spark, dir).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(1) == 10L) // n
    assert(row.getLong(2) == 10L) // m — complete sample, exact branch
    assert(row.getLong(3) == 5500L) // w_total
    assert(row.getLong(4) == 5500L) // ws_kept == w_total when complete
    assert((5 to 8).map(row.getLong) == Seq(5L, 7L, 9L, 10L))
  }

  test("zero/NULL-weight and NULL-value rows are excluded, never sampled") {
    val dir = TempDirs("graft_wbk0")
    Seq(
      ("A", 1L, 1, Some(BigDecimal(1)), Some(0.0)),   // w = 0: excluded
      ("A", 2L, 1, Some(BigDecimal(2)), None),         // w NULL: excluded
      ("A", 3L, 1, None, Some(3.0)),                   // c NULL: excluded
      ("A", 4L, 1, Some(BigDecimal(4)), Some(2.0)),
      ("A", 5L, 1, Some(BigDecimal(5)), Some(1.0)))
      .toDF("l_returnflag", "l_orderkey", "l_linenumber",
        "l_extendedprice", "l_quantity")
      .withColumn("l_extendedprice", $"l_extendedprice".cast("decimal(12,2)"))
      .write.parquet(s"$dir/lineitem.parquet")
    val r = q151(spark, dir).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(1) == 2L) // n: only the two valid rows
    assert(row.getLong(2) == 2L)
    assert(row.getLong(3) == 300L) // 2.0 + 1.0 quantity → 300 centi-units
    // cumulative by value: 400¢ carries 200/300, 500¢ the rest →
    // p25=p50=400 (cum 200 ≥ 75, ≥ 150), p75=500 (200 < 225), p95=500
    assert((5 to 8).map(row.getLong) == Seq(400L, 400L, 500L, 500L))
  }

  test("sf0.01 saturated branch: weighted rank of each estimate is within the sanity band") {
    val rows = q151(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    val data = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select($"l_returnflag",
        ($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long").as("c"),
        ($"l_quantity".cast("decimal(12,2)") * 100).cast("long").as("w"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) =>
        f -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toIndexedSeq
      }
    rows.foreach { r =>
      val flag = r.getString(0)
      val n = r.getLong(1)
      val m = r.getLong(2)
      val vw = data(flag)
      assert(n == vw.size.toLong)
      assert(m == math.min(n, 1024L))
      assert(m < n, s"flag=$flag expected the saturated branch at sf0.01")
      val wTot = vw.map(_._2).sum
      assert(r.getLong(3) == wTot)
      // pinned sanity band on the fixed corpus (deterministic hash —
      // this is a regression pin, not a flaky statistical test)
      val eps = 0.08
      for ((qPct, i) <- Seq(25, 50, 75, 95).zipWithIndex) {
        val est = r.getLong(5 + i)
        val fLe = vw.filter(_._1 <= est).map(_._2).sum.toDouble / wTot
        val fLt = vw.filter(_._1 < est).map(_._2).sum.toDouble / wTot
        assert(fLe >= qPct / 100.0 - eps,
          s"flag=$flag q=$qPct est=$est Fw(est)=$fLe below ${qPct / 100.0 - eps}")
        assert(fLt <= qPct / 100.0 + eps,
          s"flag=$flag q=$qPct est=$est Fw(est-)=$fLt above ${qPct / 100.0 + eps}")
      }
      // monotone across targets
      val ps = (5 to 8).map(r.getLong)
      assert(ps == ps.sorted)
    }
  }

  test("result is a pure function of the multiset (partitioning-invariant)") {
    val base = q151(spark, "/root/testdata/sf0.01").collect().map(_.toSeq).toSet
    val dir = TempDirs("graft_wbk_parts")
    spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .repartition(17).write.parquet(s"$dir/lineitem.parquet")
    val re = q151(spark, dir).collect().map(_.toSeq).toSet
    assert(re == base)
  }

  test("aggregator: merge is commutative, keeps the k smallest triples, duplicates included") {
    val agg = new WeightedBottomK.Agg(4)
    def fold(ts: Seq[(Long, Long, Long)]): Array[Long] =
      ts.foldLeft(agg.zero)((b, t) => agg.reduce(b, t))
    val a = fold(Seq((10L, 1L, 2L), (3L, 7L, 5L), (3L, 7L, 5L), (50L, 2L, 1L)))
    val b = fold(Seq((4L, 9L, 3L), (3L, 7L, 5L), (-1L, 99L, 9L))) // sentinel skipped
    val ab = agg.merge(a.clone(), b.clone())
    val ba = agg.merge(b.clone(), a.clone())
    assert(ab.toSeq == ba.toSeq)
    // k=4 smallest triples of the union multiset
    assert(ab.toSeq == Seq(3L, 7L, 5L, 3L, 7L, 5L, 3L, 7L, 5L, 4L, 9L, 3L))
    // finish emits (value, weight) pairs sorted by (value, weight)
    assert(agg.finish(ab).toSeq == Seq((7L, 5L), (7L, 5L), (7L, 5L), (9L, 3L)))
    // saturated reduce displaces the max triple in place
    val c = agg.reduce(ab, (2L, 100L, 7L))
    assert(c.toSeq == Seq(2L, 100L, 7L, 3L, 7L, 5L, 3L, 7L, 5L, 3L, 7L, 5L))
    // key ties break by (value, weight) lexicographically
    val d = agg.reduce(c, (3L, 6L, 9L))
    assert(d.toSeq == Seq(2L, 100L, 7L, 3L, 6L, 9L, 3L, 7L, 5L, 3L, 7L, 5L))
  }
}
