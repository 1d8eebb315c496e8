package graft.operators

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q139's load-bearing property is the STRUCTURAL error bound: the
  * estimate and the exact ⌈q·n⌉-th order statistic (type-1 /
  * percentile_disc quantile) both lie inside the selected bin's value
  * range, so |est − exact| ≤ err_bound_cents — a guarantee of the
  * algorithm, not a statistical tendency, pinned here on real data and
  * on hand-computed fixtures. The sketch state (per-group fixed-bin
  * counts) is a pure function of the input multiset, like q138's CMS
  * matrix — partitioning-invariance is pinned too.
  */
class HistQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def q139 = graft.SparkEntry.queries("q139_hist_quantiles")

  /** The exact type-1 quantile: smallest value whose rank ≥ ⌈q·n/100⌉. */
  private def disc(sorted: IndexedSeq[Long], qPct: Int): Long =
    sorted((qPct * sorted.size + 99) / 100 - 1)

  test("sf0.001: |est - exact disc quantile| <= err_bound for every group x q") {
    val rows = q139(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val cents = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_returnflag",
        ($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted.toIndexedSeq }
    rows.foreach { r =>
      val flag = r.getString(0)
      val n = r.getLong(1)
      val bound = r.getLong(2)
      val vals = cents(flag)
      assert(n == vals.size.toLong, s"flag=$flag n")
      for ((qPct, i) <- Seq(25, 50, 75, 95).zipWithIndex) {
        val est = r.getLong(3 + i)
        val exact = disc(vals, qPct)
        assert(math.abs(est - exact) <= bound,
          s"flag=$flag q=$qPct est=$est exact=$exact bound=$bound")
        assert(est >= vals.head && est <= vals.last, s"flag=$flag q=$qPct range")
      }
    }
  }

  /** One group, cents 1..10 (span 10 « 256 bins ⇒ singleton bins): every
    * step of the estimator is hand-computable. q=50 lands exactly on the
    * 5th order statistic (est 5); q=25/75/95 interpolate to one cent
    * below their ⌈q·n⌉-th order statistics (3, 8, 10) — at the bound,
    * never past it (err_bound = 10 div 256 + 1 = 1).
    */
  test("hand-computed fixture: cents 1..10") {
    val dir = TempDirs("graft_hq")
    (1 to 10).map(c => ("A", BigDecimal(c) / 100))
      .toDF("l_returnflag", "l_extendedprice")
      .select($"l_returnflag", $"l_extendedprice".cast("decimal(12,2)"))
      .write.parquet(s"$dir/lineitem.parquet")
    val r = q139(spark, dir).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(1) == 10L)                   // n
    assert(row.getLong(2) == 1L)                    // err_bound_cents
    assert((3 to 6).map(row.getLong) == Seq(2L, 5L, 7L, 9L))
    val sorted = (1L to 10L).toIndexedSeq
    for ((qPct, i) <- Seq(25, 50, 75, 95).zipWithIndex)
      assert(math.abs(row.getLong(3 + i) - disc(sorted, qPct)) <= 1L)
  }

  test("all-equal group collapses to the value with bound 1") {
    val dir = TempDirs("graft_hq_eq")
    Seq.fill(37)(("B", BigDecimal("7.77")))
      .toDF("l_returnflag", "l_extendedprice")
      .select($"l_returnflag", $"l_extendedprice".cast("decimal(12,2)"))
      .write.parquet(s"$dir/lineitem.parquet")
    val row = q139(spark, dir).collect()(0)
    assert(row.getLong(2) == 1L)
    assert((3 to 6).map(row.getLong).forall(_ == 777L))
  }

  test("result is a pure function of the multiset (partitioning-invariant)") {
    val base = q139(spark, "/root/testdata/sf0.001").collect().map(_.toSeq).toSet
    val dir = TempDirs("graft_hq_parts")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartition(17).write.parquet(s"$dir/lineitem.parquet")
    val re = q139(spark, dir).collect().map(_.toSeq).toSet
    assert(re == base)
  }
}
