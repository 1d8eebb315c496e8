package graft.operators

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q148's load-bearing property mirrors q139's, with weight mass in
  * place of row count: the estimate and the exact weighted type-1
  * quantile (smallest value whose cumulative weight reaches q·W) both
  * lie inside the selected bin's value range, so |est − exact| ≤
  * err_bound_cents — structural, not statistical. Plus the semantics
  * that make the weighted member worth having: heavy rows PULL the
  * quantile (pinned on a fixture where the weighted median provably
  * differs from the unweighted one), non-positive-weight rows carry no
  * mass, and the state is a pure function of the input multiset
  * (partitioning invariance).
  */
class WeightedHistQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def q148 = graft.SparkEntry.queries("q148_weighted_quantiles")

  /** Exact weighted type-1 quantile over (value, weight) pairs. */
  private def wdisc(pairs: Seq[(Long, Long)], qPct: Int): Long = {
    val sorted = pairs.sortBy(_._1)
    val w = sorted.map(_._2).sum
    var cum = 0L
    sorted.find { case (_, wi) => cum += wi; 100L * cum >= qPct * w }.get._1
  }

  test("sf0.001: |est - exact weighted quantile| <= err_bound for every group x q") {
    val rows = q148(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val pairs = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_returnflag",
        ($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long").as("c"),
        ($"l_quantity".cast("decimal(12,2)") * 100).cast("long").as("w"))
      .filter($"w" > 0)
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) =>
        f -> rs.map(r => (r.getLong(1), r.getLong(2))).toSeq }
    rows.foreach { r =>
      val flag = r.getString(0)
      val wTotal = r.getLong(1)
      val bound = r.getLong(2)
      val ps = pairs(flag)
      assert(wTotal == ps.map(_._2).sum, s"flag=$flag W")
      for ((qPct, i) <- Seq(25, 50, 75, 95).zipWithIndex) {
        val est = r.getLong(3 + i)
        val exact = wdisc(ps, qPct)
        assert(math.abs(est - exact) <= bound,
          s"flag=$flag q=$qPct est=$est exact=$exact bound=$bound")
      }
    }
  }

  test("hand fixture: heavy rows pull the quantile (weighted median != unweighted median)") {
    // cents 1..10, quantity = value: W = 100·55; weighted p50 is the
    // smallest i with 1+…+i ≥ 27.5 ⇒ 7, vs the unweighted median 5 —
    // the weighting demonstrably moves the answer. err_bound = 1
    // (span 10 « 256 bins ⇒ singleton bins).
    val dir = TempDirs("graft_whq")
    (1 to 10).map(c => ("A", BigDecimal(c) / 100, c.toDouble))
      .toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    val row = q148(spark, dir).collect()(0)
    assert(row.getLong(1) == 5500L)            // W in quantity-cents
    assert(row.getLong(2) == 1L)               // err_bound_cents
    val p50 = row.getLong(4)
    assert(math.abs(p50 - 7L) <= 1L, s"weighted p50=$p50")
    assert(p50 > 5L, "weighted median must sit above the unweighted one")
    val exact = (1 to 10).map(c => (c.toLong, 100L * c))
    for ((qPct, i) <- Seq(25, 50, 75, 95).zipWithIndex)
      assert(math.abs(row.getLong(3 + i) - wdisc(exact, qPct)) <= 1L)
  }

  test("non-positive-weight rows carry no quantile mass") {
    val dir = TempDirs("graft_whq0")
    // ten real rows at 1..10 cents weight 1 unit each, plus a zero-
    // quantity row and a negative-quantity row at 99.99 — both must be
    // invisible (W unchanged, quantiles unmoved)
    val rows = (1 to 10).map(c => ("A", BigDecimal(c) / 100, 1.0)) ++
      Seq(("A", BigDecimal("99.99"), 0.0), ("A", BigDecimal("99.99"), -3.0))
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    val row = q148(spark, dir).collect()(0)
    assert(row.getLong(1) == 1000L)
    assert((3 to 6).map(row.getLong).forall(_ <= 10L),
      "a zero/negative-weight row must never become a quantile")
  }

  test("result is a pure function of the multiset (partitioning-invariant)") {
    val base = q148(spark, "/root/testdata/sf0.001").collect().map(_.toSeq).toSet
    val dir = TempDirs("graft_whq_p")
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartition(17).write.parquet(s"$dir/lineitem.parquet")
    val re = q148(spark, dir).collect().map(_.toSeq).toSet
    assert(re == base)
  }
}
