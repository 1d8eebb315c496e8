package graft.operators

import graft.{TempDirs, TestSpark}
import graft.functions.BottomK
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q141's load-bearing properties:
  *   - the emitted DKW bound holds against the exact empirical CDF on
  *     real data (a statistical guarantee at 99% confidence, checked
  *     and pinned on the fixed gate corpus);
  *   - a group with n ≤ k rows keeps its whole multiset, so its
  *     quantiles are EXACT type-1 order statistics (structural);
  *   - the sketch state is a pure function of the input multiset —
  *     partitioning/merge-tree invariance, the property that lets it
  *     sit under the cross-engine hash gate where GK/KLL cannot (see
  *     BottomK's scaladoc);
  *   - the Aggregator's merge is commutative and keeps exactly the k
  *     smallest pairs, duplicates included.
  */
class BottomKQuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def q141 = graft.SparkEntry.queries("q141_bottomk_quantiles")

  /** The exact type-1 quantile: smallest value whose rank ≥ ⌈q·n/100⌉. */
  private def disc(sorted: IndexedSeq[Long], qPct: Int): Long =
    sorted((qPct * sorted.size + 99) / 100 - 1)

  test("sf0.01: every estimate's empirical CDF is within the emitted DKW bound") {
    val rows = q141(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    val cents = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select($"l_returnflag",
        ($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted.toIndexedSeq }
    rows.foreach { r =>
      val flag = r.getString(0)
      val n = r.getLong(1)
      val eps = r.getLong(3).toDouble / 1e6
      val vals = cents(flag)
      assert(n == vals.size.toLong, s"flag=$flag n")
      assert(r.getLong(3) == BottomK.epsPpm(1024, 0.01))
      for ((qPct, i) <- Seq(25, 50, 75, 95).zipWithIndex) {
        val est = r.getLong(4 + i)
        // DKW: the sample CDF is uniformly within eps of the population
        // CDF, and est is the sample's type-1 q-quantile, so the
        // population CDF straddles q/100 within eps at est
        val le = vals.count(_ <= est).toDouble / n
        val lt = vals.count(_ < est).toDouble / n
        assert(le >= qPct / 100.0 - eps,
          s"flag=$flag q=$qPct est=$est F(est)=$le below ${qPct / 100.0 - eps}")
        assert(lt <= qPct / 100.0 + eps,
          s"flag=$flag q=$qPct est=$est F(est-)=$lt above ${qPct / 100.0 + eps}")
      }
    }
  }

  test("a group with n <= k keeps everything: quantiles are exact order statistics") {
    // sf0.001's lineitem groups all sit under k=1024, so the registry
    // query at that scale IS the exhaustive case
    val rows = q141(spark, "/root/testdata/sf0.001").collect()
    val cents = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_returnflag",
        ($"l_extendedprice".cast("decimal(12,2)") * 100).cast("long").as("c"))
      .collect().groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).sorted.toIndexedSeq }
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val vals = cents(r.getString(0))
      if (r.getLong(1) <= 1024L) {
        assert(r.getLong(2) == r.getLong(1)) // m == n: complete sample
        for ((qPct, i) <- Seq(25, 50, 75, 95).zipWithIndex)
          assert(r.getLong(4 + i) == disc(vals, qPct),
            s"flag=${r.getString(0)} q=$qPct not exact on complete sample")
      }
    }
  }

  test("hand-computed fixture: cents 1..10 (complete sample)") {
    val dir = TempDirs("graft_bk")
    (1 to 10).map(c => ("A", c.toLong, c, BigDecimal(c) / 100))
      .toDF("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      .withColumn("l_extendedprice", $"l_extendedprice".cast("decimal(12,2)"))
      .write.parquet(s"$dir/lineitem.parquet")
    val r = q141(spark, dir).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(1) == 10L) // n
    assert(row.getLong(2) == 10L) // m — complete
    assert((4 to 7).map(row.getLong) == Seq(3L, 5L, 8L, 10L))
  }

  test("result is a pure function of the multiset (partitioning-invariant)") {
    val base = q141(spark, "/root/testdata/sf0.01").collect().map(_.toSeq).toSet
    val dir = TempDirs("graft_bk_parts")
    spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .repartition(17).write.parquet(s"$dir/lineitem.parquet")
    val re = q141(spark, dir).collect().map(_.toSeq).toSet
    assert(re == base)
  }

  test("aggregator: merge is commutative, keeps the k smallest pairs, duplicates included") {
    val agg = new BottomK.Agg(4)
    def fold(pairs: Seq[(Long, Long)]): Array[Long] =
      pairs.foldLeft(agg.zero)((b, p) => agg.reduce(b, p))
    val a = fold(Seq((10L, 1L), (3L, 7L), (3L, 7L), (50L, 2L)))
    val b = fold(Seq((4L, 9L), (3L, 7L), (-1L, 99L))) // sentinel skipped
    val ab = agg.merge(a.clone(), b.clone())
    val ba = agg.merge(b.clone(), a.clone())
    assert(ab.toSeq == ba.toSeq)
    // k=4 smallest pairs of the union multiset {(3,7)x3,(4,9),(10,1),(50,2)}
    assert(ab.toSeq == Seq(3L, 7L, 3L, 7L, 3L, 7L, 4L, 9L))
    // finish sorts the carried VALUES ascending
    assert(agg.finish(ab).toSeq == Seq(7L, 7L, 7L, 9L))
    // saturated reduce displaces the max pair in place
    val c = agg.reduce(ab, (2L, 100L))
    assert(c.toSeq == Seq(2L, 100L, 3L, 7L, 3L, 7L, 3L, 7L))
  }

  test("DKW constant: eps(k=1024, d=0.01) = 50865 ppm, exact case eps(n<=k) unused") {
    assert(BottomK.epsPpm(1024, 0.01) ==
      math.ceil(math.sqrt(math.log(200.0) / 2048.0) * 1e6).toLong)
  }
}
