package graft.pipeline

import java.time.LocalDate

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-value regression pin: the deterministic generator (seed 42) +
  * fixed asOf must produce these exact figures forever. A diff here
  * means engine semantics changed, not data.
  *
  * (Values captured from the first green end-to-end run; printed by the
  * test on failure for easy re-pinning after an INTENTIONAL semantic
  * change.)
  */
class GoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val result: PipelineResult = {
    val dir = TempDirs("graft_golden")
    DataGen.writeAll(spark, s"$dir/csv", nCustomers = 40, nProducts = 15,
      nOrders = 120)
    Pipeline.run(spark, s"$dir/csv", s"$dir/out", LocalDate.of(2025, 7, 15))
  }

  test("golden aggregates are stable") {
    val totalRevenue = result.factOrders
      .agg(sum($"total_amount")).as[java.math.BigDecimal].head()
    val customers = result.dimCustomers.count()
    val metricRows = result.customerMetrics.count()
    val dailyRows = result.dailySales.count()
    val got = (totalRevenue.toPlainString, customers, metricRows, dailyRows)
    info(s"golden tuple: $got")
    assert(customers == 40)
    assert(metricRows == 40)
    assert(got == (GoldenSpec.TotalRevenue, 40L, 40L, GoldenSpec.DailyRows),
      s"golden drift: $got")
  }

  test("serving views are queryable by their public names") {
    result.registerViews(spark)
    val viaSql = spark.sql(
      "SELECT total_customers FROM public_executive_summary")
      .as[Long].head()
    assert(viaSql == result.customerMetrics.count())
    assert(spark.sql("SELECT * FROM public_top_products").count() <= 20)
  }
}

object GoldenSpec {
  // pinned from the first green run (seed 42, asOf 2025-07-15)
  val TotalRevenue = "99665.20"
  val DailyRows = 101L
}
