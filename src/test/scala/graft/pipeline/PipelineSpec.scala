package graft.pipeline

import java.time.LocalDate

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: generated CSV fixtures → staging → warehouse → analytics,
  * asserting the reference semantics (SURVEY.md §2.8) hold through the
  * whole pipeline.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val result: PipelineResult = {
    val dir = TempDirs("graft_e2e")
    DataGen.writeAll(spark, s"$dir/csv")
    Pipeline.run(spark, s"$dir/csv", s"$dir/out", LocalDate.of(2025, 7, 15))
  }

  test("staging cleaning: emails normalized, segments defaulted") {
    val c = result.staging("customers")
    assert(c.filter($"customer_segment".isNull).count() == 0)
    assert(c.filter($"customer_segment" === "Unknown").count() > 0)
    assert(c.filter($"email" =!= lower(trim($"email"))).count() == 0)
  }

  test("SCD2 initial load: one current row per business key, keyed densely") {
    val d = result.dimCustomers
    assert(d.filter(!$"is_current").count() == 0)
    val n = d.count()
    val keys = d.select($"customer_key").distinct().count()
    assert(keys == n)
    assert(d.agg(max($"customer_key")).as[Long].head() == n)
  }

  test("dim_time: valid calendar attributes (gotchas 1-2)") {
    val t = result.dimTime
    assert(t.filter($"day_of_week" < 0 || $"day_of_week" > 6).count() == 0)
    assert(t.filter($"is_weekend" =!= $"day_of_week".isin(0, 6)).count() == 0)
    assert(t.filter($"day_name".isin("Saturday", "Sunday") =!= $"is_weekend")
      .count() == 0)
    assert(t.select($"time_key").distinct().count() == t.count())
  }

  test("fact_orders: complete join, hardcoded total_items (gotcha 9)") {
    val f = result.factOrders
    assert(f.count() == result.staging("orders").count())
    assert(f.filter($"total_items" =!= 1).count() == 0)
    assert(f.filter($"customer_key".isNull).count() == 0)
  }

  test("fact_clickstream keeps anonymous events with NULL keys (J6)") {
    val f = result.factClickstream
    assert(f.count() == result.staging("clickstream").count())
    assert(f.filter($"customer_key".isNull).count() > 0)
  }

  test("customer_metrics: zero-order customers exist with 0 orders and ELSE churn (gotchas 6-7)") {
    val cm = result.customerMetrics
    assert(cm.count() == result.dimCustomers.filter($"is_current").count())
    val zero = cm.filter($"total_orders" === 0)
    assert(zero.count() > 0)
    assert(zero.filter($"churn_risk_score" =!= 0.1).count() == 0)
    assert(zero.filter($"total_spent" =!= 0).count() == 0)
    assert(cm.filter($"churn_risk_score".isNull).count() == 0)
    // reference score set only (365/180/90 ladder, analytics_dag.py:59-64)
    assert(cm.filter(!$"churn_risk_score".isin(0.9, 0.7, 0.4, 0.1))
      .count() == 0)
    assert(cm.filter($"days_since_last_order".isNull).count() == 0)
  }

  test("daily_sales carries the reference column set (profit, new_customers=0)") {
    val ds = result.dailySales
    assert(ds.columns.toSet == Set("sales_date", "total_orders",
      "total_revenue", "total_profit", "avg_order_value",
      "unique_customers", "new_customers"))
    assert(ds.filter($"new_customers" =!= 0).count() == 0)
  }

  test("daily_sales totals reconcile with fact_orders") {
    val total = result.factOrders.agg(sum($"total_amount")).as[java.math.BigDecimal]
      .head()
    val daily = result.dailySales.agg(sum($"total_revenue")).as[java.math.BigDecimal]
      .head()
    assert(total.compareTo(daily) == 0)
  }

  test("acquisition buckets partition all current customers") {
    val a = result.customerAcquisition
    assert(a.count() == result.dimCustomers.filter($"is_current").count())
    assert(a.filter($"acquisition_category".isNull).count() == 0)
    // reference ladder labels only (analytics_dag.py:261-268)
    val labels = a.select($"acquisition_category").distinct()
      .as[String].collect().toSet
    assert(labels.subsetOf(Set("No Purchase", "Same Day", "Within Week",
      "Within Month", "After Month")))
  }

  test("campaign attribution: one row per campaign, ROI guarded") {
    val att = result.campaignAttribution
    assert(att.count() == result.dimCampaigns.count())
    assert(att.filter($"campaign_roi".isNull).count() == 0)
  }

  test("executive summary replicates the cross-join semantics (gotcha 10)") {
    val es = result.executiveSummary.collect().head
    assert(es.getAs[Long]("total_customers") == result.customerMetrics.count())
    assert(es.getAs[Long]("total_products") == result.productMetrics.count())
  }

  test("closed-form executive summary == the literal triple cross join, edge cases included") {
    // the reference's view as written (analytics_dag.py:339-353)
    def crossJoined(cm: DataFrame, pm: DataFrame, ds: DataFrame): DataFrame =
      cm.select($"customer_key", $"total_spent", $"churn_risk_score")
        .crossJoin(pm.select($"product_key", $"total_revenue"))
        .crossJoin(ds.select($"sales_date", $"total_revenue".as("daily_revenue")))
        .agg(
          countDistinct($"customer_key").as("total_customers"),
          countDistinct($"product_key").as("total_products"),
          countDistinct($"sales_date").as("total_sales_days"),
          sum($"daily_revenue").as("inflated_total_revenue"),
          countDistinct(when($"churn_risk_score" < lit(0.5),
            $"customer_key")).as("active_customers"))
    def types(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    val (cm, pm, ds) =
      (result.customerMetrics, result.productMetrics, result.dailySales)
    val nullRevenue = ds.withColumn("total_revenue",
      lit(null).cast(ds.schema("total_revenue").dataType))
    Seq("fixture" -> (cm, pm, ds), "no customers" -> (cm.limit(0), pm, ds),
      "no products" -> (cm, pm.limit(0), ds), "no days" -> (cm, pm, ds.limit(0)),
      "all-null daily revenue" -> (cm, pm, nullRevenue)).foreach {
      case (label, (c, p, d)) =>
        val got = AnalyticsJob.executiveSummary(c, p, d)
        val want = crossJoined(c, p, d)
        assert(types(got) == types(want), label)
        assert(got.collect().toSeq == want.collect().toSeq, label)
    }
    val fixture = AnalyticsJob.executiveSummary(cm, pm, ds).head()
    assert(fixture.getAs[java.math.BigDecimal]("inflated_total_revenue") != null)
    assert(fixture.getAs[Long]("active_customers") > 0)
    // 2 × 2 × 5e35 overflows DECIMAL(38,2) in both forms under ANSI
    val huge = ds.limit(1).withColumn("total_revenue",
      lit("5" + "0" * 35).cast("decimal(38,2)"))
    Seq(AnalyticsJob.executiveSummary _, crossJoined _).foreach { f =>
      val e = intercept[Exception](f(cm.limit(2), pm.limit(2), huge).collect())
      assert(e.getMessage.contains("SQLSTATE: 22003"), e.getMessage) // out of range
    }
  }

  test("views: top_products ranked and limited; acquisition shares sum to 100") {
    val tp = result.topProducts.collect()
    assert(tp.length <= 20)
    assert(tp.map(_.getAs[Int]("revenue_rank")).toSeq.sorted
      == tp.map(_.getAs[Int]("revenue_rank")).toSeq)
    val shares = result.acquisitionSummary
      .agg(sum($"percentage")).as[Double].head()
    assert(math.abs(shares - 100.0) < 0.1)
  }

  test("data-quality checks all pass") {
    assert(result.checks.nonEmpty)
    val failed = result.checks.filterNot(_.passed)
    assert(failed.isEmpty, s"failed checks: ${failed.mkString("; ")}")
  }

  test("data-quality checks: names, order, values and verdicts pinned on the fixture") {
    val got = result.checks.map(c => (c.name, c.value, c.passed))
    assert(got == Seq(
      ("staging.customers.rows", 50L, true),
      ("staging.customers.null_emails", 3L, true),
      ("staging.products.nonpositive_prices", 0L, true),
      ("warehouse.dim_customers.current", 50L, true),
      ("warehouse.dim_products.current", 20L, true),
      ("warehouse.fact_orders.rows", 200L, true),
      ("warehouse.fact_orders.orphaned", 0L, true),
      ("analytics.customer_metrics.rows", 50L, true),
      ("analytics.daily_sales.rows", 158L, true),
      ("analytics.customer_metrics.null_churn", 0L, true)))
  }

  test("stage timings: one wall time per stage, in run order") {
    assert(result.stageSeconds.map(_._1) ==
      Seq("staging", "warehouse", "analytics", "dq"))
    assert(result.stageSeconds.forall(_._2 > 0))
  }

  test("serving surface: all public_* views register and answer SQL") {
    result.registerViews(spark)
    graft.Serve.registerCorpusViews(spark, "/root/testdata/sf0.001")
    val views = graft.Serve.servedViews(spark)
    assert(views.size == 11 + graft.Serve.CorpusViews.size, s"got $views")
    // the corpus half of the catalog serves rows too
    Seq("public_corpus_langs", "public_funnel", "public_retention")
      .foreach { v =>
        assert(spark.sql(s"SELECT count(*) FROM $v").head().getLong(0) > 0, v)
      }
    // every view is queryable through plain SQL on the session, like a
    // Thrift/Connect client would issue it
    views.foreach { v =>
      assert(spark.sql(s"SELECT count(*) FROM $v").head().getLong(0) >= 0)
    }
    // the reference's headline serving views carry rows
    Seq("public_customer_metrics", "public_daily_sales",
      "public_executive_summary").foreach { v =>
      assert(spark.sql(s"SELECT count(*) FROM $v").head().getLong(0) > 0, v)
    }
  }

  test("Spark Connect serving: gRPC service binds and global_temp mirrors the views") {
    result.registerViews(spark)
    graft.Serve.servedViews(spark)
      .foreach(v => spark.table(v).createOrReplaceGlobalTempView(v))
    val svc = org.apache.spark.sql.connect.service.SparkConnectService
    svc.start(spark.sparkContext)
    try {
      // remote clients resolve views through global_temp — their own
      // session state can't see plain temp views
      val globals = spark.sql("SHOW VIEWS IN global_temp")
        .select("viewName").collect().map(_.getString(0)).toSet
      assert(globals.contains("public_customer_metrics"), globals)
      // the gRPC endpoint accepts TCP connections on the default port
      val s = new java.net.Socket()
      try s.connect(new java.net.InetSocketAddress("127.0.0.1", 15002), 5000)
      finally s.close()
    } finally svc.stop(None, None)
  }

  test("SCD2 second run with a changed batch grows history") {
    val dir = TempDirs("graft_scd2")
    DataGen.writeAll(spark, s"$dir/csv", nCustomers = 20, nProducts = 10,
      nOrders = 50)
    val r1 = Pipeline.run(spark, s"$dir/csv", s"$dir/out",
      LocalDate.of(2025, 7, 15))
    // mutate one customer's city and re-merge
    val staged = r1.staging("customers")
      .withColumn("city", when($"customer_id" === "CUST_000001", lit("Moved"))
        .otherwise($"city"))
      .withColumn("full_name", concat($"first_name", lit(" "), $"last_name"))
    val next = Scd2.merge(r1.dimCustomers.drop("customer_key"), staged,
      "customer_id", Seq("email", "city", "customer_segment"),
      lit(java.sql.Date.valueOf("2025-08-01")))
    assert(next.count() == r1.dimCustomers.count() + 1)
    val moved = next.filter($"customer_id" === "CUST_000001")
      .orderBy($"effective_date").collect()
    assert(moved.length == 2)
    assert(!moved(0).getAs[Boolean]("is_current"))
    assert(moved(1).getAs[String]("city") == "Moved")
  }
}
