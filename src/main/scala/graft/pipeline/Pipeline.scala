package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end driver: CSV → staging → warehouse (SCD2 dims + facts) →
  * analytics (KPI tables + views), mirroring the reference's three DAGs
  * (`staging_dag.py`, `warehouse_dag.py`, `analytics_dag.py`) in the same
  * stage order, each stage's independent builds running concurrently
  * (see [[Pipeline.run]]). `asOf` replaces every
  * CURRENT_DATE so runs are reproducible (§2.8 gotcha 11). Each stage
  * persists parquet, so stages are independently re-runnable — and fact
  * tables are written partitioned by order month (the Spark analogue of
  * the reference's monthly RANGE partitioning) so date-filtered reads
  * prune at the source. `stageSeconds` holds each stage's wall time in
  * run order (staging, warehouse, analytics, dq), next to the stage's
  * data-quality results in `checks`; callers that compose the stages
  * themselves may leave it empty.
  */
final case class PipelineResult(
    staging: Map[String, DataFrame],
    dimCustomers: DataFrame,
    dimProducts: DataFrame,
    dimTime: DataFrame,
    dimCampaigns: DataFrame,
    factOrders: DataFrame,
    factOrderItems: DataFrame,
    factClickstream: DataFrame,
    factInventory: DataFrame,
    customerMetrics: DataFrame,
    productMetrics: DataFrame,
    dailySales: DataFrame,
    monthlyTrends: DataFrame,
    customerAcquisition: DataFrame,
    campaignAttribution: DataFrame,
    checks: Seq[DataQuality.CheckResult],
    stageSeconds: Seq[(String, Double)] = Nil) {

  /** Serving layer: register every analytics table and view as temp
    * views with the reference's `public.*` mirror names
    * (analytics_dag.py:423-440) — the engine's equivalent of the
    * Postgres passthrough views Looker reads (a long-lived session or
    * Spark Thrift Server would expose these over JDBC).
    */
  def registerViews(spark: org.apache.spark.sql.SparkSession): Unit = {
    val tables = Map(
      "customer_metrics" -> customerMetrics,
      "product_metrics" -> productMetrics,
      "daily_sales" -> dailySales,
      "monthly_trends" -> monthlyTrends,
      "customer_acquisition" -> customerAcquisition,
      "campaign_attribution" -> campaignAttribution,
      "executive_summary" -> executiveSummary,
      "top_products" -> topProducts,
      "customer_segmentation" -> customerSegmentation,
      "seasonal_performance" -> seasonalPerformance,
      "acquisition_summary" -> acquisitionSummary)
    tables.foreach { case (name, df) =>
      df.createOrReplaceTempView(s"public_$name")
    }
  }

  def executiveSummary: DataFrame =
    AnalyticsJob.executiveSummary(customerMetrics, productMetrics, dailySales)
  def topProducts: DataFrame = AnalyticsJob.topProducts(productMetrics)
  def customerSegmentation: DataFrame =
    AnalyticsJob.customerSegmentation(customerMetrics)
  def seasonalPerformance: DataFrame =
    AnalyticsJob.seasonalPerformance(monthlyTrends)
  def acquisitionSummary: DataFrame =
    AnalyticsJob.acquisitionSummary(customerAcquisition)
}

object Pipeline {

  /** Writes `df` to `path` as parquet, replacing what is there and
    * partitioned by `partitionCols` (none by default), then reads it back
    * — the hand-off every stage gives the next.
    */
  private[pipeline] def persist(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    graft.sources.Layout.writePartitioned(df, path, partitionCols)
    df.sparkSession.read.parquet(path)
  }

  /** Derived dim columns the reference adds during SCD2 load:
    * full_name (P6, NULL-propagating concat) and profit_margin (P7).
    */
  private def customerDimColumns(df: DataFrame): DataFrame =
    df.withColumn("full_name", // `||` semantics: NULL propagates (g4)
      concat(col("first_name"), lit(" "), col("last_name")))

  private def productDimColumns(df: DataFrame): DataFrame =
    df.withColumn("profit_margin",
      round((col("selling_price") - col("cost_price"))
        / col("selling_price") * 100, 2))

  /** Runs the three DAGs in the reference's stage order — staging, then
    * warehouse, then analytics, then the data-quality checks — and within
    * each stage submits the independent table builds together through
    * [[FanOut.all]], joining once before the next stage. The stages map
    * onto the reference's task graphs (SURVEY.md §3.1-3.3):
    *  - staging: the seven CSV loads ([[StagingJob.run]]; the reference's
    *    "4 parallel loads", staging_dag.py:299);
    *  - warehouse: the eight dim and fact writes. The reference orders
    *    `[dim_customers, dim_products, dim_time] >> fact_*`
    *    (warehouse_dag.py:552-563); here every fact is planned from the
    *    dims' lazy plans over staging, so all eight writes are
    *    independent;
    *  - analytics: the six KPI writes (the fan-outs of
    *    analytics_dag.py:546-550; `campaign_attribution` is planned from
    *    `daily_sales`'s plan, not its output);
    *  - DQ: the three check groups.
    * Every stage reads the previous stage's persisted parquet. The builds
    * are mostly single-task jobs, so concurrency is bounded by Spark's
    * `local[N]` slots alone; there is no pool-size setting to tune.
    * A failing build fails the run with its own exception once its
    * siblings have ended, so nothing is still writing into `outDir` when
    * `run` returns or throws.
    */
  def run(spark: SparkSession, csvDir: String, outDir: String,
      asOfDate: LocalDate): PipelineResult = {
    val asOf = lit(java.sql.Date.valueOf(asOfDate))
    val stageSeconds = Seq.newBuilder[(String, Double)]
    def stage[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val out = body
      stageSeconds += name -> (System.nanoTime() - t0) / 1e9
      out
    }

    // ---- DAG 1: staging ------------------------------------------------
    val staging = stage("staging") {
      StagingJob.run(spark, csvDir, s"$outDir/staging")
    }

    // ---- DAG 2: warehouse ---------------------------------------------
    val dimTime = DimTime.build(staging("orders"), existing = None)

    val stagedCustomers = customerDimColumns(staging("customers"))
    val stagedProducts = productDimColumns(staging("products"))
    val dimCustomersNoKey = Scd2.initial(stagedCustomers, asOf)
    val dimProductsNoKey = Scd2.initial(stagedProducts, asOf)
    val dimCustomers =
      Scd2.withSurrogateKey(dimCustomersNoKey, "customer_key", "customer_id")
    val dimProducts =
      Scd2.withSurrogateKey(dimProductsNoKey, "product_key", "product_id")

    val factOrders = FactJobs.factOrders(staging("orders"), dimCustomers)
    val factOrderItems = FactJobs.factOrderItems(staging("order_items"),
      factOrders, dimProducts)
    val factClickstream = FactJobs.factClickstream(staging("clickstream"),
      dimCustomers, dimProducts, dimTime)
    val factInventory = FactJobs.factInventory(staging("inventory"),
      dimProducts)
    val dimCampaigns = FactJobs.dimCampaigns(staging("marketing_campaigns"),
      dimTime)

    // Persist warehouse, facts partitioned monthly (partition pruning).
    val wh = s"$outDir/warehouse"
    def monthly(fact: DataFrame): DataFrame =
      fact.withColumn("order_month", (col("order_date_key") / 100).cast("int"))
    val Seq(wDimCustomers, wDimProducts, wDimTime, wDimCampaigns,
        wFactOrders, wFactOrderItems, wFactClickstream, wFactInventory) =
      stage("warehouse")(FanOut.all(Seq(
        () => persist(dimCustomers, s"$wh/dim_customers"),
        () => persist(dimProducts, s"$wh/dim_products"),
        () => persist(dimTime, s"$wh/dim_time"),
        () => persist(dimCampaigns, s"$wh/dim_marketing_campaigns"),
        () => persist(monthly(factOrders), s"$wh/fact_orders",
          Seq("order_month")),
        () => persist(monthly(factOrderItems), s"$wh/fact_order_items",
          Seq("order_month")),
        () => persist(factClickstream, s"$wh/fact_clickstream"),
        () => persist(factInventory, s"$wh/fact_inventory"))))

    // ---- DAG 3: analytics ---------------------------------------------
    val customerMetrics = AnalyticsJob.customerMetrics(wDimCustomers,
      wFactOrders, wDimTime, asOf)
    val productMetrics = AnalyticsJob.productMetrics(wDimProducts,
      wFactOrderItems, wFactInventory)
    val dailySales = AnalyticsJob.dailySales(wFactOrders, wDimTime)
    val monthlyTrends = AnalyticsJob.monthlyTrends(wFactOrders, wDimTime)
    val customerAcquisition = AnalyticsJob.customerAcquisition(wDimCustomers,
      wFactOrders, wDimTime)
    val campaignAttribution = AnalyticsJob.campaignAttribution(wDimCampaigns,
      dailySales)

    val an = s"$outDir/analytics"
    val Seq(aCustomerMetrics, aProductMetrics, aDailySales, aMonthlyTrends,
        aAcquisition, aAttribution) = stage("analytics")(FanOut.all(Seq(
      () => persist(customerMetrics, s"$an/customer_metrics"),
      () => persist(productMetrics, s"$an/product_metrics"),
      () => persist(dailySales, s"$an/daily_sales"),
      () => persist(monthlyTrends, s"$an/monthly_trends"),
      () => persist(customerAcquisition, s"$an/customer_acquisition"),
      () => persist(campaignAttribution, s"$an/campaign_attribution"))))

    val checks = stage("dq")(FanOut.all(Seq(
      () => DataQuality.stagingChecks(staging),
      () => DataQuality.warehouseChecks(wDimCustomers, wDimProducts,
        wFactOrders),
      () => DataQuality.analyticsChecks(aCustomerMetrics, aDailySales)))
      .flatten)

    PipelineResult(staging, wDimCustomers, wDimProducts, wDimTime,
      wDimCampaigns, wFactOrders, wFactOrderItems, wFactClickstream,
      wFactInventory, aCustomerMetrics, aProductMetrics, aDailySales,
      aMonthlyTrends, aAcquisition, aAttribution, checks,
      stageSeconds.result())
  }
}
