package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytics layer (reference DAG 3, `analytics_dag.py`): six KPI tables
  * + five views, with every §2.8 semantic preserved:
  *   g3 truncating integer division (inventory_turnover),
  *   g6 COUNT(col) null-skipping (zero-order customers),
  *   g7 churn CASE ELSE branch on never-ordered customers,
  *   g8 first_order_value = MIN(total_amount) as-written,
  *   g10 executive_summary: the cross join's aggregates, in closed form,
  *   g11 CURRENT_DATE parameterized as `asOf`.
  */
object AnalyticsJob {

  /** customer_metrics (analytics_dag.py:39-73). */
  def customerMetrics(dimCustomers: DataFrame, factOrders: DataFrame,
      dimTime: DataFrame, asOf: Column): DataFrame = {
    val cur = dimCustomers.filter(col("is_current"))
    val fo = factOrders
      .join(broadcast(dimTime.select(col("time_key").as("order_date_key"),
        col("full_date"))), Seq("order_date_key"), "left")
    cur.select(col("customer_key"), col("customer_id"), col("full_name"),
      col("customer_segment"))
      .join(fo, Seq("customer_key"), "left")
      .groupBy(col("customer_key"), col("customer_id"), col("full_name"),
        col("customer_segment"))
      .agg(
        count(col("order_id")).as("total_orders"), // g6
        coalesce(sum(col("total_amount")), lit(0).cast("decimal(12,2)"))
          .as("total_spent"),
        min(col("total_amount")).as("min_order_value"),
        max(col("total_amount")).as("max_order_value"),
        min(col("full_date")).as("first_order_date"),
        max(col("full_date")).as("last_order_date"))
      .withColumn("avg_order_value",
        when(col("total_orders") > 0,
          round(col("total_spent") / col("total_orders"), 2))
          .otherwise(lit(0)))
      // Reference coalesces the published column to 0 but feeds the RAW
      // (nullable) difference into the churn CASE (analytics_dag.py:57-64);
      // both routes land never-ordered customers in ELSE 0.1 (g7).
      .withColumn("days_since_last_order",
        coalesce(datediff(asOf, col("last_order_date")), lit(0)))
      .withColumn("churn_risk_score", // g7: NULL/0 days → ELSE 0.1
        when(col("days_since_last_order") > 365, 0.9)
          .when(col("days_since_last_order") > 180, 0.7)
          .when(col("days_since_last_order") > 90, 0.4)
          .otherwise(0.1))
  }

  /** product_metrics (analytics_dag.py:91-126), with the total_inventory
    * CTE (A7) and the truncating turnover division (g3).
    */
  def productMetrics(dimProducts: DataFrame, factOrderItems: DataFrame,
      factInventory: DataFrame): DataFrame = {
    val totalInv = factInventory // A7 CTE
      .groupBy(col("product_key"))
      .agg(sum(col("current_stock")).as("total_stock"))
    val cur = dimProducts.filter(col("is_current"))
    cur.select(col("product_key"), col("product_id"), col("product_name"),
      col("category"), col("brand"), col("selling_price"), col("cost_price"),
      col("profit_margin"))
      .join(factOrderItems.select(col("product_key"), col("order_id"),
        col("quantity"), col("total_price"), col("profit_amount")),
        Seq("product_key"), "left")
      .groupBy(col("product_key"), col("product_id"), col("product_name"),
        col("category"), col("brand"), col("selling_price"),
        col("cost_price"), col("profit_margin"))
      .agg(
        count(col("order_id")).as("times_ordered"),
        coalesce(sum(col("quantity")), lit(0L)).as("units_sold"),
        coalesce(sum(col("total_price")), lit(0).cast("decimal(12,2)"))
          .as("total_revenue"),
        coalesce(sum(col("profit_amount")), lit(0).cast("decimal(12,2)"))
          .as("total_profit"))
      .join(broadcast(totalInv), Seq("product_key"), "left")
      .withColumn("inventory_turnover", // g3: bigint/bigint truncates
        when(coalesce(col("total_stock"), lit(0L)) > 0,
          floor(col("units_sold") / col("total_stock")).cast("long"))
          .otherwise(lit(0L)))
      .drop("total_stock")
  }

  /** daily_sales (analytics_dag.py:150-164): the reference's exact
    * column set — COUNT(order_id) (not DISTINCT; fact_orders is
    * one-row-per-order so the values agree, the as-written form is
    * kept), SUM(profit_amount), AVG as-is, and the hardcoded
    * `0 as new_customers` ("Simplified for now", :161).
    */
  def dailySales(factOrders: DataFrame, dimTime: DataFrame): DataFrame =
    factOrders
      .join(broadcast(dimTime.select(col("time_key").as("order_date_key"),
        col("full_date"))), Seq("order_date_key"), "inner")
      .groupBy(col("full_date").as("sales_date"))
      .agg(
        count(col("order_id")).as("total_orders"),
        sum(col("total_amount")).as("total_revenue"),
        sum(col("profit_amount")).as("total_profit"),
        avg(col("total_amount")).as("avg_order_value"),
        countDistinct(col("customer_key")).as("unique_customers"))
      .withColumn("new_customers", lit(0L))

  /** monthly_trends (analytics_dag.py:185-213). */
  def monthlyTrends(factOrders: DataFrame, dimTime: DataFrame): DataFrame =
    factOrders
      .join(broadcast(dimTime.select(col("time_key").as("order_date_key"),
        col("year"), col("month"), col("month_name"))),
        Seq("order_date_key"), "inner")
      .groupBy(col("year"), col("month"), col("month_name"))
      .agg(
        countDistinct(col("order_id")).as("total_orders"),
        countDistinct(col("customer_key")).as("unique_customers"),
        sum(col("total_amount")).as("total_revenue"))
      .withColumn("avg_order_value",
        round(col("total_revenue") / col("total_orders"), 2))
      .orderBy(col("year"), col("month"))

  /** customer_acquisition (analytics_dag.py:229-273): days from
    * registration to first purchase, bucketed; g8 first_order_value is
    * MIN(total_amount) exactly as the reference wrote it.
    */
  def customerAcquisition(dimCustomers: DataFrame, factOrders: DataFrame,
      dimTime: DataFrame): DataFrame = {
    val cur = dimCustomers.filter(col("is_current"))
    val firstOrder = factOrders
      .join(broadcast(dimTime.select(col("time_key").as("order_date_key"),
        col("full_date"))), Seq("order_date_key"), "left")
      .groupBy(col("customer_key"))
      .agg(
        min(col("full_date")).as("first_order_date"),
        min(col("total_amount")).as("first_order_value")) // g8
    cur.select(col("customer_key"), col("customer_id"),
      col("registration_date"), col("customer_segment"))
      .join(firstOrder, Seq("customer_key"), "left")
      .withColumn("days_to_first_purchase",
        datediff(col("first_order_date"), col("registration_date")))
      // Reference bucket ladder as-written (analytics_dag.py:261-268):
      // NULL first, then <=1 'Same Day' before the week/month rungs.
      .withColumn("acquisition_category",
        when(col("first_order_date").isNull, "No Purchase")
          .when(col("days_to_first_purchase") <= 1, "Same Day")
          .when(col("days_to_first_purchase") <= 7, "Within Week")
          .when(col("days_to_first_purchase") <= 30, "Within Month")
          .otherwise("After Month"))
  }

  /** campaign_attribution (analytics_dag.py:290-320): the J7 range join
    * — sales days falling inside a campaign window, then per-campaign
    * rollup with zero-guarded derived rates (P10).
    */
  def campaignAttribution(dimCampaigns: DataFrame,
      dailySales: DataFrame): DataFrame =
    broadcast(dimCampaigns)
      .join(dailySales,
        col("sales_date").between(col("start_date"), col("end_date")), "left")
      .groupBy(col("campaign_id"), col("campaign_name"), col("channel"),
        col("budget"), col("impressions"), col("clicks"), col("conversions"))
      .agg(
        coalesce(sum(col("total_revenue")), lit(0).cast("decimal(12,2)"))
          .as("revenue_during_campaign"),
        count(col("sales_date")).as("active_sales_days"))
      .withColumn("cost_per_conversion",
        when(col("conversions") > 0, round(col("budget") / col("conversions"), 2))
          .otherwise(lit(0)))
      .withColumn("campaign_roi",
        when(col("budget") > 0,
          round((col("revenue_during_campaign") - col("budget")) / col("budget") * 100, 2))
          .otherwise(lit(0)))

  // --------------------------------------------------------------------
  // Views (analytics_dag.py:339-440) — lazy DataFrames, the engine's
  // CREATE OR REPLACE VIEW (S10).

  /** executive_summary (:339-353): g10 — the aggregates of the deliberate
    * triple cross join (593 M rows at 1× volume) in closed form, as one
    * aggregate over the three sides' rows: each distinct count is its
    * side's own when no side is empty, else 0; the revenue is the daily
    * sum times the other two row counts, in that sum's type (ANSI overflow
    * still raises), NULL on an empty product.
    */
  def executiveSummary(customerMetrics: DataFrame, productMetrics: DataFrame,
      dailySales: DataFrame): DataFrame = {
    val sides = customerMetrics.select(lit("c").as("side"),
      col("customer_key").as("c_key"),
      when(col("churn_risk_score") < lit(0.5), col("customer_key")).as("c_active"))
      .unionByName(productMetrics.select(lit("p").as("side"),
        col("product_key").as("p_key")), allowMissingColumns = true)
      .unionByName(dailySales.select(lit("d").as("side"),
        col("sales_date").as("d_key"), col("total_revenue").as("d_revenue")),
        allowMissingColumns = true)
    val totals = sides.agg(sum(col("d_revenue")).as("d_revenue"),
      Seq("c", "p", "d").map(s =>
        count(when(col("side") === s, lit(1))).as(s + "_rows")) ++
        Seq("c_key", "p_key", "d_key", "c_active").map(k => countDistinct(col(k)).as(k)): _*)
    val nonEmpty = col("c_rows") > 0 && col("p_rows") > 0 && col("d_rows") > 0
    def distinct(c: String) = when(nonEmpty, col(c)).otherwise(lit(0L))
    totals.select(
      distinct("c_key").as("total_customers"),
      distinct("p_key").as("total_products"),
      distinct("d_key").as("total_sales_days"),
      when(nonEmpty, col("d_revenue") * col("c_rows") * col("p_rows"))
        .cast(totals.schema("d_revenue").dataType).as("inflated_total_revenue"),
      distinct("c_active").as("active_customers"))
  }

  /** top_products (:356-371): W1 rank + O3 limit. */
  def topProducts(productMetrics: DataFrame): DataFrame = {
    val w = Window.orderBy(col("total_revenue").desc, col("product_key"))
    productMetrics
      .withColumn("revenue_rank", rank().over(w))
      .filter(col("units_sold") > 0) // P11 (analytics_dag.py:368)
      .orderBy(col("total_revenue").desc, col("product_key"))
      .limit(20)
  }

  /** customer_segmentation (:374-385). */
  def customerSegmentation(customerMetrics: DataFrame): DataFrame =
    customerMetrics
      .groupBy(col("customer_segment"))
      .agg(
        count(lit(1)).as("customer_count"),
        round(avg(col("total_spent")), 2).as("avg_customer_value"),
        round(avg(col("churn_risk_score")), 3).as("avg_churn_risk"),
        sum(col("total_spent")).as("segment_revenue"))
      .orderBy(col("segment_revenue").desc)

  /** seasonal_performance (:388-399). */
  def seasonalPerformance(monthlyTrends: DataFrame): DataFrame =
    monthlyTrends
      .groupBy(col("month"), col("month_name"))
      .agg(
        round(avg(col("total_revenue")), 2).as("avg_monthly_revenue"),
        round(avg(col("total_orders")), 1).as("avg_monthly_orders"),
        count(lit(1)).as("years_observed"))
      .orderBy(col("month"))

  /** acquisition_summary (:402-420): W2 percent-of-whole + O2 custom
    * bucket ordering (Same Day → … → No Purchase, as-written).
    */
  def acquisitionSummary(customerAcquisition: DataFrame): DataFrame = {
    val counts = customerAcquisition
      .groupBy(col("acquisition_category"))
      .agg(
        count(lit(1)).as("customer_count"),
        avg(col("days_to_first_purchase")).as("avg_days_to_purchase"),
        avg(col("first_order_value")).as("avg_first_order_value"))
    counts
      .withColumn("percentage",
        round(col("customer_count") * lit(100.0) /
          sum(col("customer_count")).over(Window.partitionBy()), 2))
      .orderBy(
        when(col("acquisition_category") === "Same Day", 1)
          .when(col("acquisition_category") === "Within Week", 2)
          .when(col("acquisition_category") === "Within Month", 3)
          .when(col("acquisition_category") === "After Month", 4)
          .otherwise(5))
  }
}
