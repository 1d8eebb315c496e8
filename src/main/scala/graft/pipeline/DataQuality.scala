package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks replicated from the reference's DAG-tail
  * validation tasks (staging_dag.py:233-259, warehouse_dag.py:462-488,
  * analytics_dag.py:465-495), returned as structured results instead of
  * log lines. Each check is a single small aggregate — no data leaves
  * the executors except the scalar.
  */
object DataQuality {

  final case class CheckResult(name: String, value: Long, passed: Boolean) {
    override def toString = s"[${if (passed) "PASS" else "FAIL"}] $name = $value"
  }

  /** A table's row count and the count of rows meeting `cond`, from one
    * aggregate (one scan) instead of two `count()` jobs.
    */
  private def rowsAndCountIf(df: DataFrame, cond: Column): (Long, Long) = {
    val r = df.agg(count(lit(1)), count_if(cond)).head()
    (r.getLong(0), r.getLong(1))
  }

  /** staging_dag.py:239-245 */
  def stagingChecks(staging: Map[String, DataFrame]): Seq[CheckResult] = {
    val (rows, nullEmails) =
      rowsAndCountIf(staging("customers"), col("email").isNull)
    val badPrices = staging("products")
      .filter(col("selling_price") <= 0 || col("cost_price") <= 0).count()
    Seq(
      CheckResult("staging.customers.rows", rows, passed = true),
      CheckResult("staging.customers.null_emails", nullEmails, passed = true),
      CheckResult("staging.products.nonpositive_prices", badPrices,
        passed = badPrices == 0))
  }

  /** warehouse_dag.py:468-474 — incl. the J12 orphan check as left_anti. */
  def warehouseChecks(dimCustomers: DataFrame, dimProducts: DataFrame,
      factOrders: DataFrame): Seq[CheckResult] = {
    val currentCustomers =
      dimCustomers.filter(col("is_current")).count()
    val currentProducts = dimProducts.filter(col("is_current")).count()
    val factCount = factOrders.count()
    val orphans = factOrders
      .join(dimCustomers.filter(col("is_current")).select("customer_key"),
        Seq("customer_key"), "left_anti")
      .count()
    Seq(
      CheckResult("warehouse.dim_customers.current", currentCustomers,
        currentCustomers > 0),
      CheckResult("warehouse.dim_products.current", currentProducts,
        currentProducts > 0),
      CheckResult("warehouse.fact_orders.rows", factCount, factCount > 0),
      CheckResult("warehouse.fact_orders.orphaned", orphans, orphans == 0))
  }

  /** analytics_dag.py:471-481 */
  def analyticsChecks(customerMetrics: DataFrame,
      dailySales: DataFrame): Seq[CheckResult] = {
    val (cm, nullChurn) =
      rowsAndCountIf(customerMetrics, col("churn_risk_score").isNull)
    val ds = dailySales.count()
    Seq(
      CheckResult("analytics.customer_metrics.rows", cm, cm > 0),
      CheckResult("analytics.daily_sales.rows", ds, ds > 0),
      CheckResult("analytics.customer_metrics.null_churn", nullChurn,
        nullChurn == 0))
  }
}
