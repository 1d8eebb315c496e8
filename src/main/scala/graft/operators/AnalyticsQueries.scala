package graft.operators

import graft.{Cols, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's analytics layer (SURVEY.md §1.4 analytics tables,
  * `analytics_dag.py`) re-expressed over the testdata star schema:
  * customer metrics with churn scoring, daily/monthly sales, acquisition
  * buckets, product metrics. Semantics preserved per SURVEY.md §2.8:
  * COUNT(col) null-skipping (g6), churn ELSE branch on never-ordered
  * customers (g7), truncating integer division (g3), deterministic
  * `asOf` instead of CURRENT_DATE (g11).
  */
object AnalyticsQueries {
  import Cols._

  /** Deterministic stand-in for CURRENT_DATE (g11). Chosen so the
    * reference's 365/180/90 churn ladder (analytics_dag.py:59-64) hits
    * multiple branches against the orders date range (1992-01 ..
    * 1998-08-02): >365 → 0.9, 181-365 → 0.7, 91-180 → 0.4 (minimum
    * non-null gap is ~151 days), plus the never-ordered → ELSE 0.1
    * path (g7, via the COALESCE-to-0 column).
    */
  val AsOf = "1998-12-31"

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // q23: daily_sales (analytics_dag.py:144-167 shape): per-day orders,
    // unique customers, revenue, AOV. One shuffle on the date key.
    Q("q23_daily_sales",
      (s, dir) => {
        val od = col("o_orderdate").cast("date")
        t(s, dir, "orders")
          .groupBy(date_format(od, "yyyy-MM-dd").as("sales_date"))
          .agg(
            countDistinct(col("o_orderkey")).as("total_orders"),
            countDistinct(col("o_custkey")).as("unique_customers"),
            dbl(sum(dec(col("o_totalprice")))).as("total_revenue"))
          .withColumn("avg_order_value",
            col("total_revenue") / col("total_orders"))
          .orderBy(col("sales_date"))
      },
      Some("""SELECT strftime(o_orderdate, '%Y-%m-%d') AS sales_date,
        CAST(count(DISTINCT o_orderkey) AS BIGINT) AS total_orders,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS unique_customers,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
          / count(DISTINCT o_orderkey) AS avg_order_value
        FROM orders GROUP BY sales_date ORDER BY sales_date""")),

    // ------------------------------------------------------------------
    // q24: monthly_trends (analytics_dag.py:185-213 shape): fact⋈fact
    // join (orders⋈lineitem, shuffle on orderkey) rolled up monthly.
    // Plan shape chosen for scale: lineitem partially aggregates PER
    // ORDER first (4-6 rows → 1, map-side combinable, decimal-exact so
    // re-summing per month is bit-identical), which (a) shrinks the join
    // probe side 4×, and (b) turns COUNT(DISTINCT o_orderkey) into a
    // plain row count — leaving a single distinct aggregate (custkey)
    // and no Expand over the joined fact-fact relation. Same results,
    // same oracle; ~2× faster at sf0.1 and the gap grows with SF.
    Q("q24_monthly_trends",
      (s, dir) => {
        val rev = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
        val perOrder = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(rev).as("order_rev"),
            sum(dec(col("l_quantity"))).as("order_qty"))
        t(s, dir, "orders")
          .join(perOrder, col("o_orderkey") === col("l_orderkey"))
          .groupBy(date_format(col("o_orderdate"), "yyyyMM").cast("int").as("month_key"))
          .agg(
            count(lit(1)).as("orders"), // 1 row per order post pre-agg
            countDistinct(col("o_custkey")).as("customers"),
            dbl(sum(col("order_rev"))).as("revenue"),
            dbl(sum(col("order_qty"))).as("items_sold"))
          .withColumn("avg_order_value", col("revenue") / col("orders"))
          .orderBy(col("month_key"))
      },
      Some("""SELECT CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS month_key,
        CAST(count(DISTINCT o_orderkey) AS BIGINT) AS orders,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS customers,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS items_sold,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
          / count(DISTINCT o_orderkey) AS avg_order_value
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY month_key ORDER BY month_key""")),

    // ------------------------------------------------------------------
    // q25: customer_metrics (analytics_dag.py:39-73 shape) incl. §2.8
    // gotchas 6+7+11: COUNT(o_orderkey) gives 0 for no-order customers;
    // churn CASE lands in ELSE 0.1 when days_since is NULL; CURRENT_DATE
    // replaced by the deterministic AsOf.
    Q("q25_customer_metrics",
      (s, dir) => {
        val od = col("o_orderdate").cast("date")
        val asOf = lit(AsOf).cast("date")
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg(
            count(col("o_orderkey")).as("total_orders"),
            dbl(coalesce(sum(dec(col("o_totalprice"))), lit(0))).as("total_spent"),
            date_format(min(od), "yyyy-MM-dd").as("first_order_date"),
            date_format(max(od), "yyyy-MM-dd").as("last_order_date"),
            // reference: COALESCE(CURRENT_DATE - MAX(full_date), 0)
            coalesce(datediff(asOf, max(od)), lit(0)).as("days_since_last_order"))
          .withColumn("avg_order_value",
            when(col("total_orders") > 0, col("total_spent") / col("total_orders"))
              .otherwise(lit(0.0)))
          // reference ladder (analytics_dag.py:59-64); never-ordered
          // customers carry days=0 → ELSE 0.1, same landing spot as the
          // reference's NULL → ELSE (g7)
          .withColumn("churn_risk_score",
            when(col("days_since_last_order") > 365, 0.9)
              .when(col("days_since_last_order") > 180, 0.7)
              .when(col("days_since_last_order") > 90, 0.4)
              .otherwise(0.1))
          .orderBy(col("c_custkey"))
      },
      Some(s"""SELECT c_custkey, c_mktsegment,
        CAST(count(o_orderkey) AS BIGINT) AS total_orders,
        CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spent,
        strftime(min(o_orderdate), '%Y-%m-%d') AS first_order_date,
        strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date,
        CAST(coalesce(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '$AsOf'), 0) AS INTEGER) AS days_since_last_order,
        CASE WHEN count(o_orderkey) > 0
             THEN CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) / count(o_orderkey)
             ELSE 0.0 END AS avg_order_value,
        CASE WHEN coalesce(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '$AsOf'), 0) > 365 THEN 0.9
             WHEN coalesce(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '$AsOf'), 0) > 180 THEN 0.7
             WHEN coalesce(date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '$AsOf'), 0) > 90 THEN 0.4
             ELSE 0.1 END AS churn_risk_score
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // q26: customer_acquisition buckets (analytics_dag.py:229-273 +
    // 402-420 shape): days-to-first-purchase bucketed + percent share
    // (W2 window), 'Never' bucket from the left-join NULL branch.
    Q("q26_acquisition_buckets",
      (s, dir) => {
        val firstOrder = t(s, dir, "orders")
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(min(col("o_orderdate").cast("date")).as("first_od"))
        val days = datediff(col("first_od"), lit("1995-01-01").cast("date"))
        // reference ladder as-written (analytics_dag.py:261-268): NULL →
        // 'No Purchase' first, then the <=1 'Same Day' rung
        val bucket = when(col("first_od").isNull, "No Purchase")
          .when(days <= 1, "Same Day")
          .when(days <= 7, "Within Week")
          .when(days <= 30, "Within Month")
          .otherwise("After Month")
        t(s, dir, "customer")
          .join(firstOrder, Seq("c_custkey"), "left")
          .select(bucket.as("bucket"), days.as("days_to_first"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_customers"),
            (dbl(sum(col("days_to_first"))) / count(col("days_to_first")))
              .as("avg_days"))
          .withColumn("pct",
            dbl(col("n_customers")) * 100.0 /
              dbl(sum(col("n_customers")).over(Window.partitionBy())))
          .orderBy(col("bucket"))
      },
      Some("""WITH first_order AS (
          SELECT o_custkey AS c_custkey, CAST(min(o_orderdate) AS DATE) AS first_od
          FROM orders GROUP BY o_custkey),
        labeled AS (
          SELECT CASE WHEN first_od IS NULL THEN 'No Purchase'
                      WHEN date_diff('day', DATE '1995-01-01', first_od) <= 1 THEN 'Same Day'
                      WHEN date_diff('day', DATE '1995-01-01', first_od) <= 7 THEN 'Within Week'
                      WHEN date_diff('day', DATE '1995-01-01', first_od) <= 30 THEN 'Within Month'
                      ELSE 'After Month' END AS bucket,
                 date_diff('day', DATE '1995-01-01', first_od) AS days_to_first
          FROM customer LEFT JOIN first_order USING (c_custkey))
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(days_to_first AS BIGINT)) AS DOUBLE) / count(days_to_first) AS avg_days,
               CAST(count(*) AS DOUBLE) * 100.0
                 / CAST(sum(count(*)) OVER () AS DOUBLE) AS pct
        FROM labeled GROUP BY bucket ORDER BY bucket""")),

    // ------------------------------------------------------------------
    // q27: product_metrics / inventory-turnover shape with §2.8 gotcha 3:
    // Postgres bigint/bigint division truncates — replicated via
    // floor(double-div) (positive operands), not Spark's fractional `/`.
    Q("q27_product_metrics",
      (s, dir) =>
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            countDistinct(col("p_partkey")).as("n_parts"),
            // decimal-route the quantity before the integral cast: a
            // direct double→long cast THROWS on NaN/±Inf under ANSI
            // (TotalitySweep row `adv_numeric`), while the decimal route maps
            // non-finites to NULL (skipped by sum) — identity on the
            // integral gate quantities, so the oracle's
            // CAST(l_quantity AS BIGINT) is unchanged
            sum(dec(col("l_quantity")).cast("long")).as("units_sold"),
            dbl(sum(dec(col("l_extendedprice")))).as("gross_revenue"))
          .withColumn("units_per_part",
            floor(dbl(col("units_sold")) / col("n_parts")).cast("long"))
          .orderBy(col("p_brand")),
      Some("""SELECT p_brand,
        CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_parts,
        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS units_sold,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross_revenue,
        CAST(floor(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                   / count(DISTINCT p_partkey)) AS BIGINT) AS units_per_part
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""")),

    // ------------------------------------------------------------------
    // q44: ROLLUP hierarchy totals (SURVEY §2.4 notes the reference has
    // no grouping sets — Spark gives them for free; exposed so a
    // reference user gains subtotal queries without extra code). NULL
    // subtotal markers coalesced to sentinels on both engines.
    Q("q44_rollup",
      (s, dir) =>
        t(s, dir, "orders")
          .select(year(col("o_orderdate")).as("y"),
            col("o_orderpriority").as("prio"),
            dec(col("o_totalprice")).as("price"))
          .rollup(col("y"), col("prio"))
          .agg(count(lit(1)).as("n"), dbl(sum(col("price"))).as("revenue"))
          .select(coalesce(col("y"), lit(-1)).as("y"),
            coalesce(col("prio"), lit("ALL")).as("prio"),
            col("n"), col("revenue"))
          .orderBy(col("y"), col("prio")),
      Some("""SELECT coalesce(y, -1) AS y, coalesce(prio, 'ALL') AS prio,
               CAST(n AS BIGINT) AS n, revenue
        FROM (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
                 o_orderpriority AS prio, count(*) AS n,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
          FROM orders GROUP BY ROLLUP (y, prio))
        ORDER BY y, prio""")),

    // ------------------------------------------------------------------
    // q57: ordered-set aggregation (string_agg/collect_list — SURVEY
    // §2.4 notes the reference has none; exposed as engine capability).
    // Sorted-distinct before join ⇒ deterministic under any
    // partitioning; collect_* of unordered rows never is otherwise.
    Q("q57_string_agg",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(
            countDistinct(col("o_custkey")).as("n_customers"),
            array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
              .as("statuses"))
          .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
        array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
          AS statuses
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ------------------------------------------------------------------
    // q58: lag/lead analytics (month-over-month revenue delta). The
    // window is global but runs on the ~80-row monthly aggregate — the
    // post-aggregation shape that stays O(|months|) at any fact size.
    Q("q58_mom_change",
      (s, dir) => {
        val monthly = t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyyMM").cast("int")
            .as("month_key"))
          .agg(dbl(sum(dec(col("o_totalprice")))).as("revenue"))
        val w = Window.orderBy(col("month_key"))
        monthly
          .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
          .withColumn("mom_change", col("revenue") - col("prev_revenue"))
          .orderBy(col("month_key"))
      },
      Some("""WITH m AS (
          SELECT CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS month_key,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
          FROM orders GROUP BY month_key)
        SELECT month_key, revenue,
               lag(revenue, 1) OVER (ORDER BY month_key) AS prev_revenue,
               revenue - lag(revenue, 1) OVER (ORDER BY month_key) AS mom_change
        FROM m ORDER BY month_key"""))
  )
}
