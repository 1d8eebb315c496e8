package graft.operators

import graft.{Cols, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operator coverage (SURVEY.md §2.2-§2.6) re-expressed
  * Spark-first over the driver testdata. Each query maps to inventory IDs
  * from SURVEY.md §2 (noted per query). Broadcast hints are applied where a
  * dimension side is small by construction (region/nation/customer vs
  * fact-sized orders/lineitem) — the same decision a 1000-executor plan
  * needs.
  */
object CoreQueries {
  import Cols._

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // q01: A1 multi-key hash agg, A2 COUNT, A5 SUM/AVG, P7 arithmetic.
    // TPC-H Q1-shaped pricing summary. Partial aggregation (map-side
    // combine) is automatic in HashAggregateExec; decimal sums are exact.
    Q("q01_pricing_summary",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        val discPrice = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
        val charge = discPrice * (lit(1) + dec(col("l_tax")))
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dbl(sum(dec(col("l_quantity")))).as("sum_qty"),
            dbl(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
            dbl(sum(discPrice)).as("sum_disc_price"),
            dbl(sum(charge)).as("sum_charge"),
            (dbl(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ------------------------------------------------------------------
    // q02: P1 lower/trim normalize, P8 cast chains, P11 filter w/ LIKE.
    // Filter + projection push down to the parquet scan.
    Q("q02_project_filter",
      (s, dir) =>
        t(s, dir, "part")
          .filter(col("p_size") >= 25 && col("p_type").like("%MO%"))
          .select(
            col("p_partkey"),
            upper(trim(col("p_name"))).as("name_up"),
            lower(col("p_brand")).as("brand_lo"),
            dbl(dec(col("p_retailprice"))).as("price"),
            col("p_size"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, upper(trim(p_name)) AS name_up,
        lower(p_brand) AS brand_lo,
        CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price, p_size
        FROM part WHERE p_size >= 25 AND p_type LIKE '%MO%'
        ORDER BY p_partkey""")),

    // ------------------------------------------------------------------
    // q03: J1 inner equi-join fact⋈dim with explicit broadcast of the
    // small side (customer ≪ orders at scale).
    Q("q03_join_broadcast",
      (s, dir) =>
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"), "inner")
          .groupBy(col("c_mktsegment"))
          .agg(
            dbl(sum(dec(col("o_totalprice")))).as("revenue"),
            count(lit(1)).as("n_orders"))
          .orderBy(col("c_mktsegment")),
      Some("""SELECT c_mktsegment,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(count(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ------------------------------------------------------------------
    // q04: J2 multi-way join (fact ⋈ fact ⋈ dims): lineitem⋈orders is
    // shuffle (both fact-sized, co-keyed); customer/nation/region are
    // broadcast. TPC-H Q5-shaped revenue-per-nation.
    Q("q04_multi_join",
      (s, dir) => {
        val rev = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(dbl(sum(rev)).as("revenue"), count(lit(1)).as("n_items"))
          .orderBy(col("r_name"), col("n_name"))
      },
      Some("""SELECT r_name, n_name,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ------------------------------------------------------------------
    // q05: J9 left join preserving zero-order customers + §2.8 gotcha 6:
    // COUNT(col) skips NULLs so no-order customers get 0, and P9
    // COALESCE defaults the null SUM.
    Q("q05_left_join_count",
      (s, dir) =>
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(
            count(col("o_orderkey")).as("total_orders"),
            dbl(coalesce(sum(dec(col("o_totalprice"))), lit(0))).as("total_spent"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey,
        CAST(count(o_orderkey) AS BIGINT) AS total_orders,
        CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // q06: J4 semi-join (IN-subquery shape rewritten as left_semi —
    // no row duplication, no distinct needed).
    Q("q06_semi_join",
      (s, dir) => {
        val o95 = t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === 1995)
          .select(col("o_custkey").as("c_custkey"))
        t(s, dir, "customer")
          .join(o95, Seq("c_custkey"), "left_semi")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders
                            WHERE EXTRACT(year FROM o_orderdate) = 1995)
        ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // q07: J5/J12 anti-join (NOT-IN / orphan-check shape as left_anti):
    // customers with no URGENT order. NOT EXISTS (not NOT IN) in the
    // oracle — left_anti keeps rows when the probe side is empty,
    // matching EXISTS semantics even if keys were nullable.
    Q("q07_anti_join",
      (s, dir) => {
        val urgent = t(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey"))
        t(s, dir, "customer")
          .join(urgent, Seq("c_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // q08: J7 range (theta) join — interval containment, non-equi.
    // The small windows side broadcasts → BroadcastNestedLoopJoin, the
    // same shape the reference's campaign-attribution join plans.
    Q("q08_range_join",
      (s, dir) => {
        val od = col("o_orderdate").cast("date")
        val orders = t(s, dir, "orders")
        val windows = orders
          .select(trunc(od, "month").as("m_start"), last_day(od).as("m_end"))
          .distinct()
        orders.select(od.as("od"), dec(col("o_totalprice")).as("price"))
          .join(broadcast(windows),
            col("od").between(col("m_start"), col("m_end")), "inner")
          .groupBy(col("m_start"), col("m_end"))
          .agg(count(lit(1)).as("n_orders"), dbl(sum(col("price"))).as("revenue"))
          .select(
            date_format(col("m_start"), "yyyy-MM-dd").as("m_start"),
            date_format(col("m_end"), "yyyy-MM-dd").as("m_end"),
            col("n_orders"), col("revenue"))
          .orderBy(col("m_start"))
      },
      Some("""WITH windows AS (
          SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS DATE) AS m_start,
                 last_day(CAST(o_orderdate AS DATE)) AS m_end
          FROM orders)
        SELECT strftime(m_start, '%Y-%m-%d') AS m_start,
               strftime(m_end, '%Y-%m-%d') AS m_end,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM orders JOIN windows
          ON CAST(o_orderdate AS DATE) BETWEEN m_start AND m_end
        GROUP BY m_start, m_end ORDER BY m_start""")),

    // ------------------------------------------------------------------
    // q09: J8 cross join + A6 aggregate-over-cartesian (the reference's
    // executive_summary deliberately aggregates an inflated product —
    // §2.8 gotcha 10: SUM inflates, COUNT DISTINCT does not).
    Q("q09_cross_join_summary",
      (s, dir) => {
        // every-10th customer keeps the deliberate cartesian small
        // enough to stay honest at bench scale while still exercising
        // aggregate-over-cross-product inflation
        val cm = t(s, dir, "customer").select(col("c_custkey"))
          .filter(col("c_custkey") % 10 === 0)
        val dm = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg(sum(dec(col("o_totalprice"))).cast("decimal(18,2)").as("rev"))
        cm.crossJoin(dm)
          .agg(
            countDistinct(col("c_custkey")).as("total_customers"),
            countDistinct(col("d")).as("total_days"),
            dbl(sum(col("rev"))).as("inflated_revenue"))
      },
      Some("""WITH cm AS (SELECT c_custkey FROM customer WHERE c_custkey % 10 = 0),
        dm AS (SELECT CAST(o_orderdate AS DATE) AS d,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS rev
               FROM orders GROUP BY 1)
        SELECT CAST(count(DISTINCT cm.c_custkey) AS BIGINT) AS total_customers,
               CAST(count(DISTINCT dm.d) AS BIGINT) AS total_days,
               CAST(sum(dm.rev) AS DOUBLE) AS inflated_revenue
        FROM cm CROSS JOIN dm""")),

    // ------------------------------------------------------------------
    // q10: W1 RANK over a global order — applied only AFTER aggregation
    // (input is one row per part, small), the 100-TB-safe shape; ties
    // broken by key for determinism.
    Q("q10_window_rank",
      (s, dir) => {
        val prodRev = t(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(dbl(sum(dec(col("l_extendedprice")))).as("revenue"))
        val w = Window.orderBy(col("revenue").desc, col("l_partkey"))
        prodRev
          .withColumn("rev_rank", rank().over(w).cast("long"))
          .filter(col("rev_rank") <= 100)
          .orderBy(col("rev_rank"))
      },
      Some("""WITH prod_rev AS (
          SELECT l_partkey,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
          FROM lineitem GROUP BY l_partkey)
        SELECT l_partkey, revenue,
               CAST(rank() OVER (ORDER BY revenue DESC, l_partkey) AS BIGINT) AS rev_rank
        FROM prod_rev
        QUALIFY rev_rank <= 100
        ORDER BY rev_rank""")),

    // ------------------------------------------------------------------
    // q11: W2 percent-of-whole via empty-frame window total.
    Q("q11_window_share",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
          .withColumn("pct",
            dbl(col("n")) * 100.0 / dbl(sum(col("n")).over(Window.partitionBy())))
          .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        CAST(count(*) AS DOUBLE) * 100.0 / CAST(sum(count(*)) OVER () AS DOUBLE) AS pct
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ------------------------------------------------------------------
    // q12: O3 top-k — TakeOrderedAndProject (no global sort of the full
    // table); deterministic via key tie-break.
    Q("q12_topk",
      (s, dir) =>
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")),

    // ------------------------------------------------------------------
    // q13: A8 DISTINCT projection + the dim_time date-part derivations,
    // §2.8 gotchas 1-2: Postgres-style DOW (0=Sun) stored as
    // dayofweek-1; trimmed English day/month names.
    Q("q13_dim_time",
      (s, dir) => {
        val od = col("o_orderdate").cast("date")
        val dowPg = (dayofweek(od) - 1)
        t(s, dir, "orders")
          .select(
            date_format(od, "yyyyMMdd").cast("int").as("date_key"),
            date_format(od, "yyyy-MM-dd").as("full_date"),
            year(od).as("year"),
            quarter(od).as("quarter"),
            month(od).as("month"),
            date_format(od, "MMMM").as("month_name"),
            weekofyear(od).as("week"),
            dayofmonth(od).as("day_of_month"),
            dayofyear(od).as("day_of_year"),
            dowPg.as("day_of_week"),
            date_format(od, "EEEE").as("day_name"),
            dowPg.isin(0, 6).as("is_weekend"))
          .distinct()
          .orderBy(col("date_key"))
      },
      Some("""SELECT DISTINCT
        CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS date_key,
        strftime(o_orderdate, '%Y-%m-%d') AS full_date,
        CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS year,
        CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS quarter,
        CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS month,
        monthname(o_orderdate) AS month_name,
        CAST(EXTRACT(week FROM o_orderdate) AS INTEGER) AS week,
        CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS day_of_month,
        CAST(EXTRACT(doy FROM o_orderdate) AS INTEGER) AS day_of_year,
        CAST(EXTRACT(dow FROM o_orderdate) AS INTEGER) AS day_of_week,
        dayname(o_orderdate) AS day_name,
        EXTRACT(dow FROM o_orderdate) IN (0, 6) AS is_weekend
        FROM orders ORDER BY date_key""")),

    // ------------------------------------------------------------------
    // q14: P10 CASE ladder + O2 custom CASE sort key (the reference's
    // acquisition-bucket ordering).
    Q("q14_case_buckets",
      (s, dir) => {
        val tier = when(col("c_acctbal") >= 5000, "High")
          .when(col("c_acctbal") >= 1000, "Medium")
          .when(col("c_acctbal") >= 0, "Low")
          .otherwise("Negative")
        t(s, dir, "customer")
          .select(tier.as("tier"), col("c_acctbal"))
          .groupBy(col("tier"))
          .agg(count(lit(1)).as("n"),
            dbl(sum(dec(col("c_acctbal")))).as("total_bal"))
          .orderBy(when(col("tier") === "High", 1)
            .when(col("tier") === "Medium", 2)
            .when(col("tier") === "Low", 3).otherwise(4))
      },
      Some("""SELECT CASE WHEN c_acctbal >= 5000 THEN 'High'
                     WHEN c_acctbal >= 1000 THEN 'Medium'
                     WHEN c_acctbal >= 0 THEN 'Low'
                     ELSE 'Negative' END AS tier,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        FROM customer GROUP BY tier
        ORDER BY CASE tier WHEN 'High' THEN 1 WHEN 'Medium' THEN 2
                 WHEN 'Low' THEN 3 ELSE 4 END""")),

    // ------------------------------------------------------------------
    // q15: A3 exact COUNT(DISTINCT) + A4 conditional distinct count.
    Q("q15_conditional_distinct",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(
            countDistinct(col("o_custkey")).as("customers"),
            countDistinct(when(col("o_totalprice") > 150000, col("o_custkey")))
              .as("big_spenders"))
          .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS customers,
        CAST(count(DISTINCT CASE WHEN o_totalprice > 150000 THEN o_custkey END) AS BIGINT) AS big_spenders
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ------------------------------------------------------------------
    // q16: P3 lenient cast (JSON string → int, junk→NULL), P9 COALESCE,
    // A2 COUNT(expr) null-skipping; JSON extraction on the events table.
    Q("q16_json_nulls",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_type"), col("value"),
            // try_cast IS the operator: P3's semantics are junk→NULL,
            // and under ANSI a plain cast THROWS when $.k holds a
            // non-numeric payload (get_json_object stringifies a nested
            // OBJECT at the path — the catch of TotalitySweep row `adv_json`; gate
            // data never exercises it, both engines' try_cast agree)
            expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
              .as("k"),
            get_json_object(col("props"), "$.missing").as("missing"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            count(when(col("value") > 100, lit(1))).as("n_big"),
            sum(coalesce(col("k"), lit(0))).cast("long").as("sum_k"),
            count(col("missing")).as("n_missing"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        CAST(count(CASE WHEN value > 100 THEN 1 END) AS BIGINT) AS n_big,
        CAST(sum(coalesce(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), 0)) AS BIGINT) AS sum_k,
        CAST(count(json_extract_string(props, '$.missing')) AS BIGINT) AS n_missing
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------------------------------------
    // q17: §2.7 scalar date functions row-level: date arithmetic,
    // datediff, date_key derivation; deterministic modulo sample.
    Q("q17_date_scalars",
      (s, dir) => {
        val od = col("o_orderdate").cast("date")
        t(s, dir, "orders")
          .filter(col("o_orderkey") % 7 === 0)
          .select(
            col("o_orderkey"),
            date_format(od, "yyyy-MM-dd").as("od"),
            date_format(date_add(od, 7), "yyyy-MM-dd").as("due"),
            date_format(date_sub(od, 1), "yyyy-MM-dd").as("prev_day"),
            datediff(od, lit("1995-01-01").cast("date")).as("days_since"),
            date_format(od, "yyyyMM").cast("int").as("month_key"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
        strftime(CAST(o_orderdate AS DATE) + 7, '%Y-%m-%d') AS due,
        strftime(CAST(o_orderdate AS DATE) - 1, '%Y-%m-%d') AS prev_day,
        CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
        CAST(strftime(o_orderdate, '%Y%m') AS INTEGER) AS month_key
        FROM orders WHERE o_orderkey % 7 = 0 ORDER BY o_orderkey""")),

    // ------------------------------------------------------------------
    // q18: §2.7 scalar string functions row-level (P6 concat included;
    // no NULLs in these columns so concat==concat_ws semantics here).
    Q("q18_string_scalars",
      (s, dir) =>
        t(s, dir, "part")
          .select(
            col("p_partkey"),
            lower(col("p_name")).as("lname"),
            upper(col("p_brand")).as("ubrand"),
            length(col("p_name")).as("name_len"),
            substring(col("p_type"), 1, 4).as("type4"),
            concat(col("p_brand"), lit(":"), col("p_type")).as("btype"),
            regexp_replace(col("p_name"), " ", "_").as("underscored"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, lower(p_name) AS lname, upper(p_brand) AS ubrand,
        CAST(length(p_name) AS INTEGER) AS name_len,
        substr(p_type, 1, 4) AS type4,
        concat(p_brand, ':', p_type) AS btype,
        replace(p_name, ' ', '_') AS underscored
        FROM part ORDER BY p_partkey""")),

    // ------------------------------------------------------------------
    // q19: O4 set op — unionByName of two per-nation aggregates.
    Q("q19_union",
      (s, dir) => {
        val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n")).withColumn("side", lit("customer"))
        val sp = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n")).withColumn("side", lit("supplier"))
        c.unionByName(sp).orderBy(col("side"), col("nationkey"))
      },
      Some("""SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n,
               'customer' AS side FROM customer GROUP BY c_nationkey
        UNION ALL
        SELECT s_nationkey, CAST(count(*) AS BIGINT), 'supplier'
        FROM supplier GROUP BY s_nationkey
        ORDER BY side, nationkey""")),

    // ------------------------------------------------------------------
    // q20: P12 IN-list predicate + P13 BETWEEN predicate.
    Q("q20_inlist_between",
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH") &&
            col("o_orderdate").cast("date")
              .between(lit("1996-01-01"), lit("1997-12-31")))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            dbl(sum(dec(col("o_totalprice")))).as("revenue"))
          .orderBy(col("o_orderpriority")),
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ------------------------------------------------------------------
    // q21: post-aggregation filter (HAVING shape) — filter on an
    // aggregate output, P11 applied after A1.
    Q("q21_having",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            dbl(sum(dec(col("o_totalprice")))).as("spent"))
          .filter(col("n_orders") >= 3)
          .orderBy(col("o_custkey")),
      Some("""SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spent
        FROM orders GROUP BY o_custkey HAVING count(*) >= 3
        ORDER BY o_custkey""")),

    // ------------------------------------------------------------------
    // q22: J3 SCD2-style change detection with 3-valued `!=` (§2.8
    // gotcha 5): staged batch (derived deterministically) vs dimension,
    // new rows via null-extension, changed rows via <> residual.
    Q("q22_scd2_detect",
      (s, dir) => {
        val cust = t(s, dir, "customer")
        val staged = cust
          .filter(col("c_custkey") % 3 === 0)
          .select(
            when(col("c_custkey") % 5 === 0, col("c_custkey") + 1000000)
              .otherwise(col("c_custkey")).as("k"),
            when(col("c_custkey") % 7 === 0, lit("CHANGED"))
              .otherwise(col("c_mktsegment")).as("seg"))
        val dim = cust.select(col("c_custkey").as("dk"),
          col("c_mktsegment").as("dseg"))
        staged.join(dim, col("k") === col("dk"), "left")
          .filter(col("dk").isNull || col("seg") =!= col("dseg"))
          .select(col("k"),
            when(col("dk").isNull, "new").otherwise("changed").as("change_type"))
          .orderBy(col("k"))
      },
      Some("""WITH staged AS (
          SELECT CASE WHEN c_custkey % 5 = 0 THEN c_custkey + 1000000
                      ELSE c_custkey END AS k,
                 CASE WHEN c_custkey % 7 = 0 THEN 'CHANGED'
                      ELSE c_mktsegment END AS seg
          FROM customer WHERE c_custkey % 3 = 0),
        dim AS (SELECT c_custkey AS dk, c_mktsegment AS dseg FROM customer)
        SELECT k, CASE WHEN dk IS NULL THEN 'new' ELSE 'changed' END AS change_type
        FROM staged LEFT JOIN dim ON k = dk
        WHERE dk IS NULL OR seg <> dseg
        ORDER BY k""")),

    // ------------------------------------------------------------------
    // q42: event-time tumbling-window rollup — the batch twin of the
    // Structured Streaming EventStream.windowedCounts (stream==batch
    // equivalence is asserted in EventStreamSpec; this gives the window
    // semantics a DuckDB oracle). Exact distinct here (batch); the
    // streaming variant uses the HLL sketch.
    Q("q42_events_hourly",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("unique_users"),
            dbl(sum(dec(col("value")))).as("total_value"))
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
              .as("hour_start"),
            col("event_type"), col("n_events"), col("unique_users"),
            col("total_value"))
          .orderBy(col("hour_start"), col("event_type")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        event_type, CAST(count(*) AS BIGINT) AS n_events,
        CAST(count(DISTINCT user_id) AS BIGINT) AS unique_users,
        CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY hour_start, event_type
        ORDER BY hour_start, event_type"""))
  )
}
