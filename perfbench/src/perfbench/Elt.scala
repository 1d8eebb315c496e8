package perfbench

import java.time.LocalDate

import graft.pipeline._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The daily ELT the paper describes. Day 0 is a full `Pipeline.run` in
  * a fresh session: CSV → staging → SCD2 star schema → KPI tables. Each
  * later day stages its CSVs (`StagingJob.run`), merges them into
  * yesterday's warehouse the way the reference warehouse DAG does (SCD2
  * close/open for customers and products, keyed refresh of fact_orders)
  * and serves the `public_*` views the dashboards read.
  *
  * Inputs are generated with `DataGen`. Day 0 is the reference-shaped
  * snapshot; day k adds one day of orders, items and click events to day
  * k-1, moves about 1% of customers to another city and reprices about 1%
  * of products (tracked columns), and appends a few malformed product and
  * order rows that staging must drop. The seed chooses which keys change
  * and how many rows are malformed; the day-0 snapshot itself is
  * seed-free, so its views have committed expected results.
  */
object Elt {

  /** Reference volumes (BASELINE.md) times [[Scale]]. */
  val Scale = 1
  val Customers: Long = 2500L * Scale
  val Products: Long = 650L * Scale
  val Orders: Long = 12000L * Scale
  val Clicks: Long = 75000L * Scale
  val Campaigns: Long = 25L * Scale
  /** One day of new rows: a year of orders/events spread over 365 days. */
  val DayOrders: Long = Orders / 365 + 1
  val DayClicks: Long = Clicks / 365 + 1
  val ItemsPerOrder = 2

  val CustomerTracked = Seq("email", "city", "customer_segment")
  val ProductTracked = Seq("selling_price", "category")
  val Day0: LocalDate = LocalDate.of(2025, 7, 15)

  private def h(seed: Long, id: Column, tag: String, day: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(tag), lit(day)), lit(100L))

  /** 1 when `id` changes its tracked columns on `day` (about 1%). */
  private def changes(seed: Long, id: Column, tag: String, day: Int): Column =
    when(h(seed, id, tag, day) === 0L, 1).otherwise(0)

  private def changeCount(seed: Long, id: Column, tag: String,
      day: Int): Column =
    (1 to day).map(d => changes(seed, id, tag, d)).foldLeft(lit(0))(_ + _)

  /** Malformed products and orders appended on `day` (1 to 4 each). */
  def malformedOn(seed: Long, day: Int): (Int, Int) = {
    val r = new scala.util.Random(seed * 1000003L + day)
    (1 + r.nextInt(4), 1 + r.nextInt(4))
  }

  private def strings(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)).toSeq: _*)

  private def malformed(spark: SparkSession, like: DataFrame, n: Long,
      fill: Map[String, Column]): DataFrame =
    spark.range(n).select(like.columns.map(c =>
      fill.getOrElse(c, lit(null).cast("string")).as(c)).toSeq: _*)

  /** What the generator put into one day's CSVs, for the gates. */
  final case class DayInput(day: Int, dir: String, rawRows: Long,
      validOrders: Long, changedCustomers: Long, changedProducts: Long)

  /** Write day `day`'s seven CSVs under `dir`. */
  def writeDay(spark: SparkSession, seed: Long, day: Int,
      dir: String): DayInput = {
    val id = col("id")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("header", "true")
        .csv(s"$dir/$name.csv")
    val cities = array(DataGen.Cities.map(lit): _*)
    val custIdx = regexp_extract(col("customer_id"), "(\\d+)", 1).cast("long")
    val customers = DataGen.customers(spark, Customers)
      .withColumn("city", element_at(cities,
        (pmod(array_position(cities, col("city")) - 1 +
          changeCount(seed, custIdx, "cust", day), lit(DataGen.Cities.size)) + 1)
          .cast("int")))
    val prodIdx = regexp_extract(col("product_id"), "(\\d+)", 1).cast("long")
    val products = DataGen.products(spark, Products)
      .withColumn("selling_price", (col("selling_price") +
        changeCount(seed, prodIdx, "prod", day)).cast("decimal(10,2)"))
    val nOrders = Orders + day * DayOrders
    val orders = DataGen.orders(spark, nOrders, Customers)
    // items belong to order id / 2, so earlier days' items never move
    val items = DataGen.orderItems(spark, nOrders * ItemsPerOrder, nOrders,
        Products)
      .withColumn("order_id", format_string("ORD_%08d",
        (regexp_extract(col("order_item_id"), "(\\d+)", 1).cast("long") /
          ItemsPerOrder).cast("long")))
    val nClicks = Clicks + day * DayClicks
    val clicks = DataGen.clickstream(spark, nClicks, Customers, Products)

    val cumulative = (0 to day).map(d => malformedOn(seed, d))
    val badProducts = cumulative.map(_._1).sum
    val badOrders = cumulative.map(_._2).sum
    val productsCsv = strings(products).unionByName(malformed(spark,
      products, badProducts, Map(
        "product_id" -> format_string("PROD_9%05d", id),
        "cost_price" -> lit("n/a"), "selling_price" -> lit("n/a"))))
    val ordersCsv = strings(orders).unionByName(malformed(spark, orders,
      badOrders, Map(
        "order_id" -> format_string("ORD_9%07d", id),
        "customer_id" -> lit("CUST_000001"),
        "order_date" -> lit("not-a-date"),
        "total_amount" -> lit("10.00"))))

    // input generation is set-up, not measured work: write the seven
    // files concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      Seq(customers -> "customers", productsCsv -> "products",
        ordersCsv -> "orders", items -> "order_items",
        clicks -> "clickstream",
        DataGen.marketingCampaigns(spark, Campaigns) -> "marketing_campaigns",
        DataGen.inventory(spark, Products) -> "inventory")
        .map { case (df, name) =>
          pool.submit(new Runnable { def run(): Unit = write(df, name) })
        }
        .foreach(_.get())
    } finally pool.shutdown()
    val raw = Customers + Products + badProducts + nOrders + badOrders +
      nOrders * ItemsPerOrder + nClicks + Campaigns + Products * 3
    def changed(n: Long, tag: String): Long =
      if (day == 0) 0L
      else spark.range(n).filter(changes(seed, id, tag, day) === 1).count()
    DayInput(day, dir, raw, nOrders, changed(Customers, "cust"),
      changed(Products, "prod"))
  }

  // Derived dim columns, as Pipeline adds them before the SCD2 load.
  def customerDims(df: DataFrame): DataFrame =
    df.withColumn("full_name",
      concat(col("first_name"), lit(" "), col("last_name")))
  def productDims(df: DataFrame): DataFrame =
    df.withColumn("profit_margin",
      round((col("selling_price") - col("cost_price"))
        / col("selling_price") * 100, 2))

  def asOf(day: Int): Column =
    lit(java.sql.Date.valueOf(Day0.plusDays(day.toLong)))

  /** Yesterday's merged warehouse: where its three tables live. */
  final case class Warehouse(customers: String, products: String,
      factOrders: String)

  def monthly(df: DataFrame): DataFrame =
    df.withColumn("order_month", (col("order_date_key") / 100).cast("int"))

  /** The warehouse DAG's merge of today's staging into yesterday's
    * warehouse, persisted under `out`. Spans: `scd2_merge` for both
    * dimensions, `keyed_refresh` for fact_orders.
    */
  def merge(spark: SparkSession, tracer: Tracer, prev: Warehouse,
      staging: Map[String, DataFrame], day: Int, out: String): Warehouse = {
    val next = Warehouse(s"$out/dim_customers", s"$out/dim_products",
      s"$out/fact_orders")
    tracer.span("scd2_merge") {
      val c = Scd2.merge(spark.read.parquet(prev.customers).drop("customer_key"),
        customerDims(staging("customers")), "customer_id", CustomerTracked,
        asOf(day))
      Scd2.withSurrogateKey(c, "customer_key", "customer_id")
        .write.mode("overwrite").parquet(next.customers)
      val p = Scd2.merge(spark.read.parquet(prev.products).drop("product_key"),
        productDims(staging("products")), "product_id", ProductTracked,
        asOf(day))
      Scd2.withSurrogateKey(p, "product_key", "product_id")
        .write.mode("overwrite").parquet(next.products)
    }
    tracer.span("keyed_refresh") {
      val batch = FactJobs.factOrders(staging("orders"),
        spark.read.parquet(next.customers))
      val existing = spark.read.parquet(prev.factOrders).drop("order_month")
      monthly(FactJobs.keyedRefresh(Some(existing), batch, "order_id"))
        .write.mode("overwrite").partitionBy("order_month")
        .parquet(next.factOrders)
    }
    next
  }

  /** `Pipeline.run` with a span around each layer: the same public calls
    * in the same order on the same inputs.
    */
  def tracedPipeline(spark: SparkSession, tracer: Tracer, csvDir: String,
      outDir: String, day: Int): PipelineResult = {
    val asOfDay = asOf(day)
    val staging = tracer.span("staging") {
      StagingJob.run(spark, csvDir, s"$outDir/staging")
    }
    def persist(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$outDir/warehouse/$name")
      spark.read.parquet(s"$outDir/warehouse/$name")
    }
    def persistFact(df: DataFrame, name: String): DataFrame = {
      monthly(df).write.mode("overwrite").partitionBy("order_month")
        .parquet(s"$outDir/warehouse/$name")
      spark.read.parquet(s"$outDir/warehouse/$name")
    }
    val (dimTime, dimCustomers, dimProducts) = tracer.span("dims") {
      val dimTime = DimTime.build(staging("orders"), existing = None)
      val dimCustomers = Scd2.withSurrogateKey(
        Scd2.initial(customerDims(staging("customers")), asOfDay),
        "customer_key", "customer_id")
      val dimProducts = Scd2.withSurrogateKey(
        Scd2.initial(productDims(staging("products")), asOfDay),
        "product_key", "product_id")
      (dimTime, dimCustomers, dimProducts)
    }
    val facts = tracer.span("facts") {
      val factOrders = FactJobs.factOrders(staging("orders"), dimCustomers)
      val factOrderItems = FactJobs.factOrderItems(staging("order_items"),
        factOrders, dimProducts)
      val factClickstream = FactJobs.factClickstream(staging("clickstream"),
        dimCustomers, dimProducts, dimTime)
      val factInventory = FactJobs.factInventory(staging("inventory"),
        dimProducts)
      val dimCampaigns = FactJobs.dimCampaigns(
        staging("marketing_campaigns"), dimTime)
      (factOrders, factOrderItems, factClickstream, factInventory,
        dimCampaigns)
    }
    // Pipeline.run writes dims and facts in this interleaved order.
    val wDimCustomers = tracer.span("dims")(persist(dimCustomers, "dim_customers"))
    val wDimProducts = tracer.span("dims")(persist(dimProducts, "dim_products"))
    val wDimTime = tracer.span("dims")(persist(dimTime, "dim_time"))
    val (wDimCampaigns, wFactOrders, wFactOrderItems, wFactClickstream,
        wFactInventory) = tracer.span("facts") {
      (persist(facts._5, "dim_marketing_campaigns"),
        persistFact(facts._1, "fact_orders"),
        persistFact(facts._2, "fact_order_items"),
        persist(facts._3, "fact_clickstream"),
        persist(facts._4, "fact_inventory"))
    }
    val a = tracer.span("analytics") {
      val dailySales = AnalyticsJob.dailySales(wFactOrders, wDimTime)
      val tables = Seq(
        "customer_metrics" -> AnalyticsJob.customerMetrics(wDimCustomers,
          wFactOrders, wDimTime, asOfDay),
        "product_metrics" -> AnalyticsJob.productMetrics(wDimProducts,
          wFactOrderItems, wFactInventory),
        "daily_sales" -> dailySales,
        "monthly_trends" -> AnalyticsJob.monthlyTrends(wFactOrders, wDimTime),
        "customer_acquisition" -> AnalyticsJob.customerAcquisition(
          wDimCustomers, wFactOrders, wDimTime),
        "campaign_attribution" -> AnalyticsJob.campaignAttribution(
          wDimCampaigns, dailySales))
      tables.map { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/analytics/$name")
        spark.read.parquet(s"$outDir/analytics/$name")
      }
    }
    val checks = tracer.span("dq") {
      DataQuality.stagingChecks(staging) ++
        DataQuality.warehouseChecks(wDimCustomers, wDimProducts, wFactOrders) ++
        DataQuality.analyticsChecks(a(0), a(2))
    }
    PipelineResult(staging, wDimCustomers, wDimProducts, wDimTime,
      wDimCampaigns, wFactOrders, wFactOrderItems, wFactClickstream,
      wFactInventory, a(0), a(1), a(2), a(3), a(4), a(5), checks)
  }

  /** Warm days each run measures at least, whatever `--seconds` says. */
  val MinDays = 1

  /** The served views every day's dashboards read, executive summary last
    * (see [[QueryMix.ExecutiveSummary]]).
    */
  val DailyViews: Seq[String] =
    QueryMix.Views.filterNot(_ == QueryMix.ExecutiveSummary)

  def run(c: Ctx, r: Report): collection.Map[String, Double] = {
    val spark = c.spark
    val extras = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    val (day0, generateS) =
      Stats.time(writeDay(spark, c.seed, 0, s"${c.work}/elt/day0"))
    r.put("setup_s", c.sessionStartS + generateS, "s")
    r.info("setup_generate_s", Seq(generateS))
    r.info("setup_session_s", Seq(c.sessionStartS))

    var raw, kept = 0L
    def stagingGates(in: DayInput, staging: Map[String, DataFrame]): Unit = {
      r.check(stagingProblems(staging, in))
      if (c.tracer.enabled) {
        raw += in.rawRows
        kept += staging.values.map(_.count()).sum
      }
    }
    // The views read day 0's KPI tables, which are seed-free, so their
    // results have committed fingerprints, observed as they run.
    val expected = if (c.capture) Map.empty[String, QueryMix.Expected]
      else QueryMix.loadExpected(c.expected)
    val captured = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, String)]
    var seq = 0L
    def view(name: String): (Double, Boolean) = {
      seq += 1
      QueryMix.runQuery(spark, c.tracer, name, () => spark.table(name), seq)
    }
    def checkedView(name: String): (Double, Boolean) = {
      seq += 1
      val obs = org.apache.spark.sql.Observation(s"fingerprint-$seq")
      val (s, failed) = QueryMix.runQuery(spark, c.tracer, name,
        () => QueryMix.observed(spark.table(name), obs), seq)
      if (failed) ()
      else if (c.capture) captured(name) = QueryMix.observedFingerprint(obs)
      else r.check(QueryMix.compare(expected, name,
        QueryMix.observedFingerprint(obs)))
      (s, failed)
    }

    val t0 = System.nanoTime()
    c.tracer.op(0)
    val (res0, first) = Stats.time(c.tracer.span("elt_daily") {
      if (c.tracer.enabled)
        tracedPipeline(spark, c.tracer, day0.dir, s"${c.work}/elt/out0", 0)
      else Pipeline.run(spark, day0.dir, s"${c.work}/elt/out0", Day0)
    })
    r.attempted += 1
    val gateT0 = System.nanoTime()
    r.check(checkProblems(res0.checks))
    r.check(revenueProblems(res0.dailySales, res0.factOrders, res0.dimTime))
    stagingGates(day0, res0.staging)
    if (c.tracer.enabled)
      Seq("fact_orders", "fact_order_items", "fact_clickstream",
        "fact_inventory", "dim_marketing_campaigns").foreach { t =>
        val (files, bytes) =
          Layers.filesAndBytes(s"${c.work}/elt/out0/warehouse/$t")
        extras("facts.files_written") += files
        extras("facts.bytes_written") += bytes
      }
    res0.registerViews(spark)
    r.info("check_day0_s", Seq(Stats.secondsSince(gateT0)))
    var prev = Warehouse(s"${c.work}/elt/out0/warehouse/dim_customers",
      s"${c.work}/elt/out0/warehouse/dim_products",
      s"${c.work}/elt/out0/warehouse/fact_orders")
    var prevStats = (dimStats(res0.dimCustomers, "customer_id"),
      dimStats(res0.dimProducts, "product_id"))
    r.check(currentRowProblems("customer_id", prevStats._1))
    r.check(currentRowProblems("product_id", prevStats._2))

    val days, stagings, merges, views, generations =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    val rng = new scala.util.Random(c.seed)
    var day = 1
    while (Stats.secondsSince(t0) < c.seconds || day <= MinDays) {
      val (in, genS) =
        Stats.time(writeDay(spark, c.seed, day, s"${c.work}/elt/day$day"))
      generations += genS
      c.tracer.op(day.toLong)
      val dayT0 = System.nanoTime()
      val (staging, next) = c.tracer.span("elt_daily") {
        val (staging, stagingS) = Stats.time(c.tracer.span("staging")(
          StagingJob.run(spark, in.dir, s"${c.work}/elt/staging$day")))
        val (next, mergeS) = Stats.time(
          merge(spark, c.tracer, prev, staging, day,
            s"${c.work}/elt/merged$day"))
        val served = rng.shuffle(DailyViews).map(checkedView)
        stagings += stagingS
        merges += mergeS
        views += served.map(_._1).sum
        r.failed += served.count(_._2)
        (staging, next)
      }
      days += Stats.secondsSince(dayT0)
      r.attempted += 1 + DailyViews.size
      val dayGateT0 = System.nanoTime()
      r.check(checkProblems(DataQuality.stagingChecks(staging)))
      stagingGates(in, staging)
      val stats = (dimStats(spark.read.parquet(next.customers), "customer_id"),
        dimStats(spark.read.parquet(next.products), "product_id"))
      r.check(currentRowProblems("customer_id", stats._1))
      r.check(currentRowProblems("product_id", stats._2))
      r.check(historyProblems("customer_id", prevStats._1, stats._1,
        in.changedCustomers))
      r.check(historyProblems("product_id", prevStats._2, stats._2,
        in.changedProducts))
      val facts = spark.read.parquet(next.factOrders).count()
      if (facts != in.validOrders)
        r.check(Seq(s"day $day: merged fact_orders has $facts rows, " +
          s"expected ${in.validOrders}"))
      Seq(prevStats._1 -> stats._1, prevStats._2 -> stats._2).foreach {
        case (a, b) =>
          extras("scd2_merge.rows_closed") += b.history - a.history
          extras("scd2_merge.rows_opened") += b.rows - a.rows
      }
      r.info("check_day_s", Seq(Stats.secondsSince(dayGateT0)))
      prev = next
      prevStats = stats
      day += 1
    }
    // attempted in every run, after the timed days: its cancelled tasks
    // would otherwise slow them
    c.tracer.op(day.toLong)
    val (_, summaryFailed) =
      c.tracer.span("elt_daily")(view(QueryMix.ExecutiveSummary))
    r.attempted += 1
    if (summaryFailed) r.failed += 1
    if (c.capture) QueryMix.writeExpected(c.expected, captured.toSeq)

    r.putTiming("full_run_s", Seq(first))
    r.putTiming("op_s", days.toSeq)
    r.info("elt_first_run_s", Seq(first))
    r.info("elt_staging_s", stagings.toSeq)
    r.info("elt_merge_s", merges.toSeq)
    r.info("views_s", views.toSeq)
    r.info("generate_day_s", generations.toSeq)
    if (raw > 0) extras("staging.kept_ratio") = kept.toDouble / raw
    extras
  }

  // ---- correctness gates ------------------------------------------------

  def checkProblems(checks: Seq[DataQuality.CheckResult]): Seq[String] =
    checks.filterNot(_.passed).map(c => s"data-quality check failed: $c")

  /** daily_sales revenue must equal fact_orders revenue over the dated
    * orders.
    */
  def revenueProblems(dailySales: DataFrame, factOrders: DataFrame,
      dimTime: DataFrame): Seq[String] = {
    def total(df: DataFrame, c: String): java.math.BigDecimal =
      Option(df.agg(sum(col(c).cast("decimal(38,2)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    val daily = total(dailySales, "total_revenue")
    val facts = total(factOrders.join(
      dimTime.select(col("time_key").as("order_date_key")),
      Seq("order_date_key"), "left_semi"), "total_amount")
    if (daily.compareTo(facts) == 0) Nil
    else Seq(s"daily_sales revenue $daily != fact_orders revenue $facts")
  }

  /** A dimension's rows, history (non-current) rows, business keys and
    * keys without exactly one current row, in one aggregation.
    */
  final case class DimStats(rows: Long, history: Long, keys: Long,
      badKeys: Long)

  def dimStats(dim: DataFrame, key: String): DimStats = {
    val r = dim.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("cur"))
      .agg(sum(col("n")), sum(col("n") - col("cur")), count(lit(1)),
        sum(when(col("cur") =!= 1L, 1L).otherwise(0L)))
      .head()
    DimStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def currentRowProblems(key: String, s: DimStats): Seq[String] =
    if (s.badKeys == 0) Nil
    else Seq(s"$key: ${s.badKeys} of ${s.keys} keys lack exactly one current row")

  /** SCD2 history grows by exactly the changed-key count, and so does the
    * dimension (no key is new).
    */
  def historyProblems(key: String, prev: DimStats, next: DimStats,
      changed: Long): Seq[String] = {
    val grew = next.history - prev.history
    val rowsGrew = next.rows - prev.rows
    if (grew == changed && rowsGrew == changed) Nil
    else Seq(s"$key: history grew by $grew rows (dimension by $rowsGrew), " +
      s"expected $changed changed keys")
  }

  def stagingProblems(staging: Map[String, DataFrame],
      in: DayInput): Seq[String] = {
    val orders = staging("orders").count()
    if (orders == in.validOrders) Nil
    else Seq(s"staging kept $orders orders, expected ${in.validOrders}")
  }
}
