package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import graft.SparkEntry
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The operator-query surface: registry entries at the fixed testdata
  * scale, run one at a time in a seeded order, each result into the
  * noop sink. Also home of what `elt_daily` shares for serving its views:
  * the deadline-guarded [[runQuery]] and the result fingerprints.
  */
object QueryMix {

  /** Registry entries one pass runs: one per registry module, each a
    * light-to-median entry of its module. A full registry pass (147
    * entries) takes minutes at sf0.1 on four cores, so the mix is a fixed
    * subset, small enough to time several passes per run. The sketch-store
    * face reads the store that set-up ingests.
    */
  val Mix: Seq[String] = Seq(
    "q03_join_broadcast", // core
    "q44_rollup", // analytics_q
    "q31_lang_id", // text
    "q36_minhash_lsh_pairs", // dedup
    "q39_cosine_topk", // vector
    "q45_dataset_split", // datasplit
    "q50_decontaminate", // training
    "q69_moving_avg", // relational
    "q145_sketchstore_rollup") // sketch_store

  /** Untimed before the first pass, as in `graft.Bench`: they absorb
    * JVM, classloader and codegen start-up with three disjoint operator
    * shapes (hash aggregate, filter + sort + string kernels, multi-join).
    */
  val Warmup = Seq("q01_pricing_summary", "q02_project_filter",
    "q04_multi_join")

  /** Timed passes each run makes at least, whatever `--seconds` says. */
  val MinPasses = 1

  /** The 11 served views `PipelineResult.registerViews` registers. */
  val Views: Seq[String] = Seq("customer_metrics", "product_metrics",
    "daily_sales", "monthly_trends", "customer_acquisition",
    "campaign_attribution", "executive_summary", "top_products",
    "customer_segmentation", "seasonal_performance", "acquisition_summary")
    .map("public_" + _)

  /** `AnalyticsJob.executiveSummary` is the reference's deliberate triple
    * cross join (2,500 × 650 × 365 rows at 1× volume); it has not finished
    * within 240 s, so it runs under a short deadline and counts as failed.
    */
  val ExecutiveSummary = "public_executive_summary"
  val SummaryDeadlineS = 0.5
  /** Every other query gets a generous deadline so a hang cannot stall a run. */
  val DeadlineS = 60.0

  /** The faces over `SketchStore`'s persisted state: registered in
    * `RelationalExtras.all`, charged to their own layer.
    */
  private val SketchStoreFaces = Set("q145_sketchstore_rollup",
    "q149_sketchstore_daily", "q150_sketchstore_setops",
    "q152_sketchstore_stream")

  /** The registry module that owns `name` (the layer it is charged to). */
  def moduleOf(name: String): String =
    if (Views.contains(name)) "views"
    else if (SketchStoreFaces.contains(name)) "sketch_store"
    else Seq(
      "core" -> CoreQueries.all, "analytics_q" -> AnalyticsQueries.all,
      "text" -> TextQueries.all, "dedup" -> DedupQueries.all,
      "vector" -> VectorQueries.all, "datasplit" -> DataSplit.all,
      "training" -> TrainingQueries.all, "relational" -> RelationalExtras.all)
      .collectFirst { case (m, qs) if qs.exists(_.name == name) => m }
      .getOrElse(sys.error(s"query $name is in no registry module"))

  def run(c: Ctx, r: Report): collection.Map[String, Double] = {
    val spark = c.spark
    val queries = SparkEntry.queries
    // set-up beyond the session: the warm-up queries, then the sketch-store
    // ingest (memoized per session) that the sketch_store face reads; a
    // traced run charges the ingest to that layer's build
    val (_, warmupS) = Stats.time(Warmup.foreach { n =>
      queries(n)(spark, c.testdata).write.format("noop").mode("overwrite")
        .save()
      unpersistAll(spark)
    })
    c.tracer.op(-1)
    val (_, ingestS) = Stats.time(c.tracer.span("query_mix")(
      c.tracer.span("sketch_store.build")(SketchStore.storeFor(spark, c.testdata))))
    r.put("setup_s", c.sessionStartS + warmupS + ingestS, "s")
    r.info("setup_session_s", Seq(c.sessionStartS))
    r.info("setup_warmup_s", Seq(warmupS))
    r.info("setup_store_ingest_s", Seq(ingestS))
    val expected =
      if (c.capture) Map.empty[String, Expected] else loadExpected(c.expected)
    val captured = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, String)]

    val rng = new scala.util.Random(c.seed)
    val passes, latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val byQuery = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    var seq = 0L
    while (Stats.secondsSince(t0) < c.seconds || passes.size < MinPasses) {
      passes += rng.shuffle(Mix).map { n =>
        c.tracer.op(seq)
        // the correctness check rides the timed execution: the result's
        // fingerprint is observed as it streams into the noop sink
        val obs = Observation(s"fingerprint-$seq")
        val (s, failed) = c.tracer.span("query_mix")(runQuery(spark,
          c.tracer, n, () => observed(queries(n)(spark, c.testdata), obs), seq))
        seq += 1
        r.attempted += 1
        if (failed) r.failed += 1
        else if (c.capture) captured(n) = observedFingerprint(obs)
        else r.check(compare(expected, n, observedFingerprint(obs)))
        unpersistAll(spark)
        latencies += s
        byQuery.getOrElseUpdate(n, scala.collection.mutable.ArrayBuffer()) += s
        s
      }.sum
    }
    if (c.capture) writeExpected(c.expected, captured.toSeq)
    byQuery.foreach { case (n, xs) => r.info(s"query.$n", xs.toSeq) }
    r.putTiming("full_run_s", passes.toSeq)
    // the typical query: a geometric mean, because a median of eight
    // entries of different cost jumps between them under host noise
    r.put("op_s", math.exp(latencies.map(math.log).sum / latencies.size), "s")
    r.info("query_total_s", passes.toSeq)
    r.info("query_latency_s", latencies.toSeq)
    Map.empty
  }

  /** Drop every cached RDD between queries, as Bench does. */
  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  // ---- fingerprints -----------------------------------------------------

  /** Floating values hash at float precision, so a last-bit difference in
    * a parallel sum cannot change a fingerprint; maps hash as sorted
    * entry arrays.
    */
  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(e, _) => transform(c, x => normalized(x, e))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalized(c.getField(f.name), f.dataType)
          .as(f.name)): _*))
    case MapType(k, v, _) =>
      normalized(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  /** Row count and an order-insensitive content fingerprint: the sum of
    * every row's xxhash64 over all columns.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val r = df.select(rowHash(df).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f =>
      normalized(df.col(s"`${f.name}`"), f.dataType))
    (if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)).cast("decimal(20,0)")
  }

  /** `df` with its [[fingerprint]] observed while it runs into any sink. */
  def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("rows"), sum(rowHash(df)).as("fp"))

  /** The fingerprint an [[observed]] frame recorded; call after its action. */
  def observedFingerprint(obs: Observation): (Long, String) = {
    val m = obs.get
    (m("rows").asInstanceOf[Long], Option(m("fp"))
      .map(_.asInstanceOf[java.math.BigDecimal].toPlainString).getOrElse("0"))
  }

  final case class Expected(rows: Long, fingerprint: String)

  def compare(expected: Map[String, Expected], name: String,
      actual: (Long, String)): Seq[String] = expected.get(name) match {
    case None => Seq(s"$name: no expected result committed")
    case Some(e) if e.rows == actual._1 && e.fingerprint == actual._2 => Nil
    case Some(e) => Seq(s"$name: got ${actual._1} rows / ${actual._2}, " +
      s"expected ${e.rows} rows / ${e.fingerprint}")
  }

  def loadExpected(path: String): Map[String, Expected] = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val entry = "\"([a-z0-9_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"fingerprint\"\\s*:\\s*\"(-?\\d+)\"\\s*\\}".r
    entry.findAllMatchIn(text).map(m =>
      m.group(1) -> Expected(m.group(2).toLong, m.group(3))).toMap
  }

  /** Record `results`, keeping the other workloads' entries. */
  def writeExpected(path: String, results: Seq[(String, (Long, String))]): Unit = {
    val kept = (if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      loadExpected(path) else Map.empty[String, Expected])
      .map { case (n, e) => n -> (e.rows, e.fingerprint) }
    val body = (kept ++ results).toSeq.sortBy(_._1).map { case (n, (rows, fp)) =>
      s"""    "$n": {"rows": $rows, "fingerprint": "$fp"}"""
    }.mkString("{\n  \"queries\": {\n", ",\n", "\n  }\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  // ---- issuing a query --------------------------------------------------

  private val timer = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-deadline")
    t.setDaemon(true)
    t
  }

  /** Build and execute one query into the noop sink under a deadline. On
    * a miss the job group is cancelled. A traced run charges the write's
    * own analysis, optimization and planning to `<module>.plan` and the
    * rest of the write to `<module>.exec`. Returns the wall seconds and
    * whether the query failed.
    */
  def runQuery(spark: SparkSession, tracer: Tracer, name: String,
      build: () => DataFrame, seq: Long): (Double, Boolean) = {
    val sc = spark.sparkContext
    val module = moduleOf(name)
    val deadline = if (name == ExecutiveSummary) SummaryDeadlineS else DeadlineS
    val group = s"perfbench-$seq"
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val cancel = timer.schedule(new Runnable {
      def run(): Unit = sc.cancelJobGroup(group)
    }, (deadline * 1000).toLong, TimeUnit.MILLISECONDS)
    val t0 = System.nanoTime()
    val ok = try {
      val df = tracer.span(s"$module.build")(build())
      val sinceMs = System.currentTimeMillis()
      try tracer.span(s"$module.exec") {
        df.write.format("noop").mode("overwrite").save()
      } finally tracer.chargePlanning(s"$module.plan", sinceMs)
      true
    } catch {
      case e: Exception =>
        if (name != ExecutiveSummary)
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        false
    } finally {
      cancel.cancel(false)
      sc.clearJobGroup()
    }
    val s = Stats.secondsSince(t0)
    (s, !ok || s > deadline)
  }
}
