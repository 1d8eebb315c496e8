package perfbench

import graft.corpus.CorpusPrep.StageCount
import graft.pipeline.DataQuality.CheckResult
import org.apache.spark.sql.functions._

/** Shows that every correctness gate accepts a good result and rejects a
  * perturbed one. Prints one PASS/FAIL line per gate; exits non-zero on
  * any FAIL. Run through `perfbench/tests/test_gates.py`.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(
      args.sliding(2).collectFirst { case Array("--cpus", n) => n }.getOrElse("2"))
    import spark.implicits._
    var failures = 0
    def expect(gate: String, good: => Seq[String], bad: => Seq[String]): Unit = {
      val (g, b) = (good, bad)
      val ok = g.isEmpty && b.nonEmpty
      if (!ok) failures += 1
      println(s"${if (ok) "PASS" else "FAIL"} $gate" +
        (if (ok) "" else s" (good result: $g; perturbed result: $b)"))
    }

    // ---- elt_daily
    val passed = CheckResult("warehouse.fact_orders.orphaned", 0, passed = true)
    expect("elt_daily rejects a failed data-quality check",
      Elt.checkProblems(Seq(passed)),
      Elt.checkProblems(Seq(passed, passed.copy(value = 3, passed = false))))

    val dimTime = Seq(20250101, 20250102).toDF("time_key")
    val facts = Seq(("o1", 20250101, "10.00"), ("o2", 20250102, "5.50"))
      .toDF("order_id", "order_date_key", "total_amount")
      .withColumn("total_amount", col("total_amount").cast("decimal(12,2)"))
    val daily = Seq(("2025-01-01", "10.00"), ("2025-01-02", "5.50"))
      .toDF("sales_date", "total_revenue")
      .withColumn("total_revenue", col("total_revenue").cast("decimal(22,2)"))
    expect("elt_daily rejects daily_sales revenue one cent off fact_orders",
      Elt.revenueProblems(daily, facts, dimTime),
      Elt.revenueProblems(daily.withColumn("total_revenue",
        col("total_revenue") + lit(0.01).cast("decimal(3,2)")), facts, dimTime))

    val prev = Seq(("C1", true), ("C2", true)).toDF("customer_id", "is_current")
    val next = Seq(("C1", false), ("C1", true), ("C2", true))
      .toDF("customer_id", "is_current")
    def stats(df: org.apache.spark.sql.DataFrame) =
      Elt.dimStats(df, "customer_id")
    expect("elt_daily rejects a key with two current rows",
      Elt.currentRowProblems("customer_id", stats(next)),
      Elt.currentRowProblems("customer_id",
        stats(next.union(Seq(("C2", true)).toDF("customer_id", "is_current")))))
    expect("elt_daily rejects SCD2 history that grew past the changed keys",
      Elt.historyProblems("customer_id", stats(prev), stats(next), 1),
      Elt.historyProblems("customer_id", stats(prev),
        stats(next.union(Seq(("C2", false)).toDF("customer_id", "is_current"))), 1))

    val in = Elt.DayInput(0, "", 0, validOrders = 2, 0, 0)
    expect("elt_daily rejects staging that kept a malformed order",
      Elt.stagingProblems(Map("orders" -> Seq("o1", "o2").toDF("order_id")), in),
      Elt.stagingProblems(Map("orders" -> Seq("o1", "o2", "bad").toDF("order_id")), in))

    // ---- query_mix (and elt_daily's views)
    val result = Seq((1L, 0.5, "a", Seq(1.25)), (2L, 1.5, "b", Seq(2.5)))
      .toDF("k", "v", "s", "xs")
    val expected = Map("q" -> {
      val (rows, fp) = QueryMix.fingerprint(result)
      QueryMix.Expected(rows, fp)
    })
    val reordered = QueryMix.fingerprint(result.orderBy(col("k").desc))
    expect("query_mix rejects one changed value (row order ignored)",
      QueryMix.compare(expected, "q", reordered),
      QueryMix.compare(expected, "q", QueryMix.fingerprint(
        result.withColumn("v", when(col("k") === 2L, 1.75).otherwise(col("v"))))))
    def observedRun(df: org.apache.spark.sql.DataFrame) = {
      val obs = org.apache.spark.sql.Observation()
      QueryMix.observed(df, obs).write.format("noop").mode("overwrite").save()
      QueryMix.observedFingerprint(obs)
    }
    expect("query_mix rejects a changed value seen while it runs",
      QueryMix.compare(expected, "q", observedRun(result.orderBy(col("k")))),
      QueryMix.compare(expected, "q", observedRun(
        result.withColumn("s", when(col("k") === 1L, "z").otherwise(col("s"))))))
    expect("query_mix rejects a missing row",
      QueryMix.compare(expected, "q", reordered),
      QueryMix.compare(expected, "q", QueryMix.fingerprint(result.limit(1))))
    expect("query_mix rejects a duplicated row",
      QueryMix.compare(expected, "q", reordered),
      QueryMix.compare(expected, "q",
        QueryMix.fingerprint(result.union(result.limit(1)))))

    // ---- corpus_curation
    expect("corpus_curation rejects a stage that gained rows",
      Corpus.monotoneProblems("rebuild",
        Seq(StageCount("input", 5), StageCount("exact_dedup", 4))),
      Corpus.monotoneProblems("rebuild",
        Seq(StageCount("input", 5), StageCount("exact_dedup", 6))))
    val out = Seq(1L, 2L).toDF("doc_id")
    expect("corpus_curation rejects a surviving injected exact copy",
      Corpus.survivorProblems("rebuild", out, Seq(1000001L)),
      Corpus.survivorProblems("rebuild",
        out.union(Seq(1000001L).toDF("doc_id")), Seq(1000001L)))
    val splits = Seq((1L, 1L, "train"), (2L, 2L, "val"))
      .toDF("doc_id", "canon", "split")
    expect("corpus_curation rejects an admitted doc whose split moved",
      Corpus.splitProblems(QueryMix.fingerprint(splits),
        QueryMix.fingerprint(splits.orderBy(col("doc_id").desc))),
      Corpus.splitProblems(QueryMix.fingerprint(splits),
        QueryMix.fingerprint(splits.withColumn("split",
          when(col("doc_id") === 2L, "test").otherwise(col("split"))))))

    spark.stop()
    println(s"self-test: ${if (failures == 0) "all gates reject their perturbed results" else s"$failures gate(s) failed"}")
    if (failures > 0) sys.exit(1)
  }
}
