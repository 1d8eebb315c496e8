package graft

import java.time.LocalDate

/** Serving entry point — the engine's analogue of the reference's
  * `public.*` passthrough views that its BI layer reads over a live
  * connection (reference `analytics_dag.py:339-440`): run the pipeline,
  * register every analytics table and derived view on a long-lived
  * session, and stay up answering SQL.
  *
  * Usage: `runMain graft.Serve [csvDir] [outDir] [--once] [--connect]`
  *   - no csvDir  → generate the deterministic CSV fixtures first
  *   - no outDir  → work in a [[TempDirs]] directory, deleted at exit
  *   - `--once`   → smoke mode: query every view once, print row counts,
  *                  exit 0 (what the spec and the driver can run)
  *   - `--connect`→ additionally start the Spark Connect gRPC service
  *                  (default port 15002) and mirror every view into
  *                  `global_temp` — remote Connect sessions have their
  *                  own session state, so plain temp views would be
  *                  invisible to them; `global_temp.public_*` is the
  *                  cross-session serving catalog a
  *                  `spark.remote("sc://host:15002")` client queries.
  *   - otherwise  → keep the session alive until stdin closes / SIGTERM,
  *                  re-printing the catalog every 5 minutes.
  */
object Serve {

  /** The served catalog: every `public_*` view registered by
    * [[pipeline.PipelineResult.registerViews]] plus the corpus views.
    */
  def servedViews(spark: org.apache.spark.sql.SparkSession): Seq[String] =
    // catalog metadata only (a few dozen view names) — NOT a data collect;
    // the no-driver-collect rule applies to operator/data paths
    spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("public_")).sorted.toSeq

  /** Corpus-side dashboard views over the documents/events tables —
    * the LLM-pipeline half of the serving surface (language mix,
    * quality gates, dedup resolution, funnel, retention), each backed
    * by its oracle-checked registry query.
    */
  val CorpusViews: Map[String, String] = Map(
    "public_corpus_langs" -> "q29_lang_stats",
    "public_corpus_quality" -> "q30_quality_gate",
    "public_corpus_dedup" -> "q70_dedup_resolve",
    "public_corpus_keep_best" -> "q85_keep_best",
    "public_corpus_mix" -> "q73_corpus_mix",
    "public_corpus_temp_mix" -> "q84_temperature_mix",
    "public_corpus_dup_ngrams" -> "q83_dup_ngram_fraction",
    "public_corpus_heavy_words" -> "q86_heavy_hitters",
    "public_corpus_neardups_simhash" -> "q87_simhash_neardup",
    "public_corpus_vocab" -> "q88_kmv_distinct",
    "public_corpus_fluency" -> "q89_unigram_logprob",
    "public_corpus_entropy" -> "q90_char_entropy",
    "public_search_hybrid" -> "q91_hybrid_rrf",
    "public_funnel" -> "q78_funnel",
    "public_retention" -> "q79_retention",
    // round-7 corpus-health dashboards
    "public_corpus_zipf" -> "q107_zipf_slope",
    "public_corpus_source_overlap" -> "q111_source_overlap",
    "public_corpus_span_corruption" -> "q113_span_corruption",
    "public_corpus_bpe_pairs" -> "q109_bpe_pairs",
    // round-9 curation dashboards
    "public_corpus_source_cap" -> "q115_source_cap",
    "public_corpus_vocab_coverage" -> "q116_vocab_coverage",
    "public_link_centrality" -> "q117_link_centrality",
    "public_corpus_quality_sample" -> "q118_quality_sample",
    "public_corpus_padding_waste" -> "q119_padding_waste",
    "public_corpus_split_leakage" -> "q120_split_leakage",
    "public_corpus_dedup_split" -> "q121_dedup_aware_split",
    "public_corpus_diverse_picks" -> "q122_kcenter_diverse",
    "public_corpus_boiler_strip" -> "q123_boilerplate_strip",
    "public_corpus_weighted_sample" -> "q124_weighted_sample",
    "public_corpus_source_kl" -> "q125_source_kl",
    "public_corpus_filter_stack" -> "q126_filter_stack",
    "public_corpus_quality_calibrated" -> "q127_quality_calibrate",
    // round-10 dedup/tokenizer dashboards
    "public_corpus_exact_substring" -> "q128_exact_substring_dedup",
    "public_corpus_bpe_tokens" -> "q129_bpe_apply",
    "public_corpus_span_strip" -> "q130_exact_substring_strip",
    "public_corpus_bpe_merges" -> "q131_bpe_train",
    "public_corpus_eval_overlap" -> "q132_span_decontaminate",
    // round-12 sketch tier + learned-gate deployment dashboards
    "public_corpus_token_freqs" -> "q138_countmin",
    "public_price_quantiles" -> "q139_hist_quantiles",
    "public_active_customers" -> "q140_hll_distinct",
    "public_price_quantiles_bk" -> "q141_bottomk_quantiles",
    "public_users_rollup" -> "q142_sketch_rollup",
    "public_corpus_deploy_gate" -> "q143_frozen_deploy",
    "public_audience_overlap" -> "q144_kmv_setops",
    // round-13: the persisted sketch store's rollup face + the
    // weighted quantile member. Registering the store views runs
    // storeFor's absorb ONCE during serve startup (a deliberate
    // warm-the-state choice, consistent with Serve running the whole
    // pipeline at startup): the three views then share the memoized
    // store, so queries against them are megabyte register folds.
    "public_users_rollup_store" -> "q145_sketchstore_rollup",
    "public_price_quantiles_weighted" -> "q148_weighted_quantiles",
    "public_users_daily_store" -> "q149_sketchstore_daily",
    "public_audience_overlap_store" -> "q150_sketchstore_setops")

  def registerCorpusViews(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Unit =
    if (new java.io.File(sfDir).isDirectory)
      CorpusViews.foreach { case (view, q) =>
        SparkEntry.queries(q)(spark, sfDir).createOrReplaceTempView(view)
      }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--")).toSet
    val paths = args.filterNot(_.startsWith("--"))
    val once = flags.contains("--once")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val workDir = paths.lift(1).getOrElse(TempDirs("graft_serve"))
    val csvDir = paths.headOption.getOrElse {
      val d = s"$workDir/csv"
      pipeline.DataGen.writeAll(spark, d)
      d
    }

    val result = pipeline.Pipeline.run(spark, csvDir, s"$workDir/out",
      LocalDate.of(2025, 7, 15))
    result.registerViews(spark)
    registerCorpusViews(spark,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))

    val views = servedViews(spark)
    println(s"[serve] ${views.size} views registered:")
    views.foreach { v =>
      val n = spark.sql(s"SELECT count(*) FROM $v").head().getLong(0)
      println(f"[serve]   $v%-28s $n%6d rows")
    }
    println("[serve] pipeline stages: " + result.stageSeconds
      .map { case (stage, s) => f"$stage $s%.2f s" }.mkString(", "))

    if (flags.contains("--connect")) {
      views.foreach(v => spark.table(v).createOrReplaceGlobalTempView(v))
      org.apache.spark.sql.connect.service.SparkConnectService
        .start(spark.sparkContext)
      val port = spark.conf.getOption("spark.connect.grpc.binding.port")
        .getOrElse("15002")
      println(s"[serve] Spark Connect gRPC service on port $port " +
        s"(views under global_temp.*)")
    }

    if (once) { spark.stop(); return }

    println("[serve] serving; close stdin or SIGTERM to stop")
    // EOF is only observable from a BLOCKING read (available() stays 0 at
    // EOF, so polling it never sees the close) — dedicate a reader thread
    // that drains stdin and flips the flag when read() returns -1
    @volatile var open = true
    val reader = new Thread(() => {
      try { while (System.in.read() != -1) () } catch { case _: Throwable => }
      open = false
    }, "serve-stdin-watcher")
    reader.setDaemon(true)
    reader.start()
    while (open) {
      // wake every 5 min to confirm liveness; exit when stdin closes
      val deadline = System.currentTimeMillis() + 5 * 60 * 1000
      while (open && System.currentTimeMillis() < deadline) Thread.sleep(1000)
      if (open) println(s"[serve] alive, ${views.size} views")
    }
    spark.stop()
  }
}
