package graft.operators

import graft.{SparkEntry, TempDirs, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: correctness tests prove the numbers,
  * these prove the 100-TB posture — filters/projections reach the
  * parquet scan, small sides broadcast, top-k avoids a global sort, and
  * hot paths stay inside whole-stage codegen. A regression here is a
  * performance bug even when results stay right.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save() // finalize AQE plan
    val qe: QueryExecution = df.queryExecution
    qe.executedPlan.toString()
  }

  test("q02: filter and projection are pushed to the parquet scan") {
    val plan = planOf("q02_project_filter")
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThanOrEqual(p_size,25"),
      s"p_size filter not pushed:\n$plan")
    // column pruning: scan must not read the unused p_retailprice... it
    // IS used; assert the unused p_container/p_comment never appear
    assert(!plan.contains("p_comment"))
  }

  test("q03: dimension join is broadcast, not shuffled") {
    val plan = planOf("q03_join_broadcast")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q04: dims broadcast; no cartesian anywhere") {
    val plan = planOf("q04_multi_join")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q06/q07: semi and anti joins plan as semi/anti, not distinct+join") {
    assert(planOf("q06_semi_join").contains("LeftSemi"))
    assert(planOf("q07_anti_join").contains("LeftAnti"))
  }

  test("q12: top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = planOf("q12_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val plan = planOf("q01_pricing_summary")
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("partial_"), s"no partial aggregation:\n$plan")
  }

  test("q01: hot path is inside whole-stage codegen") {
    // AQE's wrapper hides codegen subtrees until execution — inspect the
    // static plan (same stages AQE will run)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      val codegen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(codegen.contains("WholeStageCodegen subtrees"), codegen.take(500))
      assert(!codegen.startsWith("Found 0"), codegen.take(500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q08: range join broadcasts the tiny window side") {
    val plan = planOf("q08_range_join")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q39: ANN query broadcasts the query vectors") {
    val plan = planOf("q39_cosine_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q39: per-key top-k runs under WindowGroupLimit (partial group limits, no full per-key sort retained)") {
    // Spark 3.5+ rewrites rank()/row_number() <= k filters into
    // WindowGroupLimitExec (per-partition group-limit BEFORE the
    // exchange + final limit after): each key keeps a k-row heap
    // instead of materializing every candidate for the window sort.
    // The rewrite only fires while the filter sits directly on the
    // rank column — a refactor that obscures it (e.g. casting before
    // filtering) silently reverts to full window sorts at corpus scale.
    val plan = planOf("q39_cosine_topk")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q41: bucketed ANN joins on the bucket key (hash join, no cartesian)") {
    val plan = planOf("q41_lsh_ann")
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("Join"), plan)
  }

  test("q81: bloom probe sits in the plan before the shingle join") {
    val plan = planOf("q81_bloom_decontaminate")
    // the prefilter must survive optimization as a might_contain probe
    // fed by ONE scalar subquery (not a per-row re-aggregation)
    assert(plan.contains("might_contain"), plan.take(2000))
    assert(plan.contains("Subquery") || plan.contains("subquery"),
      plan.take(2000))
  }

  test("q82: int8 candidate scan broadcasts queries; no cartesian") {
    val plan = planOf("q82_int8_ann")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q83: df counts pre-aggregate map-side; no cartesian") {
    val plan = planOf("q83_dup_ngram_fraction")
    assert(plan.contains("partial_"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q84: rate dim broadcasts; the corpus is never sort-merge joined") {
    val plan = planOf("q84_temperature_mix")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("q85: keeper window partitions by cluster (no global window)") {
    val plan = planOf("q85_keep_best")
    assert(plan.contains("windowspecdefinition(cluster_id"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q87: simhash banding joins on (band, key); no cartesian") {
    val plan = planOf("q87_simhash_neardup")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("Join"), plan.take(2000))
  }

  test("q88: KMV sketch aggregates partially before the shuffle") {
    val plan = planOf("q88_kmv_distinct")
    // the UDAF must get map-side combine: only ≤k-long arrays may cross
    assert(plan.contains("partial_"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q89: the vocabulary LM dim broadcasts onto the token stream") {
    val plan = planOf("q89_unigram_logprob")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("q91: both retrieval top-50s become pushed-down limits, not full sorts") {
    // for a GLOBAL-order row_number()<=k, Catalyst goes one better than
    // WindowGroupLimit: LimitPushDownThroughWindow turns the rank filter
    // into TakeOrderedAndProject(limit=50) BELOW the window, so each
    // retrieval list is per-partition heaps + a 50-row window — assert
    // that shape (or the group-limit form, if a partition key is added)
    val plan = planOf("q91_hybrid_rrf")
    val limits = "TakeOrderedAndProject\\(limit=50".r.findAllIn(plan).size
    assert(limits >= 2 || plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q93: filtered ANN joins on the composite (bucket, label) key") {
    // PRE-filtering: the label predicate must sit in the join key (non-
    // matching vectors never reach scoring), not as a post-join filter
    val plan = planOf("q93_filtered_ann")
    assert(plan.contains("Join") && !plan.contains("CartesianProduct"),
      plan.take(2000))
    assert(plan.contains("label"), plan.take(2000))
    // scoring (cosine) must not appear below/inside the join condition —
    // it runs only on composite-key survivors
    val joinLine = plan.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(!joinLine.contains("cosine"), joinLine)
  }

  test("q92: budget cumsum windows by source (the shard key), never globally") {
    val plan = planOf("q92_token_budget_select")
    assert(plan.contains("windowspecdefinition(source"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q106/q112: row-local transforms have no shuffle except the output sort") {
    // both are map-stage applies (JL literals / inlined model params):
    // the ONLY exchange allowed is the rangepartitioning of the final
    // deterministic orderBy — no aggregate, no join, no hash exchange
    Seq("q106_random_projection", "q112_abtt_projection").foreach { n =>
      val plan = planOf(n)
      assert(!plan.contains("HashAggregate"), s"$n aggregates:\n$plan")
      assert(!plan.contains("Join"), s"$n joins:\n$plan")
      assert(!plan.contains("hashpartitioning"),
        s"$n hash-shuffles:\n$plan")
    }
  }

  test("q109: top-50 merge table is TakeOrderedAndProject, counts partial") {
    val plan = planOf("q109_bpe_pairs")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_"), s"no map-side combine:\n$plan")
  }

  test("q110: the d-row stats frame broadcasts onto the apply side") {
    val plan = planOf("q110_zscore")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q111: overlap self-join keys on the shingle; sizes broadcast; no cartesian") {
    val plan = planOf("q111_source_overlap")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q115: cap window partitions by source (no global window); no cartesian") {
    val plan = planOf("q115_source_cap")
    assert(plan.contains("windowspecdefinition(source"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q116: the K ladder broadcasts onto the vocab rank (corpus never nested-looped)") {
    val plan = planOf("q116_vocab_coverage")
    // r <= k is a theta join against a 5-row dim: BroadcastNestedLoop
    // over the vocab-sized ranked frame is the intended shape; the
    // corpus-sized explode feeds only the hash aggregation below it
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"no map-side combine on the token counts:\n${plan.take(3000)}")
  }

  test("q117: centrality iterations are hash joins + aggs, never cartesian") {
    val plan = planOf("q117_link_centrality")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q117: final ranking is a distributed top-30, not a global window sort") {
    // The rank window must only ever see the 30 survivors of an explicit
    // TakeOrderedAndProject — never the full |parts| domain set. (Catalyst's
    // LimitPushDownThroughWindow can't rescue a filter on cast(rank), so the
    // limit is explicit in the operator; this pin catches it regressing.)
    val plan = planOf("q117_link_centrality")
    assert("TakeOrderedAndProject\\(limit=30".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("q118/q119: row-local curation passes never join or nested-loop") {
    Seq("q118_quality_sample", "q119_padding_waste").foreach { n =>
      val plan = planOf(n)
      assert(!plan.contains("Join"), s"$n joins:\n${plan.take(2000)}")
      assert(plan.contains("HashAggregate"), s"$n:\n${plan.take(2000)}")
    }
  }

  test("q120/q121: leakage audit and dedup-aware split stay on the banded-join shape") {
    // both ride the q36 banded candidate join; the split labeling is
    // row-local and the q121 cluster-map join is an equi-join — any
    // CartesianProduct/BroadcastNestedLoop here means the LSH shape broke
    Seq("q120_split_leakage", "q121_dedup_aware_split").foreach { n =>
      val plan = planOf(n)
      assert(!plan.contains("CartesianProduct"), s"$n:\n${plan.take(3000)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$n:\n${plan.take(3000)}")
      assert(plan.contains("HashAggregate"), s"$n:\n${plan.take(3000)}")
    }
  }

  test("q123: inventory and hit-sets broadcast; positional work stays in the kernel") {
    // the ≤10/source inventory must reach the shingle stream as a
    // broadcast (corpus side never exchanges for the join), and the
    // fused CoveredPositions kernel must be in the plan — a positional
    // explode reappearing here is the 5.3s shape regressing
    val plan = planOf("q123_boilerplate_strip")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(plan.contains("covered_positions"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("Generate posexplode"), plan.take(3000))
  }

  test("q124: selection is a distributed top-k, never a global sort") {
    // TakeOrderedAndProject = per-partition heaps + O(k) merge; a Sort
    // over the full corpus here means the A-ES selection shape broke
    val plan = planOf("q124_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(3000))
  }

  test("q125: the corpus is exploded exactly once (sw materialized, not replanned)") {
    // Four subtrees (join input, word marginal, source marginal, corpus
    // total) all derive from the (source,word) count frame. Without the
    // localCheckpoint, ReuseExchange fails to dedupe them (join-side
    // IsNotNull pushed filters break exchange canonical equality) and
    // the executed plan carried FOUR corpus-sized Generate explodes.
    // The checkpoint makes the downstream plan read the materialized
    // vocab-sized frame: no Generate may survive in the final plan.
    val plan = planOf("q125_source_kl")
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      plan.take(3000))
  }

  test("q126: the filter stack is one map pass — no join, no exchange before the sort") {
    val plan = planOf("q126_filter_stack")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q128: candidates come from the fingerprint equi-join — never doc×doc") {
    // the winnow→join→verify shape: fingerprint self-join and the two
    // pair-text joins are all equi-joins; a CartesianProduct or
    // BroadcastNestedLoop here means the candidate generation collapsed
    // to all-pairs (the exact anti-shape Lee et al.'s suffix-array
    // approach exists to avoid)
    val plan = planOf("q128_exact_substring_dedup")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("q130: strip accounting keeps the banded shape; coverage stays in the kernel") {
    // q128's candidate equi-join + a per-doc partner fold + ONE fused
    // kernel call — a CartesianProduct or a positional explode here
    // means either the candidate join or the coverage pass regressed
    // to the corpus-sized anti-shape
    val plan = planOf("q130_exact_substring_strip")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("shared_coverage"), plan.take(3000))
    assert(!plan.contains("Generate posexplode"), plan.take(3000))
  }

  test("q132: decontamination keeps the banded shape; coverage stays in the kernel") {
    // eval↔train candidates come from the fingerprint equi-join and
    // the positional work runs in SharedCoverage — a CartesianProduct
    // or positional explode here is the corpus-sized anti-shape
    val plan = planOf("q132_span_decontaminate")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("shared_coverage"), plan.take(3000))
    assert(!plan.contains("Generate posexplode"), plan.take(3000))
  }

  test("q129: merge application is one map pass — model inlined, no join, no agg") {
    // the merge table is collected at build time (O(model)); the query
    // plan itself must be corpus-scan → fused kernel → sort. A Join or
    // HashAggregate appearing here means the application stopped being
    // row-local (the vocab-join shape the oracle uses is fine for
    // DuckDB, wrong for the 100 TB engine path).
    val plan = planOf("q129_bpe_apply")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    assert(plan.contains("bpe_apply"), plan.take(3000))
  }

  test("q133: trained-table application stays one map pass — same shape as q129") {
    // training runs at BUILD time (16 argmax rows to the driver); the
    // query plan itself must remain corpus-scan → fused kernel → sort,
    // exactly q129's row-local shape — the trained multi-char table
    // changes the kernel's constant, never the dataflow
    val plan = planOf("q133_bpe_train_apply")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    assert(plan.contains("bpe_apply"), plan.take(3000))
  }

  test("q134: BPE packing is the q74 shard-key window — partitioned, never global") {
    // per-source cumulative sum: the window must partition on source
    // (one exchange on the shard key), with no join and no global sort
    // before the aggregation — the q74 scale shape priced in trained
    // tokens
    val plan = planOf("q134_bpe_sequence_pack")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("bpe_apply"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
    assert(plan.contains("hashpartitioning(source"), plan.take(3000))
  }

  test("fact reads prune partitions on the month key") {
    // partition-pruning smoke on the pipeline's partitioned fact output
    import org.apache.spark.sql.functions._
    val dir = TempDirs("graft_prune")
    graft.pipeline.DataGen.writeAll(spark, s"$dir/csv", nCustomers = 20,
      nProducts = 10, nOrders = 50)
    val r = graft.pipeline.Pipeline.run(spark, s"$dir/csv", s"$dir/out",
      java.time.LocalDate.of(2025, 7, 15))
    val pruned = r.factOrders.filter(col("order_month") === 202407)
    val scan = pruned.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters"), scan)
    assert(pruned.count() > 0)
  }

  test("q135/q136/q137: trained-model scoring is one row-local map — no join, no agg") {
    // training runs as separate tiny jobs at construction (one gradient
    // row per round); the RETURNED plan is the scoring/sampling pass
    // with the weights inlined as literals — it must read the
    // checkpointed feature frame and touch no join, no aggregate, no
    // explode before the output sort (at 100 TB: one map stage riding
    // the corpus scan)
    for (q <- Seq("q135_quality_classifier", "q136_classifier_pareto_sample",
        "q137_classifier_full")) {
      val plan = planOf(q)
      assert(!plan.contains("Join"), s"$q:\n${plan.take(3000)}")
      assert(!plan.contains("HashAggregate"), s"$q:\n${plan.take(3000)}")
      assert(!plan.contains("Generate"), s"$q:\n${plan.take(3000)}")
      assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
        s"$q:\n${plan.take(3000)}")
    }
  }

  test("q143: frozen deployment is one map over the corpus scan — no training jobs at all") {
    // unlike q135-q137 there is no checkpointed feature frame and no
    // per-round gradient job: the weights are literals, so the whole
    // query is a row-local map + output sort riding the parquet scan
    val plan = planOf("q143_frozen_deploy")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("HashAggregate"), plan.take(3000))
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("FileScan parquet"), plan.take(3000))
  }

  test("q142: rollup folds per-type register arrays — fixed-size state only across its exchange") {
    val plan = planOf("q142_sketch_rollup")
    // the rollup aggregator must combine map-side: what crosses its
    // SinglePartition exchange is one partially-merged register array
    // per task, never per-type rows re-derived from events
    assert(plan.contains("partial_mergeagg"), plan.take(4000))
    // the per-type sketch frame is checkpointed and consumed twice
    // (output rows + rollup); since the direct proof moved to the
    // verificationOnly twin q147, the production face has ZERO parquet
    // scans left in its final plan — everything reads the checkpointed
    // O(types) sketch rows. A parquet scan here means either the q125
    // reuse break regressed or an exact/proof pass crept back in.
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 0, s"expected 0 events scans, got $scans:\n${plan.take(4000)}")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      plan.take(4000))
  }

  test("q104: bigram pairing is row-local — no window, no token-stream sort (r14)") {
    // the r14 rewrite derives adjacent pairs from the token array with
    // transform(sequence(...)) instead of posexplode + lag over a
    // doc-keyed window; a Window (and its hashpartition+sort of the
    // full token stream) reappearing here is the shuffle regressing
    val plan = planOf("q104_bigram_logprob")
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("q76: BM25 scoring tokenizes once — no explode, no TF/DF shuffle in the returned plan (r14)") {
    // per-term TF and document frequency are row-local over the token
    // array (size(filter(...)), tf > 0 counts); the corpus is tokenized
    // once into the checkpointed per-doc frame, so the returned plan
    // must carry no Generate (explode) and no join — a Generate here
    // means the explode+groupBy shuffles crept back
    val plan = planOf("q76_bm25")
    assert(!plan.contains("Generate"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q145: rollup-from-state reads ONLY the store — never the absorbed events") {
    val plan = planOf("q145_sketchstore_rollup")
    // the emitted frame folds persisted sketch rows: its scans must be
    // the state table's parquet (path under java.io.tmpdir), not the
    // events table — a scan of events.parquet here means the "from
    // state only" contract silently regressed to a recompute
    assert(!plan.contains("events.parquet"), plan.take(4000))
    assert(plan.contains("partial_mergeagg"), plan.take(4000))
  }
}
