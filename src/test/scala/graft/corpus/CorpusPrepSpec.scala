package graft.corpus

import graft.{Tables, TestSpark}
import graft.operators.DedupQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed pipeline's invariants. Each stage's VALUES are already
  * gate-verified through its registry twin (q72/q30/q33/q36+q70/q50/
  * q73/q45/q74); here we verify the composition: stage accounting,
  * end-state properties (no near-dups survive, no contamination
  * survives), and the packing arithmetic against an independent
  * re-implementation.
  */
class CorpusPrepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val (prepared, counts) = {
    val docs = Tables.load(spark, sfDir, "documents")
    val eval_ = docs.filter($"doc_id" % 20 === 0).select($"doc_id", $"text")
    CorpusPrep.run(docs, Some(eval_))
  }

  test("stage accounting: monotone, complete, normalization lossless") {
    val byStage = counts.map(c => c.stage -> c.rows).toMap
    assert(counts.map(_.stage) == Seq("input", "normalize", "quality_gate",
      "classifier_sample", "exact_dedup", "near_dedup", "span_dedup",
      "decontaminate", "mix", "pack"))
    assert(byStage("input") == 500)
    assert(byStage("normalize") == byStage("input"))
    counts.sliding(2).foreach {
      case Seq(a, b) => assert(b.rows <= a.rows, s"${b.stage} grew")
      case _ =>
    }
    // classifier sampling off by default: pure pass-through
    assert(byStage("classifier_sample") == byStage("quality_gate"))
    // mix disabled and packing only annotates: no rows move
    assert(byStage("mix") == byStage("decontaminate"))
    assert(byStage("pack") == byStage("mix"))
  }

  test("classifier_sample stage == its registry twin (q136 Pareto draw) on the same input") {
    // Enable the learned gate with everything downstream that could
    // mask it neutralized (no quality threshold so the stage input is
    // exactly the normalized frame, which the twin can reconstruct).
    val docs = Tables.load(spark, sfDir, "documents")
    val (out, stageCounts) = CorpusPrep.run(docs, None,
      CorpusPrepConfig(minQuality = 0.0, classifierSample = true))
    val byStage = stageCounts.map(c => c.stage -> c.rows).toMap

    // the registry twin on the stage's exact input: normalize, then the
    // q135→q136 train+draw — documents carries `lang`, so CorpusPrep
    // must have routed to the q137 production feature set
    val normalized = docs.withColumn("text",
      graft.functions.UnicodeNorm.nfcNormalize($"text"))
    val twinKept = graft.operators.TrainingQueries
      .paretoSample(normalized, graft.operators.TrainingQueries.QcRounds,
        fullFeatures = true)
      .filter($"kept" === 1L)
      .select($"doc_id").as[Long].collect().toSet

    assert(byStage("classifier_sample") == twinKept.size,
      s"stage kept ${byStage("classifier_sample")}, twin kept ${twinKept.size}")
    assert(byStage("classifier_sample") < byStage("quality_gate"),
      "Pareto draw must reject something on this corpus")
    assert(byStage("classifier_sample") > 0,
      "Pareto draw must keep something on this corpus")
    // survivors of the whole pipeline are a subset of the twin's keeps
    val survivors = out.select($"doc_id").as[Long].collect().toSet
    assert(survivors.subsetOf(twinKept))
  }

  test("no verified near-duplicate pair survives resolution") {
    val remaining = DedupQueries.lshVerifiedPairs(
      prepared.select($"doc_id", $"text"))
      .filter($"jaccard" >= 0.8)
    assert(remaining.count() == 0)
  }

  test("no exact >=50-token shared span survives the span_dedup stage") {
    // removing every flagged doc leaves zero cross-span pairs by the
    // first-wins argument in CorpusPrep's stage comment — assert it
    val flags = DedupQueries.exactSubstringFlags(
      prepared.select($"doc_id", $"text"))
    assert(flags.filter($"is_exact_dup" === 1).count() == 0)
  }

  test("no surviving doc shares an n-gram with the eval set") {
    val docs = Tables.load(spark, sfDir, "documents")
    val evalSh = docs.filter($"doc_id" % 20 === 0)
      .select(explode(graft.functions.Shingles.shingles($"text", 5)).as("sh"))
      .distinct()
    val survivors = prepared.select($"doc_id",
      explode(graft.functions.Shingles.shingles($"text", 5)).as("sh"))
    assert(survivors.join(evalSh, Seq("sh")).count() == 0)
    // in particular every in-corpus eval doc was dropped (self-overlap)
    assert(prepared.filter($"doc_id" % 20 === 0).count() == 0)
  }

  test("split labels are total and roughly proportioned") {
    val n = prepared.count().toDouble
    val frac = prepared.groupBy($"split").count().as[(String, Long)]
      .collect().toMap.view.mapValues(_ / n).toMap
    assert(frac.keySet == Set("train", "val", "test"))
    assert(math.abs(frac("train") - 0.8) < 0.1, frac)
  }

  test("clean corpus (zero near-dup pairs) runs end-to-end") {
    // regression: a corpus with NO verified near-dup pairs at the
    // threshold drives DedupCluster.resolve with an empty edge set —
    // the path that NPE'd before round 4. Every doc must survive
    // near-dedup and the pipeline must complete.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "web"),
      (2L, "one two three four five six seven eight nine ten eleven", "web"),
      (3L, "spark catalyst optimizer rewrites logical plans into physical", "books"),
      (4L, "entirely unrelated sentence about mountains rivers and weather", "books")
    ).toDF("doc_id", "text", "source")
    val (out, counts) = CorpusPrep.run(docs, None,
      CorpusPrepConfig(minQuality = 0.0))
    val byStage = counts.map(c => c.stage -> c.rows).toMap
    assert(byStage("near_dedup") == byStage("exact_dedup"),
      "clean corpus: near-dedup must drop nothing")
    assert(out.count() == 4)
    assert(out.columns.contains("chunk_id") && out.columns.contains("split"))
  }

  test("near-dedup keeps the higher-quality copy, not the lower id") {
    // two near-dups (3-shingle jaccard ≈ 0.86): the junk-decorated copy
    // has the LOWER id, so min-id resolution would keep the wrong one —
    // keep-best must retain the clean higher-id copy
    val clean = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val junky = clean + " #### $$$$"
    val docs = Seq(
      (5L, junky, "web"),
      (10L, clean, "web"),
      (20L, "completely unrelated filler text about mountains rivers weather and stars", "web")
    ).toDF("doc_id", "text", "source")
    val (out, counts) = CorpusPrep.run(docs, None,
      CorpusPrepConfig(minQuality = 0.0))
    val byStage = counts.map(c => c.stage -> c.rows).toMap
    assert(byStage("near_dedup") == 2, counts.mkString(", "))
    val survivors = out.select($"doc_id").as[Long].collect().toSet
    assert(survivors == Set(10L, 20L),
      s"expected the clean copy (10) to survive, got $survivors")
  }

  test("packing matches an independent sequential re-implementation") {
    // packing windows by (source, split) — re-implement per that key
    val got = prepared
      .select($"source", $"split", $"doc_id", $"n_tok", $"chunk_id")
      .as[(String, String, Long, Long, Long)].collect()
      .groupBy(r => (r._1, r._2))
    got.foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._3).foreach { case (_, _, _, tok, chunk) =>
        assert(chunk == cum / 1024L)
        cum += tok
      }
    }
    // chunks start at 0 and are contiguous per (source, split)
    got.foreach { case (key, rows) =>
      val ids = rows.map(_._5).distinct.sorted.toSeq
      assert(ids == (0L until ids.length), s"$key: $ids")
    }
  }

  test("no chunk spans two splits — the property split-aware packing guarantees") {
    // Before the round-4 fix the packing window partitioned by source only,
    // so one cumulative token sum ran across split boundaries and a single
    // chunk could mix train and eval docs. Pin the fixed semantics:
    // every (source, split) restarts numbering at chunk 0 — under the
    // old per-source window, only the split holding a source's first docs
    // could contain chunk 0.
    val starts = prepared.groupBy($"source", $"split")
      .agg(min($"chunk_id").as("first_chunk"))
    assert(starts.filter($"first_chunk" =!= 0).count() == 0)
    // (the full same-split cumulative-sum recompute lives in the
    // "independent sequential re-implementation" test above — it already
    // groups by (source, split), so repeating it here would maintain the
    // same oracle twice)
  }

  test("each stage runs its plan once: nfc_normalize in one execution per call, nothing left cached") {
    import graft.functions.NfcNormalize
    import graft.operators.{CanonicalMap, DedupIndex, SpanIndex}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // With the default config the learned gate and the mix pass their
    // input through. A stage chain that drops the previous stage's cache
    // after such a pass-through (it is the same frame) makes exact_dedup
    // and pack re-plan from the raw input, normalization included.
    val docs = Tables.load(spark, sfDir, "documents")
    val eval_ = docs.filter($"doc_id" % 20 === 0).select($"doc_id", $"text")
    val corpus = docs.filter($"doc_id" < 250).select($"doc_id", $"text", $"source")
    val batch = docs.filter($"doc_id" >= 250).select($"doc_id", $"text", $"source")
    val (bandT, spanT, mapT) = ("cp_once_band", "cp_once_span", "cp_once_map")
    DedupIndex.write(corpus, bandT, nBuckets = 8)
    SpanIndex.write(corpus, spanT, nBuckets = 8)
    CanonicalMap.write(corpus, mapT, nBuckets = 8)
    spark.catalog.clearCache()

    // Does an execution evaluate nfc_normalize? Walk its final plan and
    // AQE query stages. A cached relation's plan runs in the execution
    // that first reads it (that read builds the buffers); every later
    // read only scans them, so it is walked once.
    val helper = new AdaptiveSparkPlanHelper {}
    val built = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def evaluatesNfc(plan: SparkPlan): Boolean = {
      var hit = false
      helper.foreach(plan) {
        case s: InMemoryTableScanExec =>
          if (built.add(s.relation.cacheBuilder))
            hit |= evaluatesNfc(s.relation.cacheBuilder.cachedPlan)
        case p =>
          hit |= p.expressions.exists(_.exists(_.isInstanceOf[NfcNormalize]))
      }
      hit
    }
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executions.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // listener events arrive asynchronously, in order: a sentinel query
    // after the call marks the point where all of the call's are in
    val sentinel = "cp_once_sentinel"
    def nfcExecutions[T](call: => T): (T, Int) = {
      executions.clear()
      spark.listenerManager.register(listener)
      val r = try {
        val r = call
        spark.range(1).toDF(sentinel).collect()
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (!executions.asScala.exists(_.analyzed.output.exists(_.name == sentinel))) {
          assert(System.nanoTime() < deadline, "sentinel execution never reported")
          Thread.sleep(20)
        }
        r
      } finally spark.listenerManager.unregister(listener)
      (r, executions.asScala.count(qe => evaluatesNfc(qe.executedPlan)))
    }

    val ((_, runCounts), runNfc) = nfcExecutions(CorpusPrep.run(docs, Some(eval_)))
    assert(spark.sharedState.cacheManager.isEmpty, "run left a cache entry")
    val ((_, ingestCounts), ingestNfc) =
      nfcExecutions(CorpusPrep.ingestBatch(corpus, batch, bandT, spanT, mapT))
    assert(spark.sharedState.cacheManager.isEmpty, "ingestBatch left a cache entry")
    Seq(bandT, spanT, mapT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

    // stage accounting on these inputs; the pass-through stages
    // (classifier_sample, mix, ingest's classifier_sample) repeat the
    // previous stage's count
    assert(runCounts.map(c => c.stage -> c.rows) == Seq("input" -> 500L,
      "normalize" -> 500L, "quality_gate" -> 482L, "classifier_sample" -> 482L,
      "exact_dedup" -> 482L, "near_dedup" -> 460L, "span_dedup" -> 460L,
      "decontaminate" -> 437L, "mix" -> 437L, "pack" -> 437L))
    assert(ingestCounts.map(c => c.stage -> c.rows) == Seq("input" -> 250L,
      "normalize" -> 250L, "quality_gate" -> 243L, "classifier_sample" -> 243L,
      "exact_dedup" -> 243L, "near_dedup" -> 234L, "span_dedup" -> 234L,
      "split" -> 234L))
    assert(runNfc == 1, s"run evaluated nfc_normalize in $runNfc executions")
    assert(ingestNfc == 1, s"ingestBatch evaluated nfc_normalize in $ingestNfc executions")
  }

  test("incremental ingest: one batch through all three persisted indices, combined invariants") {
    import graft.operators.{CanonicalMap, DedupIndex, SpanIndex}
    // The individually-pinned pieces (DedupIndexSpec, SpanIndexSpec,
    // CanonicalMapSpec), composed: a new batch rides ingestBatch against
    // the three persisted artifacts, and the COMBINED end state holds.
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"source")
    val corpus = docs.filter($"doc_id" < 250).cache()
    val (bandT, spanT, mapT) =
      ("cp_ingest_band", "cp_ingest_span", "cp_ingest_map")
    DedupIndex.write(corpus, bandT, nBuckets = 8)
    SpanIndex.write(corpus, spanT, nBuckets = 8)
    CanonicalMap.write(corpus, mapT, nBuckets = 8)

    // batch: the real tail of the corpus plus three constructed docs —
    // a verbatim copy of an admitted doc (near-dup tier must drop), a
    // doc embedding an admitted doc's 60-token prefix (span tier must
    // drop), and a clean doc (must survive) — so every drop path is
    // exercised deterministically, whatever the real tail contains
    val adm = corpus.filter($"doc_id" === 7).select($"text")
      .as[String].head()
    // span donor must itself carry ≥ 50 tokens (doc 149 has 99; doc 7,
    // the verbatim-copy donor, has only 44 — long enough to near-dup,
    // too short to share a 50-token run)
    val spanDonor = corpus.filter($"doc_id" === 149).select($"text")
      .as[String].head()
    val admPrefix = spanDonor.toLowerCase.trim.split("\\s+")
      .take(60).mkString(" ")
    val clean = (1 to 80).map(i => s"cln$i").mkString(" ")
    val constructed = Seq(
      (9001L, adm, "webA"),
      (9002L, s"fresh lead-in words here $admPrefix and a distinct tail", "webA"),
      (9003L, clean, "webA")).toDF("doc_id", "text", "source")
    val batch = docs.filter($"doc_id" >= 250)
      .unionByName(constructed).cache()

    val splitsBefore = CanonicalMap.assignSplits(spark, mapT, corpus)
      .collect().map(_.toSeq).toSet
    val (admitted, stages) = CorpusPrep.ingestBatch(
      corpus, batch, bandT, spanT, mapT)
    val admittedIds = admitted.select($"doc_id").as[Long].collect().toSet

    // stage accounting: monotone, complete, constructed docs routed
    val byStage = stages.map(c => c.stage -> c.rows).toMap
    assert(stages.map(_.stage) == Seq("input", "normalize", "quality_gate",
      "classifier_sample", "exact_dedup", "near_dedup", "span_dedup",
      "split"))
    assert(byStage("classifier_sample") == byStage("quality_gate"),
      "no frozen weights: learned gate must pass through")
    assert(stages.map(_.rows).sliding(2).forall(w => w(1) <= w(0)))
    assert(byStage("near_dedup") < byStage("exact_dedup"),
      "verbatim copy must drop at the near-dup tier")
    assert(byStage("span_dedup") < byStage("near_dedup"),
      "span-sharing doc must drop at the span tier")
    assert(!admittedIds.contains(9001L) && !admittedIds.contains(9002L))
    assert(admittedIds.contains(9003L), "clean doc must survive")

    // combined invariant 1: NO cross-span pair survives — a stateless
    // recompute over corpus ∪ admitted must flag no admitted doc
    // against an earlier corpus doc (batch-internal pairs are the full
    // rebuild's job and excluded: dup_of < 250 means cross-boundary)
    val crossSpan = DedupQueries.exactSubstringFlags(
        corpus.select($"doc_id", $"text")
          .unionByName(admitted.select($"doc_id", $"text")))
      .filter($"is_exact_dup" === 1 && $"dup_of" < 250 && $"doc_id" >= 250)
    assert(crossSpan.count() == 0, crossSpan.collect().take(3).mkString(","))

    // combined invariant 2: no admitted batch doc near-dups the corpus
    val crossNear = DedupQueries.lshVerifiedPairs(
        corpus.select($"doc_id", $"text")
          .unionByName(admitted.select($"doc_id", $"text")))
      .filter($"jaccard" >= 0.8 && $"a_id" < 250 && $"b_id" >= 250)
    assert(crossNear.count() == 0, crossNear.collect().take(3).mkString(","))

    // combined invariant 3: NO SPLIT MIGRATION — ingest writes none of
    // the three artifacts, so every admitted doc's (canon, split) is
    // bit-identical after the batch
    val splitsAfter = CanonicalMap.assignSplits(spark, mapT, corpus)
      .collect().map(_.toSeq).toSet
    assert(splitsAfter == splitsBefore)
    // and survivors carry the SAME split rule (self-canonical)
    val badSplit = admitted.filter(
      $"split" =!= CanonicalMap.splitOf($"doc_id"))
    assert(badSplit.count() == 0)

    // combined invariant 4: O(batch) probe plans — none of the three
    // index sides is shuffle-exchanged when probed by this batch
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def assertIndexSideUnshuffled(df: org.apache.spark.sql.DataFrame,
        t: String): Unit = {
      df.count()
      val plan = df.queryExecution.executedPlan
      val joins = helper.collect(plan) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      val indexSide = joins.flatMap(j => Seq(j.left, j.right))
        .filter(_.toString.contains(t))
      assert(indexSide.nonEmpty, s"$t not under a join:\n$plan")
      indexSide.foreach { side =>
        assert(helper.collect(side) {
          case e: ShuffleExchangeLike => e
        }.isEmpty, s"$t side re-exchanged:\n$plan")
      }
    }
    assertIndexSideUnshuffled(
      DedupIndex.probeCandidates(spark, bandT, batch), bandT)
    assertIndexSideUnshuffled(
      SpanIndex.probeCandidates(spark, spanT, batch), spanT)
    assertIndexSideUnshuffled(
      CanonicalMap.assignSplits(spark, mapT, batch), mapT)

    // FROZEN-MODEL ingest: train the trio model on the admitted corpus
    // (what the last full rebuild would have frozen — this frame
    // carries no `lang`, so the trio is the deployable dimension; the
    // 4-vs-7 dispatch itself is pinned in QualityClassifierSpec),
    // re-ingest the same batch with the weights deployed, and pin the
    // learned gate's composition properties
    val normCorpus = corpus.withColumn("text",
      graft.functions.UnicodeNorm.nfcNormalize($"text"))
    val w = graft.operators.TrainingQueries.qcTrain(
      graft.operators.TrainingQueries.qcFeatures(normCorpus),
      graft.operators.TrainingQueries.QcRounds)
    val (admittedW, stagesW) = CorpusPrep.ingestBatch(
      corpus, batch, bandT, spanT, mapT,
      CorpusPrepConfig(classifierWeights = Some(w)))
    val byStageW = stagesW.map(c => c.stage -> c.rows).toMap
    // the stage filters exactly the frozen draw's keeps on its input:
    // rebuild the stage input (normalize+gate the batch) and apply the
    // SAME frozen draw independently
    val normBatch = batch.withColumn("text",
      graft.functions.UnicodeNorm.nfcNormalize($"text"))
    val gatedBatch = normBatch.filter(
      graft.functions.TextFunctions.qualityScoreFused($"text",
        graft.functions.TextFunctions.textStats($"text")) >= 0.3)
    val keptIds = graft.operators.TrainingQueries.paretoApply(gatedBatch, w)
      .filter($"kept" === 1L).select($"doc_id").as[Long].collect().toSet
    assert(byStageW("classifier_sample") == keptIds.size,
      s"stage kept ${byStageW("classifier_sample")}, frozen draw kept ${keptIds.size}")
    assert(byStageW("classifier_sample") < byStageW("quality_gate"),
      "frozen draw must reject something on this batch")
    // every admitted doc passed the deployed model's draw, and the gate
    // only ever narrows the no-model admission
    val admittedWIds = admittedW.select($"doc_id").as[Long].collect().toSet
    assert(admittedWIds.subsetOf(keptIds))
    assert(admittedWIds.subsetOf(admittedIds),
      "learned gate must only narrow the admitted set on a dup-free batch tail")

    Seq(bandT, spanT, mapT).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    corpus.unpersist(); batch.unpersist()
  }
}
