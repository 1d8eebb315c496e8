package graft.streaming

import java.nio.file.Files

import graft.{Tables, TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming incremental dedup against its batch oracle: feeding the
  * corpus through [[DocStream.dedupStream]] in ingest-order drops must
  * produce, for the final drop, EXACTLY the rows q71 computes for the
  * same new-vs-corpus split — the stream is the incremental execution
  * of the same dataflow, state persisted in the bucketed band index.
  */
class DocStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sfDir = "/root/testdata/sf0.001"

  test("streaming dedup: final drop's matches equal q71's batch result") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars").cache()
    val base = TempDirs("graft_docstream")
    val dropDir = s"$base/drops"
    Files.createDirectories(java.nio.file.Paths.get(dropDir))
    val st = DocStream.DedupState(
      indexTable = "docstream_band_idx",
      docsPath = s"$base/admitted",
      matchesPath = s"$base/matches")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    val q = DocStream.dedupStream(DocStream.read(spark, dropDir), st)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // three ingest drops in q71's split order: corpus (%3 == 0, then
      // %3 == 1) admitted first, the probe batch (%3 == 2) last. One
      // part file per drop so each is exactly one micro-batch.
      for (m <- 0L to 2L) {
        docs.filter($"doc_id" % 3 === m).coalesce(1)
          .write.mode("append").parquet(dropDir)
        q.processAllAvailable()
      }
    } finally q.stop()

    val emitted = spark.read.parquet(st.matchesPath)
    // drop 0 saw an empty corpus: no matches partition, no self-matches
    assert(emitted.filter($"batch" === 0).count() == 0)
    // the final drop replays q71's exact split — row-identical result
    val streamed = emitted.filter($"batch" === 2)
      .select($"new_id", $"corpus_id", $"jaccard", $"is_dup")
      .collect().map(_.toSeq).toSet
    val batch = graft.SparkEntry.queries("q71_incremental_dedup")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
    // every document was admitted exactly once
    assert(spark.read.parquet(st.docsPath).count() == docs.count())
    // intermediate drops only ever match EARLIER drops (prefix semantics)
    val mid = emitted.filter($"batch" === 1)
    assert(mid.filter($"new_id" % 3 =!= 1).count() == 0)
    assert(mid.filter($"corpus_id" % 3 =!= 0).count() == 0)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    docs.unpersist()
  }

  test("restart: a new query on the same checkpoint resumes without re-admitting") {
    // SCALING.md claims "a restart resumes from durable state" — prove
    // it: process drop 1, STOP the query, start a FRESH query on the
    // same checkpoint, process drop 2. The second query must continue
    // the batch numbering (no replay of the committed batch), admit
    // each document exactly once, and produce drop 2's matches against
    // the drop-1 corpus exactly as an uninterrupted run would.
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars").cache()
    val base = TempDirs("graft_docstream_restart")
    val dropDir = s"$base/drops"
    Files.createDirectories(java.nio.file.Paths.get(dropDir))
    val st = DocStream.DedupState(
      indexTable = "docstream_restart_idx",
      docsPath = s"$base/admitted",
      matchesPath = s"$base/matches")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")

    val q1 = DocStream.dedupStream(DocStream.read(spark, dropDir), st)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      docs.filter($"doc_id" % 2 === 0).coalesce(1)
        .write.mode("append").parquet(dropDir)
      q1.processAllAvailable()
    } finally q1.stop()
    val admittedAfterFirst = spark.read.parquet(st.docsPath).count()

    val q2 = DocStream.dedupStream(DocStream.read(spark, dropDir), st)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      docs.filter($"doc_id" % 2 === 1).coalesce(1)
        .write.mode("append").parquet(dropDir)
      q2.processAllAvailable()
    } finally q2.stop()

    // no replay of the committed first batch: admits strictly added
    val admitted = spark.read.parquet(st.docsPath)
    assert(admitted.count() == docs.count(),
      s"expected ${docs.count()} admitted once, got ${admitted.count()}")
    assert(admitted.groupBy($"doc_id").count().filter($"count" > 1).count() == 0)
    // batch numbering continued across the restart
    val emitted = spark.read.parquet(st.matchesPath)
    assert(emitted.filter($"batch" === 1).count() > 0)
    // drop-2 matches: new side only odd ids, corpus side only even ids
    val second = emitted.filter($"batch" === 1)
    assert(second.filter($"new_id" % 2 =!= 1).count() == 0)
    assert(second.filter($"corpus_id" % 2 =!= 0).count() == 0)
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    docs.unpersist()
  }

  test("replayed micro-batch leaves index/docs/matches row counts unchanged") {
    // foreachBatch is at-least-once: the same (data, batchId) can be
    // re-delivered after a crash. Every admit is a batch-keyed
    // overwrite, so a replay must rewrite its own partitions in place —
    // no doubled index rows, no doubled docs, identical matches.
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").cache()
    val base = TempDirs("graft_docstream_replay")
    val st = DocStream.DedupState(
      indexTable = "docstream_replay_idx",
      docsPath = s"$base/admitted",
      matchesPath = s"$base/matches")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")

    val b0 = docs.filter($"doc_id" % 2 === 0)
    val b1 = docs.filter($"doc_id" % 2 === 1)
    DocStream.processBatch(b0, 0L, st)
    DocStream.processBatch(b1, 1L, st)

    def stateCounts(): (Long, Long, Long) = (
      spark.read.parquet(st.docsPath).count(),
      spark.table(st.indexTable).count() +
        spark.read.parquet(DocStream.deltaDir(st)).count(),
      spark.read.parquet(st.matchesPath).count())
    val before = stateCounts()
    val matchesBefore = spark.read.parquet(st.matchesPath)
      .select($"new_id", $"corpus_id", $"jaccard", $"is_dup")
      .collect().map(_.toSeq).toSet

    DocStream.processBatch(b1, 1L, st) // replay the committed batch
    assert(stateCounts() == before,
      s"replay changed state counts: $before -> ${stateCounts()}")
    val matchesAfter = spark.read.parquet(st.matchesPath)
      .select($"new_id", $"corpus_id", $"jaccard", $"is_dup")
      .collect().map(_.toSeq).toSet
    assert(matchesAfter == matchesBefore)

    // compaction folds deltas into the bucketed base and is itself
    // idempotent; probes after compaction see the same corpus
    DocStream.compact(spark, st)
    assert(spark.table(st.indexTable).count() == before._2)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(DocStream.deltaDir(st))))
    DocStream.processBatch(docs.limit(20), 2L, st)
    assert(spark.read.parquet(st.matchesPath).where($"batch" === 2).count() > 0)

    // EARLIER-batch replay against LATER state (the r10 ADVICE case):
    // the compacted base now holds batches 0-2 (not batch-keyed), so a
    // replay of batch 1 probes an index containing later admissions —
    // the prior-batch corpus restriction must drop those at the text
    // join, leaving batch 1's matches value-identical (a corpus join
    // over all partitions would instead DUPLICATE match rows per
    // later-admitted copy and could match later docs)
    val b1ValuesBefore = spark.read.parquet(st.matchesPath)
      .where($"batch" === 1)
      .select($"new_id", $"corpus_id", $"jaccard", $"is_dup")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    DocStream.processBatch(b1, 1L, st)
    val b1ValuesAfter = spark.read.parquet(st.matchesPath)
      .where($"batch" === 1)
      .select($"new_id", $"corpus_id", $"jaccard", $"is_dup")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(b1ValuesAfter == b1ValuesBefore,
      "earlier-batch replay against later state changed match values")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    docs.unpersist()
  }

  test("compact leaves a concurrently-admitted delta in place and probe-visible") {
    // The r7 ADVICE race, simulated deterministically: compact()
    // snapshots the docs-store batch listing before rebuilding; a batch
    // whose DELTA landed after that snapshot (inside processBatch the
    // delta write precedes the docs write) must NOT be swept by the
    // delete — and must stay probe-visible until the next compact folds
    // it. A whole-directory delete would silently drop its band keys.
    def text(seed: Long) =
      (0 until 12).map(k => s"w${(seed * 31 + k * 7) % 997}_$k").mkString(" ")
    def mk(ids: Range, f: Long => String) =
      ids.map(i => (i.toLong, f(i.toLong))).toDF("doc_id", "text")
    val base = TempDirs("graft_docstream_conc")
    val st = DocStream.DedupState(
      indexTable = "docstream_conc_idx",
      docsPath = s"$base/admitted",
      matchesPath = s"$base/matches")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    val b0 = mk(0 until 20, text)
    val b1 = mk(20 until 40, text)
    val b2 = mk(100 until 110, text) // the concurrent batch
    val b3 = mk(200 until 210, i => text(i - 100)) // exact copies of b2
    DocStream.processBatch(b0, 0L, st)
    DocStream.processBatch(b1, 1L, st)
    // concurrent admit caught mid-flight: delta written, docs not yet
    graft.operators.DedupQueries.bandIndex(b2).write.mode("overwrite")
      .parquet(s"${DocStream.deltaDir(st)}/batch=2")
    DocStream.compact(spark, st)
    // folded deltas swept, straggler intact
    assert(BatchStore.listBatchIds(spark, DocStream.deltaDir(st)) == Seq(2L))
    // base rebuilt from exactly the snapshot (b0 ∪ b1)
    assert(spark.table(st.indexTable).count() ==
      graft.operators.DedupQueries.bandIndex(b0.unionByName(b1)).count())
    // the concurrent admit completes
    b2.write.mode("overwrite").parquet(s"${st.docsPath}/batch=2")
    // the next batch must find its b2 duplicates — reachable ONLY via
    // the straggler delta, since the base was rebuilt without b2
    DocStream.processBatch(b3, 3L, st)
    val dupPairs = spark.read.parquet(s"${st.matchesPath}/batch=3")
      .filter($"is_dup" === 1).select($"new_id", $"corpus_id")
      .as[(Long, Long)].collect().toSet
    val wanted = (200L until 210L).map(i => (i, i - 100L)).toSet
    assert(wanted.subsetOf(dupPairs),
      s"straggler delta not probe-visible: missing ${wanted -- dupPairs}")
    // the next compact folds the straggler (and batch 3's delta) in
    DocStream.compact(spark, st)
    assert(BatchStore.listBatchIds(spark, DocStream.deltaDir(st)).isEmpty)
    assert(spark.table(st.indexTable).count() ==
      graft.operators.DedupQueries.bandIndex(
        b0.unionByName(b1).unionByName(b2).unionByName(b3)).count())
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
  }

  test("crashed compaction: a destroyed base rebuilds from the admitted store") {
    // compact() DROPs the base before writing its replacement; if the
    // writer dies in that window (deltas already consumed by an earlier
    // compact), the next batch must rebuild the base from the docs
    // store — not create an empty one and silently lose every
    // compacted probe row. Checked for the band and the span stream.
    import graft.operators.SpanIndex
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").cache()
    val b0 = docs.filter($"doc_id" % 3 === 0)
    val b1 = docs.filter($"doc_id" % 3 === 1)
    val b2 = docs.filter($"doc_id" % 3 === 2)
    def crashThenIngest(table: String,
        process: (org.apache.spark.sql.DataFrame, Long) => Unit,
        compact: () => Unit): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      process(b0, 0L)
      process(b1, 1L)
      compact() // deltas folded and deleted
      spark.sql(s"DROP TABLE `$table`") // simulated mid-compact crash
      process(b2, 2L)
    }
    val base = TempDirs("graft_docstream_crash")

    val st = DocStream.DedupState(
      indexTable = "docstream_crash_idx",
      docsPath = s"$base/band/admitted",
      matchesPath = s"$base/band/matches")
    crashThenIngest(st.indexTable, DocStream.processBatch(_, _, st),
      () => DocStream.compact(spark, st))
    // the final drop's matches are exactly q71's batch split — only
    // possible if the probe saw the FULL b0 ∪ b1 corpus again
    val streamed = spark.read.parquet(st.matchesPath)
      .where($"batch" === 2)
      .select($"new_id", $"corpus_id", $"jaccard", $"is_dup")
      .collect().map(_.toSeq).toSet
    val batch = graft.SparkEntry.queries("q71_incremental_dedup")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"lost compacted state: ${streamed.size} vs ${batch.size} matches")

    val sp = DocStream.SpanState(
      indexTable = "spanstream_crash_idx",
      docsPath = s"$base/span/admitted",
      flagsPath = s"$base/span/flags")
    crashThenIngest(sp.indexTable, DocStream.processSpanBatch(_, _, sp),
      () => DocStream.compactSpans(spark, sp))
    // the final drop's flags are exactly the incremental SpanIndex
    // dataflow against a fresh b0 ∪ b1 index
    val flags = spark.read.parquet(sp.flagsPath)
      .where($"batch" === 2)
      .select($"doc_id", $"n_tokens", $"is_exact_dup", $"dup_of")
      .collect().map(_.toSeq).toSet
    val corpus = b0.unionByName(b1)
    SpanIndex.write(corpus, "spanstream_crash_ref_idx", 8)
    val ref = SpanIndex.flagIncremental(spark, "spanstream_crash_ref_idx",
      corpus, b2).collect().map(_.toSeq).toSet
    assert(ref.exists(_(2) == 1), "fixture should flag real span dups")
    assert(flags == ref, s"lost compacted span state: " +
      s"${flags.count(_(2) == 1)} vs ${ref.count(_(2) == 1)} flagged")
    Seq(st.indexTable, sp.indexTable, "spanstream_crash_ref_idx").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    docs.unpersist()
  }

  test("span stream: final drop's flags equal the incremental SpanIndex dataflow; replay never doubles") {
    import graft.operators.{DedupQueries, SpanIndex}
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars").cache()
    val base = TempDirs("graft_spanstream")
    val dropDir = s"$base/drops"
    Files.createDirectories(java.nio.file.Paths.get(dropDir))
    val st = DocStream.SpanState(
      indexTable = "spanstream_fp_idx",
      docsPath = s"$base/admitted",
      flagsPath = s"$base/flags")
    spark.sql(s"DROP TABLE IF EXISTS `${st.indexTable}`")
    val q = DocStream.spanStream(DocStream.read(spark, dropDir), st)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // earlier-ids-first drops so "earlier doc" == "admitted doc"
      for (m <- 0 to 2) {
        docs.filter($"doc_id" % 3 === m).coalesce(1)
          .write.mode("append").parquet(dropDir)
        q.processAllAvailable()
      }
    } finally q.stop()

    // drop 0 saw an empty corpus: all clean
    val flags = spark.read.parquet(st.flagsPath)
    assert(flags.filter($"batch" === 0 && $"is_exact_dup" === 1).count() == 0)
    assert(flags.count() == docs.count(), "every doc flagged exactly once")
    // final drop equals the batch incremental dataflow over the same
    // new-vs-corpus split (index freshly built from drops 0-1)
    val newSide = docs.filter($"doc_id" % 3 === 2).select($"doc_id", $"text")
    val corpusSide = docs.filter($"doc_id" % 3 =!= 2).select($"doc_id", $"text")
    SpanIndex.write(corpusSide, "spanstream_ref_idx", 8)
    val ref = SpanIndex.flagIncremental(spark, "spanstream_ref_idx",
        corpusSide, newSide)
      .collect().map(_.toSeq).toSet
    val streamed = flags.filter($"batch" === 2)
      .select($"doc_id", $"n_tokens", $"is_exact_dup", $"dup_of")
      .collect().map(_.toSeq).toSet
    assert(streamed == ref)
    assert(ref.exists(_(2) == 1), "fixture should flag real span dups")
    // replay idempotence: reprocess the same drops on a FRESH checkpoint
    // against the same state root. This is the r10 ADVICE case: the
    // replayed batch 0 probes deltas/docs of batches 1-2 that exist by
    // now — the prior-batch restriction must keep it from flagging
    // anything against LATER-admitted docs, leaving the flags store
    // VALUE-identical (dup_of may never point at a later document), not
    // merely the same size.
    val valuesBefore = flags
      .select($"batch", $"doc_id", $"n_tokens", $"is_exact_dup", $"dup_of")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val again = DocStream.spanStream(DocStream.read(spark, dropDir), st)
      .option("checkpointLocation", s"$base/ckpt2").start()
    try again.processAllAvailable() finally again.stop()
    val valuesAfter = spark.read.parquet(st.flagsPath)
      .select($"batch", $"doc_id", $"n_tokens", $"is_exact_dup", $"dup_of")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(valuesAfter == valuesBefore,
      "fresh-checkpoint replay changed flag values")
    assert(spark.read.parquet(st.docsPath).count() == docs.count())
    // compaction folds deltas; post-compact probe state is intact
    DocStream.compactSpans(spark, st)
    assert(BatchStore.listBatchIds(spark, DocStream.spanDeltaDir(st)).isEmpty)
    Seq(st.indexTable, "spanstream_ref_idx").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    docs.unpersist()
  }

  test("filter stream: streamed labels equal the batch filter stack; histograms match labels") {
    // the q42 pattern for the curation gate: the SAME row-local
    // filterStack run per micro-batch must label every document exactly
    // as one batch pass over the union would — regardless of how the
    // corpus is cut into drops — and each batch's persisted reason
    // histogram must be the exact GROUP BY of its labeled partition.
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars").cache()
    val base = TempDirs("graft_filterstream")
    val dropDir = s"$base/drops"
    Files.createDirectories(java.nio.file.Paths.get(dropDir))
    val q = DocStream.filterStream(DocStream.read(spark, dropDir),
        s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      for (m <- 0L to 2L) {
        docs.filter($"doc_id" % 3 === m).coalesce(1)
          .write.mode("append").parquet(dropDir)
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.read.parquet(s"$base/out/labeled")
    // stream == batch, row for row (the stack is stateless/row-local)
    val batch = graft.operators.TextQueries.filterStack(
      docs.select($"doc_id", $"lang", $"text"))
    val cols = Seq("doc_id", "n_tokens", "n_shingles",
      "n_distinct_shingles", "entropy_unat", "qmu", "predicted_lang",
      "reason", "keep").map(col)
    assert(streamed.select(cols: _*).collect().map(_.toSeq).toSet ==
      batch.select(cols: _*).collect().map(_.toSeq).toSet)
    assert(streamed.count() == docs.count())
    // per-batch histogram = group-by of that batch's labeled partition
    for (b <- 0L to 2L) {
      val lab = spark.read.parquet(s"$base/out/labeled/batch=$b")
        .groupBy($"reason").agg(count(lit(1)).as("n_docs"))
        .collect().map(_.toSeq).toSet
      val hist = spark.read.parquet(s"$base/out/reasons/batch=$b")
        .collect().map(_.toSeq).toSet
      assert(hist == lab, s"batch $b histogram drift")
    }
    // replayed batch (at-least-once redelivery) rewrites, never doubles:
    // re-run batch 2's partition write via a fresh one-drop stream on
    // the same output root — counts must be unchanged
    val total = streamed.count()
    val again = DocStream.filterStream(
        DocStream.read(spark, dropDir), s"$base/out")
      .option("checkpointLocation", s"$base/ckpt2").start()
    try again.processAllAvailable() finally again.stop()
    assert(spark.read.parquet(s"$base/out/labeled").count() == total)
    docs.unpersist()
  }

  test("score stream: frozen-model scores equal the batch scoring pass") {
    // the serve-time shape: train ONCE on the batch corpus, freeze the
    // weights, score every micro-batch row-locally — streamed scores
    // must equal one batch pass with the same weights, however the
    // corpus is cut into drops, and a replay must not change anything.
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars").cache()
    val w = graft.operators.TrainingQueries.qcTrain(
      graft.operators.TrainingQueries.qcFeatures(docs).localCheckpoint(),
      graft.operators.TrainingQueries.QcRounds)
    val base = TempDirs("graft_scorestream")
    val dropDir = s"$base/drops"
    Files.createDirectories(java.nio.file.Paths.get(dropDir))
    val q = DocStream.scoreStream(DocStream.read(spark, dropDir), w,
        s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      for (m <- 0L to 2L) {
        docs.filter($"doc_id" % 3 === m).coalesce(1)
          .write.mode("append").parquet(dropDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val cols = Seq("doc_id", "label", "smu", "pred").map(col)
    val streamed = spark.read.parquet(s"$base/out/scored")
    val batch = graft.operators.TrainingQueries.scoreWith(docs, w)
    assert(streamed.select(cols: _*).collect().map(_.toSeq).toSet ==
      batch.select(cols: _*).collect().map(_.toSeq).toSet,
      "streamed frozen-model scores must equal the batch pass")
    assert(streamed.count() == docs.count())
    // at-least-once redelivery rewrites its partition, never doubles
    val again = DocStream.scoreStream(
        DocStream.read(spark, dropDir), w, s"$base/out")
      .option("checkpointLocation", s"$base/ckpt2").start()
    try again.processAllAvailable() finally again.stop()
    assert(spark.read.parquet(s"$base/out/scored").select(cols: _*)
      .collect().map(_.toSeq).toSet ==
      batch.select(cols: _*).collect().map(_.toSeq).toSet,
      "replay must be value-idempotent")
    docs.unpersist()
  }

  test("score stream: the 7-dim full-feature model deploys on the same face") {
    // the q137 production model rides the identical serve path — the
    // frozen weight DIMENSION selects the featurizer, so deploying the
    // richer gate is a weights swap, not a code change; parity with
    // the batch pass must hold the same way it does for the trio
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars").cache()
    val w = graft.operators.TrainingQueries.qcTrain(
      graft.operators.TrainingQueries.qcFullFeatures(docs).localCheckpoint(),
      graft.operators.TrainingQueries.QcRounds)
    assert(w.length == 7)
    val base = TempDirs("graft_scorefull")
    val dropDir = s"$base/drops"
    Files.createDirectories(java.nio.file.Paths.get(dropDir))
    val q = DocStream.scoreStream(DocStream.read(spark, dropDir), w,
        s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      for (m <- 0L to 1L) {
        docs.filter($"doc_id" % 2 === m).coalesce(1)
          .write.mode("append").parquet(dropDir)
        q.processAllAvailable()
      }
    } finally q.stop()
    val cols = Seq("doc_id", "label", "smu", "pred").map(col)
    val streamed = spark.read.parquet(s"$base/out/scored")
    val batch = graft.operators.TrainingQueries.scoreWith(docs, w)
    assert(streamed.select(cols: _*).collect().map(_.toSeq).toSet ==
      batch.select(cols: _*).collect().map(_.toSeq).toSet,
      "streamed full-feature scores must equal the batch pass")
    assert(streamed.count() == docs.count())
    docs.unpersist()
  }
}
