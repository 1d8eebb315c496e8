package perfbench

import graft.corpus.{CorpusPrep, CorpusPrepConfig}
import graft.functions.{Shingles, TextFunctions, UnicodeNorm}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The LLM-data face: a full `CorpusPrep.run` rebuild, the three persisted
  * dedup artifacts written from its output, then a stream of ~100-doc
  * `CorpusPrep.ingestBatch` calls probing them.
  *
  * Inputs come from the testdata `documents` table: doc_id % 10 == 0 is
  * the held-out eval set, doc_id % 10 == 9 feeds the ingest batches and
  * doc_id % 10 in 1..4 is the corpus (2,000 docs at sf0.1). The seed
  * picks which corpus docs receive an exact copy (4%), a near-dup copy
  * with one appended token (4%), and a new doc carrying their first 60
  * tokens between fresh text (2% of docs with at least 60 tokens). Every
  * ingest batch also carries a verbatim copy, a near-dup and a
  * span-sharer of admitted docs, so each drop path of the ingest runs on
  * every batch.
  */
object Corpus {
  val ExactRatePct = 4
  val NearRatePct = 4
  val SpanRatePct = 2
  val SpanTokens = 60
  val BatchesPerPool = 5
  val IndexBuckets = 8
  val Tables = ("pb_band_index", "pb_span_index", "pb_canonical_map")

  val ExactBase = 1000000L
  val NearBase = 2000000L
  val SpanBase = 3000000L
  val BatchBase = 10000000L

  private def pick(seed: Long, tag: String, pct: Int) =
    pmod(xxhash64(lit(seed), col("doc_id"), lit(tag)), lit(100L)) < pct

  private def nTokens = size(split(trim(col("text")), "\\s+"))

  private def firstTokens(n: Int) =
    array_join(slice(split(trim(col("text")), "\\s+"), 1, n), " ")

  final case class Inputs(corpus: DataFrame, eval: DataFrame,
      pool: DataFrame, exactCopyIds: Seq[Long])

  def inputs(spark: SparkSession, testdata: String, seed: Long): Inputs = {
    val docs = spark.read.parquet(s"$testdata/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val eval = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val pool = docs.filter(col("doc_id") % 10 === 9)
    val base = docs.filter(col("doc_id") % 10 >= 1 && col("doc_id") % 10 <= 4)
    val exact = base.filter(pick(seed, "exact", ExactRatePct))
      .withColumn("doc_id", col("doc_id") + ExactBase)
    val near = base.filter(pick(seed, "near", NearRatePct))
      .withColumn("text", concat(col("text"), lit(" appended")))
      .withColumn("doc_id", col("doc_id") + NearBase)
    val spans = base.filter(pick(seed, "span", SpanRatePct) &&
        nTokens >= SpanTokens)
      .withColumn("text", concat(lit("fresh lead in words "),
        firstTokens(SpanTokens), lit(" and a distinct tail "),
        col("doc_id").cast("string")))
      .withColumn("doc_id", col("doc_id") + SpanBase)
    val corpus = base.unionByName(exact).unionByName(near).unionByName(spans)
      .localCheckpoint()
    val exactIds = exact.select("doc_id").collect().map(_.getLong(0)).toSeq
    Inputs(corpus, eval.localCheckpoint(), pool.localCheckpoint(), exactIds)
  }

  /** Batch `b`: a fifth of the pool (fresh ids on every cycle through it)
    * plus a verbatim copy, a near-dup and a span-sharer of admitted docs.
    */
  def batch(spark: SparkSession, seed: Long, in: Inputs, admitted: DataFrame,
      b: Int): (DataFrame, Long) = {
    val offset = BatchBase * (1 + b / BatchesPerPool)
    val slice = in.pool
      .filter(pmod(xxhash64(lit(seed), col("doc_id"), lit("batch")),
        lit(BatchesPerPool.toLong)) === (b % BatchesPerPool))
      .withColumn("doc_id", col("doc_id") + offset)
    val donors = admitted.filter(nTokens >= SpanTokens)
      .orderBy(xxhash64(lit(seed), lit(b), col("doc_id")))
      .limit(3).select(col("doc_id"), col("text"), col("source")).collect()
    val copyId = offset + 9000000L
    val built = donors.zipWithIndex.map { case (r, i) =>
      val text = r.getString(1)
      val t = i match {
        case 0 => text
        case 1 => text + " appended"
        case _ => "fresh lead in words " + text.trim.split("\\s+")
          .take(SpanTokens).mkString(" ") + s" and a distinct tail $b"
      }
      (copyId + i, t, r.getString(2))
    }.toSeq
    import spark.implicits._
    (slice.unionByName(built.toDF("doc_id", "text", "source")), copyId)
  }

  def writeIndexes(corpus: DataFrame, tracer: Tracer): Unit =
    tracer.span("index_write") {
      DedupIndex.write(corpus, Tables._1, IndexBuckets)
      SpanIndex.write(corpus, Tables._2, IndexBuckets)
      CanonicalMap.write(corpus, Tables._3, IndexBuckets)
    }

  /** The cache → count → drop-previous chain CorpusPrep's stages use. */
  final class Stages {
    val counts = Seq.newBuilder[CorpusPrep.StageCount]
    private var prev: DataFrame = null
    def apply(name: String, df: DataFrame): DataFrame = {
      val cached = df.cache()
      counts += CorpusPrep.StageCount(name, cached.count())
      if (prev != null) prev.unpersist()
      prev = cached
      cached
    }
  }

  /** The config `CorpusPrep.run` and `ingestBatch` use by default, which
    * the traced copies below follow: quality gate on, no learned gate, no
    * mix quotas, span dedup on.
    */
  private val Cfg = CorpusPrepConfig()
  require(Cfg.minQuality > 0.0 && !Cfg.classifierSample &&
    Cfg.classifierWeights.isEmpty && Cfg.mixQuotasPpm.isEmpty && Cfg.spanDedup,
    "CorpusPrepConfig's defaults changed: the traced copies no longer " +
      "compose what CorpusPrep runs")

  private def gate(df: DataFrame): DataFrame =
    df.filter(TextFunctions.qualityScoreFused(col("text"),
      TextFunctions.textStats(col("text"))) >= Cfg.minQuality)

  private def exactKeep(df: DataFrame): DataFrame =
    df.groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))

  /** Run `body`, returning the last `iters=` count DedupCluster.resolve
    * reports on stderr.
    */
  private def resolveRounds[T](body: => T): (T, Long) = {
    val old = System.err
    val buf = new java.io.ByteArrayOutputStream()
    val tee = new java.io.PrintStream(new java.io.OutputStream {
      def write(b: Int): Unit = { buf.write(b); old.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        buf.write(b, off, len); old.write(b, off, len)
      }
    }, true)
    System.setErr(tee)
    val r = try body finally System.setErr(old)
    val rounds = "iters=(\\d+)".r.findAllMatchIn(buf.toString("UTF-8"))
      .map(_.group(1).toLong).toSeq.lastOption.getOrElse(0L)
    (r, rounds)
  }

  /** Counters the traced rebuild measures outside its spans. */
  final case class RebuildExtras(candidates: Long, verified: Long, rounds: Long)

  /** `CorpusPrep.run` with a span around each stage group: the same public
    * calls in the same order on the same inputs.
    */
  def tracedRun(docs: DataFrame, eval: DataFrame, tracer: Tracer)
      : (DataFrame, Seq[CorpusPrep.StageCount], () => RebuildExtras) = {
    val stage = new Stages
    val classified = tracer.span("normalize_gate") {
      val input = stage("input", docs)
      val normalized = stage("normalize",
        input.withColumn("text", UnicodeNorm.nfcNormalize(col("text"))))
      val gated = stage("quality_gate", gate(normalized))
      // no classifier sampling by default: the learned gate passes through
      stage("classifier_sample", gated)
    }
    val exact = tracer.span("exact_dedup") {
      stage("exact_dedup", classified.join(exactKeep(classified), Seq("doc_id")))
    }
    val pairs = tracer.span("near_dup")(DedupQueries.lshVerifiedPairs(exact))
    val edges = pairs.filter(col("jaccard") >= Cfg.nearDupJaccard)
    val (nearDeduped, rounds) = tracer.span("cluster_resolve") {
      val scored = exact.select(col("doc_id"),
        TextFunctions.qualityScoreFused(col("text"),
          TextFunctions.textStats(col("text"))).as("q"))
      val keepW = Window.partitionBy(col("canonical_id"))
        .orderBy(col("q").desc, col("doc_id"))
      val (resolved, rounds) = resolveRounds(DedupCluster.resolve(edges))
      val losers = resolved
        .select(col("id").as("doc_id"), col("canonical_id"))
        .join(scored, Seq("doc_id"))
        .withColumn("rn", row_number().over(keepW))
        .filter(col("rn") > 1)
        .select(col("doc_id"))
      (stage("near_dedup", exact.join(losers, Seq("doc_id"), "left_anti")),
        rounds)
    }
    val spanDeduped = tracer.span("span_dedup") {
      val dupIds = DedupQueries.exactSubstringFlags(nearDeduped)
        .filter(col("is_exact_dup") === 1).select(col("doc_id"))
      stage("span_dedup", nearDeduped.join(dupIds, Seq("doc_id"), "left_anti"))
    }
    val out = tracer.span("decontaminate_pack") {
      val trainSh = spanDeduped.select(col("doc_id"),
        explode(Shingles.shingles(col("text"), Cfg.decontamShingleK)).as("sh"))
      val evalSh = eval.select(explode(Shingles.shingles(col("text"),
        Cfg.decontamShingleK)).as("sh")).distinct()
      val contaminated = trainSh.join(evalSh, Seq("sh"))
        .select(col("doc_id")).distinct()
      val decontaminated = stage("decontaminate",
        spanDeduped.join(contaminated, Seq("doc_id"), "left_anti"))
      val mixed = stage("mix", decontaminated)
      val split = mixed.withColumn("split",
        DataSplit.byHash(col("doc_id"), Cfg.trainPct, Cfg.valPct))
      val w = Window.partitionBy(col("source"), col("split"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nTok = size(TextFunctions.tokens(col("text"))).cast("long")
      val packed = stage("pack",
        split.withColumn("n_tok", nTok)
          .withColumn("chunk_id",
            ((sum(col("n_tok")).over(w) - col("n_tok")) / Cfg.packBudget)
              .cast("long")))
      val out = packed.localCheckpoint()
      packed.unpersist()
      out
    }
    (out, stage.counts.result(),
      () => RebuildExtras(pairs.count(), edges.count(), rounds))
  }

  /** Candidate and verified-duplicate counts of one traced ingest. */
  final case class ProbeExtras(candidates: Long, hits: Long)

  /** `CorpusPrep.ingestBatch` with a span around each tier. */
  def tracedIngest(spark: SparkSession, corpusDocs: DataFrame,
      batch: DataFrame, tracer: Tracer)
      : (DataFrame, Seq[CorpusPrep.StageCount], () => ProbeExtras) = {
    val (bandT, spanT, mapT) = Tables
    val stage = new Stages
    val classified = tracer.span("normalize_gate") {
      val input = stage("input", batch)
      val normalized = stage("normalize",
        input.withColumn("text", UnicodeNorm.nfcNormalize(col("text"))))
      val gated = stage("quality_gate", gate(normalized))
      // no frozen classifier weights: the learned gate passes through
      stage("classifier_sample", gated)
    }
    val exact = tracer.span("exact_dedup") {
      stage("exact_dedup", classified.join(exactKeep(classified), Seq("doc_id")))
    }
    val (nearDeduped, cand, dupNew) = tracer.span("probe_near") {
      val cand = DedupIndex.probeCandidates(spark, bandT, exact)
      val dupNew = DedupQueries.verifyCandidates(cand, exact, corpusDocs)
        .filter(col("jaccard") >= Cfg.nearDupJaccard)
        .select(col("new_id").as("doc_id")).distinct()
      (stage("near_dedup", exact.join(dupNew, Seq("doc_id"), "left_anti")),
        cand, dupNew)
    }
    val spanDeduped = tracer.span("probe_span") {
      val flagged = SpanIndex
        .flagIncremental(spark, spanT, corpusDocs, nearDeduped)
        .filter(col("is_exact_dup") === 1).select(col("doc_id"))
      stage("span_dedup", nearDeduped.join(flagged, Seq("doc_id"), "left_anti"))
    }
    val out = tracer.span("assign_split") {
      val admitted = stage("split",
        spanDeduped.join(
          CanonicalMap.assignSplits(spark, mapT, spanDeduped)
            .select(col("doc_id"), col("split")),
          Seq("doc_id")))
      val out = admitted.localCheckpoint()
      admitted.unpersist()
      out
    }
    (out, stage.counts.result(), () => ProbeExtras(cand.count(), dupNew.count()))
  }

  /** Ingest batches each run measures at least, whatever `--seconds` says. */
  val MinBatches = 2

  def run(c: Ctx, r: Report): collection.Map[String, Double] = {
    val spark = c.spark
    val extras = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    val (in, buildS) = Stats.time(inputs(spark, c.testdata, c.seed))
    r.put("setup_s", c.sessionStartS + buildS, "s")

    c.tracer.op(0)
    val ((out, counts, rebuildExtras), rebuildS) =
      Stats.time(c.tracer.span("corpus_curation") {
        if (c.tracer.enabled) {
          val (out, counts, more) = tracedRun(in.corpus, in.eval, c.tracer)
          (out, counts, Some(more))
        } else {
          val (out, counts) = CorpusPrep.run(in.corpus, Some(in.eval))
          (out, counts, None)
        }
      })
    rebuildExtras.foreach { more =>
      val e = more()
      extras("near_dup.verified_ratio") = e.verified.toDouble / e.candidates
      extras("cluster_resolve.rounds") = e.rounds.toDouble
    }
    r.attempted += 1
    r.check(monotoneProblems("rebuild", counts))
    r.check(survivorProblems("rebuild", out, in.exactCopyIds))

    val admitted = out.select(col("doc_id"), col("text"), col("source"))
    c.tracer.op(1)
    val (_, indexS) = Stats.time(c.tracer.span("corpus_curation")(
      writeIndexes(admitted, c.tracer)))
    r.attempted += 1
    if (c.tracer.enabled) {
      val warehouse = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      Seq(Tables._1, Tables._2, Tables._3).foreach { t =>
        val (files, bytes) = Layers.filesAndBytes(s"$warehouse/$t")
        extras("index_write.files_written") += files
        extras("index_write.bytes_written") += bytes
      }
    }
    val splitsBefore = splitsOf(spark, admitted)

    val ingests = scala.collection.mutable.ArrayBuffer.empty[Double]
    var candidates, hits = 0L
    val t0 = System.nanoTime()
    var b = 0
    while (Stats.secondsSince(t0) < c.seconds || b < MinBatches) {
      val (batchDf, copyId) = batch(spark, c.seed, in, out, b)
      val docs = batchDf.localCheckpoint()
      c.tracer.op(2L + b)
      val ((got, stages, probeExtras), s) =
        Stats.time(c.tracer.span("corpus_curation") {
          if (c.tracer.enabled) {
            val (got, stages, more) =
              tracedIngest(spark, admitted, docs, c.tracer)
            (got, stages, Some(more))
          } else {
            val (got, stages) = CorpusPrep.ingestBatch(admitted, docs,
              Tables._1, Tables._2, Tables._3)
            (got, stages, None)
          }
        })
      probeExtras.foreach { more =>
        val e = more()
        candidates += e.candidates
        hits += e.hits
      }
      ingests += s
      r.attempted += 1
      r.check(monotoneProblems(s"batch $b", stages))
      r.check(survivorProblems(s"batch $b", got, Seq(copyId)))
      b += 1
    }
    r.check(splitProblems(splitsBefore, splitsOf(spark, admitted)))
    if (candidates > 0) extras("probe_near.hit_ratio") = hits.toDouble / candidates

    r.putTiming("full_run_s", Seq(rebuildS + indexS))
    r.putTiming("op_s", ingests.toSeq)
    r.info("corpus_rebuild_s", Seq(rebuildS))
    r.info("index_build_s", Seq(indexS))
    r.info("ingest_batch_s", ingests.toSeq)
    extras
  }

  // ---- correctness gates ------------------------------------------------

  def monotoneProblems(what: String,
      counts: Seq[CorpusPrep.StageCount]): Seq[String] =
    counts.sliding(2).collect {
      case Seq(a, b) if b.rows > a.rows =>
        s"$what: stage ${b.stage} has ${b.rows} rows, more than ${a.stage}'s ${a.rows}"
    }.toSeq

  /** None of `ids` (injected exact copies) may survive in `out`. */
  def survivorProblems(what: String, out: DataFrame,
      ids: Seq[Long]): Seq[String] = {
    val spark = out.sparkSession
    import spark.implicits._
    val left = out.select(col("doc_id")).join(ids.toDF("doc_id"), "doc_id")
      .count()
    if (left == 0) Nil else Seq(s"$what: $left injected exact copies survived")
  }

  /** Split assignments of the admitted corpus must not change. */
  def splitProblems(before: (Long, String), after: (Long, String)): Seq[String] =
    if (before == after) Nil
    else Seq(s"admitted splits moved: $before before ingest, $after after")

  def splitsOf(spark: SparkSession, corpusDocs: DataFrame): (Long, String) =
    QueryMix.fingerprint(CanonicalMap.assignSplits(spark, Tables._3, corpusDocs))
}
