package graft.operators

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q135 trained-quality-classifier invariants beyond the DuckDB value
  * gate: the trainer actually LEARNS (a separable curated-vs-junk
  * fixture is classified correctly), training is bit-deterministic
  * across runs and partitionings (the integer-quantized gradient
  * contract), and the scoring output is internally consistent.
  */
class QualityClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Separable fixture: curated docs (src0/src1 — long, lexically
    * diverse) vs junk docs (src9 — short, one token repeated). The
    * feature gap is exactly what q135's f1 (length) and f2 (type-token
    * ratio) measure, so a working trainer must separate them.
    */
  private def fixture(n: Int = 24) = {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon")
    val rows = (0 until n).map { i =>
      if (i % 2 == 0) {
        // curated: 40 distinct-ish tokens, rotated start
        val txt = (0 until 40).map(j => words((i / 2 + j) % words.length))
          .mkString(" ")
        (i.toLong, txt, "en", "src" + (i % 2), txt.length.toLong)
      } else {
        // junk: 5 copies of one token
        val w = words(i % words.length)
        val txt = Seq.fill(5)(w).mkString(" ")
        (i.toLong, txt, "en", "src9", txt.length.toLong)
      }
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("trained classifier separates the curated/junk fixture") {
    val docs = fixture()
    val scored = TrainingQueries
      .qualityClassifier(docs, TrainingQueries.QcRounds).cache()
    val n = scored.count()
    assert(n == 24)
    // every curated doc outranks every junk doc (scores separate)
    val minPos = scored.filter($"label" === 1L).agg(min($"smu")).head.getLong(0)
    val maxNeg = scored.filter($"label" === 0L).agg(max($"smu")).head.getLong(0)
    assert(minPos > maxNeg,
      s"curated min score $minPos must exceed junk max score $maxNeg")
    // pred is the thresholded score, and the fixture is cleanly learnable
    assert(scored.filter(($"smu" >= 500000L) =!= ($"pred" === 1L)).count() == 0)
    assert(scored.filter($"pred" =!= $"label").count() == 0,
      "a separable fixture must be classified perfectly")
    scored.unpersist()
  }

  test("training is bit-deterministic across runs and partitionings") {
    val docs = fixture()
    def weights(parts: Int): Seq[Double] = {
      val feat = TrainingQueries.qcFeatures(docs.repartition(parts))
        .localCheckpoint()
      TrainingQueries.qcTrain(feat, TrainingQueries.QcRounds).toSeq
    }
    val a = weights(1)
    val b = weights(7)
    val c = weights(7)
    // exact bit equality — the integer-quantized gradient sums make the
    // fold order irrelevant, so ANY partitioning trains the same model
    assert(a == b, s"1-partition $a != 7-partition $b")
    assert(b == c, "same-partitioning rerun must be identical")
    // and the model is non-trivial: the length + diversity features
    // carry positive weight on this fixture
    assert(a(1) > 0.0 && a(2) > 0.0, s"expected positive f1/f2 weights, got $a")
  }

  test("trainer is total on empty and degenerate frames") {
    val empty = fixture().filter($"doc_id" < 0L)
    val w = TrainingQueries.qcTrain(
      TrainingQueries.qcFeatures(empty), TrainingQueries.QcRounds)
    assert(w.toSeq == Seq(0.0, 0.0, 0.0, 0.0),
      "empty corpus must leave the weights at init")
    assert(TrainingQueries
      .qualityClassifier(empty, TrainingQueries.QcRounds).count() == 0)
    // single-class corpus (all positive): trains without error, and the
    // bias moves the scores toward the only label present
    val onlyPos = fixture().filter($"source" =!= "src9")
    val scored = TrainingQueries
      .qualityClassifier(onlyPos, TrainingQueries.QcRounds)
    assert(scored.filter($"pred" =!= 1L).count() == 0,
      "an all-positive corpus must score everything positive")
  }

  test("q137 full features separate a fixture the trio cannot see") {
    // Both classes get ~13 tokens of similar length and diversity, so
    // f1/f2/f3 carry almost no signal. The curated half is English
    // prose (stopwords present, lang-id agrees with the 'en' label);
    // the junk half is same-shaped gibberish (no stopwords, lang-id
    // says 'und' under an 'en' label — the metadata-mistrust signal).
    // Only the q137 features (f5 stopword ratio, f6 lang agreement)
    // can separate them.
    val fillers = Seq("cat", "dog", "sun", "map", "key", "jar", "owl",
      "fox", "elm", "sky", "oak", "fig")
    val junkWords = Seq("zorp", "blex", "quam", "vrix", "nolt", "karv",
      "zuln", "drep", "molv", "trag", "helx", "brap")
    val rows = (0 until 24).map { i =>
      if (i % 2 == 0) {
        val f = (0 until 4).map(j => fillers((i / 2 + j) % fillers.length))
        val txt = s"the ${f(0)} and the ${f(1)} sat in the warm ${f(2)} of ${f(3)} arthur"
        (i.toLong, txt, "en", "src0", txt.length.toLong)
      } else {
        val txt = (0 until 13).map(j => junkWords((i + j) % junkWords.length))
          .mkString(" ")
        (i.toLong, txt, "en", "src9", txt.length.toLong)
      }
    }
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val scored = TrainingQueries
      .qualityClassifierFull(docs, TrainingQueries.QcRounds).cache()
    val minPos = scored.filter($"label" === 1L).agg(min($"smu")).head.getLong(0)
    val maxNeg = scored.filter($"label" === 0L).agg(max($"smu")).head.getLong(0)
    assert(minPos > maxNeg,
      s"curated min score $minPos must exceed junk max score $maxNeg")
    assert(scored.filter($"pred" =!= $"label").count() == 0,
      "the full feature set must classify the fixture perfectly")
    scored.unpersist()
    // and the 7-dim trainer is bit-deterministic across partitionings,
    // same as the trio (the integer-quantized gradient contract is
    // dimension-agnostic)
    def weights(parts: Int): Seq[Double] = {
      val feat = TrainingQueries.qcFullFeatures(docs.repartition(parts))
        .localCheckpoint()
      TrainingQueries.qcTrain(feat, TrainingQueries.QcRounds).toSeq
    }
    val a = weights(1)
    val b = weights(7)
    assert(a.length == 7, s"trio+3 features must train 7 weights, got $a")
    assert(a == b, s"1-partition $a != 7-partition $b")
  }

  test("pareto sample keeps high-scorers at a higher rate, deterministically") {
    val docs = fixture(400)
    val s1 = TrainingQueries.paretoSample(docs, TrainingQueries.QcRounds)
      .cache()
    assert(s1.count() == 400, "one decision row per doc, none dropped")
    // the draw is a pure function of doc_id: a rerun keeps the SAME set
    val s2 = TrainingQueries.paretoSample(docs, TrainingQueries.QcRounds)
    assert(s1.except(s2).count() == 0 && s2.except(s1).count() == 0,
      "pareto sampling must be replay-identical")
    // Pareto(9) acceptance is monotone in score: the curated half (high
    // p ⇒ small (2−p)⁹) must keep strictly more than the junk half, and
    // the sample must be neither empty nor everything (the long-tail
    // property the GPT-3 sampler exists for)
    val curated = docs.filter($"source" =!= "src9").select("doc_id")
    val keptCur = s1.join(curated, "doc_id").filter($"kept" === 1L).count()
    val keptJunk = s1.filter($"kept" === 1L).count() - keptCur
    assert(keptCur > keptJunk,
      s"curated keeps $keptCur must exceed junk keeps $keptJunk")
    val kept = keptCur + keptJunk
    assert(kept > 0 && kept < 400, s"kept $kept must be a strict subset")
    s1.unpersist()
  }

  test("q143 frozen deployment == paretoApply == scoreWith on the same checkpoint") {
    // the registry query, the ingestBatch entry point (paretoApply) and
    // the serve face (scoreWith) must be the SAME model on the same
    // frozen weights — shared qcProb/qcMargin/paretoDraw definitions,
    // proven by value here and by the oracle in the gate
    val docs = fixture(120)
    val w = TrainingQueries.DeployW
    assert(w.length == 7, "production checkpoint is bias + 6 features")
    val dir = TempDirs("graft_fd")
    docs.write.parquet(s"$dir/documents.parquet")
    val q143 = graft.SparkEntry.queries("q143_frozen_deploy")(spark, dir)
      .select($"doc_id", $"smu", $"kept").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val apply = TrainingQueries.paretoApply(docs, w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val serve = TrainingQueries.scoreWith(docs, w)
      .select($"doc_id", $"smu")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(q143.keySet == apply.keySet && q143.keySet == serve.keySet)
    q143.foreach { case (id, (smu, kept)) =>
      assert(kept == apply(id), s"doc $id: q143 kept $kept != paretoApply")
      assert(smu == serve(id), s"doc $id: q143 smu $smu != scoreWith")
    }
    // the checkpoint reconstructs exactly from its u-unit integers
    assert(w.toSeq == TrainingQueries.DeployWmu.map(_.toDouble / 1000000.0))
  }
}
