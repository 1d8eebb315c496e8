package graft.operators

import graft.{Cols, Q, Tables}
import graft.functions.Shingles.shingles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data-pipeline and analytics operators beyond the reference's
  * own surface (round-2 additions): as-of join, benchmark
  * decontamination, repetition-quality signals, pivot, exact
  * percentiles, corpus top-words, and a portable SimHash oracle twin.
  * Every query here is DuckDB-oracle-checked.
  */
object TrainingQueries {
  import Cols._

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The shared tokenization convention (= its DuckDB oracle
    * `string_split_regex(lower(trim(text)), '\s+')`) — one definition
    * for the whole codebase, so the parity contract can't fork.
    */
  private def toks(text: org.apache.spark.sql.Column) =
    graft.functions.TextFunctions.tokens(text)

  /** q114's shard count — ONE definition interpolated into both the
    * Spark plan and the oracle SQL so the two sides can't fork.
    */
  private val EpochShuffleShards = 16

  /** q114's overflow-free epoch-salt domain (TotalitySweep row `adv_id`): ids
    * reduce mod this cap before the ×4+epoch packing, so the mixer
    * input stays below P in plain long arithmetic for ANY id
    * (snowflake-scale, negative) under ANSI mode. Identity for every
    * id < ~5.7e17, so gate values are unchanged; the oracle mirrors
    * pmod as ((id % C) + C) % C.
    */
  private val EpochSaltCap: Long = (graft.functions.MulMod61.P - 3) / 4

  /** q135 constants — ONE definition interpolated into both the Spark
    * trainer and the oracle SQL so the two sides can't fork: training
    * rounds, learning rate, and the curated-source positive-label set
    * (the weak supervision: GPT-3's classifier labeled WebText/Wiki/
    * books positive and raw CommonCrawl negative the same way).
    * Declared BEFORE the `all` registry list, which interpolates them
    * at object init (declared-after vals would still be null/0 there).
    */
  private[graft] val QcRounds = 8
  private[operators] val QcLr = 0.5
  private[operators] val QcPositiveSources =
    Seq("src0", "src1", "src2", "src3", "src4")

  /** The classifier feature sets as DuckDB SQL, in the feat-CTE scope
    * (`txt` = coalesce(text,''), `tk` = its whitespace tokens, plus
    * `source`/`lang`). Each list is the oracle twin of ONE Spark
    * featurizer ([[qcFeatures]] / [[qcFullFeatures]]) and drives the
    * w/g CTE widths and the margin fold, so the two engines cannot
    * fork on dimensionality. Declared before `all` (object-init order).
    */
  private[operators] val QcTrioSql: Seq[String] = Seq(
    "CAST(len(tk) AS DOUBLE) / 256.0",
    "CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(greatest(len(tk), 1) AS DOUBLE)",
    "CAST(length(txt) AS DOUBLE) / (CAST(greatest(len(tk), 1) AS DOUBLE) * 8.0)")

  private val QcStopSql =
    graft.functions.TextFunctions.EnStopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** q31's lang-id argmax chain rebuilt over `tk` (marker hits per
    * language, fixed tie order, 'und' when nothing hits) — the exact
    * construction q31's hash-green oracle proved against langIdFused.
    */
  private val QcLangIdSql: String = {
    val hits = graft.functions.TextFunctions.LangMarkers.map {
      case (lang, markers) =>
        val lst = markers.map(w => s"'$w'").mkString("[", ", ", "]")
        lang -> s"len(list_filter(tk, x -> list_contains($lst, x)))"
    }
    val best = hits.map(_._2).mkString("greatest(", ", ", ")")
    val chain = hits
      .map { case (lang, e) => s"WHEN $e > 0 AND $e = $best THEN '$lang'" }
      .mkString(" ")
    s"CASE $chain ELSE 'und' END"
  }

  /** q137's production feature set: the trio + q28's punctuation and
    * stopword ratios (single IEEE divisions of exact integer counts,
    * bit-identical across engines — q28's three-scale hash-green
    * ratios are the proof) + the q31 lang-id agreement indicator.
    */
  private[operators] val QcFullSql: Seq[String] = QcTrioSql ++ Seq(
    s"CAST(length(regexp_replace(txt, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / CAST(greatest(length(txt), 1) AS DOUBLE)",
    s"CAST(len(list_filter(tk, x -> list_contains($QcStopSql, x))) AS DOUBLE) / len(tk)",
    s"CASE WHEN ($QcLangIdSql) = coalesce(lang, '') THEN 1.0 ELSE 0.0 END")

  /** q143's frozen deployment checkpoint: the q137 production model
    * (bias + 6 features, weight dimension 7) trained offline by
    * [[qcTrain]] on the sf0.01 gate corpus (QcRounds = 8 full-batch
    * rounds, the exact q137 recipe),
    * then µ-unit-QUANTIZED at freeze time — standard deploy-time model
    * quantization, and what makes the checkpoint exactly portable: both
    * engines reconstruct every weight as the identical IEEE double
    * wmu/1e6 from the same integer, so the deployed score can never
    * fork on a decimal-literal parse (the HllSketch estRawSql lesson).
    * This is the persisted-artifact MO (CanonicalMap/DedupIndex)
    * applied to the model: train once, freeze, deploy many — q136
    * remains the stateless trained-in-query twin. Declared before
    * `all` (object-init order).
    */
  private[operators] val DeployWmu: Seq[Long] =
    Seq(-407923L, -78841L, -216441L, -277569L, 0L, -26060L, -133331L)
  private[graft] val DeployW: Array[Double] =
    DeployWmu.map(_.toDouble / 1000000.0).toArray

  /** q132's span-fraction decontamination constants (the GPT-3/PaLM
    * 13-gram convention) and their winnow decomposition: fingerprint
    * [[DecontamGramK]]-grams with window [[DecontamWinnowW]] — the
    * Schleimer-Wilkerson-Aiken guarantee is tight at exactly
    * [[DecontamTokens]] = 8+6-1 shared tokens. ONE definition shared
    * with the persisted eval-side index ([[SpanIndex]]) so the batch
    * probe and the gate query can't fork.
    */
  val DecontamTokens = 13
  val DecontamGramK = 8
  val DecontamWinnowW: Int = DecontamTokens - DecontamGramK + 1

  /** q139's histogram resolution and quantile targets (percent) — ONE
    * definition interpolated into both the Spark plan and the oracle
    * SQL. Declared before `all` (object-init order). [[HistQs]] is
    * shared with q141 so the two quantile sketches stay comparable
    * target-for-target.
    */
  private[operators] val HistBins = 256
  private[operators] val HistQs = Seq(25, 50, 75, 95)

  /** q141's sample size and confidence: k pairs kept per group, DKW
    * rank-error ε = √(ln(2/δ)/(2k)) at 1−δ — both inlined into the two
    * engines as the SAME driver-computed literals. Declared before
    * `all` (object-init order).
    */
  private[operators] val BkK = 1024
  private[operators] val BkDelta = 0.01
  private[operators] val BkEpsPpm: Long =
    graft.functions.BottomK.epsPpm(BkK, BkDelta)

  /** q151's sample size: k triples kept per group, same budget as q141
    * so the weighted and unweighted unknown-domain sketches stay
    * comparable. Declared before `all` (object-init order).
    */
  private[operators] val WbK = 1024

  /** Bench-only twin of q53: the approx_percentile SCALE path (fixed-
    * memory mergeable sketch vs the exact form's per-group value
    * buffers). Not in the registry — sketch outputs are engine-specific
    * so no cross-engine oracle is meaningful; TrainingSpec bounds its
    * error against q53's exact values instead.
    */
  def percentilesApprox(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        expr("approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D), 10000)")
          .as("ps"))
      .select(col("l_returnflag"), col("n"),
        col("ps")(0).as("p25"), col("ps")(1).as("p50"),
        col("ps")(2).as("p75"), col("ps")(3).as("p95"))
      .orderBy(col("l_returnflag"))

  /** Shared q50/q81 body: flag train docs sharing any distinct word-
    * 5-gram with the eval split. With `bloomPrefilter` the train side is
    * pruned by a broadcast bloom of the eval shingle hashes before the
    * exact equi-join — identical results (no false negatives; the join
    * removes false positives), fewer shuffled rows.
    */
  private def decontaminate(s: SparkSession, dir: String,
      bloomPrefilter: Boolean): DataFrame = {
    import graft.functions.BloomFilterOps.{bloomAgg, mightContain}
    val sh = t(s, dir, "documents")
      .select(col("doc_id"), explode(shingles(col("text"), 5)).as("sh"))
    val train = sh.filter(col("doc_id") % 20 =!= 0)
    val eval_ = sh.filter(col("doc_id") % 20 === 0)
      .select(col("sh"), col("doc_id").as("eval_id"))
    val candidates =
      if (!bloomPrefilter) train
      else {
        // Size for the eval side's shingle cardinality: ~1 M items in
        // 8 Mbit ≈ 1 MiB broadcast at 1% fpp. A real deployment derives
        // estItems from the eval corpus's token count; the bloom is
        // one fixed-size binary regardless, so the broadcast never
        // scales with the TRAIN side, which is the 100 TB one.
        val bloom = eval_.agg(
          bloomAgg(xxhash64(col("sh")), estItems = 1000000L,
            numBits = 8388608L).as("bf"))
        // might_contain requires a constant or scalar subquery on the
        // bloom side (same wiring as Catalyst's InjectRuntimeFilter):
        // the subquery runs once, its one fixed-size binary is shared
        // across every probe — never a per-row re-evaluation and never
        // a broadcast that scales with the train side.
        train.filter(mightContain(
          org.apache.spark.sql.graftinterop.ColumnInterop.scalarSubquery(bloom),
          xxhash64(col("sh"))))
      }
    candidates.join(eval_, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_shared_shingles"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  private val DecontaminateOracle = Some("""WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 3, 1)),
                   i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS sh
          FROM tk),
        tr AS (SELECT doc_id, sh FROM sh WHERE doc_id % 20 <> 0),
        ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % 20 = 0)
        SELECT tr.doc_id,
               CAST(count(DISTINCT tr.sh) AS BIGINT) AS n_shared_shingles,
               CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
        FROM tr JOIN ev ON tr.sh = ev.sh
        GROUP BY tr.doc_id ORDER BY tr.doc_id""")

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // q49: AS-OF JOIN (trades×quotes shape): for each 'purchase' event,
    // the same user's latest OTHER event at-or-before it. The Spark
    // plan is the scale-correct single-shuffle form — union both
    // streams, one window per user ordered by (ts, kind, event_id),
    // last(ignoreNulls) carries the most recent quote forward — instead
    // of the O(events²/user) expansion join the SQL oracle uses.
    // Ties: an event exactly at the purchase timestamp counts (kind
    // sorts quotes first), and equal-ts quotes resolve to the max
    // event_id — the oracle's ORDER BY ts DESC, event_id DESC.
    Q("q49_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            lit(1).as("kind"),
            lit(null).cast("long").as("q_id"),
            lit(null).cast("string").as("q_type"),
            lit(null).cast("timestamp").as("q_ts"))
        val quotes = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            lit(0).as("kind"),
            col("event_id").as("q_id"),
            col("event_type").as("q_type"),
            col("ts").as("q_ts"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("kind"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        purchases.unionByName(quotes)
          .withColumn("prev_event_id", last(col("q_id"), ignoreNulls = true).over(w))
          .withColumn("prev_event_type", last(col("q_type"), ignoreNulls = true).over(w))
          .withColumn("prev_ts", last(col("q_ts"), ignoreNulls = true).over(w))
          .filter(col("kind") === 1)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("prev_event_id"), col("prev_event_type"),
            unix_micros(col("prev_ts")).as("prev_ts_us"),
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH p AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        q AS (
          SELECT event_id, user_id, event_type, ts FROM events
          WHERE event_type <> 'purchase'),
        j AS (
          SELECT p.event_id AS pe, q.event_id AS qe, q.event_type AS qt,
                 q.ts AS qts,
                 row_number() OVER (PARTITION BY p.event_id
                   ORDER BY q.ts DESC, q.event_id DESC) AS rn
          FROM p JOIN q ON q.user_id = p.user_id AND q.ts <= p.ts)
        SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
               j.qe AS prev_event_id, j.qt AS prev_event_type,
               epoch_us(j.qts) AS prev_ts_us,
               epoch_us(p.ts) - epoch_us(j.qts) AS gap_us
        FROM p LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.pe = p.event_id
        ORDER BY p.event_id""")),

    // ------------------------------------------------------------------
    // q50: benchmark DECONTAMINATION — flag "train" documents sharing
    // any distinct word-5-gram with the "eval" split (doc_id % 20 = 0
    // stands in for a held-out benchmark). The standard n-gram-overlap
    // contamination check for LLM corpora: explode shingles on both
    // sides, equi-join on the shingle key (shuffle on n-gram — no doc×
    // doc product), count shared shingles + distinct eval docs hit.
    Q("q50_decontaminate",
      (s, dir) => decontaminate(s, dir, bloomPrefilter = false),
      DecontaminateOracle),

    // q81: the SAME decontamination behind a bloom-filter prefilter —
    // the 100 TB shape. The eval side's shingle keys aggregate into one
    // FIXED-size bloom (Spark's own BloomFilterAggregate — the runtime-
    // filter machinery, applied explicitly); the train side drops every
    // shingle the bloom rejects BEFORE the shuffle, so the exact
    // equi-join only shuffles candidate rows. Blooms have no false
    // negatives, and the exact join removes false positives, so the
    // result is row-identical to q50 — both entries share one oracle SQL
    // and the gate hash-checks the equivalence. At real scale the win is
    // proportional to the clean fraction of the corpus: the shuffle
    // carries only (true hits + fpp-sized noise) instead of every
    // train-side shingle.
    Q("q81_bloom_decontaminate",
      (s, dir) => decontaminate(s, dir, bloomPrefilter = true),
      DecontaminateOracle),

    // ------------------------------------------------------------------
    // q51: REPETITION-quality signals (Gopher-style): per document, the
    // duplicate-token fraction and the top-token share. Two-level
    // aggregation (doc,token → doc), fully map-side-combinable — no
    // per-doc array materialization at scale.
    Q("q51_repetition",
      (s, dir) => {
        val tc = t(s, dir, "documents")
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("n"))
        tc.groupBy(col("doc_id"))
          .agg(sum(col("n")).as("n_tokens"),
            count(lit(1)).as("n_distinct_tokens"),
            max(col("n")).as("top_n"))
          .select(col("doc_id"),
            col("n_tokens"), col("n_distinct_tokens"),
            (lit(1.0) - dbl(col("n_distinct_tokens")) / dbl(col("n_tokens")))
              .as("repetition_ratio"),
            (dbl(col("top_n")) / dbl(col("n_tokens"))).as("top_token_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        tc AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct_tokens,
               1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                 AS repetition_ratio,
               CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                 AS top_token_frac
        FROM tc GROUP BY doc_id ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // q52: PIVOT — yearly revenue spread across order priorities as
    // columns. Spark's relational pivot with an EXPLICIT value list (an
    // implicit list needs a values-discovery pass and non-deterministic
    // schema — never at scale); DuckDB mirrors it as conditional
    // aggregation, which is also exactly what Spark plans the pivot as.
    Q("q52_pivot_priority",
      (s, dir) => {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")
        t(s, dir, "orders")
          .select(year(col("o_orderdate")).as("y"),
            col("o_orderpriority").as("prio"),
            dec(col("o_totalprice")).as("price"))
          .groupBy(col("y"))
          .pivot("prio", prios)
          .agg(dbl(sum(col("price"))))
          .select(col("y"),
            col("1-URGENT").as("urgent"), col("2-HIGH").as("high"),
            col("3-MEDIUM").as("medium"),
            col("4-NOT SPECIFIED").as("not_specified"),
            col("5-LOW").as("low"))
          .orderBy(col("y"))
      },
      Some("""SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
        CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS urgent,
        CAST(sum(CASE WHEN o_orderpriority = '2-HIGH'
                      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS high,
        CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
                      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS medium,
        CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED'
                      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS not_specified,
        CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                      THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS low
        FROM orders GROUP BY y ORDER BY y""")),

    // ------------------------------------------------------------------
    // q53: exact PERCENTILES per group (linear interpolation — the
    // quantile_cont definition both engines share). Exact percentile
    // buffers per-group values, so it is the verification form; the
    // 100 TB path is approx_percentile (t-digest style sketch, fixed
    // memory, mergeable) — PercentileSpec bounds the sketch's error
    // against this exact result.
    Q("q53_percentiles",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))")
              .as("ps"))
          .select(col("l_returnflag"), col("n"),
            col("ps")(0).as("p25"), col("ps")(1).as("p50"),
            col("ps")(2).as("p75"), col("ps")(3).as("p95"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        quantile_cont(l_extendedprice, 0.25) AS p25,
        quantile_cont(l_extendedprice, 0.50) AS p50,
        quantile_cont(l_extendedprice, 0.75) AS p75,
        quantile_cont(l_extendedprice, 0.95) AS p95
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ------------------------------------------------------------------
    // q54: corpus TOP-WORDS with document frequency (the DF half of
    // TF-IDF): explode → two-level agg → top-k by (count, word) — a
    // TakeOrderedAndProject, never a global sort of the vocabulary.
    Q("q54_top_words",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("doc_id")).as("doc_freq"))
          .orderBy(col("n").desc, col("tok"))
          .limit(50),
      Some("""WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents)
        SELECT tok, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM toks GROUP BY tok ORDER BY n DESC, tok LIMIT 50""")),

    // ------------------------------------------------------------------
    // q56: WINNOWING fingerprints (the MOSS algorithm): hash every
    // word-3-gram IN POSITION ORDER, slide a w=4 window over the hash
    // sequence, keep each window's minimum, emit the distinct minima as
    // the document's fingerprint set. Guarantees: any shared run of
    // ≥ w+k-1 tokens between two docs shares ≥1 fingerprint, so the
    // downstream overlap check is an equi-join on the fingerprint key
    // (like q50) — never doc×doc. md5 hashing + lexicographic min keep
    // every step engine-portable (the q48 portability trick). Uses the
    // fused WinnowFingerprints expression (the declarative nested-HOF
    // form measured 245s at sf0.1 — see its scaladoc; FunctionsSpec
    // asserts the fused pass equals the HOF chain).
    Q("q56_winnowing",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.functions.WinnowFingerprints
              .winnow(col("text"), 3, 4)).as("fp"))
          .distinct()
          .orderBy(col("doc_id"), col("fp")),
      Some("""WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, list_transform(range(1, greatest(len(w) - 1, 1)),
                   i -> md5(array_to_string(list_slice(w, i, i + 2), ' '))) AS hs
          FROM tk),
        wins AS (
          SELECT doc_id, unnest(list_transform(
                   range(1, greatest(len(hs) - 2, 1)),
                   i -> list_aggregate(list_slice(hs, i, i + 3), 'min'))) AS fp
          FROM sh)
        SELECT DISTINCT doc_id, fp FROM wins ORDER BY doc_id, fp""")),

    // ------------------------------------------------------------------
    // q74: SEQUENCE PACKING — assemble documents into fixed-budget
    // training chunks (the pack-then-chunk step before tokenizer
    // sharding: concatenate docs in stable order, cut every `Budget`
    // tokens; a doc belongs to the chunk its first token lands in,
    // chunk_id = floor(start_offset / Budget)). Packing is PER SOURCE —
    // the shard key — so the window is partitioned, never global: at
    // 100 TB each source packs independently in parallel, and adding a
    // new source never renumbers existing chunks. Exact integer
    // arithmetic end-to-end (token counts, running sums), so the packing
    // plan is oracle-checked value-for-value.
    Q("q74_sequence_pack",
      (s, dir) => {
        val budget = 1024L
        val w = Window.partitionBy(col("source"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            size(toks(col("text"))).cast("long").as("n_tok"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("chunk_id", ((col("cum") - col("n_tok")) / budget)
            .cast("long"))
          .groupBy(col("source"), col("chunk_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("chunk_tokens"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"))
          .orderBy(col("source"), col("chunk_id"))
      },
      Some("""WITH tok AS (
          SELECT source, doc_id,
                 CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
          FROM documents),
        packed AS (
          SELECT source, doc_id, n_tok,
                 sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok)
        SELECT source,
               CAST((cum - n_tok) // 1024 AS BIGINT) AS chunk_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS chunk_tokens,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc
        FROM packed GROUP BY source, chunk_id
        ORDER BY source, chunk_id""")),

    // ------------------------------------------------------------------
    // q119: PADDING-WASTE ESTIMATE for length-bucketed batching — docs
    // are grouped into power-of-two token-length buckets (the standard
    // bucketed-batching scheme) and each bucket reports how many pad
    // tokens batching to the bucket cap would burn (utilization =
    // real/total slots). Pure row-local bucket assignment via an
    // explicit CASE ladder (no log2 doubles — exact same branch on both
    // engines) + one small agg; the 100 TB plan is a single map pass.
    Q("q119_padding_waste",
      (s, dir) => {
        val caps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L,
          4096L, 8192L)
        val n = col("n_tok")
        val cap = caps.tail.foldLeft(when(n <= caps.head, caps.head)) {
          (e, c) => e.when(n <= c, c)
        }.otherwise(16384L)
        t(s, dir, "documents")
          .select(col("doc_id"), size(toks(col("text"))).cast("long")
            .as("n_tok"))
          .withColumn("bucket_cap", cap)
          .groupBy(col("bucket_cap"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tokens"),
            sum(col("bucket_cap") - col("n_tok")).as("padded_tokens"))
          .withColumn("utilization",
            col("total_tokens").cast("double") /
              (col("n_docs") * col("bucket_cap")).cast("double"))
          .orderBy(col("bucket_cap"))
      },
      {
        val ladder = Seq(16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192)
          .map(c => s"WHEN n_tok <= $c THEN $c").mkString(" ")
        Some(s"""WITH tok AS (
            SELECT doc_id,
                   CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok
            FROM documents),
          b AS (SELECT doc_id, n_tok,
                       CASE $ladder ELSE 16384 END AS bucket_cap
                FROM tok)
          SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                 CAST(sum(bucket_cap - n_tok) AS BIGINT) AS padded_tokens,
                 CAST(sum(n_tok) AS DOUBLE)
                   / CAST(count(*) * bucket_cap AS DOUBLE) AS utilization
          FROM b GROUP BY bucket_cap ORDER BY bucket_cap""")
      },
      doc = "Pad-token cost of power-of-two length-bucketed batching (batch-shape design)."),

    // ------------------------------------------------------------------
    // q59: batch SESSIONIZATION via Spark's native session_window —
    // gap-based (30 min) per-user sessions with event counts and value
    // sums. The DuckDB oracle is the classic gaps-and-islands rewrite
    // (lag → break flag → running sum island id). Boundary semantics
    // matched exactly: session_window merges an event iff it lands
    // STRICTLY inside [start, last+gap), so the oracle breaks on
    // `diff >= gap`. last event time = window.end − gap (constant gap).
    Q("q59_sessions_batch",
      (s, dir) => {
        val gapUs = 30L * 60 * 1000000
        t(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            dbl(sum(dec(col("value")))).as("total_value"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            (unix_micros(col("session_window.end")) - gapUs)
              .as("session_last_us"),
            col("n_events"), col("total_value"))
          .orderBy(col("user_id"), col("session_start_us"))
      },
      Some("""WITH e AS (
          SELECT event_id, user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sid AS (
          SELECT user_id, ts, value,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM e)
        SELECT user_id,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) AS session_last_us,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        FROM sid GROUP BY user_id, session_id
        ORDER BY user_id, session_start_us""")),

    // ------------------------------------------------------------------
    // q60: CUBE over (year, order status) — completes the grouping-sets
    // family next to q44's ROLLUP. NULL markers coalesced to sentinels
    // on both engines (a real NULL group key would be ambiguous).
    Q("q60_cube",
      (s, dir) =>
        t(s, dir, "orders")
          .select(year(col("o_orderdate")).as("y"),
            col("o_orderstatus").as("status"),
            dec(col("o_totalprice")).as("price"))
          .cube(col("y"), col("status"))
          .agg(count(lit(1)).as("n"), dbl(sum(col("price"))).as("revenue"))
          .select(coalesce(col("y"), lit(-1)).as("y"),
            coalesce(col("status"), lit("ALL")).as("status"),
            col("n"), col("revenue"))
          .orderBy(col("y"), col("status")),
      Some("""SELECT coalesce(y, -1) AS y, coalesce(status, 'ALL') AS status,
               CAST(n AS BIGINT) AS n, revenue
        FROM (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS y,
                 o_orderstatus AS status, count(*) AS n,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
          FROM orders GROUP BY CUBE (y, status))
        ORDER BY y, status""")),

    // ------------------------------------------------------------------
    // q66: CROSS-CORPUS OVERLAP via min-hash sketches, fully
    // oracle-checked: per `source`, one 32-position signature over the
    // UNION of the source's shingle sets (min per position — the
    // mergeable-sketch property MinHashUnion aggregates by), then
    // pairwise estimated Jaccard = matching positions / 32. md5-string
    // min-hashing (the q48 trick) keeps every step in SQL. Estimates
    // corpus-level contamination/overlap WITHOUT any doc×doc or
    // shingle-join work — O(sources²) on 32-element arrays.
    // Oracle twin of the fast q67 (excluded from bench like q48/q55).
    Q("q66_corpus_overlap",
      (s, dir) => {
        val nh = 32
        val sh = t(s, dir, "documents")
          .select(col("source"),
            explode(shingles(col("text"), 3)).as("x"))
          .distinct()
        val sig = sh
          .select(col("source"),
            explode(sequence(lit(0), lit(nh - 1))).as("i"), col("x"))
          .select(col("source"), col("i"),
            md5(concat(col("i").cast("string"), lit("#"), col("x"))
              .cast("binary")).as("h"))
          .groupBy(col("source"), col("i"))
          .agg(min(col("h")).as("m"))
          .groupBy(col("source"))
          .agg(transform(
            sort_array(collect_list(struct(col("i"), col("m")))),
            e => e.getField("m")).as("s"))
        val matches = aggregate(
          zip_with(col("a.s"), col("b.s"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v)
        sig.alias("a").join(sig.alias("b"),
          col("a.source") < col("b.source"))
          .select(col("a.source").as("source_a"),
            col("b.source").as("source_b"),
            (matches.cast("double") / nh).as("est_jaccard"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some("""WITH tk AS (
          SELECT source, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT DISTINCT source,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 1, 1)),
                   i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS x
          FROM tk),
        pos AS (
          SELECT source, u.i, min(md5(u.i::VARCHAR || '#' || x)) AS m
          FROM sh, (SELECT unnest(range(0, 32)) AS i) u
          GROUP BY source, u.i),
        sig AS (
          SELECT source, list(m ORDER BY i) AS s FROM pos GROUP BY source)
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(len(list_filter(list_zip(a.s, b.s), p -> p[1] = p[2]))
                 AS DOUBLE) / 32 AS est_jaccard
        FROM sig a JOIN sig b ON a.source < b.source
        ORDER BY source_a, source_b"""),
      doc = "Interpreted-HOF md5 twin of q67; production path = q67 (MinHashSig + MinHashUnion UDAF).",
      verificationOnly = true),

    // ------------------------------------------------------------------
    // q67: the PRODUCTION corpus-overlap path — fused MulMod61
    // MinHashSig per doc (one pass), MinHashUnion UDAF merges them per
    // source (map-side partial aggregation, O(k) per group across the
    // shuffle), pairwise position-match estimate. The union-sketch
    // property sig(A∪B) = min(sig(A), sig(B)) lets the oracle recompute
    // each source signature directly as the per-position minimum over
    // the source's distinct shingles — value-exact, not just bounded.
    Q("q67_corpus_overlap_fast",
      (s, dir) => {
        val nh = 32
        val sig = t(s, dir, "documents")
          .select(col("source"),
            graft.functions.MinHashSig.minhashSig(
              graft.functions.TextFunctions.shingleSet(col("text"), 3), nh)
              .as("doc_sig"))
          .groupBy(col("source"))
          .agg(graft.functions.MinHashUnion.minhashUnion(col("doc_sig"), nh)
            .as("s"))
        val matches = aggregate(
          zip_with(col("a.s"), col("b.s"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v)
        sig.alias("a").join(sig.alias("b"),
          col("a.source") < col("b.source"))
          .select(col("a.source").as("source_a"),
            col("b.source").as("source_b"),
            (matches.cast("double") / nh).as("est_jaccard"))
          .orderBy(col("source_a"), col("source_b"))
      },
      {
        val mm = graft.functions.MulMod61
        Some(s"""WITH tk AS (
            SELECT source, string_split_regex(lower(trim(text)), '\\s+') AS w
            FROM documents),
          sh AS (
            SELECT DISTINCT source,
                   unnest(list_distinct(list_transform(
                     range(1, greatest(len(w) - 1, 1)),
                     i -> array_to_string(list_slice(w, i, i + 2), ' ')))) AS x
            FROM tk),
          ph AS (SELECT source, ${mm.sqlPh61("x")} AS px FROM sh),
          k AS (SELECT unnest(range(0, 32)) AS i,
                       unnest(${mm.sqlHaList(32)}) AS a,
                       unnest(${mm.sqlHbList(32)}) AS b),
          pos AS (
            SELECT source, k.i, min((k.a * ph.px + k.b) % ${mm.P}) AS m
            FROM ph CROSS JOIN k GROUP BY source, k.i),
          sig AS (SELECT source, list(m ORDER BY i) AS s FROM pos GROUP BY source)
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(len(list_filter(list_zip(a.s, b.s), p -> p[1] = p[2]))
                   AS DOUBLE) / 32 AS est_jaccard
          FROM sig a JOIN sig b ON a.source < b.source
          ORDER BY source_a, source_b""")
      }),

    // ------------------------------------------------------------------
    // q55: SimHash md5 TWIN (the q48 trick applied to q37): the same
    // distinct-token → hash → per-bit majority-vote pipeline, but
    // hashing via md5 hex digits — an INDEPENDENT hash family kept as a
    // second fixture now that q37's production MulMod61 signatures are
    // oracle-checked directly. Bits are read straight from hex
    // characters (digit value → shift/mask) and the packed signature is
    // emitted as two 32-bit halves to stay inside signed BIGINT on both
    // engines. q37 (fused expression) is the production/bench path.
    Q("q55_simhash_oracle",
      (s, dir) => {
        val bits = t(s, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(toks(col("text")))).as("tok"))
          .select(col("doc_id"), md5(col("tok").cast("binary")).as("h"))
          .select(col("doc_id"), col("h"),
            explode(sequence(lit(0), lit(63))).as("b"))
          // bit b (0 = LSB) of the first-16-hex-chars value: nibble at
          // char position 16 - b/4, bit (b % 4) of its digit value
          .withColumn("v",
            expr("instr('0123456789abcdef', substring(h, 16 - b div 4, 1)) - 1"))
          .withColumn("bit", expr("(v div cast(pow(2, b % 4) as int)) % 2"))
        val votes = bits
          .groupBy(col("doc_id"), col("b"))
          .agg(sum(when(col("bit") === 1, 1).otherwise(-1)).as("vote"))
        votes.groupBy(col("doc_id"))
          .agg(
            sum(when(col("b") < 32 && col("vote") >= 0,
              expr("cast(pow(2, b) as long)")).otherwise(0L)).as("sig_lo"),
            sum(when(col("b") >= 32 && col("vote") >= 0,
              expr("cast(pow(2, b - 32) as long)")).otherwise(0L)).as("sig_hi"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
          SELECT doc_id,
                 unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS tok
          FROM documents),
        h AS (SELECT doc_id, md5(tok) AS h FROM toks),
        bits AS (
          SELECT doc_id, u.b,
                 ((strpos('0123456789abcdef', substr(h, 16 - (u.b // 4), 1)) - 1)
                   // CAST(power(2, u.b % 4) AS INTEGER)) % 2 AS bit
          FROM h, (SELECT unnest(range(0, 64)) AS b) u),
        votes AS (
          SELECT doc_id, b,
                 sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS vote
          FROM bits GROUP BY doc_id, b)
        SELECT doc_id,
               CAST(sum(CASE WHEN b < 32 AND vote >= 0
                             THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig_lo,
               CAST(sum(CASE WHEN b >= 32 AND vote >= 0
                             THEN CAST(power(2, b - 32) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig_hi
        FROM votes GROUP BY doc_id ORDER BY doc_id"""),
      doc = "Declarative md5 twin of q37; production path = q37 (fused SimHash61).",
      verificationOnly = true),

    // ------------------------------------------------------------------
    // q95: EVENT TRANSITION MATRIX — first-order Markov counts over each
    // user's event sequence (lag per user, ordered by (ts, event_id) —
    // the unique-order rule), aggregated corpus-wide with per-prev-type
    // transition probabilities. The sequence-modeling prep next to q78's
    // funnel and q59's sessions: "what follows what" for journey
    // analysis and next-event baselines. Per-user windows partition by
    // the shard key; counts are map-side-combinable longs; the only
    // double is one final division of longs — deterministic, and the
    // per-prev normalizing sum is an integer window over a tiny
    // (types × types) frame.
    Q("q95_event_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val wprev = Window.partitionBy(col("prev_type"))
        t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          // anonymous traffic (NULL user_id) would collapse into ONE
          // pseudo-user whose lag window stitches unrelated visitors
          // into fake transitions — only real identified journeys count
          .filter(col("user_id").isNotNull)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("prob", col("cnt").cast("double")
            / sum(col("cnt")).over(wprev).cast("double"))
          .orderBy(col("prev_type"), col("event_type"))
      },
      Some("""WITH tr AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type,
                 event_type
          FROM events WHERE user_id IS NOT NULL),
        c AS (
          SELECT prev_type, event_type, count(*) AS cnt
          FROM tr WHERE prev_type IS NOT NULL
          GROUP BY prev_type, event_type)
        SELECT prev_type, event_type, CAST(cnt AS BIGINT) AS cnt,
               CAST(cnt AS DOUBLE)
                 / CAST(sum(cnt) OVER (PARTITION BY prev_type) AS DOUBLE) AS prob
        FROM c ORDER BY prev_type, event_type"""),
      doc = "First-order Markov transition counts/probabilities over user event sequences."),

    // ------------------------------------------------------------------
    // q96: SLIDING-WINDOW CHUNKING — split each document into
    // overlapping token windows (W=32, stride S=24 ⇒ 8-token overlap),
    // the RAG-ingest / context-window prep that complements q74's
    // packing (packing CONCATENATES docs into budget-sized sequences;
    // chunking SPLITS one doc into retrieval units that preserve
    // cross-boundary context via the overlap). Chunk count per doc is
    // 1 + ceil((n−W)/S) for n>W else 1 — the standard chunker rule: the
    // last window is allowed to run short, but no window starts inside
    // the previous window's un-overlapped span, so no chunk is a subset
    // of another. All-integer index arithmetic (exact in both engines);
    // the explode is row-local — a pure map stage, scales trivially.
    Q("q96_chunk_overlap",
      (s, dir) => {
        val W = 32
        val S = 24
        val base = t(s, dir, "documents")
          .select(col("doc_id"), toks(col("text")).as("w"))
          .withColumn("n", size(col("w")))
        val lastK = when(col("n") > W,
          floor((col("n") - W + (S - 1)).cast("double") / S).cast("int"))
          .otherwise(0)
        base
          .select(col("doc_id"), col("w"), col("n"),
            explode(sequence(lit(0), lastK)).as("k"))
          .select(col("doc_id"), col("k").as("chunk_idx"),
            (col("k") * S).as("start_tok"),
            least(lit(W), col("n") - col("k") * S).as("n_tok_chunk"),
            concat_ws(" ",
              slice(col("w"), col("k") * S + 1,
                least(lit(W), col("n") - col("k") * S))).as("chunk_text"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        n AS (SELECT doc_id, w, len(w) AS n FROM tk),
        k AS (SELECT doc_id, w, n,
                     unnest(range(0, (CASE WHEN n > 32
                       THEN (n - 32 + 23) // 24 ELSE 0 END) + 1)) AS k
              FROM n)
        SELECT doc_id,
               CAST(k AS INTEGER) AS chunk_idx,
               CAST(k * 24 AS INTEGER) AS start_tok,
               CAST(least(32, n - k * 24) AS INTEGER) AS n_tok_chunk,
               array_to_string(list_slice(w, k * 24 + 1,
                 least(k * 24 + 32, n)), ' ') AS chunk_text
        FROM k ORDER BY doc_id, chunk_idx"""),
      doc = "Overlapping token-window chunking (W=32, S=24) — RAG ingest units."),

    // ------------------------------------------------------------------
    // q99: PER-SOURCE BOILERPLATE N-GRAM INVENTORY — the CCNet-style
    // "find the template" pass: distinct word-5-grams per document,
    // document-frequency per (source, shingle), keep shingles recurring
    // across ≥2 documents of the same source, top-10 per source. This
    // is the inventory a boilerplate-removal pass consumes (q83 scores
    // how duplicated each DOC is; this names WHAT is duplicated, per
    // provenance). Dataflow: one (source, shingle)-keyed count shuffle
    // (map-side combinable) + a per-source top-k window on the shard
    // key — never a global sort. At 100 TB the (source, shingle) key
    // space is corpus-sized but the aggregation is the same shape as
    // q75's df side; the top-k window input is only the ≥2-df
    // survivors.
    Q("q99_boilerplate_ngrams",
      (s, dir) => {
        val sh = t(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            explode(graft.functions.TextFunctions.shingleSet(col("text"), 5))
              .as("shingle"))
        val dfreq = sh.groupBy(col("source"), col("shingle"))
          .agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_docs").desc, col("shingle"))
        dfreq.filter(col("n_docs") >= 2)
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .orderBy(col("source"), col("rnk"))
      },
      Some("""WITH tk AS (
          SELECT doc_id, source,
                 string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, source, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 3, 1)),
                   i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS shingle
          FROM tk),
        dfreq AS (
          SELECT source, shingle, count(*) AS n_docs
          FROM sh GROUP BY source, shingle)
        SELECT source, shingle, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_docs DESC, shingle) AS BIGINT) AS rnk
        FROM dfreq WHERE n_docs >= 2
        QUALIFY rnk <= 10 ORDER BY source, rnk"""),
      doc = "Per-source recurring-5-gram inventory (boilerplate/template detection)."),

    // ------------------------------------------------------------------
    // q123: BOILERPLATE STRIP ACCOUNTING — the APPLY side of q99's
    // detect pass: mark every token position covered by an occurrence
    // of a boilerplate 5-gram (q99's inventory: per-source shingles
    // recurring in ≥2 docs, top-10 by document frequency) and report
    // per document how much text survives removal. q83 scores how
    // duplicated a doc is, q99 names the templates; this measures what
    // a CCNet-style strip would actually delete — the number a curation
    // run budgets against before committing to a rewrite pass.
    // Coverage must be POSITIONAL (overlapping template hits share
    // tokens, so counting hits would over-delete): a hit at 0-based
    // start i covers tokens i+1..i+5, and overlaps collapse in the
    // coverage mask. Dataflow: the inventory side is q99's (source,
    // shingle)-keyed count shuffle whose survivors are ≤10 rows/source
    // — BROADCAST by construction, so the fused distinct-shingle
    // stream joins it map-side; the surviving (doc, template) pairs
    // (≤10/doc) fold to a per-doc template array, and the positional
    // work happens ONCE per doc in the fused [[CoveredPositions]]
    // kernel — no positional explode ever crosses an exchange. (The
    // declarative positional-explode form measured 5.3 s at sf0.1 —
    // slowest in the registry; this shape is ~5× cheaper and is the
    // one that scales: at 100 TB the only corpus-keyed exchange is
    // the tiny hit-pair agg.)
    // KNOWN TOKENIZATION EDGE: n_tokens comes from the declarative
    // tokens() (Spark trim = spaces only; split keeps trailing empty
    // tokens) while n_boiler_tokens counts inside the kernel, which
    // tokenizes the Shingles way (Java String.trim strips tabs/
    // newlines too; split("\\s+") drops trailing empties). On a text
    // edged by tabs/newlines the two sequences can differ by the edge
    // tokens, drifting kept_ratio by O(1/n_tokens). Identical on every
    // gate dataset and oracle-pinned at 3 scales; n_boiler_tokens ≤
    // n_tokens still holds (the kernel's sequence is never longer), so
    // kept_ratio stays in [0,1]. A production strip pass should derive
    // BOTH counts from one tokenization (e.g. a TextStats field) —
    // kept as-is here because the oracle's string_split_regex(trim())
    // matches the declarative n_tokens definition exactly.
    Q("q123_boilerplate_strip",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val sh = docs
          .select(col("source"), col("doc_id"),
            explode(shingles(col("text"), 5)).as("shingle"))
        val inv = sh
          .groupBy(col("source"), col("shingle"))
          .agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2)
          .withColumn("rnk", row_number().over(Window.partitionBy(col("source"))
            .orderBy(col("n_docs").desc, col("shingle"))))
          .filter(col("rnk") <= 10)
          .select(col("source"), col("shingle"))
        // r15: per-doc hit sets ROW-LOCALLY. The r14 shape re-exploded
        // the whole corpus a second time and shuffled the hit rows
        // through a per-doc groupBy + join; but `inv` is ≤10 templates
        // per source (model-sized), so each doc's hit set is just the
        // intersection of its own shingle array with its source's
        // template array — one broadcast join of a per-source array dim
        // + a codegen'd array_intersect per row. Drops a full corpus
        // tokenize+shingle pass, the hit-stream shuffle, and the per-doc
        // hit join (guide §2.4; the q76/q104 row-local precedent).
        // sort_array(array_intersect(templates, doc_shingles)) ==
        // sort_array(collect_set(hit shingles)): intersect dedupes and
        // the sort fixes the order, so CoveredPositions sees the
        // identical array.
        val invArr = inv.groupBy(col("source"))
          .agg(collect_list(col("shingle")).as("inv_arr"))
        docs
          .join(broadcast(invArr), Seq("source"), "left")
          .withColumn("boiler",
            sort_array(array_intersect(col("inv_arr"),
              shingles(col("text"), 5))))
          .select(col("doc_id"), col("source"),
            size(toks(col("text"))).cast("long").as("n_tokens"),
            // boiler is NULL both when the source has no templates
            // (left-join miss) and when the doc's shingle array is NULL
            // (null/whitespace text) — all no-hit classes, like the r14
            // left-join miss
            when(col("boiler").isNull || size(col("boiler")) === 0, lit(0L))
              .otherwise(graft.functions.CoveredPositions
                .coveredPositions(col("text"), col("boiler"), 5))
              .as("n_boiler_tokens"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("n_boiler_tokens"),
            (col("n_tokens") - col("n_boiler_tokens")).as("n_kept"),
            ((col("n_tokens") - col("n_boiler_tokens")).cast("double")
              / col("n_tokens").cast("double")).as("kept_ratio"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (
          SELECT doc_id, source,
                 string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        sh AS (
          SELECT doc_id, source, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 3, 1)),
                   i -> array_to_string(list_slice(w, i, i + 4), ' ')))) AS shingle
          FROM tk),
        dfreq AS (
          SELECT source, shingle, count(*) AS n_docs
          FROM sh GROUP BY source, shingle),
        inv AS (
          SELECT source, shingle FROM (
            SELECT source, shingle,
                   row_number() OVER (PARTITION BY source
                     ORDER BY n_docs DESC, shingle) AS rnk
            FROM dfreq WHERE n_docs >= 2)
          WHERE rnk <= 10),
        posi AS (
          SELECT doc_id, source, unnest(range(1, greatest(len(w) - 3, 1))) AS i,
                 w
          FROM tk),
        hit AS (
          SELECT p.doc_id, unnest(range(p.i, p.i + 5)) AS posn
          FROM (SELECT doc_id, source, i,
                       array_to_string(list_slice(w, i, i + 4), ' ') AS shingle
                FROM posi) p
          JOIN inv USING (source, shingle)),
        cov AS (
          SELECT doc_id, count(DISTINCT posn) AS n_boiler
          FROM hit GROUP BY doc_id)
        SELECT t.doc_id, t.source,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(coalesce(c.n_boiler, 0) AS BIGINT) AS n_boiler_tokens,
               CAST(len(w) - coalesce(c.n_boiler, 0) AS BIGINT) AS n_kept,
               CAST(len(w) - coalesce(c.n_boiler, 0) AS DOUBLE)
                 / CAST(len(w) AS DOUBLE) AS kept_ratio
        FROM tk t LEFT JOIN cov c USING (doc_id) ORDER BY t.doc_id"""),
      doc = "Positional boilerplate-token accounting (apply side of q99's inventory)."),

    // ------------------------------------------------------------------
    // q113: SPAN-CORRUPTION MASKING STATS (T5-style, Raffel JMLR'20) —
    // per document: how many tokens a deterministic ~15% corruption
    // policy masks, in how many contiguous spans, at what average span
    // length. The masking decision is a PURE FUNCTION of (doc_id,
    // position) through the affine61 hash (q45/q73's split/sample
    // family), so the "random" corruption is reproducible run-to-run,
    // engine-to-engine, and at any partitioning — the property a
    // training pipeline needs to regenerate identical objectives across
    // epochs and restarts. (T5's exact sampler is sequential; the
    // independent-Bernoulli form keeps the decision row-local, with
    // spans = maximal masked runs recovered by one lag on the doc shard
    // key.) Dataflow: token explode → row-local hash mask → per-doc lag
    // window (shard key) → integer counts; the two ratios are final
    // fixed-order divisions. Scales as q92/q95 do.
    Q("q113_span_corruption",
      (s, dir) => {
        import graft.functions.{Affine61, MulMod61}
        import graft.functions.Affine61.{mixA, mixB}
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        val tk = t(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(toks(col("text"))).as(Seq("pos0", "word")))
          .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"))
        // chained affine: spread doc_id over [0, P) FIRST, then fold the
        // position in mod P and hash again. A fixed-stride packing
        // (doc_id·2^20 + pos) would alias a >2^20-token document into
        // the next doc_id's key space (book-scale docs exist in real
        // corpora); the chain has no such boundary.
        val m1 = Affine61.affine61(col("doc_id"), mixA, mixB)
        tk.withColumn("m",
            (Affine61.affine61((m1 + col("pos")) % lit(MulMod61.P),
              mixA, mixB) % 100 < 15).cast("int"))
          .withColumn("pm", lag(col("m"), 1, 0).over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(col("m")).as("n_masked"),
            sum(when(col("m") === 1 && col("pm") === 0, 1).otherwise(0))
              .as("n_spans"))
          .select(col("doc_id"), col("n_tokens"), col("n_masked"),
            col("n_spans"),
            (col("n_masked").cast("double") / col("n_tokens").cast("double"))
              .as("mask_ratio"),
            when(col("n_spans") > 0,
              col("n_masked").cast("double") / col("n_spans").cast("double"))
              .as("avg_span_len"))
          .orderBy(col("doc_id"))
      },
      {
        import graft.functions.Affine61.{mixA, mixB}
        import graft.functions.MulMod61.P
        Some(s"""WITH tk AS (
            SELECT doc_id,
                   CAST(generate_subscripts(
                     string_split_regex(lower(trim(text)), '\\s+'), 1)
                     AS BIGINT) AS pos
            FROM documents),
          mk AS (
            SELECT doc_id, pos,
                   CASE WHEN (($mixA::HUGEINT *
                               ((($mixA::HUGEINT * doc_id + $mixB) % $P
                                 + pos) % $P)
                               + $mixB) % $P) % 100 < 15
                        THEN 1 ELSE 0 END AS m
            FROM tk),
          lg AS (
            SELECT doc_id, m,
                   lag(m, 1, 0) OVER (PARTITION BY doc_id ORDER BY pos) AS pm
            FROM mk),
          ag AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(m) AS BIGINT) AS n_masked,
                   CAST(sum(CASE WHEN m = 1 AND pm = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_spans
            FROM lg GROUP BY doc_id)
          SELECT doc_id, n_tokens, n_masked, n_spans,
                 CAST(n_masked AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                   AS mask_ratio,
                 CASE WHEN n_spans > 0
                      THEN CAST(n_masked AS DOUBLE) / CAST(n_spans AS DOUBLE)
                 END AS avg_span_len
          FROM ag ORDER BY doc_id""")
      },
      doc = "T5 span-corruption stats: deterministic hash masking, lag-window spans."),

    // ------------------------------------------------------------------
    // q114: DETERMINISTIC EPOCH SHUFFLE — per training epoch, assign
    // every document a (shard, position) through the affine61 hash of
    // (doc_id, epoch): the reproducible-data-ordering primitive next to
    // q45's split / q46's sample / q74's pack. A global random sort at
    // 100 TB is the anti-pattern (one total-order exchange of the
    // corpus); hashing to a bounded shard count and ranking WITHIN each
    // shard gives the same statistical shuffle with one hash-partition
    // exchange and per-shard windows — and, because position is a pure
    // function of (doc_id, epoch), any restart, re-run, or engine
    // reproduces the exact batch order (the property epoch-resume
    // training needs). Different epochs draw different hash points, so
    // consecutive epochs see genuinely different orders (spec-measured).
    Q("q114_epoch_shuffle",
      (s, dir) => {
        import graft.functions.Affine61
        import graft.functions.Affine61.{mixA, mixB}
        val nShards = EpochShuffleShards
        val w = Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("h"), col("doc_id"))
        t(s, dir, "documents").select(col("doc_id"))
          .select(col("doc_id"),
            explode(sequence(lit(1), lit(2))).as("epoch"))
          .withColumn("h", Affine61.affine61(
            pmod(col("doc_id"), lit(EpochSaltCap)) * lit(4L) +
              col("epoch").cast("long"), mixA, mixB))
          .withColumn("shard", (col("h") % nShards).cast("int"))
          .select(col("epoch"), col("doc_id"), col("shard"),
            row_number().over(w).cast("long").as("pos"))
          .orderBy(col("epoch"), col("shard"), col("pos"))
      },
      {
        import graft.functions.Affine61.{mixA, mixB}
        import graft.functions.MulMod61.P
        Some(s"""WITH e AS (
            SELECT doc_id, epoch,
                   (($mixA::HUGEINT * ((((doc_id % $EpochSaltCap) + $EpochSaltCap) % $EpochSaltCap) * 4 + epoch) + $mixB) % $P) AS h
            FROM documents, (SELECT unnest([1, 2]) AS epoch)),
          sh AS (
            SELECT epoch, doc_id,
                   CAST(h % $EpochShuffleShards AS INTEGER) AS shard, h
            FROM e)
          SELECT epoch, doc_id, shard,
                 CAST(row_number() OVER (PARTITION BY epoch, shard
                      ORDER BY h, doc_id) AS BIGINT) AS pos
          FROM sh ORDER BY epoch, shard, pos""")
      },
      doc = "Reproducible epoch shuffle: hash-sharded rank, no global sort."),

    // ------------------------------------------------------------------
    // q132: SPAN-FRACTION EVAL DECONTAMINATION — the published middle
    // ground between q50 (drop on ANY single shared 5-gram — harsh)
    // and q81 (same semantics behind a bloom): the GPT-3/PaLM
    // convention measures the FRACTION of a training document covered
    // by 13-grams that appear in the held-out benchmark, and drops
    // only above a threshold (5% here) — a doc quoting one benchmark
    // sentence survives with the overlap priced in; a cribbed doc
    // drops. Positional coverage (overlapping shared grams collapse)
    // via the q130 machinery at k=13: winnowed 8-gram fingerprints
    // with window 6 (guarantee tight at 8+6-1 = 13) generate
    // eval↔train candidates as an equi-join; each train doc folds its
    // matched EVAL texts (few; production caps partners — the q123
    // inventory MO) and ONE fused SharedCoverage pass marks
    // [i, i+12] per exact-verified hit. No corpus positional explode;
    // the oracle rebuilds the count with positional grams + the
    // gaps-and-islands interval union (+13 gap rule). The contamination
    // flag compares integers cross-multiplied (n_eval·1000 > n_tok·50
    // ⟺ frac > 5%) so no double crosses the gate decision.
    Q("q132_span_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val isEval = col("doc_id") % 20 === 0
        def fpOf(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"),
            explode(graft.functions.WinnowFingerprints
              .winnow(col("text"), DecontamGramK, DecontamWinnowW)).as("fp"))
        val cand = fpOf(docs.filter(isEval))
          .select(col("fp"), col("doc_id").as("e_id"))
          .join(fpOf(docs.filter(!isEval))
            .select(col("fp"), col("doc_id").as("t_id")), Seq("fp"))
          .select(col("e_id"), col("t_id")).distinct()
        val partners = cand
          .join(docs.filter(isEval)
            .select(col("doc_id").as("e_id"), col("text").as("e_text")),
            Seq("e_id"))
          .groupBy(col("t_id"))
          .agg(collect_list(col("e_text")).as("ev"))
        docs.filter(!isEval)
          .join(partners.withColumnRenamed("t_id", "doc_id"),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            size(toks(col("text"))).cast("long").as("n_tokens"),
            when(col("ev").isNull, lit(0L))
              .otherwise(graft.functions.SharedCoverage
                .sharedCoverage(col("text"), col("ev"), DecontamTokens))
              .as("n_eval_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("n_eval_tokens"),
            (col("n_eval_tokens").cast("double")
              / col("n_tokens").cast("double")).as("eval_frac"),
            (col("n_eval_tokens") * 1000L > col("n_tokens") * 50L)
              .cast("int").as("is_contaminated"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          FROM documents),
        ge AS (
          SELECT DISTINCT array_to_string(list_slice(w, i, i + 12), ' ') AS gram
          FROM (SELECT w, unnest(range(1, len(w) - 11)) AS i
                FROM tk WHERE doc_id % 20 = 0 AND len(w) >= 13) t1),
        gt AS (
          SELECT doc_id, i,
                 array_to_string(list_slice(w, i, i + 12), ' ') AS gram
          FROM (SELECT doc_id, w, unnest(range(1, len(w) - 11)) AS i
                FROM tk WHERE doc_id % 20 <> 0 AND len(w) >= 13) t2),
        sh AS (SELECT DISTINCT gt.doc_id, gt.i
               FROM gt JOIN ge USING (gram)),
        ord AS (
          SELECT doc_id, i,
                 max(i) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM sh),
        brk AS (
          SELECT doc_id, i,
                 CASE WHEN pmax IS NULL OR i > pmax + 13 THEN 1 ELSE 0 END AS nb
          FROM ord),
        isl AS (
          SELECT doc_id, i,
                 sum(nb) OVER (PARTITION BY doc_id ORDER BY i) AS island
          FROM brk),
        cov AS (
          SELECT doc_id, CAST(sum(mx - mn + 13) AS BIGINT) AS n_eval
          FROM (SELECT doc_id, island, min(i) AS mn, max(i) AS mx
                FROM isl GROUP BY doc_id, island) gi
          GROUP BY doc_id)
        SELECT tk.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(coalesce(cov.n_eval, 0) AS BIGINT) AS n_eval_tokens,
               CAST(coalesce(cov.n_eval, 0) AS DOUBLE)
                 / CAST(len(w) AS DOUBLE) AS eval_frac,
               CAST(coalesce(cov.n_eval, 0) * 1000 > len(w) * 50 AS INTEGER)
                 AS is_contaminated
        FROM tk LEFT JOIN cov USING (doc_id)
        WHERE tk.doc_id % 20 <> 0
        ORDER BY tk.doc_id"""),
      doc = "Span-fraction eval decontamination (GPT-3/PaLM 13-gram convention, 5% gate)."),

    // ------------------------------------------------------------------
    // q135: TRAINED QUALITY CLASSIFIER — the GPT-3-style learned quality
    // gate (Brown et al. 2005.14165 Appendix A trained curated-vs-raw
    // document classifiers; CCNet, Wenzek et al. 1911.00359): train a
    // linear classifier to tell curated sources from the rest on cheap
    // per-doc features, then score EVERY document — the learned
    // replacement for the hand-tuned q30 threshold gate and the model
    // the q118 quality-sampling stage would consume. Training is
    // [[QcRounds]] rounds of FULL-BATCH gradient descent, distributed:
    // the state is the per-doc feature frame (computed once, O(docs) ×
    // 5 columns, checkpointed); each round is one map-side-combinable
    // five-column aggregate whose output is ONE gradient row to the
    // driver (the q131 per-round-argmax MO — O(rounds) driver rows,
    // model parameters, never data); the O(d) weight update is driver
    // arithmetic and the final scoring pass is row-local. Cross-engine
    // determinism (what lets a TRAINED model sit under the hash gate at
    // all): the link is a RATIONAL sigmoid p = 0.5 + 0.5·m/(1+|m|) —
    // IEEE +,-,×,÷,abs only, bit-identical in any engine, never libm
    // exp (the q90 lesson: transcendentals are only 1-ulp portable
    // across libms); per-row gradient terms are floor-quantized to
    // integer micro-units BEFORE the sum, so the cross-partition fold
    // is exact integer arithmetic — order-independent under any
    // partitioning or merge tree — and the quantization is part of the
    // operator's DEFINED semantics (a quantized-gradient method), not
    // an approximation of some unquantized "truth". The oracle unrolls
    // every round CTE-for-CTE (the q131/q43 replay MO), value-pinning
    // the whole training TRAJECTORY, not just the final scores.
    Q("q135_quality_classifier",
      (s, dir) => qualityClassifier(t(s, dir, "documents"), QcRounds),
      Some(qcOracleSql(QcRounds, QcTrioSql)),
      doc = "Trained quality classifier: full-batch quantized-gradient descent, one gradient row per round; rational sigmoid keeps the trained model cross-engine exact."),

    // ------------------------------------------------------------------
    // q136: CLASSIFIER-PARETO CORPUS SAMPLING — the step GPT-3 actually
    // ran with its trained quality classifier (Brown et al. 2005.14165
    // Appendix A): keep a document iff a Pareto(α) draw exceeds
    // 1 − score, which retains most high-scoring docs while keeping a
    // long tail of low-scoring ones (out-of-distribution coverage a
    // hard threshold destroys). Draw determinism: u comes from the low
    // decimal digits of the affine61-permuted POLYHASH of the id string
    // (see paretoSample's scaladoc for why a bare affine's high bits
    // are NOT uniform over consecutive ids), on q136's OWN constant
    // family — a pure function of the row, independent of partitioning,
    // cluster size, and the q73/q118/q124 sampling decisions. Exactness:
    // "pareto(α) = u^(−1/α) − 1 > 1 − p" needs a fractional pow (libm,
    // not portable) — but raising both sides to the α-th power gives
    // the EQUIVALENT integer-power test u·(2−p)^α < 1, and with α = 9
    // (GPT-3's published value) (2−p)^9 is a fixed multiplication
    // chain: rational IEEE ops only, bit-identical in any engine. The
    // operator is DEFINED by that op-for-op form (the two algebraic
    // forms round differently at the boundary; both engines compute
    // the same one). Composes q135 end-to-end: train (O(rounds) driver
    // rows) → row-local score → row-local draw+filter; at 100 TB the
    // whole sampler is one map stage over the corpus scan, no shuffle
    // before the output sort. The oracle replays training CTE-for-CTE
    // and the draw op-for-op.
    Q("q136_classifier_pareto_sample",
      (s, dir) => paretoSample(t(s, dir, "documents"), QcRounds),
      Some(qcParetoOracleSql(QcRounds, QcTrioSql)),
      doc = "GPT-3 classifier-Pareto sampling (keep iff pareto(9) > 1 - score), exact via the integer-power form u*(2-p)^9 < 1."),

    // ------------------------------------------------------------------
    // q137: PRODUCTION-FEATURE QUALITY CLASSIFIER — q135's trainer on
    // the feature set a deployed gate actually runs (the CCNet/GPT-3
    // MO): the cheap trio PLUS q28's quality stats (punctuation ratio,
    // stopword ratio — crawl-noise signals) and a q31 lang-id agreement
    // indicator (predicted vs labeled language: a metadata-trust
    // signal; mislabeled-language docs are a known crawl-quality
    // failure). Every added feature keeps the cross-engine exactness
    // contract that lets a TRAINED model sit under the hash gate:
    // single IEEE divisions of exact integer counts (punct/stopword —
    // proven bit-identical at three scales by q28's hash-green ratios)
    // or a {0,1} indicator (lang match — proven by q31). The
    // trainer/scorer/oracle machinery is SHARED with q135, generalized
    // over dimensionality (k from the feature frame; w/g CTE widths
    // and the margin fold from ONE SQL list), so the trio and full
    // entries provably train through identical logic. Scale posture is
    // q135's: featurize is one fused row-local pass (textStats +
    // langIdFused + one regex — no extra scan, no shuffle), training
    // is O(rounds) map-side-combinable aggregates emitting ONE gradient
    // row each, scoring is row-local with the weights inlined.
    Q("q137_classifier_full",
      (s, dir) => qualityClassifierFull(t(s, dir, "documents"), QcRounds),
      Some(qcOracleSql(QcRounds, QcFullSql)),
      doc = "Quality classifier on the production feature set (trio + punct/stopword ratios + lang-id agreement), same quantized-gradient trainer generalized over k.")
  ) ++ histQuantileQueries ++ weightedHistQuantileQueries ++
    bottomKQuantileQueries ++ weightedBottomKQueries ++ frozenDeployQueries

  /** q139: HISTOGRAM QUANTILE SKETCH — the mergeable SCALE path for
    * percentiles that, unlike `approx_percentile`'s t-digest (engine-
    * specific internals, so its twin [[percentilesApprox]] is bench-only),
    * is fully deterministic and oracle-replayable: the sketch state is a
    * fixed-width equi-depth histogram ([[HistBins]] integer-cent bins
    * between each group's exact min/max), every cell a pure SUM — a pure
    * function of the input multiset, like q138's Count-Min matrix.
    *
    * Algorithm (two full scans, the classic sampled-sort shape):
    * pass 1 computes per-group (min, max, n) — three scalars per group;
    * pass 2 bins each row by exact integer arithmetic
    * `((c − minc)·B) div span` and counts — after map-side combine only
    * ≤ B rows per group cross the shuffle, vs q53's exact form which
    * buffers EVERY group value in one aggregation buffer (the thing
    * that dies first at 100 TB). The estimate interpolates inside the
    * first bin whose cumulative count reaches q·n — the bin that, by
    * construction, contains the ⌈q·n⌉-th order statistic (the type-1 /
    * percentile_disc quantile) — so the error is STRUCTURALLY ≤ one bin
    * width against that exact order statistic: both values lie in
    * [lo(b), hi(b)]. Emitted as `err_bound_cents` so the answer carries
    * its own guarantee (HistQuantilesSpec pins |est − exact-disc| ≤
    * bound per group×q; the continuous quantile_cont value can sit up
    * to one inter-sample GAP further on sparse data, which no
    * value-binned histogram can bound).
    *
    * Determinism/totality discipline: all arithmetic is integer cents
    * (decimal(12,2)·100 is exact), `div`//`//` on non-negative operands
    * (truncation == floor on both engines), and the one product that
    * can exceed long range at extreme scale — width·num, bounded by
    * (span/B)·100·N — runs in decimal(38,0)/HUGEINT with an exact
    * remainder-subtract division, per the IdSum overflow discipline.
    * Window functions are over ≤ B rows per group (bounded, allowed).
    */
  private def histQuantileQueries: Seq[Q] = Seq(
    Q("q139_hist_quantiles",
      (s, dir) => {
        // dec() first: the raw double ×100 is NOT the integer it looks
        // like (Spark's cast truncates, DuckDB's rounds — ~5.6% of rows
        // diverge by a cent); decimal(12,2)·100 is exact on both engines
        val v = t(s, dir, "lineitem")
          .filter(col("l_extendedprice").isNotNull)
          .select(col("l_returnflag"),
            (dec(col("l_extendedprice")) * lit(100)).cast("long").as("c"))
        // r14: checkpoint the O(groups) bounds frame — it is broadcast
        // twice (bin join + quantile selection) and without the
        // materialization the second broadcast re-ran the full
        // min/max/count pass over the table (three parquet scans in
        // the r14 before-plan; now the two-pass minimum the sketch's
        // doc promises)
        val b = v.groupBy(col("l_returnflag"))
          .agg(min(col("c")).as("minc"), max(col("c")).as("maxc"),
            count(lit(1)).as("n"))
          .withColumn("span", col("maxc") - col("minc") + lit(1L))
          .localCheckpoint()
        val h = v.join(broadcast(b), Seq("l_returnflag"))
          .withColumn("bin", expr(s"((c - minc) * $HistBins) div span"))
          .groupBy(col("l_returnflag"), col("bin"))
          .agg(count(lit(1)).as("cnt"))
        // cumulative counts: ≤ HistBins rows per group — bounded window
        val cum = h.withColumn("cum", sum(col("cnt"))
          .over(Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))))
        val first = cum.join(broadcast(b), Seq("l_returnflag"))
          .withColumn("q", explode(array(HistQs.map(lit(_)): _*)))
          .filter(expr("100L * cum >= q * n"))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("l_returnflag"), col("q")).orderBy(col("bin"))))
          .filter(col("rn") === 1)
        val est = first
          .withColumn("lo", expr(s"minc + (bin * span) div $HistBins"))
          .withColumn("hi", expr(s"minc + ((bin + 1) * span) div $HistBins"))
          // num ∈ (0, den]: bin is the FIRST with 100·cum ≥ q·n, so the
          // previous cumulative is strictly below the target
          .withColumn("num", expr("q * n - 100L * (cum - cnt)"))
          .withColumn("den", expr("100L * cnt"))
          .withColumn("wq", expr("CAST(hi - lo AS DECIMAL(38,0)) * num"))
          // exact integer division: wq − wq%den is divisible by den, so
          // the decimal divide is a representation no-op (value exact)
          .withColumn("e", expr("lo + CAST((wq - wq % den) / den AS LONG)"))
        est.groupBy(col("l_returnflag"))
          .agg(max(col("n")).as("n"),
            max(expr(s"(span div $HistBins) + 1L")).as("err_bound_cents"),
            max(when(col("q") === 25, col("e"))).as("p25_cents"),
            max(when(col("q") === 50, col("e"))).as("p50_cents"),
            max(when(col("q") === 75, col("e"))).as("p75_cents"),
            max(when(col("q") === 95, col("e"))).as("p95_cents"))
          .orderBy(col("l_returnflag"))
      },
      Some(histQuantOracleSql),
      doc = "Mergeable fixed-bin histogram quantile sketch (integer-cent bins, <=B rows shuffled per group); error bound emitted with the estimates.")
  )

  /** q148: WEIGHTED histogram quantiles — the weight-biased member of
    * the quantile family (q139 = unweighted known-domain, q141 =
    * unweighted unknown-domain, q148 = weighted known-domain), the
    * NOTES r12 candidate. Answers "the median price per UNIT SOLD":
    * the smallest value v whose cumulative weight reaches q·W — each
    * row contributes its l_quantity, not 1, so a 50-unit line moves
    * the quantile 50× more than a single-unit line. Identical
    * two-pass sketch shape as q139 with every COUNT replaced by a SUM
    * of integer weight units (quantity-cents, the same decimal route
    * as the values — a weight is data too and gets the same
    * exactness/totality treatment): pass 1 per-group (min, max, W);
    * pass 2 bins weight mass; the estimate interpolates inside the
    * first bin whose cumulative weight reaches q·W, so the error
    * against the exact weighted type-1 quantile is structurally ≤ one
    * bin width (both lie in the same bin — emitted as
    * `err_bound_cents`, WeightedHistQuantilesSpec pins it). State is
    * still ≤ B SUM cells per group — a pure function of the input
    * multiset, mergeable, ≤ B rows crossing the shuffle after
    * map-side combine.
    *
    * Overflow audit (the IdSum discipline): w ≤ 5000 quantity-cents
    * per row ⇒ W ≤ 5·10¹⁵ even at 10¹² rows; 100·cum and q·W stay
    * under 10¹⁸; the one product that can exceed long range —
    * binwidth·num — runs in decimal(38,0)/HUGEINT with the exact
    * remainder-subtract division, exactly as q139.
    * Weights must be POSITIVE to carry quantile mass: w NULL (hostile
    * non-finite quantity through the guarded decimal route) or w ≤ 0
    * rows are excluded on BOTH engines.
    */
  private def weightedHistQuantileQueries: Seq[Q] = Seq(
    Q("q148_weighted_quantiles",
      (s, dir) => {
        val v = t(s, dir, "lineitem")
          .filter(col("l_extendedprice").isNotNull)
          .select(col("l_returnflag"),
            (dec(col("l_extendedprice")) * lit(100)).cast("long").as("c"),
            (dec(col("l_quantity")) * lit(100)).cast("long").as("w"))
          .filter(col("c").isNotNull && col("w") > 0)
        // r14: same as q139 — the twice-broadcast bounds frame is
        // checkpointed so the second broadcast doesn't re-run the
        // full-table bounds pass (scans 3 → the two-pass minimum)
        val b = v.groupBy(col("l_returnflag"))
          .agg(min(col("c")).as("minc"), max(col("c")).as("maxc"),
            sum(col("w")).as("wtot"))
          .withColumn("span", col("maxc") - col("minc") + lit(1L))
          .localCheckpoint()
        val h = v.join(broadcast(b), Seq("l_returnflag"))
          .withColumn("bin", expr(s"((c - minc) * $HistBins) div span"))
          .groupBy(col("l_returnflag"), col("bin"))
          .agg(sum(col("w")).as("binw"))
        val cum = h.withColumn("cum", sum(col("binw"))
          .over(Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))))
        val first = cum.join(broadcast(b), Seq("l_returnflag"))
          .withColumn("q", explode(array(HistQs.map(lit(_)): _*)))
          .filter(expr("100L * cum >= q * wtot"))
          .withColumn("rn", row_number().over(Window
            .partitionBy(col("l_returnflag"), col("q")).orderBy(col("bin"))))
          .filter(col("rn") === 1)
        val est = first
          .withColumn("lo", expr(s"minc + (bin * span) div $HistBins"))
          .withColumn("hi", expr(s"minc + ((bin + 1) * span) div $HistBins"))
          .withColumn("num", expr("q * wtot - 100L * (cum - binw)"))
          .withColumn("den", expr("100L * binw"))
          .withColumn("wq", expr("CAST(hi - lo AS DECIMAL(38,0)) * num"))
          .withColumn("e", expr("lo + CAST((wq - wq % den) / den AS LONG)"))
        est.groupBy(col("l_returnflag"))
          .agg(max(col("wtot")).as("w_total"),
            max(expr(s"(span div $HistBins) + 1L")).as("err_bound_cents"),
            max(when(col("q") === 25, col("e"))).as("p25_cents"),
            max(when(col("q") === 50, col("e"))).as("p50_cents"),
            max(when(col("q") === 75, col("e"))).as("p75_cents"),
            max(when(col("q") === 95, col("e"))).as("p95_cents"))
          .orderBy(col("l_returnflag"))
      },
      Some(weightedHistQuantOracleSql),
      doc = "Weighted fixed-bin histogram quantiles (quantity-weighted price percentiles - the weight-biased quantile member); error bound emitted with the estimates.")
  )

  /** The q148 oracle: q139's replay with every COUNT replaced by the
    * integer weight-unit SUM — same bins, same first-bin selection,
    * same HUGEINT in-bin interpolation.
    */
  private def weightedHistQuantOracleSql: String = {
    val qvals = HistQs.map(q => s"($q)").mkString(", ")
    s"""WITH v AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS w
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
          AND CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) > 0),
      b AS (
        SELECT l_returnflag, min(c) AS minc, max(c) AS maxc,
               CAST(sum(w) AS BIGINT) AS wtot,
               max(c) - min(c) + 1 AS span
        FROM v GROUP BY l_returnflag),
      h AS (
        SELECT v.l_returnflag, ((c - minc) * $HistBins) // span AS bin,
               CAST(sum(w) AS BIGINT) AS binw
        FROM v JOIN b USING (l_returnflag) GROUP BY v.l_returnflag, bin),
      cum AS (
        SELECT l_returnflag, bin, binw,
               sum(binw) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum
        FROM h),
      firsts AS (
        SELECT cum.l_returnflag, q, bin, binw, cum.cum AS cum, wtot, minc, span,
               row_number() OVER (PARTITION BY cum.l_returnflag, q
                                  ORDER BY bin) AS rn
        FROM cum JOIN b USING (l_returnflag), (VALUES $qvals) AS t(q)
        WHERE 100 * cum >= q * wtot),
      est AS (
        SELECT l_returnflag, q, wtot, span,
               minc + (bin * span) // $HistBins AS lo,
               minc + ((bin + 1) * span) // $HistBins AS hi,
               q * wtot - 100 * (cum - binw) AS num,
               100 * binw AS den
        FROM firsts WHERE rn = 1),
      fin AS (
        SELECT l_returnflag, q, wtot, span,
               lo + CAST((CAST(hi - lo AS HUGEINT) * num) // den AS BIGINT) AS e
        FROM est)
      SELECT l_returnflag, max(wtot) AS w_total,
             CAST(max(span // $HistBins + 1) AS BIGINT) AS err_bound_cents,
             max(CASE WHEN q = 25 THEN e END) AS p25_cents,
             max(CASE WHEN q = 50 THEN e END) AS p50_cents,
             max(CASE WHEN q = 75 THEN e END) AS p75_cents,
             max(CASE WHEN q = 95 THEN e END) AS p95_cents
      FROM fin GROUP BY l_returnflag ORDER BY l_returnflag"""
  }

  /** q141: BOTTOM-K RANK-ERROR QUANTILE SKETCH — the unknown-value-
    * domain member of the quantile family ([[graft.functions.BottomK]];
    * Cohen-Kaplan bottom-k sampling + the DKW rank bound). q139's
    * histogram needs the group's (min, max) up front — a whole extra
    * pass, and its error is a VALUE-width bound that degenerates when
    * the domain is wild; the bottom-k sketch needs NO domain knowledge:
    * hash each row id with a dedicated MulMod61 permutation, keep the k
    * smallest (hash, value) pairs per group (one pass, mergeable,
    * ≤ 16 KB crossing the shuffle per partition per group after
    * map-side combine), and read quantiles off the kept values' order
    * statistics. The emitted `eps_rank_ppm` is the DKW/Massart
    * guarantee: with probability ≥ 1−δ every estimate's true rank is
    * within ε·n of its target — and a group with n ≤ k rows keeps
    * EVERYTHING, so its quantiles are exact (BottomKQuantilesSpec pins
    * both, plus partitioning-invariance).
    *
    * Why not GK/KLL: their summaries depend on insertion/merge order,
    * which Spark does not fix — state here must be a pure function of
    * the input multiset to sit under the exact cross-engine oracle
    * (GK mergeability is open, derandomized-KLL is merge-tree-
    * dependent — see BottomK's scaladoc). DuckDB rebuilds the identical
    * sample relationally: `row_number() OVER (ORDER BY h, c) <= k`.
    *
    * Determinism: the row hash is over the DIGIT STRING of
    * (l_orderkey, l_linenumber) — hashing the string sidesteps the
    * packed-long overflow class TotalitySweep row `adv_id` caught in q114
    * (never fold raw ids through long arithmetic); values are exact
    * integer cents (the q139 decimal route); the type-1 sample index
    * ⌈q·m/100⌉ is integer `div` on non-negative operands.
    */
  private def bottomKQuantileQueries: Seq[Q] = Seq(
    Q("q141_bottomk_quantiles",
      (s, dir) => {
        import graft.functions.{Affine61, BottomK, PolyHash61Str}
        // gate the hash on the CENTS being non-null, not just the raw
        // price: a non-finite price survives isNotNull but nulls out of
        // the decimal route, and a (h, NULL) pair would reach the UDAF's
        // primitive input as (h, 0) — a silent bogus sample value on a
        // dirty feed. The -1 sentinel skips the row instead (the stream
        // face's convention). Inert on gate data (all prices finite).
        val cents = (dec(col("l_extendedprice")) * lit(100)).cast("long")
        val v = t(s, dir, "lineitem")
          .filter(col("l_extendedprice").isNotNull)
          .select(col("l_returnflag"),
            cents.as("c"),
            when(cents.isNotNull, Affine61.affine61(
              PolyHash61Str.polyHash61Str(
                concat_ws("-", col("l_orderkey"), col("l_linenumber"))),
              BottomK.bkA, BottomK.bkB)).otherwise(lit(-1L)).as("h"))
        val sk = v.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            BottomK.bottomK(col("h"), col("c"), BkK).as("vals"))
          .withColumn("m", size(col("vals")).cast("long"))
        // order-statistic reads over the ≤k-long sample array — bounded
        // per-group work, the q139 "window over ≤B rows" dispensation.
        // m > 0 guard: a group whose every price is non-finite has an
        // empty sample (all cents NULL ⇒ all hashes the -1 sentinel),
        // and ⌈q·0/100⌉ = 0 would throw INVALID_INDEX_OF_ZERO — emit
        // NULL quantiles instead (the stream face's convention; the
        // oracle's max(CASE...) already yields NULL there)
        val qcols = HistQs.map(q =>
          when(col("m") > 0,
            expr(s"element_at(vals, CAST(($q * m + 99) DIV 100 AS INT))"))
            .as(s"p${q}_cents"))
        sk.select(Seq(col("l_returnflag"), col("n"), col("m"),
            lit(BkEpsPpm).as("eps_rank_ppm")) ++ qcols: _*)
          .orderBy(col("l_returnflag"))
      },
      Some(bottomKOracleSql),
      doc = "Mergeable bottom-k rank-error quantile sketch (hash-derandomized uniform sample, no value-domain assumption); DKW bound emitted with the estimates.")
  )

  /** q151: WEIGHTED BOTTOM-K QUANTILE SKETCH — the quantile family's
    * last empty cell (q139 = unweighted known-domain, q148 = weighted
    * known-domain, q141 = unweighted unknown-domain, q151 = WEIGHTED
    * unknown-domain): quantity-weighted price percentiles with NO
    * domain knowledge, one pass, fixed state. Machinery is q124's A-ES
    * key (Efraimidis–Spirakis weight-biased priority, ln(u)/w in log
    * space — ONE MathLn call per row, quantized ⌊·1e4⌋·100 so the
    * selected SET is identical across engines despite 1-ulp libm ln
    * drift) feeding q141's pair-sketch shape generalized to carry the
    * weight along: [[graft.functions.WeightedBottomK]] keeps the k
    * smallest (key, value, weight) triples per group — mergeable,
    * multiset-determined, ≤24 KB crossing the shuffle per partition
    * per group after map-side combine (Round14Props pins fold+merge ==
    * the weighted k-smallest of the multiset).
    *
    * Estimator — TWO documented branches, chosen by saturation:
    *   - m = n (the group fits in k, nothing dropped): the sample IS
    *     the population, so the weighted quantile is computed EXACTLY —
    *     smallest value whose cumulative weight reaches q·W (the q148
    *     type-1 weighted definition).
    *   - m < n (saturated): A-ES inclusion is weight-proportional
    *     (PPSWOR), so the weighted rank of the population is tracked by
    *     the plain UNWEIGHTED order statistics of the sample — the
    *     standard "PPS-sample then uniform read" estimator; reading the
    *     sample's raw-weight cumsum instead would weight heavy rows
    *     TWICE (once in inclusion, once in mass).
    * No rank-error bound is emitted: there is no clean DKW analogue for
    * weight-biased sampling without replacement (the trade is
    * documented in WeightedBottomK's scaladoc, the q141 GK/KLL MO).
    * WeightedBottomKQuantilesSpec pins the exact branch, partitioning
    * invariance, and sanity vs q148's exact-weighted twin.
    *
    * Determinism: value and weight ride the q139/q148 integer routes
    * (price cents / quantity cents through the range-guarded decimal
    * cast); rows with NULL cents or non-positive weight are excluded on
    * BOTH engines (a weight must be positive to carry mass — the q148
    * rule); ties at the k-boundary break by (value, weight), fully tied
    * triples are interchangeable. DuckDB rebuilds the identical sample
    * with `row_number() OVER (ORDER BY nk, c, w) <= k` and replays both
    * estimator branches relationally.
    */
  private def weightedBottomKQueries: Seq[Q] = Seq(
    Q("q151_weighted_bottomk_quantiles",
      (s, dir) => {
        import graft.functions.{Affine61, PolyHash61Str, WeightedBottomK}
        val cents = (dec(col("l_extendedprice")) * lit(100)).cast("long")
        val wq = (dec(col("l_quantity")) * lit(100)).cast("long")
        val keyed = t(s, dir, "lineitem")
          .select(col("l_returnflag"), cents.as("c"), wq.as("w"),
            col("l_orderkey"), col("l_linenumber"))
          .filter(col("c").isNotNull && col("w") > 0)
          .withColumn("nk", WeightedBottomK.aesKey(
            Affine61.affine61(
              PolyHash61Str.polyHash61Str(
                concat_ws("-", col("l_orderkey"), col("l_linenumber"))),
              WeightedBottomK.wbA, WeightedBottomK.wbB),
            col("w").cast("double") / lit(100.0)))
        val sk = keyed.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(col("w")).as("w_total"),
            WeightedBottomK.weightedBottomK(
              col("nk"), col("c"), col("w"), WbK).as("vw"))
          .withColumn("m", size(col("vw")).cast("long"))
          .withColumn("ws_kept",
            expr("aggregate(vw, CAST(0 AS BIGINT), (acc, x) -> acc + x._2)"))
        // order-statistic + cumulative-weight reads over the ≤k-long
        // sample — posexplode of a bounded array then a window over ≤k
        // rows per group, the q139 "window over ≤B rows" dispensation.
        // Every group has m ≥ 1 (rows are pre-filtered, so each group
        // contributed at least one triple): posexplode never drops one.
        val ex = sk
          .select(col("l_returnflag"), col("n"), col("w_total"), col("m"),
            col("ws_kept"), posexplode(col("vw")))
          .select(col("l_returnflag"), col("n"), col("w_total"), col("m"),
            col("ws_kept"), col("pos").cast("long").as("pos"),
            col("col._1").as("v"), col("col._2").as("w"))
          .withColumn("cw", sum(col("w")).over(
            Window.partitionBy(col("l_returnflag")).orderBy(col("pos"))))
        val reads = HistQs.flatMap { q =>
          Seq(
            min(when(col("cw") * lit(100L) >= lit(q.toLong) * col("ws_kept"),
              col("v"))).as(s"ex$q"),
            max(when(col("pos") + lit(1L) ===
              expr(s"CAST(($q * m + 99) DIV 100 AS BIGINT)"),
              col("v"))).as(s"st$q"))
        }
        val agg = ex.groupBy(col("l_returnflag"), col("n"), col("w_total"),
            col("m"), col("ws_kept"))
          .agg(reads.head, reads.tail: _*)
        val qcols = HistQs.map(q =>
          when(col("m") === col("n"), col(s"ex$q"))
            .otherwise(col(s"st$q")).as(s"p${q}_cents"))
        agg.select(Seq(col("l_returnflag"), col("n"), col("m"),
            col("w_total"), col("ws_kept")) ++ qcols: _*)
          .orderBy(col("l_returnflag"))
      },
      Some(weightedBottomKOracleSql),
      doc = "Weighted bottom-k quantile sketch (A-ES weight-biased priorities, PPSWOR): quantity-weighted price percentiles, no domain knowledge, one pass; exact when the group fits in k, PPS uniform order-statistic read when saturated (no DKW analogue for weighted WOR - documented).")
  )

  /** The q151 oracle: rebuild the identical weighted sample
    * relationally — same A-ES key op-for-op (same hash constants, same
    * ln/quantize tree), k smallest (nk, c, w) rows per group via
    * row_number — then replay BOTH estimator branches: the exact
    * cumulative-weight read when the group fit in k, the uniform
    * ⌈q·m/100⌉ order-statistic read when saturated. The cumulative sum
    * orders by (c, w); peer rows are fully tied triples, so which peer
    * crosses the threshold first is value-invisible on both engines.
    */
  private def weightedBottomKOracleSql: String = {
    import graft.functions.{MulMod61, WeightedBottomK}
    val qsel = HistQs.map(q =>
      s"""CASE WHEN max(m) = max(n)
             THEN min(CASE WHEN cw * 100 >= $q * ws_kept THEN c END)
             ELSE max(CASE WHEN sr = ($q * m + 99) // 100 THEN c END)
           END AS p${q}_cents""")
      .mkString(",\n             ")
    s"""WITH raw AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
               CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS w,
               CAST((${WeightedBottomK.wbA}::HUGEINT
                     * ${MulMod61.sqlPh61("concat(l_orderkey, '-', l_linenumber)")}
                     + ${WeightedBottomK.wbB}) % ${MulMod61.P} AS BIGINT) AS h
        FROM lineitem),
      v AS (
        SELECT l_returnflag, c, w,
               -(CAST(floor(
                   ln(CAST(h + 1 AS DOUBLE) / CAST(${MulMod61.P} AS DOUBLE))
                   / (CAST(w AS DOUBLE) / 100.0) * 1e4) AS BIGINT) * 100) AS nk
        FROM raw WHERE c IS NOT NULL AND w > 0),
      s AS (
        SELECT l_returnflag, c, w,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY nk, c, w) AS rn,
               CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n,
               CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS w_total
        FROM v),
      kk AS (SELECT l_returnflag, c, w, n, w_total FROM s WHERE rn <= $WbK),
      o AS (
        SELECT l_returnflag, c, w, n, w_total,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY c, w) AS sr,
               CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS m,
               CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS ws_kept,
               CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY c, w
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
        FROM kk)
      SELECT l_returnflag, max(n) AS n, max(m) AS m,
             max(w_total) AS w_total, max(ws_kept) AS ws_kept,
             $qsel
      FROM o GROUP BY l_returnflag ORDER BY l_returnflag"""
  }

  /** The q141 oracle: rebuild the identical sample relationally — same
    * id-string hash, k smallest (h, c) rows per group via row_number,
    * then the same ⌈q·m/100⌉ order-statistic reads. Ties at the
    * k-boundary are pair-identical (same h ⇒ same hashed id string;
    * same c), so WHICH tied row survives is value-invisible on both
    * engines.
    */
  private def bottomKOracleSql: String = {
    import graft.functions.{BottomK, MulMod61}
    val qsel = HistQs.map(q =>
      s"max(CASE WHEN sr = ($q * m + 99) // 100 THEN c END) AS p${q}_cents")
      .mkString(",\n             ")
    s"""WITH v AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
               CAST((${BottomK.bkA}::HUGEINT
                     * ${MulMod61.sqlPh61("concat(l_orderkey, '-', l_linenumber)")}
                     + ${BottomK.bkB}) % ${MulMod61.P} AS BIGINT) AS h
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      s AS (
        SELECT l_returnflag, c,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY h, c) AS rn,
               CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        FROM v),
      kk AS (SELECT l_returnflag, c, n FROM s WHERE rn <= $BkK),
      o AS (
        SELECT l_returnflag, c, n,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY c) AS sr,
               CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS m
        FROM kk)
      SELECT l_returnflag, max(n) AS n, max(m) AS m,
             CAST($BkEpsPpm AS BIGINT) AS eps_rank_ppm,
             $qsel
      FROM o GROUP BY l_returnflag ORDER BY l_returnflag"""
  }

  /** q143: FROZEN-WEIGHTS DEPLOYMENT — train-once/deploy-many closed
    * under the oracle. q136 deliberately RETRAINS in-query (gate
    * queries are stateless by the q121 standalone convention); a
    * production pipeline trains once, freezes the weights as an
    * artifact, and every serving face applies that artifact —
    * [[graft.streaming.DocStream.scoreStream]] already demonstrates it
    * in specs; q143 puts it under the DuckDB gate. The checkpoint is
    * [[DeployWmu]] (µ-unit integers — the persisted-artifact MO applied
    * to the model; provenance in its scaladoc); scoring and acceptance
    * run through the SAME [[qcProb]]/[[qcMargin]]/[[paretoDraw]]
    * expressions as q135/q136 and the same featurizer as q137, so the
    * trained, sampled, and deployed paths provably share one
    * definition — and the oracle side shares [[paretoDrawSelectSql]]
    * with q136's oracle the same way. Fully row-local: one map over the
    * corpus scan, no training jobs, no collect — the O(batch) learned
    * gate `CorpusPrep.ingestBatch` runs, as a registry query
    * (QualityClassifierSpec pins q143 == paretoApply == the scoreWith
    * serve face on the same weights).
    */
  private def frozenDeployQueries: Seq[Q] = Seq(
    Q("q143_frozen_deploy",
      (s, dir) => {
        val feat = qcFullFeatures(t(s, dir, "documents"))
        val p = qcProb(qcMargin(DeployW))
        val (umu, kept) = paretoDraw(p)
        feat.select(col("doc_id"),
            floor(p * lit(1000000.0)).as("smu"),
            umu.as("umu"),
            kept.as("kept"))
          .orderBy(col("doc_id"))
      },
      Some(frozenDeployOracleSql),
      doc = "Frozen-checkpoint model deployment: score + Pareto-sample with persisted u-unit weights, no training pass; shares the draw/scoring definitions with q135/q136/q137.")
  )

  /** The q139 oracle: the identical two-pass histogram, relationally —
    * same integer-cent bins, same first-bin selection, same in-bin
    * interpolation with HUGEINT for the width·num product (`//` and
    * Spark's `div` agree on the non-negative operands used here; DuckDB
    * window sums promote to HUGEINT, harmless under the comparisons).
    */
  private def histQuantOracleSql: String = {
    val qvals = HistQs.map(q => s"($q)").mkString(", ")
    s"""WITH v AS (
        SELECT l_returnflag,
               CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      b AS (
        SELECT l_returnflag, min(c) AS minc, max(c) AS maxc,
               CAST(count(*) AS BIGINT) AS n,
               max(c) - min(c) + 1 AS span
        FROM v GROUP BY l_returnflag),
      h AS (
        SELECT v.l_returnflag, ((c - minc) * $HistBins) // span AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM v JOIN b USING (l_returnflag) GROUP BY v.l_returnflag, bin),
      cum AS (
        SELECT l_returnflag, bin, cnt,
               sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum
        FROM h),
      firsts AS (
        SELECT cum.l_returnflag, q, bin, cnt, cum.cum AS cum, n, minc, span,
               row_number() OVER (PARTITION BY cum.l_returnflag, q
                                  ORDER BY bin) AS rn
        FROM cum JOIN b USING (l_returnflag), (VALUES $qvals) AS t(q)
        WHERE 100 * cum >= q * n),
      est AS (
        SELECT l_returnflag, q, n, span,
               minc + (bin * span) // $HistBins AS lo,
               minc + ((bin + 1) * span) // $HistBins AS hi,
               q * n - 100 * (cum - cnt) AS num,
               100 * cnt AS den
        FROM firsts WHERE rn = 1),
      fin AS (
        SELECT l_returnflag, q, n, span,
               lo + CAST((CAST(hi - lo AS HUGEINT) * num) // den AS BIGINT) AS e
        FROM est)
      SELECT l_returnflag, max(n) AS n,
             CAST(max(span // $HistBins + 1) AS BIGINT) AS err_bound_cents,
             max(CASE WHEN q = 25 THEN e END) AS p25_cents,
             max(CASE WHEN q = 50 THEN e END) AS p50_cents,
             max(CASE WHEN q = 75 THEN e END) AS p75_cents,
             max(CASE WHEN q = 95 THEN e END) AS p95_cents
      FROM fin GROUP BY l_returnflag ORDER BY l_returnflag"""
  }

  /** q136 end-to-end: train the q135 classifier, then the row-local
    * Pareto(9) acceptance draw — keep iff u·(2−p)⁹ < 1 (see the q136
    * registry comment for the algebra and determinism argument).
    *
    * The uniform u is the LOW six decimal digits of the affine-permuted
    * POLYHASH of the id string (the q73 low-bits convention over the
    * q88 KMV mixer), NOT the affine permutation's high bits: on the
    * CONSECUTIVE ids every real table has, a bare affine draw
    * h = (a·x + b) mod p is an arithmetic progression, so its high
    * bits u = h/p step by the constant a/p — a few hundred consecutive
    * even ids land in one narrow band and their acceptance rate bears
    * no relation to u's nominal uniformity (caught by
    * QualityClassifierSpec's fixture: 0 of 200 curated docs kept at a
    * 3.4% nominal rate). Hashing the id's digit string first breaks
    * the progression; taking low digits guards the residual structure
    * the same way every q73-family sampler does.
    */
  private[graft] def paretoSample(docs: DataFrame, rounds: Int,
      fullFeatures: Boolean = false): DataFrame = {
    val feat = (if (fullFeatures) qcFullFeatures(docs) else qcFeatures(docs))
      .localCheckpoint()
    val w = qcTrain(feat, rounds)
    val p = qcProb(qcMargin(w))
    val (umu, kept) = paretoDraw(p)
    feat.select(col("doc_id"),
        floor(p * lit(1000000.0)).as("smu"),
        umu.as("umu"),
        kept.as("kept"))
      .orderBy(col("doc_id"))
  }

  /** The q136 acceptance draw over an unquantized score column `p`:
    * (umu, kept) where kept ⇔ u·(2−p)⁹ < 1 with u the low six decimal
    * digits of the affine-permuted polyhash of the id string (see the
    * [[paretoSample]] doc for why the mixer + low bits, never affine
    * high bits). Factored so the trained path (q136) and the
    * frozen-deployment path ([[paretoApply]]) provably run the SAME
    * draw expression.
    */
  private def paretoDraw(p: org.apache.spark.sql.Column) = {
    import graft.functions.Affine61.{affine61, parA, parB}
    import graft.functions.PolyHash61Str.polyHash61Str
    val umu = affine61(polyHash61Str(col("doc_id").cast("string")),
      parA, parB) % lit(1000000L)
    val u = (umu.cast("double") + lit(0.5)) / lit(1000000.0) // u ∈ (0,1)
    val t0 = lit(2.0) - p
    val t2 = t0 * t0
    val t4 = t2 * t2
    val t9 = (t4 * t4) * t0
    (umu, (u * t9 < lit(1.0)).cast("long"))
  }

  /** Frozen-model Pareto sampling — [[paretoSample]]'s deployment
    * counterpart (the [[scoreWith]] MO applied to the q136 draw): score
    * `docs` with an offline-trained weight vector and run the SAME
    * acceptance draw, with no training pass. The weight DIMENSION
    * selects the featurizer (4 → trio, 7 → q137 production set), so a
    * richer deployed gate is a weights swap. Fully row-local — one map
    * over the scan, which is what lets `CorpusPrep.ingestBatch` run the
    * learned gate per batch at O(batch).
    */
  private[graft] def paretoApply(docs: DataFrame, w: Array[Double]): DataFrame = {
    val feat = w.length match {
      case 4 => qcFeatures(docs)
      case 7 => qcFullFeatures(docs)
      case k => throw new IllegalArgumentException(
        s"frozen weight vector has ${k} dims; trained models are 4 (trio) or 7 (full)")
    }
    val (_, kept) = paretoDraw(qcProb(qcMargin(w)))
    feat.select(col("doc_id"), kept.as("kept"))
  }

  /** Per-doc features + weak label for q135. Every feature is a single
    * IEEE division of exact integers (token count / 256, type-token
    * ratio, mean token length / 8), so the doubles are bit-identical
    * across engines with no fold-order concern. Total on hostile
    * inputs: text coalesced to '', token divisor floored at 1, NULL
    * source labels 0.
    */
  private[graft] def qcFeatures(docs: DataFrame): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val tks = toks(txt)
    val ntok = size(tks)
    val ntg = greatest(ntok, lit(1)).cast("double")
    docs.select(col("doc_id"),
      when(col("source").isin(QcPositiveSources: _*), 1.0)
        .otherwise(0.0).as("y"),
      (ntok.cast("double") / lit(256.0)).as("f1"),
      (size(array_distinct(tks)).cast("double") / ntg).as("f2"),
      (length(txt).cast("double") / (ntg * lit(8.0))).as("f3"))
  }

  /** q137's production feature set ([[QcFullSql]]'s Spark twin): the
    * trio + q28's punctuation/stopword ratios (fused single-pass
    * kernels; the ratios' cross-engine bit-parity is proven by q28's
    * three-scale hash-green gate) + the q31 lang-id agreement
    * indicator (predicted language == labeled language, both coalesced
    * so NULL/unknown metadata classifies as a miss, never a throw).
    */
  private[graft] def qcFullFeatures(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{langIdFused, punctRatio, stopwordRatioOf, textStats}
    val txt = coalesce(col("text"), lit(""))
    val tks = toks(txt)
    val ntok = size(tks)
    val ntg = greatest(ntok, lit(1)).cast("double")
    docs.select(col("doc_id"),
      when(col("source").isin(QcPositiveSources: _*), 1.0)
        .otherwise(0.0).as("y"),
      (ntok.cast("double") / lit(256.0)).as("f1"),
      (size(array_distinct(tks)).cast("double") / ntg).as("f2"),
      (length(txt).cast("double") / (ntg * lit(8.0))).as("f3"),
      punctRatio(txt).as("f4"),
      stopwordRatioOf(textStats(txt)).as("f5"),
      when(langIdFused(txt) === coalesce(col("lang"), lit("")), 1.0)
        .otherwise(0.0).as("f6"))
  }

  /** The rational-sigmoid probability for margin `m`: IEEE ops only, in
    * the exact association order the oracle SQL writes out.
    */
  private def qcProb(m: org.apache.spark.sql.Column) =
    lit(0.5) + (lit(0.5) * m) / (lit(1.0) + abs(m))

  /** The margin w·(1,f1..fk) — a LEFT FOLD over the feature index, the
    * association order [[qcMarginSql]] writes out, for any k.
    */
  private def qcMargin(w: Array[Double]) =
    (1 until w.length).foldLeft(lit(w(0)))(
      (acc, j) => acc + lit(w(j)) * col(s"f$j"))

  /** [[qcMargin]]'s SQL twin: `((w0 + w1 * f1) + w2 * f2) + ...`. */
  private def qcMarginSql(k: Int): String =
    (2 to k).foldLeft("w0 + w1 * f1")((acc, j) => s"($acc) + w$j * f$j")

  /** q135 end-to-end: featurize, train, score. The returned frame is
    * the row-local scoring pass with the trained weights inlined as
    * literals (the q110/q133 inlined-model MO).
    */
  private[operators] def qualityClassifier(docs: DataFrame, rounds: Int): DataFrame = {
    val feat = qcFeatures(docs).localCheckpoint()
    scoreFeatures(feat, qcTrain(feat, rounds)).orderBy(col("doc_id"))
  }

  /** q137 end-to-end: [[qualityClassifier]] on the production feature
    * set — the shared trainer/scorer generalize over k, so the two
    * registry entries provably train through identical logic.
    */
  private[operators] def qualityClassifierFull(docs: DataFrame, rounds: Int): DataFrame = {
    val feat = qcFullFeatures(docs).localCheckpoint()
    scoreFeatures(feat, qcTrain(feat, rounds)).orderBy(col("doc_id"))
  }

  /** The q135 scoring pass over a prepared feature frame with a FROZEN
    * weight vector (inlined as literals — the q110/q133 MO).
    */
  private def scoreFeatures(feat: DataFrame, w: Array[Double]): DataFrame = {
    val smu = floor(qcProb(qcMargin(w)) * lit(1000000.0))
    feat.select(col("doc_id"), col("y").cast("long").as("label"),
      smu.as("smu"),
      when(smu >= 500000L, 1L).otherwise(0L).as("pred"))
  }

  /** Serve-time scoring: featurize + score `docs` with a frozen,
    * offline-trained weight vector — the deployment shape a production
    * pipeline runs (train on the batch corpus with [[qcTrain]], freeze,
    * apply on the ingest path). Fully ROW-LOCAL, which is what lets the
    * SAME function ride a streaming micro-batch
    * ([[graft.streaming.DocStream.scoreStream]]) with provably
    * batch-identical labels. The weight DIMENSION selects the
    * featurizer (4 → the q135 trio, 7 → the q137 production set), so
    * one serve path deploys either trained model.
    */
  private[graft] def scoreWith(docs: DataFrame, w: Array[Double]): DataFrame = {
    val feat = w.length match {
      case 4 => qcFeatures(docs)
      case 7 => qcFullFeatures(docs)
      case k => throw new IllegalArgumentException(
        s"frozen weight vector has ${k} dims; trained models are 4 (trio) or 7 (full)")
    }
    scoreFeatures(feat, w)
  }

  /** q135's training loop over a (doc_id, y, f1, f2, f3) frame:
    * full-batch quantized-gradient descent. Per round, per row:
    * e = p(w·x) − y, each gradient term floor(e·f_j·1e6) summed as
    * exact integers; the update w_j ← w_j − lr·(S_j/1e6)/n happens on
    * the driver from ONE collected row. An empty frame (n = 0) leaves
    * the weights unchanged — the query stays total and returns the
    * empty scoring frame.
    */
  private[graft] def qcTrain(feat: DataFrame, rounds: Int): Array[Double] = {
    // dimensionality comes from the feature frame itself (f1..fk), so
    // the same trainer serves the q135 trio and the q137 full set
    val k = feat.columns.count(_.matches("f\\d+"))
    val w = Array.fill(k + 1)(0.0)
    var r = 0
    while (r < rounds) {
      val e = qcProb(qcMargin(w)) - col("y")
      val aggs = (sum(floor(e * lit(1000000.0))).as("s0") +:
        (1 to k).map(j =>
          sum(floor((e * col(s"f$j")) * lit(1000000.0))).as(s"s$j"))) :+
        count(lit(1)).as("n")
      val row = feat.agg(aggs.head, aggs.tail: _*)
        .collect()(0) // ONE gradient row per round — model parameters, never data
      val n = row.getLong(k + 1)
      if (n > 0L) {
        val nD = n.toDouble
        var j = 0
        while (j <= k) {
          w(j) = w(j) - QcLr * ((row.getLong(j).toDouble / 1000000.0) / nD)
          j += 1
        }
      }
      r += 1
    }
    w
  }

  /** The shared WITH-prefix of the q135/q136 oracles: the identical
    * featurization, then every training round unrolled as a
    * (gradient-sum, weight-update) CTE pair — MATERIALIZED for the q131
    * reason (DuckDB inlines single-reference CTEs and the chain
    * re-expands exponentially across rounds). Every double op carries
    * the Spark side's association order and every gradient crosses
    * engines as an exact integer, so the trained weights hash-match;
    * consumers append their own scoring SELECT over
    * `feat CROSS JOIN w<rounds>`.
    */
  private def qcTrainedSqlPrefix(rounds: Int, featSql: Seq[String]): String = {
    val k = featSql.length
    val posList = QcPositiveSources.map(s => s"'$s'").mkString(", ")
    val fcols = featSql.zipWithIndex
      .map { case (e, i) => s"$e AS f${i + 1}" }
      .mkString(",\n               ")
    val flist = (1 to k).map(j => s"f$j").mkString(", ")
    val feat = s"""feat AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN source IN ($posList) THEN 1.0 ELSE 0.0 END AS y,
               $fcols
        FROM (SELECT doc_id, source, lang, coalesce(text, '') AS txt,
                     string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS tk
              FROM documents) t0),
      w0 AS (SELECT ${(0 to k).map(j => s"0.0 AS w$j").mkString(", ")})"""
    val stages = (0 until rounds).map { i =>
      val gsums = (1 to k).map(j =>
        s"CAST(sum(CAST(floor((e * f$j) * 1000000.0) AS BIGINT)) AS BIGINT) AS s$j")
        .mkString(",\n               ")
      val wupd = (0 to k).map(j =>
        s"w$j - $QcLr * ((CAST(s$j AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)) AS w$j")
        .mkString(",\n               ")
      s"""g$i AS MATERIALIZED (
        SELECT CAST(sum(CAST(floor(e * 1000000.0) AS BIGINT)) AS BIGINT) AS s0,
               $gsums,
               CAST(count(*) AS BIGINT) AS n
        FROM (SELECT $flist,
                     (0.5 + (0.5 * m) / (1.0 + abs(m))) - y AS e
              FROM (SELECT y, $flist,
                           ${qcMarginSql(k)} AS m
                    FROM feat CROSS JOIN w$i) t1) t2),
      w${i + 1} AS MATERIALIZED (
        SELECT $wupd
        FROM w$i CROSS JOIN g$i)"""
    }.mkString(",\n      ")
    s"""WITH $feat,
      $stages"""
  }

  /** The q135/q137 oracle: trained prefix + the same row-local scoring. */
  private def qcOracleSql(rounds: Int, featSql: Seq[String]): String =
    s"""${qcTrainedSqlPrefix(rounds, featSql)}
      SELECT doc_id, CAST(y AS BIGINT) AS label,
             CAST(floor(p * 1000000.0) AS BIGINT) AS smu,
             CAST(CASE WHEN floor(p * 1000000.0) >= 500000
                       THEN 1 ELSE 0 END AS BIGINT) AS pred
      FROM (SELECT doc_id, y, 0.5 + (0.5 * m) / (1.0 + abs(m)) AS p
            FROM (SELECT doc_id, y,
                         ${qcMarginSql(featSql.length)} AS m
                  FROM feat CROSS JOIN w$rounds) t3) t4
      ORDER BY doc_id"""

  /** The score+draw SELECT over `feat CROSS JOIN <wTable>` — the SQL
    * twin of qcProb∘qcMargin + [[paretoDraw]], factored so the
    * trained-in-query oracle (q136) and the frozen-deployment oracle
    * (q143) provably replay the SAME chain, mirroring how the Spark
    * sides share the draw expression. The power chain (t2=t0², t4=t2²,
    * t8=t4², t9=t8·t0) and the `u·(2−p)^α < 1` comparison mirror the
    * Spark expressions op-for-op.
    */
  private def paretoDrawSelectSql(wTable: String, k: Int): String = {
    import graft.functions.Affine61.{parA, parB}
    import graft.functions.MulMod61.P
    s"""SELECT doc_id,
             CAST(floor(p * 1000000.0) AS BIGINT) AS smu,
             umu,
             CAST(CASE WHEN u * t9 < 1.0 THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM (SELECT doc_id, p, umu, u, t8 * t0 AS t9
        FROM (SELECT doc_id, p, umu, u, t0, t4 * t4 AS t8
          FROM (SELECT doc_id, p, umu, u, t0, t2 * t2 AS t4
            FROM (SELECT doc_id, p, umu, u, t0, t0 * t0 AS t2
              FROM (SELECT doc_id, p, umu, 2.0 - p AS t0,
                           (CAST(umu AS DOUBLE) + 0.5) / 1000000.0 AS u
                FROM (SELECT doc_id, p,
                             CAST((($parA::HUGEINT
                                    * ${graft.functions.MulMod61.sqlPh61("CAST(doc_id AS VARCHAR)")}
                                    + $parB) % $P) % 1000000 AS BIGINT) AS umu
                  FROM (SELECT doc_id, 0.5 + (0.5 * m) / (1.0 + abs(m)) AS p
                    FROM (SELECT doc_id,
                                 ${qcMarginSql(k)} AS m
                          FROM feat CROSS JOIN $wTable) s1) s2) s3) s4) s5) s6) s7) s8
      ORDER BY doc_id"""
  }

  /** The q136 oracle: trained prefix + the shared score+draw chain. */
  private def qcParetoOracleSql(rounds: Int, featSql: Seq[String]): String = {
    s"""${qcTrainedSqlPrefix(rounds, featSql)}
      ${paretoDrawSelectSql(s"w$rounds", featSql.length)}"""
  }

  /** The q143 oracle: NO training CTEs — the weights table is the
    * frozen checkpoint reconstructed from the SAME µ-unit integers the
    * Spark side inlines (wmu/1e6 is one exact int→double conversion and
    * one IEEE division per weight), then the shared score+draw chain.
    */
  private def frozenDeployOracleSql: String = {
    val fcols = QcFullSql.zipWithIndex
      .map { case (e, i) => s"$e AS f${i + 1}" }
      .mkString(",\n               ")
    val wlits = DeployWmu.zipWithIndex
      .map { case (wmu, j) => s"CAST($wmu AS DOUBLE) / 1000000.0 AS w$j" }
      .mkString(",\n               ")
    s"""WITH feat AS (
        SELECT doc_id,
               $fcols
        FROM (SELECT doc_id, source, lang, coalesce(text, '') AS txt,
                     string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS tk
              FROM documents) t0),
      w AS (
        SELECT $wlits)
      ${paretoDrawSelectSql("w", QcFullSql.length)}"""
  }
}
