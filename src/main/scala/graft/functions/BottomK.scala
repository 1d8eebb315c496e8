package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.functions.udaf

/** Mergeable bottom-k quantile sketch over (row-hash, value) pairs: keep
  * the k pairs with the smallest hashes, read quantiles off the kept
  * values' order statistics. Because the hash is a uniform permutation
  * of the row ids, the kept values are a uniform size-k sample WITHOUT
  * replacement (bottom-k sampling, Cohen & Kaplan "Summarizing data
  * using bottom-k sketches", PODC 2007), so the DKW inequality bounds
  * the rank error: with probability ≥ 1−δ every quantile estimate is
  * within ε = √(ln(2/δ)/(2k)) of its true rank (Dvoretzky-Kiefer-
  * Wolfowitz with Massart's constant; sampling without replacement is
  * strictly tighter — Serfling 1974). q141 emits that ε so the answer
  * carries its own guarantee, and when a group has n ≤ k rows the
  * "sample" is the whole group and the quantiles are EXACT.
  *
  * Why bottom-k and not GK or KLL (the textbook rank sketches): this
  * engine's sketch tier sits under an exact cross-engine hash-equality
  * oracle, which requires the final state to be a pure function of the
  * input MULTISET — independent of row order, partitioning, and the
  * merge tree Spark happens to schedule.
  *   - Greenwald-Khanna is deterministic for a FIXED insertion order,
  *     but its summary depends on that order, and full mergeability of
  *     GK summaries is a long-open problem (Agarwal, Cormode, Huang,
  *     Phillips, Wei, Yi, "Mergeable Summaries", PODS 2012) — under
  *     Spark's arbitrary partial-aggregation trees its output is not
  *     reproducible, let alone oracle-replayable.
  *   - KLL (Karnin-Lang-Liberty, FOCS 2016) is mergeable but
  *     randomized; derandomizing its compactors (keep-even-indices)
  *     makes each MERGE deterministic yet leaves the RESULT dependent
  *     on the merge tree — two partitionings of the same data yield
  *     different summaries, which breaks the gate the same way.
  *   - Bottom-k is the "random sampling" row of the Mergeable
  *     Summaries taxonomy with the randomness replaced by a fixed hash
  *     permutation: insert and merge are pure set-minimum operations on
  *     (hash, value) pairs, so the state is multiset-determined and
  *     DuckDB rebuilds it relationally (`ORDER BY h, v LIMIT k` — the
  *     q88 KMV replay, carrying values).
  * The price is the sampling-grade bound (ε ~ k^(−1/2) vs GK/KLL's
  * deterministic ε ~ 1/k): k=1024 pairs (16 KB) per group buys a 5.1%
  * rank guarantee at 99% confidence, which is the right trade where
  * reproducibility-under-repartitioning is a hard requirement. q139's
  * fixed-bin histogram stays the tight-VALUE-error member of the
  * family when the value domain is known; bottom-k is the
  * unknown-domain rank-error member.
  *
  * As an `Aggregator` it gets map-side partial aggregation: each
  * partition folds to ≤k pairs and only those cross the shuffle — the
  * fixed-size-state shape that replaces a full per-group value sort at
  * 100 TB.
  *
  * Ordering and ties: pairs are kept in (hash, value) lexicographic
  * order, duplicates included (MULTISET bottom-k — a sample must keep
  * repeated rows to stay uniform). Identical pairs carry identical
  * values, so the kept VALUE multiset — the only thing the estimator
  * reads — is deterministic even when the k-boundary cuts a run of
  * ties.
  */
object BottomK {

  /** Rows are (hash, value) pairs over the shared bottom-k kernel
    * ([[SketchAggs.BottomRows]], width 2).
    */
  class Agg(k: Int) extends SketchAggs.BottomRows[(Long, Long), Array[Long]](k, 2) {

    override def reduce(buf: Array[Long], x: (Long, Long)): Array[Long] = {
      // hashes live in [0, 2^61−1): a negative hash is the caller's
      // null sentinel (nullable key/value coalesced to -1) — skipped,
      // so NULLs neither crash the non-nullable UDAF path nor enter
      // the sample
      if (x._1 < 0) return buf
      row(0) = x._1
      row(1) = x._2
      insertRow(buf)
    }

    /** Emit the kept VALUES sorted ascending — the sample's order
      * statistics, a pure function of the kept pair multiset; the
      * hashes have done their job (selection) and don't ride further.
      */
    override def finish(buf: Array[Long]): Array[Long] = {
      val n = buf.length / 2
      val vals = new Array[Long](n)
      var i = 0
      while (i < n) { vals(i) = buf(2 * i + 1); i += 1 }
      java.util.Arrays.sort(vals)
      vals
    }

    override def outputEncoder: Encoder[Array[Long]] = SketchAggs.LongArrayEnc
  }

  /** Column function: `bottomK(hashCol, valueCol, k)` usable in
    * `agg(...)` — yields the ascending `array<long>` of the values
    * carried by the k smallest (hash, value) pairs. NULL handling is
    * the CALLER's contract: gate the hash on BOTH inputs' nullity
    * (`when(value.isNotNull, hash).otherwise(lit(-1L))`) — negative
    * hashes are skipped (see [[Agg.reduce]]), whereas a NULL that
    * reaches the UDAF's primitive tuple input decodes as 0 and would
    * silently pollute the sample.
    */
  def bottomK(hash: Column, value: Column, k: Int): Column =
    udaf(new Agg(k), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .apply(hash, value)

  /** The DKW/Massart rank-error bound ε = √(ln(2/δ)/(2k)) in ppm,
    * rounded up. Computed ONCE on the driver from literal (k, δ) and
    * interpolated as the SAME integer literal into both the Spark plan
    * and the oracle SQL — no cross-engine libm exposure.
    */
  def epsPpm(k: Int, delta: Double): Long =
    math.ceil(math.sqrt(math.log(2.0 / delta) / (2.0 * k)) * 1e6).toLong

  /** Constants for the bottom-k row-hash permutation (independent of
    * the MinHash/SimHash/mix/KMV/A-ES families — sample membership must
    * not correlate with any other hashed decision on the same rows).
    */
  val (bkA, bkB): (Long, Long) = {
    val rnd = new java.util.Random(20261120L)
    ((rnd.nextLong() & Long.MaxValue) % (MulMod61.P - 1) + 1,
      (rnd.nextLong() & Long.MaxValue) % MulMod61.P)
  }
}
