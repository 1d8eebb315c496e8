package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.functions.udaf

/** Mergeable WEIGHTED bottom-k quantile sketch over (key, value, weight)
  * triples: keep the k triples with the smallest keys, where the key is
  * a weight-biased priority (Efraimidis–Spirakis A-ES, IPL 2006 — the
  * q124 machinery: key_i = ln(u_i)/w_i in log space, negated+quantized
  * so "keep k largest u^(1/w)" becomes an ascending-key bottom-k), and
  * the weights RIDE ALONG with the sampled values. The kept rows are a
  * weighted sample without replacement with inclusion probability
  * increasing in weight (PPSWOR — Cohen & Kaplan, "Summarizing data
  * using bottom-k sketches", PODC 2007, §2's exponential-rank family),
  * which is exactly the sample that estimates WEIGHTED quantiles: under
  * weight-proportional inclusion the plain order statistics of the
  * sample track the weighted rank of the population.
  *
  * This is the weighted, unknown-value-domain member of the quantile
  * family — q139 = unweighted known-domain histogram, q148 = weighted
  * known-domain histogram, q141 = unweighted unknown-domain bottom-k,
  * q151 (this sketch) = weighted unknown-domain. Like [[BottomK]] it
  * needs NO domain knowledge and no extra pass; unlike it there is no
  * clean DKW analogue for weight-biased sampling without replacement
  * (the classical bound assumes exchangeable uniform draws), so q151
  * deliberately emits NO rank-error bound — the documented trade, the
  * same way q141 documents rejecting GK/KLL. What IS guaranteed: a
  * group with n ≤ k rows keeps everything, and its quantiles are
  * computed EXACTLY from the full (value, weight) multiset
  * (WeightedBottomKQuantilesSpec pins it).
  *
  * Determinism (the gate contract): insert and merge are pure
  * set-minimum operations on lexicographically ordered (key, value,
  * weight) triples — multiset bottom-k, duplicates kept — so the state
  * is a pure function of the input multiset, independent of row order,
  * partitioning, and merge tree. Ties at the k-boundary are broken by
  * (value, weight), and fully tied triples are interchangeable, so the
  * kept (value, weight) MULTISET — the only thing the estimator reads —
  * is deterministic. DuckDB rebuilds the identical sample relationally
  * (`row_number() OVER (ORDER BY key, value, weight) <= k`).
  *
  * As an `Aggregator` it gets map-side partial aggregation: each
  * partition folds to ≤k triples and only those cross the shuffle
  * (≤24 KB per partition per group at k=1024) — the fixed-size-state
  * shape that replaces a full per-group weighted sort at 100 TB.
  */
object WeightedBottomK {

  /** Rows are (key, value, weight) triples over the shared bottom-k
    * kernel ([[SketchAggs.BottomRows]], width 3).
    */
  class Agg(k: Int)
      extends SketchAggs.BottomRows[(Long, Long, Long), Array[(Long, Long)]](k, 3) {

    override def reduce(buf: Array[Long], x: (Long, Long, Long)): Array[Long] = {
      // genuine A-ES keys are ≥ 0 (−⌊ln(u)/w·1e4⌋·100 with ln(u) ≤ 0):
      // a negative key is the caller's null/invalid sentinel (NULL value
      // or non-positive weight coalesced to -1) — skipped, so hostile
      // rows neither crash the non-nullable UDAF path nor enter the
      // sample (the BottomK convention)
      if (x._1 < 0) return buf
      row(0) = x._1
      row(1) = x._2
      row(2) = x._3
      insertRow(buf)
    }

    /** Emit the kept (value, weight) pairs sorted by (value, weight)
      * ascending — the sample's weighted order statistics, a pure
      * function of the kept triple multiset; the keys have done their
      * job (selection) and don't ride further.
      */
    override def finish(buf: Array[Long]): Array[(Long, Long)] = {
      val n = buf.length / 3
      val pairs = new Array[(Long, Long)](n)
      var i = 0
      while (i < n) {
        pairs(i) = (buf(3 * i + 1), buf(3 * i + 2))
        i += 1
      }
      java.util.Arrays.sort(pairs, (p: (Long, Long), q: (Long, Long)) =>
        if (p._1 != q._1) java.lang.Long.compare(p._1, q._1)
        else java.lang.Long.compare(p._2, q._2))
      pairs
    }

    override def outputEncoder: Encoder[Array[(Long, Long)]] = pairArrEnc
  }

  val pairArrEnc: Encoder[Array[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[(Long, Long)]]()

  /** Column function: `weightedBottomK(keyCol, valueCol, weightCol, k)`
    * usable in `agg(...)` — yields the `array<struct<_1,_2>>` of
    * (value, weight) pairs carried by the k smallest keys, sorted by
    * (value, weight). NULL handling is the CALLER's contract: gate the
    * key on value nullity AND weight positivity
    * (`when(v.isNotNull && w > 0, key).otherwise(lit(-1L))`) — negative
    * keys are skipped (see [[Agg.reduce]]), whereas a NULL reaching the
    * UDAF's primitive tuple input decodes as 0 and would silently
    * pollute the sample.
    */
  def weightedBottomK(key: Column, value: Column, weight: Column, k: Int): Column =
    udaf(new Agg(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .apply(key, value, weight)

  /** The A-ES priority key in negated quantized log space — ONE
    * definition shared by the batch (q151) and stream
    * ([[graft.streaming.EventStream.windowedSketches]]) faces so they
    * can't fork. `h` is the row's affine∘polyhash draw in [0, 2^61−1)
    * (u = (h+1)/P uniform in (0, 1]); `w` is the POSITIVE weight as a
    * double. key = −⌊ln(u)/w · 1e4⌋·100: "keep k largest u^(1/w)"
    * becomes an ascending bottom-k on non-negative integer keys (one
    * MathLn call per row; the ⌊·1e4⌋·100 quantization is the q124 rule
    * that keeps the selected SET identical across engines despite
    * 1-ulp libm ln drift). Callers gate NULL value / non-positive
    * weight rows to the −1 sentinel BEFORE this key ever applies.
    */
  def aesKey(h: Column, w: Column): Column = {
    import org.apache.spark.sql.functions.{floor, lit}
    -(floor(MathLn.ln((h + lit(1L)).cast("double") /
      lit(MulMod61.P.toDouble)) / w * lit(1e4)).cast("long") * lit(100L))
  }

  /** Constants for the A-ES uniform-draw row-hash permutation
    * (independent of the MinHash/SimHash/mix/KMV/bottom-k/A-ES-sample
    * families — sample membership must not correlate with any other
    * hashed decision on the same rows).
    */
  val (wbA, wbB): (Long, Long) = {
    val rnd = new java.util.Random(20261214L)
    ((rnd.nextLong() & Long.MaxValue) % (MulMod61.P - 1) + 1,
      (rnd.nextLong() & Long.MaxValue) % MulMod61.P)
  }
}
