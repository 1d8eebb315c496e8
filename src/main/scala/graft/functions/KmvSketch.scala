package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable KMV (k-minimum-values) distinct-count sketch over
  * pre-hashed long keys — approximate COUNT(DISTINCT) in O(k) state
  * (Bar-Yossef et al., "Counting distinct elements in a data stream";
  * Beyer et al. SIGMOD'07 for the unbiased (k−1)/U_(k) estimator).
  *
  * The buffer is the sorted array of the ≤k smallest DISTINCT hash
  * values seen. Insert and merge are pure set-minimum operations, so the
  * final state is a pure function of the input SET — independent of row
  * order, partitioning, and merge tree. That determinism is what lets a
  * SKETCH sit under the driver's hash-equality oracle gate: DuckDB
  * recomputes the same k minima relationally (`ORDER BY hash LIMIT k`)
  * and derives the identical estimate (q88).
  *
  * As an `Aggregator` it gets map-side partial aggregation: each
  * executor folds its partition into one ≤k-long array and only those
  * arrays cross the shuffle — the same O(k)-bytes-per-partition shape as
  * [[FreqSketch]]/[[MinHashUnion]], which is what replaces a
  * corpus-sized exact-distinct shuffle at 100 TB.
  *
  * Hashes must be uniform in [0, 2^61−1) — use [[PolyHash61Str]] ∘
  * [[Affine61]] so the estimator's `(k−1)·p / h_(k)` denominator-scale
  * matches the hash domain p = 2^61−1.
  */
object KmvSketch {

  class Agg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k > 0)

    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(buf: Array[Long], x: Long): Array[Long] = {
      // hashes live in [0, 2^61−1): any negative input is the caller's
      // null sentinel (a nullable key coalesced to -1) — skipped, so
      // NULL keys don't crash the non-nullable UDAF input path and
      // don't count as a distinct value (COUNT(DISTINCT col) semantics)
      if (x < 0) return buf
      val pos = java.util.Arrays.binarySearch(buf, x)
      if (pos >= 0) buf // already present
      else {
        val ins = -pos - 1
        if (buf.length < k) {
          // growth phase: at most k allocations per partial, ever
          val out = new Array[Long](buf.length + 1)
          System.arraycopy(buf, 0, out, 0, ins)
          out(ins) = x
          System.arraycopy(buf, ins, out, ins + 1, buf.length - ins)
          out
        } else if (ins < k) {
          // displaces the current maximum — the steady-state path once
          // the sketch saturates, so shift IN PLACE (overlapping
          // arraycopy is defined-safe): zero allocation per accepted
          // hash instead of an O(k) copy, which at corpus scale was
          // measurable GC churn in the hottest aggregation loop. Safe
          // to mutate: reduce owns its buffer (Aggregator contract),
          // and the growth path above never returns the shared
          // `Array.emptyLongArray` zero once non-empty.
          System.arraycopy(buf, ins, buf, ins + 1, k - ins - 1)
          buf(ins) = x
          buf
        } else buf
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = union(a, b, k)

    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] = SketchAggs.LongArrayEnc
    override def outputEncoder: Encoder[Array[Long]] = SketchAggs.LongArrayEnc
  }

  /** Merge two sorted distinct arrays, keeping the k smallest distinct. */
  private def union(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var o = 0
    while (o < out.length && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val v = a(i); i += 1; v }
        else { val v = b(j); j += 1; v }
      if (o == 0 || out(o - 1) != v) { out(o) = v; o += 1 }
    }
    if (o == out.length) out else java.util.Arrays.copyOf(out, o)
  }

  /** Merge aggregator over ALREADY-BUILT kmv sketch arrays — the shared
    * [[SketchAggs.MergeAgg]] fold with the same k-smallest-distinct merge
    * the row aggregator uses (union-of-sketches; the k-min synopsis is
    * closed under union, Beyer et al. SIGMOD'07 §5), so rolling up
    * persisted per-day/per-scope sketches consumes O(rows·k) state and
    * never touches raw keys. State is a pure set-minimum fold:
    * merge-tree- and replay-independent, like everything else under the
    * oracle gate.
    */
  class MergeAgg(k: Int)
      extends SketchAggs.MergeAgg(() => Array.emptyLongArray, union(_, _, k))

  /** Column function: fold a column of kmv sketch arrays into their
    * union sketch (k smallest distinct hashes across all inputs).
    */
  def kmvMerge(kmv: Column, k: Int): Column =
    udaf(new MergeAgg(k), SketchAggs.LongArrayEnc).apply(kmv)

  /** Column function: `kmvSketch(hashCol, k)` usable in `agg(...)` —
    * yields the sorted `array<long>` of the k smallest distinct hashes.
    * For a nullable hash, pass `coalesce(hashCol, lit(-1L))` — negative
    * inputs are skipped (see [[Agg.reduce]]).
    */
  def kmvSketch(hash: Column, k: Int): Column =
    udaf(new Agg(k), Encoders.scalaLong).apply(hash)

  /** The (k−1)·p/h₍ₖ₎ distinct-count estimate from a sketch column,
    * falling back to the exact size while the sketch is unsaturated —
    * ONE definition shared by the batch (q88) and streaming
    * (EventStream.windowedSketches) paths so the estimator can never
    * fork between them. Engine-portable: one compare, one constant-
    * folded product, one IEEE division.
    */
  def estimate(kmv: Column, k: Int): Column = {
    import org.apache.spark.sql.functions.{element_at, lit, size, when}
    when(size(kmv) < k, size(kmv).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(MulMod61.P.toDouble)
        / element_at(kmv, k).cast("double"))
  }

  /** Constants for the KMV value-hash permutation (independent of the
    * MinHash/SimHash/mix families so distinct-count buckets never
    * correlate with dedup or sampling decisions).
    */
  val (kmvA, kmvB): (Long, Long) = {
    val rnd = new java.util.Random(20260815L)
    ((rnd.nextLong() & Long.MaxValue) % (MulMod61.P - 1) + 1,
      (rnd.nextLong() & Long.MaxValue) % MulMod61.P)
  }
}
