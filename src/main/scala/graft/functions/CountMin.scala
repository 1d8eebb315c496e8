package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Mergeable Count-Min sketch over pre-hashed long keys — approximate
  * per-key frequency in O(d·w) state (Cormode & Muthukrishnan, "An
  * improved data stream summary: the count-min sketch and its
  * applications", J. Algorithms 2005). The third classic sketch next to
  * [[FreqSketch]] (WHICH keys are frequent) and [[KmvSketch]] (HOW MANY
  * distinct keys): CMS answers HOW OFTEN an individual key occurred,
  * within +εN one-sided error.
  *
  * The buffer is a d×w counter matrix (flattened row-major): each input
  * increments one cell per row i, `cell_i = affine(a_i, b_i, ph) mod w`.
  * A point estimate is the MIN over the d cells — always ≥ the true
  * count (every occurrence lands in all d probed cells; collisions only
  * ADD), and ≤ true + e/w·N with probability 1 − e^(−d).
  *
  * Every cell is a pure SUM, so the sketch state is a pure function of
  * the input MULTISET — independent of row order, partitioning, and
  * merge tree (merge = element-wise addition; no truncation step at
  * all, unlike Misra-Gries). That total determinism is what lets the
  * sketch sit under the driver's hash-equality oracle gate: DuckDB
  * rebuilds the identical matrix relationally (`GROUP BY row, cell`)
  * and derives the identical estimates (q138).
  *
  * As an `Aggregator` it gets map-side partial aggregation: each
  * executor folds its partition into ONE d·w-long array and only those
  * arrays cross the shuffle — 32 KB per partition regardless of input
  * size, the property that replaces a corpus-sized exact word→count
  * shuffle at 100 TB when only point estimates are needed.
  *
  * Hashes must be uniform in [0, 2^61−1) — [[PolyHash61Str]] output
  * feeds the per-row [[Affine61]] permutations directly.
  */
object CountMin {

  /** Depth: number of independent hash rows (error prob e^(−4) ≈ 1.8%). */
  val D = 4

  /** Width: counters per row (one-sided error ≤ e/1024 ≈ 0.27% of N). */
  val W = 1024

  /** Per-row hash constants — their own seeded family, independent of
    * the MinHash/SimHash/KMV/mix draws, so CMS cell collisions never
    * correlate with dedup buckets or sampling decisions on the same
    * keys. (All D `a` constants are drawn before the `b`s; the order is
    * part of the oracle contract, like every family here.)
    */
  val (cmsA, cmsB): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(20261115L)
    val a = Array.fill(D)((rnd.nextLong() & Long.MaxValue) % (MulMod61.P - 1) + 1)
    val b = Array.fill(D)((rnd.nextLong() & Long.MaxValue) % MulMod61.P)
    (a, b)
  }

  /** Row-i cell of a pre-hashed key, in [0, W): the affine output is
    * non-negative, so `%` is a true mod on both engines.
    */
  def cell(ph: Column, i: Int): Column =
    Affine61.affine61(ph, cmsA(i), cmsB(i)) % W

  /** Driver-side twin of [[cell]] for tests. */
  def cellOf(ph: Long, i: Int): Int =
    (MulMod61.affine(cmsA(i), cmsB(i), ph) % W).toInt

  /** The DuckDB replay of [[cell]]: HUGEINT affine, then the same
    * non-negative `%`.
    */
  def sqlCell(phExpr: String, i: Int): String =
    s"CAST(((${cmsA(i)}::HUGEINT * ($phExpr) + ${cmsB(i)}) " +
      s"% ${MulMod61.P}) % $W AS BIGINT)"

  class Agg extends Aggregator[Long, Array[Long], Array[Long]] {

    override def zero: Array[Long] = new Array[Long](D * W)

    override def reduce(buf: Array[Long], ph: Long): Array[Long] = {
      // hashes live in [0, 2^61−1): a negative input is the caller's
      // null sentinel (nullable key coalesced to -1) — skipped, so NULL
      // keys neither crash the non-nullable UDAF input path nor count
      var i = 0
      if (ph >= 0) while (i < D) {
        buf(i * W + (MulMod61.affine(cmsA(i), cmsB(i), ph) % W).toInt) += 1
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] = SketchAggs.LongArrayEnc
    override def outputEncoder: Encoder[Array[Long]] = SketchAggs.LongArrayEnc
  }

  /** Column function: `countMin(hashCol)` usable in `agg(...)` — yields
    * the flattened row-major d×w counter matrix as `array<long>`. For a
    * nullable hash, pass `coalesce(hashCol, lit(-1L))` (negative inputs
    * are skipped, see [[Agg.reduce]]).
    */
  def countMin(hash: Column): Column =
    udaf(new Agg, Encoders.scalaLong).apply(hash)

  /** Point estimate of a pre-hashed key from a sketch column: min over
    * the d probed cells. `element_at` is 1-based; every index is within
    * [1, d·w] by construction, so the ANSI bound check can never fire.
    */
  def estimate(cms: Column, ph: Column): Column = {
    import org.apache.spark.sql.functions.{element_at, least, lit}
    least((0 until D).map { i =>
      element_at(cms, (cell(ph, i) + lit(i * W) + lit(1)).cast("int"))
    }: _*)
  }
}
