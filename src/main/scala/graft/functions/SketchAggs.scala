package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** The aggregator shapes the sketch tier shares, each written once:
  *   - [[SketchAggs.BottomRows]]: the multiset bottom-k over fixed-width
  *     rows of longs behind [[BottomK]] (width 2) and [[WeightedBottomK]]
  *     (width 3);
  *   - [[SketchAggs.MergeAgg]]: the merge-only fold of already-built
  *     `array<long>` sketches behind [[HllSketch.hllMerge]],
  *     [[KmvSketch.kmvMerge]] and [[MinHashUnion.minhashUnion]];
  *   - [[SketchAggs.LongArrayEnc]]: the one `array<long>` encoder for
  *     every sketch buffer and output.
  */
object SketchAggs {

  val LongArrayEnc: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  /** Multiset bottom-k over rows of `width` longs: the buffer is the
    * flattened rows `[r0c0..r0c(w−1), r1c0, ...]`, at most k of them,
    * in row-lexicographic order. Duplicates are kept (a sample must keep
    * repeated rows to stay uniform), so insert and merge are pure
    * set-minimum operations and the state is a pure function of the
    * input multiset — independent of row order, partitioning and merge
    * tree.
    *
    * Subclasses only unpack their input: `reduce` writes the row into
    * [[row]] (or skips it) and calls [[insertRow]]; `finish` reads the
    * kept rows. [[row]] is per-instance scratch: Spark deserializes its
    * own aggregator per task and `reduce` runs on that task's thread, and
    * [[insertRow]] copies the row out before it returns.
    */
  abstract class BottomRows[IN, OUT](k: Int, width: Int)
      extends Aggregator[IN, Array[Long], OUT] {
    require(k > 0)

    protected final val row = new Array[Long](width)

    /** Row `i` of `a` against row `j` of `b`, lexicographically. */
    private def cmp(a: Array[Long], i: Int, b: Array[Long], j: Int): Int = {
      var c = 0
      while (c < width) {
        val x = a(i * width + c)
        val y = b(j * width + c)
        if (x != y) return if (x < y) -1 else 1
        c += 1
      }
      0
    }

    /** Insert [[row]]: it lands after equal rows. Below k rows the buffer
      * grows by one row (at most k allocations per partial, ever); at k
      * rows a row that sorts before the last one shifts the buffer IN
      * PLACE and drops the maximum — no allocation in the steady state.
      * Safe to mutate: reduce owns its buffer, and the growth path never
      * returns the shared empty-array zero once non-empty.
      */
    protected final def insertRow(buf: Array[Long]): Array[Long] = {
      val n = buf.length / width
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(buf, mid, row, 0) <= 0) lo = mid + 1 else hi = mid
      }
      val at = lo * width
      if (n < k) {
        val out = new Array[Long](buf.length + width)
        System.arraycopy(buf, 0, out, 0, at)
        System.arraycopy(row, 0, out, at, width)
        System.arraycopy(buf, at, out, at + width, buf.length - at)
        out
      } else if (lo < k) {
        System.arraycopy(buf, at, buf, at + width, width * (k - lo - 1))
        System.arraycopy(row, 0, buf, at, width)
        buf
      } else buf
    }

    final override def zero: Array[Long] = Array.emptyLongArray

    /** The k smallest rows of two sorted buffers; a tie takes the left. */
    final override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val na = a.length / width
      val nb = b.length / width
      val outN = math.min(na + nb, k)
      val out = new Array[Long](width * outN)
      var i = 0
      var j = 0
      var o = 0
      while (o < outN) {
        if (j >= nb || (i < na && cmp(a, i, b, j) <= 0)) {
          System.arraycopy(a, i * width, out, o * width, width); i += 1
        } else {
          System.arraycopy(b, j * width, out, o * width, width); j += 1
        }
        o += 1
      }
      out
    }

    final override def bufferEncoder: Encoder[Array[Long]] = LongArrayEnc
  }

  /** Merge-only fold over ALREADY-BUILT sketches: the buffer starts at
    * `empty()` and every input is folded in with the sketch's own merge
    * `combine` (which may update its left argument in place). NULL input
    * rows are skipped. Union of sketches == sketch of union for every
    * sketch it serves, so a rollup never revisits raw rows. (Plans show
    * it, and its [[KmvSketch.MergeAgg]] face, as `mergeagg`.)
    */
  class MergeAgg(empty: () => Array[Long],
      combine: (Array[Long], Array[Long]) => Array[Long])
      extends Aggregator[Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = empty()
    override def reduce(buf: Array[Long], sk: Array[Long]): Array[Long] =
      if (sk == null) buf else combine(buf, sk)
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = combine(a, b)
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] = LongArrayEnc
    override def outputEncoder: Encoder[Array[Long]] = LongArrayEnc
  }

  /** Column function over [[MergeAgg]]: fold a column of sketches. */
  def mergeAgg(sketches: Column, empty: () => Array[Long],
      combine: (Array[Long], Array[Long]) => Array[Long]): Column =
    udaf(new MergeAgg(empty, combine), LongArrayEnc).apply(sketches)
}
