package graft.functions

import org.apache.spark.sql.Column

/** Mergeable MinHash set-union aggregate: element-wise minimum over the
  * per-document signatures of a group, yielding the signature of the
  * UNION of the underlying shingle sets — the defining sketch property
  * `sig(A ∪ B) = min(sig(A), sig(B))`, exact, not approximate.
  *
  * This is the engine's UDAF surface (SURVEY.md §2.10: the reference has
  * none; a `TypedImperativeAggregate`-style partial aggregation of
  * signatures was the anticipated extension). As an `Aggregator` it gets
  * map-side partial aggregation for free: each executor folds its rows
  * into one k-long buffer and only buffers cross the shuffle — O(k) per
  * group per partition regardless of group size, which is what makes
  * cluster-level / corpus-level signatures viable at 100 TB (e.g. one
  * signature per dup-cluster from DedupCluster, or per source/domain for
  * cross-corpus overlap estimation).
  *
  * Empty/NULL inputs keep the Long.MaxValue sentinel convention of
  * [[MinHashSig]] (signature of the empty set matches nothing).
  */
object MinHashUnion {

  /** Column function: `minhashUnion(sigCol, k)` usable in `agg(...)` —
    * the shared [[SketchAggs.MergeAgg]] fold with element-wise minimum.
    */
  def minhashUnion(sig: Column, k: Int): Column =
    SketchAggs.mergeAgg(sig, () => Array.fill(k)(Long.MaxValue), (buf, s) => {
      require(s.length == k, s"signature length ${s.length} != aggregate k=$k")
      var i = 0
      while (i < k) {
        if (s(i) < buf(i)) buf(i) = s(i)
        i += 1
      }
      buf
    })
}
