package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup PAIRS (from LSH/Jaccard) →
  * connected components → one canonical keeper per component (min id).
  *
  * Label propagation over DataFrames: every node repeatedly adopts the
  * minimum label among itself and its neighbors; converges in
  * O(component diameter) iterations — dup clusters are shallow (stars /
  * short chains), so the loop is short in practice and `maxIter` bounds
  * pathological chains. Each iteration is one join + one aggregation
  * (all shuffle-partitioned by node id); nothing is collected to the
  * driver.
  */
object DedupCluster {

  /** @param pairs columns (a_id, b_id) — undirected near-dup edges
    * @return (id, canonical_id) for every node that appears in a pair
    */
  def resolve(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // No cache on the incoming pairs despite the symmetrizing self-union
    // below reading them twice: the branches are identical up to the
    // final projection, so ReuseExchange dedupes the caller's pair
    // pipeline inside the one edges0-materializing job — measured 2.5 s
    // warm for q70 at sf0.1 vs 3.9 s WITH an explicit pairs.cache()
    // (the cache adds a full materialization and memory churn for work
    // the optimizer already shares).
    // no distinct(): duplicate edges are harmless under the min
    // aggregation (idempotent), and deduping them would cost an extra
    // shuffle per resolve
    val (edges0, m0) = Materialize(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"))),
      count(lit(1)))
    // size the iteration's parallelism to the edge set: dup graphs are
    // tiny relative to the corpus (most docs are in no pair), and a
    // fixed 32-partition shuffle per iteration would be pure scheduling
    // overhead; at 100 TB the same rule lands on many partitions
    val nEdges = m0.getLong(0)
    // a clean corpus (zero near-dup pairs at the caller's threshold) is a
    // legal input: resolve to the empty mapping instead of entering the
    // loop, where an empty `labels` would make sum(label) a null DECIMAL
    if (nEdges == 0L) {
      Materialize.release(edges0)
      return pairs.select(col("a_id").as("id"), col("a_id").as("canonical_id"))
        .limit(0)
    }
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      (nEdges / 500000L).toInt))
    val (edges, _) = Materialize(edges0.repartition(parts, col("src")))
    Materialize.release(edges0)
    // Fixed-point detection by the label-sum invariant: labels only
    // ever DECREASE elementwise (min propagation), so the total is
    // strictly monotone until convergence — comparing sums is an exact
    // convergence test, observed in the job that materializes each
    // round instead of a next-vs-previous join per iteration. DECIMAL
    // accumulation so the test can't overflow at any id magnitude.
    val labelSum = sum(col("label").cast("decimal(38,0)"))
    val (labels0, m) = Materialize(
      edges.select(col("src").as("id")).distinct().withColumn("label", col("id")),
      labelSum)
    var labels = labels0
    var prevSum = m.getDecimal(0)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // neighbor labels ∪ own label → min per node
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      val (next, mNext) = Materialize(labels.unionByName(neighborLabels)
        .groupBy(col("id")).agg(min(col("label")).as("label")), labelSum)
      Materialize.release(labels)
      labels = next
      val nextSum = mNext.getDecimal(0)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    Materialize.release(edges)
    // One stderr line per resolve: iteration count and graph shape. This
    // is the attribution instrument for bench drift — label propagation
    // costs O(iters) joins, and iters = max component diameter, a pure
    // property of the INPUT's near-dup structure; a regenerated corpus
    // with bigger/longer components shows up here, a plan or session
    // problem doesn't (r8: q85 3.3× with zero code change, unattributable
    // from the artifact alone).
    val stats = labels
      .agg(count(col("id")).as("n"), countDistinct(col("label")).as("c"))
      .head()
    System.err.println(s"[dedup-cluster] edges=$nEdges " +
      s"nodes=${stats.getLong(0)} clusters=${stats.getLong(1)} " +
      s"parts=$parts iters=$iter converged=$converged")
    // the last round's checkpoint IS the result: every earlier step was
    // released as soon as its successor existed, nothing sits in the
    // CacheManager, and this one's blocks are freed by the ContextCleaner
    // once the caller drops the plan
    labels.withColumnRenamed("label", "canonical_id")
  }

  /** Keep-one-per-cluster view: every doc with its keeper; docs in no
    * pair keep themselves.
    */
  def keepers(allIds: DataFrame, pairs: DataFrame): DataFrame = {
    val resolved = resolve(pairs)
    allIds.join(resolved, allIds(allIds.columns.head) === resolved("id"),
      "left")
      .select(allIds(allIds.columns.head).as("id"),
        coalesce(col("canonical_id"), allIds(allIds.columns.head))
          .as("canonical_id"))
  }
}
