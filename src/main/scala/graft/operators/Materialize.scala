package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** Materializes a multi-step operator's intermediate frame: an eager
  * `localCheckpoint` whose single job also computes the caller's metrics
  * (a row count, a label sum) through an [[Observation]]. The corpus
  * line (`CorpusPrep`, `DedupCluster.resolve`) materializes every step
  * through it.
  *
  * A checkpoint cuts the lineage, so the next step plans over a flat
  * `LogicalRDD` scan instead of an ever deeper nest of cached relations,
  * and its blocks cannot be dropped from under a reader the way
  * `unpersist` on an aliased `cache()` can. A `cache()` followed by a
  * `count()` costs three AQE jobs (the cache-stage build, the partial
  * count exchange, the result) where this costs one.
  *
  * Scale posture: localCheckpoint blocks live on the executors that
  * computed them, so losing an executor loses the step. A deployment that
  * must survive that switches `apply` to a reliable `checkpoint(eager =
  * true)` here, in this one place (SCALING.md, "Known trade-offs at
  * 100 TB").
  */
object Materialize {

  /** Materialize `df` and return the checkpointed frame with one row
    * holding `metrics` (aggregate columns, in order) over exactly the
    * materialized rows (an empty row when none are asked for). An
    * aggregate over no rows follows SQL: count 0, sum null.
    */
  def apply(df: DataFrame, metrics: Column*): (DataFrame, Row) =
    if (metrics.isEmpty) (df.localCheckpoint(), Row.empty)
    else {
      val obs = Observation()
      val named = metrics.indices.map(i => metrics(i).as(s"m$i"))
      val out = df.observe(obs, named.head, named.tail: _*)
        .localCheckpoint()
      val got = obs.get
      (out, Row.fromSeq(named.indices.map(i => got(s"m$i"))))
    }

  /** Free the blocks of a checkpoint [[apply]] returned, once nothing reads
    * it any more (a later checkpoint built from it has cut its lineage).
    */
  def release(checkpoint: DataFrame): Unit =
    checkpoint.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        s"not a checkpoint: ${other.nodeName}")
    }
}
