package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.sum

/** Overflow-free id-set checksum: `sum(ids) mod 1e18`, with the sum
  * accumulated EXACTLY (Spark: decimal(38,0); DuckDB: HUGEINT) and the
  * reduction keeping the output a plain long.
  *
  * Why this exists (caught by TotalitySweep row `adv_id`, the thirteenth
  * sweep): several samplers/splitters pin their exact kept/member SET
  * against the oracle via a `sum(doc_id)` checksum. A plain long sum
  * is NOT total at the claimed scale — real ingest ids are snowflake
  * timestamps (2^62-adjacent), and under ANSI mode TWO such ids
  * overflow the accumulator and fail the query. The mod-1e18 form is
  * total for ~1e19 rows of max-long ids, keeps the same collision
  * resistance in practice, and is the IDENTITY on every gate-scale
  * sum (≪ 1e18), so oracle values are unchanged.
  *
  * Both engines reduce with `%` (truncated division, sign of the
  * dividend in Spark decimal and DuckDB HUGEINT alike), so the twins
  * agree on negative-id corpora too.
  */
object IdSum {

  /** 1e18: below 2^63 so the reduced checksum rides a long; far above
    * any gate-scale id sum so gate values are the plain sum.
    */
  val Mod = 1000000000000000000L

  /** Spark side: exact decimal accumulate, mod, back to long. A NULL
    * sum (empty/no-match group) stays NULL for the caller's coalesce.
    */
  def idSum(c: Column): Column =
    (sum(c.cast("decimal(38,0)")) % Mod).cast("long")

  /** The DuckDB twin over an id-valued SQL expression. */
  def sql(expr: String): String =
    s"CAST(sum(CAST($expr AS HUGEINT)) % $Mod AS BIGINT)"
}
