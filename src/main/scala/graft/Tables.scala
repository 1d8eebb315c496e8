package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver testdata tables (TESTDATA.md): one parquet file
  * per table under the given scale-factor directory. Parquet carries the
  * schema — no inference. At cluster scale these would be partitioned
  * directories; the read path is identical.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  // Memoize per (session, path): every query re-loading a table would
  // otherwise re-list the file and re-read parquet footers during
  // analysis — pure fixed overhead when 60+ queries share 10 tables.
  // DataFrames are immutable logical plans, so sharing is safe; keyed by
  // session so a stopped/restarted session never leaks stale plans.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, path) => doLoad(s, path) })

  // Row counts memoized alongside the plans: a parquet count(*) is a
  // metadata-only job, but it is still a job per invocation — callers
  // that size something off n (e.g. q43's k-means init stride) should
  // pay it once per (session, table), not once per query run.
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]

  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    countCache.computeIfAbsent((spark, s"$dir/$name.parquet"),
      { case (s, path) => java.lang.Long.valueOf(load(s, dir, name).count()) })

  private def doLoad(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    // The driver has shipped events.ts under two parquet encodings across
    // regenerations; normalize both to session-TZ TimestampType (session
    // is pinned UTC) so every downstream query sees one type:
    //  - TIMESTAMP(NANOS): read as long (legacy conf
    //    spark.sql.legacy.parquet.nanosAsLong), truncated ns→µs with
    //    integer division — identical to DuckDB's ns→µs coercion. A
    //    double division would lose precision (2024 epoch-ns ≈ 1.7e18
    //    > 2^53).
    //  - timestamp[us] with isAdjustedToUTC=false: Spark reads
    //    TIMESTAMP_NTZ, which rejects instant functions (unix_micros,
    //    session_window); cast to TIMESTAMP — a pure type change under
    //    the UTC session, same wall-clock value DuckDB sees.
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", df("ts").cast(TimestampType))
      case _ => df
    }
  }
}

/** Column helpers shared by the query surface.
  *
  * All money/measure doubles are routed through [[DecimalType]] before
  * aggregation so sums are exact and order-independent: a 32-way shuffled
  * Spark aggregation must produce bit-identical values to the
  * single-threaded DuckDB oracle (SURVEY.md §2.8 gotcha 12, generalized to
  * the double-typed testdata). Final outputs are cast back to double so
  * result schemas align across engines.
  */
object Cols {
  /** Exact decimal view of a 2-dp money/measure double — RANGE-GUARDED.
    * Under ANSI, double→decimal maps NaN/±Inf to NULL but THROWS on a
    * FINITE value beyond the target range (NUMERIC_VALUE_OUT_OF_RANGE;
    * the sixteenth sweep's round-13 finite-overflow class, ±1e300).
    * The range guard sends that class to NULL as well — non-finites
    * fail the comparison too, so they keep their NULL route — making
    * the whole non-representable double class NULL uniformly. Inert on
    * gate data (every money value sits far inside ±1e10), and the
    * guard's keep-set coincides EXACTLY with DECIMAL(12,2)'s
    * representable set: the half-up rounding edge is the real number
    * 9999999999.995; the `9999999999.995` double literal converts to
    * 9999999999.99500083… (just ABOVE the edge — that double itself
    * rounds to 1e10, overflow), while the largest double strictly
    * below the literal is 9999999999.99499893…, which rounds to
    * 9999999999.99 (in range). So a STRICT |c| < literal comparison
    * keeps precisely the doubles whose HALF_UP 2-dp rounding is
    * representable — the same set the oracles' unconditional CAST
    * succeeds on, never one more or fewer (verified numerically with
    * nextafter on both sides of both edges).
    */
  def dec(c: Column): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    when(c > lit(-9999999999.995) && c < lit(9999999999.995), c)
      .cast(DecimalType(12, 2))
  }
  def dbl(c: Column): Column = c.cast(DoubleType)
  def i64(c: Column): Column = c.cast(LongType)
}
