package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression guard for driver testdata regenerations (r8 postmortem):
  * `events.ts` has shipped as parquet TIMESTAMP(NANOS) (read as LongType
  * under spark.sql.legacy.parquet.nanosAsLong) and as timestamp[us] with
  * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). [[Tables.doLoad]] must
  * normalize BOTH to TimestampType so every events query — including the
  * unix_micros/session_window ones that reject NTZ at analysis time —
  * produces identical results regardless of which encoding the driver
  * last wrote.
  */
class TsEncodingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import java.nio.file.Files

  // One fixture, two encodings. The NTZ dir is the raw testdata column
  // (already timestamp[us] NTZ); the nanos dir rewrites ts as epoch-ns
  // long — exactly what the legacy conf surfaces for TIMESTAMP(NANOS).
  private lazy val (ntzDir, nanosDir): (String, String) = {
    val base = TempDirs("ts_enc")
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    raw.write.parquet(s"$base/ntz/events.parquet")
    raw.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      .write.parquet(s"$base/nanos/events.parquet")
    (s"$base/ntz", s"$base/nanos")
  }

  test("loader normalizes both encodings to TimestampType") {
    for (dir <- Seq(ntzDir, nanosDir)) {
      val dt = Tables.load(spark, dir, "events").schema("ts").dataType
      assert(dt == org.apache.spark.sql.types.TimestampType,
        s"$dir -> $dt")
    }
  }

  // q42 (hourly agg) never touches instant functions; q49/q59 are the
  // unix_micros/session_window queries that broke in r8. Identical
  // results across encodings proves the normalization is value-exact,
  // not just type-compatible.
  for (name <- Seq("q42_events_hourly", "q49_asof_join",
      "q59_sessions_batch"))
    test(s"$name is encoding-invariant", SweepTag) {
      val fn = SparkEntry.queries(name)
      val a = fn(spark, ntzDir).collect().map(_.toString).sorted
      val b = fn(spark, nanosDir).collect().map(_.toString).sorted
      assert(a.nonEmpty)
      assert(a.sameElements(b))
    }
}
