package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate must never shrink silently (r8 postmortem: two
  * throwing queries simply vanished from the dump and the artifact read
  * 113/113 green against a 115-query registry). A throwing query must
  * leave an `_ERROR` sentinel where its parquet would be — the driver's
  * parquet read then fails and records an `err` row — and the dump's
  * final stdout line must carry the failed count.
  */
class VerifySpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).toDF("id")
  private val bad: (SparkSession, String) => DataFrame =
    (_, _) => throw new IllegalStateException("deliberate test failure")

  test("throwing query leaves an _ERROR sentinel, good query still dumps") {
    val out = TempDirs("verify_spec")
    Verify.dump(spark, "/root/testdata/sf0.001", out,
      queries = Map("q_ok" -> good, "q_boom" -> bad),
      oracleSql = Map("q_ok" -> "SELECT 1"))
    assert(Files.exists(Paths.get(s"$out/q_boom/_ERROR")))
    val errText = Files.readString(Paths.get(s"$out/q_boom/_ERROR"))
    assert(errText.contains("deliberate test failure"))
    // Sentinel dir must not read as a valid (empty) parquet result.
    assertThrows[Exception] {
      spark.read.parquet(s"$out/q_boom").collect()
    }
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    assert(Files.exists(Paths.get(s"$out/oracle_sql.json")))
  }

  test("sentinel replaces a partially-written result dir") {
    val out = TempDirs("verify_spec")
    // Simulate a query that wrote some files before throwing on a later
    // task: pre-seed the result dir with a stale parquet.
    good(spark, "").coalesce(1).write.parquet(s"$out/q_boom")
    Verify.dump(spark, "/root/testdata/sf0.001", out,
      queries = Map("q_boom" -> bad), oracleSql = Map.empty)
    assert(Files.exists(Paths.get(s"$out/q_boom/_ERROR")))
    assert(!Files.list(Paths.get(s"$out/q_boom")).toArray.exists(
      _.toString.endsWith(".parquet")))
  }
}
