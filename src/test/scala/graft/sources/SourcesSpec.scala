package graft.sources

import java.nio.file.Files

import graft.{Tables, TempDirs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip and corruption-handling contracts for the non-parquet
  * sources: what goes out comes back value-identical, and malformed
  * input is captured, never fatal and never silently dropped.
  */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def tmp() = TempDirs("graft_src")

  test("JSONL round-trip: documents survive value-identical, sharded as asked") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = tmp()
    Sources.writeJsonl(docs, s"$dir/docs", shards = 3)
    val parts = new java.io.File(s"$dir/docs").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(parts == 3)
    val back = Sources.readJsonlClean(spark, s"$dir/docs", docs.schema)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      docs.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = docs.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = back.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("JSONL corruption: malformed lines are captured, valid rows unharmed") {
    val dir = tmp()
    val good =
      """{"doc_id": 1, "text": "hello world", "lang": "en"}
        |{"doc_id": 2, "text": "bonjour", "lang": "fr"}""".stripMargin
    val bad = """{"doc_id": 3, "text": "truncated..."""
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.jsonl"),
      good + "\n" + bad + "\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType)))
    val (valid, corrupt) = Sources.jsonlStats(spark, s"$dir/in.jsonl", schema)
    assert(valid == 2 && corrupt == 1)
    val clean = Sources.readJsonlClean(spark, s"$dir/in.jsonl", schema)
    assert(clean.count() == 2)
    assert(clean.filter($"doc_id" === 1 && $"text" === "hello world").count() == 1)
    // the corrupt raw line is retrievable for quarantine — even as a
    // corrupt-only projection (the text-scan+from_json design has no
    // raw-JSON-datasource restriction)
    val kept = Sources.readJsonl(spark, s"$dir/in.jsonl", schema)
      .filter(col(Sources.CorruptCol).isNotNull)
      .select(col(Sources.CorruptCol))
      .collect()
    assert(kept.length == 1 && kept.head.getString(0).contains("truncated"))
  }

  test("JSONL streaming ingest matches the batch read, quarantine included") {
    val dir = tmp()
    val srcDir = s"$dir/in"
    Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // two file drops, the second containing a malformed line
    Files.writeString(java.nio.file.Paths.get(s"$srcDir/a.jsonl"),
      """{"doc_id": 1, "text": "alpha"}
        |{"doc_id": 2, "text": "beta"}
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$srcDir/b.jsonl"),
      """{"doc_id": 3, "text": "gamma"}
        |{"doc_id": 4, "text": "truncat
        |""".stripMargin)

    val q = Sources.readJsonlStream(spark, srcDir, schema)
      .writeStream.format("memory").queryName("jsonl_stream")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("jsonl_stream")
      .orderBy(col("doc_id"))
    val batch = Sources.readJsonl(spark, srcDir, schema)
      .orderBy(col("doc_id"))
    assert(streamed.collect().map(_.toSeq).toSeq ==
      batch.collect().map(_.toSeq).toSeq)
    // the malformed line arrived as a quarantine row, not a crash
    assert(streamed.filter(col(Sources.CorruptCol).isNotNull).count() == 1)
    assert(streamed.filter(col(Sources.CorruptCol).isNull).count() == 3)
  }

  test("ORC round-trip: lineitem measures survive value-identical, pushdown-ready") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_returnflag")
    val dir = tmp()
    Sources.writeOrc(li, s"$dir/li")
    val back = Sources.readOrc(spark, s"$dir/li")
    val a = li.orderBy("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSeq
    val b = back.orderBy("l_orderkey", "l_linenumber").collect().map(_.toSeq).toSeq
    assert(a == b)
    // filters reach the ORC scan (same pushdown surface as parquet)
    val plan = back.filter($"l_returnflag" === "R")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("l_returnflag"), plan.take(400))
  }

  test("CSV round-trip: document text with commas/newlines survives quoting") {
    val docs = Tables.load(spark, sfDir, "documents").limit(100)
    val dir = tmp()
    Sources.writeCsv(docs, s"$dir/docs")
    val back = Sources.readCsv(spark, s"$dir/docs", docs.schema)
      .filter(col(Sources.CorruptCol).isNull).drop(Sources.CorruptCol)
    val a = docs.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = back.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
