package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Staging layer: CSV → validated, cleaned, typed parquet
  * (reference DAG 1, `staging_dag.py`). The reference's 1000-row pandas
  * chunking (S1) is Spark's native partitioned read; its per-table
  * cleaning (P1-P5) becomes column expressions; `to_sql replace/append`
  * (S5/S6) becomes a single atomic overwrite. The reference's four
  * parallel loads become one concurrent submission of all seven (`run`).
  */
object StagingJob {

  /** S3: header validation (staging_dag.py:35-45) — only presence of the
    * required subset is checked, extra columns are tolerated.
    */
  def validateHeader(header: Seq[String], table: String): Unit = {
    val missing = Schemas.requiredColumns(table).filterNot(header.contains)
    require(missing.isEmpty,
      s"staging table '$table' is missing required columns: ${missing.mkString(", ")}")
  }

  /** The header row of every data file under `path` (one CSV file, or a
    * directory of part files as Spark writes them), read on the driver:
    * one line per file, no Spark job. The schema'd read cannot serve
    * here, as it names its columns from the schema, not from the file.
    */
  private def csvHeaders(spark: SparkSession, path: String): Seq[Seq[String]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files =
      if (fs.getFileStatus(root).isFile) Seq(root)
      else fs.listStatus(root).toSeq.map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    val parser = new CsvParser(new CsvParserSettings)
    files.flatMap { f =>
      val in = new BufferedReader(
        new InputStreamReader(fs.open(f), StandardCharsets.UTF_8))
      try Option(in.readLine()) finally in.close()
    }.map(line => parser.parseLine(line).toSeq)
  }

  /** S1/S2: schema'd CSV read (never inferSchema in the production path). */
  def readCsv(spark: SparkSession, csvDir: String, table: String): DataFrame =
    spark.read
      .schema(Schemas.staging(table))
      .option("header", "true")
      .csv(s"$csvDir/$table.csv")

  /** Per-table cleaning, replicating staging_dag.py exactly. */
  def clean(table: String, df: DataFrame): DataFrame = table match {
    case "customers" =>
      // P1 lower+trim email (:59), P2 segment NULL→'Unknown' (:60)
      df.withColumn("email", lower(trim(col("email"))))
        .na.fill(Map("customer_segment" -> "Unknown"))
    case "products" =>
      // P3 lenient numeric cast (:102-103) is the schema'd read itself
      // (malformed → NULL, ANSI off); P4 drop null prices (:106)
      df.na.drop(Seq("cost_price", "selling_price"))
    case "orders" =>
      // P5 parse order_date (:141) via DateType schema; drop unparsable
      // (:145)
      df.na.drop(Seq("order_date"))
    case _ => df
  }

  def loadTable(spark: SparkSession, csvDir: String, outDir: String,
      table: String): DataFrame = {
    csvHeaders(spark, s"$csvDir/$table.csv")
      .foreach(header => validateHeader(header, table))
    val cleaned = clean(table, readCsv(spark, csvDir, table))
    // S5: full-replace semantics, atomically.
    cleaned.write.mode("overwrite").parquet(s"$outDir/$table")
    spark.read.parquet(s"$outDir/$table")
  }

  /** DAG 1: loads the seven tables concurrently, the reference's
    * parallel loads (staging_dag.py:299), through [[FanOut.all]]. The
    * tables share no input, so each load is submitted at once and Spark's
    * `local[N]` slots bound how many run; the call returns when every
    * load has ended. A table that fails (e.g. a header that lacks a
    * required column) fails the call with its own exception, after the
    * other loads have finished.
    */
  def run(spark: SparkSession, csvDir: String, outDir: String): Map[String, DataFrame] = {
    val tables = Schemas.staging.keys.toSeq
    tables.zip(FanOut.all(tables.map(t =>
      () => loadTable(spark, csvDir, outDir, t)))).toMap
  }
}
