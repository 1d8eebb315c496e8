package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

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
    * one line per file, no Spark job.
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

  /** S1-S3: typed CSV read by header name (never inferSchema in the
    * production path). Every part file's header is validated and must be
    * the same; the read schema follows that header's column order, typed
    * from [[Schemas.staging]] (string for columns it does not know), so a
    * reordered or widened header maps each value to its own column. The
    * result has exactly the canonical columns, in canonical order, with
    * a typed null for an optional column the header lacks.
    */
  def readCsv(spark: SparkSession, csvDir: String, table: String): DataFrame = {
    val path = s"$csvDir/$table.csv"
    val canonical = Schemas.staging(table)
    val headers = csvHeaders(spark, path).distinct
    headers.foreach(header => validateHeader(header, table))
    if (headers.size > 1) throw new IllegalArgumentException(
      s"staging table '$table' has part files with different headers: " +
        headers.map(_.mkString(",")).mkString(" | "))
    // no header at all (only empty files) reads no rows
    val header = headers.headOption.getOrElse(canonical.fieldNames.toSeq)
    val typed = canonical.fields.map(f => f.name -> f).toMap
    val read = spark.read
      .schema(StructType(header.map(n =>
        typed.getOrElse(n, StructField(n, StringType)))))
      .option("header", "true")
      .csv(path)
    read.select(canonical.fields.toSeq.map(f =>
      if (header.contains(f.name)) read.col(f.name)
      else lit(null).cast(f.dataType).as(f.name)): _*)
  }

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

  /** S5: full-replace semantics, atomically. */
  def loadTable(spark: SparkSession, csvDir: String, outDir: String,
      table: String): DataFrame =
    Pipeline.persist(clean(table, readCsv(spark, csvDir, table)),
      s"$outDir/$table")

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
