package graft.pipeline

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.concurrent.TrieMap

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Staging loads its tables concurrently under the caller's job group,
  * reads CSV columns by header name, and rejects a CSV whose header lacks
  * a required column or whose part files disagree on the header.
  */
class StagingJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Each job's group, SQL execution and start/end times, plus each SQL
    * execution's physical plan text (it names the write's output path).
    */
  private final class JobLog extends SparkListener {
    val plans = TrieMap.empty[Long, String]
    val groups = TrieMap.empty[Int, String]
    val executions = TrieMap.empty[Int, Long]
    val starts = TrieMap.empty[Int, Long]
    val ends = TrieMap.empty[Int, Long]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        plans(s.executionId) = s.physicalPlanDescription
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      groups(e.jobId) =
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => executions(e.jobId) = id.toLong)
      starts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ends(e.jobId) = e.time
  }

  private def fixture(): String = {
    val dir = Files.createTempDirectory("graft_staging").toString
    DataGen.writeAll(spark, s"$dir/csv", nCustomers = 20, nProducts = 10,
      nOrders = 50)
    dir
  }

  test("StagingJob.run overlaps its table loads, every job in the caller's job group") {
    val dir = fixture()
    val sc = spark.sparkContext
    val log = new JobLog
    val group = "staging-fanout-spec"
    val marker = "staging-fanout-spec-marker"
    sc.addSparkListener(log)
    try {
      sc.setJobGroup(group, "StagingJob.run under a job group")
      StagingJob.run(spark, s"$dir/csv", s"$dir/staging")
      // The listener bus delivers in order: once a job started after the
      // run is seen, every job of the run has been seen with its end.
      sc.setJobGroup(marker, "listener bus barrier")
      spark.range(1).count()
      eventually(timeout(Span(30, Seconds))) {
        assert(log.groups.values.exists(_ == marker))
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(log)
    }
    val jobs = log.groups.collect { case (id, g) if g != marker => id -> g }
    assert(jobs.nonEmpty)
    assert(jobs.values.forall(_ == group), s"job groups: $jobs")
    val table = """/staging/(\w+)""".r
    val writes = for {
      id <- jobs.keys.toSeq
      exec <- log.executions.get(id)
      m <- log.plans.get(exec).flatMap(p => table.findFirstMatchIn(p))
    } yield (m.group(1), log.starts(id), log.ends(id))
    assert(writes.map(_._1).toSet == Schemas.staging.keySet,
      s"write jobs: $writes")
    val overlapping = for {
      (ta, sa, ea) <- writes
      (tb, sb, eb) <- writes
      if ta < tb && sa < eb && sb < ea
    } yield (ta, tb)
    assert(overlapping.nonEmpty,
      s"no two tables' jobs ran at the same time: $writes")
  }

  test("a CSV without a required column fails StagingJob.run and Pipeline.run, naming the table") {
    val dir = fixture()
    DataGen.customers(spark, 20).drop("email").coalesce(1).write
      .mode("overwrite").option("header", "true")
      .csv(s"$dir/csv/customers.csv")
    val staged = intercept[IllegalArgumentException](
      StagingJob.run(spark, s"$dir/csv", s"$dir/staging"))
    assert(staged.getMessage.contains("'customers'"), staged.getMessage)
    assert(staged.getMessage.contains("email"), staged.getMessage)
    // the sibling loads ran to their end before the failure surfaced
    (Schemas.staging.keySet - "customers").foreach { t =>
      assert(Files.exists(Paths.get(s"$dir/staging/$t/_SUCCESS")), t)
    }
    val piped = intercept[IllegalArgumentException](
      Pipeline.run(spark, s"$dir/csv", s"$dir/out", LocalDate.of(2025, 7, 15)))
    assert(piped.getMessage.contains("'customers'"), piped.getMessage)
  }

  test("a reordered header with an extra column stages row-for-row equal to the canonical file; mixed part headers fail") {
    val dir = fixture()
    val csv = s"$dir/csv"
    val shuffled = s"$dir/shuffled"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    Schemas.staging.keys.foreach { t =>
      // the canonical file's values, untouched, under a reversed header
      // plus a column staging does not know
      val raw = spark.read.option("header", "true").csv(s"$csv/$t.csv")
      raw.select(raw.columns.reverse.map(raw.col): _*)
        .withColumn("extra_note", org.apache.spark.sql.functions.lit("x,y"))
        .coalesce(1).write.option("header", "true").csv(s"$shuffled/$t.csv")
      val canonical = StagingJob.loadTable(spark, csv, s"$dir/out_a", t)
      val reordered = StagingJob.loadTable(spark, shuffled, s"$dir/out_b", t)
      assert(reordered.schema == canonical.schema, t)
      assert(rows(reordered) == rows(canonical), t)
    }
    // an optional column the header lacks stages as a typed null
    val raw = spark.read.option("header", "true").csv(s"$csv/products.csv")
    raw.drop("description").coalesce(1).write.option("header", "true")
      .csv(s"$dir/narrow/products.csv")
    val narrow = StagingJob.loadTable(spark, s"$dir/narrow", s"$dir/out_c",
      "products")
    assert(narrow.schema == Schemas.staging("products"))
    assert(narrow.count() > 0 &&
      narrow.filter(narrow("description").isNotNull).count() == 0)
    // part files that disagree on the header are rejected, naming the table
    spark.read.option("header", "true").csv(s"$shuffled/orders.csv")
      .coalesce(1).write.mode("append").option("header", "true")
      .csv(s"$csv/orders.csv")
    val mixed = intercept[IllegalArgumentException](
      StagingJob.loadTable(spark, csv, s"$dir/out_d", "orders"))
    assert(mixed.getMessage.contains("'orders'") &&
      mixed.getMessage.contains("different headers"), mixed.getMessage)
  }
}
