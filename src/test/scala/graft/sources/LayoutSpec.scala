package graft.sources

import java.nio.file.{Files, Paths}

import graft.{Tables, TempDirs, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout contracts: partition pruning is visible in the plan AND in
  * the files actually touched; clustered files cover disjoint key
  * ranges; compaction shrinks file counts without changing data;
  * bucketed tables join without an exchange, prune buckets, and rebuild
  * over a crashed writer's orphan directory.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def tmp() = TempDirs("graft_layout")

  test("partitioned write: filters prune directories, not just rows") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = s"${tmp()}/docs_by_lang"
    Layout.writePartitioned(docs, dir, Seq("lang"))

    val back = spark.read.parquet(dir)
    val q = back.filter($"lang" === "fr")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      plan.take(500))
    // the scan touches ONLY the lang=fr directory
    val touched = q.select(input_file_name()).distinct().as[String].collect()
    assert(touched.nonEmpty && touched.forall(_.contains("lang=fr")), touched.toSeq)
    // and the data round-trips
    assert(q.count() == docs.filter($"lang" === "fr").count())
  }

  test("clustered write: files cover disjoint doc_id ranges") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = s"${tmp()}/docs_clustered"
    Layout.writeClustered(docs, dir, "doc_id", numFiles = 8)

    val ranges = spark.read.parquet(dir)
      .select(input_file_name().as("f"), $"doc_id")
      .groupBy($"f")
      .agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .orderBy($"lo")
      .as[(String, Long, Long)].collect()
    assert(ranges.length == 8)
    ranges.sliding(2).foreach {
      case Array((_, _, hi1), (_, lo2, _)) => assert(hi1 < lo2, ranges.toSeq)
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == docs.count())
  }

  test("compact: shrinks a small-file table, data unchanged") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = s"${tmp()}/docs_sprawl"
    docs.repartition(64).write.parquet(dir)
    def nFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(nFiles == 64)

    val before = spark.read.parquet(dir).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val n = Layout.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(n < 64 && nFiles == n, s"n=$n files=$nFiles")
    val after = spark.read.parquet(dir).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  private def shuffleCount(df: DataFrame): Int = {
    df.collect() // finalize AQE so the executed plan is real
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      // AQE query stages (Result/Shuffle/Broadcast) keep their subtree
      // in .plan, NOT .children — a plain children walk sees nothing
      case q: ShuffleQueryStageExec => // q.plan IS the exchange: count once
        1 + q.plan.children.map(count).sum
      case q: QueryStageExec => count(q.plan)
      case s: ShuffleExchangeExec => 1 + s.children.map(count).sum
      case other => other.children.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }

  test("bucketed orders⋈lineitem joins without any shuffle exchange") {
    val orders = Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
    Layout.writeBucketed(orders, "b_orders", 8, "o_orderkey")
    Layout.writeBucketed(lineitem, "b_lineitem", 8, "l_orderkey")
    try {
      // force the join path a big-fact join takes (no broadcast)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      val bucketed = spark.table("b_orders")
        .join(spark.table("b_lineitem"), $"o_orderkey" === $"l_orderkey")
      val plain = orders.join(lineitem, $"o_orderkey" === $"l_orderkey")

      // same relation...
      assert(bucketed.count() == plain.count())
      // ...but the bucketed join needs zero exchanges, the plain one two
      assert(shuffleCount(bucketed) == 0,
        "bucketed join should read co-located buckets, not shuffle")
      assert(shuffleCount(plain) == 2)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("bucket pruning: equality filter on the bucket key scans one bucket") {
    val orders = Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_totalprice")
    Layout.writeBucketed(orders, "b_orders_prune", 8, "o_orderkey")
    try {
      val one = spark.table("b_orders_prune").filter($"o_orderkey" === 7L)
      val expected = orders.filter($"o_orderkey" === 7L).count()
      assert(one.count() == expected)
      // the scan reports bucket pruning: selected buckets 1 of 8
      val scan = one.queryExecution.executedPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scan.nonEmpty)
      assert(scan.get.optionalBucketSet.exists(_.cardinality() == 1),
        s"expected 1 selected bucket, got ${scan.get.optionalBucketSet}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders_prune")
    }
  }

  test("every index writer rebuilds over an orphan directory at the table's location") {
    // A writer that crashed after creating the table's directory but
    // before the catalog entry leaves an orphan there, and CREATE TABLE
    // refuses a non-empty location. Each persisted index must clear it
    // and read back exactly the rows it was asked to write.
    import graft.functions.HyperplaneBucket.hyperplaneBucketFused
    import graft.operators.{CanonicalMap, DedupCluster, DedupIndex, DedupQueries, SpanIndex}
    import graft.streaming.VecStream
    val docs = Tables.load(spark, sfDir, "documents")
      .filter($"doc_id" < 300).select($"doc_id", $"text").cache()
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val writers: Seq[(String, String => Unit, DataFrame)] = Seq(
      ("orphan_band_idx", DedupIndex.write(docs, _, 4),
        DedupQueries.bandIndex(docs)),
      ("orphan_span_idx", SpanIndex.write(docs, _, 4),
        SpanIndex.fingerprints(docs)),
      ("orphan_canonical_map", CanonicalMap.write(docs, _, 4),
        DedupCluster.resolve(DedupQueries.lshVerifiedPairs(docs)
            .filter($"jaccard" >= 0.8))
          .select($"id".as("doc_id"), $"canonical_id")),
      ("orphan_vec_idx", VecStream.writeIndex(vecs, _, nPlanes = 4,
          nBuckets = 4),
        vecs.select(hyperplaneBucketFused($"embedding", 4, seed = 42)
          .as("bucket"), $"vec_id", $"embedding")))
    def rows(df: DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    writers.foreach { case (table, write, expected) =>
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      val loc = Paths.get(spark.sessionState.catalog
        .defaultTablePath(TableIdentifier(table)))
      Files.createDirectories(loc)
      Files.write(loc.resolve("part-00000-orphan.parquet"),
        "torn write".getBytes)
      try {
        write(table)
        val back = spark.table(table)
        val want = rows(expected.select(back.columns.toSeq.map(col): _*))
        assert(want.nonEmpty, table)
        assert(rows(back) == want, table)
      } finally spark.sql(s"DROP TABLE IF EXISTS `$table`")
    }
    docs.unpersist()
  }
}
