package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** The registry-wide totality sweeps, one row per hostile input class.
  * Each class is a per-table transform of the sf0.001 tables, written
  * once per JVM to a temp dir on first use; every registry query (or a
  * class's own query subset) must run to completion on that copy. A
  * query may return fewer, NULL or NaN-valued rows; it must never throw.
  * COVERAGE.md records what each class models and what it caught.
  */
object TotalitySweep {
  private def spark = TestSpark.spark
  private val Base = "/root/testdata/sf0.001"

  /** `poison` rewrites the tables it matches; the rest are copied as they
    * are. `coalesce` writes each table as one file. `queries` narrows
    * the sweep to a subset (None = every registry query).
    */
  final case class PoisonClass(label: String, suffix: String, coalesce: Boolean,
      poison: PartialFunction[(String, DataFrame), DataFrame],
      queries: Option[Seq[String]] = None)

  lazy val queries = SparkEntry.queries
  lazy val queryNames: Seq[String] = queries.keys.toSeq.sorted

  /** Each table's id column; the `nullable` row nulls every other column. */
  private val keyOf = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Every non-key join/group column collapsed to one hot value. */
  private val hot: Map[String, Map[String, Any]] = Map(
    "events" -> Map("user_id" -> 1L),
    "documents" -> Map("source" -> "src0", "lang" -> "en"),
    "customer" -> Map("c_nationkey" -> 0L, "c_mktsegment" -> "BUILDING"),
    "supplier" -> Map("s_nationkey" -> 0L),
    "orders" -> Map("o_custkey" -> 1L, "o_orderstatus" -> "F",
      "o_orderpriority" -> "1-URGENT"),
    "lineitem" -> Map("l_partkey" -> 1L, "l_suppkey" -> 1L,
      "l_returnflag" -> "N", "l_linestatus" -> "O"),
    "part" -> Map("p_brand" -> "Brand#11", "p_type" -> "hot", "p_size" -> 1L),
    "embeddings" -> Map("label" -> 0L))

  /** Every double-typed relational column, keyed by its table's id. */
  private val doubleCols: Map[String, (String, Seq[String])] = Map(
    "lineitem" -> ("l_orderkey",
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
    "orders" -> ("o_orderkey", Seq("o_totalprice")),
    "part" -> ("p_partkey", Seq("p_retailprice")),
    "customer" -> ("c_custkey", Seq("c_acctbal")),
    "supplier" -> ("s_suppkey", Seq("s_acctbal")),
    "events" -> ("event_id", Seq("value")))

  private val Flood = "the quick brown fox jumps over the lazy dog " +
    "cookie banner accept all rights reserved terms of service apply"
  /** ~200k chars of varied sentence text, so the shingle set is large. */
  private lazy val Giant: String = (0 until 6000).map(i =>
    s"record $i of the oversized concatenated page dump with token${i % 997} " +
      s"and marker${i % 331}").mkString(" ")
  val GiantId = 0L    // doc_id 0 exists at sf0.001
  val MonoTokenId = 0L // one giant unbroken token
  val RepeatId = 1L    // one short token repeated 20k times
  private lazy val monoToken = "x" * 60000
  private lazy val repeated = Seq.fill(20000)("aa").mkString(" ")
  private val deepNest = "[" * 4000 + "1" + "]" * 4000
  private val hugeValue = "{\"k\": \"" + ("x" * 100000) + "\"}"
  // 4947 ASCII chars, so length perturbs only key width
  private val longKey = "https://" + ("verylongsubdomain." * 260) + "example.com"

  private def rotKey(c: Column, keep: Column): Column = {
    val m = pmod(c, lit(6L))
    when(m === 0, "").when(m === 1, "x").when(m === 2, longKey)
      .when(m === 3, "日本-ソース مصدر é").when(m === 4, "a,b|c d\te")
      .otherwise(keep)
  }

  /** IEEE poison keyed by `key` mod 8; ±1e300 is finite but overflows
    * every DECIMAL, so ANSI double→decimal throws where NaN/Inf null.
    */
  private def ieee(c: Column, key: Column): Column =
    when(key % 8 === 0, lit(Double.NaN))
      .when(key % 8 === 1, lit(Double.PositiveInfinity))
      .when(key % 8 === 2, lit(Double.NegativeInfinity))
      .when(key % 8 === 3, lit(java.lang.Double.MIN_VALUE)) // subnormal
      .when(key % 8 === 4, lit(-0.0))
      .when(key % 8 === 5, lit(1e300))
      .when(key % 8 === 6, lit(-1e300))
      .otherwise(c)

  /** Year-1 floor / leaked 9999-12-31 SCD sentinel / 1582-10-04, the day
    * before the Gregorian cut; every 4th row original.
    */
  private def hostileDate(d: Column, id: Column): Column = {
    val m = pmod(id, lit(4L))
    when(m === 0, d)
      .when(m === 1, to_timestamp(lit("0001-01-01 00:00:00")))
      .when(m === 2, to_timestamp(lit("9999-12-31 00:00:00")))
      .otherwise(to_timestamp(lit("1582-10-04 00:00:00")))
  }

  /** Negative / overflow-adjacent / snowflake-scale ids, injective, id 0
    * kept (the seeded query vectors).
    */
  private def hostileId(id: Column): Column = {
    val m = pmod(id, lit(4L))
    when(m === 0, id).when(m === 1, -id - 1L)
      .when(m === 2, lit(Long.MaxValue) - id).otherwise(id + (1L << 62))
  }

  private def loadEvents(ts: (Column, Column) => Column): DataFrame =
    Tables.load(spark, Base, "events").withColumn("ts", ts(col("ts"), col("event_id")))

  private def docText(text: Column): PartialFunction[(String, DataFrame), DataFrame] = {
    case ("documents", df) => df.withColumn("text", text)
  }

  val classes: Seq[PoisonClass] = Seq(
    // first-day corpus; caught q78's 0/0 funnel division
    PoisonClass("empty", "is total on empty tables", false,
      { case (_, df) => df.limit(0) }),
    // degenerate windows, zero variance, k > n selection
    PoisonClass("single_row", "is total on single-row tables", true,
      { case (_, df) => df.limit(1) }),
    // dirty feed: non-key columns null on half the rows (keys intact)
    PoisonClass("nullable", "is total with nulled non-key columns", false,
      { case (t, df) =>
        val key = keyOf(t)
        df.columns.filter(_ != key).foldLeft(df) { (acc, c) =>
          acc.withColumn(c, when(col(key) % 2 === 0, lit(null)).otherwise(col(c)))
        }
      }),
    // every column of every table a typed NULL, row counts preserved
    PoisonClass("all_null", "is total when every column is NULL in every row", false,
      { case (_, df) =>
        df.columns.foldLeft(df)((acc, c) =>
          acc.withColumn(c, lit(null).cast(df.schema(c).dataType)))
      }),
    // '' is a real value: it joins, groups and hashes, unlike NULL
    PoisonClass("empty_string", "is total when every string column is the empty string", false,
      { case (_, df) =>
        df.schema.fields.filter(_.dataType == StringType)
          .foldLeft(df)((acc, f) => acc.withColumn(f.name, lit("")))
      }),
    // zero variance: 0/0 z-scores, rank-0 covariance, all-equal distances
    PoisonClass("constant", "is total on constant numeric signal", true, {
      case ("embeddings", df) =>
        df.withColumn("embedding", transform(col("embedding"), _ => lit(0.5f)))
      case ("lineitem", df) =>
        df.withColumn("l_extendedprice", lit(100.0)).withColumn("l_quantity", lit(5.0))
          .withColumn("l_discount", lit(0.05))
      case ("events", df) => df.withColumn("value", lit(1.0))
    }),
    // worst-case skew: one giant group, match-everything joins
    PoisonClass("hot_key", "is total under single-hot-key skew", true,
      { case (t, df) if hot.contains(t) =>
        hot(t).foldLeft(df) { case (d, (c, v)) =>
          d.withColumn(c, lit(v).cast(d.schema(c).dataType))
        }
      }),
    // boilerplate flood: LSH single-bucket worst case, one giant cluster
    PoisonClass("flood", "is total under a duplicate flood", false,
      docText(when(col("doc_id") % 2 === 0, lit(Flood)).otherwise(col("text")))),
    // backfill dates: year 1, leaked 9999 sentinel, pre-Gregorian day;
    // phases offset so one order mixes classes (negative date spans)
    PoisonClass("adv_date", "is total on adversarial order/ship dates", true, {
      case ("orders", df) =>
        df.withColumn("o_orderdate", hostileDate(col("o_orderdate"), col("o_orderkey")))
      case ("lineitem", df) =>
        df.withColumn("l_shipdate", hostileDate(col("l_shipdate"), col("l_orderkey") + lit(2L)))
    }),
    // real ingest ids: ANSI int casts, id+offset overflow; pairing kept
    PoisonClass("adv_id", "is total on adversarial doc_id keyspaces", true, {
      case ("documents", df) => df.withColumn("doc_id", hostileId(col("doc_id")))
      case ("embeddings", df) => df.withColumn("vec_id", hostileId(col("vec_id")))
    }),
    // lenient JSON extraction must classify garbage as NULL, not throw
    PoisonClass("adv_json", "is total with malformed/hostile JSON props", false, {
      case ("events", df) =>
        val m = col("event_id") % 7
        df.withColumn("props",
          when(m === 0, lit("""{"k": 12, "mis"""))          // truncated
            .when(m === 1, lit("not json at all"))
            .when(m === 2, lit("""{"k": {"nested": 1}}""")) // wrong type at $.k
            .when(m === 3, lit(hugeValue))
            .when(m === 4, lit(deepNest))                   // parser stack bomb
            .when(m === 5, lit("{\"k\": \"a\u0000b\u0001\"}")) // control chars
            .otherwise(col("props")))
    }),
    // crawl metadata group keys: empty, 1-char, ~5 KB, non-ASCII, delimiters
    PoisonClass("adv_key", "is total on adversarial source/lang keys", true, {
      case ("documents", df) =>
        df.withColumn("source", rotKey(col("doc_id"), col("source")))
          .withColumn("lang", rotKey(col("doc_id") + 3L, col("lang")))
    }),
    // IEEE garbage in every money/value column, phases offset per column
    PoisonClass("adv_numeric",
      "is total with NaN/Inf/subnormal/-0.0/finite-overflow numeric columns", false,
      { case (t, df) if doubleCols.contains(t) =>
        val (key, cols) = doubleCols(t)
        cols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
          acc.withColumn(c, ieee(col(c), col(key) + lit(i)))
        }
      }),
    // pre-1970, +7000 years, and an epoch-0 single-instant flood
    PoisonClass("adv_ts", "is total on adversarial event timestamps", true, {
      case ("events", _) => loadEvents { (ts, id) =>
        val m = pmod(id, lit(4L))
        when(m === 0, ts).when(m === 1, ts - expr("INTERVAL 100 YEARS"))
          .when(m === 2, ts + expr("INTERVAL 7000 YEARS"))
          .otherwise(to_timestamp(lit("1970-01-01 00:00:00")))
      }
    }),
    // encoder shapes: empty array, origin vector, half-dimension vector
    PoisonClass("embedding_edge", "is total with empty/zero/truncated embeddings", false, {
      case ("embeddings", df) =>
        val m = col("vec_id") % 4
        df.withColumn("embedding",
          when(m === 0, array().cast("array<float>"))
            .when(m === 1, transform(col("embedding"), _ => lit(0.0f)))
            .when(m === 2, slice(col("embedding"), 1, 32))
            .otherwise(col("embedding")))
    }),
    // encoder values: one NaN, ±Inf activations, an all-NaN vector
    PoisonClass("non_finite", "is total with NaN/Inf embedding components", false, {
      case ("embeddings", df) =>
        val m = col("vec_id") % 4
        df.withColumn("embedding",
          when(m === 0, concat(slice(col("embedding"), 1, 3), array(lit(Float.NaN)),
            slice(col("embedding"), 5, 60)))
            .when(m === 1, concat(array(lit(Float.PositiveInfinity),
              lit(Float.NegativeInfinity)), slice(col("embedding"), 3, 62)))
            .when(m === 2, transform(col("embedding"), _ => lit(Float.NaN)))
            .otherwise(col("embedding")))
    }),
    // one ~200× document: fused text kernels loop ~30k tokens in a row
    PoisonClass("oversize", "is total with an oversized document", false, {
      case ("documents", df) =>
        df.withColumn("text", when(col("doc_id") === GiantId, lit(Giant)).otherwise(col("text")))
          .withColumn("n_chars", when(col("doc_id") === GiantId, lit(Giant.length.toLong))
            .otherwise(col("n_chars")))
    }),
    // surrogate pairs, RTL marks, combining stacks; every 4th doc ASCII
    PoisonClass("unicode", "is total on astral/RTL/combining-mark text", true, {
      val m = pmod(col("doc_id"), lit(4L))
      docText(when(m === 0, "😀 🚀🚀 data 🤖 pipeline 📚📚📚")
        .when(m === 1, "مرحبا بالعالم data النص عربي")
        .when(m === 2, "été ậ stack 𝕊𝕊 한국어 ßİi")
        .otherwise(col("text")))
    }),
    // a 60k-char unbroken token and one 2-char token × 20k (all hashes collide)
    PoisonClass("uniform", "is total with maximal-length uniform tokens", false, {
      case ("documents", df) =>
        df.withColumn("text", when(col("doc_id") === MonoTokenId, lit(monoToken))
            .when(col("doc_id") === RepeatId, lit(repeated)).otherwise(col("text")))
          .withColumn("n_chars",
            when(col("doc_id") === MonoTokenId, lit(monoToken.length.toLong))
              .when(col("doc_id") === RepeatId, lit(repeated.length.toLong))
              .otherwise(col("n_chars")))
    }),
    // decode failures: "", spaces, tab-newline; every 4th doc one word
    PoisonClass("whitespace", "is total on whitespace/empty text", true, {
      val m = pmod(col("doc_id"), lit(4L))
      docText(when(m === 0, "").when(m === 1, "   ").when(m === 2, " \t \n ")
        .otherwise(concat_ws(" ", lit("word"))))
    }),
    // hostile values in SketchStore's `day` partition column: NULL,
    // epoch 0, ~9024, 5-digit years, BCE (era dropped)
    PoisonClass("partition", "is total on hostile partition values", true, {
      case ("events", _) => loadEvents { (ts, id) =>
        val m = pmod(id, lit(6L))
        when(m === 0, ts).when(m === 1, lit(null).cast("timestamp"))
          .when(m === 2, to_timestamp(lit("1970-01-01 00:00:00")))
          .when(m === 3, ts + expr("INTERVAL 7000 YEARS"))
          .when(m === 4, ts + expr("INTERVAL 10000 YEARS"))
          .otherwise(ts - expr("INTERVAL 2100 YEARS"))
      }
    }, queries = Some(Seq("q145_sketchstore_rollup", "q149_sketchstore_daily",
      "q150_sketchstore_setops", "q152_sketchstore_stream"))))

  private val written = collection.mutable.Map.empty[String, String]

  /** The poisoned copy for class `label`, written on first use. */
  def dir(label: String): String = synchronized {
    written.getOrElseUpdate(label, {
      val c = classes.find(_.label == label).get
      val out = TempDirs(s"graft_${c.label}")
      Tables.names.foreach { t =>
        val df = spark.read.parquet(s"$Base/$t.parquet")
        val poisoned = c.poison.applyOrElse((t, df), (_: (String, DataFrame)) => df)
        (if (c.coalesce) poisoned.coalesce(1) else poisoned).write.parquet(s"$out/$t.parquet")
      }
      out
    })
  }
}

/** Tagged `graft.Sweep`: excluded from the default `sbt test`, run by
  * `sbt sweep:test`. Only the guard below runs in the default task.
  */
class TotalitySweep extends AnyFunSuite {
  import TotalitySweep._

  private val swept: Seq[(PoisonClass, String)] =
    for (c <- classes; q <- c.queries.getOrElse(queryNames)) yield (c, q)
  private def nameOf(c: PoisonClass, q: String) = s"$q ${c.suffix}"

  for ((c, q) <- swept)
    test(nameOf(c, q), SweepTag) {
      queries(q)(TestSpark.spark, dir(c.label)).collect()
    }

  test("every registry query is swept under every class, all Sweep-tagged") {
    val names = testNames.toSet
    val wide = classes.filter(_.queries.isEmpty)
    val nWide = wide.size
    assert(nWide == 20, "a registry-wide class was dropped or added")
    for (c <- wide; q <- queryNames)
      assert(names.contains(nameOf(c, q)), s"$q missing under ${c.label}")
    val tagged = names.filter(n => tags.getOrElse(n, Set.empty).contains(SweepTag.name))
    val nTagged = tagged.size
    assert(nTagged == 20 * queryNames.size + 4)
    // a generated test without the tag would run in the default task
    val untagged = swept.map { case (c, q) => nameOf(c, q) }.filterNot(tagged.contains)
    assert(untagged.isEmpty)
  }
}

/** Targeted assertions on the sweep's poisoned copies; they run in the
  * default task.
  */
class DuplicateFloodSpec extends AnyFunSuite {
  test("dedup resolution collapses the flood to one cluster with one keeper") {
    val spark = TestSpark.spark
    import spark.implicits._
    val floodDir = TotalitySweep.dir("flood")
    val resolved = SparkEntry.queries("q70_dedup_resolve")(spark, floodDir)
      .select($"doc_id", $"canonical_id", $"is_keeper")
      .as[(Long, Long, Int)].collect()
    val floodIds = spark.read.parquet(s"$floodDir/documents.parquet")
      .filter($"doc_id" % 2 === 0).select($"doc_id").as[Long].collect().toSet
    val inFlood = resolved.filter(r => floodIds.contains(r._1))
    // every flood doc resolves to the same canonical: the min flood id
    assert(inFlood.nonEmpty)
    assert(inFlood.map(_._2).distinct.length == 1)
    assert(inFlood.map(_._2).head == floodIds.min)
    assert(inFlood.count(_._3 == 1) == 1, "exactly one keeper in the flood")
  }
}

class OversizeDocSpec extends AnyFunSuite {
  test("the giant doc flows: stats row present, chunked into many pieces") {
    val spark = TestSpark.spark
    import spark.implicits._
    import TotalitySweep.GiantId
    val giantDir = TotalitySweep.dir("oversize")
    val stats = SparkEntry.queries("q28_text_stats")(spark, giantDir)
      .filter($"doc_id" === GiantId).collect()
    assert(stats.length == 1, "giant doc missing from text stats")
    val chunks = SparkEntry.queries("q96_chunk_overlap")(spark, giantDir)
      .filter($"doc_id" === GiantId).count()
    assert(chunks > 10, s"giant doc produced only $chunks chunks")
  }
}

class UniformTokenSpec extends AnyFunSuite {
  test("the degenerate docs flow: stats rows present with the expected shapes") {
    val spark = TestSpark.spark
    import spark.implicits._
    import TotalitySweep.{MonoTokenId, RepeatId}
    val dir = TotalitySweep.dir("uniform")
    val stats = SparkEntry.queries("q28_text_stats")(spark, dir)
      .filter($"doc_id".isin(MonoTokenId, RepeatId))
      .select($"doc_id", $"n_tokens").as[(Long, Long)].collect().toMap
    assert(stats(MonoTokenId) == 1L,
      s"unbroken blob must tokenize to exactly one token: $stats")
    assert(stats(RepeatId) == 20000L,
      s"repeated doc must tokenize to 20k tokens: $stats")
    // the repetition gate must catch the uniform doc (1 distinct
    // shingle over ~20k shingles), and never flag the single-token blob
    // (no shingles at all — nothing to repeat)
    val rep = SparkEntry.queries("q126_filter_stack")(spark, dir)
      .filter($"doc_id".isin(MonoTokenId, RepeatId))
      .select($"doc_id", $"reason").as[(Long, String)].collect().toMap
    assert(rep(RepeatId) == "repetitive", rep.toString)
    assert(rep(MonoTokenId) != "repetitive", rep.toString)
  }
}

/** SketchStore over the hostile-partition copy: for every class the
  * absorbed store state equals the one-shot direct compute, bit for bit,
  * and per-day reads return exactly the computed day set.
  */
class AdversarialPartitionSpec extends AnyFunSuite {
  import graft.operators.SketchStore
  private lazy val spark = TestSpark.spark
  private def events = Tables.load(spark, TotalitySweep.dir("partition"), "events")

  private def stateOf(df: DataFrame): Map[(String, String), (Seq[Long], Seq[Long])] =
    df.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getSeq[Long](2), r.getSeq[Long](3))).toMap

  test("hostile days survive batched dynamic-partition-overwrite absorb == one-shot build") {
    val dir = TempDirs("graft_advpart_st") + "/state"
    val batches = (0 to 2).map(i => events.filter(col("event_id") % 3 === i))
    batches.foreach(b => SketchStore.update(spark, dir, b))
    // replay batch 1 — idempotence must hold for hostile partitions too
    SketchStore.update(spark, dir, batches(1))
    val incremental = stateOf(SketchStore.read(spark, dir))
    assert(incremental == stateOf(SketchStore.batchSketches(events)),
      "hostile-day state must round-trip the partitioned store bit-for-bit")
    // the hostile day strings actually materialized (fixture sanity):
    val days = incremental.keySet.map(_._1)
    assert(days.contains("__null__"), "NULL-ts sentinel day missing")
    assert(days.contains("1970-01-01"), "epoch day missing")
    assert(days.exists(_.matches("90\\d\\d-.*")), "far-future day missing")
    assert(days.exists(d => d.matches("\\D?1\\d{4}-.*")),
      s"5-digit-year day missing in ${days.toSeq.sorted.take(8)}")
  }

  test("per-day pruned reads return exactly the computed day set, hostile values included") {
    val dir = TempDirs("graft_advpart_rd") + "/state"
    SketchStore.update(spark, dir, events)
    val expect = stateOf(SketchStore.batchSketches(events))
    val state = SketchStore.read(spark, dir)
    val days = expect.keySet.map(_._1)
    days.foreach { d =>
      assert(stateOf(state.filter(col("day") === d)) == expect.filter(_._1._1 == d),
        s"pruned read of day '$d' diverged")
    }
    // and the read-back day set is exactly the computed one (no
    // escaping artifact invented or lost a partition)
    assert(state.select("day").distinct().collect().map(_.getString(0)).toSet
      == days)
  }
}
