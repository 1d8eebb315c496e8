package graft.operators

import graft.{TempDirs, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence pins for the r15 plan rewrites — each optimized query is
  * compared row-for-row against an inline reimplementation of the shape
  * it replaced, on fixtures built to hit the semantic edges the rewrite
  * had to preserve:
  *
  *   - q78 one-pass funnel ladder vs the r14 3-stage join chain: NULL
  *     user_ids (which the join chain drops after stage 1 — JOIN USING
  *     semantics), NULL timestamps, out-of-order stages (click before
  *     view), stage-skipping users;
  *   - q123 row-local template intersection vs the explode+join hit
  *     sets: shared shingles across docs and sources, docs with no
  *     hits, NULL text and NULL source.
  *
  * The DuckDB oracle pins both queries end-to-end at the gate; these
  * tests pin the REWRITE itself (old shape == new shape on hostile
  * corners) without an engine in the middle.
  */
class RewriteEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("q78 one-pass ladder == r14 join-chain reference on hostile funnel fixture") {
    val dir = TempDirs("graft_req78")
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    val rows: Seq[(java.lang.Long, String, java.sql.Timestamp)] = Seq(
      // full ladder
      (1L: java.lang.Long, "view", t(0)), (1L, "click", t(1)), (1L, "purchase", t(2)),
      // click BEFORE view (must not count), then a qualifying click
      (2L, "click", t(0)), (2L, "view", t(1)), (2L, "click", t(3)),
      // view only
      (3L, "view", t(0)),
      // purchase with no click (must not count at stage 3)
      (4L, "view", t(0)), (4L, "purchase", t(1)),
      // NULL user: counts at stage 1 only (join chain drops nulls)
      (null, "view", t(0)), (null, "click", t(1)), (null, "purchase", t(2)),
      // NULL ts view only: in stage 1, can never anchor stage 2
      (5L, "view", null), (5L, "click", t(1)),
      // ties: click at exactly t_view (strict > excludes it), later one counts
      (6L, "view", t(0)), (6L, "click", t(0)), (6L, "click", t(5)),
      // non-funnel event types must be ignored
      (1L, "scroll", t(9)), (7L, "scroll", t(0)))
    rows.toDF("user_id", "event_type", "ts").write.parquet(s"$dir/events.parquet")

    val got = graft.SparkEntry.queries("q78_funnel")(spark, dir)

    // the r14 shape, verbatim minus the checkpoints
    val e = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    def rowOf(stageNo: Int, stage: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(stageNo).as("stage_no"), lit(stage).as("stage"), col("n_users"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage_no"))
    val ref = rowOf(1, "view", v)
      .unionByName(rowOf(2, "click_after_view", c))
      .unionByName(rowOf(3, "purchase_after_click", p))
      .withColumn("prev", lag(col("n_users"), 1).over(w))
      .withColumn("conversion",
        when(col("prev").isNull || col("prev") === 0, lit(1.0))
          .otherwise(col("n_users").cast("double") / col("prev")))
      .drop("prev")
      .orderBy(col("stage_no"))

    assert(sortedRows(got) == sortedRows(ref))
    // and the fixture's hand-computed ladder: stage1 = users {1..6,null} = 7
    // (7 has only scroll); stage2 = {1,2,6} = 3; stage3 = {1} = 1
    val byStage = got.collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(byStage == Map(1 -> 7L, 2 -> 3L, 3 -> 1L))
  }

  test("q123 row-local template intersection == explode+join reference on shared-shingle fixture") {
    val dir = TempDirs("graft_req123")
    val boiler = "alpha beta gamma delta epsilon" // one 5-shingle
    val docs: Seq[(java.lang.Long, String, String)] = Seq(
      // srcA: the template appears in 3 docs (df >= 2 -> boilerplate)
      (1L: java.lang.Long, "srcA", s"$boiler tail one two three four"),
      (2L, "srcA", s"head $boiler"),
      (3L, "srcA", boiler),
      // srcA doc without the template
      (4L, "srcA", "totally unique text with no repeats at all here"),
      // srcB shares the same shingle but only ONCE -> not boilerplate in B
      (5L, "srcB", s"$boiler something else entirely follows now"),
      (6L, "srcB", "unrelated content in source b with enough words"),
      // NULL text and NULL source
      (7L, "srcA", null),
      (8L, null, s"$boiler and more words to shingle over here"))
    docs.toDF("doc_id", "source", "text").write.parquet(s"$dir/documents.parquet")

    val got = graft.SparkEntry.queries("q123_boilerplate_strip")(spark, dir)

    // the r14 shape: second corpus explode + hit join + per-doc groupBy
    val d = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val sh = d.select(col("source"), col("doc_id"),
      explode(graft.functions.Shingles.shingles(col("text"), 5)).as("shingle"))
    val inv = sh.groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("n_docs").desc, col("shingle"))))
      .filter(col("rnk") <= 10)
      .select(col("source"), col("shingle"))
    val hitSets = sh.join(broadcast(inv), Seq("source", "shingle"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("shingle"))).as("boiler"))
    val toksRef = graft.functions.TextFunctions.tokens(col("text"))
    val ref = d.join(hitSets, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        size(toksRef).cast("long").as("n_tokens"),
        when(col("boiler").isNull, lit(0L))
          .otherwise(graft.functions.CoveredPositions
            .coveredPositions(col("text"), col("boiler"), 5))
          .as("n_boiler_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("n_boiler_tokens"),
        (col("n_tokens") - col("n_boiler_tokens")).as("n_kept"),
        ((col("n_tokens") - col("n_boiler_tokens")).cast("double")
          / col("n_tokens").cast("double")).as("kept_ratio"))
      .orderBy(col("doc_id"))

    assert(sortedRows(got) == sortedRows(ref))
    // hand-checked corners: docs 1-3 strip the template (5 tokens each),
    // doc 5 keeps it (df=1 in srcB), docs 4/6/7/8 strip nothing
    val stripped = got.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(stripped(1L) == 5L && stripped(2L) == 5L && stripped(3L) == 5L)
    assert(stripped(4L) == 0L && stripped(5L) == 0L && stripped(6L) == 0L)
    assert(stripped(7L) == 0L && stripped(8L) == 0L)
  }
}
