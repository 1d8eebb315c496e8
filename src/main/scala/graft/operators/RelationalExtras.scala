package graft.operators

import graft.{Cols, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator families the reference never exercises but a
  * library consumer expects (round-2 breadth): ntile bucketing,
  * fixed-width histograms, INTERSECT/EXCEPT, null-safe equality joins,
  * regexp extraction. All DuckDB-oracle-checked.
  */
object RelationalExtras {
  import Cols._

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** q144's sketch size and hash family — k-min values per event type;
    * a FRESH affine permutation (independent of the q88 word-KMV and
    * the stream face's raw-long family: set-operation estimates on user
    * ids must not correlate with any other hashed decision on the same
    * ids). Declared before `all` (object-init order).
    */
  private[operators] val SetK = 256
  private[operators] val (setA, setB): (Long, Long) = {
    val rnd = new java.util.Random(20261207L)
    ((rnd.nextLong() & Long.MaxValue) % (graft.functions.MulMod61.P - 1) + 1,
      (rnd.nextLong() & Long.MaxValue) % graft.functions.MulMod61.P)
  }

  /** The q144 pairwise set-operation estimator over per-scope kmv
    * sketches (`t`, `kmv` sorted ≤k-long arrays) — ONE definition
    * shared by the in-query face (q144) and the durable-state face
    * ([[SketchStore.setOpsFromState]]), so the two routes can never
    * fork. Per type PAIR, entirely from the two arrays (Beyer et al.
    * SIGMOD'07 §5):
    *   - the k smallest of (sketchA ∪ sketchB) ARE the k smallest of
    *     (A ∪ B) — every union-k-min element is below both sets' own
    *     h₍ₖ₎, so the arrays are loss-free there;
    *   - membership of a union-k-min hash in sketchX ⇔ membership in
    *     SET X (same argument), so ρ = |both|/K over the union sample
    *     is an EXACT Bernoulli(Jaccard) average, |A∩B| ≈ ρ·est_union,
    *     and the one-sided memberships price the differences.
    * HOFs run over ≤2k-long arrays on ≤|types|² pair rows (bounded —
    * the q139/q141 dispensation). localCheckpoint: the sketch frame is
    * consumed by both sides of the self-join.
    */
  private[operators] def kmvPairEstimates(sk0: DataFrame): DataFrame = {
    import graft.functions.MulMod61
    val sk = sk0.localCheckpoint()
    val pairs = sk.select(col("t").as("type_a"), col("kmv").as("ka"))
      .join(sk.select(col("t").as("type_b"), col("kmv").as("kb")),
        col("type_a") < col("type_b"))
    pairs
      .withColumn("u_all", array_sort(array_distinct(concat(col("ka"), col("kb")))))
      .withColumn("mu", size(col("u_all")))
      .withColumn("ku", least(col("mu"), lit(SetK)))
      .withColumn("u_k", slice(col("u_all"), 1, SetK))
      .withColumn("common", size(filter(col("u_k"),
        h => array_contains(col("ka"), h) && array_contains(col("kb"), h))))
      .withColumn("onlya", size(filter(col("u_k"),
        h => array_contains(col("ka"), h) && !array_contains(col("kb"), h))))
      .withColumn("onlyb", size(filter(col("u_k"),
        h => array_contains(col("kb"), h) && !array_contains(col("ka"), h))))
      .withColumn("est_union",
        when(col("mu") < SetK, col("mu").cast("double"))
          .otherwise(lit((SetK - 1).toDouble) * lit(MulMod61.P.toDouble)
            / element_at(col("u_all"), SetK).cast("double")))
      // ku > 0 guard: a pair of zero-user types has an empty union
      // sample, and ANSI doubles THROW on 0/0 (the q78 lesson) — no
      // sample, no estimate (NULL), never a crash. Inert on gate
      // data (every type has users).
      .withColumn("est_jaccard",
        when(col("ku") > 0,
          col("common").cast("double") / col("ku").cast("double")))
      .withColumn("est_intersection",
        when(col("ku") > 0,
          (col("common").cast("double") * col("est_union"))
            / col("ku").cast("double")))
      .withColumn("est_diff_ab",
        when(col("ku") > 0,
          (col("onlya").cast("double") * col("est_union"))
            / col("ku").cast("double")))
      .withColumn("est_diff_ba",
        when(col("ku") > 0,
          (col("onlyb").cast("double") * col("est_union"))
            / col("ku").cast("double")))
  }

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // q61: NTILE spend deciles per market segment — feature-engineering
    // bucketing. Keyed window (partition = segment) over the
    // one-row-per-customer aggregate, tie-broken for determinism; the
    // 100 TB form of unkeyed deciles would be approx_percentile cuts.
    Q("q61_ntile_deciles",
      (s, dir) => {
        val spend = t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg(dbl(sum(dec(col("o_totalprice")))).as("spent"))
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("spent").desc, col("c_custkey"))
        spend
          .withColumn("decile", ntile(10).over(w))
          .groupBy(col("c_mktsegment"), col("decile"))
          .agg(count(lit(1)).as("n_customers"),
            dbl(sum(col("spent").cast("decimal(18,2)"))).as("decile_spend"))
          .orderBy(col("c_mktsegment"), col("decile"))
      },
      Some("""WITH spend AS (
          SELECT c_custkey, c_mktsegment,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS spent
          FROM customer JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey, c_mktsegment),
        ranked AS (
          SELECT c_mktsegment, spent,
                 ntile(10) OVER (PARTITION BY c_mktsegment
                   ORDER BY spent DESC, c_custkey) AS decile
          FROM spend)
        SELECT c_mktsegment, decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(CAST(spent AS DECIMAL(18,2))) AS DOUBLE) AS decile_spend
        FROM ranked GROUP BY c_mktsegment, decile
        ORDER BY c_mktsegment, decile""")),

    // ------------------------------------------------------------------
    // q62: fixed-width HISTOGRAM of order values — constant bin width
    // (no data-dependent min/max pass), integer bin ids, one shuffle.
    Q("q62_histogram",
      (s, dir) => {
        // bin-range guard (TotalitySweep row `adv_numeric`): floor() of a
        // NaN/±Inf price saturates to ±Long.Max and the int cast THROWS
        // under ANSI at executor depth. Spark's total ordering puts NaN
        // above +Inf, so the between() is false for every non-finite
        // (NaN fails <=, +Inf fails <=, -Inf fails >=) → NULL bin, a
        // row in the null-bin group instead of a crash. Inert on gate
        // data (every real price sits far inside ±1e9 bins).
        val ratio = col("o_totalprice") / 50000.0
        t(s, dir, "orders")
          .select(when(ratio.between(-1e9, 1e9), floor(ratio).cast("int"))
              .as("bin"),
            dec(col("o_totalprice")).as("price"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_orders"),
            dbl(sum(col("price"))).as("bin_revenue"))
          .orderBy(col("bin"))
      },
      // the engine-side ±1e9 bin guard, mirrored op-for-op: on this
      // schema o_totalprice is DECIMAL(12,2) (ratio < 2e5) so the CASE
      // never fires, but the twin must not depend on that column type
      Some("""SELECT CASE WHEN o_totalprice / 50000.0 BETWEEN -1e9 AND 1e9
          THEN CAST(floor(o_totalprice / 50000.0) AS INTEGER) END AS bin,
        CAST(count(*) AS BIGINT) AS n_orders,
        CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS bin_revenue
        FROM orders GROUP BY bin ORDER BY bin""")),

    // ------------------------------------------------------------------
    // q63: INTERSECT / EXCEPT (set ops beyond q19's UNION): customers
    // active in both 1995 and 1996, and in exactly one of them.
    Q("q63_setops",
      (s, dir) => {
        def active(y: Int) = t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === y)
          .select(col("o_custkey")).distinct()
        // materialize both key sets once: intersect + two excepts reuse
        // each subtree, and Spark re-executes repeated subtrees otherwise
        // (~6 scans of orders for a 3-row result). localCheckpoint, not
        // cache(): cached plans pin CacheManager entries for the session
        // lifetime, while checkpoint blocks are reference-tracked by the
        // ContextCleaner and freed once this query's plan is collected.
        val a = active(1995).localCheckpoint()
        val b = active(1996).localCheckpoint()
        a.intersect(b).agg(count(lit(1)).as("n"))
          .select(lit("both").as("grp"), col("n"))
          .unionByName(a.except(b).agg(count(lit(1)).as("n"))
            .select(lit("only_1995").as("grp"), col("n")))
          .unionByName(b.except(a).agg(count(lit(1)).as("n"))
            .select(lit("only_1996").as("grp"), col("n")))
          .orderBy(col("grp"))
      },
      Some("""WITH a AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE EXTRACT(year FROM o_orderdate) = 1995),
        b AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE EXTRACT(year FROM o_orderdate) = 1996)
        SELECT 'both' AS grp,
               CAST((SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS BIGINT) AS n
        UNION ALL
        SELECT 'only_1995',
               CAST((SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS BIGINT)
        UNION ALL
        SELECT 'only_1996',
               CAST((SELECT count(*) FROM (SELECT * FROM b EXCEPT SELECT * FROM a)) AS BIGINT)
        ORDER BY grp""")),

    // ------------------------------------------------------------------
    // q64: NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): two
    // yearly rollups keyed by a nullable derived key join with NULL
    // matching NULL — the semantics a plain equi-join silently drops.
    Q("q64_nullsafe_join",
      (s, dir) => {
        val key = when(col("o_orderpriority") === "5-LOW",
          lit(null).cast("string")).otherwise(col("o_orderpriority"))
        def slice(y: Int, out: String) = t(s, dir, "orders")
          .filter(year(col("o_orderdate")) === y)
          .groupBy(key.as("prio_key"))
          .agg(count(lit(1)).as(out))
        slice(1995, "n_1995").alias("a")
          .join(slice(1996, "n_1996").alias("b"),
            col("a.prio_key") <=> col("b.prio_key"), "inner")
          .select(coalesce(col("a.prio_key"), lit("NULL_KEY")).as("prio_key"),
            col("n_1995"), col("n_1996"))
          .orderBy(col("prio_key"))
      },
      Some("""WITH a AS (
          SELECT CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                      ELSE o_orderpriority END AS prio_key,
                 count(*) AS n_1995
          FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
          GROUP BY 1),
        b AS (
          SELECT CASE WHEN o_orderpriority = '5-LOW' THEN NULL
                      ELSE o_orderpriority END AS prio_key,
                 count(*) AS n_1996
          FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
          GROUP BY 1)
        SELECT coalesce(a.prio_key, 'NULL_KEY') AS prio_key,
               CAST(n_1995 AS BIGINT) AS n_1995,
               CAST(n_1996 AS BIGINT) AS n_1996
        FROM a JOIN b ON a.prio_key IS NOT DISTINCT FROM b.prio_key
        ORDER BY prio_key""")),

    // ------------------------------------------------------------------
    // q65: REGEXP extraction — pull the numeric id out of c_name
    // ('Customer#000000007') and prove it round-trips to c_custkey.
    // Digit-class pattern only: identical under Java regex and RE2.
    // try_cast: a digitless name yields "" → NULL instead of an ANSI
    // cast error aborting the query (TRY_CAST mirrors it in the oracle).
    Q("q65_regexp_extract",
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"),
            regexp_extract(col("c_name"), "([0-9]+)", 1).try_cast("long")
              .as("extracted"))
          .withColumn("roundtrips",
            (col("extracted") === col("c_custkey")).cast("int"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey,
        TRY_CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS extracted,
        CAST(TRY_CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) = c_custkey
             AS INTEGER) AS roundtrips
        FROM customer ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // q68: PII MASKING — the canonical training-data redaction pass:
    // digits replaced with a mask character, with an audit count of
    // masked characters per row. Digit-class regex only (identical
    // under Java regex and RE2); at 100 TB this is a pure row-local
    // codegen'd projection — no shuffle at all.
    Q("q68_pii_mask",
      (s, dir) =>
        t(s, dir, "customer")
          .select(col("c_custkey"),
            regexp_replace(col("c_name"), "[0-9]", "#").as("name_masked"),
            (length(col("c_name")) -
              length(regexp_replace(col("c_name"), "[0-9]", "")))
              .as("n_masked"))
          .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey,
        regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
        CAST(length(c_name)
             - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS INTEGER)
          AS n_masked
        FROM customer ORDER BY c_custkey""")),

    // ------------------------------------------------------------------
    // q78: FUNNEL analysis — ordered event-sequence conversion
    // (view → click-after-view → purchase-after-click), the product-
    // analytics staple. Each stage is one conditional-min aggregation
    // joined to the previous stage's users (shuffles keyed on user_id;
    // stage frames shrink monotonically), then a 3-row conversion
    // ladder via lag(). Timestamp comparisons happen on the µs-exact
    // event time; only counts and ratios leave the query, so the
    // output is engine-exact.
    Q("q78_funnel",
      (s, dir) => {
        // r15 one-pass ladder (r14 VERDICT #3): the r14 shape (3 stage
        // frames, 2 joins, 2 checkpoints) paid either 6 events scans
        // (r13) or 2 materialization jobs (r14) for information that is
        // PER-USER LOCAL — each user's three stage timestamps are
        // order-constrained mins over that user's own events. One
        // groupBy(user_id) collects the stage timestamps row-locally
        // (t_view as a plain conditional min; click/purchase ts lists,
        // partial-aggregatable map-side) and the view→click→purchase
        // ladder is walked per row with array filter+min: zero joins,
        // zero checkpoints, ONE events scan, ONE user-keyed exchange.
        // Join-semantics parity with the oracle's `JOIN USING`: a NULL
        // user_id never equi-joins, so the null-user group counts in
        // stage 1 (the oracle's v has no join) but can never reach
        // stages 2/3 — hence the explicit isNotNull guard on t_click.
        val e = t(s, dir, "events")
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("event_type"), col("ts"))
        val perUser = e.groupBy(col("user_id"))
          .agg(
            // non-null iff the user has ≥1 view EVENT (even null-ts —
            // the oracle's v groups on the event filter alone)
            max(when(col("event_type") === "view", lit(1))).as("has_view"),
            min(when(col("event_type") === "view", col("ts"))).as("t_view"),
            collect_list(when(col("event_type") === "click", col("ts")))
              .as("clicks"),
            collect_list(when(col("event_type") === "purchase", col("ts")))
              .as("purchases"))
          .withColumn("t_click",
            when(col("user_id").isNotNull && col("t_view").isNotNull,
              array_min(filter(col("clicks"), c => c > col("t_view")))))
          .withColumn("t_purchase",
            when(col("t_click").isNotNull,
              array_min(filter(col("purchases"), p => p > col("t_click")))))
        // guard the 0-user degenerate case (empty corpus / first day):
        // 0/0 is an ANSI error in Spark and NaN in DuckDB — both
        // wrong answers for "conversion out of nobody"; define it 1.0
        perUser
          .agg(count(col("has_view")).as("n1"),
            count(col("t_click")).as("n2"),
            count(col("t_purchase")).as("n3"))
          .select(explode(array(
            struct(lit(1).as("stage_no"), lit("view").as("stage"),
              col("n1").as("n_users"), lit(1.0).as("conversion")),
            struct(lit(2).as("stage_no"), lit("click_after_view").as("stage"),
              col("n2").as("n_users"),
              when(col("n1") === 0, lit(1.0))
                .otherwise(col("n2").cast("double") / col("n1"))
                .as("conversion")),
            struct(lit(3).as("stage_no"),
              lit("purchase_after_click").as("stage"),
              col("n3").as("n_users"),
              when(col("n2") === 0, lit(1.0))
                .otherwise(col("n3").cast("double") / col("n2"))
                .as("conversion")))).as("r"))
          .select(col("r.stage_no"), col("r.stage"), col("r.n_users"),
            col("r.conversion"))
          .orderBy(col("stage_no"))
      },
      Some("""WITH v AS (
          SELECT user_id, min(ts) AS t_view FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        c AS (
          SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id),
        p AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id),
        ladder AS (
          SELECT 1 AS stage_no, 'view' AS stage,
                 CAST(count(*) AS BIGINT) AS n_users FROM v
          UNION ALL
          SELECT 2, 'click_after_view', CAST(count(*) AS BIGINT) FROM c
          UNION ALL
          SELECT 3, 'purchase_after_click', CAST(count(*) AS BIGINT) FROM p)
        SELECT stage_no, stage, n_users,
               CASE WHEN coalesce(lag(n_users) OVER (ORDER BY stage_no), 0) = 0
                    THEN 1.0
                    ELSE CAST(n_users AS DOUBLE)
                         / lag(n_users) OVER (ORDER BY stage_no) END AS conversion
        FROM ladder ORDER BY stage_no""")),

    // ------------------------------------------------------------------
    // q79: COHORT RETENTION — users grouped by acquisition week (their
    // first event's Monday-truncated week), tracked by distinct-active
    // week offset, with retention as a share of cohort size. Anchoring
    // on the FIRST event keeps every offset ≥ 0, sidestepping the
    // Spark-truncates/DuckDB-floors integer-division divergence on
    // negatives. Two shuffles on user_id (first-event agg, activity
    // join) + one on (cohort, wk): the cohort table is users-sized,
    // never events-sized.
    Q("q79_retention",
      (s, dir) => {
        val e = t(s, dir, "events").select(col("user_id"), col("ts"))
        val su = e.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
          .select(col("user_id"),
            date_trunc("week", col("t0")).cast("date").as("cohort"))
        val act = e.join(su, "user_id")
          .select(col("cohort"), col("user_id"),
            (datediff(date_trunc("week", col("ts")).cast("date"),
              col("cohort")) / 7).cast("int").as("wk"))
          .distinct()
        val sizes = su.groupBy(col("cohort"))
          .agg(count(lit(1)).as("cohort_users"))
        act.groupBy(col("cohort"), col("wk"))
          .agg(count(lit(1)).as("n_active"))
          .join(sizes, "cohort")
          .select(
            date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
            col("wk"), col("n_active"), col("cohort_users"),
            (col("n_active").cast("double") / col("cohort_users"))
              .as("retention"))
          .orderBy(col("cohort"), col("wk"))
      },
      Some("""WITH su AS (
          SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
          FROM events GROUP BY user_id),
        act AS (
          SELECT DISTINCT su.cohort, e.user_id,
                 CAST(date_diff('day', su.cohort,
                   CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INTEGER) AS wk
          FROM events e JOIN su USING (user_id)),
        sizes AS (
          SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
          FROM su GROUP BY cohort)
        SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort, a.wk,
               CAST(count(*) AS BIGINT) AS n_active, s.cohort_users,
               CAST(count(*) AS DOUBLE) / s.cohort_users AS retention
        FROM act a JOIN sizes s USING (cohort)
        GROUP BY a.cohort, a.wk, s.cohort_users
        ORDER BY cohort, wk""")),

    // ------------------------------------------------------------------
    // q80: RANGE window frames — the time-based sibling of q69's ROWS
    // frame, and semantically different wherever the calendar has
    // gaps: RANGE looks back 6 DAYS of value distance, ROWS 6
    // physical rows, so after a missing day the two diverge. Ordered
    // on an integer day number so both engines run the same numeric
    // RANGE spec (Spark's rangeBetween and DuckDB's RANGE PRECEDING
    // agree on longs; interval frames would drag timestamp typing
    // into the compare). Same post-aggregation O(|days|) shape as q69.
    Q("q80_range_frame",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("d"))
          .agg(sum(dec(col("o_totalprice"))).as("rev"))
          .select(
            date_format(col("d"), "yyyy-MM-dd").as("sales_date"),
            datediff(col("d"), lit("1992-01-01").cast("date"))
              .cast("long").as("day_num"),
            col("rev"))
        val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
        daily
          .select(col("sales_date"), dbl(col("rev")).as("revenue"),
            dbl(sum(col("rev")).over(w)).as("rev_7d_range"),
            count(lit(1)).over(w).as("n_days_present"))
          .orderBy(col("sales_date"))
      },
      Some("""WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
          FROM orders GROUP BY d),
        numbered AS (
          SELECT strftime(d, '%Y-%m-%d') AS sales_date,
                 CAST(date_diff('day', DATE '1992-01-01', d) AS BIGINT) AS day_num,
                 rev
          FROM daily)
        SELECT sales_date,
               CAST(rev AS DOUBLE) AS revenue,
               CAST(sum(rev) OVER w AS DOUBLE) AS rev_7d_range,
               CAST(count(*) OVER w AS BIGINT) AS n_days_present
        FROM numbered
        WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY sales_date""")),

    // ------------------------------------------------------------------
    // q69: MOVING WINDOW frames (ROWS BETWEEN 6 PRECEDING AND CURRENT
    // ROW): 7-day trailing revenue sum/average over the daily rollup —
    // the frame-spec surface the reference never uses (SURVEY §2.5).
    // The trailing average is built as exact-decimal frame sum ÷ frame
    // count (not avg() over doubles) so it is order-exact on both
    // engines. Global window, but over the ~2.4k-row DAILY aggregate —
    // the post-aggregation shape that stays O(|days|) at any fact size.
    Q("q69_moving_avg",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(date_format(col("o_orderdate").cast("date"), "yyyy-MM-dd")
            .as("sales_date"))
          .agg(sum(dec(col("o_totalprice"))).as("rev"))
        val w = Window.orderBy(col("sales_date")).rowsBetween(-6, 0)
        daily
          .select(col("sales_date"), dbl(col("rev")).as("revenue"),
            dbl(sum(col("rev")).over(w)).as("rev_7d"),
            count(lit(1)).over(w).as("n_7d"))
          .withColumn("avg_7d", col("rev_7d") / col("n_7d"))
          .orderBy(col("sales_date"))
      },
      Some("""WITH daily AS (
          SELECT strftime(o_orderdate, '%Y-%m-%d') AS sales_date,
                 sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
          FROM orders GROUP BY sales_date)
        SELECT sales_date, CAST(rev AS DOUBLE) AS revenue,
               CAST(sum(rev) OVER w AS DOUBLE) AS rev_7d,
               CAST(count(*) OVER w AS BIGINT) AS n_7d,
               CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w AS avg_7d
        FROM daily
        WINDOW w AS (ORDER BY sales_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY sales_date""")),

    // ------------------------------------------------------------------
    // q117: LINK-GRAPH CENTRALITY (PageRank-style authority prior, 2
    // damped iterations) — the graph-derived quality prior web-corpus
    // curation uses for domain authority, demonstrated on the
    // customer↔part bipartite graph (distinct orders⋈lineitem edges).
    // All arithmetic is FIXED-POINT LONG micro-units (init 1e6/node,
    // rank' = 0.15e6 + 85·Σ(rank div deg) div 100) so shuffled partial
    // sums are exact and order-independent — the q90 quantization MO
    // applied to an iterative operator; the oracle replays the two
    // iterations CTE-for-CTE with `//`. Each half-step is one equi-join
    // on a node key + one shuffle agg — no driver state, no cross join;
    // at 100 TB each iteration is a fixed number of co-partitioned
    // shuffles. Overflow bound: rank mass is conserved at ≈ N·1.15e6
    // micro-units, so partial sums stay exact in Long for N up to ~1e12
    // nodes; beyond that rescale the unit per iteration (documented in
    // SCALING.md's overflow ledger pattern).
    Q("q117_link_centrality",
      (s, dir) => {
        val e = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, dir, "lineitem")
              .select(col("l_orderkey"), col("l_partkey")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .distinct()
          // materialize the edge set once (the DedupCluster iteration
          // pattern; blocks are freed when the caller drops the plan).
          // Within ONE query plan ReuseExchange already shares the
          // join+distinct across the half-steps — warm sf0.1 times are
          // equal either way (~2.4 s) — but the checkpoint cuts the
          // replanning of the shared subtree (cold 3.6 s vs 5.0 s) and
          // keeps the guarantee when a future edit breaks exchange
          // identity.
          .localCheckpoint()
        // r14: the customer-degree dim feeds BOTH ec-based half-steps
        // (p1 and p2 each embed `ec = e ⋈ dc`); without the checkpoint
        // each re-ran the full exchange+aggregation over the edge set.
        // O(|customers|) rows materialized once.
        val dc = e.groupBy(col("c")).agg(count(lit(1)).as("cdeg"))
          .localCheckpoint()
        val dp = e.groupBy(col("p")).agg(count(lit(1)).as("pdeg"))
        val ec = e.join(dc, "c")
        val p1 = ec.withColumn("contrib", expr("1000000L div cdeg"))
          .groupBy(col("p")).agg(sum(col("contrib")).as("sc"))
          .select(col("p"), expr("150000L + (85L * sc) div 100L").as("mu"))
        val c1 = e.join(p1, "p").join(dp, "p")
          .withColumn("contrib", expr("mu div pdeg"))
          .groupBy(col("c")).agg(sum(col("contrib")).as("sc"))
          .select(col("c"), expr("150000L + (85L * sc) div 100L").as("mu"))
        val p2 = ec.join(c1, "c")
          .withColumn("contrib", expr("mu div cdeg"))
          .groupBy(col("p")).agg(sum(col("contrib")).as("sc"))
          .select(col("p"), expr("150000L + (85L * sc) div 100L").as("mu"))
        // Distributed top-30 FIRST (TakeOrderedAndProject — the q116 MO):
        // orderBy+limit keeps per-partition top-30 heaps and merges 30-row
        // candidate sets, so the single-partition rank window below only
        // ever sees 30 survivors — never the full |parts| domain set.
        val top = p2.orderBy(col("mu").desc, col("p")).limit(30)
        val w = Window.orderBy(col("mu").desc, col("p"))
        top.withColumn("rnk", row_number().over(w).cast("long"))
          .select(i64(col("p")).as("part_id"), col("mu").as("centrality_mu"),
            (col("mu").cast("double") / 1000000.0).as("centrality"),
            col("rnk"))
          .orderBy(col("rnk"))
      },
      Some("""WITH e AS (
          SELECT DISTINCT o_custkey AS c, l_partkey AS p
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        dc AS (SELECT c, count(*) AS cdeg FROM e GROUP BY c),
        dp AS (SELECT p, count(*) AS pdeg FROM e GROUP BY p),
        p1 AS (
          SELECT e.p,
                 CAST(150000 + (85 * sum(1000000 // dc.cdeg)) // 100 AS BIGINT) AS mu
          FROM e JOIN dc ON e.c = dc.c GROUP BY e.p),
        c1 AS (
          SELECT e.c,
                 CAST(150000 + (85 * sum(p1.mu // dp.pdeg)) // 100 AS BIGINT) AS mu
          FROM e JOIN p1 ON e.p = p1.p JOIN dp ON e.p = dp.p GROUP BY e.c),
        p2 AS (
          SELECT e.p,
                 CAST(150000 + (85 * sum(c1.mu // dc.cdeg)) // 100 AS BIGINT) AS mu
          FROM e JOIN c1 ON e.c = c1.c JOIN dc ON e.c = dc.c GROUP BY e.p)
        SELECT CAST(p AS BIGINT) AS part_id, mu AS centrality_mu,
               CAST(mu AS DOUBLE) / 1000000.0 AS centrality,
               CAST(row_number() OVER (ORDER BY mu DESC, p) AS BIGINT) AS rnk
        FROM p2 QUALIFY rnk <= 30 ORDER BY rnk"""),
      doc = "Damped 2-iteration bipartite link centrality in exact fixed-point (authority prior)."),

    // ------------------------------------------------------------------
    // q140: HYPERLOGLOG DISTINCT SKETCH — active-customer cardinality
    // per order priority in m=256 registers ([[graft.functions.
    // HllSketch]], Flajolet et al. 2007): the industry-standard
    // fixed-size COUNT(DISTINCT) next to q88's KMV (k smallest VALUES,
    // unbiased but O(k) longs) — HLL keeps only max leading-zero RANKS,
    // merge = element-wise max, ~1.04/√m error at ANY cardinality.
    // Register state is a pure function of the key SET, so DuckDB
    // rebuilds identical registers relationally (GROUP BY bucket,
    // max(rank); rank via binary-string length — no libm). Keys hash
    // through md5 (the q48/q56 portability trick, 15 hex chars = 60
    // uniform bits): HLL's rank statistic reads the geometric TAIL of
    // the hash distribution, and the house polyhash∘affine family
    // measurably fails it (+24-34% inflation on consecutive-id keys —
    // see HllSketch's scaladoc). The harmonic sum is folded as the
    // EXACT integer Σ 2^(53−M[j]) (each term a power of two, ≤ 2^61),
    // leaving one literal-derived constant and one IEEE division —
    // deterministic on both engines. The small-range linear-counting
    // correction m·ln(m/V) is one [[graft.functions.MathLn]] call per
    // GROUP, micro-nat quantized (the q89/q90 libm convention);
    // `exact_distinct` is the verification fixture (at 100 TB the
    // sketch replaces exactly that corpus-sized distinct shuffle —
    // map-side combine sends one 2 KB register array per partition per
    // group instead).
    Q("q140_hll_distinct",
      (s, dir) => {
        import graft.functions.{HllSketch, MathLn}
        val hashed = t(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_custkey"),
            coalesce(HllSketch.hash60(col("o_custkey").cast("string")),
              lit(-1L)).as("ph"))
        hashed.groupBy(col("o_orderpriority"))
          .agg(HllSketch.hll(col("ph")).as("hll"),
            // exact distinct KEYS (not hashes): the fixture must catch
            // a collision-induced estimator error
            countDistinct(col("o_custkey")).as("exact_distinct"))
          .withColumn("hll_sum", expr(HllSketch.sumSql("hll")))
          .withColumn("zero_regs", expr(HllSketch.zerosSql("hll")).cast("long"))
          .select(col("o_orderpriority"), col("exact_distinct"),
            col("zero_regs"),
            expr(HllSketch.estRawSql("hll_sum")).as("est_raw"),
            when(col("zero_regs") > 0,
              floor(MathLn.ln(lit(HllSketch.M.toDouble) /
                col("zero_regs").cast("double")) * lit(256000000.0))
                .cast("long")).as("est_lc_micro"))
          .orderBy(col("o_orderpriority"))
      },
      Some(hllOracleSql),
      doc = "Mergeable HyperLogLog distinct sketch (exact-integer harmonic fold); exact_distinct is the fixture."),

    // ------------------------------------------------------------------
    // q142: SKETCH-MERGE ROLLUP, production face — build one HLL per
    // event type (distinct users), then fold the per-type REGISTER
    // ARRAYS into the global sketch with [[graft.functions.HllSketch
    // .hllMerge]] (element-wise max — union-of-sketches). This is the
    // 100 TB rollup pattern: per-day/per-source sketches persisted
    // once, every coarser rollup computed from O(sources·m) bytes of
    // state with NO second pass over rows. ONLY sketch passes here —
    // the exact_users fixtures and the in-row union==direct proof
    // (which needs a second events scan) live in the verificationOnly
    // twin q147, the q40/q41 MO: the production face is honest-by-
    // construction about what runs at scale. Only fixed-size register
    // arrays cross the rollup exchange (PlanSpec pins partial
    // aggregation; one 2 KB array per type). The scope key is
    // null-coalesced ('__null__') on BOTH engines so a NULL event type
    // can never fork engine vs oracle (the q140 grid lesson).
    Q("q142_sketch_rollup",
      (s, dir) => {
        import graft.functions.HllSketch
        val scope = coalesce(col("event_type"), lit("__null__"))
        val hashed = t(s, dir, "events")
          .select(scope.as("scope"),
            coalesce(HllSketch.hash60(col("user_id").cast("string")),
              lit(-1L)).as("ph"))
        // localCheckpoint: `per` feeds BOTH the per-type output rows and
        // the rollup, and constraint-propagation differences defeat
        // ReuseExchange across union/agg consumers (the q125 lesson) —
        // without it the events scan+agg runs twice. O(types) rows.
        val per = hashed.groupBy(col("scope"))
          .agg(HllSketch.hll(col("ph")).as("regs"))
          .localCheckpoint()
        // rollup: consumes the per-type SKETCHES, never the raw rows
        val allRow = per.agg(HllSketch.hllMerge(col("regs")).as("regs"))
          .select(lit("__all__").as("scope"), col("regs"))
        per.select(col("scope"), col("regs")).unionByName(allRow)
          .withColumn("hll_sum", expr(HllSketch.sumSql("regs")))
          .select(col("scope"),
            expr(HllSketch.zerosSql("regs")).cast("long").as("zero_regs"),
            expr(HllSketch.estRawSql("hll_sum")).as("est_users"))
          .orderBy(col("scope"))
      },
      Some(rollupOracleSql),
      doc = "HLL sketch-merge rollup, production face: per-type sketches folded by element-wise register max, one events pass; exact fixtures + union==direct proof in verificationOnly twin q147."),

    // ------------------------------------------------------------------
    // q144: KMV SET-OPERATION ESTIMATES, production face — the
    // Theta-sketch question (audience overlap: |A∪B|, |A∩B|, Jaccard,
    // both differences between segments) answered at fixed size from
    // per-type k-min sketches: one events pass builds the sketches,
    // then [[kmvPairEstimates]] (the shared estimator — math and
    // citations there) prices every pair from O(types²·k) array ops.
    // NOTHING ELSE runs: the exact union/intersection/difference
    // fixtures — corpus-sized distinct-join shuffles at 100 TB — live
    // in the verificationOnly twin q146 (the q40/q41 MO). All state is
    // a pure function of the input sets (k-min + sorted arrays), so
    // DuckDB rebuilds the sketches relationally and the estimates
    // hash-match.
    Q("q144_kmv_setops",
      (s, dir) => {
        import graft.functions.{Affine61, KmvSketch, PolyHash61Str}
        val scope = coalesce(col("event_type"), lit("__null__"))
        val e = t(s, dir, "events")
          .select(scope.as("t"),
            coalesce(Affine61.affine61(
              PolyHash61Str.polyHash61Str(col("user_id").cast("string")),
              setA, setB), lit(-1L)).as("h"))
        val sk = e.groupBy(col("t"))
          .agg(KmvSketch.kmvSketch(col("h"), SetK).as("kmv"))
        kmvPairEstimates(sk)
          .select(col("type_a"), col("type_b"),
            col("est_union"), col("est_intersection"), col("est_jaccard"),
            col("est_diff_ab"), col("est_diff_ba"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(kmvSetOpsOracleSql),
      doc = "KMV set-operation estimates per type pair (union/intersection/Jaccard/differences at fixed size, Beyer et al. k-min synopses), sketch passes only; exact fixtures in verificationOnly twin q146."),

    // ------------------------------------------------------------------
    // q145: SKETCHSTORE ABSORB→ROLLUP UNDER THE ORACLE — the persisted
    // sketch tier's production path as a registry query (the q143
    // precedent: persisted state belongs under the gate). The events
    // table is absorbed into a fresh [[SketchStore]] as three
    // DETERMINISTIC batches (event_id mod 3) plus an at-least-once
    // REPLAY of batch 0, then per-scope and global rollups are computed
    // FROM STATE ONLY — megabytes of registers, no pass over the
    // absorbed rows. The oracle recomputes both sketch families
    // relationally from the RAW UNION (the q140/q144 replays): equality
    // proves end-to-end that state after batched absorption + replay is
    // the same pure function of the input multiset as a one-shot
    // build — the materialized-KPI pattern (reference init.sql's
    // analytics layer) done incrementally, exactly what runs at 100 TB.
    Q("q145_sketchstore_rollup",
      (s, dir) => storeScopeFaces(
        SketchStore.read(s, SketchStore.storeFor(s, dir))),
      Some(sketchStoreOracleSql),
      doc = "Persisted per-day sketch state: batched absorb (with at-least-once replay) then per-scope/global rollup from state only; oracle recomputes HLL registers and KMV k-mins relationally from the raw union."),

    // ------------------------------------------------------------------
    // q152: the STREAM-BUILT store under the oracle — the same rollup
    // faces as q145, but the state was ingested by Structured Streaming
    // ([[graft.streaming.EventStream.absorbToStore]]: file source, 3
    // micro-batches, foreachBatch sketch sink) instead of the batch
    // update() path. Because absorb is an idempotent, union-closed
    // algebra, state is a pure function of the input multiset REGARDLESS
    // of micro-batch boundaries — so the oracle is q145's VERBATIM
    // (which is itself the one-shot relational recompute from the raw
    // union), and a green row proves batch ingest == stream ingest ==
    // one-shot, cross-engine. verificationOnly: the ingest job priced
    // into this "query" (write events + run a stream to drain) is an
    // ingest-shaped cost by design — the production faces stay q145/
    // q149/q150, whose store is one memoized absorb per session.
    Q("q152_sketchstore_stream",
      (s, dir) => storeScopeFaces(
        SketchStore.read(s, SketchStore.streamStoreFor(s, dir))),
      Some(sketchStoreOracleSql),
      doc = "Proof twin of q145: the store is built by EventStream.absorbToStore (Structured Streaming foreachBatch ingest) and must roll up to the same oracle answer - stream == batch == one-shot, cross-engine. Ingest-shaped; production faces are q145/q149/q150.",
      verificationOnly = true),

    // ------------------------------------------------------------------
    // q149: the store's DAY-grain rollup — the time-series dashboard
    // face (distinct users per day, all scopes folded) from the same
    // persisted state as q145, one register fold per day partition.
    // With q145 (scope grain + global) this covers every grain the
    // state table supports; the absorb is shared via storeFor (built
    // once per session×dir — the production shape: one ingest job,
    // many dashboards).
    Q("q149_sketchstore_daily",
      (s, dir) => {
        val state = SketchStore.read(s, SketchStore.storeFor(s, dir))
        SketchStore.rollup(state, Seq("day"))
          .select(col("day"), col("zero_regs"), col("est_users"),
            col("est_lc_micro"), col("est_users_kmv"))
          .orderBy(col("day"))
      },
      Some(sketchStoreDailyOracleSql),
      doc = "Day-grain rollup from the persisted sketch store (distinct users per day from state only); oracle recomputes both families relationally per day from the raw union."),

    // ------------------------------------------------------------------
    // q150: AUDIENCE OVERLAP FROM STATE — SketchStore.setOpsFromState
    // under the DuckDB gate. Because kmv state is a pure set-min over
    // q144's exact hash family, the state-derived pairwise estimates
    // are BIT-IDENTICAL to q144's in-query ones — so the oracle is
    // q144's oracle VERBATIM, and a green row proves the store route
    // end-to-end: absorb → per-day k-mins → scope fold → shared
    // pairwise estimator == one-pass recompute. SketchStoreSpec pins
    // the same equality engine-side; this row pins it cross-engine.
    Q("q150_sketchstore_setops",
      (s, dir) => {
        val state = SketchStore.read(s, SketchStore.storeFor(s, dir))
        SketchStore.setOpsFromState(state)
          .select(col("type_a"), col("type_b"),
            col("est_union"), col("est_intersection"), col("est_jaccard"),
            col("est_diff_ab"), col("est_diff_ba"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(kmvSetOpsOracleSql),
      doc = "Audience-overlap set algebra from durable sketch state (the q144 estimator over scope-folded per-day k-mins); oracle is q144's verbatim - the two routes are provably bit-identical."),

    // ------------------------------------------------------------------
    // q146: verificationOnly exact twin of q144 — the same pairwise
    // estimates PLUS the exact union/intersection/difference columns
    // from a user-keyed distinct equi-join (inclusion-exclusion for the
    // union; per-type counts from the full frame so an all-NULL-user
    // type still pairs up with n = 0 — the q140 grid lesson). At 100×
    // these exact columns are the corpus-sized shuffle the sketch math
    // exists to avoid; they stay in the registry as the correctness
    // anchor for q144's estimates and are excluded from Bench.
    Q("q146_kmv_setops_exact",
      (s, dir) => {
        import graft.functions.{Affine61, KmvSketch, PolyHash61Str}
        val scope = coalesce(col("event_type"), lit("__null__"))
        val e = t(s, dir, "events")
          .select(scope.as("t"), col("user_id"),
            coalesce(Affine61.affine61(
              PolyHash61Str.polyHash61Str(col("user_id").cast("string")),
              setA, setB), lit(-1L)).as("h"))
        val sk = e.groupBy(col("t"))
          .agg(KmvSketch.kmvSketch(col("h"), SetK).as("kmv"))
        val est = kmvPairEstimates(sk)
        val users = e.filter(col("user_id").isNotNull)
          .select(col("t"), col("user_id")).distinct().localCheckpoint()
        val ua = users.select(col("t").as("type_a"), col("user_id"))
        val ub = users.select(col("t").as("type_b"), col("user_id"))
        val exInter = ua.join(ub,
            Seq("user_id")).filter(col("type_a") < col("type_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(count(lit(1)).as("exact_intersection"))
        val cntA = e.groupBy(col("t"))
          .agg(countDistinct(col("user_id")).as("na"))
        val exU = cntA.select(col("t").as("type_a"), col("na"))
          .join(cntA.select(col("t").as("type_b"), col("na").as("nb")),
            col("type_a") < col("type_b"))
        est.join(exU, Seq("type_a", "type_b"))
          .join(exInter, Seq("type_a", "type_b"), "left")
          .withColumn("exact_intersection",
            coalesce(col("exact_intersection"), lit(0L)))
          .withColumn("exact_union",
            col("na") + col("nb") - col("exact_intersection"))
          .withColumn("exact_diff_ab", col("na") - col("exact_intersection"))
          .withColumn("exact_diff_ba", col("nb") - col("exact_intersection"))
          .select(col("type_a"), col("type_b"),
            col("est_union"), col("est_intersection"), col("est_jaccard"),
            col("est_diff_ab"), col("est_diff_ba"),
            col("exact_union"), col("exact_intersection"),
            col("exact_diff_ab"), col("exact_diff_ba"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(kmvSetOpsExactOracleSql),
      verificationOnly = true,
      doc = "Exact-fixture twin of q144: the same sketch estimates joined with exact union/intersection/differences from a distinct user-keyed join. Scale path is q144; this is its correctness anchor."),

    // ------------------------------------------------------------------
    // q147: verificationOnly proof twin of q142 — per-scope exact_users
    // fixtures AND the in-row union==direct flag: the '__all__' row
    // compares the MERGED per-scope registers against a sketch built
    // DIRECTLY over all rows (sketch-of-union). Equality is structural
    // (each register is a max over a partition of the same key set) and
    // is exactly the lemma that licenses q142/q145's rollup pattern —
    // proven end-to-end under the oracle here, at the cost of the
    // second events scan the production face refuses to pay.
    Q("q147_sketch_rollup_proof",
      (s, dir) => {
        import graft.functions.HllSketch
        val scope = coalesce(col("event_type"), lit("__null__"))
        val hashed = t(s, dir, "events")
          .select(scope.as("scope"), col("user_id"),
            coalesce(HllSketch.hash60(col("user_id").cast("string")),
              lit(-1L)).as("ph"))
        val per = hashed.groupBy(col("scope"))
          .agg(HllSketch.hll(col("ph")).as("regs"),
            countDistinct(col("user_id")).as("exact_users"))
          .localCheckpoint()
        val merged = per.agg(HllSketch.hllMerge(col("regs")).as("regs"))
        val direct = hashed.agg(HllSketch.hll(col("ph")).as("dregs"),
          countDistinct(col("user_id")).as("exact_users"))
        val allRow = merged.crossJoin(direct)
          .select(lit("__all__").as("scope"), col("regs"),
            col("exact_users"),
            (col("regs") === col("dregs")).cast("long")
              .as("union_equals_direct"))
        val perRows = per.select(col("scope"), col("regs"),
          col("exact_users"),
          lit(null).cast("long").as("union_equals_direct"))
        perRows.unionByName(allRow)
          .withColumn("hll_sum", expr(HllSketch.sumSql("regs")))
          .select(col("scope"), col("exact_users"),
            expr(HllSketch.zerosSql("regs")).cast("long").as("zero_regs"),
            expr(HllSketch.estRawSql("hll_sum")).as("est_users"),
            col("union_equals_direct"))
          .orderBy(col("scope"))
      },
      Some(rollupProofOracleSql),
      verificationOnly = true,
      doc = "Proof twin of q142: exact_users fixtures + in-row union-of-sketches == sketch-of-union flag (needs a second events scan). Scale path is q142/q145.")
  )

  /** The q149 oracle: the q145 replay at DAY grain — per-day HLL
    * registers and KMV k-mins recomputed relationally from the raw
    * events (strftime day key, the established date_format parity).
    */
  private def sketchStoreDailyOracleSql: String = {
    import graft.functions.{HllSketch, MulMod61}
    val m = HllSketch.M
    val rmax = HllSketch.WBits + 1
    val k = SetK
    s"""WITH e AS (
        SELECT coalesce(strftime(ts, '%Y-%m-%d'), '__null__') AS day,
               CAST(user_id AS VARCHAR) AS ks
        FROM events),
      h AS (
        SELECT day, ks, CAST(${HllSketch.sqlHash60("ks")} AS BIGINT) AS ph
        FROM e WHERE ks IS NOT NULL),
      r AS (
        SELECT day, ph % $m AS bucket,
               CASE WHEN ph // $m = 0 THEN $rmax
                    ELSE $rmax - length(format('{:b}', ph // $m)) END AS rho
        FROM h),
      regs AS (
        SELECT day, bucket, max(rho) AS mr FROM r GROUP BY day, bucket),
      grid AS (
        SELECT day, j
        FROM (SELECT DISTINCT day FROM e),
             (SELECT unnest(range(0, $m)) AS j)),
      fullregs AS (
        SELECT grid.day, grid.j, coalesce(regs.mr, 0) AS mr
        FROM grid LEFT JOIN regs
          ON regs.day = grid.day AND regs.bucket = grid.j),
      s AS (
        SELECT day,
               CAST(sum(1::BIGINT << CAST($rmax - mr AS INTEGER)) AS BIGINT)
                 AS hsum,
               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_regs
        FROM fullregs GROUP BY day),
      kh AS (
        SELECT DISTINCT day,
               CAST(($setA::HUGEINT * ${MulMod61.sqlPh61("ks")} + $setB)
                    % ${MulMod61.P} AS BIGINT) AS kv
        FROM e WHERE ks IS NOT NULL),
      kr AS (
        SELECT day, kv,
               row_number() OVER (PARTITION BY day ORDER BY kv) AS rn
        FROM kh),
      kc AS (
        SELECT day, CAST(count(*) AS BIGINT) AS n,
               max(CASE WHEN rn = $k THEN kv END) AS hk
        FROM kr GROUP BY day),
      kscope AS (
        SELECT g.day,
               CASE WHEN coalesce(kc.n, 0) < $k
                    THEN CAST(coalesce(kc.n, 0) AS DOUBLE)
                    ELSE ${k - 1}::DOUBLE * ${MulMod61.P}::DOUBLE
                         / CAST(kc.hk AS DOUBLE) END AS est_kmv
        FROM (SELECT DISTINCT day FROM e) g
        LEFT JOIN kc ON kc.day = g.day)
      SELECT s.day, zero_regs,
             ${HllSketch.estRawSql("hsum")} AS est_users,
             CASE WHEN zero_regs > 0 THEN
               CAST(floor(ln($m.0 / CAST(zero_regs AS DOUBLE))
                          * ${m}000000.0) AS BIGINT)
             END AS est_lc_micro,
             kscope.est_kmv AS est_users_kmv
      FROM s JOIN kscope ON kscope.day = s.day
      ORDER BY s.day"""
  }

  /** The q140 oracle: rebuild the 256 HLL registers relationally — same
    * md5 60-bit key hash, bucket = low 8 bits, rank = 53 − bit-length of
    * the high bits (binary-string length, no libm) — then the same exact
    * integer shift-sum, one constant chain, one division; linear
    * counting replays ln via DuckDB's libm (MathLn parity) micro-nat
    * quantized with floor-then-cast (the round-6 gotcha).
    */
  private def hllOracleSql: String = {
    import graft.functions.HllSketch
    val m = HllSketch.M
    val rmax = HllSketch.WBits + 1
    s"""WITH k AS (
        SELECT o_orderpriority, CAST(o_custkey AS VARCHAR) AS ks
        FROM orders WHERE o_custkey IS NOT NULL),
      h AS (
        SELECT o_orderpriority, ks,
               CAST(${HllSketch.sqlHash60("ks")} AS BIGINT) AS ph
        FROM k),
      r AS (
        SELECT o_orderpriority, ph % $m AS bucket,
               CASE WHEN ph // $m = 0 THEN $rmax
                    ELSE $rmax - length(format('{:b}', ph // $m)) END AS rho
        FROM h),
      regs AS (
        SELECT o_orderpriority, bucket, max(rho) AS mr
        FROM r GROUP BY o_orderpriority, bucket),
      grid AS (
        -- grid groups come from ORDERS, not k: a priority whose custkeys
        -- are ALL NULL must still emit a row (empty registers,
        -- exact_distinct 0) exactly as the Spark groupBy does — deriving
        -- the grid from k (custkey IS NOT NULL) would drop it
        SELECT o_orderpriority, j
        FROM (SELECT DISTINCT o_orderpriority FROM orders),
             (SELECT unnest(range(0, $m)) AS j)),
      fullregs AS (
        SELECT grid.o_orderpriority, grid.j, coalesce(regs.mr, 0) AS mr
        FROM grid LEFT JOIN regs
          ON regs.o_orderpriority = grid.o_orderpriority
         AND regs.bucket = grid.j),
      s AS (
        SELECT o_orderpriority,
               CAST(sum(1::BIGINT << CAST($rmax - mr AS INTEGER)) AS BIGINT)
                 AS hsum,
               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_regs
        FROM fullregs GROUP BY o_orderpriority),
      x AS (
        SELECT o_orderpriority,
               CAST(count(DISTINCT ks) AS BIGINT) AS exact_distinct
        FROM k GROUP BY o_orderpriority)
      SELECT s.o_orderpriority,
             CAST(coalesce(exact_distinct, 0) AS BIGINT) AS exact_distinct,
             zero_regs,
             ${HllSketch.estRawSql("hsum")} AS est_raw,
             CASE WHEN zero_regs > 0 THEN
               CAST(floor(ln($m.0 / CAST(zero_regs AS DOUBLE))
                          * 256000000.0) AS BIGINT)
             END AS est_lc_micro
      FROM s LEFT JOIN x USING (o_orderpriority)
      ORDER BY o_orderpriority"""
  }

  /** The q142 (production face) oracle: rebuild the per-scope registers
    * relationally (the q140 replay, grid from the raw table), fold the
    * global registers as a max over the per-scope grid, and emit the
    * same (zero_regs, raw-estimate) pair per row.
    */
  private def rollupOracleSql: String = {
    import graft.functions.HllSketch
    val m = HllSketch.M
    val rmax = HllSketch.WBits + 1
    s"""WITH e AS (
        SELECT coalesce(event_type, '__null__') AS scope,
               CAST(user_id AS VARCHAR) AS ks
        FROM events),
      h AS (
        SELECT scope, ks, CAST(${HllSketch.sqlHash60("ks")} AS BIGINT) AS ph
        FROM e WHERE ks IS NOT NULL),
      r AS (
        SELECT scope, ph % $m AS bucket,
               CASE WHEN ph // $m = 0 THEN $rmax
                    ELSE $rmax - length(format('{:b}', ph // $m)) END AS rho
        FROM h),
      regs AS (
        SELECT scope, bucket, max(rho) AS mr FROM r GROUP BY scope, bucket),
      grid AS (
        SELECT scope, j
        FROM (SELECT DISTINCT scope FROM e),
             (SELECT unnest(range(0, $m)) AS j)),
      fullregs AS (
        SELECT grid.scope, grid.j, coalesce(regs.mr, 0) AS mr
        FROM grid LEFT JOIN regs
          ON regs.scope = grid.scope AND regs.bucket = grid.j),
      s AS (
        SELECT scope,
               CAST(sum(1::BIGINT << CAST($rmax - mr AS INTEGER)) AS BIGINT)
                 AS hsum,
               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_regs
        FROM fullregs GROUP BY scope),
      merged AS (SELECT j, max(mr) AS mr FROM fullregs GROUP BY j),
      gs AS (
        SELECT CAST(sum(1::BIGINT << CAST($rmax - mr AS INTEGER)) AS BIGINT)
                 AS hsum,
               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_regs
        FROM merged)
      SELECT scope, zero_regs, ${HllSketch.estRawSql("hsum")} AS est_users
      FROM s
      UNION ALL
      SELECT '__all__' AS scope, zero_regs,
             ${HllSketch.estRawSql("hsum")} AS est_users
      FROM gs
      ORDER BY scope"""
  }

  /** The q147 (proof twin) oracle: the per-scope replay plus the global
    * registers computed BOTH ways — `merged` = max over the per-scope
    * register grid (union-of-sketches) and `dfull` = max over the raw
    * rows (sketch-of-union) — with their element-wise equality emitted
    * as the '__all__' row's flag, exactly as the Spark side compares
    * its two aggregators' outputs.
    */
  private def rollupProofOracleSql: String = {
    import graft.functions.HllSketch
    val m = HllSketch.M
    val rmax = HllSketch.WBits + 1
    s"""WITH e AS (
        SELECT coalesce(event_type, '__null__') AS scope,
               CAST(user_id AS VARCHAR) AS ks
        FROM events),
      h AS (
        SELECT scope, ks, CAST(${HllSketch.sqlHash60("ks")} AS BIGINT) AS ph
        FROM e WHERE ks IS NOT NULL),
      r AS (
        SELECT scope, ph % $m AS bucket,
               CASE WHEN ph // $m = 0 THEN $rmax
                    ELSE $rmax - length(format('{:b}', ph // $m)) END AS rho
        FROM h),
      regs AS (
        SELECT scope, bucket, max(rho) AS mr FROM r GROUP BY scope, bucket),
      grid AS (
        SELECT scope, j
        FROM (SELECT DISTINCT scope FROM e),
             (SELECT unnest(range(0, $m)) AS j)),
      fullregs AS (
        SELECT grid.scope, grid.j, coalesce(regs.mr, 0) AS mr
        FROM grid LEFT JOIN regs
          ON regs.scope = grid.scope AND regs.bucket = grid.j),
      s AS (
        SELECT scope,
               CAST(sum(1::BIGINT << CAST($rmax - mr AS INTEGER)) AS BIGINT)
                 AS hsum,
               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_regs
        FROM fullregs GROUP BY scope),
      x AS (
        SELECT scope, CAST(count(DISTINCT ks) AS BIGINT) AS exact_users
        FROM e GROUP BY scope),
      merged AS (SELECT j, max(mr) AS mr FROM fullregs GROUP BY j),
      dreg AS (SELECT bucket, max(rho) AS mr FROM r GROUP BY bucket),
      dfull AS (
        SELECT g.j, coalesce(dreg.mr, 0) AS mr
        FROM (SELECT unnest(range(0, $m)) AS j) g
        LEFT JOIN dreg ON dreg.bucket = g.j),
      eq AS (
        SELECT CAST(CASE WHEN bool_and(merged.mr = dfull.mr) THEN 1 ELSE 0 END
                    AS BIGINT) AS union_equals_direct
        FROM merged JOIN dfull ON merged.j = dfull.j),
      gs AS (
        SELECT CAST(sum(1::BIGINT << CAST($rmax - mr AS INTEGER)) AS BIGINT)
                 AS hsum,
               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_regs
        FROM merged),
      gx AS (SELECT CAST(count(DISTINCT ks) AS BIGINT) AS exact_users FROM e)
      SELECT scope, exact_users, zero_regs,
             ${HllSketch.estRawSql("hsum")} AS est_users,
             CAST(NULL AS BIGINT) AS union_equals_direct
      FROM s JOIN x USING (scope)
      UNION ALL
      SELECT '__all__' AS scope, gx.exact_users, gs.zero_regs,
             ${HllSketch.estRawSql("hsum")} AS est_users,
             eq.union_equals_direct
      FROM gs, gx, eq
      ORDER BY scope"""
  }

  /** The q144 (production face) oracle: rebuild each type's k-min
    * sketch relationally (DISTINCT hashes, row_number ≤ k), take the
    * union sample per pair with per-hash membership flags, and replay
    * the same estimators — one saturation CASE, one (a·b)/c chain,
    * literal-for-literal. Shares its CTE prefix with the q146 twin via
    * [[kmvSetOpsCtes]].
    */
  private def kmvSetOpsOracleSql: String =
    s"""WITH $kmvSetOpsCtes
      SELECT type_a, type_b, est_union,
             CASE WHEN ku > 0 THEN
               (CAST(common AS DOUBLE) * est_union) / CAST(ku AS DOUBLE)
             END AS est_intersection,
             CASE WHEN ku > 0 THEN
               CAST(common AS DOUBLE) / CAST(ku AS DOUBLE)
             END AS est_jaccard,
             CASE WHEN ku > 0 THEN
               (CAST(onlya AS DOUBLE) * est_union) / CAST(ku AS DOUBLE)
             END AS est_diff_ab,
             CASE WHEN ku > 0 THEN
               (CAST(onlyb AS DOUBLE) * est_union) / CAST(ku AS DOUBLE)
             END AS est_diff_ba
      FROM est
      ORDER BY type_a, type_b"""

  /** The shared q144/q146 CTE prefix: per-type k-min sketches, the
    * per-pair union sample with membership flags, the zero-user pair
    * grid restore, and the saturation-cased union estimate.
    */
  private def kmvSetOpsCtes: String = {
    import graft.functions.MulMod61
    val k = SetK
    s"""e AS (
        SELECT coalesce(event_type, '__null__') AS t,
               CAST(user_id AS VARCHAR) AS ks
        FROM events),
      hh AS (
        SELECT DISTINCT t,
               CAST(($setA::HUGEINT * ${MulMod61.sqlPh61("ks")} + $setB)
                    % ${MulMod61.P} AS BIGINT) AS h
        FROM e WHERE ks IS NOT NULL),
      sk AS (
        SELECT t, h FROM (
          SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
          FROM hh)
        WHERE rn <= $k),
      types AS (SELECT DISTINCT t FROM e),
      pairs AS (
        SELECT a.t AS type_a, b.t AS type_b
        FROM types a, types b WHERE a.t < b.t),
      su AS (
        SELECT p.type_a, p.type_b, s.h,
               max(CASE WHEN s.t = p.type_a THEN 1 ELSE 0 END) AS ina,
               max(CASE WHEN s.t = p.type_b THEN 1 ELSE 0 END) AS inb
        FROM pairs p JOIN sk s ON s.t = p.type_a OR s.t = p.type_b
        GROUP BY p.type_a, p.type_b, s.h),
      u AS (
        SELECT type_a, type_b, h, ina, inb,
               row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY type_a, type_b) AS mu
        FROM su),
      agg AS (
        SELECT type_a, type_b,
               CAST(max(mu) AS BIGINT) AS mu,
               CAST(least(max(mu), $k) AS BIGINT) AS ku,
               CAST(sum(CASE WHEN rn <= $k AND ina = 1 AND inb = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS common,
               CAST(sum(CASE WHEN rn <= $k AND ina = 1 AND inb = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS onlya,
               CAST(sum(CASE WHEN rn <= $k AND ina = 0 AND inb = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS onlyb,
               max(CASE WHEN rn = $k THEN h END) AS hk
        FROM u GROUP BY type_a, type_b),
      -- zero-user pairs never reach agg (no sketch rows): restore them
      -- with an empty sample so the Spark side's pair grid matches
      pfull AS (
        SELECT p.type_a, p.type_b,
               coalesce(mu, 0) AS mu, coalesce(ku, 0) AS ku,
               coalesce(common, 0) AS common,
               coalesce(onlya, 0) AS onlya, coalesce(onlyb, 0) AS onlyb, hk
        FROM pairs p LEFT JOIN agg
          ON agg.type_a = p.type_a AND agg.type_b = p.type_b),
      est AS (
        SELECT type_a, type_b, mu, ku, common, onlya, onlyb, hk,
               CASE WHEN mu < $k THEN CAST(mu AS DOUBLE)
                    ELSE ${k - 1}::DOUBLE * ${MulMod61.P}::DOUBLE
                         / CAST(hk AS DOUBLE) END AS est_union
        FROM pfull)"""
  }

  /** The q146 (exact twin) oracle: the shared sketch-estimate CTEs plus
    * the exact distinct-join fixtures (per-type counts, per-pair
    * intersection, inclusion-exclusion union).
    */
  private def kmvSetOpsExactOracleSql: String =
    s"""WITH $kmvSetOpsCtes,
      x AS (
        SELECT t, CAST(count(DISTINCT ks) AS BIGINT) AS n
        FROM e GROUP BY t),
      xi AS (
        SELECT a.t AS type_a, b.t AS type_b,
               CAST(count(*) AS BIGINT) AS exact_intersection
        FROM (SELECT DISTINCT t, ks FROM e WHERE ks IS NOT NULL) a
        JOIN (SELECT DISTINCT t, ks FROM e WHERE ks IS NOT NULL) b
          USING (ks)
        WHERE a.t < b.t GROUP BY a.t, b.t)
      SELECT est.type_a, est.type_b, est_union,
             CASE WHEN ku > 0 THEN
               (CAST(common AS DOUBLE) * est_union) / CAST(ku AS DOUBLE)
             END AS est_intersection,
             CASE WHEN ku > 0 THEN
               CAST(common AS DOUBLE) / CAST(ku AS DOUBLE)
             END AS est_jaccard,
             CASE WHEN ku > 0 THEN
               (CAST(onlya AS DOUBLE) * est_union) / CAST(ku AS DOUBLE)
             END AS est_diff_ab,
             CASE WHEN ku > 0 THEN
               (CAST(onlyb AS DOUBLE) * est_union) / CAST(ku AS DOUBLE)
             END AS est_diff_ba,
             xa.n + xb.n - coalesce(exact_intersection, 0) AS exact_union,
             coalesce(exact_intersection, 0) AS exact_intersection,
             xa.n - coalesce(exact_intersection, 0) AS exact_diff_ab,
             xb.n - coalesce(exact_intersection, 0) AS exact_diff_ba
      FROM est
      JOIN x xa ON xa.t = est.type_a
      JOIN x xb ON xb.t = est.type_b
      LEFT JOIN xi ON xi.type_a = est.type_a AND xi.type_b = est.type_b
      ORDER BY est.type_a, est.type_b"""

  /** The q145/q152 output shape — per-scope rollups plus the global
    * union row, from state only. ONE definition shared by the
    * batch-built (q145) and stream-built (q152) faces so they can't
    * fork: the two queries differ ONLY in which ingest path produced
    * the state they read.
    */
  private def storeScopeFaces(state: org.apache.spark.sql.DataFrame) = {
    val outCols = Seq(col("scope"), col("zero_regs"), col("est_users"),
      col("est_lc_micro"), col("est_users_kmv"))
    SketchStore.rollup(state, Seq("scope")).select(outCols: _*)
      .unionByName(SketchStore.rollup(state, Seq.empty)
        .select((lit("__all__").as("scope") +: outCols.tail): _*))
      .orderBy(col("scope"))
  }

  /** The q145 oracle: recompute BOTH persisted sketch families
    * relationally from the RAW events union — per-scope and global HLL
    * registers (the q140 replay, with the linear-counting branch) and
    * per-scope and global KMV k-mins (the q144 replay) — proving the
    * batched absorb + at-least-once replay left state identical to a
    * one-shot build over the same multiset.
    */
  private def sketchStoreOracleSql: String = {
    import graft.functions.{HllSketch, MulMod61}
    val m = HllSketch.M
    val rmax = HllSketch.WBits + 1
    val k = SetK
    s"""WITH e AS (
        SELECT coalesce(event_type, '__null__') AS scope,
               CAST(user_id AS VARCHAR) AS ks
        FROM events),
      h AS (
        SELECT scope, ks, CAST(${HllSketch.sqlHash60("ks")} AS BIGINT) AS ph
        FROM e WHERE ks IS NOT NULL),
      r AS (
        SELECT scope, ph % $m AS bucket,
               CASE WHEN ph // $m = 0 THEN $rmax
                    ELSE $rmax - length(format('{:b}', ph // $m)) END AS rho
        FROM h),
      regs AS (
        SELECT scope, bucket, max(rho) AS mr FROM r GROUP BY scope, bucket),
      grid AS (
        SELECT scope, j
        FROM (SELECT DISTINCT scope FROM e),
             (SELECT unnest(range(0, $m)) AS j)),
      fullregs AS (
        SELECT grid.scope, grid.j, coalesce(regs.mr, 0) AS mr
        FROM grid LEFT JOIN regs
          ON regs.scope = grid.scope AND regs.bucket = grid.j),
      s AS (
        SELECT scope,
               CAST(sum(1::BIGINT << CAST($rmax - mr AS INTEGER)) AS BIGINT)
                 AS hsum,
               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_regs
        FROM fullregs GROUP BY scope),
      merged AS (SELECT j, max(mr) AS mr FROM fullregs GROUP BY j),
      gs AS (
        SELECT CAST(sum(1::BIGINT << CAST($rmax - mr AS INTEGER)) AS BIGINT)
                 AS hsum,
               CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_regs
        FROM merged),
      kh AS (
        SELECT DISTINCT scope,
               CAST(($setA::HUGEINT * ${MulMod61.sqlPh61("ks")} + $setB)
                    % ${MulMod61.P} AS BIGINT) AS kv
        FROM e WHERE ks IS NOT NULL),
      kr AS (
        SELECT scope, kv,
               row_number() OVER (PARTITION BY scope ORDER BY kv) AS rn
        FROM kh),
      kc AS (
        SELECT scope, CAST(count(*) AS BIGINT) AS n,
               max(CASE WHEN rn = $k THEN kv END) AS hk
        FROM kr GROUP BY scope),
      kscope AS (
        SELECT g.scope,
               CASE WHEN coalesce(kc.n, 0) < $k
                    THEN CAST(coalesce(kc.n, 0) AS DOUBLE)
                    ELSE ${k - 1}::DOUBLE * ${MulMod61.P}::DOUBLE
                         / CAST(kc.hk AS DOUBLE) END AS est_kmv
        FROM (SELECT DISTINCT scope FROM e) g
        LEFT JOIN kc ON kc.scope = g.scope),
      gkr AS (
        SELECT kv, row_number() OVER (ORDER BY kv) AS rn
        FROM (SELECT DISTINCT kv FROM kh)),
      gk AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               max(CASE WHEN rn = $k THEN kv END) AS hk
        FROM gkr),
      gkv AS (
        SELECT CASE WHEN n < $k THEN CAST(n AS DOUBLE)
                    ELSE ${k - 1}::DOUBLE * ${MulMod61.P}::DOUBLE
                         / CAST(hk AS DOUBLE) END AS est_kmv
        FROM gk)
      SELECT s.scope, zero_regs,
             ${HllSketch.estRawSql("hsum")} AS est_users,
             CASE WHEN zero_regs > 0 THEN
               CAST(floor(ln($m.0 / CAST(zero_regs AS DOUBLE))
                          * ${m}000000.0) AS BIGINT)
             END AS est_lc_micro,
             kscope.est_kmv AS est_users_kmv
      FROM s JOIN kscope ON kscope.scope = s.scope
      UNION ALL
      SELECT '__all__' AS scope, gs.zero_regs,
             ${HllSketch.estRawSql("hsum")} AS est_users,
             CASE WHEN gs.zero_regs > 0 THEN
               CAST(floor(ln($m.0 / CAST(gs.zero_regs AS DOUBLE))
                          * ${m}000000.0) AS BIGINT)
             END AS est_lc_micro,
             gkv.est_kmv AS est_users_kmv
      FROM gs, gkv
      ORDER BY scope"""
  }
}
