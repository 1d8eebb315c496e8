package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed and time budget, the
  * tracer (disabled in untraced runs) and where it may write.
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    tracer: Tracer, work: String, testdata: String, expected: String,
    capture: Boolean, sessionStartS: Double)

/** One run of one workload:
  *
  *   perfbench.Main --workload <elt_daily|query_mix|corpus_curation>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *     --testdata <sf dir> --expected <json> [--trace-out <json>]
  *     [--cpus <n>] [--capture]
  *
  * Prints one line per metric, then the result object as the last line.
  * `--capture` rewrites the expected query_mix results instead of
  * checking them.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Layers.Workloads.contains(workload),
      s"unknown workload $workload (one of ${Layers.Workloads.mkString(", ")})")
    val trace = need("trace") == "1"
    val cpus = opts.getOrElse("cpus", "4")

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(cpus)
    val ctx = Ctx(spark, need("seed").toLong, need("seconds").toDouble,
      new Tracer(trace, spark), need("work"), need("testdata"),
      need("expected"), args.contains("--capture"), Stats.secondsSince(t0))

    val report = new Report(workload)
    var code = 0
    try {
      val extras = workload match {
        case "elt_daily" => Elt.run(ctx, report)
        case "query_mix" => QueryMix.run(ctx, report)
        case "corpus_curation" => Corpus.run(ctx, report)
      }
      println(f"$workload [info] heap_peak_mb = ${Stats.heapPeakMb()}%.1f MB")
      if (trace) {
        val timed = report.metrics.toMap
        report.metrics.clear()
        ctx.tracer.listener.foreach(_.quiesce())
        Layers.fold(report, ctx.tracer, extras)
        opts.get("trace-out").foreach(p =>
          ctx.tracer.writeJson(java.nio.file.Paths.get(p)))
        // compare with an untraced run's figures for the tracing overhead
        println(s"$workload end-to-end metrics under tracing: " +
          timed.map { case (n, (v, u)) => f"$n=$v%.4f $u" }.mkString(", "))
      }
      report.summaryLines.foreach(println)
      val jvmS = (System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      println(f"$workload [info] jvm_wall_s = $jvmS%.1f s")
      report.problems.foreach(p => println(s"$workload INCORRECT: $p"))
      println(s"$workload correct = ${report.problems.isEmpty}")
      println(report.json)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    }
    // End the JVM without SparkContext.stop: a cancelled query's tasks can
    // run on long after their job group was cancelled, and stop waits for
    // them. Every file the run wrote is under --work, which the caller
    // deletes.
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}
