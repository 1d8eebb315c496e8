package perfbench

import scala.collection.mutable

object Stats {
  /** Median with the midpoint rule for even counts. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p90/p99/p999 that has at least ten samples beyond it,
    * as (label, value); None when fewer than 100 samples exist.
    */
  def tail(xs: Seq[Double]): Option[(String, Double)] = {
    val s = xs.sorted
    Seq(("p999", 0.999), ("p99", 0.99), ("p90", 0.9))
      .find { case (_, q) => s.length * (1 - q) >= 10 - 1e-9 }
      .map { case (l, q) => l -> s(math.min(s.length - 1, (q * s.length).toInt)) }
  }

  def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024.0 * 1024.0)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }
}

/** What one run measured: operation counts, correctness problems, the
  * end-to-end metrics and, for a traced run, the per-layer metrics.
  */
final class Report(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private val infos = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def check(ps: Seq[String]): Unit = problems ++= ps

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** A timing reported as its median, with every sample kept for the
    * human-readable summary line.
    */
  def putTiming(name: String, xs: Seq[Double]): Unit = {
    samples(name) = xs
    put(name, Stats.median(xs), "s")
  }

  /** A timing printed in the summary but not part of the result object. */
  def info(name: String, xs: Seq[Double]): Unit = infos(name) = xs

  private def described(xs: Seq[Double]): String = {
    val t = Stats.tail(xs).map { case (l, x) => f" $l=$x%.4f" }.getOrElse("")
    s" (median of n=${xs.length}$t)"
  }

  def summaryLines: Seq[String] =
    metrics.toSeq.map { case (n, (v, u)) =>
      f"$workload%s $n%s = $v%.6f $u%s${samples.get(n).map(described).getOrElse("")}%s"
    } ++ infos.toSeq.collect { case (n, xs) if xs.nonEmpty =>
      f"$workload%s [info] $n%s = ${Stats.median(xs)}%.6f s${described(xs)}%s"
    }

  def json: String = {
    val ms = metrics.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${problems.isEmpty},"attempted":$attempted,"failed":$failed,"metrics":$ms}"""
  }
}

/** The per-layer metric names every traced run reports, and the fold of
  * spans plus listener counts into them. Layers a workload does not call
  * report zero work.
  */
object Layers {
  val Workloads = Seq("elt_daily", "query_mix", "corpus_curation")

  /** Plain layers: `<layer>.self_s`, `.jobs`, `.task_s`. */
  val Plain = Seq("staging", "dims", "facts", "analytics", "dq",
    "scd2_merge", "keyed_refresh",
    "normalize_gate", "exact_dedup", "near_dup", "cluster_resolve",
    "span_dedup", "decontaminate_pack", "index_write",
    "probe_near", "probe_span", "assign_split")

  /** Registry modules: build/plan/exec phases instead of self time. */
  val Modules = Seq("core", "analytics_q", "text", "dedup", "vector",
    "datasplit", "training", "relational", "sketch_store", "views")
  val Phases = Seq("build", "plan", "exec")

  /** Layer-specific extras a workload measures itself, with units. */
  val Extras: Seq[(String, String)] = Seq(
    "staging.kept_ratio" -> "ratio",
    "facts.files_written" -> "count",
    "facts.bytes_written" -> "bytes",
    "scd2_merge.rows_closed" -> "count",
    "scd2_merge.rows_opened" -> "count",
    "near_dup.verified_ratio" -> "ratio",
    "cluster_resolve.rounds" -> "count",
    "index_write.files_written" -> "count",
    "index_write.bytes_written" -> "bytes",
    "probe_near.hit_ratio" -> "ratio")

  /** Every per-layer name with its unit, in output order. */
  val names: Seq[(String, String)] =
    Plain.flatMap(l => Seq(s"$l.self_s" -> "s", s"$l.jobs" -> "count",
      s"$l.task_s" -> "s")) ++
      Seq("analytics.shuffle_bytes" -> "bytes") ++
      Modules.flatMap(m => Phases.map(p => s"$m.${p}_s" -> "s") ++
        Seq(s"$m.jobs" -> "count", s"$m.task_s" -> "s",
          s"$m.shuffle_bytes" -> "bytes")) ++
      Extras ++
      Workloads.map(w => s"$w.unattributed_s" -> "s")

  /** Fold the traced run into `report`: self seconds and listener counts
    * per layer, `extras` as measured, the workload root spans' own self
    * time as `<workload>.unattributed_s`. Returns the traced wall, the
    * sum of the root spans' durations.
    */
  def fold(report: Report, tracer: Tracer,
      extras: collection.Map[String, Double]): Double = {
    val self = tracer.selfSeconds
    val listener = tracer.listener.get
    val selfBy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val countsBy = mutable.Map.empty[String, Counts]
    for (s <- tracer.all) {
      selfBy(s.name) += self(s.id)
      val layer = s.name.split('.').head
      countsBy.getOrElseUpdate(layer, new Counts).add(listener.countsOf(s.id))
    }
    def c(l: String) = countsBy.getOrElse(l, new Counts)
    val values = mutable.Map.empty[String, Double]
    Plain.foreach { l =>
      values(s"$l.self_s") = selfBy(l)
      values(s"$l.jobs") = c(l).jobs.toDouble
      values(s"$l.task_s") = c(l).taskNs / 1e9
    }
    values("analytics.shuffle_bytes") = c("analytics").shuffleBytes.toDouble
    Modules.foreach { m =>
      Phases.foreach(p => values(s"$m.${p}_s") = selfBy(s"$m.$p"))
      values(s"$m.jobs") = c(m).jobs.toDouble
      values(s"$m.task_s") = c(m).taskNs / 1e9
      values(s"$m.shuffle_bytes") = c(m).shuffleBytes.toDouble
    }
    Extras.foreach { case (n, _) => values(n) = extras.getOrElse(n, 0.0) }
    Workloads.foreach(w => values(s"$w.unattributed_s") = selfBy(w))
    names.foreach { case (n, u) => report.put(n, values(n), u) }
    val layered = (Plain.map(l => s"$l.self_s") ++
      Modules.flatMap(m => Phases.map(p => s"$m.${p}_s")) ++
      Workloads.map(w => s"$w.unattributed_s")).map(values).sum
    val wall = tracer.all.filter(_.parent == 0L).map(_.seconds).sum
    println(f"${report.workload}%s traced wall = $wall%.4f s; layer self " +
      f"times plus unattributed = $layered%.4f s")
    wall
  }

  /** Files and bytes under a directory tree, ignoring hidden/marker
    * files (`.crc`, `_SUCCESS`).
    */
  def filesAndBytes(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return (0L, 0L)
    val st = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      val files = st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) && !n.startsWith(".") &&
          !n.startsWith("_")
      }.toSeq
      (files.length.toLong, files.map(java.nio.file.Files.size).sum)
    } finally st.close()
  }
}
