package perfbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval around a call into a layer's public function.
  * `op` groups the spans of one benchmark operation (one day, one query,
  * one ingest batch); `parent` is the enclosing span (0 at the root).
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: the listener keys every job by the
  * `perfbench.span` local property that was set when it was submitted.
  */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs
    shuffleBytes += o.shuffleBytes; outputBytes += o.outputBytes
  }
}

/** Listener that charges jobs, tasks, summed executor run time and
  * shuffle/output bytes to the span active when each job was submitted.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val perSpan = new ConcurrentHashMap[Long, Counts]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  private def counts(span: Long): Counts =
    perSpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent.set(System.nanoTime())
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val c = counts(span)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent.set(System.nanoTime())
    val span = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val m = e.taskMetrics
    val c = counts(span)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskNs += m.executorRunTime * 1000000L
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Wait until the asynchronous listener bus has been quiet for a while,
    * so every task of the traced run is counted before the totals are read.
    */
  def quiesce(quietMs: Long = 1500, maxMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEvent.get() < quietMs * 1000000L &&
        System.nanoTime() < deadline) Thread.sleep(100)
  }

  def countsOf(span: Long): Counts =
    Option(perSpan.get(span)).getOrElse(new Counts)
}

/** In-memory span recorder. Disabled tracers run the body untouched, so
  * untraced runs pay nothing but a branch.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var currentOp = 0L
  val listener: Option[SpanListener] =
    if (enabled) {
      val l = new SpanListener
      sc.addSparkListener(l)
      Some(l)
    } else None

  /** Every noop write's planning as Spark's own tracker timed it: (start
    * of its first phase, summed analysis + optimization + planning), in
    * wall-clock milliseconds.
    */
  private val writePlanning = new LinkedBlockingQueue[(Long, Long)]()
  if (enabled) spark.listenerManager.register(new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit =
      if (funcName == "overwrite") {
        val phases = qe.tracker.phases.values
        if (phases.nonEmpty) writePlanning.put(
          (phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
      }
    def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      record(funcName, qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe)
  })

  /** Start a new operation id for the spans that follow. */
  def op(id: Long): Unit = currentOp = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, currentOp, start, end)
      }
    }

  /** Charge the planning of the noop write that started at `sinceMs`
    * (wall clock) and ran inside the span that closed last to a child span
    * `name` of that span. Waits for the listener bus to deliver it.
    */
  def chargePlanning(name: String, sinceMs: Long): Unit = if (enabled) {
    val exec = spans.last
    val deadline = System.nanoTime() + 5000000000L
    var got: Option[(Long, Long)] = None
    while (got.isEmpty && System.nanoTime() < deadline) {
      val p = writePlanning.poll(100, TimeUnit.MILLISECONDS)
      if (p != null && p._1 >= sinceMs) got = Some(p)
    }
    got.foreach { case (startMs, ms) =>
      val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val start = math.min(exec.endNs,
        math.max(exec.startNs, startMs * 1000000L + offsetNs))
      val end = math.min(exec.endNs, start + ms * 1000000L)
      spans += Span(nextId, name, exec.id, currentOp, start, end)
      nextId += 1
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the part of it that child spans cover. */
  def selfSeconds: Map[Long, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum
    }
    spans.map(s =>
      s.id -> ((s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)).toMap
  }

  /** Write every span, with the Spark work charged to it, as one JSON
    * array.
    */
  def writeJson(path: java.nio.file.Path): Unit = {
    val body = spans.map { s =>
      val c = listener.map(_.countsOf(s.id)).getOrElse(new Counts)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"task_ns":${c.taskNs},"shuffle_bytes":${c.shuffleBytes},"output_bytes":${c.outputBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}
