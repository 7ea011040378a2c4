package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One timed layer call: `parent` is the enclosing span on the same thread
  * (0 at the top), `op` the workload operation it served. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span (exclusive of its children). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var busyMs = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; recordsRead += o.recordsRead
    shuffleBytes += o.shuffleBytes; busyMs += o.busyMs
  }
}

/** Counts jobs, tasks, input records, shuffle bytes and task run time per
  * span. Jobs carry the submitting thread's innermost span id as a local
  * property; every stage of a job, and so every task, belongs to it. */
final class SpanListener extends SparkListener {
  private val stageSpan = TrieMap.empty[Int, Long]
  private val counters = TrieMap.empty[Long, Counters]

  private def of(span: Long): Counters = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageSpan(_) = span)
    val c = of(span)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrElse(e.stageId, 0L))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.busyMs += m.executorRunTime
      }
    }
  }

  def forSpan(span: Long): Counters = counters.getOrElse(span, new Counters)
  def total: Counters = { val t = new Counters; counters.values.foreach(t += _); t }
}

/**
 * Span recorder for the traced run. Spans are kept in memory and written
 * out once, at the end; a disabled tracer runs the body and records
 * nothing, so the untraced run pays one branch per layer call.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val notes = TrieMap.empty[(Long, String), Double]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  val listener: Option[SpanListener] =
    if (enabled) {
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  def span[T](name: String, op: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val sc = spark.sparkContext
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        recorded.add(Span(id, outer.headOption.getOrElse(0L), op, name, t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanKey, outer.headOption.map(_.toString).orNull)
      }
    }

  private val instrumentNs = new AtomicLong(0)

  /** Run work that only a traced phase does, to measure something (a
    * count, a walk of the store or of a plan), and add its time to
    * [[instrumentS]], which the overhead comparison leaves out. */
  def instrument[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally instrumentNs.addAndGet(System.nanoTime() - t0)
  }
  def instrumentS: Double = instrumentNs.get / 1e9

  /** Attach a measured value to the innermost open span of this thread. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.get().headOption.foreach(id => notes((id, key)) = value)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)
  def noteOf(span: Long, key: String): Option[Double] = notes.get((span, key))
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Rolled-up view of a finished trace. */
  final class Analysis(tracer: Tracer) {
    val spans: Seq[Span] = tracer.spans
    private val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
    private val listener = tracer.listener.get

    def named(name: String): Seq[Span] = spans.filter(_.name == name)

    /** Counters of a span and all its descendants. */
    def inclusive(s: Span): Counters = {
      val c = new Counters
      c += listener.forSpan(s.id)
      children.getOrElse(s.id, Nil).foreach(k => c += inclusive(k))
      c
    }

    /** Duration minus the part of the interval its children cover. */
    def selfNs(s: Span): Long = {
      val ks = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ks.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.durNs - covered
    }

    def note(s: Span, key: String): Option[Double] = tracer.noteOf(s.id, key)
  }

  /** Parquet files the executed plan of an already-run DataFrame listed. */
  def filesRead(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** One JSON object per span, with its own (exclusive) Spark counters and
    * notes; times in nanoseconds since the first span started. */
  def write(a: Analysis, tracer: Tracer, path: java.nio.file.Path): Unit = {
    val t0 = if (a.spans.isEmpty) 0L else a.spans.map(_.startNs).min
    val w = java.nio.file.Files.newBufferedWriter(path)
    try a.spans.foreach { s =>
      val c = tracer.listener.get.forSpan(s.id)
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${esc(s.name)}",""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},"self_ns":${a.selfNs(s)},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"records_read":${c.recordsRead},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"task_busy_ms":${c.busyMs}}""")
      w.newLine()
    } finally w.close()
  }
}
