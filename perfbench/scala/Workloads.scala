package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession

/** Set-up cost of a run, split by layer; `materializeS` is the time to
  * build the workload's stores or load its corpus (a median where a run
  * builds more than once). */
final case class Setup(sessionS: Double, materializeS: Double, warmupS: Double) {
  def totalS: Double = sessionS + materializeS + warmupS
}

/** One measured phase: its tracer, wall time, operations and GC time.
  * `msPerOp` leaves out the measurement-only work of a traced phase. */
final case class Phase(tracer: Tracer, wallS: Double, ops: Long, gcMs: Long) {
  def msPerOp: Double = (wallS - tracer.instrumentS) * 1000 / math.max(1L, ops)
}

/**
 * The measured part every workload shares. An untraced run measures one
 * phase of `--seconds`; a traced run brackets a traced phase between two
 * untraced phases of half that each, so the tracing overhead is the ratio
 * of their wall time per operation in the same process.
 */
object Workloads {

  /** Closed loop: each of `clients` threads sends its next operation as
    * soon as the previous one returns, until the phase has lasted `seconds`
    * and each thread has done at least `minOps`. `op` gets the tracer, a
    * run-unique operation id and the client index. */
  def phase(spark: SparkSession, out: Outcome, tracing: Boolean, seconds: Double,
      clients: Int, minOps: Int)(op: (Tracer, Long, Int) => Unit): Phase = {
    val tracer = new Tracer(spark, tracing)
    out.phase = if (tracing) "traced." else ""
    val ops = new AtomicLong
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val gc0 = Common.gcMs
    val (_, wall) = Common.timed {
      val threads = (0 until clients).map { c =>
        val t = new Thread(() => {
          var mine = 0
          while (System.nanoTime() < deadline || mine < minOps) {
            op(tracer, ops.incrementAndGet(), c)
            mine += 1
          }
        }, s"client-$c")
        t.start(); t
      }
      threads.foreach(_.join())
    }
    tracer.drain()
    out.phase = ""
    Phase(tracer, wall, ops.get, Common.gcMs - gc0)
  }

  /** The untraced measurement (at least `minOps` operations per client)
    * and, in a traced run, the traced phase.
    *
    * A traced run measures untraced, traced, untraced, each for half of
    * `--seconds` and at least one operation. The process still warms up
    * from one operation to the next (`change_stream` batches get faster by
    * a fifth or more), so the returned untraced phase is the two untraced
    * phases together: compared with it, the traced phase in the middle
    * reads no faster or slower for a steady drift. */
  def measure(spark: SparkSession, conf: RunConf, out: Outcome, clients: Int, minOps: Int = 1)(
      op: (Tracer, Long, Int) => Unit): (Phase, Option[Phase]) =
    if (!conf.trace) (phase(spark, out, tracing = false, conf.seconds, clients, minOps)(op), None)
    else {
      val half = conf.seconds / 2.0
      val before = phase(spark, out, tracing = false, half, clients, 1)(op)
      val traced = phase(spark, out, tracing = true, half, clients, 1)(op)
      val after = phase(spark, out, tracing = false, half, clients, 1)(op)
      (Phase(after.tracer, before.wallS + after.wallS, before.ops + after.ops, before.gcMs + after.gcMs),
        Some(traced))
    }

  /**
   * Per-layer metrics every workload reports, from the traced phase: where
   * an operation's time goes (building DataFrames through the public API
   * versus running them), what Spark did for it, how busy the task slots
   * were, GC, set-up by layer, and the tracing overhead.
   */
  def layerMetrics(conf: RunConf, out: Outcome, setup: Setup,
      plain: Phase, traced: Phase, opSpan: String): Tracer.Analysis = {
    val a = new Tracer.Analysis(traced.tracer)
    val ops = a.named(opSpan)
    val kids = a.spans.groupBy(_.op)
    def perOp(f: Span => Double): Seq[Double] =
      ops.map(o => kids.getOrElse(o.op, Nil).map(f).sum)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val plan = perOp(s => if (s.name.endsWith(".plan")) s.durNs / 1e6 else 0.0)
    val inclusive = ops.map(a.inclusive)
    val files = perOp(s => a.note(s, "files_read").getOrElse(0.0))
    val busyMs = traced.tracer.listener.map(_.total.busyMs).getOrElse(0L)
    out.metric("op.wall_ms", Stats.median(ops.map(_.durNs / 1e6)), "ms")
    out.metric("op.plan_ms", Stats.median(plan), "ms")
    out.metric("op.exec_ms", Stats.median(ops.zip(plan).map { case (o, p) => o.durNs / 1e6 - p }), "ms")
    out.metric("op.spark_jobs", mean(inclusive.map(_.jobs.toDouble)), "count")
    out.metric("op.spark_tasks", mean(inclusive.map(_.tasks.toDouble)), "count")
    out.metric("op.records_read", mean(inclusive.map(_.recordsRead.toDouble)), "count")
    out.metric("op.shuffle_bytes", mean(inclusive.map(_.shuffleBytes.toDouble)), "B")
    out.metric("op.files_read", mean(files), "count")
    out.metric("spark.task_busy_share", busyMs / (traced.wallS * 1000 * Common.Cores), "ratio")
    out.metric("jvm.gc_ms_per_op", traced.gcMs.toDouble / math.max(1L, traced.ops), "ms")
    out.metric("setup.session_s", setup.sessionS, "s")
    out.metric("setup.materialize_s", setup.materializeS, "s")
    out.metric("setup.warmup_s", setup.warmupS, "s")
    out.metric("trace.overhead_pct", (traced.msPerOp / plain.msPerOp - 1) * 100, "%")
    out.report += f"${"trace.overhead_pct"}%-28s ${(traced.msPerOp / plain.msPerOp - 1) * 100}%.2f %%  (traced ${traced.msPerOp}%.2f ms/op over ${traced.ops} ops, less ${traced.tracer.instrumentS}%.3f s of measurement-only work, vs untraced ${plain.msPerOp}%.2f ms/op over ${plain.ops} ops before and after it, one process)"
    conf.traceDir.foreach { d =>
      java.nio.file.Files.createDirectories(d)
      val f = d.resolve(s"${conf.workload}-seed${conf.seed}-${System.currentTimeMillis()}.jsonl")
      Tracer.write(a, traced.tracer, f)
      out.report += s"spans written to $f (${a.spans.size} spans)"
    }
    a
  }

  /** Report line for one per-layer metric with the end-to-end metric it
    * should move. */
  def layer(out: Outcome, name: String, value: Double, unit: String, moves: String): Unit =
    out.report += f"$name%-52s $value%14.4f $unit%-6s -> $moves"

  /** The metrics of one read layer (`BucketedViewStore.<kind>`):
    * median plan and execution time, Spark jobs and files read per call,
    * and input records read per row served. */
  def readLayers(a: Tracer.Analysis, out: Outcome, kind: String, moves: String,
      layerName: String = "BucketedViewStore"): Unit = {
    val calls = a.named(s"$layerName.$kind")
    if (calls.nonEmpty) {
      val byParent = a.spans.groupBy(_.parent)
      def child(suffix: String) = calls.flatMap(c => byParent.getOrElse(c.id, Nil)
        .filter(_.name.endsWith(suffix)).map(_.durNs / 1e6))
      val inc = calls.map(a.inclusive)
      val rows = calls.map(c => a.note(c, "rows").getOrElse(0.0)).sum
      val n = calls.size.toDouble
      val p = s"$layerName.$kind"
      layer(out, s"$p.plan_ms", Stats.median(child(".plan")), "ms", moves)
      layer(out, s"$p.exec_ms", Stats.median(child(".exec")), "ms", moves)
      layer(out, s"$p.spark_jobs", inc.map(_.jobs).sum / n, "count", moves)
      layer(out, s"$p.files_read", calls.map(c => a.note(c, "files_read").getOrElse(0.0)).sum / n,
        "count", moves)
      layer(out, s"$p.records_read_per_row", inc.map(_.recordsRead).sum / math.max(1.0, rows),
        "ratio", moves)
      out.report += s"  ($p: ${calls.size} calls)"
    }
  }

  def setupLayers(out: Outcome, setup: Setup): Unit = {
    layer(out, "setup.session_s", setup.sessionS, "s", "setup_s")
    layer(out, "setup.materialize_s", setup.materializeS, "s", "setup_s")
    layer(out, "setup.warmup_s", setup.warmupS, "s", "setup_s")
  }
}
