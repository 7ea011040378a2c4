package perfbench

import java.nio.file.{Files, Paths}

/**
 * `perfbench.Main --run-dir D --workload W --seed N --seconds S --trace 0|1`
 * runs one workload and prints a report followed by one result line:
 * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{"value":…,"unit":…}}}`.
 * `--self-test` runs the benchmark's own tests instead.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val dir = Paths.get(opts.getOrElse("--run-dir", sys.error("--run-dir is required")))
    Files.createDirectories(dir)
    if (args.contains("--self-test")) { SelfTest.run(dir); return }
    val conf = RunConf(
      workload = opts("--workload"),
      seed = opts.getOrElse("--seed", "1").toLong,
      seconds = opts.getOrElse("--seconds", "10").toInt,
      trace = opts.getOrElse("--trace", "0") == "1",
      dir = dir,
      traceDir = opts.get("--trace-dir").map(Paths.get(_)))
    Memory.start()
    val (spark, sessionS) = Common.timed(Common.session(dir))
    spark.sparkContext.setLogLevel("ERROR")
    Common.log(f"session started in $sessionS%.2f s")
    val out = new Outcome
    try conf.workload match {
      case "serve_reads" => ServeReads.run(spark, conf, out, sessionS)
      case "change_stream" => ChangeStream.run(spark, conf, out, sessionS)
      case "dedup_batch" => DedupBatch.run(spark, conf, out, sessionS)
      case w => sys.error(s"unknown workload $w")
    } finally spark.stop()
    Common.log("session stopped")
    val (heap, native) = (Memory.heapAfterGcPeakMb, Memory.nativePeakMb)
    out.report += f"${"peak_mem_mb"}%-28s ${heap + native}%.1f MB  (heap after GC, largest $heap%.1f + native $native%.1f; resident set peak ${Memory.peakRssMb}%.1f)"
    out.report += f"${"error_rate"}%-28s ${out.errorRate}%.6f  (${out.failed.get} of ${out.attempted.get} operations failed a check)"
    out.errors.foreach(e => out.report += s"  check failed: $e")
    if (!conf.trace) out.metric("peak_mem_mb", heap + native, "MB")
    println(s"== ${conf.workload} seed=${conf.seed} seconds=${conf.seconds} trace=${if (conf.trace) 1 else 0} cores=${Common.Cores}")
    out.report.foreach(println)
    val metrics = out.metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${out.failed.get == 0},"attempted":${out.attempted.get},""" +
      s""""failed":${out.failed.get},"metrics":{$metrics}}""")
  }

  /** Full precision; JSON has no NaN or infinity, so those become null. */
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
