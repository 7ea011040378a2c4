package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** What one run is asked to do. `dir` is run-scoped and deleted afterwards. */
final case class RunConf(workload: String, seed: Long, seconds: Int, trace: Boolean,
    dir: Path, traceDir: Option[Path])

/**
 * Everything a run measures and checks. Latency samples are kept per
 * series; every served result that is wrong counts as a failed operation.
 */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val series = TrieMap.empty[String, ConcurrentLinkedQueue[Double]]
  private val firstErrors = new ConcurrentLinkedQueue[String]()
  /** End-to-end metrics for the result line: name -> (value, unit). */
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Human-readable report lines printed before the result line. */
  val report = mutable.ArrayBuffer.empty[String]

  /** Prefix for the series of the phase being measured ("" untraced). */
  @volatile var phase: String = ""

  def sample(name: String, v: Double): Unit =
    series.getOrElseUpdate(phase + name, new ConcurrentLinkedQueue[Double]()).add(v)
  def samples(name: String): Seq[Double] =
    series.get(name).map(_.asScala.toSeq).getOrElse(Nil)

  /** Count one operation; `error` is None when its result checked out. */
  def check(error: Option[String]): Unit = {
    attempted.incrementAndGet()
    error.foreach { e =>
      failed.incrementAndGet()
      if (firstErrors.size < 5) firstErrors.add(e)
    }
  }
  def errors: Seq[String] = firstErrors.asScala.toSeq
  def errorRate: Double = if (attempted.get == 0) 1.0 else failed.get.toDouble / attempted.get

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Report a latency series as median and tail with its sample count. */
  def describe(name: String, series: String, unit: String): Unit = {
    val xs = samples(series)
    if (xs.isEmpty) report += f"$name%-28s (no samples)"
    else {
      val tail = Stats.tail(xs).map { case (p, v) => f"p$p=$v%.3f" }.getOrElse("tail n/a")
      report += f"$name%-28s p50=${Stats.median(xs)}%.3f $unit  $tail  n=${xs.size}"
    }
  }
}

object Common {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  private val started = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def session(dir: Path): SparkSession = {
    val local = dir.resolve("spark-local")
    Files.createDirectories(local)
    SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

/**
 * The program's memory, apart from the heap the JVM reserves for it. The
 * heap is fixed and pre-touched, so all of it is resident from the start and
 * the peak resident set above it is native memory. Heap use is read after
 * every garbage collection; the largest reading is the most the program
 * held at once, plus garbage the collector had not reached yet.
 */
object Memory {
  private val MB = 1024.0 * 1024.0
  private val peakAfterGc = new AtomicLong

  private def heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Start reading heap use after each collection; call once, first. */
  def start(): Unit = {
    val pools = heapPools
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if pools(pool) => u.getUsed }.sum
        peakAfterGc.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def heapAfterGcPeakMb: Double = peakAfterGc.get / MB

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Peak resident set less the (fully resident) committed heap. */
  def nativePeakMb: Double =
    peakRssMb - ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / MB
}
