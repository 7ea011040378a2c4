package perfbench

import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.engine.{BucketedViewStore, MapIndex}
import graft.engine.MapIndex.emit

/**
 * `serve_reads`: a closed loop of [[Clients]] clients reading a
 * hash-bucketed view of a `lineitem`-shaped source (`emit_key =
 * l_partkey`). 60 % `get`, 20 % `scan` of [[ScanWidth]] consecutive keys,
 * 20 % `getAll` of [[BatchKeys]] keys, keys drawn Zipf([[Skew]]). No
 * refresh runs, so only the read path does work.
 */
object ServeReads {
  val Rows = 300000
  val Parts = 20000
  val Buckets = 16
  val Clients = 2
  /** Zipf skew of the read keys: YCSB's default Zipfian constant. */
  val Skew = 0.99
  val ScanWidth = 20
  val BatchKeys = 100
  val MaterializeReps = 3
  val WarmupOps = 8

  val index: MapIndex = MapIndex.columns("lineitem_by_part")(
    col("rid"), array(emit(col("l_partkey"), col("l_quantity"))))

  /** In-process model: each key's emission count and value sum. */
  def model(lines: Iterable[Gen.Line]): mutable.LongMap[(Long, Long)] = {
    val m = mutable.LongMap.empty[(Long, Long)]
    lines.foreach { l =>
      val (c, s) = m.getOrElse(l.partkey, (0L, 0L))
      m(l.partkey) = (c + 1, s + l.qty.toLong)
    }
    m
  }

  /** The generated rows as a source DataFrame. */
  def sourceDf(spark: SparkSession, rows: Iterable[Gen.Line]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows.toSeq.map(l => (l.rid, l.orderkey, l.partkey, l.qty)),
      Common.Cores).toDF("rid", "l_orderkey", "l_partkey", "l_quantity")
  }

  /** Per-key `(count, sum)` of `(emit_key, emit_value)` rows. */
  private def tally(rows: Array[Row], keyCol: Int, valCol: Int): mutable.LongMap[(Long, Long)] = {
    val m = mutable.LongMap.empty[(Long, Long)]
    rows.foreach { r =>
      val k = r.getLong(keyCol)
      val (c, s) = m.getOrElse(k, (0L, 0L))
      m(k) = (c + 1, s + r.getDouble(valCol).toLong)
    }
    m
  }

  /**
   * The three read operations on the `lineitem_by_part` view, each checked
   * against `model` (key -> (count, value sum)). `tamper` sees every served
   * result before the check; the benchmark passes the identity, the
   * self-test injects a wrong value through it.
   */
  final class Reader(spark: SparkSession, store: BucketedViewStore,
      model: collection.Map[Long, (Long, Long)], tracer: Tracer, out: Outcome,
      tamper: Array[Row] => Array[Row] = identity) {
    private def want(k: Long): (Long, Long) = model.getOrElse(k, (0L, 0L))
    private val name = index.name
    private val keySchema = StructType(Seq(StructField("emit_key", LongType, nullable = false)))

    private def timedRead(kind: String, op: Long)(plan: => DataFrame)(check: Array[Row] => Option[String]): Unit = {
      val layer = s"BucketedViewStore.$kind"
      val t0 = System.nanoTime()
      val err = try tracer.span(layer, op) {
        val df = tracer.span(s"$layer.plan", op)(plan)
        val rows = tamper(tracer.span(s"$layer.exec", op)(df.collect()))
        tracer.note("rows", rows.length.toDouble)
        if (tracer.enabled) tracer.note("files_read", tracer.instrument(Tracer.filesRead(df)).toDouble)
        check(rows)
      } catch { case e: Exception => Some(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - t0) / 1e6
      out.sample(kind, ms)
      out.sample("read", ms)
      out.check(err)
    }

    def get(key: Long, op: Long): Unit =
      timedRead("get", op)(store.get(name, key)) { rows =>
        val got = (rows.length.toLong, rows.map(_.getDouble(0).toLong).sum)
        if (got == want(key)) None else Some(s"get($key): served $got, expected ${want(key)}")
      }

    def scan(start: Long, op: Long): Unit = {
      val end = start + ScanWidth
      timedRead("scan", op)(store.scan(name, Some(start), Some(end))) { rows =>
        val ki = rows.headOption.map(_.fieldIndex("emit_key")).getOrElse(0)
        val vi = rows.headOption.map(_.fieldIndex("emit_value")).getOrElse(0)
        val ui = rows.headOption.map(_.fieldIndex("uid")).getOrElse(0)
        val ordered = rows.iterator.sliding(2).forall {
          case Seq(a, b) => a.getLong(ki) < b.getLong(ki) ||
            (a.getLong(ki) == b.getLong(ki) && a.getLong(ui) < b.getLong(ui))
          case _ => true
        }
        val got = tally(rows, ki, vi)
        val wrong = (start until end).find(k => got.getOrElse(k, (0L, 0L)) != want(k))
        if (!ordered) Some(s"scan($start,$end): rows out of (emit_key, uid) order")
        else if (got.keys.exists(k => k < start || k >= end)) Some(s"scan($start,$end): key outside range")
        else wrong.map(k => s"scan($start,$end): key $k served ${got.get(k)}, expected ${want(k)}")
      }
    }

    def getAll(keys: Seq[Long], op: Long): Unit = {
      val asked = keys.distinct
      timedRead("getAll", op) {
        val kdf = spark.createDataFrame(
          java.util.Arrays.asList(asked.map(k => Row(k)): _*), keySchema)
        store.getAll(name, kdf)
      } { rows =>
        val ki = rows.headOption.map(_.fieldIndex("emit_key")).getOrElse(0)
        val vi = rows.headOption.map(_.fieldIndex("emit_value")).getOrElse(0)
        val got = tally(rows, ki, vi)
        val wrong = asked.find(k => got.getOrElse(k, (0L, 0L)) != want(k))
        if (got.keys.exists(k => !asked.contains(k))) Some("getAll: served a key not asked for")
        else wrong.map(k => s"getAll: key $k served ${got.get(k)}, expected ${want(k)}")
      }
    }

    /** One read drawn from the 60/20/20 mix. */
    def next(r: SplittableRandom, keys: Gen.KeyStream, op: Long): Unit = {
      val u = r.nextDouble()
      if (u < 0.6) get(keys.next(r), op)
      else if (u < 0.8) scan(math.min(keys.next(r), Parts.toLong - ScanWidth + 1), op)
      else getAll(Seq.fill(BatchKeys)(keys.next(r)), op)
    }
  }

  def run(spark: SparkSession, conf: RunConf, out: Outcome, sessionS: Double): Unit = {
    val lines = Gen.lineitem(conf.seed, Rows, Parts)
    val model = ServeReads.model(lines)
    val keys = new Gen.KeyStream(conf.seed, Parts, Skew)

    // materialize MaterializeReps times into fresh stores, keep the last
    val matTimes = (1 to MaterializeReps).map { i =>
      val dir = conf.dir.resolve(s"store-$i")
      val store = new BucketedViewStore(spark, dir.toString, Buckets)
      val (_, s) = Common.timed(store.materialize(index, sourceDf(spark, lines)))
      if (i < MaterializeReps) Common.deleteRecursively(dir)
      Common.log(f"materialization $i: $s%.2f s")
      s
    }
    val store = new BucketedViewStore(spark, conf.dir.resolve(s"store-$MaterializeReps").toString, Buckets)
    out.phase = "warm-up."
    val (_, warmS) = Common.timed {
      val reader = new Reader(spark, store, model, new Tracer(spark, enabled = false), out)
      val r = Gen.rng(conf.seed, "warm-up")
      (1 to WarmupOps).foreach(i => reader.next(r, keys, -i))
    }
    out.phase = ""
    Common.log(f"warm-up: $warmS%.2f s")
    val setup = Setup(sessionS, Stats.median(matTimes), warmS)

    val readers = Array.tabulate(Clients)(c => Gen.rng(conf.seed, "client", c))
    val (plain, traced) = Workloads.measure(spark, conf, out, Clients) { (tracer, op, c) =>
      tracer.span("read", op)(new Reader(spark, store, model, tracer, out).next(readers(c), keys, op))
    }

    val reads = out.samples("read")
    out.report += f"${"setup_s"}%-28s ${setup.totalS}%.3f s  (session $sessionS%.3f + median of $MaterializeReps materializations ${setup.materializeS}%.3f + warm-up $warmS%.3f)"
    out.describe("get_p50_ms", "get", "ms")
    out.describe("scan_p50_ms", "scan", "ms")
    out.describe("getall_p50_ms", "getAll", "ms")
    Stats.tail(reads).foreach { case (p, v) =>
      out.report += f"${"read_tail_ms"}%-28s p$p=$v%.3f ms over all reads, n=${reads.size}" }
    out.report += f"${"reads_per_s"}%-28s ${plain.ops / plain.wallS}%.2f 1/s  (${plain.ops} reads in ${plain.wallS}%.2f s, $Clients clients)"
    if (!conf.trace) {
      out.metric("setup_s", setup.totalS, "s")
      out.metric("op_p50_ms", Stats.median(reads), "ms")
      out.metric("items_per_s", plain.ops / plain.wallS, "1/s")
    }
    traced.foreach { t =>
      val a = Workloads.layerMetrics(conf, out, setup, plain, t, "read")
      Workloads.readLayers(a, out, "get", "get_p50_ms on serve_reads")
      Workloads.readLayers(a, out, "scan", "scan_p50_ms on serve_reads")
      Workloads.readLayers(a, out, "getAll", "getall_p50_ms on serve_reads")
      Workloads.layer(out, "spark.task_busy_share", out.metrics("spark.task_busy_share")._1, "ratio",
        "reads_per_s, read_tail_ms on serve_reads")
      Workloads.layer(out, "jvm.gc_ms_per_op", out.metrics("jvm.gc_ms_per_op")._1, "ms",
        "reads_per_s, read_tail_ms on serve_reads")
      Workloads.setupLayers(out, setup)
    }
  }
}
