package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{BucketedAggView, BucketedViewStore, MapIndex, MaterializedView}
import graft.engine.BucketedViewStore.RefreshStats

/**
 * `change_stream`: one writer in a closed loop. Each seeded batch changes
 * about [[BatchKeys]] source keys of a `lineitem`-shaped source and runs,
 * in order: the joint base + aggregate refresh ([[BucketedAggView.refresh]]);
 * a cascade catch-up of a downstream index in the same store, exactly as
 * `BucketedStreamingMapIndex.applyBatch` does it (`changesBetween`, then
 * [[MaterializedView.replayDelta]], then `refresh`); and read-your-write
 * `get`s on the base view, the aggregate and the downstream view.
 */
object ChangeStream {
  /** The size of TPC-H `lineitem` at scale factor 0.01: 60,000 rows over
    * 2,000 part keys, 30 rows a key. */
  val Rows = 60000
  val Parts = 2000
  val Buckets = 16
  val BatchKeys = 1000
  /** Downstream key: a part family, `partkey % Families`. */
  val Families = 500
  /** Raw width of one change row: rid, partkey, quantity (8 bytes each)
    * and the tombstone flag. */
  val ChangeRowBytes = 25

  val base: MapIndex = ServeReads.index
  val stateName = "lineitem_by_part_agg"
  val down: MapIndex = MapIndex.columns("lineitem_by_family")(
    col("key"),
    expr(s"transform(value, e -> named_struct('emit_key', e.emit_key % $Families, " +
      "'emit_value', e.emit_value))"))

  private val changeSchema = StructType(Seq(
    StructField("rid", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("deleted", BooleanType, nullable = false)))

  /** Per-key and per-family `(count, sum)` of the live source. */
  final class Model(init: Iterable[Gen.Line]) {
    val part = mutable.LongMap.empty[(Long, Long)]
    val family = mutable.LongMap.empty[(Long, Long)]
    private def add(l: Gen.Line, sign: Long): Unit = {
      def bump(m: mutable.LongMap[(Long, Long)], k: Long): Unit = {
        val (c, s) = m.getOrElse(k, (0L, 0L))
        val n = (c + sign, s + sign * l.qty.toLong)
        if (n._1 == 0) m.remove(k) else m(k) = n
      }
      bump(part, l.partkey); bump(family, l.partkey % Families)
    }
    init.foreach(add(_, 1))
    def apply(live: Gen.LiveSource, c: Gen.Change): Unit = {
      live.rows.get(c.rid).foreach(add(_, -1))
      live(c)
      live.rows.get(c.rid).foreach(add(_, 1))
    }
  }

  /** Base view, aggregate state and downstream view, built from scratch. */
  private def build(spark: SparkSession, dir: String, src: DataFrame): (BucketedViewStore, BucketedAggView) = {
    val store = new BucketedViewStore(spark, dir, Buckets)
    val agg = BucketedAggView.build(store, base, src, stateName)
    store.materialize(down, MaterializedView.cascadeSourceOf(store.df(base.name)))
    (store, agg)
  }

  /** Multiset fingerprint of a relation (uid excluded): row count and two
    * sums over a 64-bit row hash, one scan and no shuffle. */
  private def fingerprint(df: DataFrame): Row = {
    val cols = df.columns.filterNot(_ == "uid").sorted.map(col).toIndexedSeq
    val h = xxhash64(cols: _*)
    df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(h, 32))).head()
  }

  private def differ(a: DataFrame, b: DataFrame): Boolean = fingerprint(a) != fingerprint(b)

  final class Writer(spark: SparkSession, store: BucketedViewStore, agg: BucketedAggView,
      live: Gen.LiveSource, model: Model, seed: Long, out: Outcome) {
    var batches = 0L
    /** Rewrite stats of the base, state and downstream refresh, by op. */
    val stats = mutable.LongMap.empty[(RefreshStats, RefreshStats, RefreshStats)]
    /** Bytes of the files traced batches created in the store. */
    var writtenBytes = 0L

    private def check(what: String, got: (Long, Long), want: (Long, Long)): Option[String] =
      if (got == want) None else Some(s"read-your-write $what: served $got, expected $want")

    private def timedGet(tracer: Tracer, op: Long, layer: String)(read: => DataFrame)(
        f: Array[Row] => (Long, Long)): (Long, Long) =
      tracer.span(layer, op) {
        val t0 = System.nanoTime()
        val df = tracer.span(s"$layer.plan", op)(read)
        val rows = tracer.span(s"$layer.exec", op)(df.collect())
        out.sample("get", (System.nanoTime() - t0) / 1e6)
        tracer.note("rows", rows.length.toDouble)
        if (tracer.enabled) tracer.note("files_read", tracer.instrument(Tracer.filesRead(df)).toDouble)
        f(rows)
      }

    def batch(tracer: Tracer, op: Long): Unit = {
      val no = batches
      batches += 1
      val changes = Gen.changeBatch(seed, no, live, BatchKeys, Parts)
      val before = if (tracer.enabled) Some(tracer.instrument(filesOf(store))) else None
      val t0 = System.nanoTime()
      val err = try tracer.span("batch", op) {
        val df = spark.createDataFrame(java.util.Arrays.asList(
          changes.map(c => Row(c.rid, c.partkey, c.qty, c.deleted)): _*), changeSchema)
        val ups = df.filter(!col("deleted")).drop("deleted")
        val dels = df.filter(col("deleted")).select(col("rid").as("src_key"))
        val (bs, ss) = tracer.span("BucketedAggView.refresh", op)(agg.refresh(base, ups, Some(dels)))
        val t1 = System.nanoTime()
        val ds = tracer.span("cascade", op) {
          val e1 = store.epoch(base.name)
          val feed = tracer.span("BucketedViewStore.changesBetween", op) {
            val f = tracer.span("BucketedViewStore.changesBetween.plan", op)(
              store.changesBetween(base.name, e1 - 1, e1))
            if (tracer.enabled) tracer.note("delta_rows", tracer.instrument(
              tracer.span("BucketedViewStore.changesBetween.exec", op)(f.count())).toDouble)
            f
          }
          val (changedSource, touched) = MaterializedView.replayDelta(feed)
          tracer.span("cascade.refresh", op)(store.refresh(down, changedSource, Some(touched)))
        }
        val t2 = System.nanoTime()
        out.sample("refresh", (t1 - t0) / 1e9)
        out.sample("freshness", (t2 - t0) / 1e9)
        Common.log(f"batch $no: refresh ${(t1 - t0) / 1e9}%.2f s, freshness ${(t2 - t0) / 1e9}%.2f s")
        stats(op) = (bs, ss, ds)
        changes.foreach(model(live, _))

        // read your writes: the first part key this batch wrote, through
        // every read of the base view, then its aggregate and its family
        val k = changes.find(!_.deleted).map(_.partkey).getOrElse(changes.head.partkey)
        val fam = k % Families
        val reader = new ServeReads.Reader(spark, store, model.part, tracer, out)
        reader.get(k, op)
        reader.scan(math.min(k, Parts.toLong - ServeReads.ScanWidth + 1), op)
        reader.getAll(changes.iterator.map(_.partkey).distinct.take(ServeReads.BatchKeys).toSeq, op)
        val e2 = check(s"aggregate get($k)",
          timedGet(tracer, op, "BucketedAggView.get")(agg.get(k)) { rows =>
            rows.headOption.map { r =>
              val s = r.getStruct(0)
              (s.getAs[Long]("cnt"), s.getAs[java.math.BigDecimal]("sum_value").longValueExact())
            }.getOrElse((0L, 0L)) }, model.part.getOrElse(k, (0L, 0L)))
        val e3 = check(s"downstream get($fam)",
          timedGet(tracer, op, "BucketedViewStore.get")(store.get(down.name, fam)) { rows =>
            (rows.length.toLong, rows.map(_.getDouble(0).toLong).sum) },
          model.family.getOrElse(fam, (0L, 0L)))
        e2.orElse(e3)
      } catch { case e: Exception => Some(s"batch $no threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      before.foreach { b =>
        val now = tracer.instrument(filesOf(store))
        writtenBytes += now.collect { case (f, n) if !b.contains(f) => n }.sum
      }
      out.check(err)
    }
  }

  /** Every regular file under the store, with its size. */
  private def filesOf(store: BucketedViewStore): Map[String, Long] = {
    val s = Files.walk(Paths.get(store.baseDir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** Parquet files per live emit bucket of a view, read off its manifest. */
  private def filesPerLiveBucket(store: BucketedViewStore, view: String): Double = {
    val live = store.manifest(view).collect { case (("emit", b), v) => (b, v) }
    val files = live.toSeq.map { case (b, v) =>
      val s = Files.list(Paths.get(store.baseDir, view, s"kb=$b", s"v$v"))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet")) finally s.close()
    }
    files.sum.toDouble / math.max(1, live.size)
  }

  def run(spark: SparkSession, conf: RunConf, out: Outcome, sessionS: Double): Unit = {
    val init = Gen.lineitem(conf.seed, Rows, Parts)
    val live = new Gen.LiveSource(init)
    val model = new Model(init)
    val src = ServeReads.sourceDf(spark, init)

    val storeDir = conf.dir.resolve("store")
    val (_, buildS) = Common.timed(build(spark, storeDir.toString, src))
    Common.log(f"initial build: $buildS%.2f s")
    val store = new BucketedViewStore(spark, storeDir.toString, Buckets)
    val agg = BucketedAggView.attach(store, stateName)
    val writer = new Writer(spark, store, agg, live, model, conf.seed, out)
    // warm-up: one read of each kind. A warm-up batch would cost as much as
    // the measured one (a process's first batch pays JIT and code generation
    // on top of its work), so the first measured batch runs on a JVM warmed
    // only by the build and these reads.
    out.phase = "warm-up."
    val (_, warmS) = Common.timed {
      val reader = new ServeReads.Reader(spark, store, model.part, new Tracer(spark, enabled = false), out)
      val r = Gen.rng(conf.seed, "warm-up")
      val keys = Seq.fill(ServeReads.BatchKeys)(1L + r.nextInt(Parts))
      reader.get(keys.head, -1)
      reader.scan(math.min(keys.head, Parts.toLong - ServeReads.ScanWidth + 1), -2)
      reader.getAll(keys, -3)
    }
    out.phase = ""
    Common.log(f"warm-up: $warmS%.2f s")

    val (plain, traced) = Workloads.measure(spark, conf, out, clients = 1) { (tracer, op, _) =>
      writer.batch(tracer, op)
    }
    Common.log(s"${writer.batches} batches applied")

    // the maintained views must equal a from-scratch build of the final source
    val freshDir = conf.dir.resolve("fresh")
    val ((fresh, freshAgg), freshS) = Common.timed(
      build(spark, freshDir.toString, ServeReads.sourceDf(spark, live.rows.values)))
    // a rebuild costs as much as a measured batch, so instead of extra
    // set-up builds the run's two builds (initial and final) give the median
    val setup = Setup(sessionS, Stats.median(Seq(buildS, freshS)), warmS)
    out.check(if (differ(store.df(base.name), fresh.df(base.name)))
      Some("base view differs from a from-scratch build of the final source") else None)
    out.check(if (differ(agg.state, freshAgg.state))
      Some("aggregate state differs from a from-scratch build of the final source") else None)
    out.check(if (differ(store.df(down.name), fresh.df(down.name)))
      Some("downstream view differs from a from-scratch build of the final source") else None)
    val stateRows = agg.state.select(col("emit_key"), col("cnt"),
      col("sum_value").cast("long")).collect()
    val stateModel = stateRows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out.check(if (stateModel == model.part.toMap) None
      else Some("aggregate state differs from the in-process model of the final source"))
    val storeBytes = Common.dirBytes(storeDir).toDouble / Common.dirBytes(freshDir)
    Common.log("final checks done")

    val fresh50 = Stats.median(out.samples("freshness"))
    out.report += f"${"setup_s"}%-28s ${setup.totalS}%.3f s  (session $sessionS%.3f + median of 2 builds ${setup.materializeS}%.3f + warm-up $warmS%.3f)"
    out.describe("get_p50_ms", "get", "ms")
    out.describe("scan_p50_ms", "scan", "ms")
    out.describe("getall_p50_ms", "getAll", "ms")
    out.describe("refresh_p50_s", "refresh", "s")
    out.describe("freshness_p50_s", "freshness", "s")
    out.report += f"${"change_rows_per_s"}%-28s ${plain.ops * BatchKeys / plain.wallS}%.1f 1/s  (${plain.ops} batches of $BatchKeys keys in ${plain.wallS}%.2f s)"
    out.report += f"${"store_bytes_per_live_byte"}%-28s $storeBytes%.4f  (store after ${writer.batches} batches vs fresh build of the final source)"
    if (!conf.trace) {
      out.metric("setup_s", setup.totalS, "s")
      out.metric("op_p50_ms", fresh50 * 1000, "ms")
      out.metric("items_per_s", plain.ops * BatchKeys / plain.wallS, "1/s")
    }
    traced.foreach { t =>
      val a = Workloads.layerMetrics(conf, out, setup, plain, t, "batch")
      Workloads.readLayers(a, out, "get", "get_p50_ms on change_stream")
      Workloads.readLayers(a, out, "scan", "scan_p50_ms on change_stream")
      Workloads.readLayers(a, out, "getAll", "getall_p50_ms on change_stream")
      Workloads.readLayers(a, out, "get", "get_p50_ms on change_stream", "BucketedAggView")
      val refreshes = a.named("BucketedAggView.refresh")
      val inc = refreshes.map(a.inclusive)
      val n = math.max(1, refreshes.size).toDouble
      Workloads.layer(out, "BucketedAggView.refresh_ms", Stats.median(refreshes.map(_.durNs / 1e6)), "ms", "refresh_p50_s")
      Workloads.layer(out, "BucketedAggView.spark_jobs", inc.map(_.jobs).sum / n, "count", "refresh_p50_s")
      Workloads.layer(out, "BucketedAggView.shuffle_bytes", inc.map(_.shuffleBytes).sum / n, "B", "refresh_p50_s")
      val traced = a.named("batch").flatMap(b => writer.stats.get(b.op))
      Seq(("base", 0), ("state", 1), ("downstream", 2)).foreach { case (v, i) =>
        val st = traced.map(x => Seq(x._1, x._2, x._3)(i))
        Workloads.layer(out, s"BucketedViewStore.refresh.emit_buckets.$v",
          st.map(_.emitBucketsRewritten).sum.toDouble / st.size, "count", "refresh_p50_s, freshness_p50_s")
        Workloads.layer(out, s"BucketedViewStore.refresh.meta_buckets.$v",
          st.map(_.metaBucketsRewritten).sum.toDouble / st.size, "count", "refresh_p50_s, freshness_p50_s")
      }
      Workloads.layer(out, "store.bytes_written_per_change_byte",
        writer.writtenBytes.toDouble / (t.ops * BatchKeys * ChangeRowBytes), "ratio",
        "store_bytes_per_live_byte, get_p50_ms")
      Workloads.layer(out, "store.files_per_live_bucket", filesPerLiveBucket(store, base.name), "count",
        "store_bytes_per_live_byte, get_p50_ms")
      val cb = a.named("BucketedViewStore.changesBetween.exec")
      Workloads.layer(out, "BucketedViewStore.changesBetween.exec_ms", Stats.median(cb.map(_.durNs / 1e6)), "ms", "freshness_p50_s")
      val cr = a.named("cascade.refresh")
      Workloads.layer(out, "cascade.refresh_ms", Stats.median(cr.map(_.durNs / 1e6)), "ms", "freshness_p50_s")
      Workloads.layer(out, "cascade.spark_jobs", cr.map(a.inclusive(_).jobs).sum / math.max(1.0, cr.size), "count", "freshness_p50_s")
      val deltaRows = a.named("BucketedViewStore.changesBetween").flatMap(a.note(_, "delta_rows")).sum
      Workloads.layer(out, "cascade.delta_rows_per_changed_row", deltaRows / (t.ops * BatchKeys), "ratio", "freshness_p50_s")
      Workloads.setupLayers(out, setup)
    }
  }
}
