package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.engine.Tables
import graft.functions.Hashes
import graft.operators.{Components, PipelineQueries}

/**
 * `dedup_batch`: a batch near-duplicate job over a seeded corpus with the
 * `documents.parquet` schema and planted exact copies, near copies and
 * pasted originals. Each job runs `minhashLshPairs`, `simhashPairs` and
 * `winnowPairs`, then `Components.resolve` on the union of their pairs. The
 * text-hashing and exchange-heavy operators do the work; no view store
 * is involved.
 */
object DedupBatch {
  val Docs = 5000
  val WarmDocs = 500
  /** Jobs measured per run at least, so every run's median has the same
    * make-up whatever the machine's speed. */
  val MinJobs = 3
  /** Least share of planted pairs a job must find. */
  val RecallFloor = 0.95
  private val JaccardThreshold = 0.5
  private val HammingThreshold = 7
  private val OverlapThreshold = 0.5
  /** `winnowPairs` drops fingerprints shared by more than this many
    * documents before it counts overlap (its posting-list df cap). */
  private val WinnowMaxDf = 200

  /** Reported pairs of one kernel: `(i, j) -> measure`. */
  type Pairs = Map[(Long, Long), Double]

  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** In-process re-verification of reported pairs against the threshold
    * each kernel promises; returns the first violation. */
  final class Verifier(docs: Array[Gen.Doc]) {
    private val text = docs.map(d => d.id -> d.text).toMap
    private val shingleSets = mutable.LongMap.empty[Set[String]]
    private val simhash = mutable.LongMap.empty[Long]
    private def utf8(id: Long) = UTF8String.fromString(text(id))
    /** Each document's winnowing fingerprints less those over the df cap. */
    private lazy val winnow: Map[Long, Set[Long]] = {
      val fps = docs.map(d => d.id -> Hashes.WinnowHashes(null).nullSafeEval(utf8(d.id))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSet).toMap
      val df = mutable.LongMap.empty[Int]
      fps.values.foreach(_.foreach(f => df(f) = df.getOrElse(f, 0) + 1))
      fps.map { case (id, s) => id -> s.filter(df(_) <= WinnowMaxDf) }
    }

    def jaccard(i: Long, j: Long): Double = {
      val a = shingleSets.getOrElseUpdate(i, shingles(text(i)))
      val b = shingleSets.getOrElseUpdate(j, shingles(text(j)))
      val inter = (a & b).size
      math.rint(inter.toDouble / (a.size + b.size - inter) * 1e6) / 1e6
    }
    def hamming(i: Long, j: Long): Double = {
      def h(id: Long) = simhash.getOrElseUpdate(id,
        Hashes.SimHash64(null).nullSafeEval(utf8(id)).asInstanceOf[java.lang.Long].longValue())
      java.lang.Long.bitCount(h(i) ^ h(j)).toDouble
    }
    def overlap(i: Long, j: Long): Double = {
      val (a, b) = (winnow(i), winnow(j))
      math.rint((a & b).size.toDouble / math.min(a.size, b.size) * 1e6) / 1e6
    }

    def check(kind: String, pairs: Pairs): Option[String] = pairs.iterator.map { case ((i, j), v) =>
      val (want, ok) = kind match {
        case "minhash" => val x = jaccard(i, j); (x, x >= JaccardThreshold)
        case "simhash" => val x = hamming(i, j); (x, x <= HammingThreshold)
        case "winnow" => val x = overlap(i, j); (x, x >= OverlapThreshold)
      }
      if (i >= j) Some(s"$kind pair ($i, $j) is not ordered i < j")
      else if (math.abs(want - v) > 1e-6) Some(s"$kind pair ($i, $j) reported $v, recomputed $want")
      else if (!ok) Some(s"$kind pair ($i, $j) at $v misses its threshold")
      else None
    }.collectFirst { case Some(e) => e }
  }

  /** Union-find over collected pairs: component = least doc id reachable. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (i, j) =>
      val (a, b) = (find(i), find(j))
      if (a != b) { parent(math.max(a, b)) = math.min(a, b) }
      parent.getOrElseUpdate(i, i); parent.getOrElseUpdate(j, j)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Result of one dedup job. */
  final case class Job(minhash: Pairs, simhash: Pairs, winnow: Pairs, comps: Map[Long, Long], seconds: Double) {
    def union: Set[(Long, Long)] = minhash.keySet ++ simhash.keySet ++ winnow.keySet
  }

  private val edgeSchema = StructType(Seq(
    StructField("i", LongType, nullable = false), StructField("j", LongType, nullable = false)))

  /** One job; each kernel's pairs are collected exactly once. */
  def job(spark: SparkSession, dir: String, tracer: Tracer, op: Long): Job = {
    def kernel(name: String)(plan: => DataFrame): Pairs = tracer.span(s"PipelineQueries.$name", op) {
      val df = tracer.span(s"PipelineQueries.$name.plan", op)(plan)
      val rows = tracer.span(s"PipelineQueries.$name.exec", op)(df.collect())
      if (tracer.enabled) tracer.note("files_read", tracer.instrument(Tracer.filesRead(df)).toDouble)
      rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).doubleValue()).toMap
    }
    val t0 = System.nanoTime()
    tracer.span("dedup_job", op) {
      val mh = kernel("minhashLshPairs")(PipelineQueries.minhashLshPairs(spark, dir))
      val sh = kernel("simhashPairs")(PipelineQueries.simhashPairs(spark, dir))
      val wn = kernel("winnowPairs")(PipelineQueries.winnowPairs(spark, dir))
      val edges = (mh.keySet ++ sh.keySet ++ wn.keySet).toSeq
      val comps = tracer.span("Components.resolve", op) {
        val df = tracer.span("Components.resolve.plan", op)(Components.resolve(
          spark.createDataFrame(java.util.Arrays.asList(edges.map { case (i, j) => Row(i, j) }: _*),
            edgeSchema)))
        tracer.span("Components.resolve.exec", op)(df.collect())
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      Job(mh, sh, wn, comps, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Every check of one job's output; None when all hold. */
  def verify(j: Job, verifier: Verifier, planted: Array[Gen.Planted]): Option[String] = {
    val union = j.union
    val recall = planted.count(p => union.contains((p.orig, p.copy))).toDouble / planted.length
    verifier.check("minhash", j.minhash)
      .orElse(verifier.check("simhash", j.simhash))
      .orElse(verifier.check("winnow", j.winnow))
      .orElse(if (j.comps == components(union)) None
        else Some("Components.resolve labels differ from a union-find of the same pairs"))
      .orElse(if (recall >= RecallFloor) None
        else Some(f"recall of planted pairs $recall%.4f below $RecallFloor"))
  }

  private def writeCorpus(spark: SparkSession, docs: Array[Gen.Doc], dir: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs.toSeq, Common.Cores)
      .map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
  }

  def run(spark: SparkSession, conf: RunConf, out: Outcome, sessionS: Double): Unit = {
    val (docs, planted) = Gen.corpus(conf.seed, Docs)
    val dir = conf.dir.resolve("corpus").toString
    writeCorpus(spark, docs, dir)
    Common.log(s"corpus written: ${docs.length} docs, ${planted.length} planted pairs")
    val verifier = new Verifier(docs)
    // family of a document: the original it was copied from, or itself
    val family = mutable.LongMap.from(docs.iterator.map(d => d.id -> d.id))
    planted.foreach(p => family(p.copy) = p.orig)

    // warm-up on a small corpus: a process's first job pays JIT and code
    // generation several times over its data cost
    out.phase = "warm-up."
    val (_, warmS) = Common.timed {
      val (wDocs, wPlanted) = Gen.corpus(conf.seed, WarmDocs)
      val wDir = conf.dir.resolve("warm-up").toString
      writeCorpus(spark, wDocs, wDir)
      out.check(verify(job(spark, wDir, new Tracer(spark, enabled = false), -1),
        new Verifier(wDocs), wPlanted))
    }
    out.phase = ""
    Common.log(f"warm-up: $warmS%.2f s")
    // loading the corpus is this workload's only materialization
    val (_, loadS) = Common.timed { Hashes.register(spark); Tables.documents(spark, dir).count() }
    val setup = Setup(sessionS, loadS, warmS)

    var last: Option[Job] = None
    val (plain, traced) = Workloads.measure(spark, conf, out, clients = 1, minOps = MinJobs) { (tracer, op, _) =>
      val j = job(spark, dir, tracer, op)
      Common.log(f"job $op: ${j.seconds}%.2f s")
      out.sample("dedup", j.seconds)
      out.check(verify(j, verifier, planted))
      last = Some(j)
    }
    val union = last.get.union
    val recall = planted.count(p => union.contains((p.orig, p.copy))).toDouble / planted.length
    val trueShare = union.count { case (i, j) => family(i) == family(j) }.toDouble / math.max(1, union.size)
    val jobs = out.samples("dedup")

    out.report += f"${"setup_s"}%-28s ${setup.totalS}%.3f s  (session $sessionS%.3f + corpus load ${setup.materializeS}%.3f + warm-up $warmS%.3f)"
    out.describe("dedup_s", "dedup", "s")
    out.report += f"${"dedup_recall"}%-28s $recall%.4f  (${planted.length} planted pairs over ${docs.length} docs)"
    out.report += f"${"docs_per_s"}%-28s ${docs.length * jobs.size / jobs.sum}%.1f 1/s"
    if (!conf.trace) {
      out.metric("setup_s", setup.totalS, "s")
      out.metric("op_p50_ms", Stats.median(jobs) * 1000, "ms")
      out.metric("items_per_s", docs.length * jobs.size / jobs.sum, "1/s")
    }
    traced.foreach { t =>
      val a = Workloads.layerMetrics(conf, out, setup, plain, t, "dedup_job")
      Seq("minhashLshPairs", "simhashPairs", "winnowPairs").foreach { k =>
        val calls = a.named(s"PipelineQueries.$k")
        val inc = calls.map(a.inclusive)
        val n = math.max(1, calls.size).toDouble
        val busy = inc.map(_.busyMs).sum / (calls.map(_.durNs / 1e6).sum * Common.Cores)
        Workloads.layer(out, s"PipelineQueries.${k}_ms", Stats.median(calls.map(_.durNs / 1e6)), "ms", "dedup_s")
        Workloads.layer(out, s"PipelineQueries.$k.spark_jobs", inc.map(_.jobs).sum / n, "count", "dedup_s")
        Workloads.layer(out, s"PipelineQueries.$k.shuffle_bytes", inc.map(_.shuffleBytes).sum / n, "B", "dedup_s")
        Workloads.layer(out, s"PipelineQueries.$k.task_busy_share", busy, "ratio", "dedup_s")
      }
      val res = a.named("Components.resolve")
      Workloads.layer(out, "Components.resolve_ms", Stats.median(res.map(_.durNs / 1e6)), "ms", "dedup_s")
      Workloads.layer(out, "dedup.pairs_reported", union.size.toDouble, "count", "dedup_s, dedup_recall")
      Workloads.layer(out, "dedup.pairs_true_share", trueShare, "ratio", "dedup_s, dedup_recall")
      Workloads.setupLayers(out, setup)
    }
  }
}
