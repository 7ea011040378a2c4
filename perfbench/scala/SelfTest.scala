package perfbench

import java.nio.file.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import graft.engine.BucketedViewStore

/** Tests of the benchmark itself: `python3 perfbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable =>
      failures += 1
      println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def expect(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  def run(dir: Path): Unit = {
    test("tail percentile leaves at least ten samples beyond it, and the next one would not") {
      val r = Gen.rng(7, "selftest")
      (11 to 400).foreach { n =>
        val xs = Seq.fill(n)(r.nextDouble())
        val Some((p, v)) = Stats.tail(xs)
        expect(xs.count(_ > v) >= 10, s"n=$n p$p leaves ${xs.count(_ > v)} beyond")
        expect(p == 99 || n - math.ceil((p + 1) / 100.0 * n).toInt < 10, s"n=$n: p${p + 1} also qualifies")
      }
      expect(Stats.tail(Seq.fill(10)(1.0)).isEmpty, "ten samples have no tail")
      expect(Stats.tail((1 to 100).map(_.toDouble)) == Some((90, 90.0)), "n=100 gives p90")
      expect(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5, "median of an even count")
    }

    test("generators give identical inputs for a seed, and other inputs for another seed") {
      expect(Gen.lineitem(5, 5000, 300).toSeq == Gen.lineitem(5, 5000, 300).toSeq, "lineitem")
      expect(Gen.lineitem(5, 5000, 300).toSeq != Gen.lineitem(6, 5000, 300).toSeq, "lineitem seed")
      def keys(seed: Long) = {
        val ks = new Gen.KeyStream(seed, 1000, ServeReads.Skew)
        val r = Gen.rng(seed, "client", 0)
        Seq.fill(500)(ks.next(r))
      }
      expect(keys(5) == keys(5) && keys(5) != keys(6), "zipf key stream")
      def batches(seed: Long) = {
        val live = new Gen.LiveSource(Gen.lineitem(seed, 5000, 300))
        (0 until 4).map { no =>
          val b = Gen.changeBatch(seed, no, live, 200, 300)
          b.foreach(live(_)); b.toSeq
        }
      }
      expect(batches(5) == batches(5) && batches(5) != batches(6), "change batches")
      val (d1, p1) = Gen.corpus(5, 3000)
      val (d2, p2) = Gen.corpus(5, 3000)
      expect(d1.toSeq == d2.toSeq && p1.toSeq == p2.toSeq, "corpus")
      expect(Gen.corpus(6, 3000)._1.toSeq != d1.toSeq, "corpus seed")
      expect(p1.map(_.kind).toSet == Set("exact", "near", "paste"), "every planted kind present")
    }

    test("dedup verifier rejects a wrong or sub-threshold pair and accepts planted copies") {
      val (docs, planted) = Gen.corpus(3, 2000)
      val v = new DedupBatch.Verifier(docs)
      val exact = planted.find(_.kind == "exact").get
      expect(v.check("minhash", Map((exact.orig, exact.copy) -> 1.0)).isEmpty, "exact copy at 1.0")
      expect(v.check("minhash", Map((exact.orig, exact.copy) -> 0.9)).nonEmpty, "wrong jaccard")
      expect(v.check("simhash", Map((exact.orig, exact.copy) -> 0.0)).isEmpty, "exact copy at hamming 0")
      expect(v.check("winnow", Map((0L, 1L) -> v.overlap(0, 1))).nonEmpty, "unrelated docs under threshold")
      expect(DedupBatch.components(Seq((3L, 5L), (5L, 9L), (1L, 2L))) ==
        Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 1L -> 1L, 2L -> 1L), "union-find")
    }

    val spark = Common.session(dir)
    spark.sparkContext.setLogLevel("ERROR")
    try test("a wrong value injected into served reads raises error_rate; clean reads do not") {
      val lines = Gen.lineitem(11, 4000, 200)
      val store = new BucketedViewStore(spark, dir.resolve("store").toString, 4)
      store.materialize(ServeReads.index, ServeReads.sourceDf(spark, lines.toSeq))
      val model = ServeReads.model(lines)
      val keys = new Gen.KeyStream(11, 200, ServeReads.Skew)
      def reads(tamper: Array[Row] => Array[Row]): Outcome = {
        val out = new Outcome
        val reader = new ServeReads.Reader(spark, store, model, new Tracer(spark, enabled = false),
          out, tamper)
        val r = Gen.rng(11, "selftest-reads")
        reader.get(keys.next(r), 1)
        reader.scan(keys.next(r) % 150, 2)
        reader.getAll(Seq.fill(20)(keys.next(r)), 3)
        out
      }
      val clean = reads(identity)
      expect(clean.attempted.get == 3 && clean.errorRate == 0.0, s"clean reads failed: ${clean.errors}")
      // bump the value of the first served row
      val bumped = reads { rows =>
        rows.headOption.map { r =>
          val i = r.fieldIndex("emit_value")
          new GenericRowWithSchema(r.toSeq.updated(i, r.getDouble(i) + 1).toArray, r.schema) +: rows.tail
        }.getOrElse(rows)
      }
      expect(bumped.errorRate == 1.0, s"tampered reads: error_rate ${bumped.errorRate}")
      // drop a served row
      expect(reads(_.drop(1)).errorRate == 1.0, "a dropped row went unnoticed")
    } finally spark.stop()

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
