package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/**
 * Seeded input generators. Every stream draws from its own
 * [[SplittableRandom]] derived from `(seed, stream name, index)`, so one
 * seed always gives the same rows, batches and corpus, and streams do not
 * shift when another stream draws more or fewer numbers.
 */
object Gen {

  def rng(seed: Long, stream: String, index: Long = 0L): SplittableRandom = {
    var h = seed * 0x9e3779b97f4a7c15L ^ stream.hashCode.toLong
    h = (h ^ (h >>> 31)) * 0xbf58476d1ce4e5b9L ^ index
    new SplittableRandom(h ^ (h >>> 29))
  }

  /** Zipf(`skew`) over ranks 0..n-1 (rank 0 the most frequent). */
  final class Zipf(n: Int, skew: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, skew))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- lineitem-shaped source -------------------------------------------

  /** One source row: `rid` is the source key, `partkey` the emitted key and
    * `qty` the emitted (numeric) value. */
  final case class Line(rid: Long, orderkey: Long, partkey: Long, qty: Double)

  /** `lineitem`-shaped rows as TPC-H draws them (specification clause
    * 4.2.3): 1 to 7 lines per order, part keys uniform over `parts`,
    * integral quantities 1..50 (so every sum is exact). */
  def lineitem(seed: Long, rows: Int, parts: Int): Array[Line] = {
    val r = rng(seed, "lineitem")
    val out = new Array[Line](rows)
    var order = 0L
    var i = 0
    while (i < rows) {
      order += 1
      val lines = 1 + r.nextInt(7)
      var l = 0
      while (l < lines && i < rows) {
        out(i) = Line(i.toLong, order, 1L + r.nextInt(parts), 1.0 + r.nextInt(50))
        i += 1; l += 1
      }
    }
    out
  }

  /** The read key stream: Zipf ranks mapped through a seeded permutation of
    * the part keys, so the hot keys land in arbitrary buckets. */
  final class KeyStream(seed: Long, parts: Int, skew: Double) {
    private val zipf = new Zipf(parts, skew)
    private val perm: Array[Long] = {
      val a = Array.tabulate(parts)(i => 1L + i)
      val r = rng(seed, "key-permutation")
      var i = parts - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    def next(r: SplittableRandom): Long = perm(zipf.sample(r))
  }

  // ---- change batches ----------------------------------------------------

  /** One change: an upsert of `rid` to `(partkey, qty)`, or a tombstone. */
  final case class Change(rid: Long, partkey: Long, qty: Double, deleted: Boolean)

  /**
   * The live source with O(1) random draws of an existing key. Change
   * batches are generated against it and then applied to it, so it doubles
   * as the in-process model of the final source.
   */
  final class LiveSource(init: Array[Line]) {
    val rows: mutable.LongMap[Line] = mutable.LongMap.from(init.iterator.map(l => l.rid -> l))
    private val keys = mutable.ArrayBuffer.from(init.iterator.map(_.rid))
    private val pos = mutable.LongMap.from(init.iterator.zipWithIndex.map { case (l, i) => l.rid -> i })
    var nextRid: Long = if (init.isEmpty) 0L else init.map(_.rid).max + 1

    def randomKey(r: SplittableRandom): Long = keys(r.nextInt(keys.size))

    def apply(c: Change): Unit =
      if (c.deleted) {
        if (rows.remove(c.rid).isDefined) {
          val i = pos(c.rid); val last = keys.last
          keys(i) = last; pos(last) = i; keys.remove(keys.size - 1); pos.remove(c.rid)
        }
      } else {
        if (!rows.contains(c.rid)) { pos(c.rid) = keys.size; keys += c.rid }
        rows(c.rid) = Line(c.rid, rows.get(c.rid).map(_.orderkey).getOrElse(c.rid), c.partkey, c.qty)
      }
  }

  /**
   * Batch `no` of about `size` distinct source keys, a quarter of each
   * kind: rewrites of the value in place, moves of the row to another part
   * key, tombstones and new keys. No published change trace gives a mix for
   * a store like this one, so the shares are assumed: new keys equal
   * tombstones so the source keeps its size from batch to batch (as TPC-H's
   * paired refresh functions RF1 and RF2 do), and the rest splits evenly.
   */
  def changeBatch(seed: Long, no: Long, live: LiveSource, size: Int, parts: Int): Array[Change] = {
    val r = rng(seed, "changes", no)
    val seen = mutable.LongMap.empty[Unit]
    val out = mutable.ArrayBuffer.empty[Change]
    while (out.size < size) {
      val u = r.nextDouble()
      val qty = 1.0 + r.nextInt(50)
      if (u < 0.75) {
        val rid = live.randomKey(r)
        if (!seen.contains(rid)) {
          seen(rid) = ()
          val cur = live.rows(rid)
          out += (if (u < 0.25) Change(rid, cur.partkey, qty, deleted = false)
                  else if (u < 0.5) Change(rid, 1L + r.nextInt(parts), qty, deleted = false)
                  else Change(rid, cur.partkey, cur.qty, deleted = true))
        }
      } else {
        val rid = live.nextRid
        live.nextRid += 1
        out += Change(rid, 1L + r.nextInt(parts), qty, deleted = false)
      }
    }
    out.toArray
  }

  // ---- near-duplicate corpus ---------------------------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)
  /** A planted duplicate: `copy` was derived from `orig` by `kind`
    * ("exact", "near" or "paste"). */
  final case class Planted(orig: Long, copy: Long, kind: String)

  // The corpus follows the shape of the `documents.parquet` the engine's
  // query suite runs on (5,000 rows at sf0.1; figures in perfbench/README.md):
  // 30 words of equal frequency, originals of 10 to 99 tokens, 43 % `en`,
  // 20 sources, 5 % near copies that append one token and 0.16 % exact
  // copies. That corpus has no pasted documents; their share is assumed.

  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  val VocabSize = 30
  val ExactShare = 0.0016
  val NearShare = 0.05
  val PasteShare = 0.02

  /** Vocabulary of pronounceable words. */
  private def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = mutable.HashSet.empty[String]
    val out = mutable.ArrayBuffer.empty[String]
    while (out.size < n) {
      val syl = 1 + r.nextInt(3)
      val w = (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}")
        .mkString + (if (r.nextBoolean()) cons(r.nextInt(cons.length)).toString else "")
      if (seen.add(w)) out += w
    }
    out.toArray
  }

  /**
   * `n` documents with the `documents.parquet` schema, words drawn
   * uniformly from a vocabulary that is the same for every seed. Planted duplicates of an original
   * document: exact copies; near copies with one word appended (3-shingle
   * Jaccard (t-2)/(t-1) for t tokens, 0.89 or more); and copies that paste
   * a whole original between 20 to 59 fresh words on each side
   * (containment near 1, Jaccard mostly below 0.5). Originals are never
   * themselves copies.
   */
  def corpus(seed: Long, n: Int): (Array[Doc], Array[Planted]) = {
    // one vocabulary for every seed, as a corpus has one language: with 30
    // equally frequent words, how many random pairs SimHash puts within
    // distance 7 depends on the words' hashes, so a seeded vocabulary would
    // vary each job's work from seed to seed
    val vocab = vocabulary(rng(0, "vocabulary"), VocabSize)
    val r = rng(seed, "corpus")
    def words(k: Int): Array[String] = Array.fill(k)(vocab(r.nextInt(vocab.length)))
    val docs = new Array[Doc](n)
    val toks = new Array[Array[String]](n)
    val planted = mutable.ArrayBuffer.empty[Planted]
    val originals = mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < n) {
      val u = r.nextDouble()
      val canCopy = originals.size >= 20
      def original(kind: String): Array[String] = {
        val o = originals(r.nextInt(originals.size))
        planted += Planted(o, i, kind)
        toks(o)
      }
      val t: Array[String] =
        if (canCopy && u < ExactShare) original("exact").clone()
        else if (canCopy && u < ExactShare + NearShare) original("near") ++ words(1)
        else if (canCopy && u < ExactShare + NearShare + PasteShare)
          words(20 + r.nextInt(40)) ++ original("paste") ++ words(20 + r.nextInt(40))
        else { originals += i; words(10 + r.nextInt(90)) }
      toks(i) = t
      docs(i) = Doc(i.toLong, t.mkString(" "), Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}")
      i += 1
    }
    (docs, planted.toArray)
  }
}
