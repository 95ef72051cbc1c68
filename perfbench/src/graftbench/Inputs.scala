package graftbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable

/** The benchmark's own seeded input samplers and file writers. Nothing
  * here calls the program: it receives only the files written below.
  */
object Inputs {
  /** R-MAT quadrant probabilities of the reference generator. */
  val A = 0.55
  val B = 0.10
  val C = 0.10

  /** One R-MAT edge: `scale` independent quadrant draws. */
  def rmatPair(rng: SplittableRandom, scale: Int): (Int, Int) = {
    var u = 0
    var v = 0
    var l = 0
    while (l < scale) {
      val r = rng.nextDouble()
      val (bu, bv) =
        if (r < A) (0, 0) else if (r < A + B) (0, 1)
        else if (r < A + B + C) (1, 0) else (1, 1)
      u = (u << 1) | bu
      v = (v << 1) | bv
      l += 1
    }
    (u, v)
  }

  def key(u: Int, v: Int): Long = (u.toLong << 32) | (v.toLong & 0xffffffffL)
  def keySrc(k: Long): Int = (k >>> 32).toInt
  def keyDst(k: Long): Int = k.toInt

  /** `n` raw directed R-MAT edges as (src, dst) keys, duplicates kept. */
  def rmatKeys(rng: SplittableRandom, scale: Int, n: Long,
      canonical: Boolean): Array[Long] = {
    val out = new Array[Long](n.toInt)
    var i = 0
    while (i < out.length) {
      val (u, v) = rmatPair(rng, scale)
      out(i) = if (canonical) key(math.min(u, v), math.max(u, v)) else key(u, v)
      i += 1
    }
    out
  }

  /** Distinct keys with their multiplicity, sorted by (src, dst). */
  def weighted(keys: Array[Long]): (Array[Long], Array[Long]) = {
    val s = keys.clone()
    java.util.Arrays.sort(s)
    val ks = Array.newBuilder[Long]
    val ws = Array.newBuilder[Long]
    var i = 0
    while (i < s.length) {
      var j = i
      while (j < s.length && s(j) == s(i)) j += 1
      ks += s(i)
      ws += (j - i).toLong
      i = j
    }
    (ks.result(), ws.result())
  }

  private final class LongWriter(path: Path) {
    private val out = new BufferedOutputStream(
      new FileOutputStream(path.toFile), 1 << 20)
    private val buf = ByteBuffer.allocate(1 << 16).order(ByteOrder.LITTLE_ENDIAN)
    def put(x: Long): Unit = {
      if (!buf.hasRemaining) flush()
      buf.putLong(x)
    }
    private def flush(): Unit = {
      out.write(buf.array(), 0, buf.position())
      buf.clear()
    }
    def close(): Unit = { flush(); out.close() }
  }

  /** The reference's STINGER CSR graph file: endian check, nv, ne,
    * off[nv+1], ind[ne], wgt[ne], all little-endian u64. `keys` sorted.
    */
  def writeCsr(path: Path, nv: Int, keys: Array[Long],
      weights: Array[Long]): Unit = {
    val w = new LongWriter(path)
    try {
      w.put(0x1234ABCDL)
      w.put(nv.toLong)
      w.put(keys.length.toLong)
      var k = 0
      var v = 0
      while (v <= nv) {
        while (k < keys.length && keySrc(keys(k)) < v) k += 1
        w.put(k.toLong)
        v += 1
      }
      keys.foreach(x => w.put(keyDst(x).toLong))
      weights.foreach(w.put)
    } finally w.close()
  }

  /** One action of the update log: insert or delete of a canonical pair. */
  final case class Action(src: Int, dst: Int, del: Boolean)

  /** The reference's action file: endian check, na, then (i, j) pairs,
    * a delete written as (~i, ~j).
    */
  def writeActions(path: Path, actions: Array[Action]): Unit = {
    val w = new LongWriter(path)
    try {
      w.put(0x1234ABCDL)
      w.put(actions.length.toLong)
      actions.foreach { a =>
        w.put(if (a.del) ~a.src.toLong else a.src.toLong)
        w.put(if (a.del) ~a.dst.toLong else a.dst.toLong)
      }
    } finally w.close()
  }

  /** An action log over a canonical base: each action is a delete with
    * probability `pDelete`, of a pair drawn uniformly from those present
    * at that point, or else an insert of a fresh R-MAT pair.
    */
  def actionLog(rng: SplittableRandom, scale: Int, baseKeys: Array[Long],
      na: Int, pDelete: Double): Array[Action] = {
    val present = mutable.ArrayBuffer.from(baseKeys)
    val slot = new java.util.HashMap[Long, Int]()
    present.indices.foreach(i => slot.put(present(i), i))
    def remove(k: Long): Unit = {
      val i = slot.remove(k)
      val last = present.remove(present.length - 1)
      if (i < present.length) {
        present(i) = last
        slot.put(last, i)
      }
    }
    Array.fill(na) {
      if (present.nonEmpty && rng.nextDouble() < pDelete) {
        val k = present(rng.nextInt(present.length))
        remove(k)
        Action(keySrc(k), keyDst(k), del = true)
      } else {
        val (u, v) = rmatPair(rng, scale)
        val k = key(math.min(u, v), math.max(u, v))
        if (!slot.containsKey(k)) {
          slot.put(k, present.length)
          present += k
        }
        Action(keySrc(k), keyDst(k), del = false)
      }
    }
  }

  /** A synthetic corpus with planted duplicates. */
  final case class Corpus(texts: Array[String],
      /** (original, copy) doc ids: exact copies and near-duplicates. */
      planted: Seq[(Int, Int)])

  /** `n` documents over a uniform vocabulary of `vocab` words: a share
    * `dupShare` are exact copies of an original, a share `nearShare` are
    * copies with each token replaced with probability `editRate` (at least
    * one edit). Doc ids are a seeded permutation, so copies are not next to
    * their originals.
    */
  def corpus(rng: SplittableRandom, n: Int, vocab: Int, minLen: Int,
      maxLen: Int, dupShare: Double, nearShare: Double,
      editRate: Double): Corpus = {
    val words = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < vocab) {
        val len = 3 + rng.nextInt(6)
        seen += new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
      }
      seen.toArray
    }
    def word(): String = words(rng.nextInt(words.length))
    val nDup = (n * dupShare).toInt
    val nNear = (n * nearShare).toInt
    val nOrig = n - nDup - nNear
    val docs = new Array[Array[String]](n)
    (0 until nOrig).foreach { i =>
      docs(i) = Array.fill(minLen + rng.nextInt(maxLen - minLen + 1))(word())
    }
    val from = new Array[Int](n)
    (nOrig until n).foreach { i =>
      val o = rng.nextInt(nOrig)
      from(i) = o
      docs(i) =
        if (i < nOrig + nDup) docs(o).clone()
        else {
          val d = docs(o).clone()
          var edited = false
          while (!edited) d.indices.foreach { t =>
            if (rng.nextDouble() < editRate) {
              d(t) = word()
              edited = true
            }
          }
          d
        }
    }
    // doc id of generated doc i is perm(i)
    val perm = (0 until n).toArray
    (n - 1 until 0 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val texts = new Array[String](n)
    (0 until n).foreach(i => texts(perm(i)) = docs(i).mkString(" "))
    Corpus(texts, (nOrig until n).map(i => (perm(from(i)), perm(i))))
  }

  /** Corpus as tab-separated `doc_id<TAB>text` lines. */
  def writeCorpus(path: Path, texts: Array[String]): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    try texts.indices.foreach { i =>
      out.write(s"$i\t${texts(i)}\n".getBytes(StandardCharsets.UTF_8))
    } finally out.close()
  }
}
