package graft.perfbench

import java.security.MessageDigest

/** Seeded input generators. Every workload's inputs are a pure function
  * of (seed, size); `Digest` folds them into a checksum that the run
  * record carries, so the same seed provably gives the same inputs. */
object Gen {

  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Unit = { buf.clear(); buf.putLong(x); md.update(buf.array()) }
    def floats(v: Array[Float]): Unit = v.foreach(f => long(java.lang.Float.floatToIntBits(f).toLong))
    def string(s: String): Unit = { long(s.length.toLong); md.update(s.getBytes("UTF-8")) }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString.take(16)
  }

  /** Unit-norm cluster centers; points are a center plus isotropic
    * gaussian noise of `spread` per coordinate. */
  final class Clusters(seed: Long, val dim: Int, k: Int, spread: Double) {
    private val rng = new java.util.Random(seed)
    val centers: Array[Array[Double]] = Array.fill(k) {
      val c = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
    /** One point around a seeded-random center. */
    def point(r: java.util.Random): Array[Float] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(dim)(i => (c(i) + spread * r.nextGaussian()).toFloat)
    }
  }

  /** `n` clustered vectors with ids 0..n-1. */
  def vectors(seed: Long, n: Int, cl: Clusters): Array[Array[Float]] = {
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    Array.fill(n)(cl.point(r))
  }

  def perturb(v: Array[Float], r: java.util.Random, eps: Double): Array[Float] =
    v.map(x => (x + eps * r.nextGaussian()).toFloat)

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Lowercase alphabetic word for a vocabulary rank (bijective
    * base-26, prefixed so no word is a substring artifact of another). */
  def word(rank: Int): String = {
    val sb = new StringBuilder("w")
    var x = rank
    do { sb.append(('a' + x % 26).toChar); x = x / 26 } while (x > 0)
    sb.toString
  }

  /** Documents for the dedup pipeline. Base docs draw ~`len` tokens
    * from a Zipf vocabulary whose ranks are rotated by a per-doc offset,
    * so frequent words differ between docs (a shared head would make
    * every SimHash sketch alike). After the base docs come planted
    * exact copies and near copies (a few tokens replaced); each planted
    * doc's embedding is its source's embedding, plus small noise for
    * near copies. */
  final case class Corpus(texts: Array[String], tokens: Array[Array[String]],
      emb: Array[Array[Float]], exactPairs: Seq[(Int, Int)], nearPairs: Seq[(Int, Int)])

  def corpus(seed: Long, n: Int, len: Int, vocab: Int, dim: Int,
      exactShare: Double, nearShare: Double, replaceShare: Double): Corpus = {
    val r = new java.util.Random(seed)
    val z = new Zipf(vocab, 1.1)
    val cl = new Clusters(seed + 1, dim, 256, 0.35)
    val nExact = (n * exactShare).toInt
    val nNear = (n * nearShare).toInt
    val nBase = n - nExact - nNear
    val toks = new Array[Array[String]](n)
    val emb = new Array[Array[Float]](n)
    (0 until nBase).foreach { i =>
      val shift = r.nextInt(vocab)
      val l = len / 2 + r.nextInt(len + 1)
      toks(i) = Array.fill(l)(word((z.sample(r) + shift) % vocab))
      emb(i) = cl.point(r)
    }
    val exact = (nBase until nBase + nExact).map { i =>
      val src = r.nextInt(nBase)
      toks(i) = toks(src).clone()
      emb(i) = emb(src).clone()
      (src, i)
    }
    val near = (nBase + nExact until n).map { i =>
      val src = r.nextInt(nBase)
      val t = toks(src).clone()
      val k = math.max(1, (t.length * replaceShare).round.toInt)
      (0 until k).foreach(_ => t(r.nextInt(t.length)) = word(r.nextInt(vocab)))
      toks(i) = t
      emb(i) = perturb(emb(src), r, 0.01)
      (src, i)
    }
    Corpus(toks.map(_.mkString(" ")), toks, emb, exact, near)
  }

  /** Basket table: orders of 2..8 distinct parts drawn from a Zipf
    * popularity over `parts` part keys. Returns (orderkey, partkey). */
  def baskets(seed: Long, orders: Int, parts: Int): Array[(Long, Long)] = {
    val r = new java.util.Random(seed)
    val z = new Zipf(parts, 1.05)
    // popularity rank -> part key, so popular parts are not the low ids
    val perm = (0 until parts).toArray
    (parts - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    (0 until orders).flatMap { o =>
      val k = 2 + r.nextInt(7)
      val items = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (items.size < k) items += perm(z.sample(r)).toLong
      items.toSeq.map(p => (o.toLong, p))
    }.toArray
  }
}
