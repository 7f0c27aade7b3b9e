package graft.perfbench

/** Driver-side exact answers the program's outputs are checked against. */
object Exact {

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def round6(x: Double): Double = math.round(x * 1e6) / 1e6

  /** Exact top-k by cosine rounded to 6 decimals, ties broken by id. */
  def topK[K](rows: Iterable[(K, Array[Float])], q: Array[Float], k: Int)
      (implicit ord: Ordering[K]): IndexedSeq[(K, Double)] = {
    val byRank = Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, ord)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, K)](byRank)
    rows.foreach { case (id, v) =>
      heap.enqueue((round6(cosine(v, q)), id))
      if (heap.size > k) heap.dequeue()
    }
    heap.dequeueAll[(Double, K)].reverse.map { case (s, id) => (id, s) }.toIndexedSeq
  }

  /** A returned top-k is correct when it equals the exact one, or when
    * every id it holds scores at least the exact k-th score (the ids
    * differ only across a tie at the 6-decimal boundary). */
  def sameTopK[K](got: Seq[K], exact: IndexedSeq[(K, Double)],
      score: K => Double): Boolean =
    got == exact.map(_._1) || (got.size == exact.size && got.distinct.size == got.size &&
      exact.nonEmpty && got.forall(id => round6(score(id)) >= exact.last._2 - 1e-6))

  def recall[K](got: Seq[K], exact: IndexedSeq[(K, Double)]): Double =
    if (exact.isEmpty) 1.0 else got.toSet.intersect(exact.map(_._1).toSet).size.toDouble / exact.size

  /** First 15 hex digits of md5 as a non-negative long (60 bits): the
    * top 60 bits of the digest's first 8 bytes. */
  def md5Long(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong >>> 4
  }

  /** Jaccard of two sorted arrays of distinct ids, rounded to 6 decimals. */
  def jaccard(a: Array[Int], b: Array[Int]): Double = {
    var i = 0; var j = 0; var both = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { both += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - both
    round6(if (union == 0) 0.0 else both.toDouble / union)
  }

  /** SimHash of a token list: bit b is set when more token hashes have
    * bit b set than clear. */
  def simhash(tokens: Seq[String], bits: Int): Long = {
    val hs = tokens.map(md5Long)
    (0 until bits).foldLeft(0L) { (acc, b) =>
      val votes = hs.map(h => if (((h >>> b) & 1L) == 1L) 1 else -1).sum
      if (votes > 0) acc | (1L << b) else acc
    }
  }

  /** Connected components of the pairs (self pairs ignored), each node
    * labelled with the minimum node of its component. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    parent.keys.toSeq.map(n => n -> find(n)).toMap
  }
}
