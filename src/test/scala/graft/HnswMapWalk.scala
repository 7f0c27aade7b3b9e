package graft

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import graft.expressions.VectorKernels

/** The map-based serve walk that `Hnsw.serveQuery`'s primitive-state
  * walk replaced: the reference it must equal, (id, score) for
  * (id, score) and fetch call for fetch call. Scores go through the
  * `ArrayData` entry of `VectorKernels.cosine`, the walk's through the
  * raw-array entry. The candidate queue orders by negated distance
  * alone, so among equal distances its expansion order is the heap's. */
object HnswMapWalk {

  def serveQuery(
      adjacency: ((Long, Int)) => Seq[Long],
      fetch: Long => Option[Array[Float]],
      entry: (Long, Int),
      q: Array[Float],
      k: Int,
      ef: Int): Seq[(Long, Double)] = {

    val vecCache = mutable.Map.empty[Long, Option[Array[Float]]]
    def vecOf(id: Long): Option[Array[Float]] =
      vecCache.getOrElseUpdate(id, fetch(id).filter(_.length == q.length))
    val qa = UnsafeArrayData.fromPrimitiveArray(q)
    val simCache = mutable.Map.empty[Long, Double]
    def sim(id: Long): Double = simCache.getOrElseUpdate(id,
      VectorKernels.cosine(UnsafeArrayData.fromPrimitiveArray(vecOf(id).get), true, qa, true))
    def dist(id: Long): Double = 1.0 - sim(id)

    var (current, level) = entry
    require(vecOf(current).isDefined,
      s"hnsw entry point $current has no vector of the query's dimension ${q.length} " +
        s"(stored dimension: ${fetch(current).fold("none")(_.length.toString)})")
    while (level > 0) {
      var improved = true
      while (improved) {
        improved = false
        val ns = adjacency((current, level))
        for (n <- ns if vecOf(n).isDefined) {
          if (dist(n) < dist(current)) { current = n; improved = true }
        }
      }
      level -= 1
    }
    val visited = mutable.Set[Long](current)
    val cand = mutable.PriorityQueue[(Double, Long)](
      (-dist(current), current))(Ordering.by(_._1))
    while (cand.nonEmpty && visited.size < ef) {
      val (_, u) = cand.dequeue()
      for (n <- adjacency((u, 0))
           if !visited.contains(n) && visited.size < ef && vecOf(n).isDefined) {
        visited += n
        cand.enqueue((-dist(n), n))
      }
    }
    visited.toSeq
      .map(id => id -> sim(id))
      .sortBy { case (id, s) => (-s, id) }
      .take(k)
  }
}
