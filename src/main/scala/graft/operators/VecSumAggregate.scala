package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Per-key vector-sum (+ count) as a typed Aggregator — the centroid
  * accumulator for the IVF Lloyd rounds.
  *
  * The posexplode formulation of a centroid update amplifies every
  * input row d-fold (one row per vector POSITION) and pushes all n×d
  * rows through the (cluster, pos) exchange each round. This aggregator
  * keeps one d-length running sum per cluster on the map side, so the
  * shuffle carries nlist×d values per round regardless of n.
  *
  * The buffer array is mutated in place and returned (the standard
  * typed-Aggregator pattern): each partial lives in exactly one buffer
  * object between serializations, so in-place accumulation is safe and
  * allocation-free per row.
  */
object VecSumAggregate {

  type Buf = (Array[Double], Long) // (running sum, row count)

  /** Generic over the input row type; `extract` pulls the vector. An
    * empty-array buffer is the zero (dimension learned from the first
    * row); mixed dimensions fail fast rather than silently truncating. */
  def vecSum[I](extract: I => Seq[Float]): Aggregator[I, Buf, (Seq[Double], Long)] =
    new Aggregator[I, Buf, (Seq[Double], Long)] {
      override def zero: Buf = (Array.emptyDoubleArray, 0L)

      override def reduce(b: Buf, a: I): Buf = {
        val v = extract(a)
        if (b._1.isEmpty) {
          val s = new Array[Double](v.length)
          var i = 0
          while (i < v.length) { s(i) = v(i).toDouble; i += 1 }
          (s, 1L)
        } else {
          require(b._1.length == v.length,
            s"vector dimension mismatch: ${b._1.length} vs ${v.length}")
          val s = b._1
          var i = 0
          while (i < s.length) { s(i) += v(i).toDouble; i += 1 }
          (s, b._2 + 1L)
        }
      }

      override def merge(b1: Buf, b2: Buf): Buf =
        if (b1._1.isEmpty) b2
        else if (b2._1.isEmpty) b1
        else {
          require(b1._1.length == b2._1.length,
            s"vector dimension mismatch: ${b1._1.length} vs ${b2._1.length}")
          val s = b1._1
          var i = 0
          while (i < s.length) { s(i) += b2._1(i); i += 1 }
          (s, b1._2 + b2._2)
        }

      override def finish(r: Buf): (Seq[Double], Long) = (r._1.toSeq, r._2)
      override def bufferEncoder: Encoder[Buf] = ExpressionEncoder[Buf]()
      override def outputEncoder: Encoder[(Seq[Double], Long)] =
        ExpressionEncoder[(Seq[Double], Long)]()
    }
}
