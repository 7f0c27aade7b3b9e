package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The higher-order-function formulas the native vector kernels replaced
  * (graft.expressions.VectorKernels): the reference each kernel must
  * equal bit for bit. Elements are widened to double before any
  * arithmetic and folded left to right; `zip_with` pads the shorter
  * operand with NULL, and a NULL term poisons the fold. */
object VectorHof {

  private def d(c: Column): Column = c.cast(DoubleType)

  private def fold(a: Column, b: Column)(term: (Column, Column) => Column): Column =
    aggregate(zip_with(a, b, (x, y) => term(d(x), d(y))), lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column = fold(a, b)(_ * _)

  def sqdist(a: Column, b: Column): Column = fold(a, b)((x, y) => (x - y) * (x - y))

  def euclidean(a: Column, b: Column): Column = sqrt(sqdist(a, b))

  def manhattan(a: Column, b: Column): Column = fold(a, b)((x, y) => abs(x - y))

  def magnitude(v: Column): Column = sqrt(dot(v, v))

  /** The zero-norm guard is a three-valued `OR`: it fires on one operand
    * of zero norm even when the other's norm is NULL. */
  def cosine(a: Column, b: Column): Column = {
    val na = magnitude(a)
    val nb = magnitude(b)
    when(na === lit(0.0) || nb === lit(0.0), lit(0.0))
      .otherwise(dot(a, b) / (na * nb))
  }
}
