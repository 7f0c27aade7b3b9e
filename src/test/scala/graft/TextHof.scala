package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextOps.P

/** The higher-order-function formulas the native text kernels replaced
  * (graft.expressions.TextKernels): the reference each kernel must
  * equal bit for bit, and the per-element re-evaluation the lambda
  * lint must catch. */
object TextHof {

  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  def minhashSignature(shHashes: Column, h: Int): Column =
    transform(sequence(lit(0), lit(h - 1)), i =>
      aggregate(shHashes, lit(P),
        (m, x) => least(m, ((i * 2 + 1) * x + lit(7919L) * i) % P)))

  def simhashFromHashes(hashes: Column, bits: Int): Column = {
    val pw = typedLit((0 until bits).map(1L << _).toArray)
    aggregate(
      transform(sequence(lit(0), lit(bits - 1)), b => {
        val p = element_at(pw, b + 1)
        val votes = aggregate(hashes, lit(0L),
          (s, h) => s + when((h % (p * 2)) >= p, 1L).otherwise(-1L))
        when(votes > 0, p).otherwise(lit(0L))
      }),
      lit(0L), (s, x) => s + x)
  }
}
