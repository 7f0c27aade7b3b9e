package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.TextOps.P

/** Single-pass text kernels behind `graft_shingles`, `graft_minhash` and
  * `graft_simhash`. Spark evaluates a higher-order function's lambda once
  * per element and re-evaluates, per element, every lambda-invariant
  * subexpression — the whole tokenizer inside a shingle window, the whole
  * hash array inside a per-hash or per-bit fold. These kernels read their
  * input array once per row and run one plain loop.
  *
  * Each one is bit-identical to the higher-order-function formula it
  * replaced (the test suite keeps those formulas as references), on NULL
  * arrays, NULL elements, empty arrays, short docs and negative hashes
  * alike, so the DuckDB oracle SQL mirrors both. Interpreted and
  * generated code call the same methods here. */
object TextKernels {

  private val Space = UTF8String.fromString(" ")

  /** Windows of `n` consecutive tokens, each joined by single spaces with
    * NULL tokens skipped (`concat_ws` semantics); empty when there are
    * fewer than `n` tokens. */
  def shingles(toks: ArrayData, n: Int): ArrayData = {
    val len = toks.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val nulls = VectorKernels.hasNull(toks)
    val words = Array.tabulate[UTF8String](len)(i =>
      if (nulls && toks.isNullAt(i)) null else toks.getUTF8String(i))
    val out = new Array[Any](len - n + 1)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < out.length) {
      System.arraycopy(words, i, window, 0, n)
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature of length `h` under hᵢ(x) = ((2i+1)·x + 7919·i) mod P
    * (Java remainder, so a negative hash can give a negative component;
    * the products wrap where ANSI arithmetic would throw, far above any
    * hash in the field). NULL elements are skipped and an empty array gives the all-P
    * sentinel. A NULL array gives `h` NULL components. */
  def minhash(hashes: ArrayData, h: Int): ArrayData = {
    if (hashes == null) return new GenericArrayData(new Array[Any](h))
    val xs =
      if (!VectorKernels.hasNull(hashes)) hashes.toLongArray()
      else (0 until hashes.numElements()).filterNot(hashes.isNullAt).map(hashes.getLong).toArray
    val sig = new Array[Long](h)
    var i = 0
    while (i < h) {
      val a = 2L * i + 1
      val b = 7919L * i
      var m = P
      var j = 0
      while (j < xs.length) {
        val v = (a * xs(j) + b) % P
        if (v < m) m = v
        j += 1
      }
      sig(i) = m
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** `bits`-wide SimHash: bit b is set iff more elements have bit b set
    * than not. Bits are defined as (x mod 2^(b+1)) ≥ 2^b, so a negative
    * hash, like a NULL element, votes against every bit; for a
    * non-negative x and b < 63 that test is bit b of x. So each element
    * takes one sign test, and each bit of a positive one a shift and a
    * mask. A NULL array sets no bit. */
  def simhash(hashes: ArrayData, bits: Int): Long = {
    if (hashes == null) return 0L
    val len = hashes.numElements()
    val nulls = VectorKernels.hasNull(hashes)
    val ones = new Array[Long](bits)
    var j = 0
    while (j < len) {
      if (!(nulls && hashes.isNullAt(j))) {
        val x = hashes.getLong(j)
        if (x > 0L) {
          var b = 0
          while (b < bits) { ones(b) += (x >>> b) & 1L; b += 1 }
        }
      }
      j += 1
    }
    // votes for minus votes against: ones − (len − ones)
    var s = 0L
    var b = 0
    while (b < bits) {
      if (2L * ones(b) > len) s += 1L << b
      b += 1
    }
    s
  }
}

/** A kernel of [[TextKernels]] as a binary expression over (array,
  * width): both children are evaluated once, then one call, in
  * interpreted and generated code alike. A NULL width gives NULL. */
private[expressions] trait TextKernelCall extends BinaryExpression {
  /** The [[TextKernels]] method. */
  protected def kernel: String
  /** Element type of the input array. */
  protected def elementType: DataType
  protected def run(arr: ArrayData, width: Int): Any
  /** Whether a NULL array reaches the kernel (true) or gives NULL. */
  protected def nullArrayIsInput: Boolean

  override def nullable: Boolean = right.nullable || (!nullArrayIsInput && left.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(e, _), IntegerType) if e == elementType => TypeCheckResult.TypeCheckSuccess
      case (a, w) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<${elementType.simpleString}>, int), got ($a, $w)")
    }

  override def eval(input: InternalRow): Any = {
    val w = right.eval(input)
    val a = left.eval(input)
    if (w == null || (a == null && !nullArrayIsInput)) null
    else run(a.asInstanceOf[ArrayData], w.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val w = right.genCode(ctx)
    val isNull = if (nullArrayIsInput) s"${w.isNull}" else s"${w.isNull} || ${a.isNull}"
    ev.copy(code = code"""
      ${a.code}
      ${w.code}
      boolean ${ev.isNull} = $isNull;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        ${ev.value} = graft.expressions.TextKernels.$kernel(
          ${a.isNull} ? null : ${a.value}, ${w.value});
      }""")
  }
}

/** `graft_shingles(toks, n)`: see [[TextKernels.shingles]]. NULL in, NULL
  * out. */
case class Shingles(left: Expression, right: Expression) extends TextKernelCall {
  override def prettyName: String = "graft_shingles"
  override protected def kernel: String = "shingles"
  override protected def nullArrayIsInput: Boolean = false
  override protected def elementType: DataType = StringType
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def run(toks: ArrayData, n: Int): Any = TextKernels.shingles(toks, n)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Shingles =
    copy(left = newLeft, right = newRight)
}

/** `graft_minhash(hashes, h)`: see [[TextKernels.minhash]]. A NULL array
  * still yields an array (of NULLs), so only a NULL `h` yields NULL. */
case class MinHash(left: Expression, right: Expression) extends TextKernelCall {
  override def prettyName: String = "graft_minhash"
  override protected def kernel: String = "minhash"
  override protected def nullArrayIsInput: Boolean = true
  override protected def elementType: DataType = LongType
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def run(hashes: ArrayData, h: Int): Any = TextKernels.minhash(hashes, h)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHash =
    copy(left = newLeft, right = newRight)
}

/** `graft_simhash(hashes, bits)`: see [[TextKernels.simhash]]. A NULL
  * array yields 0, so only a NULL `bits` yields NULL. */
case class SimHash(left: Expression, right: Expression) extends TextKernelCall {
  override def prettyName: String = "graft_simhash"
  override protected def kernel: String = "simhash"
  override protected def nullArrayIsInput: Boolean = true
  override protected def elementType: DataType = LongType
  override def dataType: DataType = LongType
  override protected def run(hashes: ArrayData, bits: Int): Any = TextKernels.simhash(hashes, bits)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHash =
    copy(left = newLeft, right = newRight)
}
