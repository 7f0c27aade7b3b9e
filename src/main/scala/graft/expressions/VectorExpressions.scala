package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, ExprValue}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.unsafe.Platform

/** Single-pass vector kernels behind `graft_dot`, `graft_sqdist`,
  * `graft_euclidean`, `graft_manhattan` and `graft_cosine` (reference
  * semantics: kowari src/utils.rs:4-24). Each operand is an
  * `array<float>` or `array<double>`, with a flag saying which; every
  * element is widened to double before any arithmetic and the sums fold
  * left to right, so the DuckDB oracle replays them bit for bit.
  *
  * Each one is bit-identical to the higher-order-function formula it
  * replaced (the test suite keeps those formulas as references): operands
  * of different lengths give NULL, and so does a NULL element, so a
  * wrong-dimension or incomplete vector never gets a prefix score that
  * could displace a real neighbour from a top-k.
  *
  * NULLs are tested once per operand, before any arithmetic (an
  * `UnsafeArrayData`'s null bitmap a word at a time, any other
  * `ArrayData` in one pass), and the arithmetic runs in one loop per
  * (float, double) operand pair that reads elements straight from
  * memory: from an `UnsafeArrayData`'s bytes, from a primitive array, or
  * from a primitive copy of any other `ArrayData`.
  * Interpreted and generated code call the `ArrayData` entries. Driver
  * callers (the HNSW walk, the IVF cell probe, the PQ lookup table and
  * the LSH query signature) pass their `Array[Float]`/`Array[Double]`
  * vectors to the raw-array entries, which run the same loops on the
  * arrays in place and require operands of one length: the dimension
  * rule holds there because each caller checks it first — a stored
  * vector of another dimension than the query's is never scored, and a
  * query whose dimension differs from the index's fails with an
  * `IllegalArgumentException`. */
object VectorKernels {

  private final val Dot = 0
  private final val SqDist = 1
  private final val Manhattan = 2

  private final val F = Platform.FLOAT_ARRAY_OFFSET.toLong
  private final val D = Platform.DOUBLE_ARRAY_OFFSET.toLong

  // element i of a float or double operand at (base, off)
  @inline private def f(b: AnyRef, o: Long, i: Int): Double = Platform.getFloat(b, o + 4L * i).toDouble
  @inline private def d(b: AnyRef, o: Long, i: Int): Double = Platform.getDouble(b, o + 8L * i)

  /** Whether `a` holds a NULL element. */
  private[expressions] def hasNull(a: ArrayData): Boolean = a match {
    case u: UnsafeArrayData =>
      val words = (u.numElements() + 63) / 64
      var w = 0
      while (w < words && Platform.getLong(u.getBaseObject, u.getBaseOffset + 8L + 8L * w) == 0L) w += 1
      w < words
    case _ =>
      val n = a.numElements()
      var i = 0
      while (i < n && !a.isNullAt(i)) i += 1
      i < n
  }

  /** The object `a`'s elements lie in: its own bytes for an
    * `UnsafeArrayData`, else a primitive copy. */
  private def base(a: ArrayData, isFloat: Boolean): AnyRef = a match {
    case u: UnsafeArrayData => u.getBaseObject
    case _ => if (isFloat) a.toFloatArray() else a.toDoubleArray()
  }

  /** The offset of element 0 in [[base]]`(a, isFloat)`. */
  private def offset(a: ArrayData, isFloat: Boolean): Long = a match {
    case u: UnsafeArrayData =>
      u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(u.numElements())
    case _ => if (isFloat) F else D
  }

  /** Left-to-right Σ of one elementwise term over `n` elements of two
    * operands. Every term is symmetric bit for bit (x·y = y·x, and
    * x−y = −(y−x) under round-to-nearest), so a (double, float) pair
    * runs the (float, double) loop with the operands swapped. */
  private def fold(term: Int, ab: AnyRef, ao: Long, fa: Boolean,
      bb: AnyRef, bo: Long, fb: Boolean, n: Int): Double =
    if (fa && fb) foldFF(term, ab, ao, bb, bo, n)
    else if (fa) foldFD(term, ab, ao, bb, bo, n)
    else if (fb) foldFD(term, bb, bo, ab, ao, n)
    else foldDD(term, ab, ao, bb, bo, n)

  private def foldFF(term: Int, a: AnyRef, ao: Long, b: AnyRef, bo: Long, n: Int): Double = {
    var s = 0.0
    var i = 0
    (term: @annotation.switch) match {
      case Dot => while (i < n) { s += f(a, ao, i) * f(b, bo, i); i += 1 }
      case SqDist => while (i < n) { val t = f(a, ao, i) - f(b, bo, i); s += t * t; i += 1 }
      case _ => while (i < n) { s += math.abs(f(a, ao, i) - f(b, bo, i)); i += 1 }
    }
    s
  }

  private def foldFD(term: Int, a: AnyRef, ao: Long, b: AnyRef, bo: Long, n: Int): Double = {
    var s = 0.0
    var i = 0
    (term: @annotation.switch) match {
      case Dot => while (i < n) { s += f(a, ao, i) * d(b, bo, i); i += 1 }
      case SqDist => while (i < n) { val t = f(a, ao, i) - d(b, bo, i); s += t * t; i += 1 }
      case _ => while (i < n) { s += math.abs(f(a, ao, i) - d(b, bo, i)); i += 1 }
    }
    s
  }

  private def foldDD(term: Int, a: AnyRef, ao: Long, b: AnyRef, bo: Long, n: Int): Double = {
    var s = 0.0
    var i = 0
    (term: @annotation.switch) match {
      case Dot => while (i < n) { s += d(a, ao, i) * d(b, bo, i); i += 1 }
      case SqDist => while (i < n) { val t = d(a, ao, i) - d(b, bo, i); s += t * t; i += 1 }
      case _ => while (i < n) { s += math.abs(d(a, ao, i) - d(b, bo, i)); i += 1 }
    }
    s
  }

  /** [[fold]] over two `ArrayData` operands; NULL when the lengths
    * differ or an element is NULL. */
  private def fold(term: Int, a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements() || hasNull(a) || hasNull(b)) null
    else fold(term, base(a, fa), offset(a, fa), fa, base(b, fb), offset(b, fb), fb, n)
  }

  /** dot/(‖a‖·‖b‖) over `n` elements of two operands with no NULL, in
    * one pass; 0.0 when either norm is zero (src/utils.rs:9-13). Swapping
    * the operands swaps only the two norms, so a (double, float) pair
    * runs the (float, double) loop. */
  private def cosine(ab: AnyRef, ao: Long, fa: Boolean, bb: AnyRef, bo: Long, fb: Boolean,
      n: Int): Double = {
    if (!fa && fb) return cosine(bb, bo, fb, ab, ao, fa, n)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    if (fb) while (i < n) {
      val x = f(ab, ao, i); val y = f(bb, bo, i); dot += x * y; na += x * x; nb += y * y; i += 1
    } else if (fa) while (i < n) {
      val x = f(ab, ao, i); val y = d(bb, bo, i); dot += x * y; na += x * x; nb += y * y; i += 1
    } else while (i < n) {
      val x = d(ab, ao, i); val y = d(bb, bo, i); dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Σ aᵢ·bᵢ. */
  def dot(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double =
    fold(Dot, a, fa, b, fb)

  /** Σ (aᵢ−bᵢ)². */
  def sqdist(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double =
    fold(SqDist, a, fa, b, fb)

  /** ‖a−b‖₂ = sqrt of [[sqdist]]. */
  def euclidean(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double = {
    val s = sqdist(a, fa, b, fb)
    if (s == null) null else math.sqrt(s)
  }

  /** Σ |aᵢ−bᵢ|. */
  def manhattan(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double =
    fold(Manhattan, a, fa, b, fb)

  /** dot/(‖a‖·‖b‖). Each norm is taken over its own whole array, and
    * the zero-norm guard (src/utils.rs:9-13) fires before the length and
    * NULL tests, as the reference's three-valued `OR` does: a zero-norm
    * operand gives 0.0 even against a longer vector or one with a NULL
    * element. */
  def cosine(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double = {
    val n = a.numElements()
    val nullA = hasNull(a)
    val nullB = hasNull(b)
    if (!nullA && !nullB && n == b.numElements())
      cosine(base(a, fa), offset(a, fa), fa, base(b, fb), offset(b, fb), fb, n)
    else if ((!nullA && zeroNorm(a, fa)) || (!nullB && zeroNorm(b, fb))) 0.0
    else null
  }

  /** Whether Σ aᵢ² = 0, summed as [[cosine]] sums a norm. */
  private def zeroNorm(a: ArrayData, fa: Boolean): Boolean = {
    val ab = base(a, fa)
    val ao = offset(a, fa)
    fold(Dot, ab, ao, fa, ab, ao, fa, a.numElements()) == 0.0
  }

  /** `a` laid out for reading in place: an `UnsafeArrayData` of its
    * elements, or `a` itself when it is one or holds a NULL. For an
    * operand that every row shares, such as a literal. */
  def inPlace(a: ArrayData, isFloat: Boolean): ArrayData = a match {
    case _: UnsafeArrayData => a
    case _ if hasNull(a) => a
    case _ if isFloat => UnsafeArrayData.fromPrimitiveArray(a.toFloatArray())
    case _ => UnsafeArrayData.fromPrimitiveArray(a.toDoubleArray())
  }

  private def sameLength(a: Int, b: Int): Int = {
    require(a == b, s"vector kernel operands of lengths $a and $b")
    a
  }

  /** Raw-array [[dot]]. */
  def dot(a: Array[Float], b: Array[Double]): Double =
    foldFD(Dot, a, F, b, D, sameLength(a.length, b.length))

  /** Raw-array [[sqdist]]. */
  def sqdist(a: Array[Float], b: Array[Double]): Double =
    foldFD(SqDist, a, F, b, D, sameLength(a.length, b.length))

  /** Raw-array [[sqdist]]. */
  def sqdist(a: Array[Double], b: Array[Double]): Double =
    foldDD(SqDist, a, D, b, D, sameLength(a.length, b.length))

  /** Raw-array [[cosine]]. */
  def cosine(a: Array[Float], b: Array[Float]): Double =
    cosine(a, F, true, b, F, true, sameLength(a.length, b.length))
}

/** A kernel of [[VectorKernels]] as a binary expression over two
  * `array<float|double>` operands: one call, in interpreted and
  * generated code alike. A NULL operand gives NULL, also for cosine
  * against a zero-norm operand, where the HOF reference's guard gives
  * 0.0; ingest stores no NULL vector. */
private[expressions] trait VectorKernelCall extends BinaryExpression {
  /** The [[VectorKernels]] method; the SQL name is `graft_<kernel>`. */
  protected def kernel: String
  protected def run(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double

  override def prettyName: String = s"graft_$kernel"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<float|double>, array<float|double>), got ($a, $b)")
    }

  // a foldable operand (a query or plane literal) is laid out for the
  // kernels once, not copied out of its boxed elements on every row
  @transient private lazy val constLeft = constant(left)
  @transient private lazy val constRight = constant(right)

  private def constant(e: Expression): Option[ArrayData] =
    if (!e.foldable) None
    else Option(e.eval().asInstanceOf[ArrayData]).map(VectorKernels.inPlace(_, isFloat(e)))

  override def nullSafeEval(a: Any, b: Any): Any =
    run(constLeft.getOrElse(a.asInstanceOf[ArrayData]), isFloat(left),
      constRight.getOrElse(b.asInstanceOf[ArrayData]), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    def value(c: Option[ArrayData], v: ExprValue): String =
      c.fold(v.toString)(ctx.addReferenceObj("vec", _, classOf[ArrayData].getName))
    val r = ctx.freshName("r")
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${a.isNull} && !${b.isNull}) {
        java.lang.Double $r = graft.expressions.VectorKernels.$kernel(
          ${value(constLeft, a.value)}, ${isFloat(left)}, ${value(constRight, b.value)}, ${isFloat(right)});
        if ($r != null) { ${ev.isNull} = false; ${ev.value} = $r; }
      }""")
  }
}

/** `graft_dot(a, b)`: see [[VectorKernels.dot]]. */
case class DotProduct(left: Expression, right: Expression) extends VectorKernelCall {
  override protected def kernel: String = "dot"
  override protected def run(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean) = VectorKernels.dot(a, fa, b, fb)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct = copy(l, r)
}

/** `graft_sqdist(a, b)`: see [[VectorKernels.sqdist]]. */
case class SqDist(left: Expression, right: Expression) extends VectorKernelCall {
  override protected def kernel: String = "sqdist"
  override protected def run(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean) = VectorKernels.sqdist(a, fa, b, fb)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDist = copy(l, r)
}

/** `graft_euclidean(a, b)`: see [[VectorKernels.euclidean]]. */
case class EuclideanDist(left: Expression, right: Expression) extends VectorKernelCall {
  override protected def kernel: String = "euclidean"
  override protected def run(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean) = VectorKernels.euclidean(a, fa, b, fb)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): EuclideanDist = copy(l, r)
}

/** `graft_manhattan(a, b)`: see [[VectorKernels.manhattan]]. */
case class ManhattanDist(left: Expression, right: Expression) extends VectorKernelCall {
  override protected def kernel: String = "manhattan"
  override protected def run(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean) = VectorKernels.manhattan(a, fa, b, fb)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ManhattanDist = copy(l, r)
}

/** `graft_cosine(a, b)`: see [[VectorKernels.cosine]]. */
case class CosineSim(left: Expression, right: Expression) extends VectorKernelCall {
  override protected def kernel: String = "cosine"
  override protected def run(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean) = VectorKernels.cosine(a, fa, b, fb)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim = copy(l, r)
}

/** Session registration (idempotent): makes the expressions reachable
  * as SQL functions and via functions.call_function — the supported
  * route to a custom Expression without private Column constructors. */
object GraftFunctions {
  /** (name, implementing class, builder) of every native function. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", classOf[CosineSim].getName, c => CosineSim(c(0), c(1))),
    ("graft_dot", classOf[DotProduct].getName, c => DotProduct(c(0), c(1))),
    ("graft_sqdist", classOf[SqDist].getName, c => SqDist(c(0), c(1))),
    ("graft_euclidean", classOf[EuclideanDist].getName, c => EuclideanDist(c(0), c(1))),
    ("graft_manhattan", classOf[ManhattanDist].getName, c => ManhattanDist(c(0), c(1))),
    ("graft_shingles", classOf[Shingles].getName, c => Shingles(c(0), c(1))),
    ("graft_minhash", classOf[MinHash].getName, c => MinHash(c(0), c(1))),
    ("graft_simhash", classOf[SimHash].getName, c => SimHash(c(0), c(1))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, className, builder) =>
      reg.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo(className, name),
        builder)
    }
  }
}

/** SparkSessionExtensions entry point — the config-driven route:
  * `--conf spark.sql.extensions=graft.expressions.GraftExtensions`
  * injects the native functions into every session of the cluster,
  * no code call needed (the deployment story for a shared cluster;
  * `GraftFunctions.register` stays for embedded/library use). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, className, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
}
