package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

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
  * could displace a real neighbour from a top-k. Interpreted and
  * generated code call the same methods here, and so does the driver:
  * the HNSW walk, the IVF cell probe, the PQ lookup table and the LSH
  * query signature pass their arrays wrapped by
  * `UnsafeArrayData.fromPrimitiveArray`. The dimension rule holds there
  * too: a stored vector of another dimension than the query's is never
  * scored, and a query whose dimension differs from the index's fails
  * with an `IllegalArgumentException`. */
object VectorKernels {

  @inline private def at(v: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  private final val Dot = 0
  private final val SqDist = 1
  private final val Manhattan = 2

  /** Left-to-right Σ of one elementwise term; NULL when the lengths
    * differ or an element is NULL. */
  private def fold(term: Int, a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = at(a, fa, i)
      val y = at(b, fb, i)
      s += ((term: @annotation.switch) match {
        case Dot => x * y
        case SqDist => (x - y) * (x - y)
        case _ => math.abs(x - y)
      })
      i += 1
    }
    s
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

  /** dot/(‖a‖·‖b‖) in one pass over both operands. Each norm is taken
    * over its own whole array, and the zero-norm guard (src/utils.rs:9-13)
    * fires before the length and NULL tests, as the reference's
    * three-valued `OR` does: a zero-norm operand gives 0.0 even against a
    * longer vector or one with a NULL element. */
  def cosine(a: ArrayData, fa: Boolean, b: ArrayData, fb: Boolean): java.lang.Double = {
    val la = a.numElements()
    val lb = b.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var nullA = false; var nullB = false
    var i = 0
    // past the shorter operand its element reads as 0.0, which leaves
    // its norm unchanged; `dot` is only used when the lengths agree
    while (i < la || i < lb) {
      var x = 0.0; var y = 0.0
      if (i < la) { if (a.isNullAt(i)) nullA = true else x = at(a, fa, i) }
      if (i < lb) { if (b.isNullAt(i)) nullB = true else y = at(b, fb, i) }
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if ((!nullA && na == 0.0) || (!nullB && nb == 0.0)) 0.0
    else if (nullA || nullB || la != lb) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
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

  override def nullSafeEval(a: Any, b: Any): Any =
    run(a.asInstanceOf[ArrayData], isFloat(left), b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val r = ctx.freshName("r")
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${a.isNull} && !${b.isNull}) {
        java.lang.Double $r = graft.expressions.VectorKernels.$kernel(
          ${a.value}, ${isFloat(left)}, ${b.value}, ${isFloat(right)});
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
