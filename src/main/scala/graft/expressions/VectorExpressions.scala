package graft.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused single-pass cosine similarity as a native codegen Expression —
  * the one §7.6 "perf-optional" custom Catalyst piece this engine
  * needs. The HOF formulation (aggregate ∘ zip_with ×3) walks both
  * arrays three times through iterator-shaped generated code; at 100 TB
  * pair-join scale (n² rerank work) that tripling is the dominant cost.
  * This expression computes dot, ‖a‖² and ‖b‖² in ONE primitive loop
  * inside WholeStageCodegen.
  *
  * Semantics are BIT-IDENTICAL to graft.functions.VectorOps.cosine
  * (left-to-right double accumulation, zero-norm guard of kowari
  * src/utils.rs:9-13) — pinned by VectorOpsSpec — so oracle-checked
  * results are unchanged when the fast path is swapped in.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  // EXACT HOF semantics on degenerate inputs (elements assumed
  // non-null — the engine's vector schema is containsNull=false):
  // each norm is computed over its OWN full array, and the zero-norm
  // guard fires BEFORE the ragged check — so a zero-norm operand
  // yields 0.0 even against a different-length vector (the HOF guard
  // short-circuits the null-poisoned dot), while ragged non-zero pairs
  // yield NULL (zip_with null-pads and the fold poisons). A
  // wrong-dimension vector can therefore never sneak a prefix score
  // into a top-k. Nullable regardless of the children.
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_cosine expects array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    val fa = elemIsFloat(left); val fb = elemIsFloat(right)
    val la = xa.numElements(); val lb = xb.numElements()
    val n = math.min(la, lb)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = if (fa) xa.getFloat(i).toDouble else xa.getDouble(i)
      val y = if (fb) xb.getFloat(i).toDouble else xb.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    while (i < la) {
      val x = if (fa) xa.getFloat(i).toDouble else xa.getDouble(i)
      na += x * x; i += 1
    }
    i = n
    while (i < lb) {
      val y = if (fb) xb.getFloat(i).toDouble else xb.getDouble(i)
      nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else if (la != lb) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: the expression may appear several times in one
      // generated function (e.g. HOF-vs-native comparison plans)
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $la = $a.numElements();
         |int $lb = $b.numElements();
         |int $n = java.lang.Math.min($la, $lb);
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |int $i = 0;
         |for (; $i < $n; $i++) {
         |  double x$i = $getA;
         |  double y$i = $getB;
         |  $dot += x$i * y$i; $na += x$i * x$i; $nb += y$i * y$i;
         |}
         |for (; $i < $la; $i++) { double x$i = $getA; $na += x$i * x$i; }
         |for ($i = $n; $i < $lb; $i++) { double y$i = $getB; $nb += y$i * y$i; }
         |if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.value} = 0.0;
         |} else if ($la != $lb) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Same treatment for the plain dot product (LSH plane hashing, IVF
  * assignment): one primitive loop instead of aggregate ∘ zip_with. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // ragged inputs -> NULL; elements assumed non-null (the engine's
  // vector schema is containsNull=false) — see CosineSim
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_dot expects array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    if (xa.numElements() != xb.numElements()) return null
    val fa = elemIsFloat(left); val fb = elemIsFloat(right)
    val n = xa.numElements()
    var dot = 0.0; var i = 0
    while (i < n) {
      val x = if (fa) xa.getFloat(i).toDouble else xa.getDouble(i)
      val y = if (fb) xb.getFloat(i).toDouble else xb.getDouble(i)
      dot += x * y
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $dot += ($getA) * ($getB); }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Euclidean distance ‖a−b‖₂ in one primitive loop — bit-identical to
  * the HOF `sqrt(aggregate(zip_with(...)))` chain (left-to-right double
  * accumulation of squared diffs, then one sqrt), so oracle-checked
  * results are unchanged when the fast path is swapped in. Reference
  * semantics: kowari src/utils.rs:16-19. */
case class EuclideanDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_euclidean"
  // ragged inputs -> NULL; elements assumed non-null (the engine's
  // vector schema is containsNull=false) — see CosineSim
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_euclidean expects array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    if (xa.numElements() != xb.numElements()) return null
    val fa = elemIsFloat(left); val fb = elemIsFloat(right)
    val n = xa.numElements()
    var s = 0.0; var i = 0
    while (i < n) {
      val x = if (fa) xa.getFloat(i).toDouble else xa.getDouble(i)
      val y = if (fb) xb.getFloat(i).toDouble else xb.getDouble(i)
      val diff = x - y
      s += diff * diff
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s"); val diff = ctx.freshName("diff")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $diff = ($getA) - ($getB);
         |    $s += $diff * $diff;
         |  }
         |  ${ev.value} = java.lang.Math.sqrt($s);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EuclideanDist =
    copy(left = newLeft, right = newRight)
}

/** Manhattan distance Σ|aᵢ−bᵢ| in one primitive loop — bit-identical
  * to the HOF chain (kowari src/utils.rs:21-24 semantics). */
case class ManhattanDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_manhattan"
  // ragged inputs -> NULL; elements assumed non-null (the engine's
  // vector schema is containsNull=false) — see CosineSim
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(
      s"graft_manhattan expects array<float|double>, got $t")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xa = a.asInstanceOf[ArrayData]
    val xb = b.asInstanceOf[ArrayData]
    if (xa.numElements() != xb.numElements()) return null
    val fa = elemIsFloat(left); val fb = elemIsFloat(right)
    val n = xa.numElements()
    var s = 0.0; var i = 0
    while (i < n) {
      val x = if (fa) xa.getFloat(i).toDouble else xa.getDouble(i)
      val y = if (fb) xb.getFloat(i).toDouble else xb.getDouble(i)
      s += math.abs(x - y)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += java.lang.Math.abs(($getA) - ($getB));
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ManhattanDist =
    copy(left = newLeft, right = newRight)
}

/** Session registration (idempotent): makes the expressions reachable
  * as SQL functions and via functions.call_function — the supported
  * route to a custom Expression without private Column constructors. */
object GraftFunctions {
  /** (name, implementing class, builder) of every native function. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", classOf[CosineSim].getName, c => CosineSim(c(0), c(1))),
    ("graft_dot", classOf[DotProduct].getName, c => DotProduct(c(0), c(1))),
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
