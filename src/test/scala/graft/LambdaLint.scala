package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Flags lambda-invariant work: a tokenizer split, an md5, a regex or a
  * nested higher-order function inside a lambda body that uses none of
  * the variables bound by that lambda (or by lambdas nested between
  * it and the expression). Spark evaluates such an expression once per
  * element of the lambda's array instead of once per row. */
object LambdaLint {

  private def costly(e: Expression): Boolean = e match {
    case _: StringSplit | _: Md5 | _: RLike | _: RegExpReplace |
         _: RegExpExtractBase | _: HigherOrderFunction => true
    case _ => false
  }

  private def bound(e: Expression): Set[ExprId] =
    e.collect { case l: LambdaFunction => l.arguments.map(_.exprId) }.flatten.toSet

  private def free(e: Expression): Set[ExprId] =
    e.collect { case v: NamedLambdaVariable => v.exprId }.toSet -- bound(e)

  /** One line per offending (operator, expression, enclosing function),
    * empty when the plan is clean. */
  def offenders(plan: LogicalPlan): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case hof: HigherOrderFunction =>
          hof.functions.foreach {
            case lf: LambdaFunction =>
              val varying = lf.arguments.map(_.exprId).toSet ++ bound(lf.function)
              lf.function.foreach { e =>
                if (costly(e) && (free(e) & varying).isEmpty)
                  out += s"${node.nodeName}: ${e.prettyName} per element of ${hof.prettyName}"
              }
            case _ =>
          }
        case _ =>
      })
    }
    out.toSeq
  }
}
