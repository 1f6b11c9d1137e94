package graft.functions

import graft.rules.RuleResults._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/**
 * The overall-result fold (reference: impl/OverallResult.scala:21-30):
 * Failed dominates, Passed/SoftFailed/DisabledRule are neutral, and any
 * other value is a probability that fails below `probablePass * Passed`.
 * The fold only ever lands on Passed or Failed, so it is "Failed iff any
 * element fails". This is the one definition: [[RuleOverall]]'s eval and
 * generated loop and `Processor.overallOf` all go through [[fails]].
 */
object RuleOverallFold {
  def threshold(probablePass: Double): Double = probablePass * PassedInt

  /** `d` as a Java expression: a bare `${d}D` does not compile for NaN or
   * ±Infinity. */
  def javaDouble(d: Double): String =
    if (d.isNaN) "Double.NaN"
    else if (d.isPosInfinity) "Double.POSITIVE_INFINITY"
    else if (d.isNegInfinity) "Double.NEGATIVE_INFINITY"
    else s"${d}D"

  def fails(r: Int, threshold: Double): Boolean =
    r != PassedInt && r != SoftFailedInt && r != DisabledRuleInt &&
      (r == FailedInt || r < threshold)

  /** Overall of `at(from) … at(until - 1)`, exiting on the first failure. */
  def fold(at: Int => Int, from: Int, until: Int, probablePass: Double): Int = {
    val t = threshold(probablePass)
    var i = from
    while (i < until) {
      if (fails(at(i), t)) return FailedInt
      i += 1
    }
    PassedInt // empty range: vacuously passed
  }
}

/**
 * Overall result of `results[from, until)` (0-based, `until` exclusive) of a
 * rule-results `array<int>`: one node per suite or rule set, whatever its
 * width. The generated code is a single `for` loop with an early exit, so
 * the plan stays flat (no per-rule predicate tree, no deep `Or` chain) and
 * the fold stays inside whole-stage codegen, where the built-in
 * `exists`/`aggregate` would fall back to interpreted lambdas.
 */
case class RuleOverall(results: Expression, from: Int, until: Int, probablePass: Double)
    extends UnaryExpression {
  require(0 <= from && from <= until, s"bad range [$from, $until)")

  override def child: Expression = results
  override def dataType: DataType = IntegerType
  override def prettyName: String = "rule_overall"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    RuleOverallFold.fold(arr.getInt, from, until, probablePass)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fold = "graft.functions.RuleOverallFold"
    val tLit = RuleOverallFold.javaDouble(RuleOverallFold.threshold(probablePass))
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, arr =>
      s"""
        ${ev.value} = $PassedInt;
        for (int $i = $from; $i < $until; $i++) {
          if ($fold.fails($arr.getInt($i), $tLit)) {
            ${ev.value} = $FailedInt;
            break;
          }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(results = newChild)
}
