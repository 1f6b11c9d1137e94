package graft.rules

import graft.rules.RuleResults._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * The rule engine runner (reference: impl/RuleEngineRunner.scala,
 * docs/advanced/ruleEngine.md): a large-scale auditable CASE statement.
 * Each rule may carry an output expression with a salience; the
 * lowest-salience rule whose result is exactly Passed fires its output.
 *
 * Output column shape matches the reference:
 *   struct<ruleSuiteResults: <DQ struct>,
 *          salientRule: struct<ruleSuiteId,ruleSetId,ruleId> (packed longs),
 *          result: T>
 * salientRule null ⇔ no rule triggered (then result is null too); a triggered
 * rule with a null-valued output leaves result null with salientRule set.
 *
 * Spark-first: the whole engine is a chain of `when` branches over the
 * coerced results array — one projection, whole-stage codegen, no shuffle.
 */
object RuleEngine {

  private val TmpCol = "graft_re_tmp"

  private[rules] case class Indexed(
      setId: Id, rule: Rule, idx: Int /* 1-based in results array */)

  private[rules] def indexed(suite: RuleSuite): Seq[Indexed] = {
    var i = 0
    suite.ruleSets.flatMap { rs =>
      rs.rules.map { r => i += 1; Indexed(rs.id, r, i) }
    }
  }

  /** Rules carrying outputs, stably ordered by salience (ascending) —
   * reference iterates keeping strictly-lower salience, so ties resolve to
   * declaration order. */
  private[rules] def bySalience(suite: RuleSuite): Seq[Indexed] =
    indexed(suite).filter(_.rule.output.isDefined).sortBy(_.rule.output.get.salience)

  def addRuleEngine(
      df: DataFrame, suite: RuleSuite, name: String = "ruleEngine",
      outputDdl: Option[String] = None, debugMode: Boolean = false): DataFrame = {
    val tmp = col(TmpCol)
    val ordered = bySalience(suite)

    def res(i: Indexed): Column = element_at(tmp, i.idx)
    def out(i: Indexed): Column = {
      val c = Parsing.parseCol(i.rule.output.get.sql, suite)
      outputDdl.map(c.cast).getOrElse(c)
    }

    val salient: Column = ordered
      .foldLeft(None: Option[Column]) { (acc, i) =>
        val hit = struct(
          lit(Id.pack(suite.id)).as("ruleSuiteId"),
          lit(Id.pack(i.setId)).as("ruleSetId"),
          lit(Id.pack(i.rule.id)).as("ruleId"))
        Some(acc.fold(when(res(i) === PassedInt, hit))(_.when(res(i) === PassedInt, hit)))
      }
      .getOrElse(lit(null))

    val result: Column =
      if (debugMode) {
        // all triggered outputs with their salience, in salience order
        val entries = ordered.map { i =>
          when(res(i) === PassedInt,
            struct(lit(i.rule.output.get.salience).as("salience"), out(i).as("result")))
        }
        if (entries.isEmpty) lit(null)
        else filter(array(entries: _*), e => e.isNotNull)
      } else
        ordered
          .foldLeft(None: Option[Column]) { (acc, i) =>
            Some(acc.fold(when(res(i) === PassedInt, out(i)))(_.when(res(i) === PassedInt, out(i))))
          }
          .getOrElse(lit(null))

    df.withColumn(TmpCol, array(RuleRunner.coerced(suite): _*))
      .withColumn(name, struct(
        RuleRunner.dqStructFrom(suite, tmp).as("ruleSuiteResults"),
        salient.as("salientRule"),
        result.as("result")))
      .drop(TmpCol)
  }

  /** flatten_rule_results: base flatten + salientRule + result per row
   * (reference: impl/FlattenResultsExpression.scala:126-127). */
  def flattenRuleResults(engine: Column): Column = {
    val base = RuleRunner.flattenResults(engine.getField("ruleSuiteResults"))
    transform(base, r =>
      r.withField("salientRule", engine.getField("salientRule"))
        .withField("result", engine.getField("result")))
  }
}
