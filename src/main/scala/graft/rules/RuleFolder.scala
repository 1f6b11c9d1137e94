package graft.rules

import graft.rules.RuleResults._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * The rule folder runner (reference: impl/RuleFolderRunner.scala,
 * docs/advanced/ruleFolder.md): folds a starter struct through every
 * triggered rule's single-arg output lambda in ascending salience order.
 * Output: struct<ruleSuiteResults, result: T> with result null when no rule
 * triggered; debugMode collects array<struct<salience, result>> of each
 * intermediate fold step.
 *
 * Spark-first: the fold is unrolled at plan time into nested when/withField
 * chains — a single projection, no custom runtime.
 */
object RuleFolder {

  private val TmpCol = "graft_rf_tmp"

  def addRuleFolder(
      df: DataFrame, suite: RuleSuite, start: Column,
      name: String = "ruleFolder", debugMode: Boolean = false): DataFrame = {
    val tmp = col(TmpCol)
    val ordered = RuleEngine.bySalience(suite)

    def res(i: RuleEngine.Indexed): Column = element_at(tmp, i.idx)

    // unroll the fold: acc_i = triggered ? output_i(acc_{i-1}) : acc_{i-1}.
    // Each step binds the previous accumulator as a lambda variable via a
    // single-element transform — a Catalyst "let" — so the expression tree
    // grows linearly with rule count instead of doubling per rule.
    val steps: Seq[(RuleEngine.Indexed, Column)] = {
      var acc: Column = start
      ordered.map { i =>
        val stepped = element_at(
          transform(array(acc), prev =>
            when(res(i) === PassedInt,
              Parsing.applyFolderOutput(i.rule.output.get.sql, suite, prev))
              .otherwise(prev)),
          1)
        acc = stepped
        (i, acc)
      }
    }
    val anyTriggered: Column = ordered
      .map(i => res(i) === PassedInt)
      .reduceOption(_ || _)
      .getOrElse(lit(false))
    val result: Column =
      if (debugMode) {
        val entries = steps.map { case (i, acc) =>
          when(res(i) === PassedInt,
            struct(lit(i.rule.output.get.salience).as("salience"), acc.as("result")))
        }
        if (entries.isEmpty) lit(null) else filter(array(entries: _*), _.isNotNull)
      } else
        steps.lastOption.map { case (_, acc) => when(anyTriggered, acc) }.getOrElse(lit(null))

    df.withColumn(TmpCol, array(RuleRunner.coerced(suite): _*))
      .withColumn(name, struct(
        RuleRunner.dqStructFrom(suite, tmp).as("ruleSuiteResults"),
        result.as("result")))
      .drop(TmpCol)
  }

  /** flatten_folder_results: base flatten + result per row
   * (reference: impl/FlattenResultsExpression.scala:180-181). */
  def flattenFolderResults(folder: Column): Column = {
    val base = RuleRunner.flattenResults(folder.getField("ruleSuiteResults"))
    transform(base, r => r.withField("result", folder.getField("result")))
  }
}
