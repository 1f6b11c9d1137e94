package graft.rules

import graft.functions.{RuleOverall, RuleResultCoerce, RuleSetLayout, RuleSetResults}
import org.apache.spark.sql.catalyst.expressions.{KnownNotNull, KnownNullable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.sql.{Column, DataFrame}

/**
 * The DQ rule runner (reference: impl/RuleRunner.scala, docs/getting_started).
 *
 * Spark-first: each rule's SQL parses to a Catalyst expression, is wrapped in
 * one small codegen coercion node, and the whole suite becomes a single
 * projection — an array of per-rule ints, then a nested result struct:
 *
 *   struct<id: bigint,
 *          overallResult: int,
 *          ruleSetResults: map<bigint, struct<overallResult: int,
 *                                             ruleResults: map<bigint, int>>>>
 *
 * (schema per reference impl/RuleSparkTypes.scala:9-23; ids packed
 * (id<<32)|version). Whole-stage codegen fuses every rule into one generated
 * function; at 100 TB this is a narrow map with zero shuffle.
 */
object RuleRunner {

  /** Parse one rule, expanding suite lambdas + graft functions. */
  def parseRule(sql: String, suite: RuleSuite): Column =
    Parsing.parseCol(sql, suite)

  /** Every rule of `suite` as its coerced result column, in suite order —
   * the one results array all runners project. */
  private[rules] def coerced(suite: RuleSuite): Seq[Column] =
    suite.rules.map { case (_, r) =>
      Bridge.column(RuleResultCoerce(Parsing.parse(r.sql, suite)))
    }

  /** Overall of the 0-based range `[from, until)` of the results array: one
   * [[RuleOverall]] loop node per suite or rule set, however wide
   * (Failed dominates, Soft/Disabled neutral, probability below threshold
   * fails; an empty range is vacuously passed). */
  private def overall(tmp: Column, from: Int, until: Int, probablePass: Double): Column =
    Bridge.column(RuleOverall(Bridge.expression(tmp), from, until, probablePass))

  private val TmpCol = "graft_rr_tmp"

  /** Full DQ struct (with overall) from an existing results-array column —
   * shared with the engine/folder runners. */
  private[rules] def dqStructFrom(suite: RuleSuite, tmp: Column): Column =
    dqStruct(suite, tmp, withOverall = true)

  /** Build the nested DQ struct from the temp results array: `id` and
   * `overallResult` stay plain struct fields (so selecting the overall
   * prunes to one [[RuleOverall]]), `ruleSetResults` is one
   * [[RuleSetResults]] node, however wide the suite. */
  private def dqStruct(suite: RuleSuite, tmp: Column, withOverall: Boolean): Column = {
    val fields = Seq(lit(Id.pack(suite.id)).as("id")) ++
      (if (withOverall) Seq(overall(tmp, 0, suite.rules.size, suite.probablePass).as("overallResult"))
      else Nil) ++
      Seq(Bridge.column(RuleSetResults(Bridge.expression(tmp), RuleSetLayout.of(suite)))
        .as("ruleSetResults"))
    struct(fields: _*)
  }

  /** Add the nested DQ result column. Two stacked projections (results array,
   * then struct assembly) guarantee each rule evaluates exactly once;
   * Catalyst collapses them into one physical projection. */
  def addDataQuality(df: DataFrame, suite: RuleSuite, name: String = "DataQuality"): DataFrame =
    df.withColumn(TmpCol, array(coerced(suite): _*))
      .withColumn(name, dqStruct(suite, col(TmpCol), withOverall = true))
      .drop(TmpCol)

  /** Reference's addOverallResultsAndDetailsF: overall as its own top-level
   * column (fast predicate pushdown) + details struct without it. */
  def addOverallResultsAndDetails(
      df: DataFrame, suite: RuleSuite,
      overallName: String = "DQ_overallResult",
      detailsName: String = "DQ_details"): DataFrame =
    df.withColumn(TmpCol, array(coerced(suite): _*))
      .withColumn(overallName,
        overall(col(TmpCol), 0, suite.rules.size, suite.probablePass))
      .withColumn(detailsName, dqStruct(suite, col(TmpCol), withOverall = false))
      .drop(TmpCol)

  /** Single-Column variant, usable as `df.select(ruleRunner(suite))`. */
  def ruleRunner(suite: RuleSuite): Column = {
    val tmp = array(coerced(suite): _*)
    dqStruct(suite, tmp, withOverall = true)
  }

  private def idHi(l: Column): Column = shiftright(l, 32).cast(IntegerType)
  // low 32 bits, sign-preserving (ANSI-safe: plain cast overflows on packed ids)
  private def idLo(l: Column): Column = shiftright(shiftleft(l, 32), 32).cast(IntegerType)

  /**
   * flatten_results(dq) → array<struct<ruleSuiteId, ruleSuiteVersion,
   * ruleSuiteResult, ruleSetResult, ruleSetId, ruleSetVersion, ruleId,
   * ruleVersion, ruleResult>> (reference: impl/FlattenResultsExpression.scala:19-28).
   * Pure higher-order-function composition — stays in codegen.
   */
  def flattenResults(dq: Column): Column = {
    val suiteId = dq.getField("id")
    flatten(transform(map_entries(dq.getField("ruleSetResults")), se =>
      transform(map_entries(se.getField("value").getField("ruleResults")), re =>
        struct(
          idHi(suiteId).as("ruleSuiteId"),
          idLo(suiteId).as("ruleSuiteVersion"),
          dq.getField("overallResult").as("ruleSuiteResult"),
          se.getField("value").getField("overallResult").as("ruleSetResult"),
          idHi(se.getField("key")).as("ruleSetId"),
          idLo(se.getField("key")).as("ruleSetVersion"),
          idHi(re.getField("key")).as("ruleId"),
          idLo(re.getField("key")).as("ruleVersion"),
          re.getField("value").as("ruleResult")))))
  }

  private val PosCol = "graft_pos"

  /**
   * The per-rule row source of the reports below: one row per (input row,
   * rule), from one `posexplode` of the coerced results array. Each row
   * carries the columns `perRow` builds from the input row (given the
   * results array; computed once per input row, before the explode), then
   * the rule's `graft_set`/`graft_set_v`/`graft_rule`/`graft_rule_v` id
   * halves, its 0-based set index `graft_set_ix`, its 0-based position
   * `graft_pos` in the results array and its result `graft_res`.
   * The layout values are literal `int[]`s read at the rule's position, so
   * the plan grows with the rule count only through the results array, and
   * a repeated id is one more row under the same key, never a map entry.
   */
  private[graft] def perRule(df: DataFrame, suite: RuleSuite)(
      perRow: Column => Seq[Column]): DataFrame = {
    val rows = df.withColumn(TmpCol, results(suite))
      .select(perRow(col(TmpCol)) :+ col(TmpCol): _*)
    val keep = rows.columns.init.toSeq.map(n => col(s"`$n`"))
    val indexed = suite.ruleSets.zipWithIndex.flatMap { case (rs, si) => rs.rules.map((rs, si, _)) }
    def at(f: ((RuleSet, Int, Rule)) => Int): Column =
      notNull(element_at(lit(indexed.map(f).toArray), col(PosCol) + 1))
    // an explode of a bare column gets an inferred `size(...) > 0` filter,
    // which the optimizer pushes below the projection as a second copy of
    // every rule; the results array is never null or in need of one
    rows.select(keep :+ posexplode(notNull(col(TmpCol))).as(Seq(PosCol, "graft_res")): _*)
      .select(keep ++ Seq(
        at(_._1.id.id).as("graft_set"), at(_._1.id.version).as("graft_set_v"),
        at(_._3.id.id).as("graft_rule"), at(_._3.id.version).as("graft_rule_v"),
        at(_._2).as("graft_set_ix"), col(PosCol), col("graft_res")): _*)
  }

  /** `c`, known never null: the results array, or a read of an array at a
   * position known to be in bounds. */
  private def notNull(c: Column): Column =
    Bridge.column(KnownNotNull(Bridge.expression(c)))

  /** The coerced results array. */
  private def results(suite: RuleSuite): Column = ints(coerced(suite))

  /** `array(cs)`, typed `array<int>` even when `cs` is empty. */
  private def ints(cs: Seq[Column]): Column =
    if (cs.isEmpty) typedLit(Array.empty[Int]) else array(cs: _*)

  /** The outcome counts of a per-rule report over the coerced result `res`:
   * evaluated, then one count per result class of the encoding
   * ([[graft.rules.RuleResults]]) — Passed, Failed, SoftFailed,
   * DisabledRule, and `probabilistic` for anything strictly between Failed
   * and Passed — so the classes always sum to `evaluated`. */
  private[graft] def outcomeCounts(res: Column): Seq[Column] = Seq(
    count(lit(1)).as("evaluated"),
    count(when(res === RuleResults.PassedInt, 1)).as("passed"),
    count(when(res === RuleResults.FailedInt, 1)).as("failed"),
    count(when(res === RuleResults.SoftFailedInt, 1)).as("soft_failed"),
    count(when(res === RuleResults.DisabledRuleInt, 1)).as("disabled"),
    count(when(res > 0 && res < RuleResults.PassedInt, 1)).as("probabilistic"))

  /** [[outcomeCounts]]' column names, then the pass rate in exact
   * parts-per-million over the non-disabled evaluations. */
  private[graft] val outcomeColumns: Seq[Column] =
    Seq("evaluated", "passed", "failed", "soft_failed", "disabled", "probabilistic").map(col) :+
      expr("passed * 1000000L div nullif(evaluated - disabled, 0L)").as("pass_rate_ppm")

  /**
   * Per-rule health report — the DQ dashboard row: for every rule in the
   * suite, how often it ran and how it came out ([[outcomeCounts]]), plus
   * the pass rate in exact parts-per-million over the non-disabled
   * evaluations. A probability is counted `probabilistic`; its mass is NOT
   * folded into passed — gate on [[addDataQuality]]'s overall with
   * probablePass for that. One pass over the [[perRule]] rows + one
   * combining aggregate keyed by (suite, set, rule) — a handful of groups,
   * no skew.
   */
  def ruleStats(df: DataFrame, suite: RuleSuite): DataFrame = {
    val counts = outcomeCounts(col("graft_res"))
    perRule(df, suite)(_ => Nil)
      .groupBy(lit(suite.id.id).as("suiteId"), col("graft_set").as("setId"),
        col("graft_rule").as("ruleId"))
      .agg(counts.head, counts.tail: _*)
      .select(Seq(col("suiteId"), col("setId"), col("ruleId")) ++ outcomeColumns: _*)
  }

  /**
   * SHADOW-compare two suite versions on the same data — the pre-deploy
   * answer to "what would this rule edit do to the corpus?": evaluate
   * both suites in ONE pass (two results arrays over the same scan, no
   * second read), then report per rule how many rows changed outcome —
   * (setId, ruleId, evaluated, same, a_pass_b_fail, a_fail_b_pass,
   * flip_ppm). Pass means the coerced Passed class, so a probability
   * drifting across the pass line counts as a flip. The suites must
   * share the same rule GRID (same set/rule ids in the same order — the
   * edited-expressions case this exists for); differing grids are
   * refused loudly rather than mislabeled positionally. Each of A's
   * [[perRule]] rows reads B's result at the same position; one
   * combining aggregate keyed by rule; rows never shuffle.
   */
  def compareSuites(df: DataFrame, suiteA: RuleSuite, suiteB: RuleSuite): DataFrame = {
    // versions are EXPECTED to differ (an edited rule bumps its version) —
    // the grid is the id halves only
    def grid(s: RuleSuite) = s.ruleSets.map(rs => rs.id.id -> rs.rules.map(_.id.id))
    require(grid(suiteA) == grid(suiteB),
      "compareSuites needs the same rule grid in both suites (same set/rule " +
        "ids in the same order) — it shadow-tests EDITED rule expressions, " +
        "not added/removed rules")
    perRule(df, suiteA)(_ => Seq(results(suiteB).as("graft_b")))
      .select(col("graft_set").as("setId"), col("graft_rule").as("ruleId"),
        (col("graft_res") === RuleResults.PassedInt).as("graft_pa"),
        (element_at(col("graft_b"), col(PosCol) + 1) === RuleResults.PassedInt).as("graft_pb"))
      .groupBy(col("setId"), col("ruleId"))
      .agg(
        count(lit(1)).as("evaluated"),
        count(when(col("graft_pa") === col("graft_pb"), 1)).as("same"),
        count(when(col("graft_pa") && !col("graft_pb"), 1)).as("a_pass_b_fail"),
        count(when(!col("graft_pa") && col("graft_pb"), 1)).as("a_fail_b_pass"))
      .select(col("setId"), col("ruleId"), col("evaluated"), col("same"),
        col("a_pass_b_fail"), col("a_fail_b_pass"),
        expr("(a_pass_b_fail + a_fail_b_pass) * 1000000L div nullif(evaluated, 0L)")
          .as("flip_ppm"))
  }

  /**
   * Scale path for flatten-then-aggregate pipelines: the [[perRule]] rows
   * with the suite overall and each row's set overall beside them — both
   * [[RuleOverall]] columns computed ONCE per input row (the set overalls as
   * one array read by set index), no intermediate maps, so downstream column
   * pruning applies. Output schema matches explode(flattenResults(dq)).
   */
  def addFlattenedResults(df: DataFrame, suite: RuleSuite): DataFrame = {
    val bounds = suite.ruleSets.scanLeft(0)(_ + _.rules.size)
    def overalls(tmp: Column) = Seq(
      overall(tmp, 0, bounds.last, suite.probablePass).as("graft_ov_suite"),
      ints(suite.ruleSets.indices.map(si =>
        overall(tmp, bounds(si), bounds(si + 1), suite.probablePass))).as("graft_ov_sets"))
    perRule(df, suite)(overalls).select(
      lit(suite.id.id).as("ruleSuiteId"),
      lit(suite.id.version).as("ruleSuiteVersion"),
      col("graft_ov_suite").as("ruleSuiteResult"),
      notNull(element_at(col("graft_ov_sets"), col("graft_set_ix") + 1)).as("ruleSetResult"),
      col("graft_set").as("ruleSetId"),
      col("graft_set_v").as("ruleSetVersion"),
      col("graft_rule").as("ruleId"),
      col("graft_rule_v").as("ruleVersion"),
      // typed as explode(flattenResults(dq)) types it: each rule's result
      // is an element_at read there, which Spark types nullable
      (if (suite.rules.isEmpty) col("graft_res")
      else Bridge.column(KnownNullable(Bridge.expression(col("graft_res"))))).as("ruleResult"))
  }

  /** rule_result(results, packedSuiteId, packedSetId, packedRuleId) — works
   * on both DQ and expressionRunner shapes (see RuleResultLookup). */
  def ruleResult(dq: Column, suiteId: Column, setId: Column, ruleId: Column): Column =
    Bridge.column(graft.functions.RuleResultLookup(
      Bridge.expression(dq), Bridge.expression(suiteId.cast(LongType)),
      Bridge.expression(setId.cast(LongType)), Bridge.expression(ruleId.cast(LongType))))

  /** rule_suite_result_details(dq) — strip the overall result. */
  def details(dq: Column): Column =
    struct(
      dq.getField("id").as("id"),
      dq.getField("ruleSetResults").as("ruleSetResults"))

  /**
   * Per-rule failure EXAMPLES — the report a rules operator debugs from:
   * for every rule with failures, how many rows failed and the k lowest
   * failing row ids to go look at. Returns (ruleId, n_failed, rank,
   * example_id), rank 1..k. One suite evaluation + the mergeable
   * bounded-heap top-k per rule (map-side partials ship ≤ k ids per rule
   * per partition — a 10⁹-row failure flood never funnels one reducer).
   *
   * Id contract: ids must fit double precision (|id| < 2⁵³ — ordinary
   * sequential document ids). Hash-derived full-64-bit ids lose low bits
   * in the ranking cast, making "lowest" arbitrary among ids that collide
   * at 53-bit precision (the examples are still genuine failing ids).
   */
  def failureExamples(
      df: DataFrame, suite: RuleSuite, idCol: Column, k: Int = 5): DataFrame = {
    require(k > 0, "k must be positive")
    import graft.functions.dsl.top_k_by
    perRule(df, suite)(_ => Seq(idCol.cast(LongType).as("graft_id")))
      .where(col("graft_res") === lit(RuleResults.FailedInt))
      .groupBy(col("graft_rule").as("ruleId"))
      .agg(count(lit(1)).as("n_failed"),
        // ord = -id: top_k_by keeps the k LARGEST ord, so the k lowest ids
        top_k_by((-col("graft_id")).cast("double"), col("graft_id"), k)
          .as("graft_topk"))
      .select(col("ruleId"), col("n_failed"),
        posexplode(col("graft_topk")).as(Seq("graft_pos", "graft_t")))
      .select(col("ruleId"), col("n_failed"),
        (col("graft_pos") + 1).cast("int").as("rank"),
        col("graft_t.item").as("example_id"))
  }
}
