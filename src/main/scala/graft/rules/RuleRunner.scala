package graft.rules

import graft.functions.{RuleOverall, RuleResultCoerce}
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

  /** Build the nested DQ struct from the temp results array. */
  private def dqStruct(suite: RuleSuite, tmp: Column, withOverall: Boolean): Column = {
    // global rule index, in ruleSet order — element_at is 1-based
    var idx = 0
    val setEntries: Seq[Column] = suite.ruleSets.flatMap { rs =>
      val from = idx
      val ruleEntries: Seq[Column] = rs.rules.flatMap { r =>
        idx += 1
        Seq(lit(Id.pack(r.id)), element_at(tmp, idx))
      }
      Seq(
        lit(Id.pack(rs.id)),
        struct(
          overall(tmp, from, idx, suite.probablePass).as("overallResult"),
          map(ruleEntries: _*).as("ruleResults")))
    }
    val fields = Seq(lit(Id.pack(suite.id)).as("id")) ++
      (if (withOverall) Seq(overall(tmp, 0, idx, suite.probablePass).as("overallResult"))
      else Nil) ++
      Seq(map(setEntries: _*).as("ruleSetResults"))
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

  /**
   * Per-rule health report — the DQ dashboard row: for every rule in the
   * suite, how often it ran and how it came out, plus the pass rate in
   * exact parts-per-million over the non-disabled evaluations. Result
   * classes follow the encoding ([[graft.rules.RuleResults]]): Passed
   * 100000, Failed 0, SoftFailed −1, DisabledRule −2, anything strictly
   * between 0 and 100000 is a probability (counted `probabilistic`; its
   * mass is NOT folded into passed — gate on [[addDataQuality]]'s overall
   * with probablePass for that). One evaluation pass + one combining
   * aggregate keyed by (suite, set, rule) — a handful of groups, no skew.
   */
  def ruleStats(df: DataFrame, suite: RuleSuite): DataFrame = {
    val r = addDataQuality(df, suite)
      .select(explode(flattenResults(col("DataQuality"))).as("graft_r"))
      .select(col("graft_r.ruleSuiteId").as("suiteId"),
        col("graft_r.ruleSetId").as("setId"),
        col("graft_r.ruleId").as("ruleId"),
        col("graft_r.ruleResult").as("graft_res"))
    r.groupBy(col("suiteId"), col("setId"), col("ruleId"))
      .agg(
        count(lit(1)).as("evaluated"),
        count(when(col("graft_res") === RuleResults.PassedInt, 1)).as("passed"),
        count(when(col("graft_res") === RuleResults.FailedInt, 1)).as("failed"),
        count(when(col("graft_res") === RuleResults.SoftFailedInt, 1)).as("soft_failed"),
        count(when(col("graft_res") === RuleResults.DisabledRuleInt, 1)).as("disabled"),
        count(when(col("graft_res") > 0 && col("graft_res") < RuleResults.PassedInt, 1))
          .as("probabilistic"))
      .select(col("suiteId"), col("setId"), col("ruleId"), col("evaluated"),
        col("passed"), col("failed"), col("soft_failed"), col("disabled"),
        col("probabilistic"),
        expr("passed * 1000000L div nullif(evaluated - disabled, 0L)").as("pass_rate_ppm"))
  }

  /**
   * SHADOW-compare two suite versions on the same data — the pre-deploy
   * answer to "what would this rule edit do to the corpus?": evaluate
   * both suites in ONE pass (two projections over the same scan, no
   * second read), then report per rule how many rows changed outcome —
   * (setId, ruleId, evaluated, same, a_pass_b_fail, a_fail_b_pass,
   * flip_ppm). Pass means the coerced Passed class, so a probability
   * drifting across the pass line counts as a flip. The suites must
   * share the same rule GRID (same set/rule ids in the same order — the
   * edited-expressions case this exists for); differing grids are
   * refused loudly rather than mislabeled positionally. One combining
   * aggregate keyed by rule; rows never shuffle.
   */
  def compareSuites(df: DataFrame, suiteA: RuleSuite, suiteB: RuleSuite): DataFrame = {
    // versions are EXPECTED to differ (an edited rule bumps its version) —
    // the grid is the id halves only
    def grid(s: RuleSuite) = s.ruleSets.map(rs => rs.id.id -> rs.rules.map(_.id.id))
    require(grid(suiteA) == grid(suiteB),
      "compareSuites needs the same rule grid in both suites (same set/rule " +
        "ids in the same order) — it shadow-tests EDITED rule expressions, " +
        "not added/removed rules")
    // the grid is a driver-side object: unroll one small struct per rule
    // with DIRECT map lookups into each DQ column — no HOF-built arrays to
    // zip (arrays_zip over the flatten transforms fell out of codegen and
    // measured ~10× slower at bench scale)
    def passed(dq: String, set: Id, rule: Id) =
      element_at(element_at(col(s"$dq.ruleSetResults"), lit(Id.pack(set)))
        .getField("ruleResults"), lit(Id.pack(rule))) === RuleResults.PassedInt
    val entries = suiteA.ruleSets.map { rsA =>
      val rsB = suiteB.ruleSets.find(_.id.id == rsA.id.id).get
      rsA -> rsB
    }.flatMap { case (rsA, rsB) =>
      rsA.rules.map { rA =>
        val rB = rsB.rules.find(_.id.id == rA.id.id).get
        struct(
          lit(rsA.id.id).as("setId"), lit(rA.id.id).as("ruleId"),
          passed("graft_dq_a", rsA.id, rA.id).as("pa"),
          passed("graft_dq_b", rsB.id, rB.id).as("pb"))
      }
    }
    addDataQuality(addDataQuality(df, suiteA, "graft_dq_a"), suiteB, "graft_dq_b")
      .select(explode(array(entries: _*)).as("graft_z"))
      .select(col("graft_z.setId").as("setId"),
        col("graft_z.ruleId").as("ruleId"),
        col("graft_z.pa").as("graft_pa"),
        col("graft_z.pb").as("graft_pb"))
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
   * Scale path for flatten-then-aggregate pipelines: produces the exploded
   * rows DIRECTLY from the results array — ids are per-rule literals, no
   * intermediate maps, no map_entries transforms — so the generator input is
   * minimal and downstream column pruning actually applies.
   * Output schema matches explode(flattenResults(dq)).
   */
  def addFlattenedResults(df: DataFrame, suite: RuleSuite): DataFrame = {
    import org.apache.spark.sql.functions.{explode, struct}
    val tmp = col(TmpCol)
    // suite/set overalls live in their own projected columns so each is
    // computed ONCE per row; referencing the expression inside every struct
    // would re-evaluate it per generated element (CollapseProject leaves
    // non-cheap multi-referenced aliases in their own projection)
    val suiteOvCol = "graft_ov_suite"
    val setOvCol = (i: Int) => s"graft_ov_set_$i"
    var idx = 0
    val rowCols: Seq[Column] = suite.ruleSets.zipWithIndex.flatMap { case (rs, si) =>
      rs.rules.map { r =>
        idx += 1
        struct(
          lit(suite.id.id).as("ruleSuiteId"),
          lit(suite.id.version).as("ruleSuiteVersion"),
          col(suiteOvCol).as("ruleSuiteResult"),
          col(setOvCol(si)).as("ruleSetResult"),
          lit(rs.id.id).as("ruleSetId"),
          lit(rs.id.version).as("ruleSetVersion"),
          lit(r.id.id).as("ruleId"),
          lit(r.id.version).as("ruleVersion"),
          element_at(tmp, idx).as("ruleResult"))
      }
    }
    val bounds = suite.ruleSets.scanLeft(0)(_ + _.rules.size)
    val overalls = (suiteOvCol -> overall(tmp, 0, bounds.last, suite.probablePass)) +:
      suite.ruleSets.indices.map { si =>
        setOvCol(si) -> overall(tmp, bounds(si), bounds(si + 1), suite.probablePass)
      }
    val withOveralls = df.withColumn(TmpCol, array(coerced(suite): _*))
      .withColumns(overalls.toMap)
    if (rowCols.isEmpty) {
      // no rules → no flattened rows, but keep the output schema
      val names = Seq("ruleSuiteId", "ruleSuiteVersion", "ruleSuiteResult",
        "ruleSetResult", "ruleSetId", "ruleSetVersion", "ruleId", "ruleVersion",
        "ruleResult")
      df.where(lit(false)).select(names.map(n => lit(0).as(n)): _*)
    } else
      withOveralls
        .select(explode(array(rowCols: _*)).as("r"))
        .select("r.*")
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
    import org.apache.spark.sql.functions.{count, explode, lit, posexplode}
    val flat = addDataQuality(df, suite)
      .select(idCol.cast(LongType).as("graft_id"),
        explode(flattenResults(col("DataQuality"))).as("r"))
      .select(col("graft_id"), col("r.ruleId").as("ruleId"),
        col("r.ruleResult").as("ruleResult"))
    flat.where(col("ruleResult") === lit(RuleResults.FailedInt))
      .groupBy(col("ruleId"))
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
