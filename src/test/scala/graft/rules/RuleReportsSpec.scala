package graft.rules

import graft.TestSpark
import graft.rules.RuleResults._
import graft.streaming.StreamingDq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** The five per-rule reports, built on `RuleRunner.perRule`, against the same
 * reports built the way they were before it: `explode(flattenResults(dq))`
 * and one struct per rule. Names, types, nullability and rows must agree,
 * generated and interpreted. */
class RuleReportsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The reports as built before the per-rule row source. */
  object Ref {
    private def flat(df: DataFrame, suite: RuleSuite, keep: org.apache.spark.sql.Column*) =
      RuleRunner.addDataQuality(df, suite)
        .select(keep :+ explode(RuleRunner.flattenResults(col("DataQuality"))).as("graft_r"): _*)

    private def counts(res: org.apache.spark.sql.Column) = Seq(
      count(when(res === PassedInt, 1)).as("passed"),
      count(when(res === FailedInt, 1)).as("failed"),
      count(when(res === SoftFailedInt, 1)).as("soft_failed"),
      count(when(res === DisabledRuleInt, 1)).as("disabled"))

    def stats(df: DataFrame, suite: RuleSuite): DataFrame =
      flat(df, suite)
        .select(col("graft_r.ruleSuiteId").as("suiteId"), col("graft_r.ruleSetId").as("setId"),
          col("graft_r.ruleId").as("ruleId"), col("graft_r.ruleResult").as("graft_res"))
        .groupBy(col("suiteId"), col("setId"), col("ruleId"))
        .agg(count(lit(1)).as("evaluated"), counts(col("graft_res")) :+
          count(when(col("graft_res") > 0 && col("graft_res") < PassedInt, 1))
            .as("probabilistic"): _*)
        .select(col("suiteId"), col("setId"), col("ruleId"), col("evaluated"),
          col("passed"), col("failed"), col("soft_failed"), col("disabled"),
          col("probabilistic"),
          expr("passed * 1000000L div nullif(evaluated - disabled, 0L)").as("pass_rate_ppm"))

    def examples(df: DataFrame, suite: RuleSuite, k: Int): DataFrame = {
      import graft.functions.dsl.top_k_by
      flat(df, suite, col("id").cast(LongType).as("graft_id"))
        .select(col("graft_id"), col("graft_r.ruleId").as("ruleId"),
          col("graft_r.ruleResult").as("ruleResult"))
        .where(col("ruleResult") === lit(FailedInt))
        .groupBy(col("ruleId"))
        .agg(count(lit(1)).as("n_failed"),
          top_k_by((-col("graft_id")).cast("double"), col("graft_id"), k).as("graft_topk"))
        .select(col("ruleId"), col("n_failed"),
          posexplode(col("graft_topk")).as(Seq("graft_pos", "graft_t")))
        .select(col("ruleId"), col("n_failed"),
          (col("graft_pos") + 1).cast("int").as("rank"), col("graft_t.item").as("example_id"))
    }

    def compare(df: DataFrame, a: RuleSuite, b: RuleSuite): DataFrame = {
      def passed(dq: String, set: Id, rule: Id) =
        element_at(element_at(col(s"$dq.ruleSetResults"), lit(Id.pack(set)))
          .getField("ruleResults"), lit(Id.pack(rule))) === PassedInt
      val entries = a.ruleSets.zip(b.ruleSets).flatMap { case (rsA, rsB) =>
        rsA.rules.zip(rsB.rules).map { case (rA, rB) =>
          struct(lit(rsA.id.id).as("setId"), lit(rA.id.id).as("ruleId"),
            passed("graft_dq_a", rsA.id, rA.id).as("pa"),
            passed("graft_dq_b", rsB.id, rB.id).as("pb"))
        }
      }
      flips(RuleRunner.addDataQuality(RuleRunner.addDataQuality(df, a, "graft_dq_a"), b, "graft_dq_b")
        .select(explode(array(entries: _*)).as("graft_z"))
        .select(col("graft_z.setId").as("setId"), col("graft_z.ruleId").as("ruleId"),
          col("graft_z.pa").as("graft_pa"), col("graft_z.pb").as("graft_pb")))
    }

    /** [[compare]] from both suites' flattened rows joined by row and rule
     * id: [[compare]]'s per-rule map lookups do not finish at 1,000 rules. */
    def compareJoined(df: DataFrame, a: RuleSuite, b: RuleSuite): DataFrame = {
      def side(s: RuleSuite, pass: String) = flat(df, s, col("id"))
        .select(col("id"), col("graft_r.ruleSetId").as("setId"), col("graft_r.ruleId").as("ruleId"),
          (col("graft_r.ruleResult") === PassedInt).as(pass))
      flips(side(a, "graft_pa").join(side(b, "graft_pb"), Seq("id", "setId", "ruleId")))
    }

    private def flips(paired: DataFrame): DataFrame =
      paired.groupBy(col("setId"), col("ruleId"))
        .agg(count(lit(1)).as("evaluated"),
          count(when(col("graft_pa") === col("graft_pb"), 1)).as("same"),
          count(when(col("graft_pa") && !col("graft_pb"), 1)).as("a_pass_b_fail"),
          count(when(!col("graft_pa") && col("graft_pb"), 1)).as("a_fail_b_pass"))
        .select(col("setId"), col("ruleId"), col("evaluated"), col("same"),
          col("a_pass_b_fail"), col("a_fail_b_pass"),
          expr("(a_pass_b_fail + a_fail_b_pass) * 1000000L div nullif(evaluated, 0L)")
            .as("flip_ppm"))

    def flattened(df: DataFrame, suite: RuleSuite): DataFrame =
      flat(df, suite).select("graft_r.*")

    /** Without `probabilistic`, which the windowed report did not have. */
    def windowed(df: DataFrame, suite: RuleSuite): DataFrame =
      RuleRunner.addDataQuality(df, suite).withWatermark("ts", "1 hour")
        .select(col("ts"), explode(RuleRunner.flattenResults(col("DataQuality"))).as("graft_r"))
        .groupBy(window(col("ts"), "1 hour"),
          col("graft_r.ruleSetId").as("setId"), col("graft_r.ruleId").as("ruleId"))
        .agg(count(lit(1)).as("evaluated"), counts(col("graft_r.ruleResult")): _*)
        .select(col("window.start").as("window_start"), col("setId"), col("ruleId"),
          col("evaluated"), col("passed"), col("failed"), col("soft_failed"), col("disabled"),
          expr("passed * 1000000L div nullif(evaluated - disabled, 0L)").as("pass_rate_ppm"))
  }

  def windowed(df: DataFrame, suite: RuleSuite): DataFrame =
    StreamingDq.windowedRuleStats(df, suite, "ts", "1 hour", "1 hour")

  /** `body` with whole-stage codegen, then fully interpreted. */
  def modes(body: => Unit): Unit =
    Seq(Seq.empty[(String, String)],
      Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).foreach { kv =>
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
    }

  def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  def same(name: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$name schema")
    assert(rows(got) == rows(want), s"$name rows")
  }

  /** Every report against its reference; windowed without `probabilistic`,
   * whose counts must then make up `evaluated`. */
  def allSame(df: DataFrame, a: RuleSuite, b: RuleSuite,
      compareRef: (DataFrame, RuleSuite, RuleSuite) => DataFrame = Ref.compare): Unit = {
    same("ruleStats", RuleRunner.ruleStats(df, a), Ref.stats(df, a))
    same("failureExamples", RuleRunner.failureExamples(df, a, col("id"), 3),
      Ref.examples(df, a, 3))
    same("compareSuites", RuleRunner.compareSuites(df, a, b), compareRef(df, a, b))
    same("addFlattenedResults", RuleRunner.addFlattenedResults(df, a), Ref.flattened(df, a))
    val w = windowed(df, a)
    same("windowedRuleStats", w.drop("probabilistic"), Ref.windowed(df, a))
    assert(w.where("passed + failed + soft_failed + disabled + probabilistic != evaluated")
      .count() == 0)
  }

  /** 24 rows over two hourly windows; `x` is null in every fifth row. */
  lazy val frame: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_reports").toString
    (0 until 24).map { i =>
      (i.toLong, if (i % 5 == 4) None else Some(i % 13), i * 0.04,
        java.sql.Timestamp.valueOf(f"2026-01-01 ${10 + i / 12}%02d:${i % 60}%02d:00"))
    }.toDF("id", "x", "d", "ts").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Every coercion class: booleans, null, soft-fail, disabled, and
   * probabilities on both sides of the default probablePass 0.8. */
  def sql(i: Int, edit: Int): String = i % 8 match {
    case 0 => s"x > ${(i + edit) % 13}"
    case 1 => s"CASE WHEN x < ${(i + edit) % 13} THEN 0.9 ELSE 0.7 END"
    case 2 => s"CASE WHEN x % 3 = ${edit % 3} THEN -1 ELSE 1 END"
    case 3 => s"CASE WHEN x % 5 = 0 THEN -2 WHEN d < 0.${5 + edit} THEN 1 ELSE 0 END"
    case 4 => s"CASE WHEN x IS NULL THEN NULL ELSE x > ${(i + edit) % 7} END"
    case 5 => if (edit == 0) "true" else "x IS NOT NULL"
    case 6 => s"CASE WHEN d > 0.${3 + edit} THEN 'softfail' ELSE 'passed' END"
    case _ => s"CASE WHEN x = ${(i + edit) % 13} THEN 0.8 ELSE 0.79 END"
  }

  def suite(version: Int, sets: Int, perSet: Int): RuleSuite =
    RuleSuite(Id(7, version), (0 until sets).map { s =>
      RuleSet(Id(100 + s, version), (0 until perSet).map { j =>
        val i = s * perSet + j
        Rule(Id(i, version), sql(i, version - 1))
      })
    })

  test("every result token, null results and probabilities on both sides of probablePass") {
    val (a, b) = (suite(1, 3, 8), suite(2, 3, 8))
    // the mix reaches every class
    val classes = RuleRunner.addFlattenedResults(frame, a).select("ruleResult").as[Int]
      .collect().toSet
    assert(Set(PassedInt, FailedInt, SoftFailedInt, DisabledRuleInt, 90000, 70000, 80000, 79000)
      .subsetOf(classes), classes)
    modes(allSame(frame, a, b))
  }

  test("1,000 rules in 40 sets: every report equals its reference") {
    val (a, b) = (suite(1, 40, 25), suite(2, 40, 25))
    assert(a.rules.size == 1000)
    modes(allSame(frame, a, b, Ref.compareJoined))
  }

  test("an empty rule set, an empty frame and an empty suite") {
    val withEmptySet = RuleSuite(Id(7, 1), Seq(RuleSet(Id(1, 1), Nil),
      RuleSet(Id(2, 1), Seq(Rule(Id(20, 1), "x > 3"), Rule(Id(21, 1), "d < 0.5"))),
      RuleSet(Id(3, 1), Nil)))
    val editedEmptySet = withEmptySet.copy(ruleSets = withEmptySet.ruleSets.map(rs =>
      rs.copy(rules = rs.rules.map(r => r.copy(sql = r.sql.replace("3", "6"))))))
    modes {
      allSame(frame, withEmptySet, editedEmptySet)
      allSame(frame.where(lit(false)), withEmptySet, editedEmptySet)
    }
    // no rules: no report rows, and each report keeps the schema a suite with
    // rules gives it (before the row source, the four below failed analysis
    // on the untyped empty map; the flattened rows were a special case)
    val empty = RuleSuite(Id(7, 1), Nil)
    val onlyEmptySet = RuleSuite(Id(7, 1), Seq(RuleSet(Id(1, 1), Nil)))
    val notNull = Seq("ruleSuiteId", "ruleSuiteVersion", "ruleSuiteResult", "ruleSetResult",
      "ruleSetId", "ruleSetVersion", "ruleId", "ruleVersion", "ruleResult")
    Seq(empty, onlyEmptySet).foreach { s =>
      modes {
        Seq(
          RuleRunner.ruleStats(frame, s) -> RuleRunner.ruleStats(frame, withEmptySet),
          RuleRunner.failureExamples(frame, s, col("id")) ->
            RuleRunner.failureExamples(frame, withEmptySet, col("id")),
          RuleRunner.compareSuites(frame, s, s) ->
            RuleRunner.compareSuites(frame, withEmptySet, withEmptySet),
          windowed(frame, s) -> windowed(frame, withEmptySet)).foreach { case (got, like) =>
          assert(got.schema == like.schema)
          assert(got.count() == 0)
        }
        val flat = RuleRunner.addFlattenedResults(frame, s)
        assert(flat.schema.map(f => (f.name, f.dataType.simpleString, f.nullable)) ==
          notNull.map((_, "int", false)))
        assert(flat.count() == 0)
      }
    }
  }

  test("a repeated rule id or set id merges under one key; compareSuites pairs by position") {
    val dupRule = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(10, 1), "x > 0"), Rule(Id(10, 1), "x > 100")))))
    val dupRuleB = RuleSuite(Id(1, 2), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(10, 1), "x > 1"), Rule(Id(10, 1), "x < 100")))))
    val dupSet = RuleSuite(Id(1, 1), Seq(
      RuleSet(Id(2, 1), Seq(Rule(Id(10, 1), "x > 0"))),
      RuleSet(Id(2, 1), Seq(Rule(Id(11, 1), "x < 100")))))
    val dupSetB = RuleSuite(Id(1, 2), Seq(
      RuleSet(Id(2, 1), Seq(Rule(Id(10, 1), "x > 1"))),
      RuleSet(Id(2, 1), Seq(Rule(Id(11, 1), "x < 0")))))
    val dir = java.nio.file.Files.createTempDirectory("graft_reports_dup").toString
    Seq((1L, 5), (2L, -5)).toDF("id", "x")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    modes {
      // the flatten unroll never builds the maps, so a repeated key is one
      // more row under it, as the references show
      Seq(dupRule, dupSet).foreach { s =>
        same("ruleStats", RuleRunner.ruleStats(src, s), Ref.stats(src, s))
        same("failureExamples", RuleRunner.failureExamples(src, s, col("id"), 3),
          Ref.examples(src, s, 3))
        same("addFlattenedResults", RuleRunner.addFlattenedResults(src, s), Ref.flattened(src, s))
        same("windowedRuleStats", windowed(src, s).drop("probabilistic"), Ref.windowed(src, s))
      }
      assert(rows(RuleRunner.ruleStats(src, dupRule)) ==
        Seq(Row(1, 2, 10, 4L, 1L, 3L, 0L, 0L, 0L, 250000L).toString))
      // compareSuites pairs each rule of A with B's rule at the same position:
      // (x > 0 vs x > 1) agrees on both rows, (x > 100 vs x < 100) flips both.
      // Its map lookups used to fail on the repeated key (or, with
      // LAST_WIN, compare both of A's rules against B's last) and could not
      // find a repeated set's second half at all.
      assert(rows(RuleRunner.compareSuites(src, dupRule, dupRuleB)) ==
        Seq(Row(2, 10, 4L, 2L, 0L, 2L, 500000L).toString))
      assert(rows(RuleRunner.compareSuites(src, dupSet, dupSetB)) ==
        Seq(Row(2, 10, 2L, 2L, 0L, 0L, 0L).toString, Row(2, 11, 2L, 1L, 1L, 0L, 500000L).toString))
    }
  }
}
