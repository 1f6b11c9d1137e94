package graft.rules

import graft.TestSpark
import graft.rules.RuleResults._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RuleRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val suite: RuleSuite = RuleSuite(
    Id(1, 2),
    Seq(
      RuleSet(Id(10, 1), Seq(
        Rule(Id(100, 1), "q <= 50"),
        Rule(Id(101, 1), "p > 0"))),
      RuleSet(Id(20, 1), Seq(
        Rule(Id(200, 1), "CASE WHEN d <= 0.06 THEN 1 ELSE -1 END"),
        Rule(Id(201, 1), "CASE WHEN t < 0.04 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.5 AS DOUBLE) END")))))

  def df = Seq(
    // q, p, d, t
    (10.0, 5.0, 0.01, 0.01),  // all pass
    (60.0, 5.0, 0.01, 0.01),  // rule 100 fails
    (10.0, 5.0, 0.10, 0.01),  // rule 200 soft-fails
    (10.0, 5.0, 0.01, 0.05)   // rule 201 probability 0.5 < 0.8 => overall fail
  ).toDF("q", "p", "d", "t")

  test("addDataQuality builds packed nested struct with correct results") {
    val out = RuleRunner.addDataQuality(df, suite)
    val rows = out.select(
      col("DataQuality.id"),
      col("DataQuality.overallResult"),
      element_at(element_at(col("DataQuality.ruleSetResults"), Id.pack(Id(10, 1))).getField("ruleResults"), Id.pack(Id(100, 1))),
      element_at(element_at(col("DataQuality.ruleSetResults"), Id.pack(Id(20, 1))).getField("ruleResults"), Id.pack(Id(200, 1))),
      element_at(element_at(col("DataQuality.ruleSetResults"), Id.pack(Id(20, 1))).getField("ruleResults"), Id.pack(Id(201, 1)))
    ).collect()

    assert(rows.forall(_.getLong(0) == Id.pack(Id(1, 2))))
    assert(rows(0).getInt(1) == PassedInt)
    assert(rows(1).getInt(1) == FailedInt)     // bool fail dominates
    assert(rows(2).getInt(1) == PassedInt)     // soft fail is neutral
    assert(rows(3).getInt(1) == FailedInt)     // probability 0.5 < 0.8
    assert(rows(2).getInt(3) == SoftFailedInt)
    assert(rows(3).getInt(4) == 50000)         // probability encoding
  }

  test("flattenResults explodes to one row per rule with ids unpacked") {
    val out = RuleRunner.addDataQuality(df, suite)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .select("r.*")
    assert(out.count() == 16)
    assert(out.columns.toSeq == Seq(
      "ruleSuiteId", "ruleSuiteVersion", "ruleSuiteResult", "ruleSetResult",
      "ruleSetId", "ruleSetVersion", "ruleId", "ruleVersion", "ruleResult"))
    val byRule = out.groupBy("ruleId").agg(sum(when(col("ruleResult") === PassedInt, 1).otherwise(0)).as("passes"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byRule(100) == 3)
    assert(byRule(101) == 4)
    assert(byRule(200) == 3)
  }

  test("addOverallResultsAndDetails splits overall to top level") {
    val out = RuleRunner.addOverallResultsAndDetails(df, suite)
    assert(out.columns.contains("DQ_overallResult"))
    val overall = out.select("DQ_overallResult").as[Int].collect()
    assert(overall.toSeq == Seq(PassedInt, FailedInt, PassedInt, FailedInt))
    assert(!out.select("DQ_details.*").columns.contains("overallResult"))
  }

  test("disabled and string coercions") {
    val s = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(3, 1), "-2"),
      Rule(Id(4, 1), "'passed'"),
      Rule(Id(5, 1), "'maybe'"),
      Rule(Id(6, 1), "cast(null as boolean)")))))
    val out = RuleRunner.addDataQuality(Seq(1).toDF("x"), s)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .select("r.ruleId", "r.ruleResult")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out(3) == DisabledRuleInt)
    assert(out(4) == PassedInt)
    assert(out(5) == SoftFailedInt)
    assert(out(6) == FailedInt)
  }

  test("addFlattenedResults matches explode(flattenResults)") {
    val viaStruct = RuleRunner.addDataQuality(df, suite)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .select("r.*").collect().map(_.toSeq).toSet
    val direct = RuleRunner.addFlattenedResults(df, suite).collect().map(_.toSeq).toSet
    assert(direct == viaStruct)
  }

  test("1,000-rule suite runs on a 1 MB stack; overalls equal overallOf") {
    // 40 sets of 25: booleans, probabilities, soft-fails, disabled rules
    def sql(i: Int): String = i % 4 match {
      case 0 => s"q < ${20 + i % 50}"
      case 1 => s"CASE WHEN t < 0.04 THEN 1.0 ELSE 0.${70 + i % 20} END"
      case 2 => s"CASE WHEN d <= 0.0${1 + i % 9} THEN 1 ELSE -1 END"
      case _ => s"CASE WHEN p > ${i % 7} THEN -2 WHEN q < 50 THEN 1 ELSE 0 END"
    }
    val wide = RuleSuite(Id(1, 1), (0 until 40).map { s =>
      RuleSet(Id(1000 + s, 1), (0 until 25).map(j => Rule(Id(s * 25 + j, 1), sql(s * 25 + j))))
    })
    assert(wide.rules.size == 1000)
    val rows = df.withColumn("k", monotonically_increasing_id())

    var failure: Throwable = null
    var dq: Array[org.apache.spark.sql.Row] = null
    var split: Map[Long, Int] = null
    var flat: Set[Seq[Any]] = null
    var stats: Array[org.apache.spark.sql.Row] = null
    val run: Runnable = () =>
      try {
        dq = RuleRunner.addDataQuality(rows, wide).select("k", "DataQuality").collect()
        split = RuleRunner.addOverallResultsAndDetails(rows, wide)
          .select("k", "DQ_overallResult").collect()
          .map(r => r.getLong(0) -> r.getInt(1)).toMap
        flat = RuleRunner.addFlattenedResults(rows, wide).collect().map(_.toSeq).toSet
        stats = RuleRunner.ruleStats(rows, wide).collect()
      } catch { case t: Throwable => failure = t }
    val t0 = System.nanoTime()
    val th = new Thread(null, run, "wide", 1L << 20)
    th.start()
    th.join()
    if (failure != null) throw failure
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60, s"wide suite took ${secs}s")

    import graft.functions.RuleOverallSpec.refOverall
    val setIds = wide.ruleSets.map(rs => Id.pack(rs.id) -> rs.id).toMap
    val expectFlat = dq.flatMap { row =>
      val s = row.getStruct(1)
      val sets = s.getMap[Long, org.apache.spark.sql.Row](2)
      val all = sets.values.flatMap(_.getMap[Long, Int](1).values).toSeq
      assert(all.size == 1000)
      val suiteOverall = refOverall(all, wide.probablePass)
      assert(Processor.overallOf(all, wide.probablePass) == suiteOverall)
      assert(s.getInt(1) == suiteOverall)
      assert(split(row.getLong(0)) == suiteOverall)
      sets.toSeq.flatMap { case (setKey, set) =>
        val results = set.getMap[Long, Int](1)
        val setOverall = refOverall(results.values.toSeq, wide.probablePass)
        assert(Processor.overallOf(results.values.toSeq, wide.probablePass) == setOverall)
        assert(set.getInt(0) == setOverall)
        results.toSeq.map { case (ruleKey, r) =>
          val rs = setIds(setKey)
          Seq(wide.id.id, wide.id.version, suiteOverall, set.getInt(0), rs.id, rs.version,
            (ruleKey >>> 32).toInt, ruleKey.toInt, r)
        }
      }
    }
    assert(flat == expectFlat.toSet)
    // the mix reaches both overall outcomes
    assert(dq.flatMap(_.getStruct(1).getMap[Long, org.apache.spark.sql.Row](2).values
      .map(_.getInt(0))).toSet == Set(PassedInt, FailedInt))
    val all = expectFlat.map(_.last.asInstanceOf[Int])
    assert(stats.length == 1000)
    assert(stats.map(_.getAs[Long]("evaluated")).sum == all.size)
    assert(stats.map(_.getAs[Long]("passed")).sum == all.count(_ == PassedInt))
    assert(stats.map(_.getAs[Long]("soft_failed")).sum == all.count(_ == SoftFailedInt))
    assert(stats.map(_.getAs[Long]("disabled")).sum == all.count(_ == DisabledRuleInt))
    assert(stats.map(_.getAs[Long]("probabilistic")).sum ==
      all.count(r => r > 0 && r < PassedInt))

    // the engine runs at 40 rules; at 1,000 it is not pinned here
    val engineWide = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1),
      (1 to 40).map(i => Rule(Id(i, 1), s"q > $i",
        Some(OutputExpression(i, Id(100 + i, 1), s"'band$i'")))))))
    val eng = RuleEngine.addRuleEngine(df, engineWide, "re")
      .select(col("re.result")).as[String].collect()
    assert(eng.toSeq == Seq.fill(4)("band1"))
  }

  test("coercion edge cases match the reference's token table") {
    // derived from reference qualityTests/BaseFunctionalityTest.scala:254-259
    val s = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(1, 1), "-1657899192881000L"),
      Rule(Id(2, 1), "-4"),
      Rule(Id(3, 1), "cast(-1.32 as float)"),
      Rule(Id(4, 1), "cast(-2 as short)"),
      Rule(Id(5, 1), "cast(-2 as byte)"),
      Rule(Id(6, 1), "cast(-1.32 as double)"),
      Rule(Id(7, 1), "0.75")))))
    val out = RuleRunner.addDataQuality(Seq(1).toDF("x"), s)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .select("r.ruleId", "r.ruleResult")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out(1) == FailedInt)            // arbitrary long → Failed
    assert(out(2) == FailedInt)            // -4 is not a token
    assert(out(3) == -131999 || out(3) == -132000) // float widening of -1.32
    assert(out(4) == DisabledRuleInt)
    assert(out(5) == DisabledRuleInt)
    assert(out(6) == -132000)              // probability encoding kept raw
    assert(out(7) == 75000)
  }

  test("empty suite and empty rule set are vacuously passed") {
    val empty = RuleSuite(Id(1, 1), Seq.empty)
    val out = RuleRunner.addDataQuality(Seq(1).toDF("x"), empty)
      .select(col("DataQuality.overallResult")).as[Int].collect()
    assert(out.toSeq == Seq(PassedInt))

    val emptySet = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq.empty)))
    val out2 = RuleRunner.addOverallResultsAndDetails(Seq(1).toDF("x"), emptySet)
      .select(
        col("DQ_overallResult"),
        element_at(col("DQ_details.ruleSetResults"), Id.pack(Id(2, 1))).getField("overallResult"))
      .collect()
    assert(out2.head.getInt(0) == PassedInt && out2.head.getInt(1) == PassedInt)

    val flat = RuleRunner.addFlattenedResults(Seq(1).toDF("x"), empty)
    assert(flat.count() == 0) // no rules → no flattened rows, but no crash
  }

  test("duplicate set or rule ids follow spark.sql.mapKeyDedupPolicy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dupids").toString
    Seq(5, -5).toDF("a").write.mode("overwrite").parquet(dir)
    val dupRule = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(10, 1), "a > 0"), Rule(Id(10, 1), "a > 100")))))
    val dupSet = RuleSuite(Id(1, 1), Seq(
      RuleSet(Id(2, 1), Seq(Rule(Id(10, 1), "a > 0"))),
      RuleSet(Id(2, 1), Seq(Rule(Id(11, 1), "a < 100")))))
    def sets(s: RuleSuite): Seq[(Int, Int, Seq[(Long, Long, Int)])] =
      // the whole struct: a map_entries read would unroll the map unbuilt
      RuleRunner.addDataQuality(spark.read.parquet(dir), s).select("a", "DataQuality")
        .collect().sortBy(_.getInt(0)).toSeq.map { r =>
          val dq = r.getStruct(1)
          (r.getInt(0), dq.getInt(1),
            dq.getMap[Long, org.apache.spark.sql.Row](2).toSeq.flatMap { case (set, v) =>
              v.getMap[Long, Int](1).toSeq.map { case (rule, res) => (set, rule, res) }
            })
        }
    def modes[T](body: => T): Seq[T] = Seq(
      Seq.empty[(String, String)],
      Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).map { kv =>
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val (set2, r10, r11) = (Id.pack(Id(2, 1)), Id.pack(Id(10, 1)), Id.pack(Id(11, 1)))
    // the default policy refuses a repeated key when the map is built
    Seq(dupRule, dupSet).foreach { s =>
      modes {
        val e = intercept[org.apache.spark.SparkThrowable](sets(s))
        assert(e.getCondition == "DUPLICATED_MAP_KEY")
      }
    }
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    try {
      // the last value wins; the suite overall still folds every rule
      modes(sets(dupRule)).foreach { got =>
        assert(got == Seq((-5, FailedInt, Seq((set2, r10, FailedInt))),
          (5, FailedInt, Seq((set2, r10, FailedInt)))))
      }
      modes(sets(dupSet)).foreach { got =>
        assert(got == Seq((-5, FailedInt, Seq((set2, r11, PassedInt))),
          (5, PassedInt, Seq((set2, r11, PassedInt)))))
      }
    } finally spark.conf.unset("spark.sql.mapKeyDedupPolicy")
  }

  test("lambda substitution in rules") {
    val s = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(3, 1), "within(x, 1, 10)")))),
      Seq(LambdaFunction("within", "(v, lo, hi) -> v >= lo AND v <= hi", Id(9, 1))))
    val out = RuleRunner.addDataQuality(Seq(5, 50).toDF("x"), s)
      .select(col("DataQuality.overallResult")).as[Int].collect()
    assert(out.toSeq == Seq(PassedInt, FailedInt))
  }

  test("failureExamples: per-rule counts and k lowest failing ids") {
    val s = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(100, 1), "x <= 6"),     // fails for 7..9
      Rule(Id(101, 1), "x % 2 = 0"), // fails for odds
      Rule(Id(102, 1), "x >= 0"))))) // never fails → absent
    val df = (0 to 9).map(i => (i.toLong, i)).toDF("id", "x")
    val out = RuleRunner.failureExamples(df, s, col("id"), k = 2)
      .collect().map(r => (r.getInt(0), r.getInt(2)) -> (r.getLong(1), r.getLong(3))).toMap
    assert(out((100, 1)) == (3L, 7L) && out((100, 2)) == (3L, 8L))
    assert(out((101, 1)) == (5L, 1L) && out((101, 2)) == (5L, 3L))
    assert(!out.keys.exists(_._1 == 102))
  }

  test("compareSuites: shadow flip counts per rule; grid mismatch refused") {
    val df = Seq(10.0, 25.0, 40.0, 60.0).toDF("v")
    val a = RuleSuite(Id(1, 1), Seq(RuleSet(Id(10, 1), Seq(
      Rule(Id(100, 1), "v <= 50"),
      Rule(Id(101, 1), "v >= 0")))))
    val b = RuleSuite(Id(1, 2), Seq(RuleSet(Id(10, 1), Seq(
      Rule(Id(100, 2), "v <= 30"),   // tightened: 40 flips pass→fail
      Rule(Id(101, 2), "v >= 0"))))) // unchanged
    val got = RuleRunner.compareSuites(df, a, b)
      .collect().map(r => r.getInt(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got(100) == ((4L, 3L, 1L, 0L, 250000L))) // one of four rows flips
    assert(got(101) == ((4L, 4L, 0L, 0L, 0L)))
    val c = RuleSuite(Id(1, 3), Seq(RuleSet(Id(10, 1), Seq(
      Rule(Id(100, 3), "v <= 30"))))) // a rule REMOVED → different grid
    intercept[IllegalArgumentException](RuleRunner.compareSuites(df, a, c))
  }
}
