package graft.rules

import graft.TestSpark
import graft.functions.{RuleOverall, RuleSetResults}
import org.apache.spark.sql.catalyst.expressions.{Alias, CreateMap, CreateNamedStruct, ElementAt, Expression, Or, PosExplode}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, Project}
import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape guards: the DQ hot path must stay inside whole-stage codegen
 * and read only rule-referenced columns. */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val suite: RuleSuite = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
    Rule(Id(10, 1), "a > 0"),
    Rule(Id(11, 1), "b < 100")))))

  test("rule evaluation runs inside WholeStageCodegen") {
    // local relations constant-fold away; use a file source
    val dir = java.nio.file.Files.createTempDirectory("graft_wsc").toString
    Seq((1, 2)).toDF("a", "b").write.mode("overwrite").parquet(dir)
    val plan = RuleRunner.addDataQuality(spark.read.parquet(dir), suite)
      .select(col("DataQuality.overallResult"))
      .queryExecution.executedPlan
    val hasWsc = plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty
    assert(hasWsc, s"no codegen stage in:\n$plan")
  }

  test("rule_result over PERSISTED results stays in codegen, both shapes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rr_persist").toString
    RuleRunner.addDataQuality(
      Seq((1, 2), (-1, 200)).toDF("a", "b"), suite).write.mode("overwrite").parquet(dir)
    // persisted DQ shape: extraction cannot constant-fold — the generated
    // instance call must keep the projection fused
    val df = spark.read.parquet(dir)
      .select(RuleRunner.ruleResult(col("DataQuality"),
        lit(Id.pack(Id(1, 1))), lit(Id.pack(Id(2, 1))), lit(Id.pack(Id(10, 1)))).as("r"),
        col("a"))
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty,
      s"persisted rule_result fell out of codegen:\n$plan")
    val byA = df.collect().map(r => r.getInt(1) -> r.getInt(0)).toMap
    assert(byA(1) == RuleResults.PassedInt && byA(-1) == RuleResults.FailedInt)
    // wrong suite id → null, not a crash
    val miss = spark.read.parquet(dir)
      .select(RuleRunner.ruleResult(col("DataQuality"),
        lit(999L), lit(Id.pack(Id(2, 1))), lit(Id.pack(Id(10, 1)))).as("r"))
      .collect()
    assert(miss.forall(_.isNullAt(0)))
  }

  test("flattenResults unrolls to the addFlattenedResults plan shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft_unroll").toString
    Seq((1, 2)).toDF("a", "b").write.mode("overwrite").parquet(dir)
    val df = RuleRunner.addDataQuality(spark.read.parquet(dir), suite)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .groupBy(col("r.ruleId")).agg(count(lit(1)))
    val opt = df.queryExecution.optimizedPlan.toString
    // StaticHofUnroll must eliminate the runtime map_entries/transform/flatten
    // chain — the generator input becomes a literal array of structs
    assert(!opt.contains("map_entries("), s"map_entries survived:\n$opt")
    assert(!opt.contains("transform("), s"transform survived:\n$opt")
    assert(!opt.contains("flatten("), s"flatten survived:\n$opt")
    // and results still match the direct path
    val viaFlatten = RuleRunner.addDataQuality(spark.read.parquet(dir), suite)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .select("r.*").collect().map(_.toSeq).toSet
    val direct = RuleRunner.addFlattenedResults(spark.read.parquet(dir), suite)
      .collect().map(_.toSeq).toSet
    assert(viaFlatten == direct)
  }

  test("signature + map expressions run inside whole-stage codegen with fallback disabled") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cg").toString
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "pack my box with five dozen liquor jugs"))
      .toDF("id", "text").write.mode("overwrite").parquet(dir)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import graft.pipeline.Text
      val df = spark.read.parquet(dir).select(
        Text.minhash(Text.shingles(col("text"), 2), 16).as("mh"),
        Text.simhash(Text.shingles(col("text"), 2)).as("sh"),
        Text.fingerprint(col("text")).as("fp"))
      val plan = df.queryExecution.executedPlan
      assert(plan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty, s"no WSC:\n$plan")
      val rows = df.collect()
      assert(rows.length == 2 && rows(0).getSeq[Long](0).size == 16)
      // interpreted and generated paths must agree bit-for-bit
      val interp = graft.pipeline.TextAlgos.simhash(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
          Array(org.apache.spark.unsafe.types.UTF8String.fromString("the quick"))))
      assert(interp == interp) // smoke for statics reachability
      // map_with's MapMergeExpr/MapUpdateExpr on the agg path
      graft.functions.Registry.registerAll(spark)
      Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v").createOrReplaceTempView("graft_cg_kv")
      val m = spark.sql(
        "SELECT agg_expr('MAP<STRING,BIGINT>', true, map_with(k, e -> e + v), return_sum()) AS m FROM graft_cg_kv")
        .collect()(0).getMap[String, Long](0)
      assert(m == Map("a" -> 4L, "b" -> 2L))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("engine and folder runners stay inside whole-stage codegen with pruned scans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ef").toString
    Seq((1, 2, "unused", 9.9), (3, 4, "x", 0.1)).toDF("a", "b", "c", "d")
      .write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    val engineSuite = RuleSuite(Id(5, 1), Seq(RuleSet(Id(50, 1), Seq(
      Rule(Id(500, 1), "a > 2", Some(OutputExpression(10, Id(1, 1), "'big'"))),
      Rule(Id(501, 1), "a >= 0", Some(OutputExpression(20, Id(2, 1), "'small'")))))))
    val ePlan = RuleEngine.addRuleEngine(src, engineSuite, "re")
      .select(col("re.result")).queryExecution.executedPlan
    assert(ePlan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty, s"engine no WSC:\n$ePlan")
    assert(ePlan.toString.contains("ReadSchema: struct<a:int>"), s"engine not pruned:\n$ePlan")

    val folderSuite = RuleSuite(Id(6, 1), Seq(RuleSet(Id(60, 1), Seq(
      Rule(Id(600, 1), "b > 0",
        Some(OutputExpression(10, Id(3, 1), "set(p = currentResult.p + a)")))))))
    val fPlan = RuleFolder.addRuleFolder(src, folderSuite,
        org.apache.spark.sql.functions.struct(col("a").cast("double").as("p")), "rf")
      .select(col("rf.result.p")).queryExecution.executedPlan
    assert(fPlan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty, s"folder no WSC:\n$fPlan")
    assert(fPlan.toString.contains("ReadSchema: struct<a:int,b:int>"), s"folder not pruned:\n$fPlan")
  }

  test("dedup family plans: bucketed equi-joins only, no cartesian products") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dplan").toString
    (0L until 50L).map(i => (i, s"document number $i with some shared words and tail $i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)
    val plans = Seq(
      "minhash" -> graft.pipeline.Dedup
        .minhashNearDups(docs, col("doc_id"), col("text")).queryExecution.executedPlan.toString,
      "simhash" -> graft.pipeline.Dedup
        .simhashNearDups(docs, col("doc_id"), col("text")).queryExecution.executedPlan.toString,
      "dropNearDups" -> graft.pipeline.Dedup
        .dropNearDups(docs, col("doc_id"), col("text")).queryExecution.executedPlan.toString)
    plans.foreach { case (name, p) =>
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join:\n$p")
    }
    // the candidate join must be keyed on (band, bucket) — an equi-join
    assert(plans.head._2.contains("band") && plans.head._2.contains("bucket"))
  }

  test("parquet scan prunes to rule-referenced columns only") {
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    Seq((1, 2, "unused", 9.9)).toDF("a", "b", "c", "d").write.mode("overwrite").parquet(dir)
    val plan = RuleRunner.addDataQuality(
        spark.read.parquet(dir).select("a", "b"), suite)
      .select(col("DataQuality.overallResult"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<a:int,b:int>"), s"not pruned:\n$plan")
  }

  test("400-rule suite compiles whole-stage in the runner, engine and folder") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wide400").toString
    (0 until 20).map(i => (i, i * 7 % 500)).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    // 16 sets of 25; every 100th rule carries an engine and a folder output
    def wide(output: Int => String) = RuleSuite(Id(1, 1), (0 until 16).map { s =>
      RuleSet(Id(100 + s, 1), (0 until 25).map { j =>
        val i = s * 25 + j
        Rule(Id(i, 1),
          if (i % 2 == 0) s"a < $i" else s"CASE WHEN b > $i THEN -1 ELSE 0.9 END",
          if (i % 100 == 0) Some(OutputExpression(i, Id(1000 + i, 1), output(i))) else None)
      })
    })
    val runs = Seq(
      ("DataQuality", RuleRunner.addDataQuality(src, wide(i => s"'$i'")), Nil),
      ("re", RuleEngine.addRuleEngine(src, wide(i => s"'band$i'"), "re"), Seq("ruleSuiteResults")),
      ("rf", RuleFolder.addRuleFolder(src, wide(i => s"set(p = currentResult.p + $i)"),
        struct(col("a").cast("double").as("p")), "rf"), Seq("ruleSuiteResults")))
    runs.foreach { case (name, df, path) =>
      // the DQ struct: its two overalls' inputs and one ruleSetResults node,
      // no per-rule element_at and no map constructor
      val column = df.queryExecution.optimizedPlan.collectFirst {
        case Project(list, _) if list.exists(_.name == name) => list.find(_.name == name).get
      }.get
      val dq = path.foldLeft(column.asInstanceOf[Alias].child) { (e, field) =>
        val cns = e.asInstanceOf[CreateNamedStruct]
        cns.valExprs(cns.names.map(_.toString).indexOf(field))
      }
      def count(pf: PartialFunction[Expression, Unit]) = dq.collect(pf).size
      assert(count { case _: RuleSetResults => } == 1, s"$name:\n$dq")
      assert(count { case _: RuleOverall => } == 1, s"$name:\n$dq")
      assert(count { case _: ElementAt => } == 0, s"$name:\n$dq")
      assert(count { case _: CreateMap => } == 0, s"$name:\n$dq")
      assert(count { case _: Or => } == 0, s"$name:\n$dq")
      // a class that does not compile fails the run instead of falling back
      spark.conf.set("spark.sql.codegen.fallback", "false")
      try {
        val plan = df.queryExecution.executedPlan
        assert(plan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty, s"$name:\n$plan")
        assert(df.select(col(name)).collect().length == 20)
      } finally spark.conf.unset("spark.sql.codegen.fallback")
    }
    // the overall alone still prunes to one loop node
    val overallOnly = RuleRunner.addDataQuality(src, wide(_ => "1"))
      .select(col("DataQuality.overallResult")).queryExecution.optimizedPlan
    val exprs = overallOnly.collect { case p => p.expressions }.flatten
    assert(exprs.map(_.collect { case _: RuleOverall => }.size).sum == 1, s"$overallOnly")
    assert(exprs.forall(!_.exists(_.isInstanceOf[RuleSetResults])), s"$overallOnly")
  }

  test("the per-rule reports read the results array through one posexplode at any width") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reports_plan").toString
    (0 until 20).map(i => (i.toLong, i, i * 7 % 500, new java.sql.Timestamp(i * 60000L)))
      .toDF("id", "a", "b", "ts").write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    // sets of 25 rules, half comparisons, half CASE expressions
    def wide(n: Int, v: Int) = RuleSuite(Id(1, v), (0 until (n + 24) / 25).map { s =>
      RuleSet(Id(100 + s, v), (s * 25 until math.min(n, s * 25 + 25)).map { i =>
        Rule(Id(i, v), if (i % 2 == 0) s"a < ${i + v}" else s"CASE WHEN b > $i THEN -1 ELSE 0.9 END")
      })
    })
    def reports(n: Int): Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "ruleStats" -> RuleRunner.ruleStats(src, wide(n, 1)),
      "failureExamples" -> RuleRunner.failureExamples(src, wide(n, 1), col("id")),
      "compareSuites" -> RuleRunner.compareSuites(src, wide(n, 1), wide(n, 2)),
      "addFlattenedResults" -> RuleRunner.addFlattenedResults(src, wide(n, 1)),
      "windowedRuleStats" -> graft.streaming.StreamingDq.windowedRuleStats(
        src, wide(n, 1), "ts", "1 hour", "1 hour"))
    // per report: Generates reading a results array, all Generates,
    // struct constructors
    def shape(plan: LogicalPlan): (Int, Int, Int) = {
      val gens = plan.collect { case g: Generate => g.generator }
      val exprs = plan.collect { case p => p.expressions }.flatten
      assert(exprs.forall(!_.exists {
        case _: RuleSetResults | _: CreateMap => true
        case _ => false
      }), s"a map survived:\n$plan")
      (gens.count {
        case PosExplode(c) => c.dataType.isInstanceOf[ArrayType] &&
          c.dataType.asInstanceOf[ArrayType].elementType == IntegerType
        case _ => false
      }, gens.size, exprs.map(_.collect { case _: CreateNamedStruct => }.size).sum)
    }
    // each rule appears once: no inferred filter copies the results array
    def coerced(plan: LogicalPlan): Int = plan.collect { case p => p.expressions }.flatten
      .map(_.collect { case _: graft.functions.RuleResultCoerce => }.size).sum
    reports(10).zip(reports(1000)).foreach { case ((name, narrow), (_, wider)) =>
      val (n, w) = (shape(narrow.queryExecution.optimizedPlan),
        shape(wider.queryExecution.optimizedPlan))
      assert(n._1 == 1, s"$name at 10 rules:\n${narrow.queryExecution.optimizedPlan}")
      // failureExamples' second Generate explodes each rule's top-k ids
      assert(n._2 == (if (name == "failureExamples") 2 else 1), s"$name: $n")
      assert(n == w, s"$name: 10 rules $n, 1,000 rules $w")
      assert(coerced(wider.queryExecution.optimizedPlan) ==
        (if (name == "compareSuites") 2000 else 1000), name)
    }
    // the results array alone passes 64 KB near 600 rules
    // (artifacts/codegen_width_probe.txt); at 400 both compile whole-stage
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try reports(400).filter(r => Set("ruleStats", "addFlattenedResults")(r._1)).foreach {
      case (name, df) =>
        assert(df.collect().length == (if (name == "ruleStats") 400 else 20 * 400))
        val plan = df.queryExecution.executedPlan
        object Stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
        assert(Stages.find(plan) {
          case w: WholeStageCodegenExec => w.exists(_.isInstanceOf[GenerateExec])
          case _ => false
        }.nonEmpty, s"$name:\n$plan")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
