package graft.plans

import graft.TestSpark
import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

class ExtensionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("AsUuidRewrite turns uuid equality into pushable long equality") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ AsUuidRewrite
    val dir = java.nio.file.Files.createTempDirectory("graft_uuid").toString
    Seq((42L, 77L, "keep"), (1L, 2L, "drop")).toDF("lo", "hi", "tag")
      .write.mode("overwrite").parquet(dir)
    val uuid = new java.util.UUID(77L, 42L).toString // msb=higher, lsb=lower
    val df = spark.read.parquet(dir)
      .where(Bridge.column(graft.functions.AsUuidExpr(
        Bridge.expression(col("lo")), Bridge.expression(col("hi")))) === uuid)
    assert(df.select("tag").as[String].collect().toSeq == Seq("keep"))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [") && physical.contains("EqualTo(lo,42)"),
      s"filter not pushed:\n$physical")
  }

  private def b64Of(base: Int, longs: Long*): String = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * longs.length)
    bb.putInt(base); longs.foreach(bb.putLong)
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bb.array())
  }

  test("IdBase64Rewrite turns field-form base64 equality into pushable comparisons") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IdBase64Rewrite
    val dir = java.nio.file.Files.createTempDirectory("graft_idb64").toString
    Seq((2, 42L, 77L, "keep"), (2, 1L, 2L, "drop"))
      .toDF("base", "i0", "i1", "tag").write.mode("overwrite").parquet(dir)
    val lit = b64Of(2, 42L, 77L)
    val df = spark.read.parquet(dir)
      .where(Bridge.column(graft.functions.IdBase64Expression(Seq(
        Bridge.expression(col("base")), Bridge.expression(col("i0")),
        Bridge.expression(col("i1"))))) === lit)
    assert(df.select("tag").as[String].collect().toSeq == Seq("keep"))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [") && physical.contains("EqualTo(i0,42)"),
      s"filter not pushed:\n$physical")
    assert(!physical.toLowerCase.contains("idbase64"), s"base64 expr survived:\n$physical")
  }

  test("IdBase64Rewrite handles struct-form ids and malformed literals") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IdBase64Rewrite
    val dir = java.nio.file.Files.createTempDirectory("graft_idb64s").toString
    Seq((2, 42L, 77L, "keep"), (2, 1L, 2L, "drop"))
      .toDF("base", "i0", "i1", "tag")
      .select(struct(col("base").as("id_base"), col("i0").as("id_i0"),
        col("i1").as("id_i1")).as("id"), col("tag"))
      .write.mode("overwrite").parquet(dir)
    def filtered(lit: String) = spark.read.parquet(dir)
      .where(Bridge.column(graft.functions.IdBase64Expression(Seq(
        Bridge.expression(col("id"))))) === lit)
    val df = filtered(b64Of(2, 42L, 77L))
    assert(df.select("tag").as[String].collect().toSeq == Seq("keep"))
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.toLowerCase.contains("idbase64"), s"base64 expr survived:\n$physical")
    // malformed literal / wrong payload length can match nothing → folds to false
    assert(filtered("!!!not-base64!!!").count() == 0)
    assert(filtered(b64Of(2, 42L)).count() == 0)
  }

  test("IdBase64Rewrite preserves null semantics under NOT") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IdBase64Rewrite
    val dir = java.nio.file.Files.createTempDirectory("graft_idb64n").toString
    Seq((Some(2), Some(42L), Some(77L), "match"),
        (Some(2), Some(1L), Some(2L), "nomatch"),
        (Some(2), None, Some(77L), "nullpart"))
      .toDF("base", "i0", "i1", "tag").write.mode("overwrite").parquet(dir)
    val lit42 = b64Of(2, 42L, 77L)
    def eqCol = Bridge.column(graft.functions.IdBase64Expression(Seq(
      Bridge.expression(col("base")), Bridge.expression(col("i0")),
      Bridge.expression(col("i1"))))) === lit42
    // NOT(eq): the null-part row must stay dropped (NULL, not FALSE→TRUE) —
    // the rewrite may not fire inside the negation
    val kept = spark.read.parquet(dir).where(!eqCol)
      .select("tag").as[String].collect().toSeq
    assert(kept == Seq("nomatch"), s"null semantics changed under NOT: $kept")
    // positive position still rewrites + pushes
    val pos = spark.read.parquet(dir).where(eqCol)
    assert(pos.select("tag").as[String].collect().toSeq == Seq("match"))
    assert(!pos.queryExecution.executedPlan.toString.toLowerCase.contains("idbase64"))
  }

  test("IdBase64Rewrite rewrites base64-keyed join conditions to raw fields") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ IdBase64Rewrite
    val left = Seq((2, 42L, 77L, "l1"), (2, 1L, 2L, "l2")).toDF("base", "i0", "i1", "lv")
    val right = Seq((2, 42L, 77L, "r1"), (2, 9L, 9L, "r2")).toDF("base", "i0", "i1", "rv")
    def b64(df: org.apache.spark.sql.DataFrame) =
      Bridge.column(graft.functions.IdBase64Expression(Seq(
        Bridge.expression(df("base")), Bridge.expression(df("i0")),
        Bridge.expression(df("i1")))))
    val joined = left.join(right, b64(left) === b64(right))
    assert(joined.select("lv", "rv").as[(String, String)].collect().toSeq == Seq(("l1", "r1")))
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.toLowerCase.contains("idbase64"),
      s"join still compares base64 strings:\n$physical")
  }

  test("graft_disable_optimiser_rules filters extension optimizer rules") {
    val key = GraftExtension.DisableRulesConf
    try {
      sys.props -= key
      assert(GraftExtension.activeOptimizerRules.map(_._1.split('.').last).toSet ==
        Set("AsUuidRewrite", "IdBase64Rewrite", "StaticHofUnroll"))
      sys.props(key) = "*"
      assert(GraftExtension.activeOptimizerRules.isEmpty)
      sys.props(key) = "IdBase64Rewrite, graft.plans.StaticHofUnroll"
      assert(GraftExtension.activeOptimizerRules.map(_._1.split('.').last) ==
        Seq("AsUuidRewrite"))
    } finally sys.props -= key
  }

  test("GraftExtension injects functions + optimizer rule") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtension().apply(ext)  // must not throw; functions + rule land
    assert(graft.functions.Registry.functionDescriptions.size > 100)
  }

  test("registerAll makes functions available to spark.sql") {
    graft.functions.Registry.registerAll(spark)
    val out = spark.sql("SELECT pack_ints(3, 4) AS p, packints(3, 4) AS p2, soft_fail(1 > 2) AS sf")
      .collect()(0)
    assert(out.getLong(0) == (3L << 32 | 4L))
    assert(out.getLong(1) == out.getLong(0))
    assert(out.getDouble(2) == -1.0)
  }

  test("a second registerAll leaves the registry unchanged") {
    graft.functions.Registry.registerAll(spark)
    val reg = spark.sessionState.functionRegistry
    def snapshot = reg.listFunction().map(id => id -> reg.lookupFunctionBuilder(id).get).toMap
    val before = snapshot
    graft.functions.Registry.registerAll(spark)
    val after = snapshot
    assert(after.keySet == before.keySet)
    assert(before.forall { case (id, b) => after(id) eq b }, "registerAll replaced a function")
  }

  test("registered aggregates work from plain spark.sql") {
    graft.functions.Registry.registerAll(spark)
    spark.range(1, 20).toDF("id").createOrReplaceTempView("graft_sql_agg")
    val out = spark.sql(
      "SELECT agg_expr('BIGINT', id % 2 > 0, sum_with(s -> s + id), results_with((s, c) -> s / c)) AS m FROM graft_sql_agg")
      .as[Double].collect()
    assert(out.toSeq == Seq(10.0))
  }

  test("pipeline functions are callable from plain spark.sql") {
    graft.functions.Registry.registerAll(spark)
    Seq((1L, "the quick brown fox jumps again", "the quick brown fox jumps today"))
      .toDF("id", "ta", "tb").createOrReplaceTempView("graft_sql_pipe")
    val row = spark.sql(
      """SELECT token_count(ta) AS tc, lang_id(ta) AS lang,
        |       size(minhash(shingles(ta, 2), 16)) AS mh,
        |       simhash(shingles(ta, 2)) AS sh,
        |       size(winnow_fingerprint(ta)) AS fp,
        |       gopher_quality(ta, 3).pass AS gq,
        |       ngram_jaccard(ta, ta, 2) AS self_j,
        |       cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cs
        |FROM graft_sql_pipe""".stripMargin).collect()(0)
    assert(row.getInt(0) == 6 && row.getString(1) == "en")
    assert(row.getInt(2) == 16 && row.getInt(4) > 0)
    assert(!row.getBoolean(5)) // 6 words: no stopword hits → gopher gate fails
    assert(row.getDouble(6) == 1.0 && math.abs(row.getDouble(7) - 1.0) < 1e-12)
  }

  test("processIfAttributeMissing picks first present alternative") {
    val suite = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(3, 1), "coalesce_if_attributes_missing(new_col > 0, old_col > 0)"),
      Rule(Id(4, 1), "coalesce_if_attributes_missing_disable(gone_a > 0, gone_b > 0)")))))
    val schema = Seq((1, 2)).toDF("old_col", "other").schema
    val processed = MissingAttributes.processIfAttributeMissing(suite, schema)
    val rules = processed.ruleSets.head.rules
    assert(rules(0).sql.toLowerCase.contains("old_col"))
    assert(!rules(0).sql.toLowerCase.contains("new_col"))
    // disabled variant collapses to the DisabledRule token
    val out = RuleRunner.addDataQuality(Seq((1, 2)).toDF("old_col", "other"), processed)
      .select(explode(RuleRunner.flattenResults(col("DataQuality"))).as("r"))
      .select("r.ruleId", "r.ruleResult")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out(3) == RuleResults.PassedInt)
    assert(out(4) == RuleResults.DisabledRuleInt)
  }

  test("processIfAttributeMissing treats dotted path with missing root as missing") {
    val suite = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(3, 1), "coalesce_if_attributes_missing(gone.inner > 0, old_col > 0)")))))
    val schema = Seq((1, 2)).toDF("old_col", "other").schema
    val rules = MissingAttributes.processIfAttributeMissing(suite, schema).ruleSets.head.rules
    // the dotted alternative's root column doesn't exist → falls through to old_col
    assert(rules(0).sql.toLowerCase.contains("old_col"))
    assert(!rules(0).sql.toLowerCase.contains("gone"))
  }

  test("processIfAttributeMissing keeps dotted paths whose root is a map/array column") {
    import org.apache.spark.sql.functions.map
    val df = Seq((1, 2)).toDF("k", "v").select(map(col("k"), col("v")).as("m"), col("k"))
    val suite = RuleSuite(Id(1, 1), Seq(RuleSet(Id(2, 1), Seq(
      Rule(Id(3, 1), "coalesce_if_attributes_missing(m.missing_key > 0, k > 0)")))))
    val rules = MissingAttributes.processIfAttributeMissing(suite, df.schema).ruleSets.head.rules
    // root `m` exists, so the dotted access is kept even though the schema
    // can't enumerate map keys
    assert(rules(0).sql.toLowerCase.contains("m"))
  }
}
