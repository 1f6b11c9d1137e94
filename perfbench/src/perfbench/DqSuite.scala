package perfbench

import java.util.Locale

import graft.rules._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Seeded inputs for the rule workloads: lineitem-like rows and rule suites
 * whose rules come in the graft form and in a plain-SQL form the harness
 * evaluates without graft. */
object DqSuite {

  /** kind: the SQL result type the coercion sees. */
  sealed trait Kind
  case object Bool extends Kind
  case object Frac extends Kind
  case object Whole extends Kind

  final case class GenRule(setId: Int, ruleId: Int, sql: String, plain: String, kind: Kind,
      salience: Int, engineOut: String, folderOut: String) {
    def hasOutput: Boolean = salience >= 0
  }

  val SuiteId: Id = Id(1, 1)
  val ProbablePass = 0.8

  val Lambdas = Seq(
    LambdaFunction("inRange", "(v, lo, hi) -> v >= lo AND v <= hi", Id(1, 1)),
    LambdaFunction("discounted", "(p, d) -> p * (1 - d)", Id(2, 1)))

  /** `n` seeded lineitem-like rows; every value derives from (row id, seed)
   * by hashing, so the rows do not depend on partitioning. */
  def lineitems(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def u(k: Int) = s"(pmod(xxhash64(id, ${seed}L, $k), 1000003) / 1000003.0D)"
    def pick(k: Int, xs: Seq[String]) =
      s"element_at(array(${xs.map(x => s"'$x'").mkString(", ")}), CAST(floor(${u(k)} * ${xs.size}) AS INT) + 1)"
    val q = s"(floor(${u(1)} * 50) + 1)"
    spark.range(n).selectExpr(
      "id AS l_id",
      "id div 4 + 1 AS l_orderkey",
      "CAST(id % 4 + 1 AS INT) AS l_linenumber",
      s"CAST($q AS DOUBLE) AS l_quantity",
      s"round($q * (900 + floor(${u(2)} * 110000) / 100.0D), 2) AS l_extendedprice",
      s"floor(${u(3)} * 11) / 100.0D AS l_discount",
      s"floor(${u(4)} * 9) / 100.0D AS l_tax",
      s"${pick(5, Seq("A", "N", "R"))} AS l_returnflag",
      s"${pick(6, Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "REG AIR", "FOB"))} AS l_shipmode",
      s"date_add(DATE'1992-01-02', CAST(floor(${u(7)} * 2400) AS INT)) AS l_shipdate",
      s"CAST(floor(${u(8)} * 60) AS INT) - 30 AS l_commit_off",
      s"CAST(floor(${u(9)} * 30) AS INT) + 1 AS l_receipt_off",
      s"concat(${pick(10, Seq("carefully", "quickly", "slyly", "furiously"))}, ' ', " +
        s"${pick(11, Seq("final", "regular", "express", "pending"))}, ' deposits', " +
        s"repeat(' and requests', CAST(floor(${u(12)} * 4) AS INT))) AS l_comment")
      .selectExpr("*", "date_add(l_shipdate, l_commit_off) AS l_commitdate",
        "date_add(l_shipdate, l_receipt_off) AS l_receiptdate")
      .drop("l_commit_off", "l_receipt_off")
  }

  private def d(x: Double): String = String.format(Locale.ROOT, "%.2fD", Double.box(x))

  /** `n` rules in sets of `setSize`: booleans, probabilities, soft-fails,
   * rules that disable themselves, and stored-lambda calls, in turn. Every
   * `outputEvery`-th rule carries engine and folder outputs. The constants
   * come from (seed, variant), so each variant is a fresh suite of the
   * same shape. */
  def rules(seed: Long, variant: Int, n: Int, setSize: Int = 25,
      outputEvery: Int = 0): IndexedSeq[GenRule] = {
    val r = new scala.util.Random(seed * 1000003L + variant)
    val modes = Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "REG AIR", "FOB")
    (0 until n).map { i =>
      val (sql, plain, kind) = i % 5 match {
        case 0 => r.nextInt(4) match {
          case 0 => val s = s"l_quantity > ${1 + r.nextInt(49)}"; (s, s, Bool)
          case 1 => val s = s"l_extendedprice < ${d(1000 + r.nextDouble() * 90000)}"; (s, s, Bool)
          case 2 =>
            val a = r.nextInt(7)
            val s = s"l_discount BETWEEN ${d(a / 100.0)} AND ${d((a + 4) / 100.0)}"; (s, s, Bool)
          case _ => val s = s"datediff(l_receiptdate, l_shipdate) <= ${1 + r.nextInt(30)}"; (s, s, Bool)
        }
        case 1 => r.nextInt(3) match {
          case 0 => val s = s"l_discount * ${d(5 + r.nextDouble() * 4.5)}"; (s, s, Frac)
          case 1 => val s = s"l_tax * ${d(6 + r.nextDouble() * 5)}"; (s, s, Frac)
          case _ => val s = s"l_quantity / ${d(51 + r.nextDouble() * 49)}"; (s, s, Frac)
        }
        case 2 =>
          val s = if (r.nextBoolean()) s"IF(l_quantity > ${1 + r.nextInt(49)}, 1, -1)"
            else s"IF(l_shipmode = '${modes(r.nextInt(modes.size))}', 1, -1)"
          (s, s, Whole)
        case 3 =>
          val s = s"IF(l_returnflag = '${Seq("A", "N", "R")(r.nextInt(3))}', -2, " +
            s"IF(l_tax < ${d(r.nextInt(9) / 100.0 + 0.005)}, 1, 0))"
          (s, s, Whole)
        case _ =>
          if (r.nextBoolean()) {
            val lo = 1000 + r.nextDouble() * 40000
            val hi = lo + r.nextDouble() * 50000
            (s"inRange(l_extendedprice, ${d(lo)}, ${d(hi)})",
              s"(l_extendedprice >= ${d(lo)} AND l_extendedprice <= ${d(hi)})", Bool)
          } else {
            val p = d(1000 + r.nextDouble() * 60000)
            (s"discounted(l_extendedprice, l_discount) > $p",
              s"(l_extendedprice * (1 - l_discount)) > $p", Bool)
          }
      }
      val out = outputEvery > 0 && i % outputEvery == outputEvery - 1
      val k = 1 + r.nextInt(9)
      GenRule(setId = i / setSize + 1, ruleId = i + 1, sql, plain, kind,
        salience = if (out) r.nextInt(1000) else -1,
        engineOut = if (out) s"l_linenumber * $k" else "",
        folderOut = if (out) s"acc -> named_struct('score', acc.score + $k, 'hits', acc.hits + 1)" else "")
    }
  }

  /** The suite as the caller would have it stored: versioned rule rows,
   * lambda rows, and output-expression rows for the engine and folder. */
  final case class Stored(rules: DataFrame, lambdas: DataFrame, engineOuts: DataFrame,
      folderOuts: DataFrame)

  def store(spark: SparkSession, gen: Seq[GenRule]): Stored = {
    import spark.implicits._
    val suite = RuleSuite(SuiteId, gen.groupBy(_.setId).toSeq.sortBy(_._1).map { case (s, rs) =>
      RuleSet(Id(s, 1), rs.map(g => Rule(Id(g.ruleId, 1), g.sql,
        if (g.hasOutput) Some(OutputExpression(g.salience, Id(1000 + g.ruleId, 1), "")) else None)))
    }, Lambdas)
    def outs(f: GenRule => String) = gen.filter(_.hasOutput)
      .map(g => (f(g), 1000 + g.ruleId, 1, SuiteId.id, SuiteId.version))
      .toDF("ruleExpr", "functionId", "functionVersion", "ruleSuiteId", "ruleSuiteVersion")
    Stored(Serialization.toRuleSuiteDF(spark, suite), Serialization.toLambdaDF(spark, suite),
      outs(_.engineOut), outs(_.folderOut))
  }

  /** graft's public load path: rule rows + lambda rows → one suite. */
  def load(st: Stored): RuleSuite = {
    val c = st.rules.col _
    val suites = Serialization.readRulesFromDF(st.rules,
      c("ruleSuiteId"), c("ruleSuiteVersion"), c("ruleSetId"), c("ruleSetVersion"),
      c("ruleId"), c("ruleVersion"), c("ruleExpr"),
      Some(c("ruleEngineSalience")), Some(c("ruleEngineId")), Some(c("ruleEngineVersion")))
    val l = st.lambdas.col _
    val lambdas = Serialization.readLambdasFromDF(st.lambdas, l("name"), l("ruleExpr"),
      l("functionId"), l("functionVersion"), l("ruleSuiteId"), l("ruleSuiteVersion"))
    Serialization.integrateLambdas(suites, lambdas)(SuiteId)
  }

  def withOutputs(suite: RuleSuite, outs: DataFrame): RuleSuite = {
    val o = outs.col _
    val read = Serialization.readOutputExpressionsFromDF(outs, o("ruleExpr"), o("functionId"),
      o("functionVersion"), o("ruleSuiteId"), o("ruleSuiteVersion"))
    val (m, missing) = Serialization.integrateOutputExpressions(Map(SuiteId -> suite), read)
    require(missing.isEmpty, s"unresolved output expressions: $missing")
    m(SuiteId)
  }

  // ---- the harness's own evaluation, without graft ----------------------

  val Passed = 100000
  val Failed = 0
  val Soft = -1
  val Disabled = -2

  /** The PAPER.md result encoding, written as plain SQL over the rule's raw
   * value: booleans pass/fail, exact 1/0/-1/-2 pass/fail/soft/disabled,
   * other fractions scale by 100000 and truncate, null fails. */
  def coerceSql(g: GenRule): String = {
    val v = s"(${g.plain})"
    g.kind match {
      case Bool => s"CASE WHEN $v IS NULL THEN 0 WHEN $v THEN $Passed ELSE 0 END"
      case Whole => s"CASE WHEN $v = 1 THEN $Passed WHEN $v = -1 THEN -1 WHEN $v = -2 THEN -2 ELSE 0 END"
      case Frac => s"CASE WHEN $v IS NULL OR $v = 0 THEN 0 WHEN $v = 1 THEN $Passed " +
        s"WHEN $v = -1 THEN -1 WHEN $v = -2 THEN -2 ELSE CAST($v * 100000.0D AS INT) END"
    }
  }

  /** A rule result that fails the overall fold (Failed, or a probability
   * under the probable-pass threshold). */
  def failsOverall(r: Int): Boolean =
    r != Passed && r != Soft && r != Disabled && (r == Failed || r.toDouble < ProbablePass * Passed)

  /** A session that evaluates expressions interpreted: the plain-SQL
   * recounts pay no compile time and share no generated code with graft. */
  def interpreted(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    s
  }

  /** Per-row coerced results of every rule, by plain SQL in chunks, in rule
   * order. */
  def plainResults(df: DataFrame, gen: IndexedSeq[GenRule], chunk: Int = 100): Array[Array[Int]] = {
    val n = df.count().toInt
    val out = Array.fill(n)(new Array[Int](gen.size))
    gen.grouped(chunk).zipWithIndex.foreach { case (g, c) =>
      df.select(col("l_id") +: g.map(r => expr(coerceSql(r))): _*).collect().foreach { row =>
        val dst = out(row.getLong(0).toInt)
        g.indices.foreach(k => dst(c * chunk + k) = row.getInt(k + 1))
      }
    }
    out
  }

  /** Per-rule outcome counts by plain Spark: (ruleId → evaluated, passed,
   * failed, soft, disabled, probabilistic). */
  def plainRuleCounts(df: DataFrame, gen: Seq[GenRule]): Map[Int, Seq[Long]] = {
    val pairs = gen.map(g => struct(lit(g.ruleId).as("rid"), expr(coerceSql(g)).as("res")))
    df.select(explode(array(pairs: _*)).as("p"))
      .groupBy(col("p.rid"))
      .agg(count(lit(1)), count(when(col("p.res") === Passed, 1)),
        count(when(col("p.res") === Failed, 1)), count(when(col("p.res") === Soft, 1)),
        count(when(col("p.res") === Disabled, 1)),
        count(when(col("p.res") > 0 && col("p.res") < Passed, 1)))
      .collect().map(r => r.getInt(0) -> (1 to 6).map(r.getLong)).toMap
  }

  def counts(rows: Array[org.apache.spark.sql.Row], idCol: String,
      names: Seq[String]): Map[Int, Seq[Long]] =
    rows.map(r => r.getAs[Int](idCol) -> names.map(n => r.getAs[Long](n))).toMap

  val folderStart: Column = struct(lit(0).as("score"), lit(0).as("hits"))
}
