package graft.rules

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedProjection}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Row, SparkSession}

/**
 * Row-by-row rule evaluation without Spark jobs (reference: sparkless/
 * Processor.scala — their "sparkless" runs rules outside cluster execution
 * for unit tests and microservices). We use the active session's parser +
 * analyzer once at build time, then evaluate with an interpreted projection:
 * no jobs, no shuffles, no RDDs — each call is a pure local function.
 */
object Processor {

  final case class RuleOutcome(id: Id, setId: Id, result: Int)
  final case class SuiteOutcome(suiteId: Id, overall: Int, rules: Seq[RuleOutcome])

  /** Compile a suite against a schema into a local Row => SuiteOutcome fn. */
  def create(spark: SparkSession, schema: StructType, suite: RuleSuite): Row => SuiteOutcome = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val cols = RuleRunner.coerced(suite)
    // resolve once through the analyzer, then strip to bound expressions
    val analyzed = empty.select(cols: _*).queryExecution.analyzed
    val resolved: Seq[Expression] = analyzed.expressions.map {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case e => e
    }
    val attrs = analyzed.children.head.output
    val bound = resolved.map(e =>
      org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference(e, attrs))
    val projection = new InterpretedProjection(bound)
    // required before eval for nondeterministic exprs (rng_id, rand, uuid…)
    projection.initialize(0)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val ids = suite.rules.map { case (setId, r) => (setId, r.id) }

    (row: Row) => {
      val internal = toCatalyst(row).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val res = projection(internal)
      val outcomes = ids.zipWithIndex.map { case ((setId, rid), i) =>
        RuleOutcome(rid, setId, res.getInt(i))
      }
      SuiteOutcome(suite.id, overallOf(outcomes.map(_.result), suite.probablePass), outcomes)
    }
  }

  final case class EngineOutcome(salientRuleId: Option[Id], result: Any)

  /**
   * Local rule-ENGINE evaluation (reference sparkless covers the engine
   * runner too): compiles the full engine column once, then evaluates rows
   * with zero Spark jobs. Output values convert back to plain Scala.
   */
  def createEngine(
      spark: SparkSession, schema: StructType, suite: RuleSuite,
      outputDdl: Option[String] = None): Row => EngineOutcome = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.functions.col

    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val df = RuleEngine.addRuleEngine(empty, suite, "graft_re", outputDdl)
      .select(col("graft_re.salientRule.ruleId").as("rid"), col("graft_re.result").as("res"))
    val analyzed = df.queryExecution.analyzed

    // collapse the withColumn Project chain manually: the OPTIMIZED plan of a
    // query over an empty relation propagates emptiness and loses the
    // expressions, so inline child-project aliases ourselves
    def flatten(plan: LogicalPlan): (Map[Long, Expression], Seq[Attribute]) = plan match {
      case Project(list, child) =>
        val (childMap, base) = flatten(child)
        val pairs = plan.output.zip(list.map {
          case a: Alias => a.child
          case e => e
        }).map { case (attr, e) =>
          attr.exprId.id -> e.transformUp {
            case ar: AttributeReference if childMap.contains(ar.exprId.id) => childMap(ar.exprId.id)
          }
        }
        (pairs.toMap, base)
      case leaf =>
        (leaf.output.map(a => a.exprId.id -> (a: Expression)).toMap, leaf.output)
    }
    val (exprMap, baseAttrs) = flatten(analyzed)
    val outExprs = analyzed.output.map(a => exprMap(a.exprId.id))
    val bound = outExprs.map(e =>
      org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference(e, baseAttrs))
    val projection = new InterpretedProjection(bound)
    // required before eval for nondeterministic exprs (rng_id, rand, uuid…)
    projection.initialize(0)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val resultType = analyzed.output(1).dataType
    val toScala = CatalystTypeConverters.createToScalaConverter(resultType)
    val ruleById: Map[Long, Id] = suite.rules.map { case (_, r) => Id.pack(r.id) -> r.id }.toMap

    (row: Row) => {
      val internal = toCatalyst(row).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val res = projection(internal)
      val salient = if (res.isNullAt(0)) None else ruleById.get(res.getLong(0))
      val value = if (res.isNullAt(1)) null else toScala(res.get(1, resultType))
      EngineOutcome(salient, value)
    }
  }

  /** Same fold as the distributed runner (impl/OverallResult.scala:21-30). */
  def overallOf(results: Seq[Int], probablePass: Double): Int = {
    import RuleResults._
    results.foldLeft(PassedInt) { (acc, r) =>
      if (acc == FailedInt) FailedInt
      else if (r == PassedInt || r == SoftFailedInt || r == DisabledRuleInt) acc
      else if (r == FailedInt) FailedInt
      else if (r < probablePass * PassedInt) FailedInt
      else acc
    }
  }
}
