package graft.functions

import graft.TestSpark
import graft.rules.RuleResults._
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** RuleSetResults' generated code, its interpreted eval and its `expand`
 * (the per-rule constructor tree it replaces) build the same
 * `ruleSetResults` map, key order and types included, on stored results
 * arrays of every layout shape. */
class RuleSetResultsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def layout(sizes: Seq[Int], probablePass: Double): RuleSetLayout = {
    var rule = 0L
    RuleSetLayout(sizes.zipWithIndex.map { case (n, s) =>
      ((100L + s) << 32 | 1L) -> (0 until n).map { _ => rule += 1; rule << 32 | 2L }
    }, probablePass)
  }

  /** 1,000 rules in 40 sets of 25, and an empty set among them. */
  private val wide = (0 until 41).map(s => if (s == 7) 0 else 25)
  private val layouts = Seq(
    "1,000 rules" -> wide,
    "an empty rule set" -> Seq(3, 0, 2),
    "only empty rule sets" -> Seq(0, 0),
    "an empty suite" -> Nil,
    "one rule" -> Seq(1))

  /** Every token, and probabilities on both sides of 0.5 and 0.8. */
  private def arrays(width: Int): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(20261019L)
    val pool = Seq(PassedInt, FailedInt, SoftFailedInt, DisabledRuleInt,
      1, 49999, 50000, 50001, 79999, 80000, 80001, 99999)
    val neutral = Seq(PassedInt, SoftFailedInt, DisabledRuleInt)
    // mostly-neutral rows too, so some sets pass and a lone failure decides
    (1 to 60).map { k =>
      val from = if (k % 2 == 0) neutral else pool
      Seq.fill(width)(from(rnd.nextInt(from.size))).zipWithIndex.map {
        case (v, i) => if (k % 2 == 0 && i % 97 == k % 97) pool(rnd.nextInt(pool.size)) else v
      }
    }
  }

  private def node(df: DataFrame, l: RuleSetLayout): RuleSetResults = {
    val arr = df.queryExecution.analyzed.output.find(_.name == "arr").get
    RuleSetResults(arr, l)
  }

  /** (k, the map cast to a string, in key order) per row. */
  private def shown(df: DataFrame, e: org.apache.spark.sql.catalyst.expressions.Expression,
      generated: Boolean): Seq[(Int, String)] = {
    val out = df.select(col("k"), Bridge.column(e).cast("string").as("m"))
    if (generated) {
      val plan = out.queryExecution.executedPlan
      assert(plan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty,
        s"no whole-stage codegen:\n$plan")
    }
    out.collect().map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1).toSeq
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  layouts.foreach { case (name, sizes) =>
    test(s"codegen, eval and expand agree: $name") {
      val data = arrays(sizes.sum)
      val dir = java.nio.file.Files.createTempDirectory("graft_rsr").toString
      data.zipWithIndex.map { case (a, k) => (k, a) }.toDF("k", "arr")
        .write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      Seq(0.5, 0.8).foreach { p =>
        val n = node(df, layout(sizes, p))
        assert(n.dataType == n.expand.dataType, s"types at $name")
        // a generated class that fails to compile must fail here, not fall back
        val generated = withConf("spark.sql.codegen.fallback" -> "false")(shown(df, n, true))
        val (interpreted, reference) = withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
          (shown(df, n, false), shown(df, n.expand, false))
        }
        assert(generated.size == data.size)
        assert(generated == reference, s"codegen vs expand at probablePass $p")
        assert(interpreted == reference, s"eval vs expand at probablePass $p")
      }
    }
  }

  test("the map: set overalls by the fold, rule results in layout order") {
    val l = layout(Seq(2, 0, 3), 0.8)
    val arr = Seq(PassedInt, 79999, SoftFailedInt, DisabledRuleInt, 80000)
    val m = RuleSetResults.build(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr.toArray), l.packed, 0.8, false)
    assert(m.keyArray().toLongArray().toSeq == l.sets.map(_._1))
    val sets = (0 until 3).map(i => m.valueArray().getStruct(i, 2))
    assert(sets.map(_.getInt(0)) == Seq(FailedInt, PassedInt, PassedInt))
    assert(sets.map(_.getMap(1).keyArray().toLongArray().toSeq) == l.sets.map(_._2))
    assert(sets.map(_.getMap(1).valueArray().toIntArray().toSeq) ==
      Seq(arr.take(2), Nil, arr.drop(2)))
  }
}
