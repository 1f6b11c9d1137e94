package graft.functions

import graft.TestSpark
import graft.rules.Processor
import graft.rules.RuleResults._
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** RuleOverall's generated loop, its interpreted eval and
 * Processor.overallOf each equal an independent reference fold on every
 * range of seeded random results. */
class RuleOverallSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val width = 10
  // every (from, until) with from <= until: empty and one-element ranges included
  private val ranges = for (f <- 0 to width; u <- f to width) yield (f, u)
  private val passes = Seq(0.0, 0.5, 0.8, 1.0, 1.5, Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity)

  /** Tokens plus probabilities on both sides of every finite threshold. */
  private def arrays: Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(20261019L)
    val pool = Seq(PassedInt, FailedInt, SoftFailedInt, DisabledRuleInt,
      1, 49999, 50000, 50001, 79999, 80000, 80001, 99999)
    // mostly-neutral arrays too, so a lone failure decides the overall
    val neutral = Seq(PassedInt, SoftFailedInt, DisabledRuleInt)
    (1 to 300).map { k =>
      val from = if (k % 3 == 0) neutral else pool
      Seq.fill(width)(from(rnd.nextInt(from.size))).zipWithIndex.map {
        case (v, i) => if (k % 3 == 0 && i == k % width) pool(rnd.nextInt(pool.size)) else v
      }
    }
  }

  private def overalls(p: Double, dir: String): Seq[Seq[Int]] = {
    val df = spark.read.parquet(dir)
    val cols = col("k") +: ranges.map { case (f, u) =>
      Bridge.column(RuleOverall(Bridge.expression(col("arr")), f, u, p))
    }
    val out = df.select(cols: _*)
    if (spark.conf.get("spark.sql.codegen.wholeStage") == "true") {
      val plan = out.queryExecution.executedPlan
      assert(plan.collectFirst { case w: WholeStageCodegenExec => w }.nonEmpty,
        s"no whole-stage codegen:\n$plan")
    }
    out.collect().sortBy(_.getInt(0)).map(r => (1 to ranges.size).map(r.getInt)).toSeq
  }

  test("codegen, interpreted eval and Processor.overallOf agree") {
    import RuleOverallSpec.refOverall
    val data = arrays
    val dir = java.nio.file.Files.createTempDirectory("graft_overall").toString
    data.zipWithIndex.map { case (a, k) => (k, a) }.toDF("k", "arr")
      .write.mode("overwrite").parquet(dir)
    passes.foreach { p =>
      val expected = data.map(a => ranges.map { case (f, u) =>
        refOverall(a.slice(f, u), p)
      })
      assert(data.map(a => ranges.map { case (f, u) => Processor.overallOf(a.slice(f, u), p) })
        == expected, s"overallOf vs reference at probablePass $p")
      // a generated class that fails to compile must fail here, not fall back
      spark.conf.set("spark.sql.codegen.fallback", "false")
      val generated = try overalls(p, dir)
        finally spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = try overalls(p, dir) finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      assert(generated == expected, s"codegen vs reference at probablePass $p")
      assert(interpreted == expected, s"eval vs reference at probablePass $p")
    }
    // the data exercises both outcomes at the default threshold
    val flat = data.flatMap(a => ranges.map { case (f, u) => refOverall(a.slice(f, u), 0.8) })
    assert(flat.contains(PassedInt) && flat.contains(FailedInt))
  }

  test("the fold: Failed dominates, tokens neutral, probabilities against the threshold") {
    import RuleOverallFold.fold
    def of(rs: Int*)(p: Double) = fold(rs.toIndexedSeq, 0, rs.size, p)
    assert(of()(0.8) == PassedInt)
    assert(of(SoftFailedInt, DisabledRuleInt, PassedInt)(0.8) == PassedInt)
    assert(of(PassedInt, FailedInt, PassedInt)(0.0) == FailedInt)
    assert(of(79999)(0.8) == FailedInt && of(80000)(0.8) == PassedInt)
    assert(of(99999)(1.5) == FailedInt && of(PassedInt)(1.5) == PassedInt)
    assert(of(1)(Double.NaN) == PassedInt) // nothing compares below NaN
    assert(of(1, PassedInt)(0.5) == FailedInt && fold(Seq(1, PassedInt), 1, 2, 0.5) == PassedInt)
  }
}

object RuleOverallSpec {
  /** Reference overall written apart from RuleOverallFold, as a plain
   * foldLeft (impl/OverallResult.scala:21-30), so the parity checks pin the
   * semantics and not only the plumbing. */
  def refOverall(results: Seq[Int], probablePass: Double): Int =
    results.foldLeft(PassedInt) { (acc, r) =>
      if (acc == FailedInt) FailedInt
      else if (r == PassedInt || r == SoftFailedInt || r == DisabledRuleInt) acc
      else if (r == FailedInt) FailedInt
      else if (r < probablePass * PassedInt) FailedInt
      else acc
    }
}
