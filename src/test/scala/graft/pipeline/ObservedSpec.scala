package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ObservedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** An observation completed by one count over `n` rows. */
  private def observed(metric: org.apache.spark.sql.Column, n: Long): Observation = {
    val obs = Observation()
    spark.range(n).observe(obs, metric).count()
    obs
  }

  test("long reads a Long metric, and a NULL one as 0, without the fallback") {
    assert(Observed.long(observed(count(lit(1)).as("n"), 5), "n")(fail("fallback ran")) == 5L)
    val empty = observed(max(col("id")).as("m"), 0)
    assert(Observed.long(empty, "m")(fail("fallback ran")) == 0L)
  }

  test("long fails loudly on a non-Long metric or a missing key") {
    val obs = observed(count(lit(1)).cast("int").as("n"), 5)
    val wrongType = intercept[IllegalStateException](Observed.long(obs, "n")(fail("fallback ran")))
    assert(wrongType.getMessage.contains("java.lang.Integer"))
    val missing = intercept[IllegalStateException](Observed.long(obs, "nope")(fail("fallback ran")))
    assert(missing.getMessage.contains("missing"))
  }

  test("longs reads every key in order and fails loudly on a missing or non-Long one") {
    val obs = observed(count(lit(1)).as("n"), 5)
    val two = Observation()
    spark.range(4).observe(two, max(col("id")).as("hi"), count(lit(1)).as("n"))
      .count()
    assert(Observed.longs(two, "n", "hi")(fail("fallback ran")) == Seq(4L, 3L))
    val empty = Observation()
    spark.range(0).observe(empty, count(lit(1)).as("n"), max(col("id")).as("hi"))
      .count()
    assert(Observed.longs(empty, "n", "hi")(fail("fallback ran")) == Seq(0L, 0L))
    // one good key does not excuse a missing one: no silent 0
    val missing = intercept[IllegalStateException](
      Observed.longs(obs, "n", "graft_nodes")(fail("fallback ran")))
    assert(missing.getMessage.contains("graft_nodes"))
    val wrong = observed(count(lit(1)).cast("int").as("n"), 5)
    intercept[IllegalStateException](Observed.longs(wrong, "n")(fail("fallback ran")))
  }

  test("an interrupted read rethrows instead of launching the fallback") {
    val never = Observation() // no action ever completes it
    var fellBack = false
    Thread.currentThread().interrupt()
    try intercept[InterruptedException](Observed.long(never, "n") { fellBack = true; 0L })
    finally Thread.interrupted() // leave the test thread's flag clear
    assert(!fellBack)
  }
}
