package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("once builds each (kind, dir) once and keeps kinds apart") {
    var builds = 0
    def a = Harness.once("spec_a", "/d") { builds += 1; "a" }
    assert(a == "a" && a == "a" && builds == 1)
    assert(Harness.once("spec_b", "/d") { builds += 1; "b" } == "b" && builds == 2)
    assert(Harness.once("spec_a", "/e") { builds += 1; "e" } == "e" && builds == 3)
  }

  test("a build that throws records nothing, so the next call builds again") {
    var tries = 0
    def guarded = Harness.once("spec_guard", "/d") {
      tries += 1
      require(tries > 1, "refused")
    }
    intercept[IllegalArgumentException](guarded)
    guarded
    guarded
    assert(tries == 2)
  }

  test("a build may call once for another fixture") {
    val outer = Harness.once("spec_outer", "/d") {
      Harness.once("spec_inner", "/d")("inner") + "+outer"
    }
    assert(outer == "inner+outer")
  }

  test("eachQuery reports a failure and runs the rest") {
    val spark = TestSpark.spark
    val queries: Map[String, Harness.Query] = Map(
      "ok" -> ((s, _) => s.range(3).toDF()),
      "boom" -> ((_, _) => sys.error("no such table")))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Either[String, Long])]
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(err) {
      Harness.eachQuery(spark, "spec", "/unused", Seq("boom", "ok"), queries)(
          (_, df) => df.count()) { o =>
        seen += o.name -> o.result.map(_._2).left.map(_.getMessage)
      }
    }
    assert(seen.toSeq == Seq("boom" -> Left("no such table"), "ok" -> Right(3L)))
    assert(err.toString.trim ==
      "[spec] boom failed: java.lang.RuntimeException: no such table")
  }
}
