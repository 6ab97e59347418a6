package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a failed entry is null in queries, left out of total and counted in failed") {
    val (detail, summary) = Bench.lines(
      Seq("q01" -> Some(1.25), "q02" -> None, "q03" -> Some(0.5)),
      "/data/sf0.1", Some(0.125))
    assert(detail == """{"metric":"total","value":1.7500,"unit":"sec",""" +
      """"queries":{"q01":1.2500,"q02":null,"q03":0.5000},"failed":1,""" +
      """"sf":"/data/sf0.1","steal_pct":0.13}""")
    assert(summary == """{"metric":"total","value":1.7500,"unit":"sec",""" +
      """"n":3,"failed":1,"sf":"/data/sf0.1","steal_pct":0.13}""")
  }

  test("a clean sweep reports failed 0 and omits steal_pct when unknown") {
    val (detail, summary) = Bench.lines(Seq("q01" -> Some(2.0)), "sf", None)
    assert(detail == """{"metric":"total","value":2.0000,"unit":"sec",""" +
      """"queries":{"q01":2.0000},"failed":0,"sf":"sf"}""")
    assert(summary ==
      """{"metric":"total","value":2.0000,"unit":"sec","n":1,"failed":0,"sf":"sf"}""")
  }
}
