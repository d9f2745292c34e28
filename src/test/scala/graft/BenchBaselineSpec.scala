package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench.baseline: a previous artifact is a drifter baseline only when its
  * scale factor, core count and phase match the run reading it.
  */
class BenchBaselineSpec extends AnyFunSuite {

  private def artifact(sf: String, cpus: String, phase: String = "final") =
    s"""{"metric":"total","value":3,"unit":"sec","phase":"$phase","truncated":[],""" +
      s""""queries":{"q1_agg":1.5,"q3_join_agg":-1},"isolated":{"q1_agg":9},""" +
      s""""sf":"$sf","cpus":"$cpus"}"""

  test("same sf, cpus and final phase: the per-query medians") {
    assert(Bench.baseline(artifact("/d/sf0.1", "8"), "/d/sf0.1", "8") ==
      Map("q1_agg" -> 1.5, "q3_join_agg" -> -1.0))
  }

  test("another core count, scale factor or phase is no baseline") {
    assert(Bench.baseline(artifact("/d/sf0.1", "8"), "/d/sf0.1", "32").isEmpty)
    assert(Bench.baseline(artifact("/d/sf0.1", "8"), "/d/sf0.01", "8").isEmpty)
    assert(Bench.baseline(artifact("/d/sf0.1", "8", "pass_1"), "/d/sf0.1", "8").isEmpty)
  }

  test("an artifact without a cpus key is no baseline") {
    val old = artifact("/d/sf0.1", "8").replace(""","cpus":"8"""", "")
    assert(Bench.baseline(old, "/d/sf0.1", "8").isEmpty)
  }
}
