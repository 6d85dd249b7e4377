package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private val queries = """"queries":{"q_gcd":0.500,"q_topk":1.250}"""

  test("prevCapture: a capture on the same core count is compared") {
    val p = Bench.prevCapture(s"""{"metric":"total",$queries,"cpus":8}""", cpus = 8)
    assert(p == Bench.PrevCapture(Some(Map("q_gcd" -> 0.5, "q_topk" -> 1.25)), cpusMissing = false))
  }

  test("prevCapture: another core count is not compared") {
    val p = Bench.prevCapture(s"""{"metric":"total",$queries,"cpus":32}""", cpus = 8)
    assert(p == Bench.PrevCapture(None, cpusMissing = false))
  }

  test("prevCapture: a capture without a cpus field is not compared, and says so") {
    for (cpus <- Seq(8, 32)) {
      val p = Bench.prevCapture(s"""{"metric":"total","value":797.650,$queries}""", cpus)
      assert(p == Bench.PrevCapture(None, cpusMissing = true))
    }
  }
}
