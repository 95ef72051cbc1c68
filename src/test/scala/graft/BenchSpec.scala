package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("probe waves: whole task waves of the 32-task probe") {
    assert(Bench.probeWavesAt(8) == 4.0)
    assert(Bench.probeWavesAt(24) == 2.0)
    assert(Bench.probeWavesAt(31) == 2.0)
    assert(Bench.probeWavesAt(32) == 1.0)
  }

  test("retrial cap override is recorded in the results json") {
    assert(Bench.retrialCapJson(None) == "")
    assert(Bench.retrialCapJson(Some(60.0)) == ""","retrial_cap":60.0""")
  }
}
