package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for Bench's minimal JSON scanning — the bench floor /
  * detail files are self-generated, but the parser must stay anchored to
  * real key positions, not key-shaped text inside string values. */
class BenchParseSpec extends AnyFunSuite {

  test("extractObject finds the object for the given key") {
    val txt = """{"value":1.5,"queries":{"q1":0.5,"q2":1.0},"sf":"x"}"""
    assert(Bench.extractObject(txt, "queries").contains("""{"q1":0.5,"q2":1.0}"""))
  }

  test("extractObject ignores the key appearing inside a string value") {
    // the note mentions "queries" before the real key — a bare indexOf
    // anchor would brace-match from the wrong '{'
    val txt =
      """{"note":"the \"queries\" object follows","queries":{"q1":0.5},"z":{}}"""
    assert(Bench.extractObject(txt, "queries").contains("""{"q1":0.5}"""))
  }

  test("extractObject handles nesting and absent keys") {
    val txt = """{"outer":{"inner":{"a":1},"b":2}}"""
    assert(Bench.extractObject(txt, "outer").contains("""{"inner":{"a":1},"b":2}"""))
    assert(Bench.extractObject(txt, "inner").contains("""{"a":1}"""))
    assert(Bench.extractObject(txt, "missing").isEmpty)
    assert(Bench.extractObject("""{"queries":""", "queries").isEmpty)
  }

  test("the final line names the detail file the run wrote") {
    // ONLY mode writes no detail file; a diverted contended run writes
    // the contended file and leaves the kept board as it was
    assert(Bench.detailWritten(onlyMode = false, diverted = false).contains("bench_detail.json"))
    assert(Bench.detailWritten(onlyMode = true, diverted = false).isEmpty)
    assert(Bench.detailWritten(onlyMode = false, diverted = true).contains("bench_detail_contended.json"))
    assert(Bench.detailWritten(onlyMode = true, diverted = true).contains("bench_detail_contended.json"))
  }
}
