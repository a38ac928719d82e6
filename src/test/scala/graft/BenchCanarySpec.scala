package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.contendedSegments]] over synthetic canary series — the
  * round-11 close of the canary loop: the contended flag said WHETHER
  * the run was loaded, the segment list says WHERE. Pure function, no
  * Spark session needed.
  */
class BenchCanarySpec extends AnyFunSuite {

  private val ref = 0.12

  test("idle run: no segments") {
    val s = Seq("p1:0" -> 0.13, "p1:25" -> 0.15, "p1:end" -> 0.12,
      "p2:0" -> 0.14, "p2:end" -> 0.13)
    assert(Bench.contendedSegments(s, ref).isEmpty)
  }

  test("a single slow slot is a spike, not a segment") {
    // load must bound BOTH ends of a stretch; one hot slot between two
    // idle ones names no segment (the global SPREAD flag still fires)
    val s = Seq("p1:0" -> 0.13, "p1:25" -> 0.90, "p1:50" -> 0.13)
    assert(Bench.contendedSegments(s, ref).isEmpty)
  }

  test("a loaded tail is localized to its query-list stretch") {
    val s = Seq("p1:0" -> 0.13, "p1:25" -> 0.14, "p1:50" -> 0.13,
      "p1:75" -> 0.55, "p1:100" -> 0.60, "p1:end" -> 0.58)
    assert(Bench.contendedSegments(s, ref) == Seq("p1:75-100", "p1:100-end"))
  }

  test("the BENCH_r06 shape — sustained whole-run load flags every segment") {
    val s = Seq("p1:0" -> 0.9, "p1:25" -> 1.1, "p1:end" -> 0.8,
      "p2:0" -> 1.0, "p2:end" -> 0.95)
    assert(Bench.contendedSegments(s, ref) ==
      Seq("p1:0-25", "p1:25-end", "p1:end-p2:0", "p2:0-end"))
  }

  test("boundary: exactly 2.5x the reference is NOT contended (strict >)") {
    val s = Seq("p1:0" -> 2.5 * ref, "p1:25" -> 2.5 * ref)
    assert(Bench.contendedSegments(s, ref).isEmpty)
    val s2 = Seq("p1:0" -> (2.5 * ref + 0.001), "p1:25" -> (2.5 * ref + 0.001))
    assert(Bench.contendedSegments(s2, ref) == Seq("p1:0-25"))
  }

  test("degenerate series: empty and single-slot yield nothing") {
    assert(Bench.contendedSegments(Nil, ref).isEmpty)
    assert(Bench.contendedSegments(Seq("p1:0" -> 9.9), ref).isEmpty)
  }

  test("a gate that throws is recorded as failed, not timed as a success") {
    val (_, ok) = Bench.timed(())
    assert(ok.isEmpty)
    val (sec, err) = Bench.timed(throw new IllegalStateException("boom \"x\"\n"))
    assert(sec >= 0.0)
    assert(err.map(_.getMessage).contains("boom \"x\"\n"))
    val json = Bench.failedJson(Seq("q1_a" -> (Seq("warm", "p1", "p2"), err.get)))
    assert(json == "{\"q1_a\":{\"passes\":[\"warm\",\"p1\",\"p2\"]," +
      "\"error\":\"java.lang.IllegalStateException: boom \\\"x\\\"\\u000a\"}}", json)
    assert(Bench.failedJson(Nil) == "{}")
  }
}
