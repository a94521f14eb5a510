package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's self-defense plumbing (no Spark): previous-round
  * effective-time loading for the round_over_round trigger — raw Bench
  * artifacts, the round driver's wrapper shape (usable `parsed` vs
  * tail-only), arbitration-minimum folding, and the sf guard — plus the
  * suspect threshold shape.
  */
class BenchSpec extends AnyFunSuite {

  private def write(name: String, content: String): String = {
    val p = Files.createTempDirectory("graft-bench-spec").resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  private val raw =
    """{"metric":"total","value":10.0,"sf":"/root/testdata/sf0.1",
      | "queries":{"q_fast":0.5,"q_noisy":4.0,"q_failed":null},
      | "arbitrated":{
      |   "q_noisy":{"first":4.0,"band":1.0,"reps":[1.1,1.0,1.2],"min":1.0,"verdict":"contaminated"},
      |   "q_fast":{"first":0.5,"band":0.4,"reps":[0.45],"min":0.45,"verdict":"clean"}}}""".stripMargin

  test("raw artifact: arbitration minima replace contaminated/inflated firsts only") {
    val m = Bench.loadPrevEffective(write("prev.json", raw), "sf0.1")
    // q_noisy was self-classified contaminated -> its effective time is the
    // rep minimum; q_fast's "clean" arbitration must NOT replace the first
    // reading; a failed (null) query contributes nothing
    assert(m == Map("q_fast" -> 0.5, "q_noisy" -> 1.0), m)
  }

  test("sf mismatch rejects the artifact entirely") {
    assert(Bench.loadPrevEffective(write("prev.json", raw), "sf0.01").isEmpty)
  }

  test("driver wrapper: usable parsed block is descended into, tail-only is rejected") {
    val wrapped =
      s"""{"n": 17, "rc": 0, "sf": 0.1, "tail": "…", "parsed": ${raw.replaceAll("\n", " ")}}"""
    val m = Bench.loadPrevEffective(write("wrapped.json", wrapped), "sf0.1")
    assert(m == Map("q_fast" -> 0.5, "q_noisy" -> 1.0), m)
    val tailOnly = """{"n": 17, "rc": 0, "sf": 0.1, "tail": "d\":0.689", "parsed": null}"""
    assert(Bench.loadPrevEffective(write("tail.json", tailOnly), "sf0.1").isEmpty)
  }

  test("missing/garbage files load as empty, never throw") {
    assert(Bench.loadPrevEffective("/nonexistent/prev.json", "sf0.1").isEmpty)
    assert(Bench.loadPrevEffective(write("garbage.json", "not json"), "sf0.1").isEmpty)
  }

  test("loadPrevEffective skips pass1-only partial artifacts") {
    val partial = write("partial.json",
      """{"metric":"total","value":10.0,"partial":true,
         "queries":{"q1":1.0},"sf":"/x/sf0.1"}""")
    assert(Bench.loadPrevEffective(partial, "sf0.1").isEmpty)
  }

  test("mergePasses: min of two passes; one-pass failure keeps the survivor") {
    assert(Bench.mergePasses(("q", Some(1.5), None), ("q", Some(0.9), None))
      == (("q", Some(0.9), None)))
    // a single-pass failure (GC pause, transient OOM) must not lose the query
    assert(Bench.mergePasses(("q", None, Some("OOM")), ("q", Some(0.9), None))
      == (("q", Some(0.9), None)))
    assert(Bench.mergePasses(("q", Some(1.5), None), ("q", None, Some("OOM")))
      == (("q", Some(1.5), None)))
    // both-pass failure is an error row carrying the first pass's class
    assert(Bench.mergePasses(("q", None, Some("A")), ("q", None, Some("B")))
      == (("q", None, Some("A"))))
  }

  test("stampPath tags the basename's extension, or appends without one") {
    assert(Bench.stampPath("bench_out.json", "_c32") == "bench_out_c32.json")
    assert(Bench.stampPath("bench_out_c32.json", "_summary") == "bench_out_c32_summary.json")
    // no extension: the summary must not collide with the full artifact
    assert(Bench.stampPath("benchout_c8", "_summary") == "benchout_c8_summary")
    assert(Bench.stampPath("bench_out.txt", "_summary") == "bench_out_summary.txt")
    // a dot in a directory component is not an extension
    assert(Bench.stampPath("out.d/bench", "_c32") == "out.d/bench_c32")
    assert(Bench.stampPath("out.d/bench.json", "_c32") == "out.d/bench_c32.json")
  }

  test("suspect threshold: 2x band unconditionally - no sub-second blind spot") {
    // the old band+0.75s floor could never fire for bands < 0.75 s, which
    // is most of the registry; r13/r14/r17/r18 each shipped a >2x
    // sub-second escape through that gap
    assert(Bench.threshold(0.2) == 0.4) // sub-second bands now trigger at 2x
    assert(Bench.threshold(5.0) == 10.0) // 2x everywhere
  }
}
