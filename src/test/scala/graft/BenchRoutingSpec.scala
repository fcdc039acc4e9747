package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fence on the scored-artifact routing: bench.json is ONLY written
  * by a run against the canonical sf0.1 dir AT the canonical 32-core
  * count. Two past rounds lost the scored artifact to clobbering (an
  * sf0.01 debug run, an interleaved re-run), the first guard's
  * `endsWith("sf0.1")` still matched the zsf0.1 anchor dir — the
  * basename must match exactly — and in r16 the driver's own c8
  * scaling run overwrote the scored c32 file because routing keyed on
  * sfDir alone: a different core count must land in its own artifact.
  * Also fences the per-row timing: a row that throws is recorded as an
  * error, never as seconds.
  */
class BenchRoutingSpec extends AnyFunSuite {
  test("only the exact sf0.1 basename at 32 cores routes to the scored artifact") {
    assert(Bench.artifactFor("/root/testdata/sf0.1", "32") == "bench.json")
    assert(Bench.artifactFor("/root/testdata/sf0.1/", "32") == "bench.json")
    // the round-10 ADVICE case: anchor data must NOT clobber the score
    assert(Bench.artifactFor("/root/testdata/zsf0.1", "32") == "bench_adhoc.json")
    assert(Bench.artifactFor("/tmp/mysf0.1", "32") == "bench_adhoc.json")
    assert(Bench.artifactFor("/root/testdata/sf0.01", "32") == "bench_adhoc.json")
    assert(Bench.artifactFor("/root/testdata/sf0.1/sub", "32") == "bench_adhoc.json")
  }
  test("the r16 clobber: a scaling run at another core count gets its own artifact") {
    assert(Bench.artifactFor("/root/testdata/sf0.1", "8") == "bench_c8.json")
    assert(Bench.artifactFor("/root/testdata/sf0.1/", "4") == "bench_c4.json")
    // non-canonical scale stays ad-hoc regardless of core count
    assert(Bench.artifactFor("/root/testdata/sf0.01", "8") == "bench_adhoc.json")
  }

  test("a row that throws is an error carrying its exception class, not a timing") {
    val spark = TestSpark.spark
    assert(Bench.timeRow((_, _) => throw new IllegalStateException("boom"),
      spark, "unused") == Left("java.lang.IllegalStateException"))
    // a frame that builds but fails when its plan is drained
    val atRun = Bench.timeRow((s, _) => s.range(1).selectExpr("raise_error('boom')"),
      spark, "unused")
    assert(atRun.isLeft, atRun)
    val ok = Bench.timeRow((s, _) => s.range(10).toDF(), spark, "unused")
    assert(ok.exists(_ >= 0.0), ok)
  }
}
