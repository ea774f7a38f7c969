package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contention re-run merges only successful extra reps. */
class BenchSpec extends AnyFunSuite {
  test("a failed extra rep leaves the main-pass median as it was") {
    val main = Seq(1.0, 2.0, 4.0)
    assert(Bench.median(Bench.mergeSamples(main, Seq(None, None))) ==
      Bench.median(main))
    // a successful extra rep joins the samples, a failed one does not
    assert(Bench.mergeSamples(main, Seq(None, Some(1.5))) ==
      Seq(1.0, 1.5, 2.0, 4.0))
    // a failed MAIN rep still reports the query as an error
    assert(Bench.median(Bench.mergeSamples(Seq(-1.0, 2.0, 3.0),
      Seq(Some(1.0)))) == -1.0)
  }
}
