package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("timeAll: a query that throws is recorded as failed and timed nowhere") {
    var okRuns, boomRuns = 0
    val logged = Seq.newBuilder[String]
    val timed = Bench.timeAll(Seq(
      "boom" -> (() => { boomRuns += 1; throw new IllegalStateException("no such table") }),
      "ok"   -> (() => { okRuns += 1 })
    ), log = logged += _)
    assert(timed.times.map(_._1) === Seq("ok"))
    assert(timed.times.forall(_._2 >= 0.0))
    assert(timed.failed === Map("boom" -> "no such table"))
    assert(okRuns === 2, "the passing query runs in both passes")
    assert(boomRuns === 1, "a failed query is not run again in pass 2 or retried")
    assert(logged.result().exists(_.contains("pass1 boom FAILED: no such table")))
  }

  test("timeAll: a failure without a message is recorded by its class name") {
    val timed = Bench.timeAll(Seq("npe" -> (() => throw new NullPointerException())), log = _ => ())
    assert(timed.times.isEmpty)
    assert(timed.failed === Map("npe" -> "java.lang.NullPointerException"))
  }
}
