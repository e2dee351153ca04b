package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** A traced run fails when it measured nothing where it should have. */
class TraceCheckSpec extends AnyFunSuite {

  private def failures(m: Map[String, Double], exercised: Seq[String]): Long = {
    val rec = new Recorder
    Layers.check(rec, m, exercised)
    assert(rec.attempted == 2)
    rec.failed
  }

  private val good = Map("sources.fs.open" -> 12.0, "trace.self_sum_over_wall" -> 1.0,
    "sources.commit_ms" -> 0.0)

  test("a complete traced run passes, whatever it does not exercise") {
    assert(failures(good, Seq("sources.fs.open")) == 0)
  }

  test("an exercised metric that reads 0 or is missing fails") {
    assert(failures(good, Seq("sources.commit_ms")) == 1)
    assert(failures(good, Seq("plans.plan_ms")) == 1)
  }

  test("a metric that is not a finite number fails") {
    assert(failures(good + ("trace.overhead_frac" -> Double.NaN), Nil) == 1)
  }

  test("spans that do not account for their ops' wall time fail") {
    assert(failures(good + ("trace.self_sum_over_wall" -> 0.8), Nil) == 1)
    assert(failures(good - "trace.self_sum_over_wall", Nil) == 1)
  }
}
