package graftbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  /** Account one request [1000, 2000] whose jobs are (start, end); an
    * end of -1 leaves the job running. Returns the layer sums. */
  private def account(jobs: (Long, Long)*): Layers = {
    val probe = new Probe
    probe.on = true
    jobs.zipWithIndex.foreach { case ((s, e), id) =>
      probe.onJobStart(SparkListenerJobStart(id, s, Seq.empty))
      if (e >= 0) probe.onJobEnd(SparkListenerJobEnd(id, e, JobSucceeded))
    }
    val trace = new Trace
    val layers = new Layers
    val req = trace.add(-1, 1, "req", 1000, 2000)
    val phases = Seq(trace.add(req.id, 1, "execute", 1000, 1900),
      trace.add(req.id, 1, "drain", 1900, 2000))
    Attribution.account(probe, trace, layers, req, phases, cores = 4)
    layers
  }

  test("jobs inside their request, overlapping or not, are not over wall") {
    val l = account((1100L, 1500L), (1200L, 1400L), (1600L, 2000L))
    assert(l.sum("trace.jobs_over_wall") == 0)
    assert(l.sum("exec.jobs") == 3)
    assert(l.sum("exec.covered_s") == 0.8)
    assert(math.abs(l.sum("exec.driver_gap_s") - 0.2) < 1e-9)
  }

  test("a pool-thread job that ends after its request is over wall") {
    val l = account((1100L, 1500L), (1300L, 2050L))
    assert(l.sum("trace.jobs_over_wall") == 1)
    // job-covered time is still clipped to the request
    assert(l.sum("exec.covered_s") == 0.9)
  }

  test("a job still running when the request is accounted is over wall") {
    assert(account((1100L, 1500L), (1800L, -1L)).sum("trace.jobs_over_wall") == 1)
  }
}
