package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Driver heap in use after a full garbage collection, sampled in the
  * last warm-up unit inside every request, while what the request built
  * (its plan, collected results, persisted intermediates) is still
  * referenced. Heap at rest between units is not sampled: it still
  * holds blocks of the previous unit that Spark's cleaner has yet to
  * drop, an amount that depends on timing. */
object Heap {
  private var peakBytes = 0L

  def sample(): Unit = {
    System.gc()
    peakBytes = math.max(peakBytes, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peakBytes / 1048576.0

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** The phases of one request, as (label, start, end) in epoch ms. */
final class Phases {
  val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]

  def apply[T](label: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally spans += ((label, s, System.currentTimeMillis()))
  }
}

/** What both workloads share: the listener on the session, the span log,
  * the per-layer sums and the measure loop. */
final class Harness(val spark: SparkSession) {
  val sc = spark.sparkContext
  val probe = new Probe
  sc.addSparkListener(probe)
  val trace = new Trace
  val layers = new Layers
  private val pending = mutable.ArrayBuffer.empty[(Span, Seq[Span])]

  /** Log a traced request with its phases as child spans; its Spark
    * jobs are attributed once the measured unit ends. Returns the
    * phase spans. */
  def record(request: Int, name: String, start: Long, end: Long, phases: Phases): Seq[Span] = {
    val root = trace.add(-1, request, name, start, end)
    val spans = phases.spans.map { case (l, s, e) => trace.add(root.id, request, l, s, e) }.toSeq
    pending += ((root, spans))
    spans
  }

  /** Run measured units (report passes, refresh cycles) until `seconds`
    * have elapsed, at least `minUnits` units ran and they gave at least
    * `minSamples` latencies. `unit(k)` runs the k-th unit and returns
    * its wall time and its request latencies (s). */
  def measure(seconds: Double, traced: Boolean, minUnits: Int, minSamples: Int)
             (unit: Int => (Double, Seq[Double])): (Seq[Double], Seq[Double]) = {
    val walls, lats = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < seconds || walls.size < minUnits ||
      lats.size < minSamples) {
      System.gc() // every unit starts from the same heap state
      probe.on = traced
      val (wall, ls) = unit(walls.size)
      probe.on = false
      walls += wall; lats ++= ls
      if (traced) {
        org.apache.spark.graftbench.BusDrain(sc)
        pending.foreach { case (root, spans) =>
          Attribution.account(probe, trace, layers, root, spans, Main.cores)
        }
        pending.clear(); probe.clear()
      }
    }
    System.err.println(f"[graftbench] ${if (traced) "traced" else "measured"} units: " +
      walls.map(w => f"$w%.2f").mkString(" ") + " s")
    (walls.toSeq, lats.toSeq)
  }
}
