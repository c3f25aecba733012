package graftbench

import scala.collection.mutable

import graftbench.Main.Metric

/** The metrics a run reports, shared by both workloads. */
object Metrics {
  /** Every per-layer metric with its unit, in report order. */
  val perLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.build_result_bytes" -> "B",
    "plans.plan_s" -> "s", "plans.exchanges" -> "count", "plans.sort_merge_joins" -> "count",
    "plans.broadcast_joins" -> "count", "plans.pushed_scan_frac" -> "ratio",
    "Tables.scan_bytes" -> "B", "Tables.scan_rows" -> "count",
    "Tables.rows_scanned_per_row_out" -> "ratio",
    "exec.jobs" -> "count", "exec.driver_gap_s" -> "s", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.task_gc_s" -> "s", "exec.core_busy_frac" -> "ratio", "exec.task_skew" -> "ratio",
    "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.result_bytes" -> "B",
    "CacheScope.drain_s" -> "s", "CacheScope.persisted_rdds" -> "count",
    "CacheScope.cached_bytes" -> "B", "CacheScope.leaked_rdds" -> "count",
    "driver.gc_s" -> "s",
    "sources.ingest_s" -> "s", "sources.rows_rejected" -> "count",
    "streaming.migrate_s" -> "s", "streaming.buckets_touched" -> "count",
    "streaming.bytes_written" -> "B", "streaming.files_written" -> "count",
    "streaming.expire_s" -> "s", "streaming.live_dirs" -> "count", "streaming.read_s" -> "s",
    "streaming.refresh_p50_s" -> "s", "streaming.write_amp" -> "ratio",
    "streaming.bytes_per_live_row" -> "B",
    "trace.overhead_frac" -> "ratio", "trace.child_gap_frac" -> "ratio",
    "trace.jobs_over_wall" -> "count", "trace.requests" -> "count")

  def perLayerMetrics(values: Map[String, Double]): Seq[Metric] =
    perLayer.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }

  /** The per-layer values every workload derives the same way. */
  def execValues(l: Layers): Map[String, Double] = Map(
    "exec.jobs" -> l.mean("exec.jobs"), "exec.driver_gap_s" -> l.mean("exec.driver_gap_s"),
    "exec.stages" -> l.mean("exec.stages"), "exec.tasks" -> l.mean("exec.tasks"),
    "exec.task_run_s" -> l.mean("exec.task_run_s"), "exec.task_cpu_s" -> l.mean("exec.task_cpu_s"),
    "exec.task_gc_s" -> l.mean("exec.task_gc_s"),
    "exec.core_busy_frac" -> l.ratio("exec.task_run_s", "exec.cores_x_covered_s"),
    "exec.task_skew" -> l.medianOf("exec.task_skew"),
    "exec.shuffle_write_bytes" -> l.mean("exec.shuffle_write_bytes"),
    "exec.shuffle_read_bytes" -> l.mean("exec.shuffle_read_bytes"),
    "exec.spill_bytes" -> l.mean("exec.spill_bytes"),
    "exec.result_bytes" -> l.mean("exec.result_bytes"),
    "Tables.scan_bytes" -> l.mean("Tables.scan_bytes"),
    "Tables.scan_rows" -> l.mean("Tables.scan_rows"),
    "CacheScope.persisted_rdds" -> l.mean("CacheScope.persisted_rdds"),
    "CacheScope.cached_bytes" -> l.mean("CacheScope.cached_bytes"),
    "CacheScope.leaked_rdds" -> l.sum("CacheScope.leaked_rdds"),
    "driver.gc_s" -> l.mean("driver.gc_s"),
    "trace.child_gap_frac" -> l.mean("trace.child_gap_frac"),
    "trace.jobs_over_wall" -> l.sum("trace.jobs_over_wall"),
    "trace.requests" -> l.requests.toDouble)

  /** The end-to-end metrics every workload reports: medians over the
    * measured units and over all request latencies. */
  def endToEnd(setupS: Double, passWalls: Seq[Double], latencies: Seq[Double]): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("wall_s", Stats.median(passWalls), "s"),
    Metric("latency_p50_s", Stats.percentile(latencies, 0.5), "s"),
    Metric("driver_heap_peak_mb", Heap.peakMb, "MB"))
}

/** Per-layer sums over the traced requests of a run. */
final class Layers {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var requests = 0

  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v
  def sum(name: String): Double = sums.getOrElse(name, 0.0)
  def mean(name: String): Double = if (requests == 0) 0.0 else sum(name) / requests
  def ratio(num: String, den: String): Double = if (sum(den) == 0) 0.0 else sum(num) / sum(den)
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  def medianOf(name: String): Double =
    samples.get(name).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
}
