package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution

import graftbench.Main.{Args, Result}
import graftbench.Stats.Fingerprint

/** rdw_reports: one client thread issues RDW reports in a closed loop,
  * pass after pass, each pass visiting every report once in a seeded
  * order, and checks every result against its recorded fingerprint.
  *
  * Report traffic is short queries whose fixed per-query cost
  * (planning, job scheduling, scan set-up, cache drain) is most of each
  * request. Ten of the 92 reports: aggregates, a star join,
  * percentiles, window ranks, a rollup, latest-wins, an as-of join, a
  * soft-delete migrate, a monitoring report and cell suppression. */
object ReportsWorkload {
  val Name = "rdw_reports"
  val Queries: Seq[String] = Seq(
    "q01_agg_summary", "q03_star_join", "q05_percentiles", "q06_window_rank", "q09_rollup",
    "q16_latest_wins", "q22_asof_join", "q40_soft_delete_migrate", "q61_import_status_monitor",
    "q86_cell_suppression")
  val Scale: Gen.Scale = Gen.Scale(customers = 500, suppliers = 50, parts = 700, orders = 5000,
    events = 5000)

  /** The tables are generated from this fixed seed, so the recorded
    * output fingerprints hold for every run; the run's `--seed` orders
    * the requests. */
  val DataSeed = 20240101L

  /** Execute `df`'s physical plan, ORDER BY included, and fold every
    * output row into an order-independent fingerprint where it is
    * produced. */
  def consume(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    val schema = qe.executedPlan.schema
    SQLExecution.withNewExecutionId(qe, Some("graftbench")) {
      qe.toRdd.mapPartitions(rows => Iterator(Fingerprint.of(schema, rows)))
        .collect().foldLeft(Fingerprint.empty)(_ + _)
    }
  }

  def readExpected(file: Path): Map[String, Fingerprint] =
    Files.readAllLines(file).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, fp) = l.split("\t"); n -> Fingerprint.parse(fp)
    }.toMap

  def run(a: Args, jvmStartS: Double): Result = {
    val fns = graft.SparkEntry.queries
    val unknown = Queries.filterNot(fns.contains)
    require(unknown.isEmpty, s"not registered queries: $unknown")
    val expectedFile = a.expected.resolve(s"$Name.tsv")
    val expected = if (a.record) Map.empty[String, Fingerprint] else readExpected(expectedFile)
    val dir = a.work.resolve("tables").toString
    val (spark, setupS0) = Main.setUp(s => Gen.writeTables(s, dir, DataSeed, Scale))
    val h = new Harness(spark)
    val sc = h.sc
    val layers = h.layers
    val observed = mutable.Map.empty[String, Fingerprint]
    var attempted, failed = 0
    var reqId = 0
    val baseRdds = sc.getPersistentRDDs.size

    /** One request; returns its latency in seconds. With `traced`, the
      * phases are recorded as spans and the layers are accounted; with
      * `sampleHeap`, the heap is collected before the request and
      * sampled once its result is consumed, before the drain. */
    def request(name: String, counted: Boolean, traced: Boolean,
                sampleHeap: Boolean = false): Double = {
      reqId += 1
      if (sampleHeap) System.gc()
      val phase = new Phases
      val gc0 = Heap.gcSeconds
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var persisted, cachedBytes = 0L
      var df: DataFrame = null
      val outcome = try {
        df = phase("build")(fns(name)(spark, dir))
        phase("plan")(df.queryExecution.executedPlan)
        val fp = phase("execute")(consume(df))
        if (sampleHeap) Heap.sample()
        if (traced) {
          persisted = sc.getPersistentRDDs.size - baseRdds
          cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        }
        Right(fp)
      } catch { case e: Throwable => Left(e) }
      finally phase("drain") { graft.CacheScope.drain(); spark.catalog.clearCache() }
      val latency = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      val leaked = sc.getPersistentRDDs.size - baseRdds
      if (leaked > 0) System.err.println(s"[graftbench] $name left $leaked RDDs persisted")
      val ok = outcome match {
        case Left(e) =>
          System.err.println(s"[graftbench] $name failed: $e")
          false
        case Right(fp) =>
          val prior = expected.get(name).orElse(observed.get(name))
          observed.getOrElseUpdate(name, fp)
          if (prior.exists(_ != fp)) {
            System.err.println(s"[graftbench] $name fingerprint ${fp.render} != ${prior.get.render}")
            false
          } else true
      }
      if (counted) { attempted += 1; if (!ok) failed += 1 }
      if (traced) {
        val spans = h.record(reqId, name, t0, t1, phase)
        def phaseS(l: String) = spans.filter(_.name == l).map(_.dur).sum / 1000.0
        layers.add("queries.build_s", phaseS("build"))
        layers.add("plans.plan_s", phaseS("plan"))
        layers.add("CacheScope.drain_s", phaseS("drain"))
        layers.add("CacheScope.persisted_rdds", persisted)
        layers.add("CacheScope.cached_bytes", cachedBytes)
        layers.add("CacheScope.leaked_rdds", leaked)
        layers.add("driver.gc_s", Heap.gcSeconds - gc0)
        outcome.foreach(fp => layers.add("rows_out", fp.rows))
        if (df != null && outcome.isRight) {
          val audit = graft.plans.PlanAudit.of(df)
          layers.add("plans.exchanges", audit.exchanges)
          layers.add("plans.sort_merge_joins", audit.sortMergeJoins)
          layers.add("plans.broadcast_joins", audit.broadcastHashJoins)
          layers.add("plans.pushed_scans", audit.scansWithPushedFilters)
          layers.add("plans.scans", audit.scans)
        }
      }
      latency
    }

    // four passes: pass times still fall by a fifth from the third pass
    // to the fifth while the JIT compiles what the first ones made hot.
    // The last one also samples the heap inside every request.
    val w0 = System.nanoTime()
    (0 until 4).foreach { p =>
      Queries.foreach(n => request(n, counted = false, traced = false, sampleHeap = p == 3))
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[graftbench] warm-up passes: $warmS%.2f s")
    val setupS = jvmStartS + setupS0 + warmS

    /** Whole passes, each visiting every report once in a seeded order. */
    def measure(traced: Boolean, firstPass: Int): (Seq[Double], Seq[Double]) =
      h.measure(a.seconds, traced, Main.MinUnits, Main.MinRequests) { k =>
        val p0 = System.nanoTime()
        val lats = Gen.passOrder(a.seed, firstPass + k, Queries).map(n => request(n, true, traced))
        ((System.nanoTime() - p0) / 1e9, lats)
      }

    val result = if (!a.trace) {
      val (walls, lats) = measure(traced = false, 0)
      Result(failed == 0, attempted, failed, Metrics.endToEnd(setupS, walls, lats))
    } else {
      val (plain, _) = measure(traced = false, 0)
      val (traced, _) = measure(traced = true, 1000)
      h.trace.writeJson(a.work.resolve("spans.jsonl"))
      val l = layers
      val values = Metrics.execValues(l) ++ Map(
        "queries.build_s" -> l.mean("queries.build_s"),
        "queries.build_jobs" -> l.mean("queries.build_jobs"),
        "queries.build_result_bytes" -> l.mean("queries.build_result_bytes"),
        "plans.plan_s" -> l.mean("plans.plan_s"),
        "plans.exchanges" -> l.mean("plans.exchanges"),
        "plans.sort_merge_joins" -> l.mean("plans.sort_merge_joins"),
        "plans.broadcast_joins" -> l.mean("plans.broadcast_joins"),
        "plans.pushed_scan_frac" -> l.ratio("plans.pushed_scans", "plans.scans"),
        "Tables.rows_scanned_per_row_out" -> l.ratio("Tables.scan_rows", "rows_out"),
        "CacheScope.drain_s" -> l.mean("CacheScope.drain_s"),
        "trace.overhead_frac" -> (Stats.median(traced) / Stats.median(plain) - 1))
      Result(failed == 0, attempted, failed, Metrics.perLayerMetrics(values))
    }
    if (a.record) {
      Files.writeString(expectedFile, Queries.sorted
        .map(n => s"$n\t${observed(n).render}\n").mkString)
    }
    spark.stop()
    result
  }
}
