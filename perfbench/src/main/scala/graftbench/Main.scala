package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One JVM runs one workload:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --expected <dir> [--record]
  *
  * `--work` is a scratch directory the caller deletes afterwards;
  * `--expected` holds the recorded output fingerprints; `--record`
  * rewrites them from this run instead of checking against them.
  * The last stdout line is the result JSON. */
object Main {
  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Measured units (report passes, refresh cycles) a run makes at
    * least; `wall_s` is their median. */
  val MinUnits = 6

  /** Requests a run measures at least, so the median latency has at
    * least ten samples beyond it. */
  val MinRequests: Int = Stats.samplesFor(0.5)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, expected: Path, record: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val trace = need("--trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      trace == "1", Paths.get(need("--work")), Paths.get(need("--expected")),
      argv.contains("--record"))
  }

  def newSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.props("graftbench.localDir"))
      .config("spark.sql.warehouse.dir", sys.props("graftbench.warehouseDir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The cold set-up: a fresh session, then `prepare` on it. Returns
    * the session and the seconds both took. */
  def setUp(prepare: SparkSession => Unit): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = newSession()
    prepare(spark)
    val s = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[graftbench] set-up: $s%.2f s")
    (spark, s)
  }

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]) {
    def json: String = {
      def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
      val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {${ms.mkString(", ")}}}"""
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    Files.createDirectories(a.work)
    sys.props("graftbench.localDir") = a.work.resolve("spark-local").toString
    sys.props("graftbench.warehouseDir") = a.work.resolve("warehouse").toString
    val result = a.workload match {
      case ReportsWorkload.Name => ReportsWorkload.run(a, jvmStartS)
      case "mart_refresh" => MartWorkload.run(a, jvmStartS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println(result.json)
  }
}
