package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Ingest
import graft.streaming.StreamingJobs
import graftbench.Gen.Exam
import graftbench.Main.{Args, Result}

/** mart_refresh: the migrate path. Set-up publishes an exam-result mart
  * with one initial `applyMigrateBatch`. Each cycle then writes a seeded
  * change batch (about 1% of the mart: resubmissions, new exams,
  * tombstones and a few malformed lines) as CSV, ingests and validates
  * it, migrates the valid rows into the mart, expires old snapshots
  * every few batches, and serves reports over `readMartLatest`. The
  * benchmark keeps the expected mart in memory and checks every report
  * against it. */
object MartWorkload {
  val InitialExams = 20000
  val BatchSize = 200
  val Malformed = 5
  val ExpireEvery = 4
  val ReadsPerCycle = 4
  val Buckets = 16
  val Keys = Seq("exam_id")
  val Tag = "bench"
  val Columns: Seq[String] = Gen.examSchema.fieldNames.filterNot(_ == "deleted").toSeq

  def examRow(e: Exam): Row =
    Row(e.examId, e.studentId, e.asmtId, e.schoolId, e.score, e.version, e.deleted)

  def examDf(spark: SparkSession, exams: Seq[Exam]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(exams.map(examRow): _*), Gen.examSchema)

  def migrate(batch: DataFrame, batchNo: Long, root: String): Unit =
    StreamingJobs.applyMigrateBatch(batch, batchNo, Tag, root, Keys, "version", "score", Buckets)

  /** The live exams, with O(1) uniform picks and per-school totals. */
  final class Model(initial: Seq[Exam]) {
    val byId = mutable.HashMap.empty[Long, Exam]
    val ids = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    val count = new Array[Long](Gen.schools)
    val scoreSum = new Array[Long](Gen.schools)
    var nextId: Long = 0
    initial.foreach(apply)

    def apply(e: Exam): Unit = {
      byId.get(e.examId).foreach { old =>
        count(old.schoolId) -= 1; scoreSum(old.schoolId) -= old.score
      }
      nextId = math.max(nextId, e.examId + 1)
      if (e.deleted) {
        byId.remove(e.examId)
        pos.remove(e.examId).foreach { i =>
          val last = ids.remove(ids.size - 1)
          if (i < ids.size) { ids(i) = last; pos(last) = i }
        }
      } else {
        if (!byId.contains(e.examId)) { pos(e.examId) = ids.size; ids += e.examId }
        byId(e.examId) = e
        count(e.schoolId) += 1; scoreSum(e.schoolId) += e.score
      }
    }
  }

  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq

  def run(a: Args, jvmStartS: Double): Result = {
    val initial = Gen.initialExams(a.seed, InitialExams)
    val root = a.work.resolve("mart").toString
    val (spark, setupS0) = Main.setUp(s => migrate(examDf(s, initial), 0, root))
    val batches = Files.createDirectories(a.work.resolve("batches"))
    val h = new Harness(spark)
    val sc = h.sc
    val layers = h.layers
    val model = new Model(initial)
    val accepted = mutable.ArrayBuffer.empty[Exam]
    var attempted, failed = 0
    var rejectedTotal, plantedTotal = 0L
    var batchNo = 0

    def check(what: String, ok: Boolean, detail: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[graftbench] $what: $detail") }
    }

    /** Run `body`, counting a throw as a failed request. */
    def guarded[T](what: String)(body: => T): Option[T] =
      try Some(body) catch {
        case e: Throwable =>
          attempted += 1; failed += 1
          System.err.println(s"[graftbench] $what failed: $e"); None
      }

    /** One cycle; returns its wall time and its read latencies (s).
      * With `sampleHeap`, the heap is collected before the cycle and
      * sampled after the ingest, the migrate and every read. */
    def cycle(traced: Boolean, sampleHeap: Boolean = false): (Double, Seq[Double]) = {
      batchNo += 1
      val b = Gen.batch(a.seed, batchNo, model.byId, model.ids.toIndexedSeq, model.nextId,
        BatchSize, Malformed)
      val csv = batches.resolve(s"b$batchNo.csv")
      Files.writeString(csv, (Gen.examSchema.fieldNames.mkString(",") +: b.lines)
        .mkString("", "\n", "\n"))
      plantedTotal += b.malformed
      if (sampleHeap) System.gc()
      val phase = new Phases
      def sampled[T](v: T): T = { if (sampleHeap) Heap.sample(); v }
      val t0 = System.currentTimeMillis()
      val c0 = System.nanoTime()
      val rejected = guarded(s"batch $batchNo ingest") {
        phase("ingest") {
          val (valid, rejects) = Ingest.validationSplit(
            Ingest.readCsv(spark, csv.toString, Gen.examSchema))
          val n = rejects.count()
          (valid, n)
        }
      }.map(sampled).flatMap { case (valid, n) =>
        guarded(s"batch $batchNo migrate") {
          phase("migrate") { migrate(valid, batchNo, root); spark.catalog.clearCache() }
          sampled(n)
        }
      }
      val refreshS = (System.nanoTime() - c0) / 1e9
      rejected.foreach { n =>
        rejectedTotal += n
        check(s"batch $batchNo rejects", n == b.malformed, s"$n rejected, ${b.malformed} planted")
        b.changes.foreach(model.apply)
        accepted ++= b.changes
      }
      if (batchNo % ExpireEvery == 0) guarded(s"batch $batchNo expire") {
        phase("expire")(StreamingJobs.expireMartSnapshots(spark, root, 0))
      }
      val r = new scala.util.Random(a.seed * 31 + batchNo)
      val reads = (0 until ReadsPerCycle).map { k =>
        val n0 = System.nanoTime()
        if (k % 2 == 0) {
          val id = b.changes(r.nextInt(b.changes.size)).examId
          guarded(s"lookup $id") {
            val rows = sampled(phase("read")(StreamingJobs.readMartLatest(spark, root).get
              .filter(col("exam_id") === id).select(Columns.map(col): _*).collect()))
            val want = model.byId.get(id).map(e => examRow(e).toSeq.init).toSeq
            check(s"lookup $id", rows.map(_.toSeq).toSeq == want, s"${rows.toSeq} != $want")
          }
        } else guarded("school report") {
          val rows = sampled(phase("read")(StreamingJobs.readMartLatest(spark, root).get
            .groupBy("school_id").agg(count(lit(1)), sum("score")).collect()))
          val got = rows.map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
          val want = (0 until Gen.schools).filter(model.count(_) > 0)
            .map(s => (s, (model.count(s), model.scoreSum(s)))).toMap
          check("school report", got == want, s"$got != $want")
        }
        (System.nanoTime() - n0) / 1e9
      }
      val wall = (System.nanoTime() - c0) / 1e9
      if (traced) {
        val spans = h.record(batchNo, s"cycle$batchNo", t0, System.currentTimeMillis(), phase)
        def phaseS(l: String) = spans.filter(_.name == l).map(_.dur).sum / 1000.0
        layers.add("sources.ingest_s", phaseS("ingest"))
        layers.add("streaming.migrate_s", phaseS("migrate"))
        layers.add("streaming.read_s", phaseS("read"))
        if (spans.exists(_.name == "expire")) {
          layers.add("streaming.expire_s", phaseS("expire")); layers.add("expires", 1)
        }
        val files = parquetFiles(Paths.get(root).resolve(StreamingJobs.snapshotName(Tag, batchNo)))
        layers.add("streaming.files_written", files.size)
        layers.add("streaming.bytes_written", files.map(Files.size).sum)
        layers.add("streaming.buckets_touched",
          files.map(_.getParent.getFileName.toString).distinct.size)
        layers.add("accepted_bytes", b.changes.map(_.csv.length + 1).sum)
        layers.sample("streaming.refresh_s", refreshS)
        layers.add("CacheScope.leaked_rdds", sc.getPersistentRDDs.size)
      }
      (wall, reads)
    }

    def measure(traced: Boolean): (Seq[Double], Seq[Double]) =
      h.measure(a.seconds, traced, Main.MinUnits, Main.MinRequests)(_ => cycle(traced))

    // four cycles warm the CSV, validation, migrate and read paths:
    // the first takes twice as long as the fourth. The last one also
    // samples the heap inside the cycle.
    val w0 = System.nanoTime()
    (0 until 4).foreach(k => cycle(traced = false, sampleHeap = k == 3))
    val warmS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[graftbench] warm-up cycles: $warmS%.2f s")
    val setupS = jvmStartS + setupS0 + warmS

    val (walls, reads) = measure(traced = false)
    val overhead = if (!a.trace) 0.0
      else Stats.median(measure(traced = true)._1) / Stats.median(walls) - 1

    // end state: the published mart equals latest-wins over the initial
    // exams plus every accepted change, computed here independently
    StreamingJobs.expireMartSnapshots(spark, root, 0)
    val mart = StreamingJobs.readMartLatest(spark, root).get.select(Columns.map(col): _*)
    val want = graft.operators.Operators.migrateWithDeletes(
      examDf(spark, initial), examDf(spark, accepted.toSeq), Keys.map(col),
      Seq(col("version").desc, col("score").desc)).select(Columns.map(col): _*)
    val got = ReportsWorkload.consume(mart)
    val exp = ReportsWorkload.consume(want)
    check("end state", got == exp && got.rows == model.byId.size,
      s"mart ${got.render}, expected ${exp.render}, model ${model.byId.size} rows")
    check("rejected rows", rejectedTotal == plantedTotal,
      s"$rejectedTotal rejected, $plantedTotal planted")

    val liveFiles = StreamingJobs.readManifest(spark, root).get.buckets.values.toSeq.distinct
      .flatMap(d => parquetFiles(Paths.get(root).resolve(d)))
    val liveDirs = Files.list(Paths.get(root)).iterator().asScala
      .count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("v_"))
    val result = if (!a.trace) {
      Result(failed == 0, attempted, failed, Metrics.endToEnd(setupS, walls, reads))
    } else {
      h.trace.writeJson(a.work.resolve("spans.jsonl"))
      val l = layers
      val values = Metrics.execValues(l) ++ Map(
        "trace.overhead_frac" -> overhead,
        "sources.ingest_s" -> l.mean("sources.ingest_s"),
        "sources.rows_rejected" -> rejectedTotal.toDouble,
        "streaming.migrate_s" -> l.mean("streaming.migrate_s"),
        "streaming.buckets_touched" -> l.mean("streaming.buckets_touched"),
        "streaming.bytes_written" -> l.mean("streaming.bytes_written"),
        "streaming.files_written" -> l.mean("streaming.files_written"),
        "streaming.expire_s" -> l.ratio("streaming.expire_s", "expires"),
        "streaming.live_dirs" -> liveDirs.toDouble,
        "streaming.read_s" -> l.sum("streaming.read_s") / (l.requests * ReadsPerCycle),
        "streaming.refresh_p50_s" -> l.medianOf("streaming.refresh_s"),
        "streaming.write_amp" -> l.ratio("streaming.bytes_written", "accepted_bytes"),
        "streaming.bytes_per_live_row" -> liveFiles.map(Files.size).sum.toDouble / model.byId.size)
      Result(failed == 0, attempted, failed, Metrics.perLayerMetrics(values))
    }
    spark.stop()
    result
  }
}
