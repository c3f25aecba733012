package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Tables.readParquet: a cached schema is the one Spark infers for the
  * same files, a cached call launches no Spark job, and what the cache
  * does not cover takes the plain read. */
class ReadParquetSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_rp").toString

  /** A 16-bucket `_b`-partitioned snapshot, laid out like a mart's. */
  private lazy val snapshot: String = {
    val root = s"${tmp()}/v_0"
    spark.range(64)
      .select(col("id"), (col("id") % 16).cast("int").as("_b"),
        col("id").cast("string").as("name"))
      .write.partitionBy("_b").parquet(root)
    root
  }

  /** The snapshot's bucket directories, in the mart reader's order. */
  private def bucketDirs: Seq[String] = (0 until 16).map(b => s"$snapshot/_b=$b").sorted

  private def inputs: Seq[Seq[String]] =
    Tables.all.map(t => Seq(s"$sfDir/$t.parquet")) ++ Seq(Seq(snapshot), bucketDirs)

  test("first and cached calls give the schema spark.read.parquet infers") {
    val s = spark.newSession()
    inputs.foreach { paths =>
      val inferred = s.read.parquet(paths: _*).schema
      assert(Tables.readParquet(s, paths: _*).schema == inferred, paths)
      assert(Tables.readParquet(s, paths: _*).schema == inferred, paths)
    }
    val rows = s.read.parquet(bucketDirs: _*).collect().toSet
    assert(Tables.readParquet(s, bucketDirs: _*).collect().toSet == rows)
  }

  test("a cached call launches no Spark job") {
    val s = spark.newSession()
    inputs.foreach { paths =>
      assert(jobsDuring(Tables.readParquet(s, paths: _*).schema) >= 1, s"first call $paths")
      assert(jobsDuring(Tables.readParquet(s, paths: _*).schema) == 0, s"cached call $paths")
    }
  }

  test("the session's parquet confs are part of the key") {
    // events.ts is parquet TIMESTAMP(MICROS) without UTC adjustment:
    // TimestampNTZType by default, TimestampType when NTZ inference is off
    val events = s"$sfDir/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val shared = Tables.readParquet(spark, events).schema("ts").dataType
    assert(shared == spark.read.parquet(events).schema("ts").dataType)
    assert(shared == TimestampNTZType)
    val s = spark.newSession()
    s.conf.set(key, "false")
    Seq.fill(2)(assert(Tables.readParquet(s, events).schema("ts").dataType == TimestampType))
    assert(Tables.readParquet(spark, events).schema("ts").dataType == shared)
    s.conf.unset(key)
    assert(Tables.readParquet(s, events).schema("ts").dataType == shared)
  }

  test("a missing or glob path fails exactly like the plain read") {
    val missing = s"${tmp()}/absent.parquet"
    val glob = s"${tmp()}/none-*.parquet"
    Seq(Seq(missing), Seq(glob), Seq(s"$sfDir/region.parquet", missing)).foreach { paths =>
      val plain = intercept[Exception](spark.read.parquet(paths: _*))
      val viaHelper = intercept[Exception](Tables.readParquet(spark, paths: _*))
      assert(viaHelper.getClass == plain.getClass, paths)
      assert(viaHelper.getMessage == plain.getMessage, paths)
    }
    val matching = s"$sfDir/regio?.parquet"
    assert(Tables.readParquet(spark, matching).schema == spark.read.parquet(matching).schema)
  }

  test("the schema cache keeps at most SchemaCacheEntries path lists per session") {
    val s: SparkSession = spark.newSession()
    val root = tmp()
    s.range(1).write.parquet(s"$root/src")
    val file = Files.list(Paths.get(root, "src")).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    (0 until Tables.SchemaCacheEntries + 8).foreach { i =>
      val d = Files.createDirectories(Paths.get(root, s"d$i"))
      Files.copy(file, d.resolve(file.getFileName))
      Tables.readParquet(s, d.toString)
      assert(Tables.schemaCacheSize(s) <= Tables.SchemaCacheEntries)
    }
    assert(Tables.schemaCacheSize(s) == Tables.SchemaCacheEntries)
  }
}
