package graft

import org.apache.spark.sql.functions._

import graft.operators.Operators

/** CacheScope.cut's durability dispatch (r17): localCheckpoint with
  * no checkpoint dir, reliable checkpoint() when the context has one
  * — same rows either way — and drain() releases the cut blocks or
  * deletes the reliable checkpoint files. */
class CheckpointSpec extends SparkSpec {
  test("cut is local without a checkpoint dir and reliable with one; rows identical") {
    val sc = spark.sparkContext
    import spark.implicits._
    val df = (1 to 100).toDF("x").withColumn("y", col("x") * 2)
    val localRows = CacheScope.cut(df).as[(Int, Int)].collect().sorted
    assert(localRows.map(_._1).sameElements(1 to 100))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    def files(): Long = java.nio.file.Files.walk(dir)
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    sc.setCheckpointDir(dir.toString)
    try {
      val rel = CacheScope.cut(df)
      assert(rel.as[(Int, Int)].collect().sorted.sameElements(localRows))
      // the reliable path wrote actual checkpoint files
      assert(files() > 0, "reliable cut should write to the checkpoint dir")
      CacheScope.drain()
      assert(files() == 0, "drain should delete the reliable cut's files")
      // a fixpoint operator that cuts every round stays exact under
      // the reliable path, and its drain leaves no checkpoint files
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
      val und = edges.union(edges.select(col("b"), col("a"))).toDF("src", "dst").cache()
      val comps = Operators.ccDistributed(und)
        .as[(Long, Long)].collect().toMap
      assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(files() > 0, "ccDistributed should cut through the checkpoint dir")
      CacheScope.drain()
      assert(files() == 0, "drain should delete every round's checkpoint")
    } finally {
      // setCheckpointDir is sticky for the JVM; pin the suites that
      // run after this one back to the (pre-spec) local behavior
      spark.conf.set("spark.graft.checkpoint.reliable", "false")
      CacheScope.drain()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("explicit reliable=false overrides a configured checkpoint dir") {
    import spark.implicits._
    // set by the previous test's finally (and asserted here so the
    // override path is the one exercised)
    assert(spark.conf.get("spark.graft.checkpoint.reliable") == "false")
    val df = (1 to 10).toDF("x")
    val out = CacheScope.cut(df)
    assert(out.as[Int].collect().sorted.sameElements(1 to 10))
    CacheScope.drain()
  }
}
