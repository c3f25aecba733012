package graft

import org.apache.spark.sql.DataFrame

/** Per-driver-thread registry of persisted intermediates.
  *
  * Several operators persist an intermediate frame that the RETURNED
  * (lazy) DataFrame reads more than once — d03/d08's inverted index,
  * t09's per-doc gram counts, t10's tokenization. The query function
  * cannot unpersist before returning (the caller has not materialized
  * the result yet), so the frames are registered here and released by
  * the caller once the result is on disk / consumed:
  * `CacheScope.drain()`. [[Verify]] and [[Bench]] drain after every
  * query; a long-lived session embedding the library should do the
  * same, otherwise cached blocks accumulate until eviction pressure.
  *
  * The registry is thread-local: query construction happens on the
  * driver thread that calls the query function (persist() is lazy, so
  * registration is part of plan construction), and that same thread
  * drains once the result is consumed. Scoping per thread means two
  * concurrent drivers sharing one SparkSession cannot unpersist each
  * other's intermediates mid-query — a process-global queue would let
  * one driver's drain() silently force the other's self-join inputs
  * to recompute. Contract: drain() from the thread that built the
  * query; frames registered on a thread that never drains stay cached
  * until unpersisted elsewhere or evicted.
  */
object CacheScope {
  // Inheritable + concurrent (r16): queries may fan independent
  // sub-plans out to short-lived driver threads (guide §2.6 — s11's
  // rungs, s25's geometries); a pool thread created inside the query
  // inherits the SAME queue object, so frames it registers drain with
  // the parent query's drain(). The queue is concurrent because two
  // branch threads can register at once. The per-driver-thread
  // isolation contract is unchanged: inheritance only flows to
  // threads the query itself creates.
  private val live = new InheritableThreadLocal[java.util.concurrent.ConcurrentLinkedQueue[() => Unit]] {
    override def initialValue(): java.util.concurrent.ConcurrentLinkedQueue[() => Unit] =
      new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]
    // the CHILD shares the parent's queue (default childValue copies
    // the reference already; stated explicitly for the contract)
    override def childValue(parent: java.util.concurrent.ConcurrentLinkedQueue[() => Unit]):
        java.util.concurrent.ConcurrentLinkedQueue[() => Unit] = parent
  }

  /** Persist `df` and register it for this thread's next [[drain]]. */
  def cached(df: DataFrame): DataFrame = {
    df.persist(); live.get.add(() => df.unpersist()); df
  }

  /** Cut `df`'s lineage with a materialized checkpoint and register
    * the result's blocks for this thread's next [[drain]].
    *
    * Durability is a config switch (nothing else changes — same plan
    * shape, a LogicalRDD scan either way): when the context has a
    * checkpoint dir (`sc.setCheckpointDir` /
    * `spark.checkpoint.dir`), the cut is a RELIABLE `checkpoint()` —
    * on a cluster, losing an executor loses nothing because the cut
    * frame lives in the checkpoint dir's replicated store. Without a
    * dir (local bench/verify) it is `localCheckpoint()`: executor-
    * local blocks, no write amplification. `spark.graft.checkpoint.
    * reliable=true|false` overrides the auto-dispatch either way.
    *
    * Unlike `cached`, what backs a cut frame is NOT in the SQL cache
    * (clearCache() cannot see it), and nothing else frees it in time:
    * local blocks go only when GC + ContextCleaner reach the RDD, and
    * reliable checkpoint files are never removed (the cleaner leaves
    * them unless `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is set). So the cut registers its release for this thread's next
    * [[drain]]: the local blocks are unpersisted, the reliable
    * checkpoint's `rdd-<id>` directory is deleted. One query's cut
    * frames cannot then pressure the next query's memory or disk
    * (r16 advice). */
  def cut(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val reliable =
      df.sparkSession.conf.get("spark.graft.checkpoint.reliable", "auto") match {
        case "true" => true
        case "false" => false
        case _ => sc.getCheckpointDir.nonEmpty
      }
    val out = if (reliable) df.checkpoint() else df.localCheckpoint()
    out.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val rdd = l.rdd
        val files = rdd.getCheckpointFile.map(new org.apache.hadoop.fs.Path(_))
        val conf = sc.hadoopConfiguration
        live.get.add(() => files match {
          case Some(dir) => dir.getFileSystem(conf).delete(dir, true)
          case None => rdd.unpersist(blocking = false)
        })
      case _ => // not a materialized scan (unexpected); nothing to free
    }
    out
  }

  /** Fixed pool for fanning a query's independent sub-plans out to
    * driver threads. Two fixes over a bare `newFixedThreadPool` (r16
    * advice): the parent's registry is materialized BEFORE the first
    * thread spawns (InheritableThreadLocal copies at thread creation,
    * and pool threads are created at first submit — without the
    * touch, a pool-using query that is the first on a fresh thread
    * would hand its children a fresh queue whose frames never drain),
    * and the threads are daemons, so a branch that throws after the
    * query's error is swallowed cannot keep the JVM from exiting. */
  def pool(n: Int): java.util.concurrent.ExecutorService = {
    live.get // materialize the parent entry before any thread spawns
    java.util.concurrent.Executors.newFixedThreadPool(n,
      new java.util.concurrent.ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r); t.setDaemon(true); t
        }
      })
  }

  /** Unpersist every frame this thread registered since its last drain. */
  def drain(): Unit = {
    val q = live.get
    var f = q.poll()
    while (f != null) { f(); f = q.poll() }
  }
}
