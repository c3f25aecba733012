package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.queries.Pipeline
import graft.Tables

/** Persisted graph ANN index — s16/s20's deployment story (build
  * once, probe many), completing the persisted-index ladder:
  * RangeIvfIndex holds the inverted lists, PqIndex the compressed
  * codes, GraphIndex the neighbor graph (the index family HNSW-class
  * systems serialize as adjacency lists).
  *
  * Layout under one root:
  *   - `edges/`: (a_id, b_id, cos) partitioned by `cell` = the
  *     a-node's PRIMARY coarse cell — maintenance rewrites touch only
  *     the affected cells' files, and at warehouse scale the hop
  *     joins co-locate on a_id within a cell.
  *   - `assigned/`: (vec_id, embedding, prim) partitioned by
  *     `cluster` — the 2-probe memberships maintenance derives
  *     candidate pools from (partition-pruned to touched cells).
  *   - `pivots/`: (cluster, pid, p_vec) — per-cell entry points,
  *     k ≈ √n rows, broadcast at probe time.
  *   - `cells/`: (cluster, cv) — ALL k frozen coarse centroids, so
  *     appends assign arrivals identically to the build.
  *
  * MAINTENANCE (round 10 — the gap round 9 documented): the naive
  * frozen-fit append argument does not carry over to graphs (inserts
  * rewire existing neighborhoods), so [[append]] re-derives exactly
  * the neighborhoods an insert can touch (see
  * Pipeline.graphAppendFrames for the proof) and the result EQUALS
  * the frozen-fit one-shot build over base ∪ delta. [[delete]] is a
  * tombstone append: probes keep routing through deleted nodes (their
  * out-edges keep the graph connected) but never score them.
  * [[compact]] restores the frozen-fit build over the survivors,
  * re-topping affected neighborhoods exactly. A full REFIT (new
  * centroids) remains a rebuild-schedule decision, like quantizer
  * refits everywhere else in the ladder.
  */
object GraphIndex {

  def write(s: SparkSession, emb: DataFrame, n: Long, path: String): Unit = {
    import s.implicits._
    val kk = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = Pipeline.kmeansAssignDf(
      emb.select(col("vec_id"), col("embedding")), kk, n)._2
    val (assigned, edges, piv) = Pipeline.graphBuildFrom(emb, cents)
    assigned.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assigned")
    edges.write.mode("overwrite").partitionBy("cell").parquet(s"$path/edges")
    piv.write.mode("overwrite").parquet(s"$path/pivots")
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cluster", "cv").write.mode("overwrite").parquet(s"$path/cells")
  }

  /** The frozen centroid matrix (k rows — bounded driver collect). */
  private def readCents(s: SparkSession, path: String): Array[Array[Double]] =
    Tables.readParquet(s, s"$path/cells")
      .select(col("cluster"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1).map(_._2.toArray)

  /** Delta-append under the FROZEN centroids. The maintained index
    * equals the frozen-fit one-shot build over base ∪ delta
    * (Pipeline.graphAppendFrames); only the touched `cell=`/`cluster=`
    * partitions are rewritten (dynamic partition overwrite), plus the
    * k-row pivot frame. */
  def append(s: SparkSession, path: String, delta: DataFrame): Unit = {
    import s.implicits._
    if (delta.isEmpty) return
    val cents = readCents(s, path)
    val assigned = Tables.readParquet(s, s"$path/assigned")
    val edges = Tables.readParquet(s, s"$path/edges")
    val piv = Tables.readParquet(s, s"$path/pivots")
    val (deltaAsg, rewritten, _, mergedPiv) =
      Pipeline.graphAppendFrames(assigned, edges, piv, delta, cents)
    // k-row pivot frame stages through the driver; the rewritten edge
    // partitions stage through a sibling dir (their plan reads the
    // directory being replaced)
    val pivStaged = mergedPiv.collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
    IndexIo.stagedDynamicOverwrite(s, rewritten, "cell",
      s"$path/edges", s"$path/edges_staged")
    // reads only the delta + the k-row centroid matrix — safe to
    // append directly
    deltaAsg.write.mode("append").partitionBy("cluster")
      .parquet(s"$path/assigned")
    pivStaged.toDF("cluster", "pid", "p_vec")
      .write.mode("overwrite").parquet(s"$path/pivots")
    ()
  }

  /** Tombstone deletes: append the doomed ids under `tombstones/`.
    * Probes keep ROUTING through tombstoned nodes (their out-edges
    * keep the graph connected — dropping them from the walk would
    * orphan neighborhoods until compaction) but exclude them from the
    * scored frontier, so they are never returned. Zero per-batch
    * maintenance; recall decay as tombstones accumulate is what
    * [[compact]] repairs. `ids` must expose cand_id. */
  def delete(s: SparkSession, path: String, ids: DataFrame): Unit =
    ids.select(col("cand_id")).write.mode("append")
      .parquet(s"$path/tombstones")

  /** Compaction: restore EXACTLY the frozen-fit build over the
    * survivors (Pipeline.graphCompactFrames) — affected
    * neighborhoods re-top over their surviving pools, unaffected
    * edges carry over bit-identically, pivots re-derive for cells
    * that lost members. Only affected partitions rewrite; tombstones
    * drop at the end. */
  def compact(s: SparkSession, path: String): Unit = {
    import s.implicits._
    if (!IndexIo.exists(s, s"$path/tombstones")) return
    val assigned = Tables.readParquet(s, s"$path/assigned")
    val edges = Tables.readParquet(s, s"$path/edges")
    val piv = Tables.readParquet(s, s"$path/pivots")
    val tomb = Tables.readParquet(s, s"$path/tombstones")
    if (tomb.isEmpty) { IndexIo.delete(s, s"$path/tombstones"); return }
    val (surv, rewritten, _, affCells, newPiv) =
      Pipeline.graphCompactFrames(assigned, edges, piv, tomb)
    val pivStaged = newPiv.collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
    // both rewrites read the directories being replaced — stage each
    // fully on disk first, then swap partitions in
    IndexIo.stagedDynamicOverwrite(s, rewritten, "cell",
      s"$path/edges", s"$path/edges_staged")
    IndexIo.stagedDynamicOverwrite(s,
      graft.QUtil.pruneCells(surv, "cluster", affCells), "cluster",
      s"$path/assigned", s"$path/assigned_staged")
    pivStaged.toDF("cluster", "pid", "p_vec")
      .write.mode("overwrite").parquet(s"$path/pivots")
    IndexIo.delete(s, s"$path/tombstones")
    ()
  }

  /** Corpus vectors minus tombstoned ids — the SCORING side of a
    * probe (routing uses the edges frame untouched). */
  private def liveEmb(s: SparkSession, path: String, emb: DataFrame): DataFrame =
    if (!IndexIo.exists(s, s"$path/tombstones")) emb
    else emb.join(
      org.apache.spark.sql.functions.broadcast(
        Tables.readParquet(s, s"$path/tombstones").withColumnRenamed("cand_id", "vec_id")),
      Seq("vec_id"), "left_anti")

  /** Fixed-horizon (s16) graph search over the loaded frames.
    * `queries` must expose (q_id, q_vec); `emb` supplies exact
    * vectors for the frontier scoring. */
  def probe(s: SparkSession, path: String, emb: DataFrame,
            queries: DataFrame, k: Int): DataFrame =
    Pipeline.graphProbe(
      Tables.readParquet(s, s"$path/edges").select(col("a_id"), col("b_id")),
      Tables.readParquet(s, s"$path/pivots"),
      queries.select(col("q_id"), col("q_vec")), liveEmb(s, path, emb), k)

  /** Greedy beam (s20) search over the loaded frames. */
  def probeBeam(s: SparkSession, path: String, emb: DataFrame,
                queries: DataFrame, k: Int, beam: Int = 4,
                rounds: Int = 3): DataFrame =
    Pipeline.beamProbe(
      Tables.readParquet(s, s"$path/edges").select(col("a_id"), col("b_id")),
      Tables.readParquet(s, s"$path/pivots"),
      queries.select(col("q_id"), col("q_vec")), liveEmb(s, path, emb),
      k, beam, rounds)
}
