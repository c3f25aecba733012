package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, explode}

import graft.queries.Pipeline

/* (lifecycle ops use a couple more functions) */
import org.apache.spark.sql.functions.element_at
import graft.Tables

/** Persisted product-quantization index — the s04/s05 deployment
  * story (build once, probe many), extending the RangeIvfIndex
  * pattern to the compressed rungs of the ANN ladder.
  *
  * Layout under one root:
  *   - `codes/`: (cand_id, cluster, code0..code{M−1}) — the corpus as
  *     M one-byte codes plus its coarse cell; partitioned BY cluster
  *     so an IVF-PQ probe prunes to the probed lists' files. This is
  *     the 32×-compressed frame a 100-TB corpus can actually hold.
  *   - `cells/`: (cluster, cv, bmin) — coarse centroids (the s07
  *     cells contract; bmin rides along for range probes).
  *   - `codebooks/`: (m, code, cv) — M × ksub subspace centroids.
  *
  * Probes skip BOTH fits (coarse quantizer + PQ codebooks), the
  * corpus assignment pass, and the encode pass: per-query work is the
  * ADC scan + the constant-size exact re-rank. Codebooks and
  * centroids reload as driver matrices (k ≈ √n and M·ksub rows —
  * bounded, the same scale as the fit collects they replace).
  */
object PqIndex {

  private def toMatrix(rows: Array[(Int, Int, Seq[Double])]): Seq[Seq[Seq[Double]]] = {
    val byM = rows.groupBy(_._1)
    (0 until byM.size).map { m =>
      byM(m).sortBy(_._2).map(_._3.toIndexedSeq).toIndexedSeq
    }
  }

  /** Fit coarse quantizer + PQ codebooks over (vec_id, embedding),
    * encode the corpus, persist all three frames. `n` from parquet
    * footer metadata in deployment — no scan. */
  def write(s: SparkSession, emb: DataFrame, n: Long, path: String): Unit = {
    import s.implicits._
    val k = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val (assigned, cents) = Pipeline.kmeansAssignDf(emb, k, n)
    val (sub, codebooks) = Pipeline.pqCodebooksDf(emb, n, numSub = 8, ksub = 16)
    val coded = assigned.filter(col("vec_id") >= 10)
      .select(Seq(col("vec_id").as("cand_id"), col("cluster")) ++
        Pipeline.pqEncodeCols(codebooks, sub): _*)
    coded.write.mode("overwrite").partitionBy("cluster").parquet(s"$path/codes")
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cluster", "cv")
      .write.mode("overwrite").parquet(s"$path/cells")
    codebooks.zipWithIndex
      .flatMap { case (cb, m) => cb.zipWithIndex.map { case (v, c) => (m, c, v) } }
      .toDF("m", "code", "cv")
      .write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Load only the FIT artifacts (coarse centroid matrix, codebooks
    * matrix) — bounded driver collects by construction. The append
    * path uses this so maintenance provably never touches the codes
    * frame. */
  def readFit(s: SparkSession, path: String):
      (Array[Array[Double]], Seq[Seq[Seq[Double]]]) = {
    val cents = Tables.readParquet(s, s"$path/cells")
      .select(col("cluster"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1).map(_._2.toArray)
    val cbs = toMatrix(Tables.readParquet(s, s"$path/codebooks")
      .select(col("m"), col("code"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))))
    (cents, cbs)
  }

  /** Load (codes frame, coarse centroid matrix, codebooks matrix). */
  def read(s: SparkSession, path: String):
      (DataFrame, Array[Array[Double]], Seq[Seq[Seq[Double]]]) = {
    val (cents, cbs) = readFit(s, path)
    (Tables.readParquet(s, s"$path/codes"), cents, cbs)
  }

  /** Delta-append under FROZEN fits (s12's maintenance contract,
    * for the compressed rung): assign each arriving vector to its
    * nearest persisted coarse centroid and encode it with the
    * persisted codebooks — the index's own `read` artifacts, no
    * refit, no base rescan — then append the codes partition-wise.
    *
    * The exactness claim is frozen-fit parity, the right claim for a
    * LOSSY rung: a probe over the maintained index equals the same
    * probe over an index whose codes frame was produced by encoding
    * base ∪ delta with the base fit in one shot (the codes are a
    * deterministic per-vector function of the frozen centroids and
    * codebooks, so append-then-probe and encode-all-then-probe are
    * the same frame — IndexSpec pins both the code-level equality
    * against an independent driver-side argmin encoder and the
    * probe-level parity). A full REFIT would change the codes and
    * the recall point; that is a rebuild schedule decision, exactly
    * like RangeIvfIndex compaction. */
  def append(s: SparkSession, path: String, delta: DataFrame): Unit = {
    val (cents, cbs) = readFit(s, path)
    val sub = cbs.head.head.length
    // PqIndex.write persists ALL k coarse centroids 0..k−1 (not just
    // non-empty cells), so the NearestClusters slot IS the cluster id
    val coded = delta
      .withColumn("cluster", element_at(
        graft.functions.GraftColumns.nearestClusters(col("embedding"), cents, 1), 1))
      .select(Seq(col("vec_id").as("cand_id"), col("cluster")) ++
        Pipeline.pqEncodeCols(cbs, sub): _*)
    coded.write.mode("append").partitionBy("cluster").parquet(s"$path/codes")
  }

  /** Tombstone deletes (s13's claim, for the PQ rung): append the
    * doomed ids under `tombstones/`; probes anti-join them before
    * the ADC scan. Nothing else needs maintenance — PQ carries no
    * per-cell radii, and removing candidates from a top-`shortlist`
    * ranking can only promote survivors, never admit a wrong row
    * (the exact re-rank decides the final order either way), so the
    * probe equals the same probe over an index that never contained
    * the doomed vectors (IndexSpec). `ids` must expose cand_id. */
  def delete(s: SparkSession, path: String, ids: DataFrame): Unit =
    ids.select(col("cand_id")).write.mode("append")
      .parquet(s"$path/tombstones")

  /** Compaction for the PQ rung — pure file hygiene (there is no
    * metadata to re-tighten: PQ carries no radii): rewrite the codes
    * frame minus the tombstoned ids, drop the tombstone files.
    * Staged through a sibling directory, then swapped in via
    * IndexIo.swapIn (rename-aside, never delete-before-replace), so
    * no crash point destroys the only copy of the codes. Probes
    * before and after are spec-proven identical (IndexSpec). */
  def compact(s: SparkSession, path: String): Unit = {
    if (!IndexIo.exists(s, s"$path/tombstones")) return
    live(s, path, Tables.readParquet(s, s"$path/codes"))
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/codes_compact")
    IndexIo.swapIn(s, s"$path/codes", s"$path/codes_compact")
    IndexIo.delete(s, s"$path/tombstones")
  }

  /** The codes frame minus any tombstoned ids — through the Hadoop
    * FileSystem check shared with RangeIvfIndex, so tombstones are
    * honored on any store, not just local disk. */
  private def live(s: SparkSession, path: String, codes: DataFrame): DataFrame =
    IndexIo.minusTombstones(s, path, codes)

  /** Flat-PQ top-k over the persisted codes (s04's plan on loaded
    * frames): ADC shortlist + exact re-rank against `emb`. `queries`
    * must expose (q_id, q_vec). */
  def probeFlat(s: SparkSession, path: String, emb: DataFrame,
                queries: DataFrame, k: Int, shortlist: Int = 50): DataFrame = {
    val (codes, _, cbs) = read(s, path)
    val qs = queries.select(col("q_id"), col("q_vec"))
    val short = Pipeline.pqAdcShortlist(
      live(s, path, codes).drop("cluster").crossJoin(broadcast(qs)), cbs, shortlist)
    Pipeline.pqRerank(short, emb, qs, k)
  }

  /** IVF-PQ top-k over the persisted codes (s05's plan on loaded
    * frames): probe nProbe coarse lists, ADC within them, exact
    * re-rank. PartitionFilters prune the codes scan to the probed
    * lists' files. */
  def probeIvf(s: SparkSession, path: String, emb: DataFrame,
               queries: DataFrame, k: Int, nProbe: Int = 4,
               shortlist: Int = 50): DataFrame = {
    val (codes, cents, cbs) = read(s, path)
    val probes = queries
      .withColumn("cluster", explode(
        graft.functions.GraftColumns.nearestClusters(col("q_vec"), cents, nProbe)))
      .select(col("q_id"), col("q_vec"), col("cluster"))
    val short = Pipeline.pqAdcShortlist(
      live(s, path, codes).join(broadcast(probes), "cluster"), cbs, shortlist)
    Pipeline.pqRerank(short, emb, queries.select(col("q_id"), col("q_vec")), k)
  }
}
