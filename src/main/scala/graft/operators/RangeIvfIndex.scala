package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Persisted form of the s07 IVF range-search index (reference role:
  * the reusable vector index a warehouse deployment keeps next to the
  * embedding table, rather than re-deriving per query).
  *
  * Two parquet frames under one root:
  *   - `assigned/`: (cand_id, embedding, cluster) — the corpus with
  *     its quantizer cell; partitioned BY cluster so a probe that
  *     admits few cells prunes to few files (PartitionFilters, not a
  *     post-scan filter).
  *   - `cells/`: (cluster, cv, bmin) — one row per cell: centroid and
  *     angular radius (min member cosine). k ≈ √n rows total; always
  *     broadcast-sized.
  *
  * Build once with [[write]]; every later
  * [[probe]] skips the quantizer fit, the corpus assignment pass, and
  * the per-cell radius agg — the admission test plus the probe join
  * are the only per-query work. The probe emits exactly the
  * brute-force rows (the s07 spherical-triangle bound is a proof, not
  * a heuristic), so the index changes the cost, never the answer.
  */
object RangeIvfIndex {

  /** Fit + assign + radius-agg over an (vec_id, embedding) corpus and
    * persist the index under `path`. `n` is the corpus cardinality
    * (from parquet footer metadata in deployment — no scan). */
  def write(s: SparkSession, emb: DataFrame, n: Long, path: String): Unit = {
    val (cands, cellMeta) = graft.queries.Pipeline.rangeIvfIndex(s, emb, n)
    cands.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assigned")
    cellMeta.write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Load the two index frames. The assigned frame's scan carries the
    * cluster partition column; cells is broadcast-sized by design. */
  def read(s: SparkSession, path: String): (DataFrame, DataFrame) =
    (Tables.readParquet(s, s"$path/assigned"),
     Tables.readParquet(s, s"$path/cells"))

  /** Append a delta batch of (vec_id, embedding) vectors to a
    * persisted index WITHOUT a refit — the maintenance operation an
    * arriving-data deployment runs per batch (s12's claim, on disk):
    *
    *  - each delta vector is assigned to the nearest FROZEN centroid
    *    (one compiled NearestClusters pass over the delta; the k-row
    *    cells frame is the only other input — the base corpus is
    *    never rescanned);
    *  - its rows land as NEW files inside the existing
    *    `assigned/cluster=` partition directories (append mode);
    *  - each touched cell's angular radius shrinks by a delta-sized
    *    min-merge (min is associative, so the rewritten k-row cells
    *    frame equals a full radius recompute over these centroids).
    *
    * Exactness of every later [[probe]]/[[topk]] is preserved: the
    * admission bound only requires each member to be counted in its
    * assigned cell's radius, which the merge guarantees. */
  def append(s: SparkSession, path: String, delta: DataFrame): Unit = {
    val cells = Tables.readParquet(s, s"$path/cells")
      .orderBy(col("cluster")).collect()
    val ids = cells.map(_.getInt(0))
    val cents = cells.map(_.getSeq[Double](1).toArray)
    val idLookup = org.apache.spark.sql.functions.array(ids.map(lit): _*)
    val assignedDelta = delta
      .withColumn("slot", element_at(
        graft.functions.GraftColumns.nearestClusters(col("embedding"), cents, 1), 1))
      // NearestClusters ranks the POSITION in the centroid array;
      // remap to the persisted cluster ids (cells stores non-empty
      // cells only, so ids need not be contiguous)
      .withColumn("cluster", element_at(idLookup, col("slot") + 1))
      .select(col("vec_id").as("cand_id"), col("embedding"), col("cluster"))
    assignedDelta.write.mode("append").partitionBy("cluster")
      .parquet(s"$path/assigned")
    val cellsDf = Tables.readParquet(s, s"$path/cells")
    val deltaMins = assignedDelta
      .join(broadcast(cellsDf.select(col("cluster"), col("cv"))), "cluster")
      .groupBy(col("cluster"))
      .agg(min(graft.functions.VectorFunctions.cosine(col("embedding"), col("cv")))
        .as("bmin_delta"))
    val merged = cellsDf.join(deltaMins, Seq("cluster"), "left")
      .select(col("cluster"), col("cv"),
        least(col("bmin"), coalesce(col("bmin_delta"), lit(1d))).as("bmin"))
    // k rows: stage through memory, then overwrite the cells frame
    val staged = merged.collect().toSeq
    import s.implicits._
    staged.map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .toDF("cluster", "cv", "bmin")
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  /** Tombstone a batch of vector ids WITHOUT touching the lists or
    * the radii (s13's claim, on disk): deletes append id files under
    * `tombstones/`; probes anti-join them. Stale cell radii stay
    * valid bounds — a removed member can only RAISE the true min
    * cosine, so the too-wide cone admits conservatively and every
    * probe remains exact over the survivors. Compaction (rewriting
    * lists minus tombstones and re-aggregating radii) is a cost
    * optimization on its own schedule, never a correctness need.
    * `ids` must expose cand_id. */
  def delete(s: SparkSession, path: String, ids: DataFrame): Unit =
    ids.select(col("cand_id")).write.mode("append")
      .parquet(s"$path/tombstones")

  /** Compaction — the cost optimization the tombstone design defers
    * (never a correctness need): rewrite the inverted lists minus the
    * tombstoned members, RE-TIGHTEN each cell's angular radius over
    * the survivors (deletes leave radii too WIDE — valid but
    * admitting extra cells; compaction restores the pre-delete probe
    * cost), and drop the tombstone files. Emptied cells keep their
    * centroid row with bmin = 1.0 (the frozen-fit contract: centroid
    * geometry must survive so later appends/probes assign
    * identically; an empty list admitted at radius 1.0 scans
    * nothing). Staged through a sibling directory, then swapped in
    * via IndexIo.swapIn (rename-aside, never delete-before-replace),
    * so no crash point destroys the only copy of the lists. Probes
    * before and after are spec-proven identical (IndexSpec). */
  def compact(s: SparkSession, path: String): Unit = {
    if (!IndexIo.exists(s, s"$path/tombstones")) return
    val survivors = live(s, path, Tables.readParquet(s, s"$path/assigned"))
    survivors.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/assigned_compact")
    val cellsDf = Tables.readParquet(s, s"$path/cells")
    val newMins = Tables.readParquet(s, s"$path/assigned_compact")
      .join(broadcast(cellsDf.select(col("cluster"), col("cv"))), "cluster")
      .groupBy(col("cluster"))
      .agg(min(graft.functions.VectorFunctions.cosine(col("embedding"), col("cv")))
        .as("bmin_new"))
    val staged = cellsDf.join(newMins, Seq("cluster"), "left")
      .select(col("cluster"), col("cv"),
        coalesce(col("bmin_new"), lit(1d)).as("bmin"))
      .collect().toSeq // k rows
    import s.implicits._
    staged.map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .toDF("cluster", "cv", "bmin")
      .write.mode("overwrite").parquet(s"$path/cells")
    IndexIo.swapIn(s, s"$path/assigned", s"$path/assigned_compact")
    IndexIo.delete(s, s"$path/tombstones")
  }

  /** The candidate frame minus any tombstoned ids (broadcast
    * anti-join on the uniform key; absent tombstone dir = identity). */
  private def live(s: SparkSession, path: String, cands: DataFrame): DataFrame =
    IndexIo.minusTombstones(s, path, cands)

  /** Range search over a persisted index: for each query vector, all
    * corpus vectors with cosine ≥ tau — exactly the brute-force rows
    * (over live members, if deletes were applied).
    * `queries` must expose (q_id, q_vec). */
  def probe(s: SparkSession, path: String, queries: DataFrame,
            tau: Double): DataFrame = {
    val (cands, cellMeta) = read(s, path)
    val admitted = graft.queries.Pipeline.rangeIvfAdmit(
      cellMeta, queries.select(col("q_id"), col("q_vec")), tau)
    graft.queries.Pipeline.rangeIvfProbe(live(s, path, cands), admitted, tau)
  }

  /** Exact top-k over a persisted index (s08's seed-then-prove):
    * brute-force rows, admitted-list cost. `queries` must expose
    * (q_id, q_vec). */
  def topk(s: SparkSession, path: String, queries: DataFrame,
           k: Int, seedCells: Int = 3): DataFrame = {
    val (cands, cellMeta) = read(s, path)
    graft.queries.Pipeline.topkProbe(
      live(s, path, cands), cellMeta,
      queries.select(col("q_id"), col("q_vec")), k, seedCells)
  }

  /** s03-style nProbe top-k over a persisted index: probe each
    * query's `nProbe` nearest cells (centroids reload as the bounded
    * k ≈ √n driver matrix the native NearestClusters expression
    * takes) and scan only their inverted lists. Approximate by the
    * s03 contract — and identical to the per-query-fit s03 plan on
    * the same corpus, because the quantizer fit is deterministic
    * (spec-pinned both ways). */
  def probeNearest(s: SparkSession, path: String, queries: DataFrame,
                   k: Int, nProbe: Int): DataFrame = {
    val (cands, cells) = read(s, path)
    val cents = cells.select(col("cluster"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1).map(_._2.toArray)
    val probes = queries.select(col("q_id"), col("q_vec"))
      .withColumn("cluster", explode(
        graft.functions.GraftColumns.nearestClusters(col("q_vec"), cents, nProbe)))
      .select(col("q_id"), col("q_vec"), col("cluster"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("cand_id"))
    live(s, path, cands).join(broadcast(probes), "cluster")
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("q_vec"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("cand_id"), round(col("cos"), 4).as("cosine"), col("rn"))
      .orderBy(col("q_id"), col("rn"))
  }
}
