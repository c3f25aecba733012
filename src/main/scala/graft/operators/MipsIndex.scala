package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}
import graft.queries.Pipeline
import graft.Tables

/** Persisted MIPS index — s09's augmentation reduction made a
  * build-once artifact. The build appends sqrt(M² − ‖x‖²) to every
  * corpus vector (M² = the corpus max squared norm), fits/assigns the
  * coarse quantizer over the AUGMENTED space (the RangeIvfIndex
  * frames), and stores the three scalars the probe needs — M² and
  * the augmented-norm extrema for the sign-split τ conversion — in a
  * one-row `consts/` frame. A probe then only augments its queries
  * with a literal zero (so the augmented dot IS the raw dot, exactly,
  * in fp too) and runs s09's seed-then-prove through the loaded
  * index: no corpus pass for norms, no fit, no assignment, no radius
  * agg per query.
  *
  * The probe emits exactly the brute-force inner-product top-k
  * (mipsProbe's bound is a proof, not a heuristic), so the index
  * changes the cost, never the answer.
  */
object MipsIndex {

  /** Augment + fit + assign + radius-agg over a CORPUS frame
    * (vec_id, embedding) and persist under `path`. */
  def write(s: SparkSession, corpus: DataFrame, n: Long, path: String): Unit = {
    import s.implicits._
    val withN2 = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("n2", VF.normSq(col("embedding")))
    val m2 = withN2.agg(max(col("n2"))).head().getDouble(0)
    val aug = withN2.withColumn("embedding",
        concat(col("embedding"),
          array(sqrt(lit(m2) - col("n2")).cast("float"))))
      .select(col("vec_id"), col("embedding"))
    val augStats = aug
      .agg(max(VF.normSq(col("embedding"))).as("mx"),
        min(VF.normSq(col("embedding"))).as("mn")).head()
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    val (cands, cellMeta) = Pipeline.rangeIvfIndex(s, aug, n, dim = dim + 1)
    cands.write.mode("overwrite").partitionBy("cluster").parquet(s"$path/assigned")
    cellMeta.write.mode("overwrite").parquet(s"$path/cells")
    Seq((m2, augStats.getDouble(0), augStats.getDouble(1)))
      .toDF("m2", "max_aug_n2", "min_aug_n2")
      .write.mode("overwrite").parquet(s"$path/consts")
  }

  /** Exact inner-product top-k over the persisted index. `queries`
    * must expose (q_id, q_vec) in the RAW space — augmentation with
    * the literal zero happens here, map-side. */
  def probe(s: SparkSession, path: String, queries: DataFrame,
            k: Int, seedCells: Int = 3): DataFrame = {
    val cands = Tables.readParquet(s, s"$path/assigned")
    val cellMeta = Tables.readParquet(s, s"$path/cells")
    val c = Tables.readParquet(s, s"$path/consts").head()
    val (maxAugNorm, minAugNorm) =
      (math.sqrt(c.getAs[Double]("max_aug_n2")), math.sqrt(c.getAs[Double]("min_aug_n2")))
    val qs = queries
      .withColumn("q_vec", concat(col("q_vec"), array(lit(0d).cast("float"))))
      .withColumn("qn", sqrt(VF.normSq(col("q_vec"))))
      .select(col("q_id"), col("q_vec"), col("qn"))
    Pipeline.mipsProbe(cands, cellMeta, qs, k, seedCells, maxAugNorm, minAugNorm)
  }
}
