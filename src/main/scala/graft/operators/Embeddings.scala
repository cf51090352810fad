package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftFunctions

/** Embedding-column analytics: exact distributed centroids and
  * centroid-distance outlier scoring — the SemDeDup-style "prune documents
  * far from (or too near) their cluster centroid" primitive of an
  * embedding-based curation pipeline.
  *
  * Exactness discipline (the engine's standing e4/cents rule, here
  * µ-units): embeddings quantize to floor(x·10⁶) LONGs at the scan, so
  * every sum, floor-division mean, and squared-L2 distance is integer
  * math that hashes identically in any engine and under any partitioning
  * (float summation order can never flip a rank). Distances run through
  * the codegen'd ArrayDot on integer-valued doubles — |diff|² sums stay
  * < 2^53, so the double path is bit-exact and keeps the pair loop in
  * whole-stage codegen.
  *
  * The 100 TB shape: [[centroids]] aggregates through
  * [[graft.functions.VectorSumAgg]] — one partial ARRAY per (label ×
  * partition) rides the shuffle (the map-side-combine shape of `sum`,
  * vector-valued), never the ×dim exploded row stream; the centroid table
  * is label-count-sized and BROADCASTS into the distance pass, so the
  * corpus never shuffles at all for scoring. EmbeddingsSpec proves the
  * aggregate bit-equal to the posexplode+sum formulation and pins the
  * broadcast + single-aggregation plan.
  *
  * Spec: BASELINE.json (reference tree empty, SURVEY §0); the embedding
  * near-dup/ANN family lives in [[Dedup]]/[[Similarity]] — this file is
  * the per-cluster statistics layer those operators don't cover.
  */
object Embeddings {

  /** floor(x·10⁶) µ-unit quantization of an array<float|double> column. */
  def quantize(e: Column): Column =
    transform(e, x => floor(x.cast("double") * lit(1000000.0)).cast("long"))

  /** Floor division on LONG columns (Spark's `div` truncates toward zero;
    * DuckDB's `//` floors — this form is floor-exact in both dialects and
    * the twin SQL uses the same identity). */
  private[graft] def fdiv(s: Column, n: Column): Column =
    call_function("div", s - pmod(s, n), n)

  /** Per-label exact centroid: (label, n, qsum ARRAY<LONG>, mean ARRAY<LONG>)
    * where mean = floor(qsum/n) elementwise. ONE hash aggregation; the
    * result frame is label-count-sized. */
  def centroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    emb.groupBy(col(labelCol).cast("long").as("label"))
      .agg(
        call_function(GraftFunctions.VectorSumName, quantize(col(vecCol))).as("qsum"),
        count(col(vecCol)).as("n"))
      .withColumn("mean_q", transform(col("qsum"), s => fdiv(s, col("n"))))
  }

  /** Squared-L2 distance of every vector to ITS label's floor-mean
    * centroid, in µ-unit integer space: (vec_id, label, dist). The
    * centroid frame broadcasts; the corpus is scored in its scan stage
    * with zero shuffles. */
  def centroidDistances(emb: DataFrame, idCol: String, labelCol: String,
                        vecCol: String): DataFrame = {
    val cents = centroids(emb, labelCol, vecCol).select("label", "mean_q")
    val q = emb.select(col(idCol).cast("long").as("vec_id"),
      col(labelCol).cast("long").as("label"), quantize(col(vecCol)).as("q"))
    val diff = zip_with(col("q"), col("mean_q"), (a, b) => (a - b).cast("double"))
    q.join(broadcast(cents), "label")
      .withColumn("dist",
        call_function(GraftFunctions.ArrayDotName, diff, diff).cast("long"))
      .select("vec_id", "label", "dist")
  }

  /** Top-k farthest-from-centroid vectors per label (the outlier-prune
    * candidates), deterministically ordered (dist desc, vec_id asc). The
    * rank window partitions by label — it distributes; per-label volume is
    * the standing keyed-operator caveat. */
  def outliers(emb: DataFrame, idCol: String, labelCol: String,
               vecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive; got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("dist").desc, col("vec_id").asc)
    centroidDistances(emb, idCol, labelCol, vecCol)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("label", "vec_id", "dist", "rnk")
  }
}
