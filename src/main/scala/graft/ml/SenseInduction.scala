package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.WsidConfig

/** M1–M4 (SURVEY.md §2.6): distributed sense induction over the
  * significant-context vectors.
  *
  * Default method "nmf" is the thin-matrix alternating-NNLS NMF (ThinNMF):
  * one data pass per iteration, driver-solved H — the shape-aware choice for
  * A(ctx x term) with ctx ~ 10^9+ and term <= topK (wsid's NMF ancestry:
  * Van de Cruys & Apidianaki, ACL 2011). The alternative "hclust" is
  * distributed bisecting k-means (BisectingSenses) on L2-normalized
  * vectors, all entities split in the same passes, cluster centers standing
  * in for H.
  *
  * Both methods converge on the same artifact: the per-entity k x m sense
  * matrix H, from which senseVec (long form) and the fused assignment pass
  * both derive.
  */
object SenseInduction {

  /** Lloyd iterations per bisecting split (method = "hclust") — the hclust
    * analogue of `WsidConfig.nmfMaxIter`. */
  val HclustIters = 10

  /** V1: dense per-entity term ids from the significance ranking (rank is
    * 1-based and unique per entity, so termid = rank - 1 is a bijection). */
  def dictionary(topSig: DataFrame): DataFrame =
    topSig.select(col("entity"), col("term"), (col("rank") - 1).cast("int").as("termid"))

  /** A [[dictionary]] frame as the driver map entity -> term -> termid
    * that the doc-local context rows broadcast (`Tokenize.contextRowsFrom`). */
  def dictionaryMap(dict: DataFrame): Map[String, Map[String, Int]] =
    dict.collect()
      .groupBy(_.getString(0))
      .map { case (e, rows) => e -> rows.map(r => r.getString(1) -> r.getInt(2)).toMap }

  /** V2: long-form sparse context vectors (entity, ctxid, termid, w);
    * w = within-window term count. Dictionary is broadcast (I2). */
  def contextVectors(winToks: DataFrame, dict: DataFrame): DataFrame =
    winToks
      .withColumn("ctxid", concat(col("docid"), lit("#"), col("mpos")))
      .join(broadcast(dict), Seq("entity", "term"))
      .groupBy("entity", "ctxid", "termid")
      .agg(count(lit(1)).cast("double").as("w"))

  /** M1/M2: fit the sense matrices and return them as the long-form senseVec
    * table (entity, senseid, termid, weight) — checkpointable. */
  def senseMatrix(spark: SparkSession, grouped: org.apache.spark.rdd.RDD[ThinNMF.Ctx],
                  cfg: WsidConfig): DataFrame = {
    val h: Map[String, ThinNMF.H] = cfg.method match {
      case "hclust" =>
        BisectingSenses.fitSharded(grouped, spark, cfg.kSenses, HclustIters,
          cfg.seed, cfg.modelBytesBudget)
      case "nmf" =>
        ThinNMF.fitSharded(grouped, spark, cfg.kSenses, cfg.nmfMaxIter, cfg.seed,
          cfg.modelBytesBudget)
    }
    ThinNMF.senseVecDF(spark, h)
  }

  /** Rebuild the broadcastable H map from a (possibly checkpointed) senseVec
    * table — tiny (k x topK doubles per entity). */
  def collectH(senseVec: DataFrame): Map[String, ThinNMF.H] = {
    val rows = senseVec.select("entity", "senseid", "termid", "weight").collect()
    rows.groupBy(_.getString(0)).map { case (e, rs) =>
      val k = rs.map(_.getInt(1)).max + 1
      val m = rs.map(_.getInt(2)).max + 1
      val h = Array.ofDim[Double](k, m)
      rs.foreach(r => h(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      e -> h
    }
  }

  /** M4: human-readable top-terms-per-sense descriptors. */
  def descriptors(senseVec: DataFrame, dict: DataFrame, top: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("entity", "senseid").orderBy(col("weight").desc, col("term").asc)
    senseVec.join(dict, Seq("entity", "termid"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= top)
      .select("entity", "senseid", "term", "weight", "r")
  }
}
