package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed NMF specialized for wsid's matrix shape: A(ctx x term) with a
  * HUGE context dimension (one row per mention, 10^9+ at full scale) and a
  * SMALL term dimension (significant terms are capped at cfg.topK, <= a few
  * hundred).
  *
  * Alternating nonnegative least squares where only W (ctx loadings) is
  * distributed:
  *   - W-step: each context row solves a k-variable NNLS against the
  *     broadcast H — pure map work, no shuffle, whole partition streamed;
  *   - H-step: needs only the k x m Gram aggregates (W^T A and W^T W),
  *     reduced in one pass, SOLVED ON THE EXECUTORS post-shuffle, and only
  *     the solved H collected (k*m doubles per entity).
  *
  * Driver-memory bound: the broadcast H map holds E * k * (m + k) doubles
  * for E tracked entities. At wsid-realistic E (10^2..10^4, k<=16, m<=topK)
  * that is <= ~100 MB; past a configurable byte budget `fitSharded` (the
  * default entry point via SenseInduction / cfg.modelBytesBudget) loops over
  * disjoint entity subsets — the passes are entity-keyed and per-entity
  * seeded, so the sharded fit equals the joint one (exactly when every
  * entity's contexts sit in one partition, see below), just with one
  * filtered scan per shard instead of a single scan.
  *
  * One data pass per iteration, so cost is data-proportional and scales
  * linearly with executors — unlike a generic factorizer that shuffles
  * factor blocks every iteration. The final pass emits the per-context sense
  * assignment directly, fusing wsid's disambiguation step into the last map.
  *
  * Deterministic: H is seeded per entity from cfg.seed; all entities are
  * fit SIMULTANEOUSLY in the same passes (entity is part of the group key).
  * Bit-exact when every entity's contexts sit whole in one partition: each
  * pass then sums an entity's terms in partition order and `reduceByKey`
  * merges nothing. E1 keeps that true for a one-split corpus, whose context
  * rows it spreads by entity (`Pipeline.induceAndEmit`). An entity whose
  * contexts span partitions merges its float partials in shuffle arrival
  * order, which can move the last bits from run to run.
  */
object ThinNMF {

  /** k x m nonnegative sense-by-term matrix. */
  type H = Array[Array[Double]]

  /** One context row of the sparse matrix (termids sorted, parallel ws). */
  final case class Ctx(entity: String, ctxid: String, termids: Array[Int], ws: Array[Double])

  /** Group long-form ctxvec (entity, ctxid, termid, w) into context rows —
    * the ONE shuffle of the whole factorization; cache the result. */
  def group(ctxvec: DataFrame): Dataset[Ctx] = {
    val spark = ctxvec.sparkSession
    import spark.implicits._
    ctxvec.groupBy("entity", "ctxid")
      .agg(collect_list(struct(col("termid"), col("w"))).as("cells"))
      .map { r =>
        val cells = r.getSeq[Row](2).map(c => (c.getInt(0), c.getDouble(1))).sortBy(_._1)
        Ctx(r.getString(0), r.getString(1), cells.map(_._1).toArray, cells.map(_._2).toArray)
      }
  }

  /** Projected Gauss–Seidel NNLS: min_{w>=0} w'Gw - 2b'w  (k <= ~16). */
  private[ml] def nnlsCD(g: Array[Array[Double]], b: Array[Double], iters: Int = 30): Array[Double] = {
    val k = b.length
    val w = new Array[Double](k)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < k) {
        var s = b(i)
        var j = 0
        while (j < k) { if (j != i) s -= g(i)(j) * w(j); j += 1 }
        w(i) = if (g(i)(i) > 1e-12) math.max(0.0, s / g(i)(i)) else 0.0
        i += 1
      }
      it += 1
    }
    w
  }

  private def gram(h: H): Array[Array[Double]] = {
    val k = h.length
    val g = Array.ofDim[Double](k, k)
    var i = 0
    while (i < k) {
      var j = 0
      while (j <= i) {
        var s = 0.0
        var t = 0
        while (t < h(i).length) { s += h(i)(t) * h(j)(t); t += 1 }
        g(i)(j) = s; g(j)(i) = s
        j += 1
      }
      i += 1
    }
    g
  }

  /** Solve one context's loadings against (H, G=HH'). Termids beyond H's
    * stored dimension contribute zero weight and are skipped — H rebuilt
    * from a checkpointed senseVec (loadModel -> collectH) is sized by the
    * max NONZERO termid, which can be smaller than the dictionary. */
  private def solveW(h: H, g: Array[Array[Double]], c: Ctx): Array[Double] = {
    val k = h.length
    val m = h(0).length
    val b = new Array[Double](k)
    var s = 0
    while (s < k) {
      var acc = 0.0
      var i = 0
      while (i < c.termids.length) {
        if (c.termids(i) < m) acc += h(s)(c.termids(i)) * c.ws(i)
        i += 1
      }
      b(s) = acc
      s += 1
    }
    nnlsCD(g, b)
  }

  /** Per-entity term dimension (max termid + 1): one cheap pass. */
  private[graft] def entityDims(grouped: RDD[Ctx]): Map[String, Int] = grouped
    .map(c => (c.entity, if (c.termids.isEmpty) 0 else c.termids.max + 1))
    .reduceByKey(math.max).collect().toMap

  /** Greedy deterministic packing of entities into shards whose summed model
    * footprint stays under `maxBytes` (a single over-budget entity still gets
    * its own shard — entity granularity is the floor). Sorted order keeps the
    * shard layout, and therefore the job sequence, reproducible. */
  private[graft] def packShards(bytes: Map[String, Long], maxBytes: Long): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var cur = Seq.newBuilder[String]
    var curBytes = 0L
    var curN = 0
    bytes.keys.toSeq.sorted.foreach { e =>
      val b = bytes(e)
      if (curN > 0 && curBytes + b > maxBytes) {
        out += cur.result(); cur = Seq.newBuilder[String]; curBytes = 0L; curN = 0
      }
      cur += e; curBytes += b; curN += 1
    }
    if (curN > 0) out += cur.result()
    out.result()
  }

  /** Broadcast-model footprint of one entity's fit state: H (k x m) plus its
    * Gram (k x k), in doubles. */
  @inline private[graft] def modelBytesOf(k: Int, m: Int): Long = k.toLong * (m + k) * 8L

  /** Driver loop over disjoint entity shards when the broadcast model map
    * would exceed `maxModelBytes` — the documented ceiling of the all-entities
    * fit (the broadcast holds E * k * (m + k) doubles; past E ~ 10^5 that is
    * driver/executor-heap-scale). Every pass of `fit` is entity-keyed and
    * seeded per entity, so fitting disjoint subsets sequentially produces
    * the same H maps as one joint fit, modulo only the floating-point
    * merge-order jitter of entities whose contexts span partitions (see the
    * header; EntityShardSpec asserts elementwise equality at 1e-9) — a user
    * pointing 10^6 tracked entities at the inducer now gets a slower
    * correct run (one filtered scan per shard) instead of an OOM. */
  def fitSharded(grouped: RDD[Ctx], spark: SparkSession, k: Int, iters: Int, seed: Long,
                 maxModelBytes: Long): Map[String, H] = {
    val ms = entityDims(grouped)
    if (ms.isEmpty) return Map.empty
    val shards = packShards(ms.map { case (e, m) => e -> modelBytesOf(k, m) }, maxModelBytes)
    if (shards.size <= 1) fit(grouped, spark, k, iters, seed, Some(ms))
    else shards.iterator.map { es =>
      val set = es.toSet
      fit(grouped.filter(c => set(c.entity)), spark, k, iters, seed,
        Some(ms.view.filterKeys(set).toMap))
    }.reduce(_ ++ _)
  }

  /** Fit all entities' sense matrices in `iters` alternating passes.
    * `msOpt` lets callers (fitSharded) reuse a precomputed dimension map. */
  def fit(grouped: RDD[Ctx], spark: SparkSession, k: Int, iters: Int, seed: Long,
          msOpt: Option[Map[String, Int]] = None): Map[String, H] = {
    // per-entity term-dimension (max termid + 1): one cheap pass
    val ms: Map[String, Int] = msOpt.getOrElse(entityDims(grouped))

    var h: Map[String, H] = ms.collect { case (e, m) if m > 0 =>
      val rnd = new scala.util.Random(seed ^ e.hashCode.toLong)
      e -> Array.fill(k, m)(0.1 + rnd.nextDouble())
    }

    var it = 0
    while (it < iters && h.nonEmpty) {
      val withGram = h.map { case (e, he) => e -> ((he, gram(he))) }
      val bc = spark.sparkContext.broadcast(withGram)
      // one pass: solve every context's W, accumulate W'A and W'W per entity
      val partials = grouped.mapPartitions { rows =>
        val acc = scala.collection.mutable.Map.empty[String, (Array[Double], Array[Double])]
        rows.foreach { c =>
          bc.value.get(c.entity).foreach { case (he, ge) =>
            val m = he(0).length
            val w = solveW(he, ge, c)
            val (wta, wtw) = acc.getOrElseUpdate(c.entity,
              (new Array[Double](k * m), new Array[Double](k * k)))
            var s = 0
            while (s < k) {
              if (w(s) != 0.0) {
                var i = 0
                while (i < c.termids.length) {
                  if (c.termids(i) < m) wta(s * m + c.termids(i)) += w(s) * c.ws(i)
                  i += 1
                }
              }
              s += 1
            }
            var a = 0
            while (a < k) {
              var b2 = 0
              while (b2 < k) { wtw(a * k + b2) += w(a) * w(b2); b2 += 1 }
              a += 1
            }
          }
        }
        acc.iterator.map { case (e, (wta, wtw)) => (e, (wta, wtw)) }
      }.reduceByKey { (x: (Array[Double], Array[Double]), y: (Array[Double], Array[Double])) =>
        val (a1, b1) = x
        val (a2, b2) = y
        var i = 0; while (i < a1.length) { a1(i) += a2(i); i += 1 }
        i = 0; while (i < b1.length) { b1(i) += b2(i); i += 1 }
        (a1, b1)
      }.map { case (e, (wtaF, wtwF)) =>
        // H update solved on the EXECUTORS (post-shuffle, one task per
        // entity group): per term column, NNLS over the k x k Gram. The
        // driver only collects the solved H (k x m doubles per entity) for
        // the next iteration's broadcast — the same bytes it would have
        // pulled anyway, with none of the per-column solve work.
        val m = wtaF.length / k
        val wtw = Array.tabulate(k, k)((i, j) => wtwF(i * k + j) + (if (i == j) 1e-9 else 0.0))
        val hNew = Array.ofDim[Double](k, m)
        var t = 0
        while (t < m) {
          val b = Array.tabulate(k)(s => wtaF(s * m + t))
          val col = nnlsCD(wtw, b)
          var s = 0
          while (s < k) { hNew(s)(t) = col(s); s += 1 }
          t += 1
        }
        e -> hNew
      }.collect()

      h = partials.toMap
      bc.destroy()
      it += 1
    }
    h
  }

  /** Solve + argmax + cosine confidence for one context against the
    * broadcast (H, Gram) map. Shared by the batch and streaming paths. */
  private[graft] def assignOne(models: Map[String, (H, Array[Array[Double]])],
                               c: Ctx, minScore: Double): Option[(String, String, Int, Double)] =
    models.get(c.entity).flatMap { case (he, ge) =>
      val w = solveW(he, ge, c)
      val k = w.length
      var best = 0
      var s = 1
      while (s < k) { if (w(s) > w(best)) best = s; s += 1 }
      if (w(best) <= 0.0) None
      else {
        // cosine(a_c, H_best)
        val hb = he(best)
        var dot = 0.0; var na = 0.0
        var i = 0
        while (i < c.termids.length) {
          val t = c.termids(i)
          if (t < hb.length) dot += c.ws(i) * hb(t)
          na += c.ws(i) * c.ws(i)
          i += 1
        }
        var nh = 0.0
        i = 0
        while (i < hb.length) { nh += hb(i) * hb(i); i += 1 }
        val score = if (na > 0 && nh > 0) dot / (math.sqrt(na) * math.sqrt(nh)) else 0.0
        if (score >= minScore) Some((c.entity, c.ctxid, best, score)) else None
      }
    }

  private[graft] def withGrams(h: Map[String, H]): Map[String, (H, Array[Array[Double]])] =
    h.map { case (e, he) => e -> ((he, gram(he))) }

  /** Final fused pass: per-context sense assignment (argmax NMF loading,
    * cosine-to-sense confidence). */
  def assign(grouped: RDD[Ctx], spark: SparkSession, h: Map[String, H], minScore: Double): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(withGrams(h))
    grouped.flatMap(c => assignOne(bc.value, c, minScore))
      .toDF("entity", "ctxid", "senseid", "score")
  }

  /** Dataset variant of the assignment pass — STATELESS, so it runs
    * unchanged on a Structured Streaming Dataset (append mode). */
  def assignDS(grouped: Dataset[Ctx], h: Map[String, H], minScore: Double): DataFrame = {
    val spark = grouped.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(withGrams(h))
    grouped.flatMap(c => assignOne(bc.value, c, minScore))
      .toDF("entity", "ctxid", "senseid", "score")
  }

  /** Total squared reconstruction error ||A - W H||^2 per entity, one pass
    * (per-context W solved against the broadcast H, residual accumulated). */
  def reconstructionError(grouped: RDD[Ctx], spark: SparkSession,
                          h: Map[String, H]): Map[String, Double] = {
    val bc = spark.sparkContext.broadcast(withGrams(h))
    grouped.mapPartitions { rows =>
      val acc = scala.collection.mutable.Map.empty[String, Double]
      rows.foreach { c =>
        bc.value.get(c.entity).foreach { case (he, ge) =>
          val w = solveW(he, ge, c)
          val k = w.length
          val m = he(0).length
          // residual over the union of observed and reconstructed coords:
          // sum_t (a_t - sum_s w_s H_st)^2; a is sparse, H dense over m
          var err = 0.0
          var t = 0
          var oi = 0
          while (t < m) {
            val a = if (oi < c.termids.length && c.termids(oi) == t) {
              val v = c.ws(oi); oi += 1; v
            } else 0.0
            var rec = 0.0
            var s = 0
            while (s < k) { rec += w(s) * he(s)(t); s += 1 }
            val d = a - rec
            err += d * d
            t += 1
          }
          acc.update(c.entity, acc.getOrElse(c.entity, 0.0) + err)
        }
      }
      acc.iterator
    }.reduceByKey(_ + _).collect().toMap
  }

  /** M3: choose the sense count per entity when not given — fit k = 2..kMax
    * and keep raising k while the relative reconstruction-error improvement
    * stays >= tau (elbow rule; wsid fixtures pin k=2 so correctness gates do
    * not depend on this heuristic).
    *
    * `maxModelBytes` routes the whole selection through the SAME entity-shard
    * budget as fitSharded: shards are packed at the LARGEST candidate k, and
    * each shard runs its own fit + reconstruction passes, so neither the fit
    * broadcast nor the error pass's H map can exceed the budget at E ~ 10^6
    * (both are entity-keyed and per-entity seeded, so the sharded selection
    * equals the joint one exactly — EntityShardSpec asserts it). */
  def selectK(grouped: RDD[Ctx], spark: SparkSession, kMax: Int, iters: Int,
              seed: Long, tau: Double = 0.10,
              maxModelBytes: Long = Long.MaxValue): Map[String, Int] = {
    val ms = entityDims(grouped)
    if (ms.isEmpty) return Map.empty
    val shards = packShards(
      ms.map { case (e, m) => e -> modelBytesOf(kMax, m) }, maxModelBytes)
    if (shards.size > 1)
      return shards.iterator.map { es =>
        val set = es.toSet
        selectKJoint(grouped.filter(c => set(c.entity)), spark, kMax, iters, seed, tau,
          ms.view.filterKeys(set).toMap)
      }.reduce(_ ++ _)
    selectKJoint(grouped, spark, kMax, iters, seed, tau, ms)
  }

  private def selectKJoint(grouped: RDD[Ctx], spark: SparkSession, kMax: Int,
                           iters: Int, seed: Long, tau: Double,
                           ms: Map[String, Int]): Map[String, Int] = {
    // the entity-dimension map is computed ONCE by selectK and reused by
    // every per-k fit — kMax extra full-RDD aggregations otherwise
    val errByK: Map[Int, Map[String, Double]] =
      (1 to kMax).map { k =>
        val h = fit(grouped, spark, k, iters, seed, Some(ms))
        k -> reconstructionError(grouped, spark, h)
      }.toMap
    val entities = errByK.values.flatMap(_.keys).toSet
    entities.map { e =>
      // improvements normalized by the k=1 error (total-variance proxy):
      // per-step relative drops stay inflated long past the elbow on noisy
      // count data, but err1-normalized drops collapse right after it
      val err1 = errByK(1).getOrElse(e, 0.0)
      var best = 1
      var k = 2
      var continue = true
      while (continue && k <= kMax) {
        val prev = errByK(k - 1).getOrElse(e, 0.0)
        val cur = errByK(k).getOrElse(e, 0.0)
        if (err1 > 0 && (prev - cur) / err1 >= tau) { best = k; k += 1 }
        else continue = false
      }
      e -> math.max(best, 2).min(kMax) // wsid induces at least 2 senses
    }.toMap
  }

  /** H as the long-form senseVec table (entity, senseid, termid, weight). */
  def senseVecDF(spark: SparkSession, h: Map[String, H]): DataFrame = {
    import spark.implicits._
    val rows = h.toSeq.sortBy(_._1).flatMap { case (e, he) =>
      he.zipWithIndex.toSeq.flatMap { case (row, s) =>
        row.zipWithIndex.toSeq.collect { case (wgt, t) if wgt > 0.0 => (e, s, t, wgt) }
      }
    }
    rows.toDF("entity", "senseid", "termid", "weight")
  }
}
