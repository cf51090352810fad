package graft

import graft.ml.{SenseInduction, ThinNMF}

/** VERDICT r1 #8/#10: the alternative inducer must not launch jobs
  * proportional to the entity count (round 1 looped entities on the driver),
  * and ThinNMF must hold up at 1k entities in one fit. */
class EntityScaleSpec extends SparkTestBase {

  /** Synthetic grouped context rows for E entities with k planted senses:
    * sense s draws its terms from the s-th slice of the vocab. */
  private def syntheticCtx(entities: Int, rowsPer: Int, m: Int = 12, k: Int = 2) = {
    val rnd = new scala.util.Random(42)
    val data = for {
      e <- 0 until entities
      r <- 0 until rowsPer
    } yield {
      val sense = r % k
      val ids = Array.fill(3)(sense * (m / k) + rnd.nextInt(m / k)).distinct.sorted
      ThinNMF.Ctx(f"e$e%04d", s"d$r", ids, ids.map(_ => 1.0 + rnd.nextInt(3)))
    }
    spark.sparkContext.parallelize(data, 8)
  }

  /** Count Spark jobs launched by `body` via job groups (public API). */
  private def jobsFor[T](group: String)(body: => T): (T, Int) = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    val r = try body finally spark.sparkContext.clearJobGroup()
    Thread.sleep(1500) // status store is fed by the async listener bus
    (r, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
  }

  private def fitJobs(method: String, nEntities: Int): Int = {
    val cfg = WsidConfig(entities = Seq.empty, kSenses = 2, nmfMaxIter = 3, method = method)
    val (sv, jobs) = jobsFor(s"$method-$nEntities") {
      val df = SenseInduction.senseMatrix(spark, syntheticCtx(nEntities, 30), cfg)
      (df.select("entity").distinct().count(), df.count())
    }
    assert(sv._1 == nEntities, s"$method lost entities: ${sv._1} of $nEntities")
    jobs
  }

  test("M2 distributed bisecting k-means: jobs independent of entity count (4 vs 40)") {
    val j4 = fitJobs("hclust", 4)
    val j40 = fitJobs("hclust", 40)
    info(s"hclust jobs: 4 entities -> $j4, 40 entities -> $j40")
    assert(j40 <= j4 + 5, s"hclust jobs scale with entities: $j4 -> $j40")
  }

  test("M1 ThinNMF: 1000 entities fit simultaneously, jobs ~ iterations") {
    val (h, jobs) = jobsFor("nmf-1000") {
      ThinNMF.fit(syntheticCtx(1000, 20), spark, k = 2, iters = 3, seed = 42L)
    }
    assert(h.size == 1000)
    assert(h.values.forall(he => he.length == 2 && he.head.nonEmpty))
    info(s"ThinNMF 1000-entity fit: $jobs jobs")
    // 1 dimension pass + 1 pass per iteration (+ slack for retries)
    assert(jobs <= 10, s"ThinNMF launched $jobs jobs for 3 iterations")
  }
}
