package graft

import java.nio.file.Files

/** VERDICT r2 #3/#7 + ADVICE r2: the E3 model store must work against a
  * configurable (shared-FS) root, refuse foreign models in the implicit
  * tmpdir store, and the session memos must stay bounded under config
  * sweeps. */
class MemoSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def withProp[T](k: String, v: String)(body: => T): T = {
    val old = sys.props.get(k)
    sys.props(k) = v
    try body finally old match {
      case Some(o) => sys.props(k) = o
      case None => sys.props.remove(k)
    }
  }

  test("ModelVersion: derived from code, stable, hex-keyed") {
    val v = Memo.ModelVersion
    assert(v.length == 16 && v.forall(c => "0123456789abcdef".contains(c)), s"got '$v'")
    assert(v == Memo.ModelVersion) // lazy val: stable within a build by construction
  }

  test("model store honors graft.model.root (shared-FS URI root, round-trip)") {
    val root = Files.createTempDirectory("graft_modelstore").toString
    withProp("graft.model.root", root) {
      assert(Memo.modelStoreRoot == root)
      val cfg = WsidConfig(entities = Seq("data", "query"), window = 5, topK = 30)
      val (dict, h) = Memo.modelOf(spark, sfDir, cfg)
      assert(dict.nonEmpty && h.nonEmpty)
      // the checkpointed model landed under the CONFIGURED root, complete
      val kids = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName)
      assert(kids.length == 1 && !kids.head.contains(".build."), s"store contents: ${kids.toSeq}")
      assert(Pipeline.modelExists(spark, s"$root/${kids.head}"))

      // a fresh lookup (memo dropped, same store) RESUMES instead of
      // re-inducing: loadModel path only, identical dictionary and senses
      Memo.invalidate(spark)
      val (dict2, h2) = Memo.modelOf(spark, sfDir, cfg)
      def flat(hs: Map[String, ml.ThinNMF.H]) = hs.map { case (e, m) => e -> m.map(_.toSeq).toSeq }
      assert(dict2 == dict && flat(h2) == flat(h), "model changed across a store round-trip")
      Memo.invalidate(spark)
    }
  }

  test("implicit tmpdir store refuses a model owned by another user") {
    val lookup = java.nio.file.FileSystems.getDefault.getUserPrincipalLookupService
    val foreign = try lookup.lookupPrincipalByName("nobody")
    catch { case _: Throwable => cancel("no 'nobody' principal on this host") }
    assume(sys.props("user.name") != "nobody")
    // the implicit store is the one with no configured root, whatever the
    // shell running the suite exports
    Memo.rootEnv.withValue(sys.env - "GRAFT_MODEL_ROOT") {
      val cfg = WsidConfig(entities = Seq("scan", "sort"), window = 5, topK = 30)
      Memo.modelOf(spark, sfDir, cfg) // builds into the per-user default store
      Memo.invalidate(spark)
      // another principal now owns THIS cfg's cached model dir (same key
      // derivation as Memo.modelOf) -> load must refuse
      val keyHex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$sfDir|${cfg.canonicalId}|${Memo.ModelVersion}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val key = new java.io.File(Memo.modelStoreRoot, keyHex)
      assert(key.isDirectory, s"model dir missing at $key")
      java.nio.file.Files.setOwner(key.toPath, foreign)
      try {
        val e = intercept[SecurityException] { Memo.modelOf(spark, sfDir, cfg) }
        assert(e.getMessage.contains("owned by"))
      } finally {
        java.nio.file.Files.setOwner(key.toPath,
          lookup.lookupPrincipalByName(sys.props("user.name")))
        Memo.invalidate(spark)
      }
    }
  }

  test("BoundedMemo: same-key concurrent builders collapse to ONE build") {
    val memo = new Memo.BoundedMemo[String]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val key = (spark, "same-key")
    val t1 = new Thread(() => memo.getOrBuild(key) {
      builds.incrementAndGet(); started.countDown()
      release.await(10, java.util.concurrent.TimeUnit.SECONDS); "v"
    })
    t1.start()
    assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
    // second caller arrives mid-build: must adopt t1's result, not rebuild
    val t2Result = new java.util.concurrent.atomic.AtomicReference[String]()
    val t2 = new Thread(() => t2Result.set(memo.getOrBuild(key) {
      builds.incrementAndGet(); "WRONG"
    }))
    t2.start()
    release.countDown()
    t1.join(10000); t2.join(10000)
    assert(builds.get() == 1, s"build ran ${builds.get()} times")
    assert(t2Result.get() == "v")
  }

  test("BoundedMemo: different keys build in PARALLEL (no JVM-wide build lock)") {
    // key A's build blocks until key B's build STARTS — possible only if
    // builds run outside a shared lock; under the old whole-build lock this
    // times out (asserted, not hung)
    val memo = new Memo.BoundedMemo[String]
    val aStarted = new java.util.concurrent.CountDownLatch(1)
    val bStarted = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => memo.getOrBuild((spark, "key-a")) {
      aStarted.countDown()
      assert(bStarted.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "key-b's build never started while key-a's was in flight")
      "a"
    })
    val b = new Thread(() => {
      assert(aStarted.await(10, java.util.concurrent.TimeUnit.SECONDS))
      memo.getOrBuild((spark, "key-b")) { bStarted.countDown(); "b" }
    })
    a.start(); b.start()
    a.join(15000); b.join(15000)
    assert(!a.isAlive && !b.isAlive, "parallel builds deadlocked/timed out")
    assert(memo.size == 2)
  }

  test("BoundedMemo: failed build clears the latch so a retry rebuilds") {
    val memo = new Memo.BoundedMemo[String]
    val key = (spark, "flaky-key")
    intercept[RuntimeException] {
      memo.getOrBuild(key) { throw new RuntimeException("boom") }
    }
    assert(memo.getOrBuild(key)("recovered") == "recovered")
  }

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Spark jobs started by `body` on this thread (by job group). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try { body; org.apache.spark.TestListenerBus.drain(sc); n.get } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** The rdd-* checkpoint directories under a durable pin root. */
  private def rddDirs(root: java.io.File): Seq[java.io.File] = {
    def files(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).map(_.toSeq.flatMap(c => c +: files(c))).getOrElse(Nil)
    files(root).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
  }

  private def withDurablePins[T](body: java.io.File => T): T = {
    val root = Files.createTempDirectory("graft_memo_ckpt").toFile
    spark.conf.set(plans.Pinned.ConfKey, root.toString)
    try body(root) finally {
      spark.conf.unset(plans.Pinned.ConfKey)
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("invalidate releases every cached and pinned frame the memo builds made") {
    // the vocabulary-sized memo frames are pins, the corpus-sized ones
    // columnar caches; one release path must drop both kinds, and the E2
    // build must not leave the chain's own caches behind
    def buildAll(): Unit = {
      Memo.kgEdgesOf(spark, sfDir, Queries.cfg).count()
      val cs = Memo.coStatsOf(spark, sfDir, Queries.cfg)
      cs.coverage.count(); cs.scored.count()
      val (top20, top1) = Memo.rankedStoresOf(spark, sfDir, Queries.cfg)
      top20.count(); top1.count()
      Memo.l3TriplesOf(spark, sfDir, Queries.cfg).count()
    }
    Memo.invalidate(spark)
    val before = persistedIds
    buildAll()
    val edges = Memo.kgEdgesOf(spark, sfDir, Queries.cfg)
    assert(plans.Pinned.isPin(edges) && plans.Pinned.isPin(Memo.coStatsOf(spark, sfDir, Queries.cfg).scored))
    assert(jobsOf(assert(plans.Pinned.rows(edges) > 0)) == 0, "a pin's row count ran a job")
    assert(persistedIds != before, "expected the memo builds to persist frames")
    Memo.invalidate(spark)
    assert(persistedIds == before, s"invalidate left ${persistedIds -- before} persisted")

    withDurablePins { root =>
      buildAll()
      assert(rddDirs(root).nonEmpty, s"no durable pins under $root")
      Memo.invalidate(spark)
      assert(persistedIds == before, s"invalidate left ${persistedIds -- before} persisted")
      assert(rddDirs(root).isEmpty, s"invalidate left pin dirs ${rddDirs(root).map(_.getName)}")
    }
  }

  test("invalidate and totalEntries reach the memos declared outside Memo") {
    // the DSIR weight frame and the planted-cluster assignment live in
    // CurationQueries' and ExtraQueries' own memos
    Memo.invalidate(spark)
    val base = Memo.totalEntries
    CurationQueries.sparkQueries("q_dsir_weights")(spark, sfDir).count()
    ExtraQueries.sparkQueries("q_dedup_cc")(spark, sfDir).count()
    CurationQueries.sparkQueries("q_lr_score")(spark, sfDir).count()
    assert(Memo.totalEntries >= base + 4,
      s"registry queries' memo entries not counted: ${Memo.totalEntries} (was $base)")
    Memo.invalidate(spark)
    assert(Memo.totalEntries == base, s"invalidate left ${Memo.totalEntries - base} entries")
  }

  test("evicting a pinned memo entry frees its pin (blocks locally, checkpoint dir when durable)") {
    // q_dedup_cc reads its memo's pin directly (an orderBy over it); the
    // entry is the only thing the query leaves persisted, so invalidate
    // restores the session's persisted set exactly
    def pinOf(): org.apache.spark.rdd.RDD[_] = {
      val df = ExtraQueries.sparkQueries("q_dedup_cc")(spark, sfDir)
      df.count()
      org.apache.spark.sql.graft.PinnedPlans.pinnedLeaves(df).head.rdd
    }
    Memo.invalidate(spark)
    val before = persistedIds
    val local = pinOf()
    assert(spark.sparkContext.getPersistentRDDs.contains(local.id))
    Memo.invalidate(spark)
    assert(persistedIds == before, s"evicted entry left ${persistedIds -- before} persisted")

    withDurablePins { root =>
      val durable = pinOf()
      val dir = new java.io.File(new java.net.URI(durable.getCheckpointFile
        .getOrElse(fail("durable pin wrote no checkpoint"))))
      assert(dir.isDirectory, s"checkpoint dir missing at $dir")
      Memo.invalidate(spark)
      assert(!dir.exists(), s"evicted pin's checkpoint dir $dir not deleted")
      assert(rddDirs(root).isEmpty, s"evicted entry left pin dirs ${rddDirs(root).map(_.getName)}")
      assert(persistedIds == before, s"evicted entry left ${persistedIds -- before} persisted")
    }
  }

  test("memos are LRU-bounded: sweeping 10 configs holds <= Memo.MaxEntries entries") {
    val before = Memo.totalEntries
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    (1 to 10).foreach { i =>
      // distinct guard bound -> distinct memo key per sweep step
      val cfg = Queries.cfg.copy(maxDocChars = 1024 * 1024 + i)
      Memo.tokDocsOf(spark, sfDir, cfg).count()
    }
    assert(Memo.totalEntries <= before + Memo.MaxEntries,
      s"memo grew unbounded: ${Memo.totalEntries} entries (was $before)")
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter <= persistedBefore + Memo.MaxEntries,
      s"persisted frames grew unbounded: $persistedBefore -> $persistedAfter")
    Memo.invalidate(spark)
  }
}
