package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{CorpusSynth, TableIO}

class CheckpointSpec extends SparkTestBase {

  test("S4/I4: E1 resumes mid-pipeline; early stages skipped; identical triples") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt").toString
    val corpus = CorpusSynth.planted(docsPerEntity = 80)
    val docs = spark.createDataset(corpus.docs).repartition(4)
    val cfg = WsidConfig(entities = Seq("python", "java"), window = 64, kSenses = 2)

    val r1 = Pipeline.induceAndEmit(spark, docs, cfg, Some(root), "planted80")
    val t1 = r1.triples.as[(String, String, String)].collect().toSet
    assert(r1.checkpoint.get.computed.toSet ==
      Set("dochash", "coverage", "sigcooc", "ctxrows", "senses", "sensevec", "triples"))
    assert(r1.checkpoint.get.resumed.isEmpty)

    // kill mid-pipeline: delete sigcooc and everything downstream of it
    for (s <- Seq("sigcooc", "ctxrows", "senses"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/$s"))

    val r2 = Pipeline.induceAndEmit(spark, docs, cfg, Some(root), "planted80")
    val t2 = r2.triples.as[(String, String, String)].collect().toSet
    // content-addressed resume: the recomputed stages produce identical data,
    // so the terminal triple table's fingerprint still matches -> skipped
    assert(r2.checkpoint.get.resumed.toSet == Set("dochash", "coverage", "sensevec", "triples"),
      s"resumed=${r2.checkpoint.get.resumed}")
    assert(r2.checkpoint.get.computed.toSet == Set("sigcooc", "ctxrows", "senses"))
    assert(t1 == t2, "triples differ after resume")

    // one-call E3 model round-trip: loadModel returns the same relabeled
    // sense model the run produced, keyed off the checkpoints alone
    val (dict, senseVec) = Pipeline.loadModel(spark, root)
    assert(Pipeline.modelExists(spark, root))
    val svLive = r2.senseVec.as[(String, Int, Int, Double)].collect().toSet
    val svLoaded = senseVec.as[(String, Int, Int, Double)].collect().toSet
    assert(svLive == svLoaded, "loadModel senseVec differs from the live run's")
    assert(dict.columns.toSeq == Seq("entity", "term", "termid"))
    assert(dict.count() > 0)

    // I3: observe-counters recorded and consistent with the footer lineage
    val sm = sources.TableIO.readManifest(spark, s"$root/sigcooc/_manifest.json").get
    assert(sm.counters("observed_rows") == sm.rowCount)
    // S3: the graph table itself carries a manifest with per-file lineage
    val tm = sources.TableIO.readManifest(spark, s"$root/triples/_manifest.json").get
    assert(tm.rowCount == t1.size)
    assert(tm.files.nonEmpty && tm.files.map(_.rows).sum == tm.rowCount)

    // config change invalidates everything (fingerprint chain)
    val r3 = Pipeline.induceAndEmit(spark, docs, cfg.copy(window = 32), Some(root), "planted80")
    assert(r3.checkpoint.get.resumed.isEmpty)
  }

  test("S4: interrupted overwrite cannot leave a stale resumable manifest") {
    import spark.implicits._
    // a flat stage and one in the partitioned triple-table layout
    val inputs = Seq(
      TableIO.Layout.Flat -> Seq(1, 2, 3).toDF("x"),
      TableIO.Layout.Triples -> Seq(("a", "hasSense", "x"), ("b", "coOccursWith", "y"))
        .toDF("subj", "pred", "obj"))
    for ((layout, df) <- inputs) {
      val root = Files.createTempDirectory("graft_ckpt_stale").toString
      val ck1 = new plans.Checkpoint(spark, root)
      ck1.stage("s", Nil, "cfgA", layout)(df)
      assert(ck1.computed.toSeq == Seq("s"))

      // a run with config B crashes mid-overwrite (compute throws after the
      // rewrite began): the surviving on-disk state must NOT contain the old
      // config-A manifest, or a later config-A run would resume from B's
      // partial/foreign data (ADVICE r1, medium)
      val ck2 = new plans.Checkpoint(spark, root)
      intercept[RuntimeException] {
        ck2.stage("s", Nil, "cfgB", layout)(throw new RuntimeException("boom"))
      }
      assert(sources.TableIO.readManifest(spark, s"$root/s/_manifest.json").isEmpty,
        s"stale manifest survived an interrupted overwrite ($layout)")

      // the config-A rerun therefore RECOMPUTES instead of resuming
      val ck3 = new plans.Checkpoint(spark, root)
      val back = ck3.stage("s", Nil, "cfgA", layout)(df)
      assert(ck3.computed.toSeq == Seq("s") && ck3.resumed.isEmpty)
      assert(back.count() == df.count())
    }
  }

  test("I3: dochash lineage — sha256(content) multiset equals input") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ckpt2").toString
    val corpus = CorpusSynth.planted(docsPerEntity = 30)
    val docs = spark.createDataset(corpus.docs).repartition(4)
    val cfg = WsidConfig(entities = Seq("python", "java"), window = 64)
    Pipeline.induceAndEmit(spark, docs, cfg, Some(root), "planted30")

    val stored = spark.read.parquet(s"$root/dochash/data")
      .select("sha256").as[String].collect().sorted.toSeq
    val expected = corpus.docs
      .map(d => java.security.MessageDigest.getInstance("SHA-256")
        .digest(d.content.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .sorted
    assert(stored == expected)

    // manifest carries per-file (per-partition) row lineage summing to total
    val m = TableIO.readManifest(spark, s"$root/dochash/_manifest.json").get
    assert(m.rowCount == corpus.docs.size)
    assert(m.files.map(_.rows).sum == m.rowCount)
    assert(m.files.nonEmpty && m.files.forall(_.bytes > 0))
  }

  test("S3: triple table round-trip with partitioned layout + manifest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_triples").toString
    val triples = Seq(
      ("python@r/p1", "hasSense", "python#s0"),
      ("python@r/p1", "coOccursWith", "def"),
      ("java@r/p2", "hasSense", "java#s1"),
      ("java@r/p2", "coOccursWith", "island")
    ).toDF("subj", "pred", "obj")
    val m = TableIO.writeTable(spark, dir, "triples", TableIO.Layout.Triples, "fp123")(triples)
    assert(m.rowCount == 4)
    assert(m.inputFingerprint == "fp123")
    // partitioned by predicate on disk
    val preds = new java.io.File(s"$dir/data").listFiles().map(_.getName).filter(_.startsWith("pred="))
    assert(preds.toSet == Set("pred=hasSense", "pred=coOccursWith"))
    val back = TableIO.readTriples(spark, dir).as[(String, String, String)].collect().toSet
    assert(back == triples.as[(String, String, String)].collect().toSet)
  }

  test("compact: fragmented partitions binpacked, content byte-identical, manifest refreshed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString
    val triples = (0 until 40).map { i =>
      (f"s$i%03d", if (i % 2 == 0) "hasSense" else "coOccursWith", s"o$i")
    }.toDF("subj", "pred", "obj")
    TableIO.writeTable(spark, dir, "triples", TableIO.Layout.Triples, "fp-compact")(triples)
    // fragment the way real tables fragment: incremental appends, one small
    // file each (the sink's repartition(pred) keeps the INITIAL write tight)
    (0 until 5).foreach { b =>
      Seq((f"t$b%03d", "hasSense", s"x$b")).toDF("subj", "pred", "obj")
        .coalesce(1).write.mode("append").partitionBy("pred").parquet(s"$dir/data")
    }
    def fileCount(p: String) = Option(new java.io.File(s"$dir/data/$p").listFiles())
      .map(_.count(f => f.getName.endsWith(".parquet"))).getOrElse(0)
    assert(fileCount("pred=hasSense") >= 6, "fixture not fragmented enough")
    val before = TableIO.readTriples(spark, dir).as[(String, String, String)].collect().toSet
    assert(before.size == 45)

    val m = TableIO.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    // the fragmented partition collapses to ONE file; the tight one is untouched
    assert(fileCount("pred=hasSense") == 1 && fileCount("pred=coOccursWith") == 1,
      s"${fileCount("pred=hasSense")}/${fileCount("pred=coOccursWith")}")
    assert(m.rowCount == 45 && m.counters("compacted_partitions") == 1L, s"$m")
    assert(m.inputFingerprint == "fp-compact", "identity must survive compaction")
    val after = TableIO.readTriples(spark, dir).as[(String, String, String)].collect().toSet
    assert(after == before, "compaction changed table content")
    // idempotent: an already-compact table is a no-op
    val m2 = TableIO.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(m2.counters("compacted_partitions") == 0L)
    assert(m2.rowCount == 45)

    // crash recovery: simulate a kill between the two swap renames (the
    // partition parked in .old-, live dir missing) plus a stray staging dir
    // from another partition's interrupted rewrite — the next compact must
    // restore the partition, clear remnants, and return the full table
    val dataDir = new java.io.File(s"$dir/data")
    assert(new java.io.File(dataDir, "pred=hasSense")
      .renameTo(new java.io.File(dataDir, ".old-pred=hasSense")))
    val stray = new java.io.File(dataDir, ".compact-pred=coOccursWith")
    assert(stray.mkdirs())
    java.nio.file.Files.writeString(stray.toPath.resolve("junk.txt"), "x")
    val m3 = TableIO.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(m3.rowCount == 45, s"recovery lost rows: $m3")
    val healed = TableIO.readTriples(spark, dir).as[(String, String, String)].collect().toSet
    assert(healed == before, "recovery changed table content")
    assert(!dataDir.listFiles().exists(f =>
      f.getName.startsWith(".old-") || f.getName.startsWith(".compact-")),
      "remnants not cleared")
  }

  test("compact: unpartitioned crash state self-heals and identity survives a parked manifest") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_unpart").toString
    // unpartitioned table fragmented by three appends straight into data/
    (0 until 3).foreach { b =>
      Seq((f"s$b%02d", "p", s"o$b")).toDF("subj", "pred", "obj")
        .coalesce(1).write.mode("append").parquet(s"$dir/data")
    }
    TableIO.writeManifest(spark, s"$dir/_manifest.json",
      TableIO.TableManifest("mytable", 3, Nil, "fp-id", Map.empty, 0))
    // crash state of a kill between the two swap renames of data/ ITSELF:
    // data parked to the sibling .old-data, the live manifest already
    // parked, a stray sibling staging dir left behind
    val root = new java.io.File(dir)
    assert(new java.io.File(root, "data").renameTo(new java.io.File(root, ".old-data")))
    assert(new java.io.File(root, "_manifest.json")
      .renameTo(new java.io.File(root, "_manifest.json.compacting")))
    val stray = new java.io.File(root, ".compact-data")
    assert(stray.mkdirs())
    java.nio.file.Files.writeString(stray.toPath.resolve("junk.txt"), "x")

    val m = TableIO.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(m.rowCount == 3, s"recovery lost rows: $m")
    assert(m.table == "mytable" && m.inputFingerprint == "fp-id",
      s"identity fabricated instead of recovered: $m")
    val back = spark.read.parquet(s"$dir/data").as[(String, String, String)].collect().toSet
    assert(back == Set(("s00", "p", "o0"), ("s01", "p", "o1"), ("s02", "p", "o2")))
    // fragmented 3-file dir binpacked to one; all remnants (incl. the
    // parked manifest) cleared
    assert(Option(new java.io.File(root, "data").listFiles())
      .get.count(_.getName.endsWith(".parquet")) == 1)
    assert(!root.listFiles().exists(f => f.getName.startsWith(".old-") ||
      f.getName.startsWith(".compact-") || f.getName.endsWith(".compacting")),
      root.listFiles().map(_.getName).mkString(","))
  }

  test("compact: writer fencing — a live lock rejects a second compact, a stale lock expires") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_lock").toString
    Seq(("s0", "p", "o0")).toDF("subj", "pred", "obj")
      .coalesce(1).write.mode("append").parquet(s"$dir/data")
    // a fresh lock (another compaction live) must abort loudly
    val lock = new java.io.File(s"$dir/_compact.lock")
    assert(lock.createNewFile())
    intercept[IllegalStateException] {
      TableIO.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    }
    assert(lock.exists(), "a foreign live lock must not be deleted on abort")
    // an EXPIRED lock (crashed holder) is swept and compaction proceeds,
    // releasing its own lock afterwards
    assert(lock.setLastModified(System.currentTimeMillis() - 7200000L))
    val m = TableIO.compact(spark, dir, targetFileBytes = 64L * 1024 * 1024)
    assert(m.rowCount == 1, s"$m")
    assert(m.counters("skipped_partitions") == 0L)
    assert(!lock.exists(), "lock must be released after compaction")
  }

  test("S1: readDocs applies the explicit schema (never inferred)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_docs").toString
    val docs = CorpusSynth.plantedDocs(spark, docsPerEntity = 5)
    docs.write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val back = TableIO.readDocs(spark, s"$dir/docs.parquet")
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Schemas.docSchema.map(f => (f.name, f.dataType)))
    assert(back.count() == docs.count())
  }
}
