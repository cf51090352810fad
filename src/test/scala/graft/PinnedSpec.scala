package graft

import graft.operators.{Dedup, Mixing}
import graft.plans.Pinned

/** VERDICT r3 #3: the iterative/scan operators' partition-pinning step must
  * be routable to DURABLE checkpoints by config, not by editing source. With
  * `graft.checkpoint.dir` set, connectedComponents and the two-phase prefix
  * scan must (a) produce identical results and (b) actually write reliable
  * checkpoints under the configured dir.
  */
class PinnedSpec extends SparkTestBase {
  import spark.implicits._

  private def withDurableDir[A](body: java.io.File => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt-spec").toFile
    spark.conf.set(Pinned.ConfKey, tmp.getAbsolutePath)
    try body(tmp)
    finally {
      spark.conf.unset(Pinned.ConfKey)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp)
    }
  }

  private def ccSet(pairs: Seq[(String, String)]): Set[(String, String)] = {
    val df = spark.createDataset(pairs).toDF("a", "b").repartition(4)
    Dedup.connectedComponents(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
  }

  private def ntileMap(): Map[String, (Long, Long)] = {
    import spark.implicits._
    val df = (0 until 97).map(i => (f"d$i%03d", (i * 37 % 11) + 1L)).toDF("id", "v")
      .repartition(5)
    Mixing.ntileBuckets(df, 7, Seq("id")).collect()
      .map(r => r.getAs[String]("id") -> ((r.getAs[Long]("pos"), r.getAs[Long]("bucket"))))
      .toMap
  }

  /** The registry's budget cut at sf0.001, with the pin it returns. */
  private def budgetCut(): (Seq[String], org.apache.spark.sql.DataFrame) = {
    val df = ExtraQueries.sparkQueries("q_select_budget")(spark, "/root/testdata/sf0.001")
    (df.collect().map(_.toString).toSeq, df)
  }

  test("durable checkpoint dir: identical CC clusters and ntile positions, files written") {
    val pairs = Seq(("c", "d"), ("c", "e"), ("a", "d"), ("b", "e"), ("x", "y"), ("s", "s"))
    val ccLocal = ccSet(pairs)
    val ntLocal = ntileMap()
    val (budgetLocal, _) = budgetCut()
    withDurableDir { dir =>
      assert(Pinned.durableDir(spark).contains(dir.getAbsolutePath))
      val ccDurable = ccSet(pairs)
      val ntDurable = ntileMap()
      assert(ccDurable == ccLocal, s"durable CC diverged: $ccDurable vs $ccLocal")
      assert(ntDurable == ntLocal, "durable two-phase scan diverged")
      // a registry result pinned at the end of its query is durable too
      val (budgetDurable, pin) = budgetCut()
      assert(budgetDurable == budgetLocal, "durable budget cut diverged")
      assert(org.apache.spark.sql.graft.PinnedPlans.pinnedRelation(pin)
        .exists(_.rdd.getCheckpointFile.isDefined), "budget cut is not a reliable checkpoint")
      // reliable checkpoints actually landed under the configured root
      // (setCheckpointDir creates a per-app subdir holding rdd-* dirs)
      def files(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).map(_.toSeq.flatMap(c => c +: files(c))).getOrElse(Nil)
      val rddDirs = files(dir).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
      assert(rddDirs.nonEmpty, s"no reliable checkpoint dirs under $dir")
    }
    // back to localCheckpoint mode after unsetting the conf
    assert(Pinned.durableDir(spark).isEmpty)
    assert(ccSet(pairs) == ccLocal)
  }

  test("durable retention: free() deletes a superseded pin's checkpoint dirs, the live pin survives") {
    withDurableDir { dir =>
      def rddDirs(): Set[String] = {
        def files(f: java.io.File): Seq[java.io.File] =
          Option(f.listFiles()).map(_.toSeq.flatMap(c => c +: files(c))).getOrElse(Nil)
        files(dir).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
          .map(_.getAbsolutePath).toSet
      }
      // a pin's own checkpoint directory, read off its RDD
      def dirsOf(pin: org.apache.spark.sql.DataFrame): Set[String] =
        org.apache.spark.sql.graft.PinnedPlans.pinnedRelation(pin).get.rdd.getCheckpointFile.toSet
      val a = Pinned.pin((0 until 50).map(i => (i, i * 3)).toDF("k", "v"))
      val aDirs = dirsOf(a)
      assert(aDirs.nonEmpty, "durable pin wrote no checkpoint dir")
      val b = Pinned.pin(a.withColumn("v", $"v" + 1))
      val bDirs = dirsOf(b)
      assert(bDirs.nonEmpty && bDirs.intersect(aDirs).isEmpty,
        s"checkpoint dirs must be disjoint per pin: $aDirs vs $bDirs")
      assert(rddDirs().size >= 2)
      // supersede A: its snapshot dirs vanish, B's stay and B still reads
      // (checkpoint files are Hadoop URIs like file:/…; normalize to local paths)
      def norm(d: String): String = new org.apache.hadoop.fs.Path(d).toUri.getPath
      Pinned.free(a)
      val left = rddDirs()
      assert(aDirs.forall(d => !left.contains(norm(d))),
        s"superseded dirs not swept: $aDirs still in $left")
      assert(bDirs.forall(d => left.contains(norm(d))),
        s"live pin's dirs must survive the sweep: $bDirs vs $left")
      assert(b.agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) ==
        (0 until 50).map(_ * 3 + 1).sum.toLong, "live pin unreadable after sweep")
      Pinned.free(b)
      assert(rddDirs().isEmpty, "final free left snapshot dirs behind")
    }
  }

  test("iterative CC under a durable dir leaves only the RESULT pin's snapshots behind") {
    // the star rounds pin every round; with tracked free(), the checkpoint
    // root must end bounded at the returned assignment, not O(rounds)
    withDurableDir { dir =>
      val pairs = (0 until 200).map(i => (f"n$i%03d", f"n${(i + 1) % 200}%03d"))
      val df = spark.createDataset(pairs).toDF("a", "b").repartition(4)
      val cc = Dedup.connectedComponents(df)
      assert(cc.select("cluster").distinct().count() == 1L)
      def files(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).map(_.toSeq.flatMap(c => c +: files(c))).getOrElse(Nil)
      val rddDirs = files(dir).filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
      assert(rddDirs.size == 1,
        s"expected exactly the result pin's snapshot, found ${rddDirs.size}: " +
          rddDirs.map(_.getName).mkString(","))
    }
  }

  test("durable pin evaluates the plan ONCE (persist before reliable checkpoint)") {
    // without the persist, Spark's checkpoint-write job recomputes the whole
    // plan from lineage after the eager count already ran it — the
    // accumulator would read 2x the partition count
    withDurableDir { _ =>
      val acc = spark.sparkContext.longAccumulator("pin-evals")
      val df = spark.range(0, 100, 1, 5).mapPartitions { it => acc.add(1); it }.toDF("v")
      val pinned = Pinned.pin(df)
      assert(pinned.count() == 100)
      assert(acc.value == 5L,
        s"plan partitions evaluated ${acc.value} times for 5 partitions — " +
          "durable pin must not recompute in the checkpoint-write job")
    }
  }
}
