package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.NoTypeHints
import org.json4s.jackson.Serialization

import graft.{CodeDoc, Schemas}

/** Iceberg-like table IO (SURVEY.md §0 decision).
  *
  * No iceberg-spark-runtime jar exists in this zero-egress image, so tables
  * are partitioned parquet directories with an explicit JSON snapshot
  * manifest (row count + per-file lineage) — the same metadata the
  * checkpoint/resume layer needs anyway. All reads/writes go through here;
  * binding a real Iceberg catalog later only changes this file.
  */
object TableIO {

  final case class FileLineage(name: String, rows: Long, bytes: Long)
  final case class TableManifest(
      table: String,
      rowCount: Long,
      files: List[FileLineage],
      inputFingerprint: String,
      counters: Map[String, Long],
      wallMs: Long)

  implicit private val fmts: org.json4s.Formats = Serialization.formats(NoTypeHints)

  def readDocs(spark: SparkSession, uri: String): Dataset[CodeDoc] = {
    import spark.implicits._
    spark.read.schema(Schemas.docSchema).parquet(uri).as[CodeDoc]
  }

  /** Table layout: Hive-style partition directories on `partitionBy` (the
    * frame is exchanged on those columns first, so each partition value
    * lands in one write task) and rows sorted by `sortBy` within each file.
    * `Layout.Flat` writes the frame as it comes, in its own partitioning. */
  final case class Layout(partitionBy: Seq[String], sortBy: Seq[String])

  object Layout {
    val Flat: Layout = Layout(Nil, Nil)

    /** S3 graph materialize: triples partitioned by predicate, sorted by
      * subject within partitions for downstream range scans (SURVEY.md
      * §4.2). */
    val Triples: Layout = Layout(Seq("pred"), Seq("subj", "obj"))

    /** QUAD-store sink for the named-graph surface (`TripleStore.bgpQuads`):
      * partitioned `graph` first, `pred` second, so a constant graph term
      * prunes whole graph subtrees and a (graph, pred)-constant pattern
      * prunes to single directories — the layout that makes per-graph
      * rebuild/replace (graph-version maintenance, `TripleStore.diff`) a
      * directory swap instead of a table rewrite. */
    val Quads: Layout = Layout(Seq("graph", "pred"), Seq("subj", "obj"))
  }

  /** Write table `table` under `uri`: `data` as parquet in `layout` under
    * `<uri>/data`, then `<uri>/_manifest.json` holding {rowCount, per-file
    * lineage, inputFingerprint, counters, wallMs}. The manifest is the
    * commit point in both directions: an existing one is deleted BEFORE
    * `data` is evaluated and the rewrite starts, so a crash midway through
    * the overwrite leaves no manifest next to partial data, and the new one
    * is written only after the data. The row count rides the write itself
    * (`Dataset.observe`, the `observed_rows` counter) — no extra pass. */
  def writeTable(spark: SparkSession, uri: String, table: String, layout: Layout,
                 inputFingerprint: String = "")(data: => DataFrame): TableManifest = {
    val mPath = new Path(s"$uri/_manifest.json")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    // the delete MUST succeed before the rewrite starts: a silently failed
    // delete (object-store/permission hiccup returns false, not throw)
    // would leave the old manifest next to partial new data, and a later
    // run with the old inputs would resume from it
    if (fs.exists(mPath) && !fs.delete(mPath, false))
      throw new java.io.IOException(s"could not remove stale manifest $mPath before rewrite")
    val t0 = System.nanoTime()
    val obs = org.apache.spark.sql.Observation(s"graft_${table}_${System.nanoTime()}")
    val observed = data.observe(obs, count(lit(1)).as("rows"))
    val laid =
      if (layout.partitionBy.isEmpty) observed
      else observed.repartition(layout.partitionBy.map(col): _*)
    val sorted =
      if (layout.sortBy.isEmpty) laid else laid.sortWithinPartitions(layout.sortBy.map(col): _*)
    val writer = sorted.write.mode(SaveMode.Overwrite)
    (if (layout.partitionBy.isEmpty) writer else writer.partitionBy(layout.partitionBy: _*))
      .parquet(s"$uri/data")
    val observedRows = obs.get.get("rows").collect { case l: Long => l }.getOrElse(-1L)
    val wallMs = (System.nanoTime() - t0) / 1000000
    val files = parquetLineage(spark, s"$uri/data")
    val m = TableManifest(table, files.map(_.rows).sum, files, inputFingerprint,
      Map("files" -> files.size.toLong, "observed_rows" -> observedRows), wallMs)
    writeManifest(spark, s"$uri/_manifest.json", m)
    m
  }

  def readTriples(spark: SparkSession, uri: String): DataFrame =
    spark.read.parquet(s"$uri/data").select("subj", "pred", "obj")

  def readQuads(spark: SparkSession, uri: String): DataFrame =
    spark.read.parquet(s"$uri/data").select("graph", "subj", "pred", "obj")

  /** Small-file COMPACTION for a partitioned TableIO table — the Iceberg
    * `rewrite_data_files` binpack analogue, and the #1 operational
    * maintenance job of any 100 TB table (every incremental append
    * fragments partitions; scan cost then scales with file COUNT, not
    * bytes: footer reads, task scheduling, and row-group fragmentation).
    *
    * Per partition directory (driver loop — partition values are
    * low-cardinality by layout design, e.g. pred ∈ {hasSense,
    * coOccursWith}): if it holds more files than ceil(bytes/target), the
    * partition is re-read, coalesced to that count (coalesce, not
    * repartition — compaction must never pay a shuffle), re-sorted within
    * partitions on `sortCols` to preserve the layout contract, and written
    * to a sibling staging dir which then REPLACES the partition dir (two
    * metadata renames). Partitions already at or below target file count
    * are untouched — steady-state compaction cost is proportional to the
    * fragmented fraction, not the table.
    *
    * Crash contract (same commit rule as Checkpoint.stage): the live
    * manifest is PARKED (renamed aside) BEFORE any partition swap and a
    * fresh one written after all swaps — a killed compaction leaves the
    * table live-manifest-less, which readers of manifest-gated flows treat
    * as "stage incomplete, recompute/recompact", while the parked copy
    * preserves table identity (name, input fingerprint) for the recovery
    * run. The NEXT compact self-heals the layout first: a leftover
    * `.old-<part>` whose live partition is missing (killed between the two
    * renames) is renamed back into place — INCLUDING the unpartitioned
    * case, where data/ itself is the swapped dir and the remnants are its
    * siblings — every other `.old-`/`.compact-` remnant is deleted, and a
    * failed second rename rolls the first one back before throwing.
    * Readers racing a live swap can momentarily miss one partition
    * (directory renames are not jointly atomic on any FS) — compaction is
    * an offline maintenance job by nature; run it in the maintenance
    * window, exactly like Iceberg's.
    *
    * Manifest regeneration opens footers ONLY for files not already in the
    * prior manifest with matching size — a no-op compact of a huge
    * well-compacted table costs one directory listing, not O(files) footer
    * reads; swapped partitions and post-manifest appends are re-read.
    *
    * Writer fencing, best-effort: a create-exclusive `_compact.lock` (age
    * expiry `lockTtlMs` so a crashed holder cannot fence the table forever)
    * rejects a second concurrent compact, and each partition is RE-LISTED
    * immediately before its swap — if the file set changed since planning
    * (a concurrent append landed), that partition's swap is ABORTED and its
    * staging discarded rather than silently deleting the new files; the
    * count lands in the `skipped_partitions` manifest counter. Renames are
    * still not jointly atomic with external writers — compaction remains an
    * offline maintenance job; the fencing turns a silent-data-loss race
    * into a skipped partition or a loud lock failure. */
  def compact(spark: SparkSession, uri: String, targetFileBytes: Long,
              sortCols: Seq[String] = Seq("subj", "obj"),
              lockTtlMs: Long = 3600000L): TableManifest = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val conf = spark.sessionState.newHadoopConf()
    val data = new Path(s"$uri/data")
    val fs = data.getFileSystem(conf)
    val mPath = new Path(s"$uri/_manifest.json")
    val t0 = System.nanoTime()

    // best-effort mutual exclusion: create-exclusive lock, age-based expiry
    val lockPath = new Path(s"$uri/_compact.lock")
    def tryLock(): Boolean =
      try { fs.create(lockPath, false).close(); true }
      catch { case _: java.io.IOException => false }
    if (!tryLock()) {
      val stale = try {
        System.currentTimeMillis() - fs.getFileStatus(lockPath).getModificationTime > lockTtlMs
      } catch { case _: java.io.FileNotFoundException => true }
      if (stale) fs.delete(lockPath, false)
      if (!tryLock())
        throw new IllegalStateException(
          s"another compaction holds $lockPath (younger than ${lockTtlMs}ms) — " +
            "aborting; delete the lock only if the holder is known dead")
    }
    try compactLocked(spark, uri, targetFileBytes, sortCols, conf, data, fs, mPath, t0)
    finally fs.delete(lockPath, false)
  }

  private def compactLocked(spark: SparkSession, uri: String, targetFileBytes: Long,
                            sortCols: Seq[String], conf: Configuration, data: Path,
                            fs: org.apache.hadoop.fs.FileSystem, mPath: Path,
                            t0: Long): TableManifest = {

    // self-heal a crashed predecessor BEFORE planning: restore a partition
    // that vanished mid-swap, then clear every staging/trash remnant so the
    // plan below never mistakes one for a data partition. The sweep covers
    // BOTH levels remnants can exist at: inside data/ (partitioned tables)
    // and data's PARENT (unpartitioned tables swap data/ itself, so
    // .old-data / .compact-data are siblings — and the crash state there
    // is precisely `data` missing, which is why the sweep must not be
    // gated on fs.exists(data)).
    def heal(holder: Path): Unit =
      if (fs.exists(holder))
        fs.listStatus(holder).filter(_.isDirectory).map(_.getPath).foreach { p =>
          if (p.getName.startsWith(".old-")) {
            val live = new Path(p.getParent, p.getName.stripPrefix(".old-"))
            if (!fs.exists(live)) fs.rename(p, live) else fs.delete(p, true)
          } else if (p.getName.startsWith(".compact-")) fs.delete(p, true)
        }
    heal(data.getParent)
    heal(data)

    // partition dirs = direct non-hidden children holding parquet (or the
    // root itself for unpartitioned tables)
    val parts: Seq[Path] =
      if (!fs.exists(data)) Nil
      else {
        val kids = fs.listStatus(data).filter(_.isDirectory).map(_.getPath)
          .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_")).toSeq
        if (kids.nonEmpty) kids else Seq(data)
      }
    val plans = parts.flatMap { p =>
      val files = listParquet(p, conf)
      val bytes = files.map(_._2).sum
      val want = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      // the planned (name, size) set is captured so the swap can detect a
      // concurrent append and abort instead of deleting the new files
      if (files.size > want) Some((p, want, files.map { case (f, b) => (f.toString, b) }.toSet))
      else None
    }

    // identity fields survive compaction (it rewrites layout, not content)
    // AND survive a crash: the live manifest is PARKED, not deleted, before
    // any swap — readers of manifest-gated flows still see "incomplete"
    // (live manifest absent), but the recovery run reads its identity from
    // the parked copy instead of fabricating table=""/fingerprint=""
    val parkedPath = new Path(s"$uri/_manifest.json.compacting")
    val prior = readManifest(spark, mPath.toString)
      .orElse(readManifest(spark, parkedPath.toString))
    if (fs.exists(mPath)) {
      if (fs.exists(parkedPath)) fs.delete(parkedPath, false)
      fs.rename(mPath, parkedPath)
    }
    var skipped = 0L
    plans.foreach { case (p, want, planned) =>
      val staging = new Path(p.getParent, s".compact-${p.getName}")
      if (fs.exists(staging)) fs.delete(staging, true)
      spark.read.parquet(p.toString)
        .coalesce(want)
        .sortWithinPartitions(sortCols.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      // fence: the rewrite above read the PLANNED file set; if the live set
      // changed since (concurrent append), swapping would delete the new
      // files — abort this partition, discard staging, count it
      val now = listParquet(p, conf).map { case (f, b) => (f.toString, b) }.toSet
      if (now != planned) {
        fs.delete(staging, true)
        skipped += 1
      } else {
        val trash = new Path(p.getParent, s".old-${p.getName}")
        if (fs.exists(trash)) fs.delete(trash, true)
        if (!fs.rename(p, trash))
          throw new java.io.IOException(s"compaction swap failed for $p (park rename)")
        if (!fs.rename(staging, p)) {
          fs.rename(trash, p) // roll back: the partition must never stay missing
          throw new java.io.IOException(s"compaction swap failed for $p (promote rename)")
        }
        fs.delete(trash, true)
      }
    }

    // lineage: reuse prior-manifest rows for files unchanged in name+size,
    // open footers only for new/rewritten files
    val known: Map[String, FileLineage] =
      prior.map(_.files.map(f => f.name -> f).toMap).getOrElse(Map.empty)
    val files = listParquet(data, conf).map { case (p, bytes) =>
      known.get(p.toString).filter(_.bytes == bytes).getOrElse {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        try FileLineage(p.toString, reader.getRecordCount, bytes)
        finally reader.close()
      }
    }.sortBy(_.name)
    val m = TableManifest(prior.map(_.table).getOrElse("table"),
      files.map(_.rows).sum, files,
      prior.map(_.inputFingerprint).getOrElse(""),
      Map("files" -> files.size.toLong,
        "compacted_partitions" -> (plans.size.toLong - skipped),
        "skipped_partitions" -> skipped),
      (System.nanoTime() - t0) / 1000000)
    writeManifest(spark, s"$uri/_manifest.json", m)
    if (fs.exists(parkedPath)) fs.delete(parkedPath, false)
    m
  }

  /** Per-file row/byte lineage straight from parquet footers — no extra scan. */
  def parquetLineage(spark: SparkSession, dir: String): List[FileLineage] = {
    val conf = spark.sessionState.newHadoopConf()
    listParquet(new Path(dir), conf).map { case (p, bytes) =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try FileLineage(p.toString, reader.getRecordCount, bytes)
      finally reader.close()
    }.sortBy(_.name)
  }

  private def listParquet(root: Path, conf: Configuration): List[(Path, Long)] = {
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    val out = List.newBuilder[(Path, Long)]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) out += ((f.getPath, f.getLen))
    }
    out.result()
  }

  def writeManifest(spark: SparkSession, path: String, m: TableManifest): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val os = fs.create(p, true)
    try os.write(Serialization.write(m).getBytes("UTF-8")) finally os.close()
  }

  def readManifest(spark: SparkSession, path: String): Option[TableManifest] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(Serialization.read[TableManifest](
        new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")))
      catch { case _: Throwable => None }
      finally in.close()
    }
  }
}
