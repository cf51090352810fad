package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.{CodeDoc, WsidConfig}
import graft.ml.ThinNMF
import graft.operators.Tokenize

/** Structured Streaming extensions (SURVEY.md §7.6 — optional incremental
  * ingest; the north rule itself is batch).
  *
  * The disambiguation path (E3) is deliberately STATELESS — doc-local
  * tokenize/window/context-row extraction (mapPartitions) plus the fused
  * broadcast-model assignment (flatMap). No streaming aggregation state, so
  * it runs in append mode with exactly the same code as the batch path and
  * scales like a map-only job.
  */
object StreamingOps {

  /** Incremental disambiguation over a (streaming or batch) Dataset of new
    * documents: same operators as batch E3, append-mode safe. */
  def disambiguateStream(newDocs: Dataset[CodeDoc], h: Map[String, ThinNMF.H],
                         cfg: WsidConfig, dict: Map[String, Map[String, Int]]): DataFrame = {
    val ctx = Tokenize.contextRowsFrom(Tokenize.tokDocs(newDocs, cfg), cfg, dict)
    ThinNMF.assignDS(ctx, h, cfg.minSenseScore)
  }

  /** Event-time windowed sense counts with a watermark: how often each
    * induced sense is being mentioned per window — the streaming-aggregation
    * shape (watermark + tumbling window) over the assignment stream. */
  def windowedSenseCounts(assignments: DataFrame, tsCol: String = "ts",
                          watermark: String = "2 minutes",
                          windowLen: String = "1 minute"): DataFrame =
    assignments
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("entity"), col("senseid"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("entity"), col("senseid"), col("n"))

  /** Streaming sliding (hopping) window counts per key — the streaming
    * twin of the batch `Temporal.slideIndexes` family. Spark's streaming
    * `window(ts, width, slide)` replicates each event into width/slide
    * windows exactly like the batch operator's closed-form index array;
    * state is bounded by the watermark (one row per open window × key).
    * StreamingSpec proves batch parity: window starts here equal the batch
    * operator's `k·stepUs` in epoch-micros. */
  def slidingCounts(events: DataFrame, keyCol: String, tsCol: String = "ts",
                    watermark: String = "2 minutes",
                    windowLen: String = "1 minute",
                    slide: String = "30 seconds"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start_us"), col(keyCol), col("n"))

  /** Streaming exact dedup: drop any document whose content sha256 was
    * already seen within the watermark horizon. State is BOUNDED — sha keys
    * are evicted once older than the watermark (the streaming analogue of
    * the batch exact-dedup groupBy; Spark's dropDuplicatesWithinWatermark
    * keeps one state row per distinct key per horizon). Input needs an
    * event-time column. */
  def dedupStream(docs: DataFrame, tsCol: String = "ts",
                  watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("sha", sha2(col("content"), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("sha")

  /** Streaming crawl-frontier URL dedup: drop any page whose CANONICAL URL
    * (operators.Curation.canonicalUrl — case, default ports, trackers,
    * param order, trailing slashes) was already seen within the watermark
    * horizon; uncanonicalizable rows (relative links, mailto:) are dropped
    * outright. Canonicalization is a stateless doc-local column expression,
    * so state stays one row per distinct canonical URL per horizon — the
    * streaming arm of the batch [[graft.operators.Curation.urlDedup]],
    * sitting BEFORE fetch/extract where URL dedup belongs in a crawl. */
  def urlDedupStream(pages: DataFrame, urlCol: String = "url",
                     tsCol: String = "ts",
                     watermark: String = "10 minutes"): DataFrame =
    pages
      .withColumn("canon_url", graft.operators.Curation.canonicalUrl(col(urlCol)))
      .filter(col("canon_url").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("canon_url")

  /** Streaming quality gate: score each incoming document with a TRAINED
    * hashed-LR quality model ([[graft.operators.Curation.trainLogReg]] —
    * train in batch, filter the stream) and keep rows whose integer margin
    * clears `minMarginQ`. Tokenize → presence buckets → margin is one
    * stateless doc-local map (the model's B+1 longs ride the closure,
    * broadcast-by-value); NO state store at all — the cheapest possible
    * streaming operator shape. The margin is the same exact BIGINT the
    * batch scorer emits, so batch and streaming decisions agree
    * bit-for-bit (asserted by StreamingSpec against scoreLogReg).
    *
    * `stopwords` must match the tokenization the model was TRAINED on —
    * mismatched sets silently shift every margin. */
  def qualityFilterStream(docs: Dataset[TimedDoc], model: graft.operators.Curation.LrModel,
                          minMarginQ: Long = 0L,
                          stopwords: Set[String] = Set.empty): DataFrame = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      it.map { d =>
        val terms = Tokenize.tokensOf(d.content, stopwords)
        var margin = model.biasq
        val seen = new java.util.HashSet[Int]()
        var i = 0
        while (i < terms.length) {
          val b = graft.operators.Curation.bucketOf(terms(i), model.b)
          if (seen.add(b)) margin += model.wq(b)
          i += 1
        }
        (d.ts, d.repo, d.path, d.content, margin)
      }
    }.toDF("ts", "repo", "path", "content", "margin_q")
      .filter(col("margin_q") >= minMarginQ)
  }

  /** Streaming crawl-ADMISSION pre-filter against a STATIC corpus MinHash
    * band index (the batch-maintained [[graft.operators.Dedup.minhashBands]]
    * table, parquet on disk and appended as batches are admitted): every
    * incoming doc computes its band keys doc-locally (stateless — the same
    * signatureOf/bandKeysOf core the batch index builder uses), and a doc
    * is FLAGGED the moment ANY band hits a corpus bucket (stream-static
    * left-semi join; Spark re-plans the static side per microbatch, so
    * index appends are visible without restarting the query). Emits the
    * flagged stream, one row per flagged doc per watermark horizon.
    *
    * Band hits are LSH candidates, NOT verified near-dups — conservative
    * by design: the flagged slice routes to the batch verifier
    * ([[graft.operators.Dedup.minhashIncrement]]) for exact Jaccard, and
    * the admitted complement is a batch anti-join against this flag table,
    * where the doc-level ALL-bands-miss rule is a plain aggregation
    * instead of an append-mode-illegal streaming one. Same stream/batch
    * division of labor as nearDedupStream's exact-signature matching. */
  def admissionFlagStream(docs: Dataset[TimedDoc], corpusIndex: DataFrame,
                          n: Int = 2, numHashes: Int = 64, bands: Int = 16,
                          seed: Long = 42L, stopwords: Set[String] = Set.empty,
                          watermark: String = "10 minutes"): DataFrame = {
    import docs.sparkSession.implicits._
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val banded = docs.mapPartitions { it =>
      it.flatMap { d =>
        val terms = Tokenize.tokensOf(d.content, stopwords)
        val sig = graft.operators.Dedup.signatureOf(terms, n, numHashes, seed)
        if (sig == null) Iterator.empty
        else graft.operators.Dedup.bandKeysOf(sig, bands).iterator
          .map { case (b, h) => (d.ts, d.repo, d.path, b, h) }
      }
    }.toDF("ts", "repo", "path", "band", "bucket")
    banded
      .join(corpusIndex.select("band", "bucket"), Seq("band", "bucket"), "left_semi")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("repo", "path"))
      .select("ts", "repo", "path")
  }

  /** Streaming NEAR-dup dedup: drop any document whose 64-bit SimHash
    * signature was already seen within the watermark horizon. Signature
    * computation is stateless and doc-local (tokenize + simhash in one
    * map), so state stays one row per distinct signature per horizon —
    * bounded exactly like dedupStream. Signature-EXACT matching: token
    * reorderings and boilerplate with the identical term multiset collapse
    * (Hamming 0); for banded Hamming<=k matching run the batch
    * simhashNearDups over the deduped sink — banded candidate generation
    * needs a bucket aggregation no append-mode stream can express.
    *
    * `stopwords` MUST match the batch pipeline's (the TokDoc projection the
    * batch simhash hashes is stopword-filtered): with mismatched sets the
    * streaming and batch signatures disagree, and the documented workflow
    * (batch near-dup pass over the deduped sink) would operate on
    * signatures inconsistent with the ones that governed streaming
    * eviction. */
  def nearDedupStream(docs: Dataset[TimedDoc], watermark: String = "10 minutes",
                      seed: Long = 42L, stopwords: Set[String] = Set.empty): DataFrame = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      // per-PARTITION digest + hex table: a per-record
      // MessageDigest.getInstance + "%02x".format would allocate on the
      // streaming hot path exactly for the payloads this branch serves
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = "0123456789abcdef"
      it.map { d =>
        val terms = Tokenize.tokensOf(d.content, stopwords)
        // token-free documents all hash to SimHash 0 — near-dup semantics
        // are undefined without tokens, so key them by exact content hash
        // instead of collapsing every non-textual payload to one survivor
        val key =
          if (terms.isEmpty) {
            md.reset()
            val dig = md.digest(d.content.getBytes("UTF-8"))
            val sb = new StringBuilder(69).append("sha:")
            dig.foreach(b => sb.append(hex((b >> 4) & 0xf)).append(hex(b & 0xf)))
            sb.toString
          } else "sim:" + graft.operators.Dedup.simhash64(terms, seed).toHexString
        (d.ts, d.repo, d.path, d.content, key)
      }
    }.toDF("ts", "repo", "path", "content", "sigkey")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sigkey")
  }

  /** Streaming perceptual IMAGE dedup: drop any media row whose 64-bit
    * average-hash (REAL JDK decode — multimodal.Codecs) was already seen
    * within the watermark horizon. Hash computation is stateless and
    * row-local, so state is one row per distinct perceptual hash per
    * horizon — bounded like the text paths above. Hash-EXACT matching
    * (identical and trivially-perturbed images collapse); for banded
    * Hamming<=k matching run the batch imageNearDupPairs over the deduped
    * sink, same division of labor as nearDedupStream. Undecodable payloads
    * are keyed by exact payload sha256 instead of collapsing into one
    * survivor. */
  def imageDedupStream(media: Dataset[TimedMedia],
                       watermark: String = "10 minutes"): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = "0123456789abcdef"
      it.map { m =>
        val key = graft.multimodal.Codecs.decodeImage(m.payload) match {
          case Some((w, h, px)) =>
            val s = graft.multimodal.Codecs.imageStats(w, h, px)
            "ahash:" + s.ahashHi.toHexString + ":" + s.ahashLo.toHexString
          case None =>
            md.reset()
            val dig = md.digest(m.payload)
            val sb = new StringBuilder(69).append("sha:")
            dig.foreach(b => sb.append(hex((b >> 4) & 0xf)).append(hex(b & 0xf)))
            sb.toString
        }
        (m.ts, m.doc_id, m.payload, key)
      }
    }.toDF("ts", "doc_id", "payload", "sigkey")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sigkey")
  }

  /** Continuous KG maintenance — the streaming form of G6 (`Cooc
    * .mergeCounts`): each micro-batch's co-occurrence counts merge into a
    * STANDING versioned counts table, so the knowledge graph's statistics
    * stay current without ever recounting the standing corpus. Returns the
    * configured writer; the caller sets checkpointLocation/trigger and
    * starts it.
    *
    * Per batch: doc-local coverage extraction (stateless maps) → one
    * vocabulary-sized count aggregation → merge with the current standing
    * version (another vocabulary-sized agg) → write `stateDir/v<batchId>` →
    * atomically repoint `_CURRENT`. State lives in the table, not in
    * streaming state stores, so a restart resumes from the pointer and the
    * merge is IDEMPOTENT under foreachBatch's at-least-once replays: a
    * batch id at-or-below the already-applied pointer is skipped (the
    * exactly-once contract StreamingSpec asserts by re-applying a batch). */
  def coocMaintain(newDocs: Dataset[CodeDoc], cfg: WsidConfig, stateDir: String) =
    newDocs.writeStream.foreachBatch {
      (batch: Dataset[CodeDoc], batchId: Long) =>
        mergeBatchIntoStanding(batch, batchId, cfg, stateDir)
    }

  /** Streaming SHACL: validate each micro-batch of a triple stream against
    * the MONOTONE constraint subset and hand the per-batch violation report
    * to `onReport` — the ingest-time KG quality gate.
    *
    * Monotone = a violation found in a batch remains a violation of the
    * whole stream: `Pattern`/`InSet`/`Closed` are row-local, and a
    * `MaxCount` breach within one batch only undercounts the stream total.
    * `MinCount` and `ClassConstraint` are REJECTED loudly — both can be
    * cured by later arrivals (the missing triples may simply not have
    * streamed yet), so a per-batch report would assert false violations;
    * run them against the standing store (the [[coocMaintain]] pattern)
    * instead. Reports are therefore SOUND always; they are also complete
    * when each shape targets `targetSubjectsOf` of its own constrained
    * predicate (focus and violating row arrive in the same batch by
    * construction) — a `targetClass` focus whose type triple arrives in a
    * LATER batch is checked only from that batch on, which the soundness
    * contract permits and this scaladoc pins.
    *
    * Returns the configured `DataStreamWriter`; the caller sets
    * checkpointLocation/trigger and starts it. */
  def shaclStream(triples: DataFrame, shapes: Seq[graft.operators.Shacl.Shape])
                 (onReport: (DataFrame, Long) => Unit) = {
    import graft.operators.Shacl
    val unsound = shapes.flatMap(s => s.constraints.collect {
      case c: Shacl.MinCount        => s"${s.name}: minCount(${c.pred})"
      case c: Shacl.ClassConstraint => s"${s.name}: class(${c.pred})"
    })
    require(unsound.isEmpty,
      s"non-monotone constraints cannot be validated per batch (later arrivals " +
        s"can cure them — validate against the standing store): ${unsound.mkString("; ")}")
    triples.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        onReport(Shacl.validate(batch, shapes), batchId)
    }
  }

  /** Streaming RDFS entailment maintenance: entail each micro-batch ALONE
    * against the fixed, closed schema and append the entailments. Exact,
    * not approximate, by the per-triple-locality theorem the batch spec
    * proves (TripleStoreSpec "rdfs closure is per-triple local"): for the
    * stratified rule subset each instance triple's entailments depend only
    * on itself plus the schema closure, so union-of-per-batch-closures ==
    * closure-of-the-union — the standing entailed store never needs
    * recomputation as triples stream in. The schema is ontology-sized:
    * rdfsClosure reads it to the driver and closes it once per batch, and
    * maps each of the batch's triples to its entailments in one pass, so
    * per-batch work is delta-sized.
    *
    * Append-mode duplicates across batches are possible (two batches can
    * entail the same triple); a triple store is a SET, so dedup belongs to
    * the standing sink (e.g. TableIO's distinct on compact), mirroring how
    * the batch operator ends in one distinct. Contrast owlClosure, whose
    * transitive rules are NOT per-triple local and must run against the
    * standing store — this entry point deliberately does not accept them. */
  def rdfsStream(instance: DataFrame, schema: DataFrame, maxDepth: Int)
                (onEntailed: (DataFrame, Long) => Unit) =
    instance.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        onEntailed(graft.operators.TripleStore.rdfsClosure(batch, schema, maxDepth), batchId)
    }

  /** One idempotent merge step of [[coocMaintain]] (package-visible so the
    * replay contract is directly testable). The applied-version marker IS
    * the parquet job's own `_SUCCESS` commit — there is no separate pointer
    * step, so there is no crash window between "data written" and "version
    * visible": a crash mid-write leaves `v<batchId>` without `_SUCCESS`,
    * the version discovery ignores it, and the replay re-merges from the
    * previous committed version over the half-written dir (overwrite
    * mode). Only the one immediately-previous version is retained (a
    * concurrent [[standingCounts]] reader may still hold it); older
    * versions are swept after each commit. */
  private[graft] def mergeBatchIntoStanding(batch: Dataset[CodeDoc], batchId: Long,
                                            cfg: WsidConfig, stateDir: String): Unit = {
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val applied = appliedVersion(fs, root)
    if (applied.exists(_ >= batchId)) return // replayed batch — already merged

    val counts = graft.operators.Cooc.coocCounts(
      Tokenize.coverageFrom(Tokenize.tokDocs(batch, cfg), cfg), cfg)
    val merged = applied match {
      case Some(v) => graft.operators.Cooc.mergeCounts(
        spark.read.parquet(new org.apache.hadoop.fs.Path(root, s"v$v").toString), counts)
      case None => counts
    }
    merged.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(root, s"v$batchId").toString)
    // retention: keep the committed version + its predecessor, sweep older
    versionDirs(fs, root).filter(_ < applied.getOrElse(-1L))
      .foreach(v => fs.delete(new org.apache.hadoop.fs.Path(root, s"v$v"), true))
  }

  /** The standing counts as of the last COMMITTED batch. */
  def standingCounts(spark: org.apache.spark.sql.SparkSession, stateDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = appliedVersion(fs, root)
      .getOrElse(sys.error(s"no committed batch under $stateDir"))
    spark.read.parquet(new org.apache.hadoop.fs.Path(root, s"v$v").toString)
  }

  private def versionDirs(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+"))
      .map(_.getPath.getName.drop(1).toLong)

  private def appliedVersion(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path): Option[Long] =
    versionDirs(fs, root)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(root, s"v$v/_SUCCESS")))
      .sorted.lastOption

  /** Streaming gap-sessionization — the batch [[graft.operators.Temporal.sessionize]]
    * semantics under Structured Streaming, via `flatMapGroupsWithState`
    * with an EVENT-TIME timeout (the custom-state streaming shape the
    * build contract names). State per user is ONE open session, REMOVED on
    * close — state volume is bounded by the users active inside the
    * watermark horizon, not by history. Closed sessions emit in append
    * mode as `(user_id, start_t, end_t, n_events, sum_cents)`: a session's
    * identity is its (user, start time) — stable across engines and
    * restarts — rather than the batch rollup's per-user running index,
    * which a streaming operator could only maintain by keeping every
    * user's state forever.
    *
    * Closure invariant: the timeout is set to `end + gap` in event time.
    * Once the watermark passes that instant, NO admissible future event
    * can extend the session — any extender would carry `ts <= end + gap <
    * watermark` and be dropped as late anyway — so every emitted session
    * is FINAL (no retraction needed, which append mode could not express).
    *
    * Equivalence contract (StreamingSpec): streamed == batch sessionize
    * when each user's events arrive in event-time order ACROSS batches;
    * WITHIN a batch arrival order is irrelevant (events sort in-memory per
    * key per batch — bounded by that user's share of one micro-batch). A
    * cross-batch straggler inside the watermark that would retroactively
    * BRIDGE two already-split sessions is the one divergence (the standard
    * streaming-sessionization caveat); it extends the open session or
    * starts its own, it never corrupts state. */
  def sessionizeStream(events: Dataset[TimedEvent], gapUs: Long,
                       watermark: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(gapUs > 0, s"gapUs must be positive; got $gapUs")
    val gapMs = gapUs / 1000L

    def close(uid: Long, s: OpenSession): SessionRow =
      SessionRow(uid, s.start, s.end, s.n, s.cents)

    def step(uid: Long, it: Iterator[TimedEvent],
             state: GroupState[OpenSession]): Iterator[SessionRow] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(uid, _)).iterator
        state.remove()
        out
      } else {
        val evs = it.toArray.sortBy(e => (e.ts.getTime, e.event_id))
        var open = state.getOption.orNull
        val closed = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
        evs.foreach { e =>
          val t = e.ts.getTime * 1000L // ms → µs, exact
          if (open == null)
            open = OpenSession(t, t, 1L, e.cents)
          else if (t - open.end <= gapUs) // gap EXACTLY equal stays (batch parity)
            open = open.copy(end = math.max(open.end, t), n = open.n + 1L,
              cents = open.cents + e.cents)
          else {
            closed += close(uid, open)
            open = OpenSession(t, t, 1L, e.cents)
          }
        }
        if (open != null) {
          state.update(open)
          state.setTimeoutTimestamp(open.end / 1000L + gapMs + 1L) // first ms past end+gap
        }
        closed.iterator
      }
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(step)
      .toDF("user_id", "start_t", "end_t", "n_events", "sum_cents")
  }

  /** One open session of [[sessionizeStream]] state: µs bounds, running
    * count/sum. */
  final case class OpenSession(start: Long, end: Long, n: Long, cents: Long)

  /** Emitted (closed) session row of [[sessionizeStream]]. */
  final case class SessionRow(user_id: Long, start_t: Long, end_t: Long,
                              n_events: Long, sum_cents: Long)

  /** Timestamped event row for the streaming-sessionization path. */
  final case class TimedEvent(ts: Timestamp, event_id: Long, user_id: Long, cents: Long)

  /** Timestamped document row for the streaming-dedup path. */
  final case class TimedDoc(ts: Timestamp, repo: String, path: String, content: String)

  /** Timestamped media row for the streaming image-dedup path. */
  final case class TimedMedia(ts: Timestamp, doc_id: Long, payload: Array[Byte])

  /** Timestamped assignment row for the windowed aggregation tests. */
  final case class TimedAssignment(ts: Timestamp, entity: String, senseid: Int)
}
