package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.{CodeDoc, TokDoc, WsidConfig}
import graft.plans.Pinned

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Every signature/shingle computation is doc-local (mapPartitions or
  * per-row expressions — no shuffle until the candidate-generation groupBy),
  * and candidate verification is exact, so LSH controls recall only, never
  * precision. All hash functions are seeded and deterministic.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup key: sha256 of content. Returns per-document keys. */
  def exactKeys(docs: Dataset[CodeDoc]): DataFrame =
    docs.select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))

  /** Corpus-level duplication stats (hash-groupBy, BIGINT-exact). */
  def exactStats(docs: Dataset[CodeDoc]): DataFrame = {
    val keys = exactKeys(docs)
    val groups = keys.groupBy("sha").agg(count(lit(1)).as("n"))
    groups.agg(
      sum(col("n")).as("total_docs"),
      count(lit(1)).as("distinct_docs"),
      sum(when(col("n") > 1, col("n") - 1).otherwise(0L)).as("removable_dups"),
      sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_groups"))
  }

  /** Exact dedup, survivor selection: keep ONE document per content hash —
    * the lexicographically first (repo, path, commit) — drop the rest. The
    * canonical emit step after exactStats' detection.
    *
    * Implemented as a map-side-combinable min(struct) aggregate, NOT a
    * row_number window: hash uniformity spreads DISTINCT contents across
    * reducers, but all replicas of one content share one key, so a
    * heavily-duplicated document (the motivating case for this operator)
    * would land every replica in a single window task. The partial
    * aggregation collapses replicas to one candidate per map partition
    * BEFORE the shuffle, so a million-copy document costs the exchange at
    * most one row per upstream partition. Struct ordering compares fields
    * left-to-right, so min picks the same (repo, path, commit)-first
    * survivor the window form did (lang/content are trailing tiebreakers;
    * content is constant within a sha group by construction). */
  def dedupKeepFirst(docs: Dataset[CodeDoc]): DataFrame =
    docs.toDF().withColumn("sha", sha2(col("content"), 256))
      .groupBy("sha")
      .agg(min(struct(col("repo"), col("path"), col("commit"), col("lang"), col("content")))
        .as("doc"))
      .select(col("doc.repo"), col("doc.path"), col("doc.commit"),
        col("doc.lang"), col("doc.content"))

  /** Incremental exact dedup — the daily-crawl shape: admit the docs of a
    * NEW batch that are (a) not already in the existing corpus (by content
    * sha) and (b) first within the batch itself (minimum (repo, path,
    * commit) per sha, the dedupKeepFirst order). Output = the admissible
    * batch slice with its sha, ready to append.
    *
    * Scale shape: the corpus side reduces to its DISTINCT sha projection
    * BEFORE the anti-join — content never moves, and the per-sha distinct
    * is map-side combinable (a sha appearing 10⁷ times collapses per
    * partition). The anti-join shuffles (corpus sha set) + (batch), both
    * far below corpus size; within-batch survivor election is the same
    * min(struct) single-aggregation as [[dedupKeepFirst]]. */
  def dedupIncrement(corpus: Dataset[CodeDoc], batch: Dataset[CodeDoc]): DataFrame = {
    val seen = corpus.toDF()
      .select(sha2(col("content"), 256).as("sha")).distinct()
    batch.toDF().withColumn("sha", sha2(col("content"), 256))
      .join(seen, Seq("sha"), "left_anti")
      .groupBy("sha")
      .agg(min(struct(col("repo"), col("path"), col("commit"), col("lang"), col("content")))
        .as("doc"))
      .select(col("sha"), col("doc.repo"), col("doc.path"), col("doc.commit"),
        col("doc.lang"), col("doc.content"))
  }

  // ------------------------------------------------------------- shingles

  /** Distinct n-gram (token) shingles per doc, doc-locally. */
  def shingles(td: Dataset[TokDoc], n: Int): DataFrame = {
    import td.sparkSession.implicits._
    td.mapPartitions(_.flatMap { d =>
      shingleSet(d.terms, n).iterator.map(s => (d.docid, s))
    }).toDF("docid", "shingle")
  }

  private[graft] def shingleSet(terms: Array[String], n: Int): Set[String] = {
    if (terms.length < n) Set.empty
    else (0 to terms.length - n).map(i => terms.slice(i, i + n).mkString(" ")).toSet
  }

  /** Exact pairwise n-gram Jaccard >= threshold, via the relational form:
    * |A∩B| from a shingle self-join, |A∪B| = |A|+|B|-|A∩B|. Quadratic in
    * per-shingle doc frequency — use on bounded subsets or as the verifier
    * behind MinHash-LSH candidates. */
  def ngramJaccardPairs(td: Dataset[TokDoc], n: Int, threshold: Double): DataFrame = {
    val sh = shingles(td, n)
    val sizes = sh.groupBy("docid").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.docid") < col("b.docid"))
      .groupBy(col("a.docid").as("a"), col("b.docid").as("b"))
      .agg(count(lit(1)).as("inter"))
    jaccardAtLeast(inter, sizes, sizes, threshold)
  }

  /** Exact Jaccard of candidate pairs `(a, b)`: |A∩B| by joining each side's
    * `(docid, shingle)` rows, then [[jaccardAtLeast]] with the sides'
    * `(docid, sz)` set sizes. Both sides may be one corpus. */
  private def verifiedPairs(cand: DataFrame, shA: DataFrame, szA: DataFrame,
                            shB: DataFrame, szB: DataFrame, threshold: Double): DataFrame = {
    val inter = cand.join(shA.toDF("a", "shingle"), Seq("a"))
      .join(shB.toDF("b", "shingle"), Seq("b", "shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    jaccardAtLeast(inter, szA, szB, threshold)
  }

  /** The pairs `(a, b, jac)` of `(a, b, inter)` rows whose Jaccard
    * |A∩B| / (|A| + |B| - |A∩B|) reaches `threshold`. */
  private def jaccardAtLeast(inter: DataFrame, szA: DataFrame, szB: DataFrame,
                             threshold: Double): DataFrame =
    inter
      .join(szA.toDF("a", "sza"), Seq("a"))
      .join(szB.toDF("b", "szb"), Seq("b"))
      .withColumn("jac", col("inter") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jac") >= threshold)
      .select("a", "b", "jac")

  // ------------------------------------------------------------- MinHash

  /** MinHash signature of ONE token sequence, or null when it has no
    * shingles — the doc-local core shared by the batch operators and the
    * streaming admission pre-filter. ONE string pass per shingle; the i-th
    * hash function is a full murmur-style finalizer over (base, i) — the
    * standard one-hash-many-mixes minhash recipe. (The round-2 version
    * re-hashed the shingle STRING per function — 64 passes per shingle —
    * which at corpus scale multiplies tokenizer-output bandwidth by
    * numHashes.) */
  private[graft] def signatureOf(terms: Array[String], n: Int,
                                 numHashes: Int, seed: Long): Array[Long] = {
    val sh = shingleSet(terms, n)
    if (sh.isEmpty) null
    else {
      val sig = new Array[Long](numHashes)
      java.util.Arrays.fill(sig, Long.MaxValue)
      sh.foreach { s =>
        val base = Hashes.h64(s, seed)
        var i = 0
        while (i < numHashes) {
          var v = base ^ (i.toLong * 0x9e3779b97f4a7c15L)
          v ^= v >>> 33; v *= 0xff51afd7ed558ccdL
          v ^= v >>> 29; v *= 0xc4ceb9fe1a85ec53L
          v ^= v >>> 32
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      sig
    }
  }

  /** Banded FNV keys of ONE signature: (band, bucket) per band. */
  private[graft] def bandKeysOf(sig: Array[Long], bands: Int): Array[(Int, Long)] = {
    val rows = sig.length / bands
    Array.tabulate(bands) { b =>
      var h = Hashes.FnvBasis ^ b
      var i = b * rows
      while (i < (b + 1) * rows) { h = Hashes.fnvStep(h, sig(i)); i += 1 }
      (b, h)
    }
  }

  /** Doc-local MinHash signatures over n-gram shingles (numHashes values). */
  def minhashSignatures(td: Dataset[TokDoc], n: Int, numHashes: Int, seed: Long): DataFrame = {
    import td.sparkSession.implicits._
    td.mapPartitions(_.flatMap { d =>
      Option(signatureOf(d.terms, n, numHashes, seed)).map(sig => (d.docid, sig.toSeq))
    }).toDF("docid", "sig")
  }

  /** Banded (band, bucket, docid) rows from minhash signatures — the STORED
    * LSH index at scale: built once over the standing corpus, appended as
    * batches are admitted, and joined signature-to-signature by
    * [[minhashIncrement]] so corpus CONTENT never moves for candidate
    * generation. Band key = FNV-1a over the band's signature rows. */
  def minhashBands(td: Dataset[TokDoc], n: Int, numHashes: Int = 64,
                   bands: Int = 16, seed: Long = 42L): DataFrame = {
    import td.sparkSession.implicits._
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    td.mapPartitions(_.flatMap { d =>
      Option(signatureOf(d.terms, n, numHashes, seed)).toSeq.flatMap { sig =>
        bandKeysOf(sig, bands).iterator.map { case (b, h) => (b, h, d.docid) }
      }
    }).toDF("band", "bucket", "docid")
  }

  /** MinHash + LSH banding: signatures → (band, bucket) keys → candidate
    * pairs within buckets → EXACT Jaccard verification. `bands` bands of
    * `numHashes/bands` rows; standard S-curve recall. Bucket size is capped
    * (hot-bucket guard: a degenerate bucket of m docs would emit m^2 pairs). */
  def minhashLshPairs(td: Dataset[TokDoc], n: Int, threshold: Double,
                      numHashes: Int = 64, bands: Int = 16, seed: Long = 42L,
                      maxBucket: Int = 1000): DataFrame = {
    // invalid banding silently collapses recall (ignored trailing hashes, or
    // rows=0 making every band hash the constant seed) — fail fast instead
    require(bands > 0 && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val buckets = minhashBands(td, n, numHashes, bands, seed)

    // hot-bucket-guarded, self-join-free candidate generation (a degenerate
    // bucket of m docs would emit m^2 pairs AND an m-sized agg buffer)
    val candidates = pairsInBuckets(buckets, "docid", 2, maxBucket)

    // exact verification of candidates only
    val sh = shingles(td, n)
    val sizes = sh.groupBy("docid").agg(count(lit(1)).as("sz"))
    verifiedPairs(candidates, sh, sizes, sh, sizes, threshold)
  }

  /** Incremental NEAR-dup admission — the daily-crawl shape for the MinHash
    * family, the near-dup sibling of [[dedupIncrement]] (which admits on
    * exact sha equality): admit only the batch docs that are near-duplicates
    * of NEITHER the standing corpus NOR a smaller-id batch doc.
    *
    * The corpus side participates as its banded signature INDEX
    * ([[minhashBands]] — at 100 TB built once, stored, and appended as
    * batches are admitted; here rebuilt from the TokDocs because the sandbox
    * has no standing index store, a one-line swap). Candidate generation is
    * a signature-to-signature equijoin on the (band, bucket) key, both
    * sides hot-bucket-guarded — corpus CONTENT never moves. Exact Jaccard
    * verification touches corpus shingle sets only for CANDIDATE corpus
    * docs (semi-joined by id — the stored-index deployment fetches exactly
    * those docs by key). Within-batch near-dups resolve by the same
    * upper-triangular min-id-survives rule as [[semanticDedup]]: batch-local
    * work on batch-sized frames.
    *
    * Returns one row per batch doc:
    * (docid, hit_corpus, dup_in_batch, admitted). */
  def minhashIncrement(corpus: Dataset[TokDoc], batch: Dataset[TokDoc],
                       n: Int = 2, threshold: Double = 0.8,
                       numHashes: Int = 64, bands: Int = 16, seed: Long = 42L,
                       maxBucket: Int = 1000): DataFrame = {
    // pin both band tables: bBands is referenced by its cap count, the
    // cross probe, AND pairsInBuckets' two passes — without the pin each
    // reference re-signs the batch (64 murmur mixes per shingle), the
    // exact bandwidth multiplication pairsInBuckets' design caps at two
    // scans. In deployment cBands IS the stored index, i.e. pinned by
    // definition; the pin reproduces that here.
    val cBands = graft.plans.Pinned.pin(minhashBands(corpus, n, numHashes, bands, seed))
    val bBands = graft.plans.Pinned.pin(minhashBands(batch, n, numHashes, bands, seed))

    // cross candidates: batch bands probe the corpus index; a hot bucket on
    // EITHER side (boilerplate signature) is pruned count-first, before any
    // pair explodes
    val cross = guardedBuckets(bBands, 1, maxBucket)
      .join(guardedBuckets(cBands, 1, maxBucket)
        .withColumnRenamed("docid", "cdoc"), Seq("band", "bucket"))
      .select(col("docid").as("a"), col("cdoc").as("b")).distinct()

    val shB = shingles(batch, n)
    val szB = shB.groupBy("docid").agg(count(lit(1)).as("sz"))
    // corpus shingles for candidate docs ONLY (point fetch in deployment)
    val candCorpus = cross.select(col("b").as("docid")).distinct()
    val shC = shingles(corpus, n).join(candCorpus, Seq("docid"), "left_semi")
    val szC = shC.groupBy("docid").agg(count(lit(1)).as("sz"))

    val hitCorpus = verifiedPairs(cross, shB, szB, shC, szC, threshold)
      .select(col("a").as("docid")).distinct()
    // within-batch: canonical a<b pairs -> the larger id is dominated
    val dominated = verifiedPairs(pairsInBuckets(bBands, "docid", 2, maxBucket),
        shB, szB, shB, szB, threshold)
      .select(col("b").as("docid")).distinct()

    batch.toDF().select("docid")
      .join(hitCorpus.withColumn("hc", lit(1L)), Seq("docid"), "left")
      .join(dominated.withColumn("db", lit(1L)), Seq("docid"), "left")
      .select(col("docid"),
        coalesce(col("hc"), lit(0L)).as("hit_corpus"),
        coalesce(col("db"), lit(0L)).as("dup_in_batch"),
        when(col("hc").isNull && col("db").isNull, 1L).otherwise(0L).as("admitted"))
  }

  /** Distinct canonical (a, b) candidate pairs from (band, bucket, id) rows,
    * with BOTH guards a degenerate bucket needs:
    *  1. oversized buckets are pruned by a count-only aggregation (O(1)
    *     buffer) BEFORE any member list materializes — no collect_list
    *     buffer ever exceeds maxBucket entries on an executor;
    *  2. surviving buckets collect their members once and explode pairs
    *     bucket-locally — no bucket self-join, so the (possibly expensive)
    *     upstream signature sub-DAG evaluates twice total, never per side.
    */
  private[operators] def pairsInBuckets(buckets: DataFrame, idCol: String,
                                        minSize: Int, maxBucket: Int): DataFrame =
    guardedBuckets(buckets, minSize, maxBucket)
      .groupBy("band", "bucket")
      .agg(collect_list(col(idCol)).as("ids"))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
          struct(least(x, y).as("a"), greatest(x, y).as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** The hot-bucket guard: the `(band, bucket, ...)` rows of the buckets
    * holding `minSize` to `maxBucket` rows, found by a count-only
    * aggregation (O(1) buffer) before any pair or member list exists. */
  private def guardedBuckets(buckets: DataFrame, minSize: Int, maxBucket: Int): DataFrame = {
    val ok = buckets.groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz").between(minSize, maxBucket))
      .select("band", "bucket")
    buckets.join(ok, Seq("band", "bucket"), "left_semi")
  }

  // ------------------------------------------------------------- SimHash

  /** The 64-bit SimHash of one term sequence (majority vote over seeded
    * term-hash bits) — shared by the batch operator below and the
    * streaming near-dedup (signature computation is doc-local in both). */
  private[graft] def simhash64(terms: Array[String], seed: Long = 42L): Long = {
    val acc = new Array[Int](64)
    terms.foreach { t =>
      val h = Hashes.h64(t, seed)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** Doc-local 64-bit SimHash over term frequencies. Token-free documents
    * emit NO signature (same contract as minhashSignatures' empty-shingle
    * skip): they would all hash to 0 and count each other as Hamming-0
    * near-dups — and the DuckDB oracles, whose unnest drops empty token
    * arrays, would disagree. Near-dup semantics without tokens are
    * undefined; route such docs through exact (sha) dedup instead. */
  def simhash(td: Dataset[TokDoc], seed: Long = 42L): DataFrame = {
    import td.sparkSession.implicits._
    td.mapPartitions(_.collect {
      case d if d.terms.nonEmpty => (d.docid, simhash64(d.terms, seed))
    }).toDF("docid", "simhash")
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, via the
    * pigeonhole band trick: split 64 bits into maxHamming+1 bands; any pair
    * within distance d agrees exactly on >= 1 band → band-equality buckets
    * generate all candidates; verify with popcount.
    *
    * Deliberately NO hot-bucket cap: the pigeonhole cover is exact and a cap
    * would silently drop true pairs (q_dedup_simhash asserts n_missed = 0).
    * Consequence: a group of m near-identical documents inherently produces
    * an m-sized bucket buffer and m^2 output pairs — run EXACT dedup first
    * (the standard pipeline order) so identical-content mass never reaches
    * the near-dup stage.
    *
    * Bucket-width ceiling: 64 bits over maxHamming+1 bands gives
    * 64/(maxHamming+1)-bit buckets, i.e. only 2^width distinct buckets per
    * band — at maxHamming=16 that is 8 buckets, so EVERY band gathers ~n/8
    * of the corpus per bucket and the pairwise explode degrades toward
    * quadratic in rows AND buffer even with zero true near-dups. The
    * operator therefore REQUIRES width >= 8 bits (maxHamming <= 7, the
    * regime SimHash dedup is designed for); callers probing larger radii on
    * BOUNDED inputs (verification roles, like q_dedup_simhash's 200-doc
    * self-check) must opt in with allowNarrowBands = true, accepting the
    * near-quadratic cost explicitly. */
  def simhashNearDups(td: Dataset[TokDoc], maxHamming: Int = 3, seed: Long = 42L,
                      allowNarrowBands: Boolean = false): DataFrame = {
    import td.sparkSession.implicits._
    // the pigeonhole construction only exists for 0 <= maxHamming <= 63:
    // negative values divide by zero below, 64+ gives width-0 bands (every
    // doc in ONE bucket per band — silently quadratic with no cover gain)
    require(maxHamming >= 0 && maxHamming <= 63,
      s"simhashNearDups needs 0 <= maxHamming <= 63 over a 64-bit signature, got $maxHamming")
    val nBands = maxHamming + 1
    val width = 64 / nBands
    require(width >= 8 || allowNarrowBands,
      s"simhashNearDups(maxHamming=$maxHamming) yields $width-bit band buckets " +
        s"(2^$width buckets/band): each bucket gathers ~corpus/2^$width docs and the " +
        "pair explode is near-quadratic. Keep maxHamming <= 7, or pass " +
        "allowNarrowBands=true for bounded inputs where that cost is accepted")
    val sigs = simhash(td, seed).as[(String, Long)]
    val buckets = sigs.flatMap { case (docid, sig) =>
      (0 until nBands).iterator.map { b =>
        val lo = b * width
        val w = if (b == nBands - 1) 64 - lo else width
        val mask = if (w == 64) -1L else (1L << w) - 1L
        (b, (sig >>> lo) & mask, docid, sig)
      }
    }.toDF("band", "bucket", "docid", "sig")
    // pairs exploded bucket-locally from the collected member list (ONE
    // evaluation of the signature sub-DAG; a self-join costs two). NO bucket
    // cap here: the pigeonhole guarantee (any pair within maxHamming shares
    // >= 1 exact band) must stay exact — capped buckets would drop pairs.
    buckets.groupBy("band", "bucket")
      .agg(collect_list(struct(col("docid"), col("sig"))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .select(explode(flatten(transform(col("xs"), (x, i) =>
        transform(slice(col("xs"), i + lit(2), size(col("xs"))), y =>
          struct(
            least(x.getField("docid"), y.getField("docid")).as("a"),
            greatest(x.getField("docid"), y.getField("docid")).as("b"),
            bit_count(x.getField("sig").bitwiseXOR(y.getField("sig"))).as("hamming")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.hamming").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------- cluster resolution (CC)

  /** Connected components over an undirected near-duplicate pair graph —
    * the cluster-resolution step every production dedup pipeline needs
    * between pair detection (MinHash/SimHash/embedding LSH above) and
    * survivor election: near-dup similarity is not transitive, so pairs
    * (a,b), (b,c) must merge into one cluster {a,b,c} before exactly one
    * representative is kept.
    *
    * Algorithm: the pairs are pinned once. When that pin fits one
    * partition (`Pinned.rounds(...).single`: one partition within
    * `spark.sql.maxSinglePartitionBytes`), union-find runs inside one task
    * over the pinned rows (`Pinned.inTask`) — the pin, that task's pin and
    * the caller's job, however long the chains. Otherwise alternating
    * large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014 — public
    * literature), re-expressed as DataFrame aggregations. Each round is two
    * key-grouped min-aggregations plus a semi-join-free emit — no driver-side
    * graph state, no vertex collect — and the round count is O(log n), so
    * components over billions of pairs cost a bounded handful of shuffles.
    * Both give the same assignment (PinnedRoundsSpec).
    *
    * Returns (docid, cluster) for every node appearing in `pairs` (columns
    * `a`, `b`), cluster = MINIMUM reachable id in Spark's ordering of the id
    * column's OWN type (numeric for long vec_ids, binary UTF-8 for string
    * docids) — so the cluster id is itself the canonical "first" survivor.
    * The input type is preserved end-to-end: casting to string here would
    * elect "100099" over "99" for numeric ids. The star rounds throw if
    * `maxIter` rounds don't converge (silently-partial components would be
    * a wrong answer, not a slow one).
    *
    * Iteration state of the star rounds: each round's edge set is pinned
    * and the PREVIOUS round's pin freed immediately — at most two edge-set
    * copies are ever live, no matter how many rounds run. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    // ONE scan of `pairs` (often an expensive candidate chain): the pinned
    // base keeps degenerate self-pairs (lo == hi) alongside the normalized
    // edges, so the singleton rescue reads pinned rows instead of
    // re-executing the whole pair plan a second time.
    val base = Pinned.pin(pairs
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct())
    if (Pinned.rounds(base).single) {
      val keyType = base.schema("lo").dataType
      val schema = StructType(Seq(StructField("docid", keyType), StructField("cluster", keyType)))
      val res = Pinned.inTask(schema, base)(in => componentsInTask(in.head, keyType))
      Pinned.free(base)
      res
    } else starRounds(base, maxIter)
  }

  /** Union-find over the pinned `(lo, hi)` pairs inside their task. Nodes
    * are numbered in Spark's order of the key type, so every component's
    * root, kept at its least number, is its minimum member; a node seen
    * only in self-pairs is its own component. Emits `(docid, cluster)` in
    * node order. */
  private def componentsInTask(rows: Iterator[InternalRow], keyType: DataType): Iterator[InternalRow] = {
    val pairs = rows.map(r => (Pinned.keyAt(r, 0, keyType), Pinned.keyAt(r, 1, keyType))).toArray
    val (keys, index) = Pinned.numbered(pairs.iterator.flatMap(p => Iterator(p._1, p._2)), keyType)
    val parent = Array.tabulate(keys.length)(identity)
    def find(v: Int): Int = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var x = v
      while (parent(x) != r) { val up = parent(x); parent(x) = r; x = up }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(index.get(a)), find(index.get(b)))
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
    }
    Iterator.tabulate(keys.length)(v => InternalRow(keys(v), keys(find(v))))
  }

  /** Large-star / small-star rounds over the pinned `(lo, hi)` base. */
  private def starRounds(base: DataFrame, maxIter: Int): DataFrame = {
    // a pin EVERY round is load-bearing twice over: the round body
    // references `edges` several times, so without truncation the logical
    // plan grows EXPONENTIALLY in rounds (plans are trees, not DAGs); and a
    // frozen materialization is what makes the fixpoint test read the same
    // data the next round consumes. Superseded rounds are freed (see
    // Pinned.free): at most two edge-set copies are ever live.
    // the self-node frame is pinned separately (node-sized, held to the
    // end) and the base is freed as soon as both derivations are pinned
    val selfNodes = Pinned.pin(
      base.filter(col("lo") === col("hi")).select(col("lo").as("docid")))
    var edges = Pinned.pin(base.filter(col("lo") =!= col("hi")))
    Pinned.free(base)
    var converged = Pinned.rows(edges) == 0
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: every neighbor v > u of center u links to
      // m = min(N(u) ∪ {u}). Emitted edges always have m < v.
      val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
        .unionAll(edges.select(col("hi").as("u"), col("lo").as("v")))
      val lmins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(lmins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct()
      // small-star: every neighbor v < u (and u itself) links to
      // m = min of u's smaller neighborhood. Edges stay (min, other).
      val down = large.select(col("hi").as("u"), col("lo").as("v"))
      val smins = down.groupBy("u").agg(min(col("v")).as("m"))
      val small = down.join(smins, Seq("u"))
        .select(col("m"), col("v"))
        .unionAll(smins.select(col("m"), col("u").as("v")))
        .filter(col("m") =!= col("v"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct()
      val next = Pinned.pin(small)
      // fixpoint test: the edge set is a TRUE star forest (stable under both
      // phases) only when BOTH hold: no node is a center and a leaf, AND
      // every leaf has exactly one center. The second clause is not implied
      // by the first — two local minima sharing a leaf (e.g. a—d, c—d, c—e,
      // b—e after one round gives leaves c→a and c→b) pass the first test
      // while the component is still split across two stars; stopping there
      // would assign one doc to two clusters and elect two survivors.
      // Both clauses in ONE aggregation pass: per node, count leaf
      // appearances (as hi) and center appearances (as lo) — a violation is
      // a node that is both, or a leaf more than once.
      converged = next.select(col("hi").as("n"), lit(1L).as("leaf"))
        .unionAll(next.select(col("lo").as("n"), lit(0L).as("leaf")))
        .groupBy("n")
        .agg(sum(col("leaf")).as("leaves"), count(lit(1)).as("tot"))
        // violation ⟺ a leaf with any second appearance (leaf or center)
        .filter(col("leaves") > 0 && col("tot") > 1)
        .isEmpty
      Pinned.free(edges)
      edges = next
      it += 1
    }
    if (!converged) {
      Pinned.free(edges)
      Pinned.free(selfNodes)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "partial components would be silently wrong; raise maxIter")
    }
    // pin the (node-sized) star assignment eagerly, then release the edges
    val out = Pinned.pin(
      edges.select(col("hi").as("docid"), col("lo").as("cluster"))
        .unionAll(edges.select(col("lo").as("docid"), col("lo").as("cluster")))
        .distinct())
    Pinned.free(edges)
    // nodes appearing ONLY in self-pairs (a == b) never enter the star
    // rounds (the edge normalization drops degenerate loops), so they are
    // unioned back as singleton clusters — the contract is "every node
    // appearing in pairs", and a caller driving keep/drop from
    // nearDupClusters would silently lose self-pair-only docs otherwise.
    // The self-node frame was split out of the SINGLE pinned first scan of
    // `pairs` up top, so this branch costs a node-sized anti-join, never a
    // second execution of the candidate chain. The FINAL union is pinned
    // too: callers like nearDupClusters reference the result more than
    // once — the returned frame must be a frozen node-sized assignment,
    // never a plan that recomputes the pair input per action. Every
    // intermediate is freed; what remains cached is exactly the returned
    // assignment (reclaimed by ContextCleaner once the caller drops it).
    val selfOnly = selfNodes.join(out, Seq("docid"), "left_anti")
    val res = Pinned.pin(
      out.unionByName(selfOnly.select(col("docid"), col("docid").as("cluster"))))
    Pinned.free(out)
    Pinned.free(selfNodes)
    res
  }

  /** Cluster-resolved dedup emit: pair graph → components → per-doc cluster
    * id, cluster size, and the keep/drop decision (the minimum id in each
    * cluster survives — consistent with dedupKeepFirst's first-key-wins). */
  def nearDupClusters(pairs: DataFrame): DataFrame = clustered(connectedComponents(pairs))

  /** [[nearDupClusters]] over a `(docid, cluster)` assignment. */
  def clustered(cc: DataFrame): DataFrame = {
    val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster"))
      .select(col("docid"), col("cluster"), col("cluster_size"),
        when(col("docid") === col("cluster"), 1L).otherwise(0L).as("is_kept"))
  }

  /** End-to-end near-dup dedup EMIT (VERDICT r3 #5): pair graph →
    * transitive clusters → the DEDUPLICATED CORPUS itself. Keeps exactly
    * one survivor per cluster (the minimum id, consistent with
    * dedupKeepFirst) plus every unpaired document, every column of `corpus`
    * intact, with cluster provenance added: `cluster` (the cluster id this
    * survivor represents — its own id for singletons) and `cluster_size`
    * (1 for singletons), so downstream mixing/packing can weight or audit
    * by how much duplication each survivor stands for.
    *
    * Scale shape: the cluster assignment is NODE-sized (only ids that
    * appear in pairs — at real dup rates a small fraction of the corpus),
    * so the corpus pays exactly one join against a frame far smaller than
    * itself (AQE broadcasts it when it fits) and unpaired documents stream
    * through the left join untouched. `pairs` can come from ANY signature
    * family above (MinHash-LSH, SimHash, embedding-LSH) — the standard
    * pipeline is exact dedup first, then one near-dup family, then this.
    *
    * Provenance columns OVERWRITE same-named corpus columns (`cluster`,
    * `cluster_size`) — e.g. when a prior pass's output is fed back in; the
    * join itself runs on collision-proof internal names so a corpus
    * carrying those columns can never make the join ambiguous.
    *
    * Survivor election is corpus-aware: the survivor of each cluster is the
    * minimum id AMONG MEMBERS PRESENT IN `corpus`, not the raw pair-graph
    * minimum — when `pairs` carries ids the corpus no longer has (a stale
    * candidate table, a pre-filtered corpus), the cluster still emits a
    * survivor instead of silently losing every present member. When pairs'
    * ids ⊆ corpus ids (the normal pipeline), this equals the pair-graph
    * minimum exactly. Clusters with NO member in the corpus emit nothing,
    * by construction. The election costs one id-pruned corpus scan
    * semi-joined against the node-sized cluster frame plus one node-sized
    * aggregation — `cluster_size` keeps counting the FULL pair-graph
    * cluster (it reports how much duplication the survivor stands for). */
  def emitDeduped(corpus: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    emitFromClusters(corpus, idCol, nearDupClusters(pairs))

  /** [[emitDeduped]] over an ALREADY-RESOLVED cluster assignment (the
    * [[nearDupClusters]] frame) — callers that consume the cluster table
    * AND the deduplicated corpus resolve components once and reuse the
    * node-sized assignment (r6: the q_dedup_cc / q_dedup_emit registry
    * pair shares it through one memoized copy). */
  def emitFromClusters(corpus: DataFrame, idCol: String, cc: DataFrame): DataFrame = {
    // members present in the corpus (id-pruned scan; the node-sized cc
    // frame broadcasts under AQE), then the per-cluster minimum present id
    val present = cc.join(
      corpus.select(col(idCol).as("docid")), Seq("docid"), "left_semi")
    val survivors = present.groupBy("cluster").agg(min(col("docid")).as("__graft_s"))
    val clusters = cc.join(survivors, Seq("cluster"))
      .select(col("docid").as(idCol), col("cluster").as("__graft_c"),
        col("cluster_size").as("__graft_cs"),
        when(col("docid") === col("__graft_s"), 1L).otherwise(0L).as("__graft_k"))
    corpus.join(clusters, Seq(idCol), "left")
      .filter(col("__graft_k").isNull || col("__graft_k") === 1L)
      .withColumn("cluster", coalesce(col("__graft_c"), col(idCol)))
      .withColumn("cluster_size", coalesce(col("__graft_cs"), lit(1L)))
      .drop("__graft_c", "__graft_cs", "__graft_k")
  }

  // ------------------------------------------------ line-level (CCNet)

  /** LINE-level boilerplate dedup (the CCNet/C4 preprocessing step, public
    * literature: Wenzek et al., "CCNet: Extracting High Quality Monolingual
    * Datasets from Web Crawl Data", LREC 2020): every line whose normalized
    * form (lowercase, trimmed) occurs in >= `minDf` DISTINCT documents is
    * removed from every document — shared headers, footers, navigation and
    * license boilerplate vanish corpus-wide while unique content stays.
    * Whitespace-only lines are exempt (they would all collapse to one key
    * and be deleted everywhere).
    *
    * Returns the corpus with `content` rebuilt from the surviving lines
    * (original order and bytes preserved — the NORMALIZED form only keys
    * the duplicate lookup) plus `n_lines`/`n_removed` provenance. A fully
    * boilerplate document survives with empty content; dropping it is the
    * caller's policy call (compose with a length filter).
    *
    * Scale shape: the duplicate-line lookup is
    * distinct(line, doc) → count-by-line — Spark plans the distinct
    * aggregate as a two-phase hash agg keyed on (line, doc) first, so a
    * boilerplate line present in EVERY document spreads over reducers by
    * doc key and the second phase is map-side combinable; the surviving
    * join is a left-anti against the (small) duplicated-line set, and
    * reassembly is doc-local (collect_list bounded by one document's own
    * lines). */
  def dedupLines(docs: Dataset[CodeDoc], minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2 (got $minDf): 1 would delete every line")
    val df0 = docs.toDF()
    val key = Seq("repo", "path", "commit")
    val lines = df0.select(col("repo"), col("path"), col("commit"),
        posexplode(split(col("content"), "\n", -1)).as(Seq("idx", "line")))
      .withColumn("lnorm", lower(trim(col("line"))))
    val dupes = lines.filter(col("lnorm") =!= "")
      .groupBy("lnorm")
      .agg(countDistinct(struct(col("repo"), col("path"), col("commit"))).as("df"))
      .filter(col("df") >= minDf)
      .select("lnorm")
    val kept = lines.join(dupes, Seq("lnorm"), "left_anti")
    val rebuilt = kept.groupBy(key.map(col): _*)
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line")), "\n").as("__clean"),
        count(lit(1)).as("__kept"))
    val totals = lines.groupBy(key.map(col): _*).agg(count(lit(1)).as("n_lines"))
    df0.select(col("repo"), col("path"), col("commit"), col("lang"))
      .join(totals, key)
      .join(rebuilt, key, "left")
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        coalesce(col("__clean"), lit("")).as("content"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  // ---------------------------------------------- duplicate-span (substr)

  /** Cross-document duplicate-SPAN detection at k-gram granularity — the
    * distributed counterpart of exact-substring dedup (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL 2022,
    * public literature; the suffix-array form is single-machine, this is the
    * k-gram relaxation that shards): a token position is duplicated when its
    * k-token window (its FNV hash, `TextStats.kgramHashes`, as in the
    * winnowing fingerprints) occurs in >= 2 DISTINCT documents; runs of duplicated
    * positions merge into maximal spans. Within-doc repetition alone never
    * counts (that is TextStats.repetition's job).
    *
    * Returns one row per doc: ntok, dup_tokens (tokens covered by at least
    * one duplicated window), dup_frac_e4, n_spans — the signals used either
    * to drop boilerplate spans or to down-weight heavily-duplicated docs.
    *
    * Scale shape: gram hashing is doc-local; the only shuffles are the
    * gram-frequency aggregation and the semi-join back, both keyed on the
    * 64-bit hash (uniform by construction, partial-agg combinable — a
    * million-copy boilerplate gram costs one row per map partition, and its
    * min/max agg buffer is O(1)); span merging is doc-local again over each
    * doc's own duplicated positions. */
  def duplicateSpans(td: Dataset[TokDoc], k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import td.sparkSession.implicits._
    val lens = td.map(d => (d.docid, d.terms.length.toLong)).toDF("docid", "ntok")
    val grams = td.mapPartitions(_.flatMap { d =>
      TextStats.kgramHashes(d.terms, k).iterator.zipWithIndex
        .map { case (h, i) => (d.docid, i, h) }
    }).toDF("docid", "pos", "h")
    val dup = grams.groupBy("h")
      .agg(min(col("docid")).as("mn"), max(col("docid")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("h")
    // per-doc maximal spans from the sorted duplicated positions: windows
    // [p, p+k) chain while the gap <= k, so coverage = k for the first
    // window + min(k, gap) per successor, and a new span starts at gap > k
    val diffs = zip_with(
      slice(col("ps"), lit(2), size(col("ps")) - 1),
      slice(col("ps"), lit(1), size(col("ps")) - 1),
      (a, b) => a - b)
    val spans = grams.join(dup, Seq("h"), "left_semi")
      .groupBy("docid")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("docid"),
        (lit(k) + aggregate(diffs, lit(0), (acc, x) => acc + least(x, lit(k))))
          .cast("long").as("dup_tokens"),
        (lit(1) + size(filter(diffs, x => x > k))).cast("long").as("n_spans"))
    lens.join(spans, Seq("docid"), "left")
      .select(col("docid"), col("ntok"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("ntok") > 0,
          round(coalesce(col("dup_tokens"), lit(0L)) * 10000.0 / col("ntok")).cast("long"))
          .otherwise(0L).as("dup_frac_e4"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
  }

  // -------------------------------------------- embedding near-duplicates

  /** Scale path for embedding-space dedup: random-hyperplane LSH buckets
    * (row-local signatures, banded — reuses the ANN machinery in
    * Similarity.hyperplaneBuckets) generate candidate pairs, a hot-bucket cap
    * bounds the per-bucket m² blowup, and candidates are verified with EXACT
    * cosine — so precision is exact by construction and LSH tunes recall
    * only. Contrast embeddingNearDups below: the exact-quadratic verifier,
    * for bounded inputs and recall gates. */
  def embeddingNearDupsLsh(emb: DataFrame, threshold: Double,
                           bands: Int = 16, width: Int = 8, seed: Long = 42L,
                           maxBucket: Int = 1000): DataFrame = {
    val sigs = Similarity.hyperplaneBuckets(emb, "vec_id", bands, width, seed)
    // hot-bucket-guarded, self-join-free candidate generation (a degenerate
    // bucket of m vectors would emit m^2 pairs AND an m-sized agg buffer)
    val candidates = pairsInBuckets(sigs, "vec_id", 2, maxBucket)
    // exact cosine verification of candidates only: rows normalized once
    // pre-join, a single dot per candidate pair
    val na = emb.select(col("vec_id").as("a"),
      Similarity.l2normalized(Similarity.asDouble("embedding")).as("ea"))
    val nb = emb.select(col("vec_id").as("b"),
      Similarity.l2normalized(Similarity.asDouble("embedding")).as("eb"))
    candidates
      .join(na, Seq("a"))
      .join(nb, Seq("b"))
      .withColumn("sim", Similarity.dot(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select("a", "b", "sim")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540 — public
    * literature): SEMANTIC-level dedup, one level above MinHash/SimHash —
    * two docs that say the same thing in different words share no shingles
    * but sit next to each other in embedding space. The paper's recipe:
    * cluster the embeddings, then inside each cluster drop every point
    * that has a more-than-tau cosine neighbor EARLIER in the cluster's
    * ordering (the upper-triangular rule — exactly one survivor per
    * near-duplicate chain head, no iterative survivor election needed).
    * Ordering here is vec_id (deterministic at any cluster size); the
    * paper orders by distance-to-centroid, a one-column swap.
    *
    * `centers` is the cluster table — a pinned deterministic slice for the
    * oracle-checked registry query, `ivfIndex` for production (the
    * same build-once index the ANN path probes; SemDeDup reuses it free).
    *
    * The tau comparison happens on the e4-QUANTIZED cosine, so the
    * keep/drop boundary is bit-identical across engines (the established
    * convention of every embedding operator here).
    *
    * Scale shape: cell assignment is one codegen'd pass (centroid table is
    * a plan literal, doc-local argmin, zero shuffle); the quadratic work is
    * confined WITHIN a cell — the whole point of SemDeDup's clustering at
    * web scale, nlist grows with the corpus so cells stay bounded (the
    * cell-share guard in Similarity.ivfCellStats makes a degenerate fit
    * visible); the dominated-id set is node-sized (vec_id only) and joins
    * back against the node-sized assignment frame — embeddings themselves
    * never shuffle twice. Returns one row per doc: (vec_id, cell, kept). */
  def semanticDedup(emb: DataFrame, centers: Array[Array[Double]],
                    tauE4: Long): DataFrame = {
    // an empty cluster table would silently assign NULL cells (element_at
    // on an empty sorted array) and drop nothing — fail loudly instead
    require(centers.nonEmpty, "semanticDedup needs a non-empty cluster table")
    // pinned: `cells` feeds the pair join's BOTH sides and the final kept
    // flag — unpinned, the O(nlist*dim) per-row argmin would re-run per
    // reference (and nlist grows with the corpus)
    val cells = graft.plans.Pinned.pin(
      emb.select(col("vec_id"), Similarity.asDouble("embedding").as("e"))
        .withColumn("cell", element_at(Similarity.nearestCells(centers, col("e"), 1), 1)))
    val a = cells.select(col("cell"), col("vec_id").as("a"), col("e").as("ea"))
    val b = cells.select(col("cell"), col("vec_id").as("b"), col("e").as("eb"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("sim_e4",
        round(Similarity.cosine(col("ea"), col("eb")) * 10000).cast("long"))
      .filter(col("sim_e4") >= tauE4)
      .select(col("b").as("vec_id"))
      .distinct()
    cells.join(dominated.withColumn("dom", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        when(col("dom").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** Exact cosine near-dup pairs above `threshold`. Quadratic BY DESIGN
    * (every pair scored) — the verifier behind embeddingNearDupsLsh, for
    * bounded inputs and recall gates, never the 100 TB path. The pair loop
    * is a broadcast nested-loop join with the cosine as a codegen'd
    * zip_with/aggregate expression — one whole-stage-codegen span, no
    * shuffle of exploded coordinates (the round-1 posexplode form moved
    * |V|^2 * dim rows through a shuffle to compute the same dots). */
  def embeddingNearDups(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("a"),
      Similarity.l2normalized(Similarity.asDouble("embedding")).as("ea"))
    val b = emb.select(col("vec_id").as("b"),
      Similarity.l2normalized(Similarity.asDouble("embedding")).as("eb"))
    a.join(b, col("a") < col("b"))
      .withColumn("sim", Similarity.dot(col("ea"), col("eb")))
      .filter(col("sim") >= threshold)
      .select("a", "b", "sim")
  }
}
