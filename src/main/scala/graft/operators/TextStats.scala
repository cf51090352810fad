package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.{CodeDoc, TokDoc}

/** Text-analysis operators for training-data curation: quality scoring,
  * token counting, language id, document fingerprinting. All per-document
  * (narrow) except the final aggregations; quality metrics are pure column
  * expressions (whole-stage codegen, pushdown-friendly).
  */
object TextStats {

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "in", "to", "is", "it")

  /** Per-document quality metrics as pure column expressions.
    * Emits 1e-4-scaled BIGINT ratios for engine-stable comparison. */
  def quality(docs: Dataset[CodeDoc], stopwords: Seq[String] = defaultStopwords): DataFrame = {
    val toks = split(trim(col("content")), "\\s+")
    val isEmpty0 = length(trim(col("content"))) === 0
    val nTok = when(isEmpty0, 0).otherwise(size(toks)).cast("long")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = when(isEmpty0, 0)
      .otherwise(size(filter(toks, t => array_contains(stopArr, t)))).cast("long")
    val nDistinct = when(isEmpty0, 0).otherwise(size(array_distinct(toks))).cast("long")
    docs.select(
      concat(col("repo"), lit("/"), col("path")).as("doc"),
      length(col("content")).cast("long").as("n_chars"),
      nTok.as("n_tokens"),
      nStop.as("n_stopwords"),
      nDistinct.as("n_distinct"),
      when(nTok > 0, round(nStop * lit(10000.0) / nTok)).otherwise(0).cast("long")
        .as("stop_ratio_e4"),
      when(nTok > 0, round(nDistinct * lit(10000.0) / nTok)).otherwise(0).cast("long")
        .as("distinct_ratio_e4"),
      when(nTok > 0, round(length(col("content")) * lit(10000.0) / nTok)).otherwise(0)
        .cast("long").as("chars_per_token_e4"))
  }

  /** THE word-token array of a string column: the one Spark column form of
    * the token contract, whose SQL twin is `Tokenize.termsSql`. Every
    * column-level tokenization calls it or [[wordTokenCount]] (tokenCounts,
    * datasetCard, anchorText, Mixing.mixtureWeights, the budget-cut
    * queries); TokenizeSpec fails if the regex is written anywhere else. */
  private[graft] def wordTokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(split(lower(c), "[^a-z0-9_]+"), t => t =!= "")

  /** Count form of [[wordTokens]]. */
  private[graft] def wordTokenCount(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(wordTokens(c)).cast("long")

  /** Token counting: whitespace tokens vs word-regex tokens vs a BPE-ish
    * subword estimate (splits on case/digit boundaries inside words). */
  def tokenCounts(docs: Dataset[CodeDoc]): DataFrame = {
    val ws = when(length(trim(col("content"))) === 0, 0)
      .otherwise(size(split(trim(col("content")), "\\s+"))).cast("long")
    val re = wordTokenCount(col("content"))
    val bpeish = size(filter(
      split(col("content"), "[^A-Za-z0-9_]+|(?<=[a-z])(?=[A-Z])|(?<=[A-Za-z])(?=[0-9])|(?<=[0-9])(?=[A-Za-z])"),
      t => t =!= "")).cast("long")
    docs.groupBy("repo")
      .agg(sum(ws).as("ws_tokens"), sum(re).as("re_tokens"), sum(bpeish).as("bpeish_tokens"),
        count(lit(1)).as("n_docs"))
  }

  /** Marker-token language id: score per language = count of that language's
    * closed-class markers; predict argmax (ties -> lexicographic lang).
    * A deliberately simple, fully deterministic heuristic — the point is the
    * distributed shape (broadcastable profiles, one narrow pass). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "a", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "es", "y"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  def langId(td: Dataset[TokDoc]): DataFrame = {
    import td.sparkSession.implicits._
    val markers = langMarkers.toSeq.sortBy(_._1).map { case (l, ms) => (l, ms.toSet) }
    td.map { d =>
      val scores = markers.map { case (l, ms) => (l, d.terms.count(ms.contains)) }
      val best = scores.maxBy { case (l, s) => (s, l) } // ties -> LAST lexicographic
      val predicted = if (best._2 == 0) "unk" else scores.filter(_._2 == best._2).map(_._1).min
      (d.docid, predicted, scores.map(_._2).sum)
    }.toDF("docid", "lang_pred", "marker_hits")
  }

  /** Gopher-style repetition signals, doc-local (zero shuffle): duplicate
    * n-gram fraction (1 - distinct/total) for n = 2 and 3, plus the top-term
    * frequency ratio — the standard filters for boilerplate/looped text in
    * large-scale corpus curation. */
  def repetition(td: Dataset[TokDoc]): DataFrame = {
    import td.sparkSession.implicits._
    def e4r(x: Double): Long = math.round(x * 10000)
    td.mapPartitions(_.map { d =>
      val t = d.terms
      def dupFrac(n: Int): Double =
        if (t.length < n) 0.0
        else {
          val total = t.length - n + 1
          1.0 - Dedup.shingleSet(t, n).size.toDouble / total
        }
      // association mirrors the oracle exactly: round(max * 10000.0 / len)
      val topE4 =
        if (t.isEmpty) 0L
        else {
          val counts = scala.collection.mutable.Map.empty[String, Int]
          t.foreach(w => counts.update(w, counts.getOrElse(w, 0) + 1))
          math.round(counts.valuesIterator.max * 10000.0 / t.length)
        }
      (d.docid, t.length.toLong, e4r(dupFrac(2)), e4r(dupFrac(3)), topE4)
    }).toDF("docid", "n_terms", "dup2_e4", "dup3_e4", "top_term_ratio_e4")
  }

  /** PII redaction: RE2-compatible patterns (emails, international phone
    * numbers) replaced globally — pure column expressions, codegen'd,
    * scan-parallel, identical semantics in the DuckDB oracle. */
  val emailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val phonePattern = "\\+[0-9]{7,15}"

  def redactPii(docs: Dataset[CodeDoc]): DataFrame =
    docs.toDF().withColumn("content",
      regexp_replace(regexp_replace(col("content"), emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"))

  /** Deterministic stratified sampling by content-hash threshold: a document
    * is kept iff the hex prefix of sha256(key) falls below the per-stratum
    * threshold — exact, engine-portable (the oracle compares the same hex
    * strings), reproducible across runs AND cluster sizes, and requires no
    * shuffle or count pass (contrast reservoir/`sample()`: nondeterministic
    * under re-partitioning). `fractions`: stratum -> fraction in [0,1],
    * encoded as a 4-hex-digit threshold (resolution 1/65536; positive
    * fractions below ~1/131072 round to zero). Strata ABSENT from the map
    * get `unlisted` (default 0.0 = dropped) — pass 1.0 for pass-through;
    * the choice is explicit because silently zeroing a new stratum is the
    * classic curation footgun. */
  def stratifiedSample(docs: Dataset[CodeDoc], strataCol: String,
                       fractions: Map[String, Double],
                       unlisted: Double = 0.0): DataFrame = {
    // 'g' sorts after every hex digit -> keeps ALL rows at fraction 1.0;
    // otherwise a 4-hex-digit threshold compared at equal length
    def enc(f: Double): String = {
      val v = math.round(f * 65536)
      if (v >= 65536) "g" else f"$v%04x"
    }
    val thrCol = fractions.foldLeft(lit(enc(unlisted))) { case (acc, (s, f)) =>
      when(col(strataCol) === s, lit(enc(f))).otherwise(acc)
    }
    docs.toDF()
      .withColumn("hkey", substring(sha2(concat_ws("|", col("repo"), col("path"), col("commit")), 256), 1, 4))
      .filter(col("hkey") < thrCol)
      .drop("hkey")
  }

  /** Benchmark-contamination detection: for each document in `benchmark`,
    * the fraction of its n-gram shingles that appear ANYWHERE in `corpus`
    * (n-gram containment, the standard train/test-leakage check).
    *
    * Scale shape: the corpus is the 100 TB side, the benchmark is small, so
    * the corpus scan is FILTERED by the broadcast benchmark vocabulary
    * before anything shuffles — every exchange carries corpus∩benchmark
    * shingles, bounded by the benchmark size, never the corpus. */
  def contamination(corpus: Dataset[TokDoc], benchmark: Dataset[TokDoc], n: Int): DataFrame = {
    val benchShingles = Dedup.shingles(benchmark, n)
    val benchVocab = benchShingles.select("shingle").distinct()
    // corpus∩benchmark shingles (benchmark-bounded by construction)
    val present = Dedup.shingles(corpus, n)
      .join(broadcast(benchVocab), Seq("shingle"), "left_semi")
      .select("shingle").distinct()
    val sizes = benchShingles.groupBy("docid").agg(count(lit(1)).as("n_shingles"))
    val hits = benchShingles.join(broadcast(present), Seq("shingle"), "left_semi")
      .groupBy("docid").agg(count(lit(1)).as("n_hits"))
    sizes.join(hits, Seq("docid"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("containment_e4",
        round(col("n_hits") * 10000.0 / col("n_shingles")).cast("long"))
      .select("docid", "n_shingles", "n_hits", "containment_e4")
  }

  /** Decontamination EMIT — the production counterpart of `contamination`
    * (which SCORES held-out docs): drop from the TRAINING corpus every
    * document sharing more than `maxHits` distinct n-gram shingles with the
    * benchmark. This is the direction deployed pipelines actually run
    * (benchmark leakage is removed from training data, not measured after
    * the fact). Returns surviving docs as (docid, ntok, n_bench_hits).
    *
    * Scale shape (same as contamination, sides swapped): the benchmark
    * shingle vocabulary is broadcast, so the corpus is scanned once behind
    * a MAP-SIDE semi-join — content and shingles never shuffle. What does
    * shuffle is per-DOC and narrow: the matched-shingle counts (bounded by
    * the benchmark overlap) and the final (docid, ntok) projection joining
    * against them — two id-keyed, few-bytes-per-row exchanges, never
    * corpus content. maxHits = 0 is the strict default: any shared n-gram
    * disqualifies. */
  def decontaminate(corpus: Dataset[TokDoc], benchmark: Dataset[TokDoc],
                    n: Int, maxHits: Long = 0L): DataFrame = {
    import corpus.sparkSession.implicits._
    val benchVocab = Dedup.shingles(benchmark, n).select("shingle").distinct()
    // Dedup.shingles is per-doc DISTINCT by construction, so the count is
    // "distinct shingles of this doc that appear in the benchmark"
    val hits = Dedup.shingles(corpus, n)
      .join(broadcast(benchVocab), Seq("shingle"), "left_semi")
      .groupBy("docid").agg(count(lit(1)).as("n_bench_hits"))
    corpus.map(d => (d.docid, d.terms.length.toLong)).toDF("docid", "ntok")
      .join(hits, Seq("docid"), "left")
      .withColumn("n_bench_hits", coalesce(col("n_bench_hits"), lit(0L)))
      .filter(col("n_bench_hits") <= maxHits)
  }

  /** Span-level decontamination EMIT — the salvage alternative to
    * [[decontaminate]]'s drop-the-doc rule: excise exactly the token
    * positions covered by a benchmark n-gram and keep the rest of the doc
    * (the standard practice when the contamination is one quoted question
    * inside an otherwise-good page). Returns one row per corpus doc:
    * (docid, ntok, removed_tokens, n_spans, kept_sha) — kept_sha is the
    * sha256 of the space-joined surviving token stream, the byte-level
    * emit proof the oracle pins.
    *
    * Scale shape: corpus grams join the BROADCAST benchmark vocab and only
    * HIT positions travel (benchmark-bounded, exactly like decontaminate);
    * span merging and the excision are doc-local over each doc's own
    * sorted hit list (coverage intervals via the duplicateSpans recipe);
    * content tokens never shuffle — the kept stream is rebuilt where the
    * doc's row lives. */
  def decontaminateSpans(corpus: Dataset[TokDoc], benchmark: Dataset[TokDoc],
                         n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import corpus.sparkSession.implicits._
    val benchVocab = Dedup.shingles(benchmark, n).select("shingle").distinct()
    val grams = corpus.mapPartitions(_.flatMap { d =>
      if (d.terms.length < n) Iterator.empty
      else (0 to d.terms.length - n).iterator
        .map(i => (d.docid, i, d.terms.slice(i, i + n).mkString(" ")))
    }).toDF("docid", "pos", "shingle")
    val hits = grams.join(broadcast(benchVocab), Seq("shingle"), "left_semi")
      .groupBy("docid").agg(sort_array(collect_list(col("pos"))).as("ps"))
    val diffs = zip_with(
      slice(col("ps"), lit(2), size(col("ps")) - 1),
      slice(col("ps"), lit(1), size(col("ps")) - 1),
      (a, b) => a - b)
    val covered = array_distinct(flatten(
      transform(col("ps"), p => sequence(p, p + n - 1))))
    corpus.map(d => (d.docid, d.terms)).toDF("docid", "terms")
      .join(hits, Seq("docid"), "left")
      // excision via array_except over the index sequence (hash-set
      // semantics, order-preserving on the first argument) — a per-token
      // array_contains scan would be O(ntok * ncovered) on a heavily
      // contaminated doc
      .withColumn("kept",
        when(col("ps").isNull, col("terms"))
          .otherwise(transform(
            array_except(sequence(lit(0), size(col("terms")) - 1), covered),
            i => element_at(col("terms"), i + 1))))
      .select(col("docid"),
        size(col("terms")).cast("long").as("ntok"),
        (size(col("terms")) - size(col("kept"))).cast("long").as("removed_tokens"),
        when(col("ps").isNull, 0L)
          .otherwise(lit(1) + size(filter(diffs, x => x > n))).cast("long").as("n_spans"),
        sha2(concat_ws(" ", col("kept")), 256).as("kept_sha"))
  }

  /** Sequence packing for LLM training (concat-and-chunk): documents are
    * concatenated in docid order into one global token stream and cut into
    * fixed `seqLen` chunks; each doc reports its token interval
    * [tok_start, tok_end) and the first/last chunk it lands in (chunks CUT
    * ACROSS documents — the standard pretraining packing).
    *
    * Scale shape: the global running sum is `Mixing.withRunningTotal`'s
    * two-phase distributed scan (per-range-partition prefix sums over a
    * checkpoint-pinned partitioning + broadcast offsets) over the
    * (docid, ntok) projection — never content, never ONE global window
    * task. Zero-token docs occupy no stream positions and are excluded.
    * TextStatsSpec asserts the two-phase result equals the naive global
    * window on the same input. */
  def packSequences(td: Dataset[TokDoc], seqLen: Int): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    import td.sparkSession.implicits._
    val lens = td.map(d => (d.docid, d.terms.length.toLong)).toDF("docid", "ntok")
      .filter(col("ntok") > 0)
    val (scanned, _) = Mixing.withRunningTotal(lens, Seq("docid"), col("ntok"), "tok_end")
    scanned
      .withColumn("tok_start", col("tok_end") - col("ntok"))
      .withColumn("first_seq", floor(col("tok_start") / seqLen).cast("long"))
      .withColumn("last_seq", floor((col("tok_end") - 1) / seqLen).cast("long"))
      .select("docid", "ntok", "tok_start", "first_seq", "last_seq")
  }

  /** RAG-style passage chunking: split each doc's token stream into
    * overlapping windows of `size` tokens advancing by `stride`
    * (overlap = size − stride) — the retrieval-index complement of
    * [[packSequences]] (which packs ACROSS docs for training; passages
    * stay doc-local for retrieval). Windows start at 0, stride, 2·stride,
    * …; the count is 1 for docs of ≤ size tokens, else
    * 1 + ceil((n − size)/stride) — the last window is the only one allowed
    * to be short, and no window starts at or past the end. Token-free docs
    * emit nothing.
    *
    * Output (docid, pid, tok_start, n_toks, passage) with `passage` the
    * space-joined tokens — deterministic given the tokenizer contract.
    * Doc-local flatMap: ZERO shuffle, no state; at 100 TB this is a pure
    * map stage that scales with input splits. */
  def passages(td: Dataset[TokDoc], size: Int, stride: Int): DataFrame = {
    require(size > 0, s"passage size must be positive, got $size")
    require(stride > 0 && stride <= size,
      s"stride must be in [1, size]; got stride=$stride size=$size")
    import td.sparkSession.implicits._
    td.mapPartitions(_.flatMap { d =>
      val n = d.terms.length
      if (n == 0) Iterator.empty
      else {
        val nP = if (n <= size) 1 else (1 + (n - size + stride - 1) / stride)
        (0 until nP).iterator.map { p =>
          val start = p * stride
          val end = math.min(start + size, n)
          (d.docid, p.toLong, start.toLong, (end - start).toLong,
            d.terms.slice(start, end).mkString(" "))
        }
      }
    }).toDF("docid", "pid", "tok_start", "n_toks", "passage")
  }

  /** Unigram-LM quality score (perplexity proxy): per doc, the mean token
    * log-probability under the corpus' own unigram model,
    * avg_t ln(n(t)/N) — the cheap first-pass filter before an external LM.
    * Engine-portable by construction: per-TERM ln(n) is rounded to 1e-6
    * once (vocab-sized float exposure, like C1's lgamma contract), then the
    * per-doc arithmetic is exact integers until the final 1e-4 rounding —
    * a float-summation-order difference between engines can never flip the
    * hash. Marginals join is corpus-side; AQE broadcasts the vocab when
    * small. */
  def unigramLogProb(td: Dataset[TokDoc]): DataFrame = {
    import td.sparkSession.implicits._
    val toks = td.flatMap(d => d.terms.iterator.map(t => (d.docid, t))).toDF("docid", "term")
    val marg = toks.groupBy("term")
      .agg(round(log(count(lit(1)).cast("double")) * 1e6).cast("long").as("lne6"))
    val tot = toks.agg(round(log(count(lit(1)).cast("double")) * 1e6).cast("long").as("lnne6"))
    toks.join(marg, Seq("term"))
      .groupBy("docid")
      .agg(sum(col("lne6")).as("s"), count(lit(1)).as("ntok"))
      .crossJoin(tot)
      .select(col("docid"), col("ntok"),
        round((col("s").cast("double") / col("ntok") - col("lnne6").cast("double")) / 100.0)
          .cast("long").as("logprob_e4"))
  }

  /** Bigram-LM quality score (perplexity proxy), the CCNet-style upgrade of
    * [[unigramLogProb]]: per doc, the mean bigram log-probability under the
    * corpus' own Jelinek–Mercer-interpolated bigram model,
    *
    *   p(w2|w1) = λ·c(w1,w2)/c1(w1) + (1−λ)·c(w2)/N
    *
    * with c1(w1) = Σ_w2 c(w1,w2) (contexts with a successor) — interpolation
    * means unseen bigrams never zero out a doc, the standard smoothing for a
    * corpus-trained LM filter (Jelinek & Mercer 1980; CCNet uses a KenLM
    * 5-gram the same way). Docs with < 2 tokens have no bigrams and are
    * absent from the output.
    *
    * Engine contract: ln(p) is computed and 1e-6-quantized once per bigram
    * TYPE (the only float exposure — and the p expression is the identical
    * IEEE op sequence in the oracle, division→multiply→add→ln→round), then
    * per-doc sums are exact BIGINTs until the final 1e-4 rounding — the
    * [[unigramLogProb]] contract, one n-gram order up.
    *
    * Scale shape: bigram instances are counted doc-LOCALLY inside the typed
    * mapPartitions (one hash map per doc — no (doc,bigram) shuffle exists);
    * the global bigram-type counts are ONE map-side-combinable aggregation
    * (hot bigrams like "of the" collapse per-partition before the
    * exchange); context totals derive from the TYPE table (vocab-keyed, no
    * extra corpus pass); the score join keys on the uniform (w1,w2)
    * composite, and AQE broadcasts the type table when it is small. */
  def bigramLogProb(td: Dataset[TokDoc], lambda: Double = 0.9): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda must be in (0,1), got $lambda")
    import td.sparkSession.implicits._
    val bg = td.mapPartitions(_.flatMap { d =>
      if (d.terms.length < 2) Iterator.empty
      else {
        val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
        var i = 0
        while (i < d.terms.length - 1) {
          val k = (d.terms(i), d.terms(i + 1))
          m.update(k, m.getOrElse(k, 0L) + 1L)
          i += 1
        }
        m.iterator.map { case ((w1, w2), c) => (d.docid, w1, w2, c) }
      }
    }).toDF("docid", "w1", "w2", "cnt")
    val uni = td.flatMap(d => d.terms.iterator).toDF("term")
      .groupBy("term").agg(count(lit(1)).as("n2"))
    val nTot = uni.agg(sum(col("n2")).as("nn"))
    val bcounts = bg.groupBy("w1", "w2").agg(sum("cnt").as("nb"))
    val ctx = bcounts.groupBy("w1").agg(sum("nb").as("nc"))
    val scores = bcounts
      .join(ctx, "w1")
      .join(uni.withColumnRenamed("term", "w2"), "w2")
      .crossJoin(broadcast(nTot))
      .select(col("w1"), col("w2"),
        round(log(lit(lambda) * (col("nb").cast("double") / col("nc").cast("double"))
          + lit(1.0 - lambda) * (col("n2").cast("double") / col("nn").cast("double"))) * 1e6)
          .cast("long").as("lnp_e6"))
    bg.join(scores, Seq("w1", "w2"))
      .groupBy("docid")
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("lnp_e6")).as("s"))
      .select(col("docid"), col("n_bigrams"),
        round(col("s").cast("double") / col("n_bigrams").cast("double") / 100.0)
          .cast("long").as("logprob_e4"))
  }

  /** Top-k corpus vocabulary with cumulative coverage — the vocab
    * construction step of a tokenizer-training pipeline: terms ranked by
    * frequency (count desc, then term — a total order, so ranks are
    * engine-stable), each with its share of the token stream and the
    * cumulative coverage up to its rank.
    *
    * Scale shape: one per-term count aggregation over the token projection
    * (uniform key space), then a DISTRIBUTED top-k (TakeOrdered — never a
    * global sort), and only the k surviving rows pass through the ranking
    * window — k is bounded and small, so the single-partition window is a
    * driver-scale afterthought, not a corpus funnel. */
  def vocabulary(td: Dataset[TokDoc], k: Int): DataFrame = {
    require(k > 0, s"vocabulary size must be positive, got $k")
    import td.sparkSession.implicits._
    val counts = td.flatMap(d => d.terms.iterator).toDF("term")
      .groupBy("term").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    val topk = counts.orderBy(col("n").desc, col("term")).limit(k)
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term"))
    val wCum = wRank.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    topk.crossJoin(total)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("share_e4", round(col("n") * 10000.0 / col("total")).cast("long"))
      .withColumn("coverage_e4",
        round(sum(col("n")).over(wCum) * 10000.0 / col("total")).cast("long"))
      .select("rank", "term", "n", "share_e4", "coverage_e4")
  }

  /** Per-document keyword extraction: the k highest-tf-idf terms of every
    * doc, rank 1..k strongest-first —
    *
    *   score_q(d,t) = tf(d,t) · idf_e6(t),   idf_e6(t) = round(ln(N/df(t))·1e6)
    *
    * with N = docs carrying ≥1 token and df = docs containing t. The idf
    * ln is quantized once per TERM (vocab-sized float exposure), so the
    * per-(doc,term) score is an exact BIGINT product and the ranking is
    * engine-stable; ties break on the term's [[Hashes.fnv64]] (the
    * winnowing hash — replayable in the oracle), ascending.
    *
    * Scale shape: tf and the tie hash are computed doc-LOCALLY inside the
    * typed mapPartitions (no (doc,term) instance shuffle — the frame is
    * already per-doc aggregated); df/idf is one map-side-combinable
    * vocab-sized aggregation; the per-doc top-k runs through the
    * bounded-heap [[graft.functions.TopKAgg]] — losers die BEFORE the
    * shuffle (≤ k rows per doc × partition move), never a
    * `row_number() OVER (PARTITION BY doc)` sort of every term of every
    * doc (that window form is exactly what the DuckDB oracle runs); the
    * hash→term dictionary join at the end is vocab-sized → broadcast. */
  def keywords(td: Dataset[TokDoc], k: Int): DataFrame = {
    require(k > 0, s"keyword count must be positive, got $k")
    val spark = td.sparkSession
    import spark.implicits._
    val tf = td.mapPartitions(_.flatMap { d =>
      if (d.terms.isEmpty) Iterator.empty
      else {
        val m = scala.collection.mutable.HashMap.empty[String, Long]
        d.terms.foreach(t => m.update(t, m.getOrElse(t, 0L) + 1L))
        m.iterator.map { case (t, c) => (d.docid, t, c, Hashes.fnv64(t)) }
      }
    }).toDF("docid", "term", "tf", "h64")
    val dfreq = tf.groupBy("term", "h64").agg(count(lit(1)).as("df"))
    val nDocs = tf.agg(countDistinct(col("docid")).as("ndocs"))
    val idf = dfreq.crossJoin(broadcast(nDocs))
      .select(col("term"), col("h64"),
        round(log(col("ndocs").cast("double") / col("df").cast("double")) * 1e6)
          .cast("long").as("idf_e6"))
    val scored = tf.join(idf.select("term", "idf_e6"), Seq("term"))
      .select(col("docid"), col("h64"), (col("tf") * col("idf_e6")).as("score_q"))
    scored.groupBy("docid")
      .agg(call_function(graft.GraftFunctions.TopKName,
        col("score_q"), col("h64"), lit(k)).as("top"))
      .select(col("docid"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("docid"), (col("i") + 1).cast("long").as("rank"),
        col("p.tie").as("h64"), col("p.value").as("score_q"))
      .join(broadcast(idf.select("h64", "term")), Seq("h64"))
      .select("docid", "rank", "term", "score_q")
  }

  /** EXACT distributed heavy hitters: every term with global count ≥
    * `minCount`, with its exact count — WITHOUT the vocabulary-sized
    * shuffle exact top-k ([[vocabulary]]) pays. Two stages:
    *
    *  1. per-partition Misra–Gries summaries of `capacity` counters
    *     (mapPartitions, zero shuffle) — the candidate generator. MG's
    *     guarantee: a term absent from partition p's summary has
    *     partition count ≤ n_p/(capacity+1), so a term absent from EVERY
    *     summary has global count ≤ N/(capacity+1) < minCount — NO false
    *     negatives (the operator THROWS if `minCount` doesn't clear that
    *     bound, converge-or-throw style, instead of silently missing
    *     hitters).
    *  2. exact recount restricted to the candidate set (≤ partitions ×
    *     capacity rows, broadcast semi-join) — false positives die here.
    *
    * 100 TB shape: the only shuffle is the recount aggregation over
    * candidate terms only; state per task is `capacity` counters. This is
    * the candidate-then-verify pattern (same as LSH-dedup): sketch for
    * recall, exact pass for precision. */
  def heavyHitters(td: Dataset[TokDoc], minCount: Long, capacity: Int = 1024): DataFrame = {
    require(minCount > 0 && capacity > 0, s"need minCount/capacity > 0; got $minCount/$capacity")
    import td.sparkSession.implicits._
    val terms = td.flatMap(_.terms.iterator)
    // (term, n_p): candidate rows carry term, one marker row per partition
    // (term = null) carries the partition's token count for the bound check
    val summaries = terms.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var np = 0L
      it.foreach { t =>
        np += 1L
        m.get(t) match {
          case Some(c) => m.update(t, c + 1L)
          case None if m.size < capacity => m.update(t, 1L)
          case None => // Misra–Gries decrement-all; zeros evict
            val dead = m.iterator.collect { case (k, 1L) => k }.toList
            m.mapValuesInPlace((_, c) => c - 1L)
            dead.foreach(m.remove)
        }
      }
      m.keysIterator.map(k => (k, 0L)) ++ Iterator((null: String, np))
    }.toDF("term", "np")
    val cand = graft.plans.Pinned.pin(summaries)
    val keys = try {
      val n = cand.filter(col("term").isNull)
        .agg(coalesce(sum(col("np")), lit(0L))).as[Long].head()
      val bound = n / (capacity + 1L)
      require(minCount > bound,
        s"minCount=$minCount does not clear the Misra–Gries no-false-negative bound " +
          s"N/(capacity+1)=$bound — raise capacity or the threshold")
      // bounded pull (≤ partitions × capacity rows) — same class as the
      // dictionary/model pulls elsewhere; frees the pin before returning
      // the lazy recount so no lineage escapes the pin's lifetime
      cand.filter(col("term").isNotNull).select("term").distinct()
        .as[String].collect().sorted
    } finally graft.plans.Pinned.free(cand)
    terms.toDF("term")
      .join(broadcast(keys.toSeq.toDF("term")), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("term"))
  }

  /** ASCII-case-insensitive literal as an explicit character-class regex
    * ("script" -> "[sS][cC]..."): dialect-neutral case folding — an inline
    * (?i) would be ASCII-only in Java but Unicode in RE2 (U+017F 'ſ' folds
    * to 's' there), silently splitting the engines on exotic corpora. */
  private def ci(word: String): String =
    word.map(c => if (c.isLetter) s"[${c.toLower}${c.toUpper}]" else c.toString).mkString

  /** Markup patterns for extractText. (?s) is dialect-safe: with DOTALL both
    * Java and RE2 make `.` match every character, erasing their differing
    * default line-terminator sets; both support lazy `*?`. */
  val scriptPattern: String = s"(?s)<${ci("script")}[^>]*>.*?</${ci("script")}[ \\t\\r\\n]*>"
  val stylePattern: String = s"(?s)<${ci("style")}[^>]*>.*?</${ci("style")}[ \\t\\r\\n]*>"
  val commentPattern: String = "(?s)<!--.*?-->"
  val tagPattern: String = "<[^>]*>"

  /** HTML entities decoded after tag stripping, in this order — `&amp;`
    * LAST, so `&amp;lt;` decodes to the literal text `&lt;` (one level),
    * never to `<`. */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")

  /** Markup text extraction — the C4/CCNet-style front door that turns
    * crawled HTML into trainable text. REGEX-GRADE BY DESIGN (exactly like
    * C4's own cleaning): script/style/comment blocks dropped, remaining
    * tags replaced by a space (so adjacent words never fuse), common
    * entities decoded, whitespace runs collapsed. Not an HTML parser —
    * pathological markup (unclosed script blocks, CDATA) degrades to
    * tag-stripping, which is the documented C4 behavior too. Pure column
    * expressions: codegen'd, scan-parallel, zero shuffle; identical
    * patterns evaluate in the DuckDB oracle (explicit ASCII classes +
    * (?s), no `\s`, no lookaround). Adds `n_tags` (markup density — a
    * useful quality signal) and rewrites `content`. */
  def extractText(docs: Dataset[CodeDoc]): DataFrame = {
    val noBlocks = Seq(scriptPattern, stylePattern, commentPattern)
      .foldLeft(col("content")) { case (acc, p) => regexp_replace(acc, p, " ") }
    val noTags = regexp_replace(noBlocks, tagPattern, " ")
    val decoded = htmlEntities.foldLeft(noTags) { case (acc, (e, v)) =>
      replace(acc, lit(e), lit(v))
    }
    val cleaned = trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
    docs.toDF()
      .withColumn("n_tags", regexp_count(col("content"), lit(tagPattern)).cast("long"))
      .withColumn("content", cleaned)
  }

  /** One-pass dataset card — the first question asked of any corpus
    * ("what's in it?") at three granularities in ONE shuffle: per
    * (lang, size bucket), per lang, and the grand total, via ROLLUP.
    * Catalyst's Expand fans each row into its grouping sets BEFORE the
    * single exchange and partial aggregation still combines map-side — so
    * the three-level card costs one corpus pass where three groupBys would
    * cost three (at 100 TB, the difference between a dashboard refresh and
    * an afternoon). n_distinct (distinct content shas) rides along as the
    * duplication signal. Rollup-null grouping keys render as 'ALL'. */
  def datasetCard(docs: Dataset[CodeDoc]): DataFrame = {
    val sized = docs.toDF()
      .withColumn("bucket",
        when(length(col("content")) < 200, "short")
          .when(length(col("content")) < 1000, "medium")
          .otherwise("long"))
      .withColumn("sha", sha2(col("content"), 256))
      .withColumn("ntok", wordTokenCount(col("content")))
    // subtotal rows are labeled via grouping() (ADVICE r5): a coalesce on
    // the VALUE column would collide a genuinely-NULL lang (or a literal
    // 'ALL') with the subtotal label; grouping() marks the rollup arm
    // itself, so the label is unambiguous on any corpus — and identical
    // output to the old form wherever lang/bucket are non-null non-'ALL'
    sized.rollup(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("content"))).cast("long").as("n_chars"),
        sum(col("ntok")).cast("long").as("n_tokens"),
        countDistinct(col("sha")).as("n_distinct"),
        grouping(col("lang")).as("__gl"), grouping(col("bucket")).as("__gb"))
      .select(
        when(col("__gl") === 1, lit("ALL")).otherwise(col("lang")).as("lang"),
        when(col("__gb") === 1, lit("ALL")).otherwise(col("bucket")).as("bucket"),
        col("n_docs"), col("n_chars"), col("n_tokens"), col("n_distinct"))
  }

  /** Unicode NFC normalization of `content` — the curation front door's
    * hash invariant: two crawls of the same page that differ only in
    * normalization form (U+00E9 vs U+0065 U+0301) must hash identically or
    * every content-keyed operator downstream (exact dedup, line dedup,
    * fingerprints, URL dedup on page text) sees phantom distinct documents.
    * NFC is the W3C character-model recommendation for exactly this.
    *
    * Engine shape: one native codegen'd expression per row
    * ([[graft.functions.NfcNormalize]]) with a zero-allocation ASCII fast
    * path — on a code corpus the common row is a byte scan, nothing more.
    * Zero shuffle at any scale. Adds `changed` (1 when normalization
    * rewrote the text — a cheap crawl-health signal) and rewrites
    * `content`. */
  def nfcNormalize(docs: Dataset[CodeDoc]): DataFrame = {
    val nfc = call_function(graft.GraftFunctions.NfcName, col("content"))
    docs.toDF()
      .withColumn("nfc", nfc)
      .withColumn("changed", when(col("nfc") === col("content"), 0L).otherwise(1L))
      .withColumn("content", col("nfc"))
      .drop("nfc")
  }

  /** Double-quoted `href` attribute values (group 1). Same dialect rules as
    * the markup patterns: explicit ASCII case classes, no `\s`. Unquoted /
    * single-quoted attributes are out of scope BY DESIGN — like the C4
    * cleaner, this is regex-grade harvesting, not an HTML parser. */
  val hrefPattern: String = ci("href") + "[ \\t]*=[ \\t]*\"([^\"]*)\""

  /** Host of an absolute URL (group 1): scheme `://`, then everything up to
    * the first `:` (port), `/`, `?` or `#`. Relative links and non-network
    * schemes (`mailto:`) match nothing and extract to the empty string. */
  val hostPattern: String = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)"

  /** Web link-graph extraction — the Common-Crawl-style bridge from raw
    * markup to the KG analytics family: harvest absolute `href` targets and
    * aggregate them into a host-level edge list `(src_host, dst_host,
    * n_pages)`, where `n_pages` counts the pages on `src_host` linking to
    * `dst_host` (each page contributes AT MOST ONCE per target host). Feed
    * the result straight into `Graph.pagerank`/`wcc` for the classic
    * domain-authority curation signal. Self-host edges are dropped (they
    * are navigation, not endorsement — the standard host-graph convention),
    * as are relative links and non-network schemes (no resolvable host).
    *
    * 100 TB shape: href harvest, host normalization, and the per-page
    * target dedup (`array_distinct`) are all doc-LOCAL column expressions —
    * the dedup happens BEFORE the explode, so the single shuffle of the
    * plan is the final host-pair aggregation over an edge count bounded by
    * pages x distinct-hosts-per-page, never a raw-anchor stream. Hub hosts
    * skew the key space exactly like hot terms; the two-phase partial agg
    * absorbs it (counts, not collections). */
  def linkGraph(pages: DataFrame, urlCol: String = "url",
                contentCol: String = "content"): DataFrame = {
    val host = (c: org.apache.spark.sql.Column) => lower(regexp_extract(c, hostPattern, 1))
    val src = host(col(urlCol))
    val dsts = array_distinct(filter(
      transform(regexp_extract_all(col(contentCol), lit(hrefPattern), lit(1)), host),
      h => h =!= lit("") && h =!= src))
    pages.select(src.as("src_host"), explode(dsts).as("dst_host"))
      .filter(col("src_host") =!= "")
      .groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_pages"))
  }

  /** A full double-quoted-href anchor element: group 1 = the target URL,
    * group 2 = the inner text up to the first `<` (regex-grade, like the
    * rest of the markup family — nested markup inside the anchor truncates
    * the text, by design). */
  val anchorPattern: String =
    "<[aA][ \\t][^>]*" + hrefPattern + "[^>]*>([^<]*)<"

  /** Anchor-text harvesting — the other half of [[linkGraph]]: what the web
    * CALLS each host (the classic relevance/entity-naming signal — anchor
    * text is how search engines label pages they never parsed). For every
    * cross-host anchor, tokenize the anchor's inner text with the standard
    * tokenizer contract and count (dst_host, term) references.
    *
    * Scale shape: harvest (one regexp pass, two positional group extracts
    * zipped), host normalization, per-anchor tokenize and the (host, term)
    * pairing are ALL doc-local column work; the single shuffle is the final
    * count aggregation, map-side-combinable — a hot (host, term) pair
    * ("click here" → everywhere) collapses per-partition first, the same
    * skew shape as the link graph itself. Group 2 of [[anchorPattern]] is
    * extracted POSITIONALLY against group 1 (`arrays_zip` of two
    * `regexp_extract_all` passes over the identical pattern), so target
    * and text can never misalign. */
  def anchorText(pages: DataFrame, urlCol: String = "url",
                 contentCol: String = "content"): DataFrame = {
    val host = (c: org.apache.spark.sql.Column) => lower(regexp_extract(c, hostPattern, 1))
    val srcHost = host(col(urlCol))
    val pairs = arrays_zip(
      transform(regexp_extract_all(col(contentCol), lit(anchorPattern), lit(1)), host)
        .as("dst_host"),
      regexp_extract_all(col(contentCol), lit(anchorPattern), lit(2)).as("text"))
    pages
      .select(srcHost.as("src_host"), explode(pairs).as("a"))
      .select(col("src_host"), col("a.dst_host").as("dst_host"),
        explode(wordTokens(col("a.text"))).as("term"))
      .filter(col("dst_host") =!= "" && col("dst_host") =!= col("src_host"))
      .groupBy("dst_host", "term")
      .agg(count(lit(1)).as("n_refs"))
  }

  /** Winnowing document fingerprints (MOSS-style): the FNV hash of each
    * k-gram of the token stream ([[kgramHashes]], which hashes every k-gram
    * afresh, O(n·k) per document, not a rolling hash), then the minimum hash
    * in each sliding window of w k-grams — a deterministic, position-robust
    * signature set. */
  def fingerprints(td: Dataset[TokDoc], k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"k-gram length k must be >= 1; got $k")
    require(w >= 1, s"winnowing window w must be >= 1; got $w")
    import td.sparkSession.implicits._
    // (docid, fp) rows are distinct BY CONSTRUCTION (winnow returns a per-doc
    // Set), so no corpus-wide distinct shuffle — the operator stays narrow
    td.mapPartitions(_.flatMap { d =>
      val grams = kgramHashes(d.terms, k)
      winnow(grams, w).iterator.map(fp => (d.docid, fp))
    }).toDF("docid", "fingerprint")
  }

  /** Cross-document shared-span detection (the MOSS use case — Schleimer,
    * Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting"): pairs of documents sharing at least `minShared`
    * winnowing fingerprints, i.e. at least that many distinct k-token runs
    * in common — the cross-doc complement of the doc-LOCAL duplicate-span
    * operator. Output (da, db, n_shared), each unordered pair once
    * (da < db).
    *
    * Execution — the standing bucketed-candidate shape: fingerprints are
    * already winnowed to ~2/(w+1) density; a count-first prune drops
    * singleton fingerprints (cannot pair) and fingerprints in more than
    * `hotCap` docs (corpus boilerplate — a license header's fingerprint
    * would otherwise emit a near-quadratic pair blowup, same pathology and
    * same cure as the LSH hot-bucket guard). Pairs then explode only
    * inside a fingerprint's ≤hotCap doc list and aggregate per pair; the
    * quadratic is bounded per bucket BY the guard, and the guard's
    * exclusions are part of the operator contract, not a silent cap. */
  def sharedSpanPairs(td: Dataset[TokDoc], k: Int = 5, w: Int = 4,
                      minShared: Long = 2, hotCap: Long = 20): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1; got $minShared")
    require(hotCap >= 2, s"hotCap must allow pairs (>= 2); got $hotCap")
    val fp = fingerprints(td, k, w)
    val pairable = fp.groupBy("fingerprint")
      .agg(count(lit(1)).as("nf"))
      .filter(col("nf") >= 2 && col("nf") <= hotCap)
      .select("fingerprint")
    val pruned = fp.join(pairable, "fingerprint")
    val lhs = pruned.select(col("fingerprint"), col("docid").as("da"))
    val rhs = pruned.select(col("fingerprint"), col("docid").as("db"))
    lhs.join(rhs, Seq("fingerprint"))
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The FNV of each k-gram `terms(i) + " " + ... + terms(i+k-1) + " "`
    * ([[Hashes.fnv64]] of that string, folded without building it). */
  private[graft] def kgramHashes(terms: Array[String], k: Int): Array[Long] = {
    if (terms.length < k) return Array.empty
    val out = new Array[Long](terms.length - k + 1)
    var i = 0
    while (i <= terms.length - k) {
      var h = Hashes.FnvStart
      var j = i
      while (j < i + k) { h = Hashes.fnvStep(Hashes.fnvChars(h, terms(j)), ' '); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  private[graft] def winnow(hashes: Array[Long], w: Int): Set[Long] = {
    if (hashes.isEmpty) return Set.empty
    if (hashes.length <= w) return Set(hashes.min)
    val out = scala.collection.mutable.Set.empty[Long]
    var i = 0
    while (i + w <= hashes.length) {
      var m = hashes(i)
      var j = i + 1
      while (j < i + w) { if (hashes(j) < m) m = hashes(j); j += 1 }
      out += m
      i += 1
    }
    out.toSet
  }
}
