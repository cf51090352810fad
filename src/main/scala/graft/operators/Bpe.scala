package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.TokDoc
import graft.plans.Pinned

/** Distributed BPE-style merge training (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016 — public
  * literature): learn the first `nMerges` subword merges from the corpus.
  * This is the tokenizer-TRAINING step `TextStats.vocabulary`'s unigram
  * top-k approximates from above: iterative adjacent-pair counting over the
  * word dictionary, one merge per round.
  *
  * Scale shape — the standard scaling of BPE trainers, distributed:
  *   - the ONLY corpus-scale pass is the word-count aggregation (uniform
  *     key space, partial-agg combinable) — content never shuffles;
  *   - every merge round then runs over the DISTINCT-WORD table weighted by
  *     counts (vocabulary-sized, orders of magnitude below the corpus) as
  *     ONE pair-count aggregation plus a single-row argmax collect — the
  *     driver ever holds only the merge table itself;
  *   - the evolving word table is re-pinned per round (Pinned.pin — durable
  *     under graft.checkpoint.dir) and the superseded round's blocks are
  *     freed, so lineage and cached state stay O(1) in rounds.
  *
  * Representation: a word's symbol sequence is one string with every symbol
  * brace-wrapped ("low" -> "{l}{o}{w}"), and applying a merge is ONE literal
  * string replace of "{l}{r}" with "{lr}" — leftmost non-overlapping, which
  * equals the per-word left-to-right merge fold because a merged symbol can
  * never re-match the same pair within the pass (BpeSpec proves equality
  * against an array-fold reference). Braces cannot collide with symbol text
  * (tokenizer contract [a-z0-9_]) and per-symbol wrapping means adjacent
  * pair occurrences share NO delimiter characters (a space-joined form
  * silently misses every second occurrence of a repeated pair: in
  * " a b a b " the two " a b " matches overlap on the middle space). Both
  * the pair explode and the replace are pure codegen column work, and the
  * identical replace semantics exist in DuckDB, so the oracle replays
  * training bit-for-bit.
  *
  * Determinism: the best pair per round is max count with ties broken by
  * (left, right) lexicographically — a total order, so the merge table is
  * reproducible across runs AND cluster sizes.
  *
  * Returns the merge table (step, lhs, rhs, pair_count), step 1-based;
  * stops early if the corpus runs out of adjacent pairs.
  */
object Bpe {

  /** Brace-wrapped symbol sequence for a word column. The empty-string
    * filter guards against regex-split artifacts (a trailing "" would mint
    * a phantom "{}" symbol); DuckDB's string_split(w, '') yields bare
    * chars. */
  private def seqOf(w: org.apache.spark.sql.Column) =
    concat(lit("{"),
      array_join(filter(split(w, ""), c => length(c) > 0), "}{"), lit("}"))

  /** Symbols array parsed back from the brace form. */
  private def symsOf(seq: org.apache.spark.sql.Column) =
    split(seq.substr(lit(2), length(seq) - 2), "\\}\\{")

  /** The brace encoding requires brace-free terms (guaranteed by the
    * repo's [a-z0-9_] tokenizer contract, but merges/encode are public and
    * accept any TokDoc source) — a term containing '{'/'}' would mint
    * phantom symbols and silently corrupt the merge table, so the word
    * dictionary is checked ONCE per call (vocabulary-sized scan) and the
    * violation surfaces loudly instead. */
  private def requireBraceFree(words: DataFrame): Unit = {
    val bad = words.filter(col("w").contains("{") || col("w").contains("}"))
      .select("w").head(1)
    require(bad.isEmpty,
      s"BPE symbol encoding requires brace-free terms; found '${bad.headOption.map(_.getString(0)).getOrElse("")}' " +
        "— tokenize to the [a-z0-9_] contract before training")
  }

  /** Word-count table with the brace-wrapped symbol form — the single
    * corpus-scale pass both trainers share. */
  private def pinnedVocab(td: Dataset[TokDoc]): DataFrame = {
    val spark = td.sparkSession
    import spark.implicits._
    val words = td.flatMap(_.terms.iterator).toDF("w")
      .groupBy("w").agg(count(lit(1)).as("n"))
    val v = Pinned.pin(
      words.select(col("w"), col("n"), seqOf(col("w")).as("seq")))
    requireBraceFree(v)
    v
  }

  def merges(td: Dataset[TokDoc], nMerges: Int): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    val spark = td.sparkSession
    import spark.implicits._

    // corpus-scale pass: distinct-word counts, then never touch docs again
    var vocab = pinnedVocab(td)

    val table = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      // adjacent symbol pairs weighted by word count; one agg + 1-row argmax
      val syms = symsOf(col("seq"))
      val prs = transform(slice(syms, lit(1), size(syms) - 1), (x, i) =>
        struct(x.as("l"), element_at(syms, i + lit(2)).as("r")))
      val best = vocab
        .select(col("n"), explode(prs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        table += ((step.toLong, l, r, cnt))
        val next = Pinned.pin(vocab.withColumn("seq",
          replace(col("seq"), lit(s"{$l}{$r}"), lit(s"{$l$r}"))))
        Pinned.free(vocab)
        vocab = next
        step += 1
      }
    }
    Pinned.free(vocab)
    table.result().toDF("step", "lhs", "rhs", "pair_count")
  }

  /** BATCHED merge training — the fix for the practical-scale gap where
    * one aggregation + one driver argmax PER MERGE caps nMerges at a few
    * hundred (a real tokenizer needs 10^4–10^5 merges). Two modes:
    *
    * `exact = true` (default): BIT-FOR-BIT the same merge table as the
    * sequential `merges` on EVERY input (BpeSpec proves it on randomized
    * adversarial corpora, not just fixtures). The batch is the longest
    * ranked PREFIX of pairwise symbol-disjoint pairs, ended at the first
    * candidate that (a) shares a symbol with an accepted pair, (b) equals
    * an accepted concatenation, or (c) has a concatenation already present
    * as a corpus symbol (= some earlier merge's concat; initial symbols
    * are single chars, so the driver-side concat inventory is the complete
    * multi-char symbol set) — then TRIMMED to counts strictly above the
    * stop point. Why that replays sequential exactly: accepted pair j's
    * count is untouched by merges 1..j-1 (disjoint, no concat collisions);
    * every stale pair sharing a symbol with the accepted set ranks at or
    * after the stop, so its count ≤ stop < cnt_j and only decreases; and
    * every NEWLY minted pair (x, l_i·r_i) is bounded by the stale count of
    * the sharing pair (x, l_i) ≤ stop < cnt_j. So the sequential argmax at
    * sub-step j is pair j, tie-break included. Rank-1 is the true argmax
    * unconditionally, so a round always applies ≥ 1 merge — worst case
    * degrades to the sequential trainer, never past it. The cost of
    * exactness: on small-alphabet/heavy-interference corpora the provable
    * batch is usually 1–3.
    *
    * `exact = false`: the standard greedy trick (the batching used by
    * practical-scale tokenizer trainers): take up to maxBatch pairwise
    * symbol-disjoint pairs from the ranked list, SKIPPING conflicts
    * instead of stopping. Round count ≈ nMerges / maxBatch-ish regardless
    * of interference; the merge ORDER may deviate from the strict argmax
    * sequence when a skipped conflicting pair would have out-counted a
    * later accepted one after the earlier merges landed. Each recorded
    * pair_count is the planning-time count. Within a round the accepted
    * pairs are still symbol-disjoint (concats included), so the chained
    * replace is order-independent and `encodeWords`' in-order fold
    * reproduces training segmentation exactly.
    *
    * Scale shape per round (both modes): the same ONE vocabulary-sized
    * pair aggregation as the sequential trainer, a bounded collect
    * (maxBatch-driven, never the pair table), and ONE re-pin applying the
    * whole batch as a chained codegen replace. */
  def mergesBatched(td: Dataset[TokDoc], nMerges: Int, maxBatch: Int = 64,
                    exact: Boolean = true): DataFrame =
    mergesBatchedWithRounds(td, nMerges, maxBatch, exact)._1

  /** mergesBatched plus the number of Spark rounds it took (the bench
    * artifact's round-count ≪ nMerges evidence). */
  def mergesBatchedWithRounds(td: Dataset[TokDoc], nMerges: Int,
                              maxBatch: Int = 64,
                              exact: Boolean = true): (DataFrame, Int) = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(maxBatch > 0, s"maxBatch must be positive, got $maxBatch")
    val spark = td.sparkSession
    import spark.implicits._

    var vocab = pinnedVocab(td)
    // complete inventory of multi-char symbols in the corpus: exactly the
    // concats of merges applied so far (initial symbols are single chars).
    // Exact mode only — greedy's used-set check already keeps same-round
    // batches disjoint, and cross-round collisions are plain BPE there.
    val inventory = scala.collection.mutable.Set.empty[String]
    val table = Seq.newBuilder[(Long, String, String, Long)]
    var step = 1
    var rounds = 0
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val syms = symsOf(col("seq"))
      val prs = transform(slice(syms, lit(1), size(syms) - 1), (x, i) =>
        struct(x.as("l"), element_at(syms, i + lit(2)).as("r")))
      val want = math.min(maxBatch, nMerges - step + 1)
      // greedy skips conflicts, so it needs list depth beyond `want`; the
      // over-fetch is bounded (4x + slack), never the whole pair table —
      // an under-filled greedy batch just means one more round
      val fetch = if (exact) want + 1 else want * 4 + 16
      val top = vocab
        .select(col("n"), explode(prs).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(fetch).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val batch: Seq[(String, String, Long)] =
          if (exact) {
            // stop-point bound: counts of everything not accepted this round
            // (first rejection, or the truncation row when the fetch filled)
            var cStop = if (top.length > want) top(want)._3 else -1L
            var stopped = false
            var i = 0
            while (!stopped && i < math.min(top.length, want)) {
              val (l, r, cnt) = top(i)
              if (accepted.isEmpty) {
                // rank-1 is the sequential argmax unconditionally; if its
                // concat collides with an existing symbol the batch must
                // end here (the merge mints new instances of that symbol,
                // voiding every stale count involving it)
                accepted += ((l, r, cnt))
                if (inventory.contains(l + r)) stopped = true
                else used ++= Seq(l, r, l + r)
              } else if (used(l) || used(r) || used(l + r) || inventory.contains(l + r)) {
                cStop = math.max(cStop, cnt)
                stopped = true
              } else {
                accepted += ((l, r, cnt))
                used ++= Seq(l, r, l + r)
              }
              i += 1
            }
            // counts are non-increasing in rank: the strict trim keeps a prefix
            (accepted.head +: accepted.tail.takeWhile(_._3 > cStop)).toSeq
          } else {
            var i = 0
            while (accepted.length < want && i < top.length) {
              val (l, r, cnt) = top(i)
              if (!used(l) && !used(r) && !used(l + r)) {
                accepted += ((l, r, cnt))
                used ++= Seq(l, r, l + r)
              }
              i += 1
            }
            accepted.toSeq
          }
        val newSeq = batch.foldLeft(col("seq")) { case (acc, (l, r, _)) =>
          replace(acc, lit(s"{$l}{$r}"), lit(s"{$l$r}"))
        }
        val next = Pinned.pin(vocab.withColumn("seq", newSeq))
        Pinned.free(vocab)
        vocab = next
        batch.foreach { case (l, r, cnt) =>
          table += ((step.toLong, l, r, cnt))
          if (exact) inventory += (l + r)
          step += 1
        }
        rounds += 1
      }
    }
    Pinned.free(vocab)
    (table.result().toDF("step", "lhs", "rhs", "pair_count"), rounds)
  }

  /** ENCODE with a learned merge table: per distinct word, the subword
    * count after applying `merges` in training order. The whole merge chain
    * compiles to ONE column expression (nMerges chained literal replaces
    * over the brace form) evaluated once per DISTINCT word — never per
    * token occurrence. */
  def encodeWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val seq = merges.foldLeft(seqOf(col("w"))) { case (acc, (l, r)) =>
      replace(acc, lit(s"{$l}{$r}"), lit(s"{$l$r}"))
    }
    // the brace-free guard rides INSIDE the computed column (raise_error on
    // the violating row) — a separate eager check would re-evaluate the
    // corpus-scale distinct-words input a second time, and a guard in a
    // dropped side column would be pruned by Catalyst before it ever ran
    words.withColumn("n_subwords",
      when(col("w").contains("{") || col("w").contains("}"),
        raise_error(concat(lit("BPE symbol encoding requires brace-free terms; found '"),
          col("w"), lit("' — tokenize to the [a-z0-9_] contract first"))))
        .otherwise(size(symsOf(seq)))
        .cast("long"))
  }

  /** Per-document subword counts under a learned merge table — the APPLY
    * step of tokenizer training (the number the packing/mixing operators
    * consume once a real tokenizer exists). Scale shape: the merge chain
    * runs over the distinct-word projection (vocabulary-sized); the token
    * stream then joins that map — AQE broadcasts it when it fits — and one
    * aggregation emits (docid, ntok, n_subwords). */
  def encode(td: Dataset[TokDoc], merges: Seq[(String, String)]): DataFrame = {
    val spark = td.sparkSession
    import spark.implicits._
    val toks = td.flatMap(d => d.terms.iterator.map(t => (d.docid, t))).toDF("docid", "w")
    val wmap = encodeWords(toks.select("w").distinct(), merges)
    toks.join(wmap, Seq("w"))
      .groupBy("docid")
      .agg(count(lit(1)).as("ntok"), sum(col("n_subwords")).as("n_subwords"))
  }

  /** Full SEGMENTATION under a learned table: like encodeWords but emits
    * the subword array itself (`subwords`), not just its length — the
    * per-word artifact a serving tokenizer ships. Same single column
    * expression; the guard semantics ride in via encodeWords' count. */
  def segmentWords(words: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val seq = merges.foldLeft(seqOf(col("w"))) { case (acc, (l, r)) =>
      replace(acc, lit(s"{$l}{$r}"), lit(s"{$l$r}"))
    }
    encodeWords(words, merges).withColumn("subwords", symsOf(seq))
  }

  /** Reference single-machine merge application for one symbol array —
    * the left-to-right fold the string replace must equal; used by tests
    * and usable to tokenize new text with a learned table. */
  private[graft] def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    syms.foreach { x =>
      if (out.nonEmpty && out.last == l && x == r) { out.remove(out.length - 1); out += l + r }
      else out += x
    }
    out.toArray
  }
}
