package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.{CodeDoc, CovTok, TokDoc, Token, WinTok, WsidConfig}

/** T1–T4 (SURVEY.md §2.3): tokenization, stopword filtering, mention
  * detection and context-window extraction — all doc-local, implemented as
  * ONE typed mapPartitions pass (the north-star mandate, BASELINE.json:6).
  *
  * Doc-locality is the key scale property: window extraction never shuffles.
  * The equivalent relational form (tokens self-join with a band predicate)
  * is kept as the DuckDB oracle for T4 (SparkEntry.oracleSql), not as the
  * production path.
  */
object Tokenize {

  /** Word tokenizer: maximal runs of [a-z0-9_] after per-char ASCII
    * lowercasing. Positions are 0-based indexes in the stopword-FILTERED
    * stream (stopwords are removed before positions are assigned, so the
    * ±w window spans w real context terms — SURVEY.md §2.3 T1/T2).
    *
    * The token-character class is pinned to the oracle's contract — DuckDB
    * splits lower(content) on '[^a-z0-9_]+' — on EVERY corpus, not just
    * ASCII ones. The oracle LOWERCASES FIRST, so the class test runs on the
    * per-char lowercase: characters whose single-char case folding IS an
    * ASCII token char (U+212A KELVIN -> 'k', U+0130 dotted-I -> 'i') are
    * token chars, everything else non-[a-z0-9_] after folding is a
    * separator — verified against DuckDB's utf8proc lower() for these
    * foldings and the accented/CJK cases in TokenizeSpec. Hand-rolled char
    * scanner instead of java.util.regex: tokenization runs over the full
    * corpus, so Matcher allocation + the full-string toLowerCase copy were
    * measurable memory-bandwidth costs.
    *
    * UNICODE-VERSION COUPLING (part of the contract): the non-ASCII branch
    * delegates to java.lang.Character.toLowerCase, while the DuckDB oracle
    * folds with utf8proc — two libraries tracking different Unicode
    * versions. The chars where the two single-codepoint foldings land in
    * [a-z0-9_] were enumerated over the FULL BMP against both JDK 17 and
    * DuckDB 1.0.0 utf8proc and agree exactly: {U+0130 -> i, U+212A -> k}.
    * TokenizeSpec pins that enumeration as a recorded table and re-sweeps
    * the BMP on every test run, so a JDK upgrade that adds or shifts a case
    * mapping fails loudly instead of silently diverging Spark-vs-oracle
    * tokenization on non-ASCII corpora. */
  @inline private[graft] def isTokenChar(c: Char): Boolean = {
    val lc = if (c < 128) c | 0x20 else Character.toLowerCase(c) // ASCII fast path
    (lc >= 'a' && lc <= 'z') || (c >= '0' && c <= '9') || c == '_'
  }

  def tokensOf(content: String, stopwords: Set[String]): Array[String] = {
    val buf = new scala.collection.mutable.ArrayBuffer[String](64)
    val sb = new java.lang.StringBuilder(32)
    val n = content.length
    var i = 0
    while (i <= n) {
      val inTok = i < n && isTokenChar(content.charAt(i))
      if (inTok) sb.append(Character.toLowerCase(content.charAt(i)))
      else if (sb.length > 0) {
        val t = sb.toString
        sb.setLength(0)
        if (!stopwords.contains(t)) buf += t
      }
      i += 1
    }
    buf.toArray
  }

  /** The DuckDB twin of [[tokensOf]] with no stopwords: the token array of
    * the SQL string expression `arg`, as every oracle query replays it. */
  def termsSql(arg: String): String =
    s"list_filter(regexp_split_to_array(lower($arg), '[^a-z0-9_]+'), x -> x <> '')"

  @inline def docIdOf(d: CodeDoc): String = s"${d.repo}/${d.path}@${d.commit}"

  /** Tokenized-document projection: content is tokenized exactly ONCE and the
    * (docid, terms) projection cached columnar (dictionary-encoded terms
    * compress ~10x vs raw content); coverage/marginals/context-row passes all
    * derive from it without touching `content` again. At 10^12-file scale
    * this is the materialized projection that keeps E1 at one content scan. */
  def tokDocs(docs: Dataset[CodeDoc], cfg: WsidConfig): Dataset[TokDoc] = {
    import docs.sparkSession.implicits._
    val stop = cfg.stopwords
    docs.mapPartitions(_.map(d => TokDoc(docIdOf(d), tokensOf(d.content, stop))))
  }

  /** The tokenized projection of a `(docid, text)` frame, no stopwords: the
    * registry queries' corpus form, replayed in SQL by [[termsSql]]. */
  def tokDocsOfText(df: DataFrame): Dataset[TokDoc] = {
    import df.sparkSession.implicits._
    df.select(col("docid"), col("text")).as[(String, String)]
      .map { case (id, t) => TokDoc(id, tokensOf(t, Set.empty)) }
  }

  /** T1+T2: the token stream. */
  def tokensFrom(td: Dataset[TokDoc]): Dataset[Token] = {
    import td.sparkSession.implicits._
    td.mapPartitions(_.flatMap { d =>
      d.terms.iterator.zipWithIndex.map { case (t, i) => Token(d.docid, i, t) }
    })
  }

  /** T3+T4, per-context form: every token inside the ±w window of every
    * mention, mention position itself excluded, multiplicity preserved.
    * Feeds the sense-induction context vectors (ctxid = docid#mpos). */
  def windowTokensFrom(td: Dataset[TokDoc], cfg: WsidConfig): Dataset[WinTok] = {
    import td.sparkSession.implicits._
    val entities = cfg.entities.toSet
    val w = cfg.window
    td.mapPartitions { it =>
      it.flatMap { d =>
        val id = d.docid
        val ts = d.terms
        val out = new scala.collection.mutable.ArrayBuffer[WinTok]
        var p = 0
        while (p < ts.length) {
          if (entities.contains(ts(p))) {
            val lo = math.max(0, p - w)
            val hi = math.min(ts.length - 1, p + w)
            var q = lo
            while (q <= hi) {
              if (q != p) out += WinTok(ts(p), id, p, q, ts(q))
              q += 1
            }
          }
          p += 1
        }
        out.iterator
      }
    }
  }

  /** T3+T4+V2 fused, production E1 path: per-mention sparse context vectors
    * built doc-locally against the broadcast significant-term dictionary
    * (entity -> term -> termid). Context rows are inherently doc-local, so
    * the ENTIRE ML input is produced with ZERO shuffles, where the
    * long-form ctxvec (SenseInduction.contextVectors) would need a groupBy
    * per context. */
  def contextRowsFrom(td: Dataset[TokDoc], cfg: WsidConfig,
                      dict: Map[String, Map[String, Int]]): Dataset[graft.ml.ThinNMF.Ctx] = {
    import td.sparkSession.implicits._
    val spark = td.sparkSession
    val bc = spark.sparkContext.broadcast(dict)
    val w = cfg.window
    td.mapPartitions { it =>
      val d0 = bc.value
      it.flatMap { d =>
        val id = d.docid
        val ts = d.terms
        val out = new scala.collection.mutable.ArrayBuffer[graft.ml.ThinNMF.Ctx]
        var p = 0
        while (p < ts.length) {
          d0.get(ts(p)).foreach { termIds =>
            val lo = math.max(0, p - w)
            val hi = math.min(ts.length - 1, p + w)
            val counts = scala.collection.mutable.TreeMap.empty[Int, Double]
            var q = lo
            while (q <= hi) {
              if (q != p) termIds.get(ts(q)).foreach { tid =>
                counts.update(tid, counts.getOrElse(tid, 0.0) + 1.0)
              }
              q += 1
            }
            if (counts.nonEmpty)
              out += graft.ml.ThinNMF.Ctx(ts(p), s"$id#$p", counts.keysIterator.toArray,
                counts.valuesIterator.toArray)
          }
          p += 1
        }
        out.iterator
      }
    }
  }

  /** T4, coverage form: the DISTINCT union of covered positions per
    * (entity, doc) — the counting basis for the hypergeometric urn model
    * (k <= min(n,K) and k >= n+K-N hold by construction). Dedup over
    * overlapping windows happens doc-locally in a BitSet: NO shuffle, unlike
    * a naive `windowTokensFrom(...).distinct()`. */
  def coverageFrom(td: Dataset[TokDoc], cfg: WsidConfig): Dataset[CovTok] = {
    import td.sparkSession.implicits._
    val entitySet = cfg.entities.toSet
    val w = cfg.window
    td.mapPartitions { it =>
      it.flatMap { d =>
        val id = d.docid
        val ts = d.terms
        val out = new scala.collection.mutable.ArrayBuffer[CovTok]
        // positions of each entity's mentions in this doc
        val mentions = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
        var p = 0
        while (p < ts.length) {
          if (entitySet.contains(ts(p)))
            mentions.getOrElseUpdate(ts(p), new scala.collection.mutable.ArrayBuffer[Int]) += p
          p += 1
        }
        mentions.foreach { case (e, ps) =>
          val covered = new java.util.BitSet(ts.length)
          ps.foreach { mp =>
            val lo = math.max(0, mp - w)
            val hi = math.min(ts.length - 1, mp + w)
            var q = lo
            while (q <= hi) { if (q != mp) covered.set(q); q += 1 }
          }
          var q = covered.nextSetBit(0)
          while (q >= 0) {
            out += CovTok(e, id, q, ts(q))
            q = covered.nextSetBit(q + 1)
          }
        }
        out.iterator
      }
    }
  }
}
