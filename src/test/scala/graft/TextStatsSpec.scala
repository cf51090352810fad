package graft

import graft.operators.{TextStats, Tokenize}

class TextStatsSpec extends SparkTestBase {
  import spark.implicits._

  test("stratifiedSample: deterministic, fraction-accurate, exact at 0 and 1") {
    val docs = (0 until 2000).map(i =>
      CodeDoc("r", s"p$i", s"c$i", if (i % 2 == 0) "en" else "de", s"content $i")).toDS()
    val fr = Map("en" -> 0.25, "de" -> 1.0)
    val s1 = TextStats.stratifiedSample(docs, "lang", fr)
    val byLang = s1.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("de") == 1000, s"fraction 1.0 must keep every row: $byLang")
    assert(math.abs(byLang("en") - 250) < 60, s"en sample far from 25%: $byLang") // hash-uniformity
    // deterministic: same rows every run
    val s2 = TextStats.stratifiedSample(docs, "lang", fr)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // fraction 0 keeps nothing; unknown strata default to nothing
    assert(TextStats.stratifiedSample(docs, "lang", Map("en" -> 0.0)).count() == 0)
  }

  test("linkGraph: host normalization, per-page dedup, self/relative/mailto drops") {
    val pages = Seq(
      // mixed-case scheme+host, port on both sides; two anchors to the same
      // host (deduped), one self link, one relative, one mailto
      ("HTTP://WWW.A.example:8080/p1",
        """<a href="https://B.example:443/x">1</a><a HREF="http://b.example/y">2</a>
          |<a href="http://www.a.example/self">s</a><a href="/rel">r</a>
          |<a href="mailto:x@c.example">m</a>""".stripMargin),
      ("http://www.a.example/p2", """<a href="http://b.example/z">1</a><a href="http://c.example/w">2</a>"""),
      ("http://b.example/p", """<a href="http://www.a.example/back">1</a>"""),
      ("http://noproto.example/p", "no links here"),
      ("relative-url-no-host", """<a href="http://b.example/x">dropped: page has no host</a>"""))
      .toDF("url", "content")
    val got = TextStats.linkGraph(pages).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("www.a.example", "b.example") -> 2L, // p1 (deduped to 1) + p2
      ("www.a.example", "c.example") -> 1L,
      ("b.example", "www.a.example") -> 1L), s"got $got")
  }

  test("linkGraph: one shuffle total — harvest, hosts, and dedup are doc-local") {
    val pages = Seq(("http://a.example/p", """<a href="http://b.example/x">1</a>"""))
      .toDF("url", "content")
    val plan = TextStats.linkGraph(pages).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("contamination: containment of benchmark n-grams in the corpus") {
    val corpus = Seq(
      TokDoc("c1", "the quick brown fox jumps over the lazy dog".split(" ")),
      TokDoc("c2", "pack my box with five dozen liquor jugs".split(" "))).toDS()
    val bench = Seq(
      TokDoc("b_dup", "quick brown fox jumps over".split(" ")), // fully inside c1
      TokDoc("b_new", "completely novel words appear here today".split(" ")),
      TokDoc("b_half", "brown fox jumps nowhere near anything".split(" "))).toDS()
    val r = TextStats.contamination(corpus, bench, 3).collect()
      .map(x => x.getString(0) -> (x.getAs[Long]("n_hits"), x.getAs[Long]("containment_e4"))).toMap
    assert(r("b_dup") == ((3L, 10000L)), s"full-substring doc must be 100% contained: $r")
    assert(r("b_new") == ((0L, 0L)))
    // b_half: shingles = {brown fox jumps, fox jumps nowhere, jumps nowhere near, nowhere near anything}
    // only the first appears in c1 -> 1/4
    assert(r("b_half") == ((1L, 2500L)), s"$r")
  }

  test("decontaminate: leaking docs dropped strictly, threshold relaxes, hits counted") {
    import spark.implicits._
    val bench = Seq(TokDoc("b0", "alpha beta gamma delta".split(" "))).toDS()
    val corpus = Seq(
      TokDoc("c1", "alpha beta gamma here".split(" ")), // shares "alpha beta gamma"
      TokDoc("c2", "totally clean doc words".split(" ")),
      TokDoc("c3", "beta gamma nothing else at all".split(" ")) // bigram-only overlap
    ).toDS()
    val strict = TextStats.decontaminate(corpus, bench, 3).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_bench_hits")).toMap
    assert(strict == Map("c2" -> 0L, "c3" -> 0L), s"$strict")
    val lax = TextStats.decontaminate(corpus, bench, 3, maxHits = 1).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_bench_hits")).toMap
    assert(lax == Map("c1" -> 1L, "c2" -> 0L, "c3" -> 0L), s"$lax")
  }

  test("repetition: duplicate n-gram fraction and top-term ratio, hand-checked") {
    val td = Seq(
      TokDoc("loop", "spam spam spam spam".split(" ")),        // 3 bigrams, 1 distinct
      TokDoc("clean", "one two three four".split(" ")),        // all distinct
      TokDoc("tiny", Array("solo"))).toDS()                    // no bigrams
    val r = TextStats.repetition(td).collect()
      .map(x => x.getString(0) -> (x.getAs[Long]("dup2_e4"), x.getAs[Long]("top_term_ratio_e4"))).toMap
    assert(r("loop") == ((6667L, 10000L)), s"$r")  // 1 - 1/3 = .6667; spam = 4/4
    assert(r("clean") == ((0L, 2500L)))
    assert(r("tiny") == ((0L, 10000L)))
  }

  test("redactPii: emails and phone numbers replaced globally") {
    val docs = Seq(CodeDoc("r", "p", "c", "en",
      "mail a.b+c@x-mail.example.org then call +4912345678 or b@c.de end")).toDS()
    val out = TextStats.redactPii(docs).select("content").as[String].head()
    assert(out == "mail <EMAIL> then call <PHONE> or <EMAIL> end", out)
  }

  test("quality: exact metrics on a hand-checked doc") {
    val docs = Seq(CodeDoc("r", "p", "c", "en", "the quick the fox jumps")).toDS()
    val row = TextStats.quality(docs).head()
    assert(row.getAs[Long]("n_chars") == 23)
    assert(row.getAs[Long]("n_tokens") == 5)
    assert(row.getAs[Long]("n_stopwords") == 2)
    assert(row.getAs[Long]("n_distinct") == 4)
    assert(row.getAs[Long]("stop_ratio_e4") == 4000)
    assert(row.getAs[Long]("distinct_ratio_e4") == 8000)
    // empty content guard
    val empty = TextStats.quality(Seq(CodeDoc("r", "p2", "c", "en", "  ")).toDS()).head()
    assert(empty.getAs[Long]("n_tokens") == 0 && empty.getAs[Long]("stop_ratio_e4") == 0)
  }

  test("tokenCounts: whitespace vs regex vs BPE-ish subwords") {
    val docs = Seq(CodeDoc("r", "p", "c", "en", "fooBar baz2qux hello-world")).toDS()
    val row = TextStats.tokenCounts(docs).head()
    assert(row.getAs[Long]("ws_tokens") == 3)
    assert(row.getAs[Long]("re_tokens") == 4) // foobar, baz2qux, hello, world
    // fooBar -> foo|Bar, baz2qux -> baz|2|qux, hello-world -> hello|world
    assert(row.getAs[Long]("bpeish_tokens") == 7)
  }

  test("langId: marker-based prediction with deterministic tie-break") {
    def td(text: String) = Seq(TokDoc("d", Tokenize.tokensOf(text, Set.empty))).toDS()
    assert(TextStats.langId(td("the cat and the dog")).head().getString(1) == "en")
    assert(TextStats.langId(td("der hund und die katze ist")).head().getString(1) == "de")
    assert(TextStats.langId(td("xyzzy plugh")).head().getString(1) == "unk")
    // tie: one marker each for de and en -> lexicographically first (de)
    assert(TextStats.langId(td("der the")).head().getString(1) == "de")
  }

  test("decontaminateSpans: exact excision, gap-merged spans, clean docs byte-identical") {
    def sha(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val corpus = Seq(
      TokDoc("d1", "a b c d e f g h i j".split(" ")),  // hits at 2 and 7 -> 2 spans
      TokDoc("d2", "x y z w y z w q".split(" ")),      // hits at 1 and 4, gap 3 <= n -> 1 span
      TokDoc("d3", "p q r s t".split(" "))).toDS()     // clean
    val bench = Seq(
      TokDoc("b1", "c d e".split(" ")),
      TokDoc("b2", "h i j".split(" ")),
      TokDoc("b3", "y z w".split(" "))).toDS()
    val out = TextStats.decontaminateSpans(corpus, bench, 3).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("removed_tokens"),
        r.getAs[Long]("n_spans"), r.getString(4)))).toMap
    assert(out("d1") == ((6L, 2L, sha("a b f g"))), s"$out")
    assert(out("d2") == ((6L, 1L, sha("x q"))), s"$out")
    assert(out("d3") == ((0L, 0L, sha("p q r s t"))), s"$out")
  }

  test("datasetCard: three rollup levels from one pass, duplication signal counts distinct shas") {
    val docs = Seq(
      CodeDoc("r", "p1", "c", "en", "aa bb"),
      CodeDoc("r", "p2", "c", "en", "aa bb"),          // exact dup -> n_distinct 1
      CodeDoc("r", "p3", "c", "de", "x" * 250)).toDS() // medium bucket
    val card = TextStats.datasetCard(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct")))).toMap
    assert(card(("en", "short")) == ((2L, 10L, 4L, 1L)), s"$card")
    assert(card(("de", "medium")) == ((1L, 250L, 1L, 1L)), s"$card")
    assert(card(("en", "ALL")) == ((2L, 10L, 4L, 1L)))
    assert(card(("ALL", "ALL")) == ((3L, 260L, 5L, 2L)))
    assert(card.size == 5)
    // plan: ONE exchange family from a single Expand — not three scans
    val plan = TextStats.datasetCard(docs).queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), plan)
  }

  test("NFC normalization: composes decomposed marks; fast paths return the input OBJECT") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.NfcNormalize
    // ASCII fast path: no decode, no allocation — the same object comes back
    val ascii = UTF8String.fromString("plain ascii_09 {}")
    assert(NfcNormalize.nfc(ascii) eq ascii)
    // already-NFC non-ASCII: decoded once, but NOT re-encoded
    val composed = UTF8String.fromString("caf\u00E9")
    assert(NfcNormalize.nfc(composed) eq composed)
    // decomposed sequences compose (e+U+0301 -> é, A+U+030A -> Å, o+U+0308 -> ö)
    val dec = UTF8String.fromString("cafe\u0301 A\u030Angstro\u0308m")
    assert(NfcNormalize.nfc(dec).toString == "caf\u00E9 \u00C5ngstr\u00F6m")
    // idempotent
    assert(NfcNormalize.nfc(NfcNormalize.nfc(dec)).toString == NfcNormalize.nfc(dec).toString)

    // DataFrame operator: content rewritten, changed flag per row
    val out = TextStats.nfcNormalize(Seq(
      CodeDoc("r", "a", "c", "en", "cafe\u0301 x"),
      CodeDoc("r", "b", "c", "en", "plain")).toDS())
      .select("path", "content", "changed")
      .as[(String, String, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out("a") == (("caf\u00E9 x", 1L)))
    assert(out("b") == (("plain", 0L)))

    // SQL surface: NULL propagates; a non-string argument fails analysis loudly
    val row = spark.sql("SELECT graft_nfc(CAST(NULL AS STRING)) AS n, graft_nfc('e\u0301') AS c").head()
    assert(row.isNullAt(0) && row.getString(1) == "\u00E9")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_nfc(1)").collect()
    }
  }

  test("extractText: blocks before tags, case-folded tags, entity order, whitespace collapse") {
    import spark.implicits._
    val html = "<html><!-- c -->\n<head><SCRIPT>if (a < b) { x = \"</div>\"; }</SCRIPT>" +
      "<style>p { a: 1 }</style></head>\n<body><h1>Hello</h1> <p>world &amp;lt; ok" +
      "&nbsp;&#39;q&#39; &lt;tag&gt;</p>\t\n</body></html>"
    val out = TextStats.extractText(Seq(CodeDoc("r", "p", "c", "en", html)).toDS()).head()
    // script content (with its bare '<' and fake close tag) is DROPPED, not
    // tag-stripped; &amp;lt; decodes ONE level to the literal "&lt;"
    assert(out.getAs[String]("content") == "Hello world &lt; ok 'q' <tag>",
      s"got '${out.getAs[String]("content")}'")
    assert(out.getAs[Long]("n_tags") > 0)
    // markup-free text passes through (modulo whitespace normalization)
    val plain = TextStats.extractText(
      Seq(CodeDoc("r", "p", "c", "en", "just  plain\ttext")).toDS()).head()
    assert(plain.getAs[String]("content") == "just plain text")
    assert(plain.getAs[Long]("n_tags") == 0L)
  }

  test("packSequences: hand-checked chunk straddling; two-phase scan == naive window") {
    // docs of 3, 5, 4, 2 tokens; seqLen 4: stream positions
    //   d0: [0,3)  seqs 0..0      d1: [3,8)  seqs 0..1 (straddles)
    //   d2: [8,12) seqs 2..2      d3: [12,14) seqs 3..3; empty doc excluded
    val td = Seq(
      TokDoc("d0", Array("a", "b", "c")),
      TokDoc("d1", Array("a", "b", "c", "d", "e")),
      TokDoc("d2", Array("a", "b", "c", "d")),
      TokDoc("d3", Array("a", "b")),
      TokDoc("d4", Array.empty[String])).toDS().repartition(3)
    val got = TextStats.packSequences(td, 4)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("d0", 3L, 0L, 0L, 0L),
      ("d1", 5L, 3L, 0L, 1L),
      ("d2", 4L, 8L, 2L, 2L),
      ("d3", 2L, 12L, 3L, 3L)), s"got $got")

    // scalable two-phase scan == naive single-partition global window on a
    // bigger corpus with many partitions
    val rnd = new scala.util.Random(7)
    val big = (0 until 500).map(i =>
      TokDoc(f"x$i%04d", Array.fill(1 + rnd.nextInt(40))("t"))).toDS().repartition(16)
    val twoPhase = TextStats.packSequences(big, 128)
    val w = org.apache.spark.sql.expressions.Window.orderBy("docid")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = big.map(d => (d.docid, d.terms.length.toLong)).toDF("docid", "ntok")
      .filter(org.apache.spark.sql.functions.col("ntok") > 0)
      .withColumn("tok_end", org.apache.spark.sql.functions.sum("ntok").over(w))
      .select(org.apache.spark.sql.functions.col("docid"), org.apache.spark.sql.functions.col("ntok"),
        (org.apache.spark.sql.functions.col("tok_end") - org.apache.spark.sql.functions.col("ntok")).as("tok_start"),
        org.apache.spark.sql.functions.floor((org.apache.spark.sql.functions.col("tok_end") - org.apache.spark.sql.functions.col("ntok")) / 128).cast("long").as("first_seq"),
        org.apache.spark.sql.functions.floor((org.apache.spark.sql.functions.col("tok_end") - 1) / 128).cast("long").as("last_seq"))
    assert(twoPhase.exceptAll(naive).isEmpty && naive.exceptAll(twoPhase).isEmpty)
  }

  test("unigramLogProb: hand-checked against a driver-side computation") {
    val td = Seq(
      TokDoc("d0", Array("a", "a", "b")),
      TokDoc("d1", Array("b", "c"))).toDS()
    // corpus: n(a)=2, n(b)=2, n(c)=1, N=5
    def lne6(n: Long): Long = math.round(math.log(n.toDouble) * 1e6)
    def e4(s: Long, ntok: Long): Long =
      math.round((s.toDouble / ntok - lne6(5)) / 100.0)
    val expected = Map(
      "d0" -> e4(lne6(2) + lne6(2) + lne6(2), 3),
      "d1" -> e4(lne6(2) + lne6(1), 2))
    val got = TextStats.unigramLogProb(td)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("bigramLogProb: hand-checked against a driver-side computation; short docs absent") {
    val td = Seq(
      TokDoc("d0", Array("a", "b", "a")),
      TokDoc("d1", Array("b", "a")),
      TokDoc("d2", Array("lonely"))).toDS() // < 2 tokens -> no row
    // corpus: N=6, n(a)=3, n(b)=2, n(lonely)=1
    // bigram types: (a,b)=1, (b,a)=2; contexts: c1(a)=1, c1(b)=2
    def lnp(nb: Long, nc: Long, n2: Long): Long =
      math.round(math.log(0.9 * (nb.toDouble / nc) + (1.0 - 0.9) * (n2.toDouble / 6)) * 1e6)
    val pAB = lnp(1, 1, 2) // p(b|a) = .9*1/1 + .1*2/6
    val pBA = lnp(2, 2, 3) // p(a|b) = .9*2/2 + .1*3/6
    def e4(s: Long, n: Long): Long = math.round(s.toDouble / n / 100.0)
    val expected = Map(
      "d0" -> (2L, e4(pAB + pBA, 2)),
      "d1" -> (1L, e4(pBA, 1)))
    val got = TextStats.bigramLogProb(td)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("bigramLogProb: partitioning-invariant; repeated-text doc scores above shuffled-text doc") {
    val vocab = Array("the", "quick", "fox", "jumps", "over", "lazy", "dog", "and", "runs", "far")
    val fluent = (0 until 8).flatMap(_ => vocab).toArray // repeated natural order
    val shuffled = (0 until 80).map(i => vocab((((i * 2654435761L) >>> 7) % 10).toInt)).toArray
    val td = Seq(TokDoc("fluent", fluent), TokDoc("mixed", shuffled)).toDS()
    def run(parts: Int): Map[String, Long] =
      TextStats.bigramLogProb(td.repartition(parts))
        .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    val w1 = run(1)
    assert(w1 == run(5), "bigram LM score must be partitioning-invariant")
    assert(w1("fluent") > w1("mixed"),
      s"predictable bigrams must outscore scrambled ones: $w1")
  }

  test("passages: overlap windows hand-checked; short doc single passage; full coverage") {
    val td = Seq(
      TokDoc("d1", (0 until 7).map(i => s"t$i").toArray),
      TokDoc("d2", Array("only", "two")),
      TokDoc("d3", Array.empty[String])).toDS()
    val got = TextStats.passages(td, size = 3, stride = 2)
      .as[(String, Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("d1", 0L, 0L, 3L, "t0 t1 t2"),
      ("d1", 1L, 2L, 3L, "t2 t3 t4"),
      ("d1", 2L, 4L, 3L, "t4 t5 t6"),
      ("d2", 0L, 0L, 2L, "only two")), s"got $got")
    // every token index is covered by at least one window
    val covered = got.filter(_._1 == "d1")
      .flatMap(r => r._3 until (r._3 + r._4)).toSet
    assert(covered == (0L until 7L).toSet)
    // exact-boundary case: (n - size) divisible by stride adds no empty window
    val even = Seq(TokDoc("e", (0 until 8).map(i => s"x$i").toArray)).toDS()
    val evenGot = TextStats.passages(even, 4, 4).as[(String, Long, Long, Long, String)].collect()
    assert(evenGot.length == 2 && evenGot.map(_._4).sum == 8)
  }

  test("anchorText: cross-host anchors tokenized; self/relative/mailto dropped; no misalignment") {
    val pages = Seq(
      ("http://h1.io/a",
        """<a href="http://h2.io/x">Click Here</a><a href="http://h1.io/self">self me</a>""" +
          """<a href="/rel">rel text</a><a href="mailto:x@y">mail</a>""" +
          """<a HREF="https://h3.io:443/y">Deep Dive</a>"""),
      ("http://h4.io/b", """<a href="http://h2.io/z">click now</a>""")).toDF("url", "content")
    val got = TextStats.anchorText(pages)
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("h2.io", "click", 2L), ("h2.io", "here", 1L), ("h2.io", "now", 1L),
      ("h3.io", "deep", 1L), ("h3.io", "dive", 1L)), s"got $got")
  }

  test("keywords: hand-checked tf-idf top-k; rare terms outrank ubiquitous ones") {
    val td = Seq(
      TokDoc("d1", Array("apple", "apple", "banana")),
      TokDoc("d2", Array("banana", "cherry"))).toDS()
    // N=2; df(apple)=1, df(banana)=2, df(cherry)=1; idf_e6(ln 2)=693147, idf_e6(ln 1)=0
    val got = TextStats.keywords(td, 2)
      .as[(String, Long, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("d1", 1L, "apple", 2L * 693147L),
      ("d1", 2L, "banana", 0L),
      ("d2", 1L, "cherry", 693147L),
      ("d2", 2L, "banana", 0L)), s"got $got")
  }

  test("fingerprints: winnowing is deterministic and overlap tracks similarity") {
    val a = Tokenize.tokensOf("one two three four five six seven eight nine ten", Set.empty)
    val b = Tokenize.tokensOf("one two three four five six seven eight nine zzz", Set.empty)
    val c = Tokenize.tokensOf("totally different words here nothing shared at all xx", Set.empty)
    val fa = TextStats.winnow(TextStats.kgramHashes(a, 3), 4)
    val fa2 = TextStats.winnow(TextStats.kgramHashes(a, 3), 4)
    val fb = TextStats.winnow(TextStats.kgramHashes(b, 3), 4)
    val fc = TextStats.winnow(TextStats.kgramHashes(c, 3), 4)
    assert(fa == fa2) // deterministic
    val simAB = (fa & fb).size.toDouble / (fa | fb).size
    val simAC = (fa & fc).size.toDouble / (fa | fc).size
    info(f"fingerprint overlap: near=$simAB%.2f unrelated=$simAC%.2f")
    assert(simAB > simAC)
    assert(simAC == 0.0)
    // short-doc edge: fewer tokens than k
    assert(TextStats.kgramHashes(Array("a", "b"), 5).isEmpty)
  }

  test("fingerprints and sharedSpanPairs reject k < 1 and w < 1") {
    import spark.implicits._
    val docs = Seq(TokDoc("d1", Array("a", "b", "c")), TokDoc("d2", Array("a", "b", "c"))).toDS()
    // k = 0 used to give every doc one shared fingerprint, w = 0 an
    // out-of-bounds read inside the task
    Seq[(String, () => Any)](
      "k" -> (() => TextStats.fingerprints(docs, k = 0)),
      "w" -> (() => TextStats.fingerprints(docs, w = 0)),
      "k" -> (() => TextStats.sharedSpanPairs(docs, k = -1, minShared = 1)),
      "w" -> (() => TextStats.sharedSpanPairs(docs, w = 0))
    ).foreach { case (arg, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(s"$arg must be >= 1"), e.getMessage)
    }
  }

  test("sharedSpanPairs: shared-run pair found with brute-force count; hot fingerprints excluded") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron"
    val docs = Seq(
      TokDoc("da", Tokenize.tokensOf(s"prefix words here $shared and a tail", Set.empty)),
      TokDoc("db", Tokenize.tokensOf(s"$shared completely different ending words now", Set.empty)),
      TokDoc("dc", Tokenize.tokensOf("nothing in common with anything else at all here today friends", Set.empty))
    ).toDS()
    // brute-force expectation from the same primitives
    def fps(d: TokDoc) = TextStats.winnow(TextStats.kgramHashes(d.terms, 5), 4)
    val byId = docs.collect().map(d => d.docid -> fps(d)).toMap
    val wantAB = (byId("da") & byId("db")).size.toLong
    assert(wantAB >= 2, s"fixture must actually share fingerprints (got $wantAB)")
    val got = TextStats.sharedSpanPairs(docs, minShared = 2, hotCap = 20)
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("da", "db", wantAB)), s"$got")
    // hot-cap guard: the same fingerprints spread over MORE than hotCap docs
    // must produce no pairs at all
    val many = (1 to 5).map(i =>
      TokDoc(f"h$i%02d", Tokenize.tokensOf(shared, Set.empty))).toDS()
    assert(TextStats.sharedSpanPairs(many, minShared = 1, hotCap = 4).count() == 0L,
      "boilerplate fingerprints above hotCap must be excluded")
    assert(TextStats.sharedSpanPairs(many, minShared = 1, hotCap = 5).count() == 10L,
      "at hotCap the full pair set appears (5 choose 2)")
  }

  test("heavyHitters: MG candidates + exact recount == brute force; eviction fires; bound guard throws") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val vocabN = 60
    // skewed stream (r^3 concentrates mass on low ids) so some terms are
    // heavy and most are not
    val stream = (1 to 3000).map { _ =>
      s"t${math.min(vocabN - 1, (math.pow(rnd.nextDouble(), 3) * vocabN).toInt)}"
    }
    val docs = stream.grouped(50).zipWithIndex
      .map { case (ts, i) => TokDoc(s"d$i", ts.toArray) }.toSeq.toDS()
      .repartition(6) // several partitions -> several MG summaries
    val exact = stream.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val minCount = 200L // bound with capacity 32: 3000/33 = 90 < 200 (guard clears)
    val expect = exact.filter(_._2 >= minCount).toSeq
      .sortBy { case (t, n) => (-n, t) }
    // capacity 32 < 60-term vocab: the decrement-all eviction path runs
    val got = TextStats.heavyHitters(docs, minCount, capacity = 32)
      .as[(String, Long)].collect().toSeq
    assert(got == expect, s"got=$got expect=$expect")
    assert(expect.nonEmpty && expect.size < vocabN,
      s"fixture must have a non-trivial heavy set: ${expect.size}")
    // a capacity big enough to never evict agrees exactly
    val gotBig = TextStats.heavyHitters(docs, minCount, capacity = 4096)
      .as[(String, Long)].collect().toSeq
    assert(gotBig == expect)
    // threshold below N/(capacity+1): no-false-negative guarantee gone -> throw
    intercept[IllegalArgumentException] {
      TextStats.heavyHitters(docs, minCount = 50L, capacity = 32)
    }
  }
}
