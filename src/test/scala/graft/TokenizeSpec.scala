package graft

import scala.util.matching.Regex

import org.apache.spark.sql.functions._

import graft.operators.{Cooc, Linking, Tokenize}

class TokenizeSpec extends SparkTestBase {
  import spark.implicits._

  test("gazetteerMentions: multi-token matches, dominance suppression, standalone survivors") {
    val td = Seq(
      TokDoc("d1", "the big apple city of the big apple pie".split(" ")),
      TokDoc("d2", "nothing to see here".split(" "))).toDS()
    val aliases = Seq(
      ("E_bac", "big apple city"),
      ("E_bigapple", "big apple"),
      ("E_apple", "apple")).toDF("entity", "alias")
    val got = Linking.gazetteerMentions(td, aliases).collect()
      .map(r => (r.getString(0), r.getAs[Long]("start"), r.getAs[Long]("len"), r.getString(3)))
      .toSet
    // @1 the 3-gram shadows both shorter matches at/inside it; @6 the
    // 2-gram survives and shadows apple@7; d2 matches nothing
    assert(got == Set(("d1", 1L, 3L, "E_bac"), ("d1", 6L, 2L, "E_bigapple")), s"$got")
    intercept[IllegalArgumentException] {
      Linking.gazetteerMentions(td, Seq.empty[(String, String)].toDF("entity", "alias"))
    }
  }

  private val cfg = WsidConfig(entities = Seq("python", "java"), window = 2)

  test("T1: tokenizer golden cases") {
    assert(Tokenize.tokensOf("Hello, World! foo_bar 42 x", Set.empty).toSeq ==
      Seq("hello", "world", "foo_bar", "42", "x"))
    assert(Tokenize.tokensOf("", Set.empty).isEmpty)
    assert(Tokenize.tokensOf("...!!!", Set.empty).isEmpty)
    assert(Tokenize.tokensOf("a-b.c", Set.empty).toSeq == Seq("a", "b", "c"))
    assert(Tokenize.tokensOf("def Foo(x): import os", Set("def")).toSeq ==
      Seq("foo", "x", "import", "os"))
  }

  test("T1: non-ASCII chars are separators — pinned to the oracle's [a-z0-9_] class") {
    // DuckDB oracle: split lower(content) on '[^a-z0-9_]+' — accented letters
    // are separators after lowercasing. The Spark scanner must agree on ANY
    // corpus, not just ASCII ones (ADVICE r1).
    assert(Tokenize.tokensOf("Caffé im Müller_3 straße", Set.empty).toSeq ==
      Seq("caff", "im", "m", "ller_3", "stra", "e"))
    assert(Tokenize.tokensOf("naïve café déjà-vu", Set.empty).toSeq ==
      Seq("na", "ve", "caf", "d", "j", "vu"))
    // CJK and emoji: no ASCII token chars at all
    assert(Tokenize.tokensOf("日本語 🦜 текст", Set.empty).isEmpty)
    // single-char case foldings that LAND on ASCII are token chars, because
    // the oracle lowercases BEFORE splitting: U+212A KELVIN -> 'k',
    // U+0130 dotted capital I -> 'i' (DuckDB lower() verified: '3k', 'iy');
    // U+2164 Roman numeral folds to non-ASCII U+2174 -> separator
    assert(Tokenize.tokensOf("3\u212A x \u0130y \u2164z", Set.empty).toSeq ==
      Seq("3k", "x", "iy", "z"))
  }

  test("T1: full-BMP sweep \u2014 token-char class matches the recorded utf8proc table") {
    // Recorded table (2026-08-16): the complete set of BMP chars OUTSIDE
    // ASCII [a-zA-Z0-9_] whose single-codepoint lowercase lands in
    // [a-z0-9_], enumerated against BOTH JDK 17 Character.toLowerCase and
    // DuckDB 1.0.0 utf8proc lower() \u2014 the two enumerations agree exactly.
    // Java and utf8proc track different Unicode versions, so a JDK or
    // DuckDB upgrade that adds/shifts a case mapping would silently diverge
    // Spark-vs-oracle tokenization on non-ASCII corpora; this sweep turns
    // that into a loud failure naming the drifted codepoints (ADVICE r2).
    val recorded = Map(0x0130 -> 'i', 0x212A -> 'k')
    val isAsciiTokenChar = (c: Int) =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'
    val drifted = (0 to 0xFFFF).filterNot(isAsciiTokenChar).filter { c =>
      val inClass = Tokenize.isTokenChar(c.toChar)
      val expected = recorded.contains(c)
      inClass != expected ||
        (inClass && Character.toLowerCase(c.toChar) != recorded(c))
    }
    assert(drifted.isEmpty,
      s"token-char class drifted from the recorded utf8proc folding table at " +
        s"codepoints ${drifted.take(20).map(c => f"U+$c%04X")} \u2014 re-enumerate " +
        "against the oracle's DuckDB lower() before trusting non-ASCII corpora")
  }

  test("T1+T2: positions are assigned after stopword removal") {
    val docs = Seq(CodeDoc("r", "p", "c", "en", "the quick the fox")).toDS()
    val toks = Tokenize.tokensFrom(Tokenize.tokDocs(docs, cfg.copy(stopwords = Set("the"))))
      .collect().sortBy(_.pos)
    assert(toks.map(t => (t.pos, t.term)).toSeq == Seq((0, "quick"), (1, "fox")))
  }

  test("T4: window edges — doc boundaries, adjacent mentions, w respected") {
    // positions:        0      1        2       3      4
    val content = "python starts python here end"
    val docs = Seq(CodeDoc("r", "p", "c", "en", content)).toDS()
    val win = Tokenize.windowTokensFrom(Tokenize.tokDocs(docs, cfg), cfg).collect()
    // mention at 0: window {1, 2}; mention at 2: window {0, 1, 3, 4}
    val byM = win.groupBy(_.mpos).view.mapValues(_.map(_.pos).sorted.toSeq).toMap
    assert(byM(0) == Seq(1, 2))
    assert(byM(2) == Seq(0, 1, 3, 4))
    // coverage = distinct union minus nothing (both mention positions covered
    // by the other mention)
    val cov = Tokenize.coverageFrom(Tokenize.tokDocs(docs, cfg), cfg)
      .collect().map(_.pos).sorted.toSeq
    assert(cov == Seq(0, 1, 2, 3, 4))
  }

  test("T4: coverage (doc-local BitSet) == relational DISTINCT band-join form") {
    val docs = sources.CorpusSynth.plantedDocs(spark, docsPerEntity = 40)
    val c = cfg.copy(window = 3)
    val toks = Tokenize.tokensFrom(Tokenize.tokDocs(docs, c)).toDF()
    val mentions = toks.filter(col("term").isin(c.entities: _*))
      .select(col("docid"), col("pos").as("mpos"), col("term").as("entity"))
    val joinForm = toks.join(mentions, Seq("docid"))
      .filter(abs(col("pos") - col("mpos")) <= c.window && col("pos") =!= col("mpos"))
      .select("entity", "docid", "pos", "term").distinct()
    val covForm = Tokenize.coverageFrom(Tokenize.tokDocs(docs, c), c).toDF()
    assert(joinForm.exceptAll(covForm).isEmpty && covForm.exceptAll(joinForm).isEmpty)
  }

  test("A3/I1: salted co-occurrence counts == unsalted groupBy counts") {
    val docs = sources.CorpusSynth.plantedDocs(spark, docsPerEntity = 60)
    val c = WsidConfig(entities = Seq("python", "java"), window = 4, salts = 16)
    val cov = Tokenize.coverageFrom(Tokenize.tokDocs(docs, c), c)
    val salted = Cooc.coocCounts(cov, c)
    val unsalted = cov.toDF().groupBy("entity", "term").agg(count(lit(1)).as("k"))
    assert(salted.exceptAll(unsalted).isEmpty && unsalted.exceptAll(salted).isEmpty)
  }

  test("token contract: each engine form's regex is written once in src/main") {
    // the oracle SQL form lives in Tokenize.termsSql, the Spark column form
    // in TextStats.wordTokens; every other tokenization calls one of them
    MainSources.onlySite(Regex.quote("'[^a-z0-9_]+'"), "Tokenize.scala", "termsSql")
    MainSources.onlySite(Regex.quote("\"[^a-z0-9_]+\""), "TextStats.scala", "wordTokens")
    assert(Tokenize.termsSql("text || ' zqy'") ==
      "list_filter(regexp_split_to_array(lower(text || ' zqy'), '[^a-z0-9_]+'), x -> x <> '')")
  }

  test("S2: sha256 invariant — Spark sha2 matches JVM MessageDigest") {
    val docs = sources.CorpusSynth.plantedDocs(spark, docsPerEntity = 5)
    val sparkSide = docs.select(col("content"), sha2(col("content"), 256).as("sha"))
      .as[(String, String)].collect().toMap
    sparkSide.foreach { case (content, sha) =>
      val jvm = java.security.MessageDigest.getInstance("SHA-256")
        .digest(content.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(jvm == sha)
    }
    // commit column = first 12 chars of the content hash (lineage invariant)
    val bad = docs.filter(substring(sha2(col("content"), 256), 1, 12) =!= col("commit")).count()
    assert(bad == 0)
  }
}
