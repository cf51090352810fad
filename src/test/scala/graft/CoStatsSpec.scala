package graft

import org.apache.spark.sql.functions._

import graft.operators.Significance
import graft.sources.CorpusSynth

class CoStatsSpec extends SparkTestBase {

  test("E2 on planted fixture: sense vocab significant, noise rejected") {
    val corpus = CorpusSynth.planted(docsPerEntity = 100)
    import spark.implicits._
    val docs = spark.createDataset(corpus.docs).repartition(4)
    val cfg = WsidConfig(entities = Seq("python", "java"), window = 64, alpha = 0.01, topK = 200)
    val cs = Pipeline.coStats(docs, cfg)
    val sig = cs.significant.select("entity", "term").as[(String, String)].collect().toSet

    // every planted sense-vocab term must be judged significant for its entity
    for (((entity, _), vocab) <- corpus.senseVocab; t <- vocab)
      assert(sig.contains((entity, t)), s"missing significant pair ($entity, $t)")

    // noise terms (uniform across the corpus) must be rejected for both entities
    for (e <- Seq("python", "java"); t <- corpus.noiseVocab)
      assert(!sig.contains((e, t)), s"noise term leaked through: ($e, $t)")

    // no cross-entity leakage: python's snake/lang vocab not significant for java
    for (t <- corpus.senseVocab(("python", 0)) ++ corpus.senseVocab(("python", 1)))
      assert(!sig.contains(("java", t)), s"cross-entity leak: (java, $t)")
  }

  test("E2 on a fully guarded-away corpus yields empty frames, never an NPE") {
    import spark.implicits._
    // every doc falls to the P2 guard (empty or over maxDocChars): the
    // marginals sum aggregates NULL, which must coalesce to an empty
    // contingency frame instead of crashing the whole chain
    val cfg = WsidConfig(entities = Seq("python"), maxDocChars = 10)
    val docs = Seq(
      CodeDoc("r", "a", "c", "en", ""),
      CodeDoc("r", "b", "c", "en", "x" * 11)).toDS()
    val cs = Pipeline.coStats(docs, cfg)
    assert(cs.scored.count() == 0)
    assert(cs.top.count() == 0)
  }

  test("WsidConfig.canonicalId is stopword-order-independent") {
    import scala.collection.immutable.ListSet
    val a = WsidConfig(entities = Seq("x"),
      stopwords = ListSet("the", "and", "of", "a", "in"))
    val b = WsidConfig(entities = Seq("x"),
      stopwords = ListSet("in", "a", "of", "and", "the"))
    // toString renders Sets in iteration order and CAN differ; the cache/
    // fingerprint key must not
    assert(a.canonicalId == b.canonicalId)
    assert(a.canonicalId.contains("stopwords=a,and,in,of,the"))
    // distinct stopword SETS still key differently
    val c = a.copy(stopwords = a.stopwords + "it")
    assert(a.canonicalId != c.canonicalId)
  }

  test("E2 native expression: plan uses codegen'd LogHypergeomTail, not ScalaUDF") {
    val cfg = WsidConfig(entities = Seq("python"), window = 8)
    // the suite's session (GraftExtensions) and one without it (Session.ensure)
    for ((s, name) <- Seq(spark -> "extensions", SparkTestBase.stripped() -> "ensure")) {
      val cs = Pipeline.coStats(CorpusSynth.plantedDocs(s, docsPerEntity = 10), cfg)
      // by class: a named ScalaUDF prints as graft_log_hypergeom_tail(...) too
      val exprs = cs.scored.queryExecution.optimizedPlan.collect { case p => p.expressions }
        .flatten.flatMap(_.collect { case e => e })
      assert(exprs.exists(_.isInstanceOf[graft.functions.LogHypergeomTail]), name)
      assert(!exprs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]),
        s"$name: expected the native Catalyst expression, found a ScalaUDF")
    }
  }

  test("descriptors without the fallback rows are the significant top-k") {
    val docs = CorpusSynth.plantedDocs(spark, docsPerEntity = 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("entity", "term", "logp", "rank").collect().map(_.toSeq).toSet
    // alpha = 1e-300: nothing clears the cut, every descriptor is a fallback
    // row; at the default alpha the planted vocabulary clears it
    for (alpha <- Seq(1e-300, 0.01)) {
      val cfg = WsidConfig(entities = Seq("python", "java"), window = 8, alpha = alpha, topK = 20)
      val cs = Pipeline.coStats(docs, cfg)
      val desc = Significance.descriptors(cs.scored, cfg)
      assert(rows(desc.filter(!col("fallback"))) == rows(cs.top), s"alpha $alpha")
      val fallbackRows = desc.filter(col("fallback")).count()
      if (alpha == 1e-300) assert(cs.top.isEmpty && fallbackRows == desc.count() && fallbackRows > 0)
      else assert(!cs.top.isEmpty && fallbackRows == 0)
    }
  }

  test("E2 native expression: fractional argument fails analysis instead of silently truncating") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(lit(0.9).as("p"), lit(10L).as("n"))
    // integral + null-literal children still coerce fine
    df.select(call_function(GraftFunctions.LogHypergeomName,
      lit(1), col("n"), lit(5L), lit(20L))).collect()
    // a DOUBLE where a count belongs (e.g. a probability) must be loud
    val err = intercept[Exception] {
      df.select(call_function(GraftFunctions.LogHypergeomName,
        col("p"), col("n"), lit(5L), lit(20L))).collect()
    }
    assert(err.getMessage.contains("integral") &&
      err.getMessage.contains("cast to BIGINT"), err.getMessage)
  }

  test("entry() smoke: flagship returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.limit(5).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("toNTriples: IRI percent-encoding, literal ECHAR escaping, sense-IRI branch") {
    import spark.implicits._
    val triples = Seq(
      ("plain@repo/a.txt", "coOccursWith", "term_1"),
      ("spaced entity@r/p", "coOccursWith", "say \"hi\" \\ there"),
      ("pct%<>{}|^`@r/p", "coOccursWith", "x"),
      ("e@r/p", "hasSense", "sense 7%")
    ).toDF("subj", "pred", "obj")
    val nt = Pipeline.toNTriples(triples).as[String].collect().toSet
    assert(nt == Set(
      "<urn:graft:ent:plain@repo/a.txt> <urn:graft:coOccursWith> \"term_1\" .",
      "<urn:graft:ent:spaced%20entity@r/p> <urn:graft:coOccursWith> \"say \\\"hi\\\" \\\\ there\" .",
      "<urn:graft:ent:pct%25%3C%3E%7B%7D%7C%5E%60@r/p> <urn:graft:coOccursWith> \"x\" .",
      "<urn:graft:ent:e@r/p> <urn:graft:hasSense> <urn:graft:sense:sense%207%25> ."
    ), nt.mkString("\n"))
    // every line matches the N-Triples production shape
    val lineRe = "^<[^<>\\s]+> <[^<>\\s]+> (\"(?:[^\"\\\\]|\\\\.)*\"|<[^<>\\s]+>) \\.$".r
    assert(nt.forall(l => lineRe.findFirstIn(l).isDefined), "malformed N-Triples line")
  }

  test("fromNTriples inverts toNTriples on adversarial terms; parses foreign lines") {
    import spark.implicits._
    // every encode-sensitive character, stacked and adjacent: percent
    // signs before their own escape digits, backslash-quote runs, the
    // full IRI-unsafe set, empty-ish literals
    val nasty = Seq(
      ("plain@repo/a.txt", "coOccursWith", "term_1"),
      ("spaced entity@r/p", "coOccursWith", "say \"hi\" \\ there"),
      ("pct%<>{}|^`@r/p", "coOccursWith", "\\\" \\\\ \"\" %25 %3C end\\"),
      ("e@r/p", "hasSense", "sense 7%"),
      ("pp%25%20@r", "hasSense", "%2520 ` ^ | {x}"),
      ("q@r", "coOccursWith", " ")
    ).toDF("subj", "pred", "obj")
    val back = Pipeline.fromNTriples(Pipeline.toNTriples(nasty))
      .as[(String, String, String)].collect().toSet
    assert(back == nasty.as[(String, String, String)].collect().toSet,
      back.mkString("\n"))
    // a hand-written (foreign) line parses too — ingest is not tied to our
    // own serializer's output ordering or spacing of escapes
    val foreign = Seq(
      "<urn:graft:ent:x%20y@r/p> <urn:graft:coOccursWith> \"a \\\"b\\\" c\" .")
      .toDF("nt")
    val got = Pipeline.fromNTriples(foreign)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("x y@r/p", "coOccursWith", "a \"b\" c")), got.toString)
  }
}
