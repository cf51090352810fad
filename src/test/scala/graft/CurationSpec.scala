package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Hashes}

class CurationSpec extends SparkTestBase {
  import spark.implicits._

  test("frontierSchedule: per-host waves, priority order, canonicalized input, relatives dropped") {
    val urls = Seq(
      ("http://a.example/p1", 5L), ("http://a.example/p2", 9L),
      ("http://a.example/p3", 9L), ("http://a.example/p4", 1L),
      ("HTTP://A.example:80/p5", 7L),  // canonicalizes into host a.example
      ("http://b.example/q1", 3L),
      ("/relative", 9L)               // no host -> dropped
    ).toDF("url", "priority")
    val rows = Curation.frontierSchedule(urls, perWave = 2).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(3), r.getLong(4))))
      .toMap
    // a.example by (priority desc, url): p2(9), p3(9), p5(7), p1(5), p4(1)
    assert(rows("http://a.example/p2") == (("a.example", 0L, 0L)))
    assert(rows("http://a.example/p3") == (("a.example", 0L, 1L)))
    assert(rows("http://a.example/p5") == (("a.example", 1L, 0L)))
    assert(rows("http://a.example/p1") == (("a.example", 1L, 1L)))
    assert(rows("http://a.example/p4") == (("a.example", 2L, 0L)))
    assert(rows("http://b.example/q1") == (("b.example", 0L, 0L)))
    assert(rows.size == 6)
    intercept[IllegalArgumentException] { Curation.frontierSchedule(urls, 0) }
  }

  test("frontierSchedule plan: one hash exchange (the host window), no range partitioning") {
    val urls = Seq(("http://a.example/p1", 5L)).toDF("url", "priority")
    val plan = Curation.frontierSchedule(urls, perWave = 2)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("crawlBudget: hand-checked largest-remainder apportionment, ties on host, exact sum") {
    val hosts = Seq(("a", 3L), ("b", 3L), ("c", 3L), ("d", 1L), ("e", 0L)).toDF("host", "w")
    // W=10, B=11: floors 3,3,3,1,0 (sum 10), K=1; remainders 3,3,3,1,0 —
    // tie among a/b/c breaks on host asc, so a alone gets the bonus
    val out = Curation.crawlBudget(hosts, 11L).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("budget")).toMap
    assert(out == Map("a" -> 4L, "b" -> 3L, "c" -> 3L, "d" -> 1L, "e" -> 0L), s"$out")
    assert(out.values.sum == 11L)
    // exact-sum property on an uglier split
    val out2 = Curation.crawlBudget(hosts, 10007L).collect().map(_.getAs[Long]("budget"))
    assert(out2.sum == 10007L)
    // loud guards: negative weight, zero total weight, overflow envelope
    intercept[IllegalArgumentException] {
      Curation.crawlBudget(Seq(("x", -1L)).toDF("host", "w"), 5L)
    }
    intercept[IllegalArgumentException] {
      Curation.crawlBudget(Seq(("x", 0L)).toDF("host", "w"), 5L)
    }
    intercept[IllegalArgumentException] {
      Curation.crawlBudget(Seq(("x", Long.MaxValue / 2)).toDF("host", "w"), 1000L)
    }
  }

  test("crawlBudget: no window anywhere in the plan (r6 scale-funnel fix), " +
    "tie-heavy inputs equal the sorted-remainder brute force") {
    // plan guard: the old implementation ranked remainders with one GLOBAL
    // row_number window (a single-task funnel at web host counts); the
    // refinement rewrite must plan without ANY Window operator
    val hosts = Seq(("a", 3L), ("b", 3L), ("c", 3L), ("d", 1L), ("e", 0L)).toDF("host", "w")
    val plan = Curation.crawlBudget(hosts, 11L).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)

    // randomized tie-heavy sweep (few distinct weights over many hosts →
    // large remainder tie classes, exercising the chunked host-boundary
    // selection) vs the driver-side largest-remainder brute force
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 17
      val names = (0 until n).map(i => s"h${rnd.alphanumeric.take(1 + rnd.nextInt(10)).mkString}$i")
      val ws = names.map(_ => (1 + rnd.nextInt(3)).toLong) // 3 weight classes
      val df = names.zip(ws).toDF("host", "w")
      val b = 17L + rnd.nextInt(500)
      val got = Curation.crawlBudget(df, b).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("budget")).toMap
      val wt = ws.sum
      val fl = names.zip(ws).map { case (h, w) => (h, w * b / wt, (w * b) % wt) }
      val k = b - fl.map(_._2).sum
      val bonus = fl.sortBy { case (h, _, rem) => (-rem, h) }.take(k.toInt).map(_._1).toSet
      val want = fl.map { case (h, f, _) => h -> (f + (if (bonus(h)) 1L else 0L)) }.toMap
      assert(got == want, s"trial $trial B=$b")
      assert(got.values.sum == b)
    }
  }

  test("kthStringBytewise equals the sorted order on random ASCII strings") {
    val rnd = new scala.util.Random(11)
    val strs = (0 until 60).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(20)).mkString).distinct
    val df = strs.toDF("s")
    val sorted = strs.sorted // String.compareTo == bytewise for ASCII
    for (k <- Seq(1, 2, sorted.size / 2, sorted.size))
      assert(Curation.kthStringBytewise(df, "s", k.toLong) == sorted(k - 1), s"k=$k")
  }

  test("robotsGate: longest match wins, equal-length tie favors allow, no-rule default allows") {
    val rules = Seq(
      ("a.example", "/private", 0),
      ("a.example", "/private/pub", 1),
      ("a.example", "/x", 1), ("a.example", "/x", 0), // equal-length tie -> allow
      ("b.example", "", 0)                            // block-all
    ).toDF("host", "prefix", "allow")
    val urls = Seq(
      "http://a.example/private/secret", // /private disallow
      "http://a.example/private/pub/ok", // longer allow wins
      "http://a.example/x1",             // tie -> allow
      "http://a.example/free",           // no rule -> allowed, rule_len -1
      "http://b.example/anything",       // '' disallow
      "/relative"                        // dropped
    ).toDF("url")
    val out = Curation.robotsGate(urls, rules).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("allowed"), r.getAs[Long]("rule_len")))).toMap
    assert(out("http://a.example/private/secret") == ((0L, 8L)), s"$out")
    assert(out("http://a.example/private/pub/ok") == ((1L, 12L)), s"$out")
    assert(out("http://a.example/x1") == ((1L, 2L)), s"$out")
    assert(out("http://a.example/free") == ((1L, -1L)), s"$out")
    assert(out("http://b.example/anything") == ((0L, 0L)), s"$out")
    assert(out.size == 5)
  }

  // --------------------------------------------------- canonicalUrl

  private def canonOf(urls: String*): Seq[Option[String]] =
    urls.toDF("u").select(Curation.canonicalUrl(col("u")).as("c"))
      .as[Option[String]].collect().toSeq

  test("canonicalUrl: scheme/host case, default ports, leading-zero ports") {
    assert(canonOf(
      "HTTP://WWW.Example.COM/A/b",
      "http://www.example.com:80/A/b",
      "http://www.example.com:080/A/b",
      "https://x.org:443/p",
      "https://x.org:8443/p") == Seq(
      Some("http://www.example.com/A/b"), // path case preserved, host lowered
      Some("http://www.example.com/A/b"),
      Some("http://www.example.com/A/b"),
      Some("https://x.org/p"),
      Some("https://x.org:8443/p")))
  }

  test("canonicalUrl: path, query, fragment normalization") {
    assert(canonOf(
      "http://h.io",                          // empty path -> "/"
      "http://h.io/",                         // root stays "/"
      "http://h.io/a/b///",                   // trailing slashes trimmed
      "http://h.io/a?z=1&a=2",                // params sorted
      "http://h.io/a?utm_source=x&a=2&fbclid=y&gclid", // trackers dropped
      "http://h.io/a?utm_source=x",           // all params dropped -> no '?'
      "http://h.io/a#frag?notaquery") == Seq( // fragment dropped, ? after # ignored
      Some("http://h.io/"),
      Some("http://h.io/"),
      Some("http://h.io/a/b"),
      Some("http://h.io/a?a=2&z=1"),
      Some("http://h.io/a?a=2"),
      Some("http://h.io/a"),
      Some("http://h.io/a")))
  }

  test("canonicalUrl: relative links and mailto are null") {
    assert(canonOf("/relative/path", "mailto:x@y.io", "", "ftp:noauthority")
      == Seq(None, None, None, None))
  }

  test("urlDedup: variants collapse, min id survives, skew-safe aggregates") {
    val pages = Seq(
      (7L, "http://A.example:80/p?x=1&utm_source=t#f"),
      (3L, "HTTP://a.example/p/?x=1"),
      (9L, "http://a.example/p?utm_campaign=c&x=1"),
      (5L, "https://a.example/p?x=1"), // https: distinct canonical
      (8L, "not a url")).toDF("id", "url")
    val got = Curation.urlDedup(pages, "url", "id")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("http://a.example/p?x=1", 3L, 3L),
      ("https://a.example/p?x=1", 1L, 5L)))
  }

  // --------------------------------------------------------- DSIR

  private def tok(id: String, s: String) = TokDoc(id, s.split(" ").filter(_.nonEmpty))

  test("bucketCounts: doc-local counts, bucket range, token mass preserved") {
    val td = Seq(tok("d1", "a b a c"), tok("d2", "b b")).toDS()
    val rows = Curation.bucketCounts(td, 16).as[(String, Int, Long)].collect()
    assert(rows.forall { case (_, b, _) => b >= 0 && b < 16 })
    assert(rows.filter(_._1 == "d1").map(_._3).sum == 4L)
    assert(rows.filter(_._1 == "d2").map(_._3).sum == 2L)
    // 'b' hashes identically in both docs
    val bBucket = Curation.bucketOf("b", 16)
    assert(rows.filter(r => r._1 == "d2" && r._2 == bBucket).map(_._3).sum == 2L)
  }

  test("dsirWeights: planted target tokens rank above junk; exact under repartition") {
    val corpus = (0 until 60).map { i =>
      val base = s"common shared words here item$i"
      if (i % 3 == 0) tok(s"d$i", s"$base neural corpus gradient")
      else tok(s"d$i", s"$base casino spin jackpot")
    }
    val raw = corpus.toDS()
    val tgt = corpus.filter(_.docid.stripPrefix("d").toInt % 3 == 0).toDS()
    def weights(parts: Int): Map[String, Long] = {
      val feats = Curation.bucketCounts(raw.repartition(parts), 64)
      Curation.dsirWeights(feats,
        Curation.dsirDeltas(feats, Curation.bucketCounts(tgt, 64), 64))
        .select("docid", "logw_q_e6").as[(String, Long)].collect().toMap
    }
    val w = weights(1)
    assert(w == weights(7), "DSIR weights must be exact integers, partitioning-invariant")
    val (t, j) = w.partition { case (id, _) => id.stripPrefix("d").toInt % 3 == 0 }
    assert(t.values.min > j.values.max,
      s"target-like docs must outrank junk docs: ${t.values.min} <= ${j.values.max}")
  }

  test("dsirResample: exact Gumbel-top-k vs a driver-side recompute; invariant under partitioning") {
    val weights = (0L until 200L).map(id => (id.toString, 10L + id, (id % 37) * 1000L - 18000L))
      .toDF("docid", "n_toks", "logw_q_e6")
    def expectedKey(id: Long, lw: Long): Long = {
      val u = ((Hashes.fnv64(s"dsir:$id") >>> 11) + 0.5) / 9007199254740992.0
      lw + BigDecimal(-math.log(-math.log(u)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    }
    val expTop = (0L until 200L).map(id => (id, expectedKey(id, (id % 37) * 1000L - 18000L)))
      .sortBy { case (id, k) => (-k, id) }.take(25)
      .zipWithIndex.map { case ((id, k), i) => (i + 1L, id, k) }
    def run(parts: Int) = Curation.dsirResample(weights.repartition(parts), k = 25)
      .select("rank", "docid", "key_q").as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(run(1) == expTop, "resample must equal the exact driver-side Gumbel-top-k")
    assert(run(1) == run(6), "sample must be reproducible across partitioning / cluster size")
  }

  test("dsirResample: higher weights are sampled more often (Gumbel keys respect logw)") {
    // two weight tiers 3 nats apart: the heavy tier should dominate the sample
    val weights = (0L until 400L)
      .map(id => (id.toString, 1L, if (id < 200) 3000000L else 0L))
      .toDF("docid", "n_toks", "logw_q_e6")
    val picked = Curation.dsirResample(weights, k = 60).select("docid")
      .as[Long].collect()
    val heavy = picked.count(_ < 200L)
    assert(heavy > 50, s"e^3-weighted tier should dominate the 60-doc sample, got $heavy/60")
  }

  // ------------------------------------------------- LR classifier

  test("trainLogReg: separable planted labels reach accuracy 1.0; exact under repartition") {
    val docs = (0 until 80).map { i =>
      val y = if (i % 2 == 0) 1 else 0
      val text = if (y == 1) s"shared base tokens doc$i quality verified axiom"
      else s"shared base tokens doc$i casino spam roulette"
      (s"d$i", y, text)
    }
    def model(parts: Int): Curation.LrModel = {
      val td = docs.map { case (id, _, t) => tok(id, t) }.toDS().repartition(parts)
      val feat = Curation.presenceFeatures(td, 64)
        .join(docs.map { case (id, y, _) => (id, y) }.toDF("docid", "y"), "docid")
      Curation.trainLogReg(feat, 64, rounds = 6, lr = 1.0)
    }
    val m1 = model(1)
    val m5 = model(5)
    assert(m1.wq.toSeq == m5.wq.toSeq && m1.biasq == m5.biasq,
      "training must be bit-deterministic under any partitioning")
    val td = docs.map { case (id, _, t) => tok(id, t) }.toDS()
    val feat = Curation.presenceFeatures(td, 64)
      .join(docs.map { case (id, y, _) => (id, y) }.toDF("docid", "y"), "docid")
    val scored = Curation.scoreLogReg(feat, m1).as[(String, Long, Long, Int)].collect()
    assert(scored.length == 80)
    assert(scored.forall { case (_, y, _, pred) => pred == y },
      "planted separable labels must classify perfectly after 6 rounds")
  }

  test("scoreLogReg: margin is the exact integer dot product plus bias") {
    val m = Curation.LrModel(4, 0, Array(10L, -20L, 0L, 5L), 7L)
    val feat = Seq(("a", 1, Seq(0, 3)), ("b", 0, Seq(1))).toDF("docid", "y", "buckets")
    val got = Curation.scoreLogReg(feat, m)
      .as[(String, Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 1L, 22L, 1), ("b", 0L, -13L, 0)))
  }

  test("LR model save/load: bit-exact round-trip, score parity, corruption guard") {
    val m = Curation.LrModel(4, 3, Array(10L, -20L, 0L, Long.MaxValue - 7L), -13L)
    val dir = java.nio.file.Files.createTempDirectory("lrmodel").toString + "/m"
    Curation.saveModel(spark, m, dir)
    val back = Curation.loadModel(spark, dir)
    assert(back.b == m.b && back.rounds == m.rounds && back.biasq == m.biasq
      && back.wq.toSeq == m.wq.toSeq)
    val feat = Seq(("a", 1, Seq(0, 2)), ("b", 0, Seq(1))).toDF("docid", "y", "buckets")
    assert(Curation.scoreLogReg(feat, back).collect().toSeq
      == Curation.scoreLogReg(feat, m).collect().toSeq)
    // wrong-width weights must refuse to load
    Curation.saveModel(spark, Curation.LrModel(5, 1, Array(1L, 2L, 3L, 4L), 0L), dir)
    intercept[IllegalArgumentException](Curation.loadModel(spark, dir))
  }

  test("registry LR fixture separates on the real corpus (sf0.001)") {
    val scored = CurationQueries.lrModelOf(spark, "/root/testdata/sf0.001")
    // the memoized model must be nontrivial: some positive and negative weights
    assert(scored.wq.exists(_ > 0) && scored.wq.exists(_ < 0))
  }
}
