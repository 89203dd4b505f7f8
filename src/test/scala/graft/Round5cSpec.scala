package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.curate.Contamination
import graft.sim.Similarity
import graft.text.TextFunctions

/** Round-5 session 3: benchmark decontamination, int8 embedding
  * quantization, phone/IP scrubbing, per-domain host extraction.
  */
class Round5cSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- contamination ---------------------------------------------------

  private lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "completely unrelated text with no shared phrases here"),
    (3L, "quick brown fox is a common pangram fragment"),
    (4L, "short doc")).toDF("doc_id", "text")
  private lazy val bench = Seq(
    (100L, "THE QUICK BROWN FOX appears in this benchmark item"),
    (101L, "another eval question entirely")).toDF("doc_id", "text")

  test("ngramOverlap counts distinct shared n-grams, case/space-insensitive") {
    val got = Contamination.ngramOverlap(corpus, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "the quick brown" + "quick brown fox"; doc 3 shares
    // "quick brown fox"; docs 2 and 4 share nothing (4 is below n).
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("decontaminate drops exactly the overlapping docs; minHits raises the bar") {
    val kept = Contamination.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
    val kept2 = Contamination.decontaminate(corpus, bench, "doc_id", "text",
      n = 3, minHits = 2).select("doc_id").as[Long].collect().toSet
    assert(kept2 == Set(2L, 3L, 4L))
  }

  test("ngramOverlap broadcast and shuffle tiers agree; broadcast tier plans a broadcast join") {
    val b = Contamination.ngramOverlap(corpus, bench, "doc_id", "text", n = 2)
    val s = Contamination.ngramOverlap(corpus, bench, "doc_id", "text", n = 2,
      broadcastBench = false)
    assert(b.collect().toSet == s.collect().toSet)
    val plan = b.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast join for the bench grams, got:\n$plan")
  }

  test("ngramOverlap hashed tier agrees with the exact-string tier") {
    val exact = Contamination.ngramOverlap(corpus, bench, "doc_id", "text", n = 2)
    val hashed = Contamination.ngramOverlap(corpus, bench, "doc_id", "text",
      n = 2, hashGrams = true)
    assert(exact.collect().toSet == hashed.collect().toSet)
  }

  test("fuzzyOverlap orients pairs corpus→bench and drops same-side pairs") {
    val rep = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus2 = Seq(
      (1L, rep),                                  // near-dup of bench 100
      (2L, rep + " extra"),                       // near-dup of bench 100 + of 1
      (3L, "completely different corpus content about spark physical plans"))
      .toDF("doc_id", "text")
    val bench2 = Seq((100L, rep), (101L, "unrelated benchmark question text"))
      .toDF("doc_id", "text")
    try {
      val got = graft.curate.Contamination.fuzzyOverlap(
          corpus2, bench2, "doc_id", "text", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // corpus-side id first, bench id second; the 1-2 same-side pair is
      // dropped even though it IS a near-dup pair
      assert(got.contains((1L, 100L)))
      assert(got.forall { case (c, b) => Set(1L, 2L, 3L)(c) && Set(100L, 101L)(b) })
    } finally graft.dedup.Dedup.clearBases()
  }

  test("fuzzyOverlap is safe when corpus and bench reuse the same id values") {
    val rep = "the quick brown fox jumps over the lazy dog again and again today"
    // id 1 exists on BOTH sides, for DIFFERENT documents — the side tag
    // must keep them apart (plain-id union would conflate them)
    val corpus2 = Seq((1L, rep), (2L, "nothing in common with anything here"))
      .toDF("doc_id", "text")
    val bench2 = Seq((1L, rep), (2L, "some other benchmark question entirely"))
      .toDF("doc_id", "text")
    try {
      val got = graft.curate.Contamination.fuzzyOverlap(
          corpus2, bench2, "doc_id", "text", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 1L)), s"expected the cross-side pair only, got $got")
    } finally graft.dedup.Dedup.clearBases()
  }

  // ---- domain caps -----------------------------------------------------

  test("capPerKey keeps at most n per key, deterministically across reorderings") {
    val df = (1L to 100L).map(i => (s"h${i % 3}", i, s"content $i"))
      .toDF("host", "id", "text")
    val kept = graft.curate.Sampling.capPerKey(df, col("host"), col("text"),
      7, col("id"))
    val byHost = kept.groupBy("host").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byHost.values.forall(_ == 7L) && byHost.size == 3)
    // survivors are a pure function of content, not input order
    val kept2 = graft.curate.Sampling.capPerKey(df.orderBy(col("id").desc),
      col("host"), col("text"), 7, col("id"))
      .select("id").as[Long].collect().toSet
    assert(kept2 == kept.select("id").as[Long].collect().toSet)
    // a key with fewer rows than the cap keeps all of them
    val small = graft.curate.Sampling.capPerKey(df.limit(4), col("host"),
      col("text"), 7, col("id"))
    assert(small.count() == 4)
  }

  test("assignSplit: stable under reordering and growth, fractions validated") {
    val df = (1L to 200L).map(i => (i, s"document body $i")).toDF("id", "text")
    val split = graft.curate.Sampling.assignSplit(df, col("text"),
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val m1 = split.select(col("id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1.values.toSet.subsetOf(Set("train", "valid", "test")))
    // reordering and adding rows never move an existing doc
    val grown = ((1L to 200L) ++ (900L to 950L)).reverse
      .map(i => (i, s"document body $i")).toDF("id", "text")
    val m2 = graft.curate.Sampling.assignSplit(grown, col("text"),
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .select(col("id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 200L).forall(i => m1(i) == m2(i)))
    intercept[IllegalArgumentException] {
      graft.curate.Sampling.assignSplit(df, col("text"),
        Seq("train" -> 0.8, "valid" -> 0.1))
    }
  }

  test("mixToTokenTargets: rates track shares, cap at 1, drop untargeted sources") {
    val df = (1L to 300L).map { i =>
      (i, s"s${i % 3}", ("tok " * (1 + (i % 5).toInt)).trim)
    }.toDF("id", "source", "text")
    val toks = size(split(col("text"), " "))
    // huge budget: every targeted source caps at rate 1 (kept whole)
    val all = graft.curate.Sampling.mixToTokenTargets(df, col("text"),
      "source", toks, Map("s0" -> 0.5, "s1" -> 0.5), budgetTokens = 1000000L)
    val bySrc = all.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("s0" -> 100L, "s1" -> 100L), s"got $bySrc") // s2 dropped
    // small budget: roughly proportional downsample, deterministic
    val small = graft.curate.Sampling.mixToTokenTargets(df, col("text"),
      "source", toks, Map("s0" -> 0.5, "s1" -> 0.5), budgetTokens = 200L)
    val n1 = small.count()
    assert(n1 > 0 && n1 < 200, s"expected a real downsample, kept $n1")
    assert(small.select("id").as[Long].collect().toSet ==
      graft.curate.Sampling.mixToTokenTargets(df.orderBy(col("id").desc),
        col("text"), "source", toks, Map("s0" -> 0.5, "s1" -> 0.5),
        budgetTokens = 200L).select("id").as[Long].collect().toSet)
  }

  // ---- gopher quality filter ------------------------------------------

  test("gopherFilter fails the right rules with the right reason labels") {
    val good = ("the data of this corpus and that table have rows with " +
      "columns and each row should be long enough to pass the filters " +
      "easily because it keeps plain english words flowing onward " +
      "nicely for the whole test document here today") // >30 toks, stopwords
    val rows = Seq(
      (1L, good),
      (2L, "short doc with the word"),                       // tokens only
                                                             // ("with"+"the" satisfy minStopwords=2)
      (3L, good + " ################################"),      // symbol
      (4L, (1 to 40).map(i => s"word$i plain text token").mkString(" ")), // stopword
                                                             // (no gopher stopwords at all)
      (5L, (1 to 40).map(_ => "12345").mkString(" ")))       // alpha+stopword
      .toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
        TextFunctions.gopherFilter(col("text"), minTokens = 30,
          maxMeanLen = 10.0, minStopwords = 2).as("f"))
      .select(col("doc_id"), col("f.keep"), col("f.reasons"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(got(1L) == ((true, "")))
    assert(got(2L) == ((false, "tokens")))
    assert(got(3L)._2.contains("symbol"))
    assert(got(4L)._2 == "stopword")
    assert(got(5L)._2.contains("alpha") && got(5L)._2.contains("stopword"))
  }

  test("gopherFilter drops null and empty documents (no null-comparison pass-through)") {
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextFunctions.gopherFilter(col("text"), minTokens = 5).as("f"))
      .select(col("doc_id"), col("f.keep"), col("f.reasons"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    got.foreach { case (id, (keep, reasons)) =>
      assert(!keep, s"doc $id must not pass the quality gate")
      assert(reasons.contains("tokens"), s"doc $id reasons: $reasons")
    }
  }

  test("withGopherFilter stages the tokenizer once and matches the inline form") {
    // coalesce(1): without it ConvertToLocalRelation folds the projections
    // into the LocalRelation and the plan has no tokenizer left to count
    val df = Seq((1L, "the data and that table have rows with text of words be"),
      (2L, "xx yy zz")).toDF("doc_id", "text").coalesce(1)
    val staged = TextFunctions.withGopherFilter(df, "text", minTokens = 5)
      .select(col("doc_id"), col("f.keep"), col("f.reasons"))
    val inline = df.select(col("doc_id"),
        TextFunctions.gopherFilter(col("text"), minTokens = 5).as("f"))
      .select(col("doc_id"), col("f.keep"), col("f.reasons"))
    assert(staged.collect().toSeq == inline.collect().toSeq)
    // the tokenizer (the NormTokens kernel, printed `normtokens(`) stays
    // in its own projection: unstaged, the rules print it 28 times.
    // Exactly 1 also fails if the kernel is renamed, so the count cannot
    // pass vacuously
    val plan = staged.queryExecution.optimizedPlan.toString
    val n = "normtokens\\(|normalizetext\\(".r.findAllIn(plan).size
    assert(n == 1, s"tokenizer appears $n times — staging was collapsed:\n$plan")
  }

  // ---- int8 quantization ----------------------------------------------

  private lazy val vecs = Seq(
    (0L, Seq(0.5, -1.0, 0.25, 0.0)),
    (1L, Seq(0.0, 0.0, 0.0, 0.0)),          // all-zero: scale 0, no NaN
    (2L, Seq(1e-8, -1e-8, 5e-9, 0.0)),      // tiny magnitudes
    (3L, (1 to 64).map(i => math.sin(i.toDouble)).toSeq))
    .toDF("vec_id", "v")

  test("quantizeInt8: codes bounded, max|x| maps to ±127, zero vector stays zero") {
    val q = vecs.withColumn("q", Similarity.quantizeInt8(col("v")))
      .select(col("vec_id"), col("q.scale").as("scale"), col("q.code").as("code"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    q.values.foreach { case (_, code) =>
      assert(code.forall(c => c >= -127 && c <= 127)) }
    assert(q(0L)._2 == Seq(64, -127, 32, 0)) // scale = 1/127
    assert(q(1L)._1 == 0.0 && q(1L)._2.forall(_ == 0))
    assert(q(2L)._2.max == 127 || q(2L)._2.min == -127) // tiny but scaled
  }

  test("quantError ≤ half-step bound and 0 for the zero vector") {
    val e = vecs.withColumn("q", Similarity.quantizeInt8(col("v")))
      .select(col("vec_id"),
        Similarity.quantError(col("v"), col("q")).as("err"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(e(1L) == 0.0)
    // per-component error ≤ scale/2 = max|x|/254 → relative L2 error is
    // ≤ (scale/2)·sqrt(dim)/||x||; for these fixtures far under 5%
    e.filterKeys(_ != 1L).values.foreach(v => assert(v >= 0 && v < 0.05, v))
  }

  test("dequantizeInt8 round-trips within one quantization step per component") {
    val rows = vecs.withColumn("q", Similarity.quantizeInt8(col("v")))
      .select(col("v"), Similarity.dequantizeInt8(col("q")).as("dq"),
        col("q.scale").as("scale"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0); val dq = r.getSeq[Double](1)
      val scale = r.getDouble(2)
      v.zip(dq).foreach { case (a, b) =>
        assert(math.abs(a - b) <= scale / 2 + 1e-15, s"$a vs $b (scale $scale)") }
    }
  }

  test("withQuantizedInt8 stages the scale once and matches the inline form") {
    val staged = Similarity.withQuantizedInt8(vecs, "v")
      .select(col("vec_id"), col("q"))
    val inline = vecs.select(col("vec_id"),
      Similarity.quantizeInt8(col("v")).as("q"))
    assert(staged.collect().toSeq == inline.collect().toSeq)
    val n = "array_max".r.findAllIn(
      staged.queryExecution.optimizedPlan.toString).size
    assert(n <= 2, s"scale subtree duplicated $n times — staging was collapsed")
  }

  // ---- product quantization -------------------------------------------

  test("pqFitMod/pqAssign: per-subspace codes in range, identical dup vectors share codes") {
    val dim = 8
    val data = (0L until 40L).map { i =>
      (i, (0 until dim).map(d => math.sin(i.toDouble * (d + 1) % 7)).toSeq)
    } :+ (99L, (0 until dim).map(d => math.sin(3.0 * (d + 1) % 7)).toSeq)
    val df = data.toDF("vec_id", "v")
    val cbs = graft.sim.Similarity.pqFitMod(df, "vec_id", "v", dim = dim,
      mSub = 2, k = 3, sampleMod = 2, iters = 2)
    assert(cbs.size == 2 && cbs.forall(cb => cb.size == 3 && cb.forall(_.size == dim / 2)))
    val codes = graft.sim.Similarity.pqAssign(df, "v", cbs, dim = dim)
      .select(col("vec_id"), col("pq_c0"), col("pq_c1"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(codes.values.forall { case (a, b) => a >= 0 && a < 3 && b >= 0 && b < 3 })
    // vec 99 is an exact duplicate of vec 3 → identical code tuple
    assert(codes(99L) == codes(3L))
  }

  test("residuals: v − centroid[cell], and residual + centroid round-trips to v") {
    val cents = Seq(Seq(1.0, 2.0), Seq(-1.0, 0.5))
    val df = Seq((0L, Seq(1.5, 2.5)), (1L, Seq(-0.5, 0.0))).toDF("vec_id", "v")
    val assigned = graft.sim.Similarity.ivfAssign(df, "v", cents)
    val got = graft.sim.Similarity.residuals(assigned, "v", "ivf_cell", cents)
      .select(col("vec_id"), col("ivf_cell"), col("res"), col("v"))
      .collect()
    got.foreach { r =>
      val cell = r.getInt(1)
      val res = r.getSeq[Double](2); val v = r.getSeq[Double](3)
      res.zip(v).zip(cents(cell)).foreach { case ((rr, vv), cc) =>
        assert(math.abs(rr - (vv - cc)) < 1e-12) }
    }
  }

  // ---- PII scrubbing + host extraction --------------------------------

  test("phone and IP scrubbing mask the matches and only the matches") {
    val df = Seq(
      "call +1 415 555 0123 or +44-20-7946-0958 now",
      "server at 10.0.3.77 and 192.168.1.1, version 1.2 unaffected",
      "no pii here, just +steve and 1.2.3 partial").toDF("t")
    val got = df.select(
      TextFunctions.scrubIps(TextFunctions.scrubPhones(col("t"))).as("c"))
      .as[String].collect()
    assert(got(0) == "call <PHONE> or <PHONE> now")
    assert(got(1) == "server at <IP> and <IP>, version 1.2 unaffected")
    assert(got(2) == "no pii here, just +steve and 1.2.3 partial")
  }

  test("urlHost extracts the first URL's host, empty when absent") {
    val got = Seq(
      "see https://sub.example.com/path?q=1 and http://other.org/x",
      "no links at all").toDF("t")
      .select(TextFunctions.urlHost(col("t")).as("h")).as[String].collect()
    assert(got(0) == "sub.example.com")
    assert(got(1) == "")
  }
}
