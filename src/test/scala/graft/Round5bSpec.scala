package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Components, Dedup}
import graft.functions.Funcs
import graft.text.TextFunctions

/** Round-5 session 2: connected-components dedup clustering, C4-style
  * unit dedup, repetition-ratio signals, approx-distinct tier.
  */
class Round5bSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- connected components -------------------------------------------

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side union-find ground truth with min-id labels. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents labels a long chain with its minimum in O(log n) rounds") {
    val chain = (1L to 60L).sliding(2).map(s => (s(1), s.head)).toSeq
    val got = ccMap(chain)
    assert(got.keySet == (1L to 60L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("connectedComponents matches driver union-find on a pseudo-random graph") {
    // deterministic congruential edges: several components, some large
    val edges = (0 until 200).map { i =>
      ((i * 37 + 11) % 120L, (i * 91 + 5) % 120L)
    }.filter { case (a, b) => a != b }
    assert(ccMap(edges) == unionFind(edges))
  }

  test("connectedComponents drops nulls and self-loops, keeps isolated pairs") {
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (3L, 3L), (4L, null), (null, 5L), (6L, 7L), (7L, 6L))
      .toDF("s", "d")
    val got = Components.connectedComponents(df, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 6L -> 6L, 7L -> 6L))
  }

  test("connectedComponents frees intermediate round blocks; clearCheckpoints the rest") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val edges = (1L to 40L).sliding(2).map(s => (s(1), s.head)).toSeq
    val out = Components.connectedComponents(edges.toDF("s", "d"), "s", "d")
    assert(out.count() == 40)
    // only the base + final edge lists may remain pinned per call
    val during = spark.sparkContext.getPersistentRDDs.size
    assert(during <= before + 2, s"pinned ${during - before} RDDs, expected <= 2")
    Components.clearCheckpoints()
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("connectedComponents throws rather than returning unconverged labels") {
    val chain = (1L to 30L).sliding(2).map(s => (s(1), s.head)).toSeq
    intercept[IllegalStateException] {
      Components.connectedComponents(chain.toDF("s", "d"), "s", "d", maxIter = 1)
    }
  }

  test("keepRepresentatives keeps exactly one doc per component (transitive)") {
    val docs = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // chain 1-2-3 (pairwise prune would drop both 2 AND 3; cluster keep = {1})
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("idA", "idB")
    val kept = Components.keepRepresentatives(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  // ---- C4-style unit dedup --------------------------------------------

  private lazy val lineDocs = Seq(
    (1L, "alpha\nbeta\ngamma"),
    (2L, "beta\ndelta\n\n  \nalpha"),
    (3L, "delta\ndelta\nepsilon")).toDF("doc_id", "text")

  test("unitDedup keeps the globally-first occurrence of each line") {
    val kept = Dedup.unitDedup(lineDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(kept == Set(
      (1L, 0, "alpha"), (1L, 1, "beta"), (1L, 2, "gamma"),
      (2L, 1, "delta"), (3L, 2, "epsilon")))
  }

  test("unitDedupStats counts per-doc survival (blank lines excluded)") {
    val stats = Dedup.unitDedupStats(lineDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats == Set((1L, 3L, 3L), (2L, 3L, 1L), (3L, 3L, 1L)))
  }

  // ---- repetition signals ---------------------------------------------

  private def rep(text: String): (Double, Double, Double) = {
    val r = Seq(Tuple1(text)).toDF("text")
      .select(TextFunctions.repetitionFeatures(col("text"), 2).as("r"))
      .select("r.dup_token_frac", "r.dup_token_char_frac", "r.dup_ngram_frac")
      .head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2))
  }

  test("repetitionFeatures on a mildly repetitive doc") {
    // toks [a,bb,a,c]: 1 dup of 4 (0.25); chars 5, distinct chars 4 (0.2);
    // 2-grams [a bb, bb a, a c] all distinct (0.0)
    assert(rep("a bb A c") == (0.25, 0.2, 0.0))
  }

  test("repetitionFeatures on a degenerate doc and a short doc") {
    val (tf, cf, gf) = rep("x x x")
    assert(tf == 2.0 / 3 && cf == 2.0 / 3 && gf == 0.5)
    assert(rep("single") == (0.0, 0.0, 0.0))
  }

  test("withRepetitionFeatures matches the inline form and stages tokenization once") {
    // coalesce(1): without it ConvertToLocalRelation folds the projections
    // into the LocalRelation and the plan has no tokenizer left to count
    val df = Seq((1L, "a bb A c x x"), (2L, "q w e")).toDF("doc_id", "text").coalesce(1)
    def flat(d: org.apache.spark.sql.DataFrame) = d
      .select(col("doc_id"), col("r.dup_token_frac"), col("r.dup_token_char_frac"),
        col("r.dup_ngram_frac"))
    val staged = flat(TextFunctions.withRepetitionFeatures(df, "text", 2))
    val inline = flat(df.withColumn("r", TextFunctions.repetitionFeatures(col("text"), 2)))
    assert(staged.collect().map(_.toSeq).toSeq == inline.collect().map(_.toSeq).toSeq)
    // the tokenizer (the NormTokens kernel, printed `normtokens(`) runs
    // once per row: unstaged, the HOF form prints it 20 times, and
    // interpreted HOFs get no codegen CSE. Exactly 1 also fails if the
    // kernel is renamed, so the count cannot pass vacuously
    val plan = staged.queryExecution.optimizedPlan.toString
    val n = "normtokens\\(|normalizetext\\(".r.findAllIn(plan).size
    assert(n == 1, s"tokenizer appears $n times — staging was collapsed:\n$plan")
  }

  test("largeStar/smallStar rounds cost at most two exchanges each") {
    val e = Seq((1L, 2L), (2L, 3L), (7L, 3L)).toDF("src", "dst")
    for ((name, star) <- Seq("largeStar" -> Components.largeStar(e),
        "smallStar" -> Components.smallStar(e))) {
      val plan = star.queryExecution.executedPlan.toString
      val nEx = "Exchange".r.findAllIn(plan).size
      assert(nEx <= 2, s"$name has $nEx exchanges:\n$plan")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    }
  }

  test("scrubUrls/scrubEmails mask real matches and leave clean text alone") {
    val df = Seq(
      (1L, "see https://a.io/x?q=1 or mail bob.smith+x@corp.co.uk now"),
      (2L, "no links here")).toDF("id", "text")
    val got = df.select(col("id"),
        TextFunctions.scrubUrls(TextFunctions.scrubEmails(col("text"))).as("c"),
        TextFunctions.patternCount(col("text"), TextFunctions.urlPattern).as("nu"),
        TextFunctions.patternCount(col("text"), TextFunctions.emailPattern).as("ne"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == Set(
      (1L, "see <URL> or mail <EMAIL> now", 1, 1),
      (2L, "no links here", 0, 0)))
  }

  // ---- approx-distinct tier -------------------------------------------

  test("uniqueNApprox is within the HLL error envelope of the exact count") {
    val df = (0 until 20000).map(i => (i % 1234, i % 7)).toDF("v", "g")
    val exact = DT(df).uniqueN("v")
    assert(exact == 1234L)
    val approx = DT(df).uniqueNApprox(0.05, "v")
    // rsd=0.05 is one sigma; 4x = overwhelming headroom, still catches
    // a wrong-column or wrong-sketch regression
    assert(math.abs(approx - exact) <= exact * 0.2,
      s"approx=$approx exact=$exact")
    val grouped = df.groupBy("g")
      .agg(Funcs.uniqueNAgg(col("v"), exact = true).as("u"),
        Funcs.uniqueNAgg(col("v"), exact = false).as("ua"))
      .collect()
    grouped.foreach { r =>
      val (u, ua) = (r.getLong(1), r.getLong(2))
      assert(math.abs(ua - u) <= math.max(u * 0.2, 2), s"g=${r.get(0)}: $ua vs $u")
    }
  }
}
