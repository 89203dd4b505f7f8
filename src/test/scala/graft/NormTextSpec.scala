package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Lower
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DistinctCharNgrams, NormTokens, NormalizeText, PortableBands}
import graft.text.TextFunctions

/** Parity locks for the normalized-text kernels: NormalizeText and
  * NormTokens against the Catalyst chains they replace, under both
  * `spark.sql.icu.caseMappings.enabled` settings; DistinctCharNgrams
  * (Dedup.ngramJaccard) and PortableBands against their Column
  * formulas; and a guard that no curation benchmark query plans a
  * Catalyst `Lower` again.
  */
class NormTextSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val IcuConf = "spark.sql.icu.caseMappings.enabled"

  private def chainNormalize(t: Column): Column =
    regexp_replace(lower(trim(t)), "\\s+", " ")
  private def chainTokens(t: Column): Column =
    split(trim(chainNormalize(t)), "\\s+")

  // characters whose case mapping differs between ICU and the JDK, maps
  // one to many, is context-sensitive or leaves the BMP; Java's six \s
  // characters; and Unicode spaces that \s does not match
  private val alphabet: IndexedSeq[String] = (
    "aZ9 ,.-_#".map(_.toString) ++
      Seq("\t", "\n", "\u000B", "\f", "\r", "  ",
        "İ", "ı", "I", "Σ", "σ", "ς", "ß",
        "ẞ", "Ǆ", "ǅ", "ǆ", "ﬃ", "K", "Å",
        "É", "é", "中", "\u00A0", "\u2028", "\u3000", "\uA7C0",
        "𐐀", "𝐀", "😀")).toIndexedSeq

  private val strings: Seq[String] = Seq(null, "", " ", "   ", "\t", " \t\n\u000B\f\r ",
    "Hello  World", "  lead and trail  ", "ΣΑΣ ΟΔΟΣ", "İstanbul", "STRASSE ẞ",
    "Ǆǅǆ", "ﬃ", "𐐀𐐨", "a\u000Bb\fc\rd") ++
    (1 to 400).map { i =>
      val rnd = new scala.util.Random(i)
      (0 until rnd.nextInt(24)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }

  // invalid UTF-8 (stray continuation bytes, truncated sequences, an
  // encoded surrogate, 0xFF) mixed with ASCII, upper case and \s bytes
  private val invalidHex: Seq[String] = Seq("80", "C3", "FF", "41C3", "ED A080",
    "E282", "F09F98", "20C0AF20", "0941FE0A42") ++
    (1 to 60).map { i =>
      val rnd = new scala.util.Random(1000 + i)
      val pool = Seq("41", "62", "20", "09", "0B", "80", "BF", "C3", "C4B0",
        "E2", "ED", "F0", "FF", "CEA3")
      (0 until 1 + rnd.nextInt(10)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    }

  private def texts: DataFrame = {
    val valid = strings.zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "t")
    val invalid = invalidHex.zipWithIndex
      .map { case (h, i) => (100000 + i, h.replace(" ", "")) }.toDF("id", "h")
      .select($"id", unhex($"h").cast("string").as("t"))
    valid.unionByName(invalid)
  }

  /** Each check runs twice: folded on the driver (a local relation,
    * interpreted eval) and after an exchange (generated code on tasks,
    * with no silent fallback to eval when that code fails to compile).
    */
  private def bothPaths(df: DataFrame)(check: DataFrame => Unit): Unit = {
    check(df)
    withConf("spark.sql.codegen.fallback", "false")(check(df.repartition(3)))
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def withIcu[T](on: Boolean)(body: => T): T = withConf(IcuConf, on.toString)(body)

  for (icu <- Seq(true, false)) {
    test(s"NormalizeText and NormTokens equal the Catalyst chains (ICU case mappings $icu)") {
      withIcu(icu) {
        bothPaths(texts) { df =>
          // compared as bytes: a Java String would hide a difference in
          // how invalid UTF-8 was replaced
          def hexes(a: Column) = array_join(transform(a, x => hex(x)), ",")
          val got = df.select($"id",
              hex(NormalizeText($"t")).as("n"), hex(chainNormalize($"t")).as("rn"),
              hexes(NormTokens($"t")).as("k"), hexes(chainTokens($"t")).as("rk"))
            .as[(Int, String, String, String, String)].collect()
          assert(got.length == strings.length + invalidHex.length)
          got.foreach { case (id, n, rn, k, rk) =>
            assert(n == rn, s"normalize id=$id")
            assert(k == rk, s"tokens id=$id")
          }
        }
      }
    }
  }

  test("the ICU setting reaches the kernels") {
    // U+A7C0 (Unicode 14) lowers to U+A7C1 in ICU's tables, not in
    // those of a JDK on Unicode 13 (JDK 17)
    def lowered(on: Boolean): (String, String) = withIcu(on) {
      Seq("\uA7C0x").toDF("t").repartition(1)
        .select(NormalizeText($"t"), chainNormalize($"t")).as[(String, String)].head()
    }
    val (icuGot, icuRef) = lowered(true)
    val (jdkGot, jdkRef) = lowered(false)
    assert(icuGot == icuRef && jdkGot == jdkRef)
    assert(icuRef == "\uA7C1x")
    assume(jdkRef != icuRef, "this JDK's case tables already map U+A7C0")
    assert(jdkGot == "\uA7C0x")
  }

  test("NormTokens: null gives null, empty and whitespace-only give [\"\"]") {
    val got = Seq[String](null, "", "   ", "\t\n\r").toDF("t")
      .select(NormTokens($"t")).as[Seq[String]].collect().toSeq
    assert(got == Seq(null, Seq(""), Seq(""), Seq("")))
    val ws = Seq("  A\tB  c ").toDF("t").select(TextFunctions.normTokens($"t"))
      .as[Seq[String]].head()
    assert(ws == Seq("a", "b", "c"))
  }

  // ---- Dedup.ngramJaccard: DistinctCharNgrams over NormalizeText --------

  private def chainGrams(t: Column, n: Int): Column = {
    val norm = chainNormalize(t)
    array_distinct(transform(sequence(lit(0), greatest(length(norm) - n, lit(0))),
      i => norm.substr(i + 1, lit(n))))
  }

  test("DistinctCharNgrams equals the array_distinct/transform gram formula") {
    val rows = Seq[String](null, "", "a", "ab", "abc", "abcd", "aaaa",
      "😀😀a😀", "x𐐀", "Hello  World hello",
      "ééé 中文") ++ strings.take(120)
    bothPaths(rows.zipWithIndex.toDF("t", "id")) { df =>
      for (n <- Seq(1, 3, 5)) {
        val got = df.select($"id",
            DistinctCharNgrams(NormalizeText($"t"), n).as("g"), chainGrams($"t", n).as("r"))
          .as[(Int, Seq[String], Seq[String])].collect()
        got.foreach { case (id, g, r) => assert(g == r, s"n=$n id=$id") }
      }
    }
    val nullGrams = Seq[String](null).toDF("t")
      .select(DistinctCharNgrams(NormalizeText($"t"), 3)).as[Seq[String]].head()
    assert(nullGrams == Seq(null))
  }

  test("Dedup.ngramJaccard equals the Jaccard of the formula's grams") {
    val rows = Seq[(String, String)](("abcdef", "abcxyz"), (null, "abc"), (null, null),
      ("", ""), ("ab", "ab"), ("😀ab", "😀ac"), ("Same TEXT", "same\ttext")) ++
      strings.sliding(2).collect { case Seq(a, b) => (a, b) }.take(100).toSeq
    val got = rows.toDF("a", "b").repartition(2)
      .select(graft.dedup.Dedup.ngramJaccard($"a", $"b", 3).as("j"),
        graft.plans.JaccardSim(chainGrams($"a", 3), chainGrams($"b", 3)).as("r"))
      .as[(Double, Double)].collect()
    assert(got.length == rows.length)
    got.foreach { case (j, r) => assert(j == r) }
  }

  // ---- PortableBands against the element_at fold -------------------------

  private def foldBands(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    def rot(x: Column) =
      shiftleft(x.bitwiseAND(lit((1L << 52) - 1)), 7).bitwiseOR(shiftrightunsigned(x, 52))
    def bandHash(b: Int): Column =
      (1 until rowsPerBand).foldLeft(element_at(sig, b * rowsPerBand + 1)) {
        (acc, j) => rot(acc).bitwiseXOR(element_at(sig, b * rowsPerBand + j + 1))
      }
    array((0 until bands).map(b => struct(lit(b).as("band"), bandHash(b).as("bh"))): _*)
  }

  test("PortableBands equals the element_at fold, null signature and null elements included") {
    val rnd = new scala.util.Random(9)
    def boxed(v: Long): java.lang.Long = v
    val sigs: Seq[Seq[java.lang.Long]] =
      Seq(null, Seq.fill(32)(boxed(0L)), Seq.fill(32)(boxed(-1L)),
        (0 until 32).map(i => if (i == 5) null else boxed(i.toLong))) ++
        (1 to 40).map { _ =>
          Seq.fill(32)(boxed(
            if (rnd.nextBoolean()) rnd.nextLong() else rnd.nextLong() & ((1L << 59) - 1)))
        }
    val df = sigs.zipWithIndex.map(_.swap).toDF("id", "sig")
    bothPaths(df) { d =>
      for ((bands, r) <- Seq((8, 4), (4, 8), (32, 1))) {
        val got = d.select($"id", PortableBands($"sig", bands, r).as("k"),
            foldBands($"sig", bands, r).as("f"))
          .select($"id", to_json($"k").as("k"), to_json($"f").as("f"))
          .as[(Int, String, String)].collect()
        assert(got.length == sigs.length)
        got.foreach { case (id, k, f) => assert(k == f, s"bands=$bands id=$id") }
      }
    }
    val nullSig = df.filter($"id" === 0).select(explode(PortableBands($"sig", 8, 4)))
      .select($"col.band", $"col.bh").as[(Int, Option[Long])].collect().toSeq
    assert(nullSig == (0 until 8).map(b => (b, None)))
  }

  // ---- guard: no Catalyst lower() in the curation benchmark queries -----

  /** The `curation` workload's queries (perfbench/workloads.py). */
  private val curationQueries = Seq("q_contamination_fuzzy", "q_dedup_minhash",
    "q_dedup_oversized", "q_ann_lsh", "q_quality_filter", "q_repetition", "q_bpe_tokens")

  private def lowers(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries {
      case r: InMemoryRelation =>
        r.cacheBuilder.cachedPlan.collect {
          case p if p.expressions.exists(_.find(_.isInstanceOf[Lower]).isDefined) =>
            p.nodeName
        }
      case p if p.expressions.exists(_.find(_.isInstanceOf[Lower]).isDefined) =>
        Seq(p.nodeName)
    }.flatten

  test("no curation benchmark query plans a Catalyst Lower") {
    curationQueries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, SparkTestSession.sfDir)
      val found = lowers(df.queryExecution.optimizedPlan)
      assert(found.isEmpty, s"$q plans lower() in ${found.mkString(", ")}")
    }
  }
}
