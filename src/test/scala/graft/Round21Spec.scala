package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.PortableHash

/** Round-21 (optimization round) kernel parity locks: every rewrite
  * here replaced an expression with a faster form that must stay
  * BIT-IDENTICAL — these tests pin each one to the formula it replaced.
  */
class Round21Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- PortableHash fast a60 (no-hex digest prefix) --------------------

  test("a60 equals parsing the first 15 md5 hex chars, incl. edge bytes") {
    val rnd = new scala.util.Random(21)
    val cases = Seq("", " ", "a", "hello world", "é中文",
      "\n\t", "0" * 1000) ++ (1 to 200).map(_ =>
      rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
    cases.foreach { s =>
      val viaHex = java.lang.Long.parseLong(
        PortableHash.md5Hex(s).substring(0, 15), 16)
      assert(PortableHash.a60(s) == viaHex, s"a60 mismatch for '$s'")
    }
  }

  test("PortableShingles incremental digest equals joined-string md5") {
    // reference: shingle text = k tokens joined with " ", identity =
    // a60 of that string (the pre-r21 slice+mkString implementation)
    def refShingles(toks: Seq[String], k: Int): Seq[Long] = {
      val texts =
        if (toks.length < k) Seq(toks.mkString(" "))
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      texts.map(PortableHash.a60).distinct
    }
    val rnd = new scala.util.Random(42)
    val docs = (1 to 50).map { i =>
      val n = rnd.nextInt(12)
      (i, (0 until n).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString))
    } :+ (51, Seq("dup", "dup", "dup", "dup")) :+ (52, Seq.empty[String]) :+
      (53, Seq("", "", "a")) // empty tokens (null-token path shares "")
    val df = docs.toDF("id", "toks")
    for (k <- Seq(2, 3, 5)) {
      val got = df.select($"id",
          graft.plans.PortableShingles($"toks", k).as("sh"))
        .as[(Int, Seq[Long])].collect().toMap
      docs.foreach { case (id, toks) =>
        assert(got(id) == refShingles(toks, k), s"shingles k=$k id=$id")
      }
    }
  }

  test("PortableSimHash matches per-token a60 bit votes") {
    val toks = Seq("alpha", "beta", "gamma", "beta", "")
    def ref(ts: Seq[String]): Long = {
      val ones = new Array[Int](60)
      ts.foreach { t =>
        val a = PortableHash.a60(t)
        (0 until 60).foreach(b => if (((a >>> b) & 1L) == 1L) ones(b) += 1)
      }
      (0 until 60).foldLeft(0L)((sig, b) =>
        if (2 * ones(b) - ts.length > 0) sig | (1L << b) else sig)
    }
    val got = Seq(Tuple1(toks)).toDF("t")
      .select(graft.plans.PortableSimHash($"t").as("sig")).as[Long].head()
    assert(got == ref(toks))
  }

  // ---- text kernels vs the Catalyst formulas they replaced -------------

  test("DistinctWordNgrams equals array_distinct(ngramsOf)") {
    import graft.text.TextFunctions
    val rnd = new scala.util.Random(11)
    val vocab = Seq("the", "cat", "sat", "on", "mat", "é", "中文", "", "x y")
    val rows = (1 to 120).map { i =>
      (i, Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length))))
    } :+ (121, Seq.empty[String]) :+ (122, Seq("solo")) :+
      (123, Seq("a", "a", "a", "a")) // heavy duplicates
    val df = rows.toDF("id", "toks")
    for (n <- Seq(2, 3)) {
      val got = df.select($"id",
          graft.plans.DistinctWordNgrams($"toks", n).as("g"),
          array_distinct(TextFunctions.ngramsOf($"toks", n)).as("ref"))
        .as[(Int, Seq[String], Seq[String])].collect()
      got.foreach { case (id, g, ref) => assert(g == ref, s"ngrams n=$n id=$id") }
    }
    // null token array and in-array nulls
    val ndf = Seq((1, null: Seq[String]), (2, Seq("a", null, "b", "c")))
      .toDF("id", "toks")
    val ngot = ndf.select($"id",
        graft.plans.DistinctWordNgrams($"toks", 2).as("g"),
        array_distinct(TextFunctions.ngramsOf($"toks", 2)).as("ref"))
      .as[(Int, Seq[String], Seq[String])].collect()
    ngot.foreach { case (id, g, ref) => assert(g == ref, s"null case id=$id") }
  }

  test("AsciiSqueeze(lower) equals the canonicalize regex chain") {
    def oldCanon(text: org.apache.spark.sql.Column) =
      trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]", " "), " +", " "))
    val rows = Seq("Hello,  World!", "", "   ", "a", "É中文x9",
      "tabs\tand\nnewlines", "123---456", "ÀÉÎ õü ß", "emoji 😀 mixed",
      "UPPER lower 42", "..a..b..", "ünïcödé wörds") ++
      (1 to 100).map { i =>
        val rnd = new scala.util.Random(i)
        (0 until rnd.nextInt(60)).map(_ =>
          "aZ9 ,.é中\t😀#".charAt(rnd.nextInt(11))).mkString
      }
    val df = rows.zipWithIndex.map(_.swap).toDF("id", "t")
    val got = df.select($"id", graft.text.TextFunctions.canonicalize($"t").as("g"),
        oldCanon($"t").as("ref"))
      .as[(Int, String, String)].collect()
    got.foreach { case (id, g, ref) => assert(g == ref, s"canonicalize id=$id") }
  }

  test("SumTokenLengths / CountAlphaTokens equal their HOF formulas") {
    val rows = Seq(
      (1, Seq("abc", "Dé", "", "中文字", "x1")),
      (2, Seq.empty[String]),
      (3, Seq("ABC", "123", "...")),      // no lowercase at all
      (4, Seq("z")),
      (5, Seq("ümläut", "ss", "ß")))
    val df = rows.toDF("id", "toks")
    val got = df.select($"id",
        graft.plans.SumTokenLengths($"toks").as("sl"),
        aggregate($"toks", lit(0L), (acc, t) => acc + length(t)).as("slRef"),
        graft.plans.CountAlphaTokens($"toks").as("ca"),
        size(filter($"toks", t => t.rlike("[a-z]"))).as("caRef"))
      .as[(Int, Long, Long, Int, Int)].collect()
    got.foreach { case (id, sl, slRef, ca, caRef) =>
      assert(sl == slRef, s"sumLen id=$id")
      assert(ca == caRef, s"alpha id=$id")
    }
    // null element poisons the length fold to null, filter drops it
    val ndf = Seq((1, Seq("a", null, "b"))).toDF("id", "toks")
    val n = ndf.select(
        graft.plans.SumTokenLengths($"toks").as("sl"),
        aggregate($"toks", lit(0L), (acc, t) => acc + length(t)).as("slRef"),
        graft.plans.CountAlphaTokens($"toks").as("ca"),
        size(filter($"toks", t => t.rlike("[a-z]"))).as("caRef"))
      .as[(Option[Long], Option[Long], Int, Int)].head()
    assert(n._1 == n._2 && n._1.isEmpty && n._3 == n._4 && n._3 == 2)
  }

  // ---- publish fallback: O_EXCL lock claim, exactly one winner ---------

  test("lockClaimPublish: racing publishers yield exactly one winner") {
    // The r21 verify-own-bytes fallback had a TOCTOU hole on replace-
    // semantics mounts (A-rename, A-verify, B-rename-replace, B-verify:
    // BOTH true — ADVICE r21 medium). The r22 fallback claims with an
    // O_EXCL lock-file create — atomic on the filesystem, no
    // check-then-act window — so no interleaving can double-win, and
    // only the winner ever renames onto the manifest destination.
    val dir = java.nio.file.Files.createTempDirectory("graft_rnv").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val rootP = new org.apache.hadoop.fs.Path(dir)
    def writeTmp(name: String, txt: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(dir, name)
      val o = fs.create(p, true)
      try o.write(txt.getBytes("UTF-8")) finally o.close()
      p
    }
    def contentAt(dst: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(dst)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val IC = graft.operators.IndexCommit
    // sequential: first claim wins, the stalled follower loses fairly
    // even though its own rename would have REPLACED on a raw mount
    val d1 = new org.apache.hadoop.fs.Path(dir, "_commit_v1")
    val txtA = "agg=-\nbatchA\n"
    val txtB = "agg=-\nbatchA\nbatchB\n" // A's list ⊂ B's list
    val okA = IC.lockClaimPublish(fs, rootP, writeTmp("tA", txtA), d1)
    val okB = IC.lockClaimPublish(fs, rootP, writeTmp("tB", txtB), d1)
    assert(okA && !okB, "first publisher wins, follower loses fairly")
    assert(contentAt(d1) == txtA, "the winner's bytes survive")
    // CONCURRENT claims of one version from many threads, repeated:
    // exactly one winner per round under any thread interleaving
    (2 to 9).foreach { v =>
      val dv = new org.apache.hadoop.fs.Path(dir, s"_commit_v$v")
      val results = (0 until 4).map { i =>
        val txt = s"agg=-\nbatch_r${v}_$i\n"
        val t = writeTmp(s"t_${v}_$i", txt)
        val th = new java.lang.Thread {
          @volatile var won = false
          override def run(): Unit =
            won = IC.lockClaimPublish(fs, rootP, t, dv)
        }
        (th, txt)
      }
      results.foreach(_._1.start())
      results.foreach(_._1.join())
      val winners = results.filter(_._1.won).map(_._2)
      assert(winners.size == 1, s"v$v: exactly one winner, got $winners")
      assert(contentAt(dv) == winners.head, s"v$v: winner's bytes at dst")
      val st = IC.read(spark, dir)
      assert(st.version == v, s"read() resolves the latest version at v$v")
    }
    // crash healing: a lock naming a complete tmp with NO manifest (the
    // winner died between lock and rename) — a losing publisher
    // completes the rename on the winner's behalf
    val d10 = new org.apache.hadoop.fs.Path(dir, "_commit_v10")
    val txtW = "agg=-\nbatchW\n"
    writeTmp("tWinner", txtW)
    val lockP = java.nio.file.Paths.get(dir, "._commit_v10.lock")
    java.nio.file.Files.write(lockP, "tWinner".getBytes("UTF-8"))
    val okLate = IC.lockClaimPublish(fs, rootP, writeTmp("tLate", "agg=-\nbatchL\n"), d10)
    assert(!okLate, "the healer still loses")
    assert(contentAt(d10) == txtW, "the crashed winner's manifest was healed")
    fs.delete(rootP, true)
  }

  test("lockClaimPublish: a healer renaming before the winner leaves the winner winning") {
    // The interleaving behind a rare no-winner round of the race above,
    // run in order on one thread: the winner holds the lock, and its
    // filesystem lets a loser heal (rename the winner's tmp onto dst)
    // right before the winner's own rename of the now-missing source.
    val dir = java.nio.file.Files.createTempDirectory("graft_heal").toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val local = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val rootP = new org.apache.hadoop.fs.Path(dir)
    def writeTmp(name: String, txt: String): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(dir, name)
      val o = local.create(p, true)
      try o.write(txt.getBytes("UTF-8")) finally o.close()
      p
    }
    val IC = graft.operators.IndexCommit
    val dst = new org.apache.hadoop.fs.Path(dir, "_commit_v1")
    val tmpL = writeTmp("tLoser", "agg=-\nbatchL\n")
    var healed = false
    val healFirst = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def rename(src: org.apache.hadoop.fs.Path,
                          d: org.apache.hadoop.fs.Path): Boolean = {
        healed = !IC.lockClaimPublish(local, rootP, tmpL, dst) && local.exists(dst)
        super.rename(src, d)
      }
    }
    healFirst.initialize(java.net.URI.create("file:///"), conf)
    val won = IC.lockClaimPublish(healFirst, rootP, writeTmp("tWinner", "agg=-\nbatchW\n"), dst)
    assert(healed, "the loser healed before the winner's rename")
    assert(won, "the winner still wins")
    local.delete(rootP, true)
  }

  // ---- span count(1) == count(DISTINCT doc_id) on the unique pairs -----

  test("duplicateSpans plain count equals the distinct-count formula") {
    // overlapping docs: shared boilerplate spans across ids, repeated
    // spans WITHIN one doc (the winnow dedups those per doc)
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1, s"alpha $boiler omega $boiler"), // intra-doc repeat
      (2, s"beta $boiler something else entirely here that is long enough"),
      (3, s"gamma $boiler and other words to pad the document out a bit"),
      (4, "completely unrelated content with no shared spans at all padded"))
      .toDF("doc_id", "text")
    val fast = graft.dedup.Dedup.duplicateSpans(docs, "doc_id", "text",
      k = 10, w = 4).orderBy("span_fp").collect()
    // reference: explicit countDistinct over the same span pairs
    val spans = docs
      .withColumn("_ct", graft.text.TextFunctions.canonicalize($"text"))
      .select($"doc_id",
        explode(graft.dedup.Dedup.winnowFingerprints($"_ct", 10, 4)).as("span_fp"))
    val ref = spans.groupBy($"span_fp")
      .agg(countDistinct($"doc_id").as("n_docs"))
      .filter($"n_docs" >= 2).orderBy("span_fp").collect()
    assert(fast.toSeq == ref.toSeq)
    assert(fast.nonEmpty) // the boilerplate must actually collide
  }

  // ---- JaccardSim one-pass count vs the Catalyst set-op formula --------

  test("JaccardSim equals the array_intersect/array_union formula") {
    def oldFormula(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) = {
      val inter = size(array_intersect(a, b)).cast("double")
      val uni = size(array_union(a, b)).cast("double")
      when(uni > 0, inter / uni).otherwise(lit(1.0))
    }
    val rnd = new scala.util.Random(7)
    // longs with duplicates, empties, disjoint/overlapping
    val longRows = (1 to 300).map { i =>
      def arr() = Seq.fill(rnd.nextInt(30))(rnd.nextInt(20).toLong)
      (i, arr(), arr())
    } :+ (301, Seq.empty[Long], Seq.empty[Long]) :+
      (302, Seq(1L, 1L, 2L), Seq.empty[Long])
    val ldf = longRows.toDF("id", "a", "b")
    val lgot = ldf.select($"id", graft.plans.JaccardSim($"a", $"b").as("j"),
        oldFormula($"a", $"b").as("ref"))
      .as[(Int, Double, Double)].collect()
    lgot.foreach { case (id, j, ref) => assert(j == ref, s"long row $id") }
    // strings (the ngramJaccard path), incl. in-array nulls on both sides
    val strRows = Seq(
      (1, Seq("x", "y", "z"), Seq("y", "z", "w")),
      (2, Seq("x", "x"), Seq("x")),
      (3, Seq[String](null, "a"), Seq[String](null, "b")),
      (4, Seq[String](null), Seq("a")),
      (5, Seq.empty[String], Seq.empty[String]))
    val sdf = strRows.toDF("id", "a", "b")
    val sgot = sdf.select($"id", graft.plans.JaccardSim($"a", $"b").as("j"),
        oldFormula($"a", $"b").as("ref"))
      .as[(Int, Double, Double)].collect()
    sgot.foreach { case (id, j, ref) => assert(j == ref, s"string row $id") }
    // NULL array on either side → the old formula's otherwise(1.0)
    val ndf = Seq((1, Some(Seq(1L)), None: Option[Seq[Long]]),
      (2, None: Option[Seq[Long]], None: Option[Seq[Long]]))
      .toDF("id", "a", "b")
    val ngot = ndf.select(graft.plans.JaccardSim($"a", $"b").as("j"))
      .as[Double].collect()
    assert(ngot.toSeq == Seq(1.0, 1.0))
  }
}
