package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.curate.Contamination

/** Round-11 hardening: the round-10 advisory closures (bloom cap clamp,
  * merge by.x/by.y pre-clash suffixing, type-aware splitBy ordering,
  * SessionMemo single-compute under races) plus the tests.Rraw tranche
  * of the round.
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- advisory medium: bloom est/bits above the session caps ---------

  test("ngramOverlapBloomDistributed clamps est/bits above the runtime bloom caps") {
    Contamination.clearFits()
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "one two three four"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val bench = Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text")
    // estimatedGrams far above the default maxNumItems (4,194,304):
    // the old form threw DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE at
    // analysis — exactly at the giant-bench scale this tier exists for
    val got = Contamination.ngramOverlapBloomDistributed(
      corpus, bench, "doc_id", "text", n = 2, estimatedGrams = 50_000_000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact semantics preserved: docs 1 and 3 share the bench bigrams
    val exact = Contamination.ngramOverlap(
      corpus, bench, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == exact)
    assert(got.keySet == Set(1L, 3L))
  }

  // ---- advisory low: merge by.x/by.y clash + by alongside byX ----------

  test("merge by.x/by.y suffixes a pre-existing y column named like the x key") {
    val x = Seq((1, "a1"), (2, "a2")).toDF("id", "xv")
    // y's PAYLOAD column `id` clashes with x's key name while joining
    // on yk — the reference emits it as `id.y`
    val y = Seq((1, 100, "b1"), (2, 200, "b2")).toDF("yk", "id", "yv")
    val m = DT(x).merge(DT(y), byX = Seq("id"), byY = Seq("yk"))
    assert(m.df.columns.toSeq == Seq("id", "xv", "id.y", "yv"))
    val rows = m.df.orderBy(col("id")).collect()
    assert(rows.map(_.getInt(2)).toSeq == Seq(100, 200))
  }

  test("merge refuses by= alongside by.x/by.y instead of silently ignoring it") {
    val x = Seq((1, "a")).toDF("id", "xv")
    val y = Seq((1, "b")).toDF("yk", "yv")
    val e = intercept[IllegalArgumentException] {
      DT(x).merge(DT(y), by = Seq("id"), byX = Seq("id"), byY = Seq("yk"))
    }
    assert(e.getMessage.contains("not both"))
  }

  // ---- advisory low: splitBy(sorted=true) type-aware piece order -------

  test("splitBy(sorted=true) orders numeric keys numerically, NA last") {
    val df = Seq(
      (10, "x"), (2, "y"), (1, "z"), (10, "w")).toDF("k", "v")
      .unionByName(Seq((Option.empty[Int], "n")).toDF("k", "v"))
    val pieces = DT(df).splitBy(Seq("k"), sorted = true)
    // a string sort would yield 1 < 10 < 2; numeric order is 1, 2, 10
    assert(pieces.keys.toSeq == Seq(Seq("1"), Seq("2"), Seq("10"), Seq("NA")))
  }

  // ---- tests.Rraw tranche: melt na.rm × list measure --------------------

  test("melt list-measure: ragged groups pad with NA, na.rm drops any-NA rows (1035.014)") {
    import graft.operators.Reshape
    val dt1 = Seq((1.0, 1.0, 2.0)).toDF("a1", "b1", "b2")
    val groups = scala.collection.immutable.ListMap(
      "a" -> Seq("a1"), "b" -> Seq("b1", "b2"))
    // na.rm=FALSE: variable 2 pads a with NA (ragged recycle)
    val all = Reshape.meltMulti(dt1, Nil, groups)
      .orderBy("variable").collect()
      .map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2))))
    assert(all.toSeq == Seq((1, Some(1.0), Some(1.0)), (2, None, Some(2.0))))
    // na.rm=TRUE: only variable 1 survives (reference 1035.014)
    val kept = Reshape.meltMulti(dt1, Nil, groups, naRm = true)
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(kept.toSeq == Seq((1, 1.0, 1.0)))
  }

  test("melt list-measure na.rm over two 2-col groups (1035.0184)") {
    import graft.operators.Reshape
    val dt = Seq(
      (Some(1.0), Option.empty[Double], 3, Option.empty[Int]),
      (Option.empty[Double], Some(2.0), 4, Some(5))).toDF("l1", "l2", "n34", "NA5")
    val groups = scala.collection.immutable.ListMap(
      "l" -> Seq("l1", "l2"), "n" -> Seq("n34", "NA5"))
    val kept = Reshape.meltMulti(dt, Nil, groups, naRm = true)
      .orderBy("variable").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getInt(2)))
    // var1 keeps (1,3) — (NA,4) dropped; var2 keeps (2,5) — (NA,NA) dropped
    assert(kept.toSeq == Seq((1, 1.0, 3), (2, 2.0, 5)))
  }

  test("measure(sep=) na.rm: a dim level missing one group's column vanishes (1035.0186)") {
    import graft.operators.Reshape
    val wide = Seq((1.0, 2.0, 10.0, 30.0)).toDF("num_1", "num_2", "lst_1", "lst_3")
    val melted = Reshape.meltMeasureSepN(wide, Nil, "_",
      Seq("value.name", "char"), naRm = true)
    val rows = melted.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // chars 1,2,3: char 2 lacks lst, char 3 lacks num → only char 1 left
    assert(melted.columns.toSeq == Seq("char", "lst", "num") ||
      melted.columns.toSeq == Seq("char", "num", "lst"))
    assert(rows.length == 1 && rows(0)._1 == "1")
    // na.rm=FALSE keeps all three dim levels with NA pads
    assert(Reshape.meltMeasureSepN(wide, Nil, "_",
      Seq("value.name", "char")).count() == 3)
  }

  // ---- tests.Rraw tranche: dcast subset= × fun.aggregate (1102.05) ------

  test("dcast subset= + fun.aggregate: pivot domain from the subset, fun(empty) fill") {
    import graft.operators.Reshape
    val dt = Seq(
      (21, "c1", "w", 1, 96.0), (21, "c2", "w", 2, 98.0),
      (10, "c1", "w", 3, 50.0), (21, "c3", "w", 4, 281.0))
      .toDF("time", "chick", "variable", "diet", "weight")
      .withColumn("vd", concat_ws("_", col("variable"), col("diet").cast("string")))
    val wide = Reshape.dcastSubset(dt, col("time") > 20, Seq("time", "chick"),
      "vd", "weight", c => sum(c), fill = Some(lit(0.0)))
    // diet 3 exists ONLY at time=10: no w_3 column (domain from subset)
    assert(wide.columns.toSeq == Seq("time", "chick", "w_1", "w_2", "w_4"))
    val rows = wide.orderBy("chick").collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    // absent combinations fill with sum(numeric(0)) = 0, reference 1102.05
    assert(rows.toSeq == Seq(
      ("c1", 96.0, 0.0, 0.0), ("c2", 0.0, 98.0, 0.0), ("c3", 0.0, 0.0, 281.0)))
  }

  // ---- advisory low: SessionMemo per-key lock ---------------------------

  test("SessionMemo computes once per key under concurrent callers and keeps the cache") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val memo = new SessionMemo[org.apache.spark.sql.DataFrame](_.unpersist())
    def frame() = {
      computes.incrementAndGet()
      val f = spark.range(100).toDF("n").persist()
      f.count()
      f
    }
    val results = Await.result(
      Future.sequence((1 to 8).map(_ => Future(memo.getOrElsePut(spark, "k")(frame())))),
      60.seconds)
    // one compute, every caller sees the registered frame, and the
    // cache survives (the old loser-unpersist raced CacheManager's
    // plan-keyed registry and silently uncached the winner)
    assert(computes.get() == 1)
    assert(results.forall(_ eq results.head))
    assert(results.head.storageLevel.useMemory)
    memo.clear()
    assert(!results.head.storageLevel.useMemory)
  }

  // ---- Dev-NEWS bug-fix locks (reference NEWS.md 1.18.99) --------------

  test("fread keeps a first row with fewer fields than later rows (#7463)") {
    val p = TestTmp.file("graft_7463", ".csv")
    java.nio.file.Files.write(p, "1,2\n3,4,5\n6,7,8\n".getBytes("UTF-8"))
    try {
      val df = graft.sources.Fread.fread(spark, p.toString,
        graft.sources.Fread.FreadOptions(header = "false", fill = true))
      assert(df.count() == 3)
      val first = df.orderBy(col(df.columns.head)).collect()(0)
      assert(first.get(0).toString == "1" && first.get(1).toString == "2"
        && first.isNullAt(2))
    } finally java.nio.file.Files.delete(p)
  }

  test("fread keeps a literal 'NA' header column name even with NA in na.strings (#5124)") {
    val p = TestTmp.file("graft_5124", ".csv")
    java.nio.file.Files.write(p, "NA,b\n1,2\nNA,4\n".getBytes("UTF-8"))
    try {
      val df = graft.sources.Fread.fread(spark, p.toString,
        graft.sources.Fread.FreadOptions(naStrings = Seq("", "NA")))
      assert(df.columns.toSeq == Seq("NA", "b"))
      // data-row "NA" still parses as missing
      assert(df.filter(col("NA").isNull).count() == 1)
    } finally java.nio.file.Files.delete(p)
  }

  test("setorder double asc + non-double desc respects na.last=TRUE (#7875)") {
    val df = Seq[(java.lang.Double, String)](
      (1.0, "b"), (1.0, null), (2.0, "a"), (null, "c"), (1.0, "a"))
      .toDF("d", "s")
    val got = DT(df).setorderNa(Seq("d" -> true, "s" -> false), naLast = true)
      .df.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got == Seq(
      (Some(1.0), Some("b")), (Some(1.0), Some("a")), (Some(1.0), None),
      (Some(2.0), Some("a")), (None, Some("c"))))
  }
}
