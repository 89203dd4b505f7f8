package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}

import graft.functions.Funcs

/** Ordered / window operators (SURVEY.md §2.5).
  *
  * The reference's row order is physical (src/shift.c, src/froll.c);
  * Spark DataFrames are unordered, so every operator here REQUIRES an
  * explicit ordering (and optional partitioning) — the DSL-level
  * enforcement of SURVEY.md §7.4 "row order as a first-class concept".
  * All lower to Catalyst Window nodes: one shuffle on the partition keys,
  * then streaming frame evaluation — the distributed analog of the
  * reference's single sorted pass.
  *
  * SCALE GUARD: an empty `by` means a single-partition global sort of
  * the whole input — fine for a 3-row post-aggregate frame, fatal on
  * 100 TB. Every operator therefore REJECTS empty partition keys unless
  * the caller passes `allowGlobal = true`, making the scale hazard an
  * explicit, greppable opt-in instead of a silent default. For genuine
  * whole-table ordered ops, use [[GlobalOrdered]] — the range-bucketed
  * two-pass tier (per-bucket windows + broadcast prefix offsets) that
  * keeps global semantics without any single-partition WindowExec.
  */
object Windows {

  /** Flip a sort column's direction safely: unwraps an existing
    * SortOrder node (Spark 4 Columns wrap internal ColumnNodes, not
    * catalyst expressions) instead of nesting .desc on top of it.
    */
  def flipOrder(c: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.flipSortOrder(c)

  private def requirePartitioned(by: Seq[String], allowGlobal: Boolean, op: String): Unit =
    require(by.nonEmpty || allowGlobal,
      s"$op with no partition keys is a single-partition global sort of the " +
        "whole input — a scale trap at 100 TB. Pass partition columns, use " +
        "the DataFrame-level entry point (auto-routes by=Nil through the " +
        "GlobalOrdered two-pass tier), or allowGlobal=true if the input is " +
        "provably small (e.g. post-aggregate).")

  /** The single (key, ascending, nullsFirst) the GlobalOrdered tier can
    * range-bucket, when `order` is one column (a plain Column reads as
    * ascending nulls-first); None for multi-column orders.
    */
  private def globalKey(order: Seq[Column]): Option[(Column, Boolean, Boolean)] =
    if (order.size != 1) None
    else Some(org.apache.spark.sql.GraftSqlBridge.unwrapSortOrder(order.head))

  private def globalRouteError(op: String): Nothing =
    throw new IllegalArgumentException(
      s"$op with by=Nil auto-routes through the GlobalOrdered tier and " +
        "needs a SINGLE order column; pass partition columns, or " +
        "allowGlobal=true if the input is provably small (e.g. post-aggregate).")

  private def spec(by: Seq[String], order: Seq[Column], allowGlobal: Boolean,
                   op: String): WindowSpec = {
    requirePartitioned(by, allowGlobal, op)
    if (by.isEmpty) Window.orderBy(order: _*)
    else Window.partitionBy(by.map(col): _*).orderBy(order: _*)
  }

  // ---- shift (src/shift.c) --------------------------------------------

  /** shift(x, n, fill, type): n>0 lag, n<0 lead. The fill applies to
    * shifted-in edge positions (reference semantics); when the input has
    * genuine nulls pass fill=lit(null) to keep them distinguishable.
    */
  def shift(c: Column, n: Int, by: Seq[String], order: Seq[Column],
            fill: Column = lit(null), allowGlobal: Boolean = false): Column = {
    val w = spec(by, order, allowGlobal, "shift")
    // fill applies ONLY to out-of-range positions (src/shift.c: the
    // fill value pads the vacated slots); a coalesce over the lagged
    // value would also overwrite NAs already IN the data, which shift
    // must carry through unchanged. lag/lead's native default fires
    // exactly when the offset row does not exist.
    if (n >= 0) lag(c, n, fill).over(w)
    else lead(c, -n, fill).over(w)
  }

  /** DataFrame-level shift — the DSL entry point. `by = Nil` AUTO-ROUTES
    * through [[GlobalOrdered.shift]] (range-bucketed two-pass tier with
    * phantom boundary rows) instead of the single-partition window the
    * Column form would plan; `allowGlobal = true` keeps the naive plan
    * for provably-small frames (e.g. post-aggregate).
    */
  def shiftDF(df: DataFrame, out: String, c: Column, n: Int, by: Seq[String],
              order: Seq[Column], fill: Column = lit(null),
              allowGlobal: Boolean = false): DataFrame = {
    // src/shift.c:43-47 (tests.Rraw 1463.81/.82): a Date column filled
    // with a POSIXct (or vice versa) is refused — silent coercion would
    // shift the value by the timezone/day boundary
    val (tc, tf) = (graft.functions.StrictTypes.typeOf(df, c),
      graft.functions.StrictTypes.typeOf(df, fill))
    import org.apache.spark.sql.types.{DateType, TimestampType}
    def nm(t: org.apache.spark.sql.types.DataType): String =
      if (t == DateType) "Date" else "POSIXct"
    if (Set(tc, tf) == Set[org.apache.spark.sql.types.DataType](
        DateType, TimestampType))
      throw new IllegalArgumentException(
        s"Filling ${nm(tc)} with ${nm(tf)} using shift() is unsupported. " +
          s"Please convert fill to ${nm(tc)} first.")
    if (by.nonEmpty || allowGlobal)
      df.withColumn(out, shift(c, n, by, order, fill, allowGlobal))
    else globalKey(order) match {
      case Some((key, asc, nf)) =>
        GlobalOrdered.shift(df, c, n, key, out, fill, asc, nullsFirst = Some(nf))
      case None => globalRouteError("shiftDF")
    }
  }

  /** DataFrame-level cumulative aggregate — the DSL entry point.
    * `by = Nil` AUTO-ROUTES sum/prod/min/max through the GlobalOrdered
    * prefix tier; prod_exact (bitwise-sequential FP) has no parallel
    * form and needs an explicit `allowGlobal`.
    */
  def cumDF(df: DataFrame, out: String, fn: String, c: Column, by: Seq[String],
            order: Seq[Column], allowGlobal: Boolean = false,
            naRm: Boolean = false): DataFrame =
    if (by.nonEmpty || allowGlobal)
      df.withColumn(out, cum(fn, c, by, order, allowGlobal, naRm))
    else globalKey(order) match {
      case Some((key, asc, nf)) =>
        GlobalOrdered.cum(df, c, key, Seq((fn, naRm, out)), asc,
          nullsFirst = Some(nf))
      case None => globalRouteError("cumDF")
    }

  /** DataFrame-level nafill locf/nocb — the DSL entry point. `by = Nil`
    * AUTO-ROUTES through the GlobalOrdered carry tier; a DESCENDING
    * order flips locf↔nocb (carry-forward along a descending key IS
    * carry-backward along the ascending one).
    */
  def nafillDF(df: DataFrame, out: String, typ: String, c: Column,
               by: Seq[String], order: Seq[Column],
               allowGlobal: Boolean = false,
               nanIsNa: Boolean = true): DataFrame = {
    require(typ == "locf" || typ == "nocb", s"nafill type=$typ (locf|nocb)")
    if (by.nonEmpty || allowGlobal)
      df.withColumn(out,
        if (typ == "locf") nafillLocf(c, by, order, allowGlobal, nanIsNa)
        else nafillNocb(c, by, order, allowGlobal, nanIsNa))
    else globalKey(order) match {
      case Some((key, asc, nf)) =>
        val eff = if (asc) typ else (if (typ == "locf") "nocb" else "locf")
        // the tier always walks the key ASCENDING (desc flips locf↔nocb
        // above); the reverse of the requested order also flips the
        // null block's side: desc_nulls_first == asc_nulls_last
        val effNf = Some(if (asc) nf else !nf)
        GlobalOrdered.nafill(df, c, key, Option.when(eff == "locf")(out),
          Option.when(eff == "nocb")(out), nanIsNa = nanIsNa,
          nullsFirst = effNf)
      case None => globalRouteError("nafillDF")
    }
  }

  /** DataFrame-level froll — the DSL entry point. `by = Nil`
    * AUTO-ROUTES through [[GlobalOrdered.froll]] (phantom boundary
    * rows sized to the frame).
    */
  def frollDF(df: DataFrame, out: String, fn: String, c: Column, n: Int,
              by: Seq[String], order: Seq[Column], align: String = "right",
              partial: Boolean = false, allowGlobal: Boolean = false,
              naRm: Boolean = false): DataFrame =
    if (n == 0) // constant empty-window value: no tier, no window at all
      df.withColumn(out, emptyReduction(fn, c, naRm))
    else if (by.nonEmpty || allowGlobal)
      df.withColumn(out, froll(fn, c, n, by, order, align, partial,
        allowGlobal, naRm))
    else globalKey(order) match {
      case Some((key, asc, nf)) =>
        GlobalOrdered.froll(df, out, fn, c, n, key, align, partial, asc,
          naRm = naRm, nullsFirst = Some(nf))
      case None => globalRouteError("frollDF")
    }

  /** DataFrame-level adaptive froll — the DSL entry point. `by = Nil`
    * AUTO-ROUTES through [[GlobalOrdered.frollAdaptive]] (phantom reach
    * = maxN − 1, the largest window any row can request).
    */
  def frollAdaptiveDF(df: DataFrame, out: String, fn: String, c: Column,
                      an: Column, maxN: Int, by: Seq[String],
                      order: Seq[Column], align: String = "right",
                      naRm: Boolean = false, partial: Boolean = false,
                      allowGlobal: Boolean = false): DataFrame =
    if (by.nonEmpty || allowGlobal)
      df.withColumn(out, frollAdaptive(fn, c, an, maxN, by, order,
        allowGlobal, naRm, align, partial))
    else globalKey(order) match {
      case Some((key, asc, nf)) =>
        GlobalOrdered.frollAdaptive(df, out, fn, c, an, maxN, key, align,
          asc, naRm, partial, nullsFirst = Some(nf))
      case None => globalRouteError("frollAdaptiveDF")
    }

  /** .GRP (R/data.table.R dogroups): the 1-based group counter in the
    * sorted order of the `by` values. A dense_rank over the full table
    * would funnel every row through ONE partition — instead the DISTINCT
    * key set (n_groups rows, the thing that must be small for .GRP to
    * mean anything) is ranked alone and broadcast-joined back; the data
    * never shuffles. The key-set ranking itself goes through
    * [[GlobalOrdered.rownumByRange]] (row number == dense rank on a
    * distinct frame), so even a large group domain never funnels into a
    * single-partition WindowExec.
    */
  def grp(df: DataFrame, by: Seq[String], out: String = "grp"): DataFrame = {
    require(by.nonEmpty, "grp needs group columns")
    // .GRP is INTEGER in the reference; rownumByRange counts in long
    val keys = GlobalOrdered.rownumByRange(
        df.select(by.map(col): _*).distinct(), by.map(c => col(c).asc), out)
      .withColumn(out, col(out).cast("int"))
    // NULL-SAFE join: an NA group is a GROUP (reference by= semantics);
    // a plain equi join would silently drop its rows' counters
    val aliased = keys.select((by.map(c => col(c).as(s"_graft_g_$c")) :+ col(out)): _*)
    val cond = by.map(c => col(c) <=> col(s"_graft_g_$c")).reduce(_ && _)
    df.join(broadcast(aliased), cond).drop(by.map(c => s"_graft_g_$c"): _*)
  }

  /** .NGRP (R/data.table.R dogroups): the TOTAL number of groups,
    * broadcast onto every row. Same scale shape as [[grp]]: the
    * distinct-key aggregation is the only shuffle (of n_groups rows)
    * and the 1-row count broadcasts back — the data never funnels.
    * An all-NA key is a group, like the reference's by= (distinct
    * keeps the null tuple).
    */
  def ngrp(df: DataFrame, by: Seq[String], out: String = "ngrp"): DataFrame = {
    require(by.nonEmpty, "ngrp needs group columns")
    val n = df.select(by.map(col): _*).distinct().agg(count(lit(1)).as(out))
    df.crossJoin(broadcast(n))
  }

  /** froll with VECTOR n (R frollmean(x, n=c(2, 5)) returns one result
    * per window width): one output column `<prefix><n>` per width, all
    * widths sharing the single window sort.
    */
  def frollN(df: DataFrame, prefix: String, fn: String, c: Column, ns: Seq[Int],
             by: Seq[String], order: Seq[Column], align: String = "right",
             partial: Boolean = false, allowGlobal: Boolean = false,
             naRm: Boolean = false,
             names: Seq[String] = Nil): DataFrame = {
    require(ns.nonEmpty, "frollN needs at least one window width")
    // give.names as a character vector (NEWS #5744): explicit output
    // names, one per window width, instead of the <prefix><n> scheme
    require(names.isEmpty || names.size == ns.size,
      s"frollN: ${names.size} names for ${ns.size} window widths")
    val outNames = if (names.nonEmpty) names else ns.map(n => s"$prefix$n")
    ns.zip(outNames).foldLeft(df) { case (acc, (n, nm)) =>
      // frollDF auto-routes by=Nil through the GlobalOrdered tier
      frollDF(acc, nm, fn, c, n, by, order, align, partial, allowGlobal, naRm)
    }
  }

  /** shift(give.names=TRUE) (R/shift.R:1-26): one output column per
    * (input column, n), named with the reference's rules —
    * `<col>_<type>_<n>`, columns outer and widths inner
    * (`rep(nx, each=length(n))`):
    *  - lag/lead FLIP for negative n (#3223): `shiftN(type="lag",
    *    ns=Seq(-1))` emits `<col>_lead_1`;
    *  - when type="lead" and `ns` mixes all three signs, n=0 is named
    *    `lag_0` for consistency (#3832);
    *  - type="shift" COMPUTES lag (src/shift.c:27 maps SHIFT to LAG)
    *    but keeps its own name and never flips; "cyclic" likewise.
    */
  def shiftN(df: DataFrame, cols: Seq[String], ns: Seq[Int], by: Seq[String],
             order: Seq[Column], typ: String = "lag",
             fill: Column = lit(null),
             allowGlobal: Boolean = false): DataFrame = {
    require(cols.nonEmpty && ns.nonEmpty, "shiftN needs columns and widths")
    require(Seq("lag", "lead", "shift", "cyclic").contains(typ),
      s"shift type=$typ")
    val mixedLead = typ == "lead" &&
      ns.map(n => math.signum(n)).distinct.toSet == Set(-1, 0, 1)
    def nameFor(c: String, n: Int): String = typ match {
      case "shift" | "cyclic" => s"${c}_${typ}_$n"
      case "lag" => if (n < 0) s"${c}_lead_${-n}" else s"${c}_lag_$n"
      case "lead" =>
        if (n < 0) s"${c}_lag_${-n}"
        else if (n == 0 && mixedLead) s"${c}_lag_0"
        else s"${c}_lead_$n"
    }
    // lag convention: shift(c, n) lags for n>0; lead(n) == lag(-n)
    def effN(n: Int): Int = if (typ == "lead") -n else n
    // by=Nil lag/lead/shift: ONE GlobalOrdered.shiftMulti call — the
    // per-(col, n) fold would build a phantom union and a full-data
    // exchange per width; the multi form pays one of each for the whole
    // n vector (cyclic keeps its per-call join form)
    if (by.isEmpty && !allowGlobal && typ != "cyclic")
      globalKey(order) match {
        case Some((key, asc, nf)) =>
          val shifts = for (c <- cols; n <- ns)
            yield (nameFor(c, n), col(c), effN(n), fill)
          return GlobalOrdered.shiftMulti(df, shifts, key, asc,
            nullsFirst = Some(nf))
        case None => globalRouteError("shiftN")
      }
    cols.foldLeft(df) { (acc, c) =>
      ns.foldLeft(acc) { (acc2, n) =>
        if (typ == "cyclic")
          shiftCyclic(acc2, c, n, by, order, nameFor(c, n), allowGlobal)
        // shiftDF auto-routes by=Nil through the GlobalOrdered tier
        else shiftDF(acc2, nameFor(c, n), col(c), effN(n), by, order, fill,
          allowGlobal)
      }
    }
  }

  /** shift(type="cyclic") (src/shift.c:25-28): wrap around within the
    * partition via modular row-number arithmetic + an equi self-join on
    * (group, target row) — no partition-sized arrays.
    */
  def shiftCyclic(df: DataFrame, colName: String, n: Int, by: Seq[String],
                  order: Seq[Column], out: String,
                  allowGlobal: Boolean = false): DataFrame = {
    // needs no guard and no opt-in for by=Nil: row numbers go through
    // the range-partitioned two-pass tier and the total count through a
    // 1-row broadcast — no single-partition WindowExec (allowGlobal
    // kept for source compatibility)
    val withRn = if (by.isEmpty)
      GlobalOrdered.rownumByRange(df, order, "_graft_rn")
        .crossJoin(broadcast(df.agg(count(lit(1)).as("_graft_cnt"))))
    else df
      .withColumn("_graft_rn",
        row_number().over(Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .withColumn("_graft_cnt",
        count(lit(1)).over(Window.partitionBy(by.map(col): _*)))
    val tgt = withRn.withColumn("_graft_target",
      ((col("_graft_rn") - 1 - n) % col("_graft_cnt") + col("_graft_cnt")) % col("_graft_cnt") + 1)
      .alias("t")
    val src = withRn
      .select((by.map(col) :+ col("_graft_rn").as("_graft_src_rn") :+ col(colName).as(out)): _*)
      .alias("s")
    val cond = by.map(b => col(s"t.$b") <=> col(s"s.$b"))
      .foldRight(col("t._graft_target") === col("s._graft_src_rn"))(_ && _)
    tgt.join(src, cond, "left")
      .select((df.columns.toSeq.map(c => col(s"t.$c")) :+ col(s"s.$out")): _*)
  }

  // ---- nafill (src/nafill.c) ------------------------------------------
  // All three types default nanIsNa = true, the reference's `nan=NA`
  // default (R/shift.R:29): NaN counts as missing and gets filled /
  // carried over, while Inf/-Inf are ordinary values that DO carry
  // (nafill.Rraw 1.18-1.22). `nanIsNa = false` mirrors `nan=NaN`.

  def nafillConst(c: Column, fill: Column, nanIsNa: Boolean = true): Column =
    coalesce(if (nanIsNa) Funcs.nanAsNa(c) else c, fill)

  /** nafill(type="locf"): last non-missing carried forward. */
  def nafillLocf(c: Column, by: Seq[String], order: Seq[Column],
                 allowGlobal: Boolean = false,
                 nanIsNa: Boolean = true): Column =
    last(if (nanIsNa) Funcs.nanAsNa(c) else c, ignoreNulls = true)
      .over(spec(by, order, allowGlobal, "nafillLocf")
        .rowsBetween(Window.unboundedPreceding, 0))

  /** nafill(type="nocb"): next non-missing carried backward — the last
    * non-missing up to the row in the mirrored order. A suffix frame
    * `rowsBetween(0, unboundedFollowing)` would be re-evaluated for every
    * row (quadratic per partition); the prefix frame streams.
    */
  def nafillNocb(c: Column, by: Seq[String], order: Seq[Column],
                 allowGlobal: Boolean = false,
                 nanIsNa: Boolean = true): Column =
    last(if (nanIsNa) Funcs.nanAsNa(c) else c, ignoreNulls = true)
      .over(spec(by, order.map(flipOrder), allowGlobal, "nafillNocb")
        .rowsBetween(Window.unboundedPreceding, 0))

  // ---- frank (src/frank.c ties enum) ----------------------------------

  /** frank(ties.method=) — average, first, last, min, max, dense, random
    * (the full 7-method enum, src/frank.c:112-123). `order` is the
    * ranking order (may carry asc/desc); `tieCols` are the bare ranked
    * value columns, used to partition tied blocks for average/max.
    * `average` = rank + (tieCount-1)/2, the mean row number of the block.
    * `first`/`last` break ties by `appearance` order (ascending resp.
    * descending) — the distributed stand-in for the reference's physical
    * row order; pass a unique key there for determinism.
    */
  def frank(df: DataFrame, order: Seq[Column], tieCols: Seq[Column], ties: String,
            by: Seq[String], out: String, appearance: Seq[Column] = Nil,
            allowGlobal: Boolean = false,
            randomSeed: Option[Long] = None): DataFrame = {
    // by=Nil AUTO-ROUTES through the GlobalOrdered range-bucketed tier
    // (the rank arrives as LONG there — prior-bucket row offsets);
    // allowGlobal keeps the naive single-partition plan for provably-
    // small frames. Seeded random ties stay naive-only: rand() draws
    // are partition-seeded and the tier repartitions.
    if (by.isEmpty && !allowGlobal) {
      // multi-column order (frankv's cols/order vector, tests.Rraw
      // 2386.*): the FIRST column buckets the tier; the rest rank
      // within (their tie blocks nest inside the first column's).
      // Null placement of SECONDARY columns follows the PRIMARY's
      // na.last (the reference's frankv takes ONE na.last for all
      // ranked columns, R/frank.R); a nulls_first/nulls_last modifier
      // on a secondary order column is overridden by that contract.
      require(order.nonEmpty,
        "frank(by=Nil): the global tier needs at least one order " +
          "column to rank (and range-bucket) on; pass order=Seq(col...) " +
          "or group with by=")
      val unwrapped = order.map(o =>
        org.apache.spark.sql.GraftSqlBridge.unwrapSortOrder(o))
      val (key, asc, nullsFirst) = unwrapped.head
      val more = unwrapped.tail.map { case (c, a, _) => (c, !a) }
      val naLast = if (nullsFirst) "false" else "true"
      return ties match {
        case "min" | "dense" | "max" | "average" | "first" | "last" =>
          GlobalOrdered.frank(df, key, desc = !asc, ties, naLast, out,
            appearance, more = more)
        case "random" if randomSeed.isEmpty =>
          // content-hash tiebreak (the documented seedless contract)
          GlobalOrdered.frank(df, key, desc = !asc, "first", naLast, out,
            appearance = Seq(xxhash64(df.columns.map(col): _*).asc),
            more = more)
        case _ => throw new IllegalArgumentException(
          "frank(ties=\"random\", randomSeed=Some(_)) has no global " +
            "tier (rand() draws are partition-seeded and the tier " +
            "repartitions); pass allowGlobal=true")
      }
    }
    def w(extra: Seq[Column]) = spec(by, order ++ extra, allowGlobal = true, "frank")
    ties match {
      case "first" => df.withColumn(out, row_number().over(w(appearance)))
      case "last"  =>
        require(appearance.nonEmpty,
          "frank(ties=\"last\") needs `appearance` columns to reverse")
        df.withColumn(out, row_number().over(w(appearance.map(flipOrder))))
      case "min"   => df.withColumn(out, rank().over(w(Nil)))
      case "dense" => df.withColumn(out, dense_rank().over(w(Nil)))
      case "max"   =>
        val tiePart = Window.partitionBy((by.map(col) ++ tieCols): _*)
        df.withColumn(out, rank().over(w(Nil)) + count(lit(1)).over(tiePart) - 1)
      case "average" =>
        val tiePart = Window.partitionBy((by.map(col) ++ tieCols): _*)
        df.withColumn(out,
          rank().over(w(Nil)) + (count(lit(1)).over(tiePart) - 1) / 2.0)
      case "random" =>
        // reference: ties broken uniformly at random (src/frank.c:112).
        // Two tiers, both documented:
        //  - default (randomSeed=None): ties broken by a hash of the
        //    whole row — content-addressed, so stable across retries,
        //    partitionings, AND runs (identical rows tie-break
        //    identically forever);
        //  - randomSeed=Some(s): rand(s) tiebreak — per-run sampled like
        //    the reference, reproducible for a fixed seed AND a fixed
        //    partitioning of the input (rand() streams are seeded per
        //    partition; repartitioning re-deals the draws).
        val tiebreak = randomSeed match {
          case Some(seed) => rand(seed)
          case None       => xxhash64(df.columns.map(col).toSeq: _*)
        }
        df.withColumn(out, row_number().over(w(Seq(tiebreak.asc))))
      case other => throw new IllegalArgumentException(s"ties.method=$other")
    }
  }

  /** frank with `na.last=` handling (R/frank.R:1): ranks a single value
    * column, controlling where nulls rank. naLast = "keep" (reference
    * default: NA values get NA rank), "true" (NAs rank last), "false"
    * (NAs rank first), "NA" (na.last=NA: NA rows are REMOVED from the
    * result, R/frank.R:70-73 — ranks run over the non-NA rows only;
    * with ties="random" the runif tiebreak is drawn only for non-NA
    * rows, #4243/tests.Rraw 1962.027, which ranking-after-NAs-sort-last
    * then filtering reproduces exactly). `desc` flips direction.
    */
  def frankNa(df: DataFrame, value: Column, desc: Boolean, ties: String,
              by: Seq[String], naLast: String, out: String,
              appearance: Seq[Column] = Nil,
              allowGlobal: Boolean = false,
              randomSeed: Option[Long] = None): DataFrame = {
    val ord = (desc, naLast) match {
      case (false, "false") => value.asc_nulls_first
      case (false, _)       => value.asc_nulls_last   // true | keep | NA
      case (true, "false")  => value.desc_nulls_first
      case (true, _)        => value.desc_nulls_last
    }
    val ranked = frank(df, Seq(ord), Seq(value), ties, by, out, appearance,
      allowGlobal, randomSeed)
    naLast match {
      case "keep" =>
        ranked.withColumn(out, when(value.isNull, lit(null)).otherwise(col(out)))
      // NAs sorted last ⇒ non-NA ranks are already the ranks over the
      // non-NA subset; dropping the NA rows afterwards is the
      // reference's ans[which_(nas, FALSE)]
      case "NA" => ranked.filter(value.isNotNull)
      case _    => ranked
    }
  }

  // ---- rleid / rowid (src/uniqlist.c:170, R/data.table.R:3267) --------

  /** rleid(): run-length id — increments whenever any of `cols` changes
    * along `order` (gaps-and-islands).
    */
  def rleid(df: DataFrame, cols: Seq[String], order: Seq[Column],
            by: Seq[String], out: String,
            allowGlobal: Boolean = false): DataFrame = {
    // by=Nil AUTO-ROUTES through the GlobalOrdered run-carry tier
    if (by.isEmpty && !allowGlobal) {
      return globalKey(order) match {
        case Some((key, asc, nf)) =>
          GlobalOrdered.rleid(df, cols, key, out, asc, nullsFirst = Some(nf))
        case None => globalRouteError("rleid")
      }
    }
    val w = spec(by, order, allowGlobal, "rleid")
    // lag(lit) is null ONLY on the first row — which must open run 1
    // even when its value is NULL (an NA-NA comparison alone would
    // score it 0 and start the ids at 0; reference rleid.c counts runs
    // from 1 and treats consecutive NAs as one run)
    val firstRow = lag(lit(1), 1).over(w).isNull
    val changed = cols.map(c =>
      when(firstRow, 1)
        .when(lag(col(c), 1).over(w).isNull && col(c).isNull, 0)
        .when(lag(col(c), 1).over(w) === col(c), 0)
        .otherwise(1)).reduce(greatest(_, _))
    val wCum = w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(out, sum(changed).over(wCum))
  }

  /** rowid(): 1..n within duplicate group of `cols`, ordered by `order`.
    * cols=Nil (whole-table row numbers) AUTO-ROUTES through
    * [[GlobalOrdered.rownumByRange]] — note the global tier counts in
    * LONG (a 100 TB table overflows int) vs the partitioned tier's int.
    */
  def rowid(df: DataFrame, cols: Seq[String], order: Seq[Column],
            out: String, allowGlobal: Boolean = false): DataFrame = {
    if (cols.isEmpty && !allowGlobal)
      return GlobalOrdered.rownumByRange(df, order, out)
    requirePartitioned(cols, allowGlobal, "rowid")
    df.withColumn(out,
      row_number().over(Window.partitionBy(cols.map(col): _*).orderBy(order: _*)))
  }

  // ---- froll* (src/froll.c) -------------------------------------------

  /** Frame bounds for align=right|center|left over an n-row window. */
  private[operators] def bounds(n: Int, align: String): (Int, Int) = align match {
    case "right"  => (-(n - 1), 0)
    case "left"   => (0, n - 1)
    case "center" => val before = (n - 1) / 2; (-before, n - 1 - before)
    case other    => throw new IllegalArgumentException(s"align=$other")
  }

  /** Frame bounds of an adaptive window of at most maxN rows.
    * align="left" (NEWS #5438: adaptive left alignment) looks FORWARD
    * over rows i..i+an-1; "center" does not exist for adaptive in the
    * reference either (R/froll.R).
    */
  private[operators] def adaptiveBounds(maxN: Int, align: String): (Int, Int) =
    align match {
      case "right" | "left" => bounds(maxN, align)
      case other => throw new IllegalArgumentException(
        s"adaptive align must be right/left, got '$other'")
    }

  /** Rolling aggregate over a fixed n-row window. `partial=false`
    * (reference default) yields null until the window is full —
    * implemented as a frame-count check, not a separate pass.
    *
    * Null semantics are na.rm=FALSE (reference default) in BOTH modes:
    * any null inside the frame nulls the result. partial=false requires
    * count(c)==n (full frame, no nulls); partial=true requires the
    * non-null count to equal the physical frame length.
    *
    * fn: one of sum, mean, min, max, sd, var, median, prod.
    * All but median/prod stay builtin Catalyst window aggregates
    * (codegen'd, streaming frame); median/prod materialize the bounded
    * frame as an array (fine: n is small and fixed).
    */
  /** R's empty-window reduction values (froll.Rraw 6001.x11: a width-0
    * window reduces over zero elements) — sum 0, prod 1, max −Inf,
    * min +Inf, mean NaN, median/var/sd NA. Shared by the n=0 fast path
    * and callers wanting the documented all-missing na.rm values.
    *
    * `sum` takes the INPUT column so its zero can be typed exactly like
    * the n>=1 window expression (ADVICE r15: a DoubleType 0.0 here made
    * the output schema flip with the window width): the naRm=FALSE tier
    * keeps Spark's native `sum` typing (LongType over integral columns,
    * via [[graft.plans.SumEmptyZero]]), while the naRm=TRUE tier casts
    * its n>=1 sum to double, so its zero stays double. The other fns
    * emit double at every n in both tiers.
    */
  private[graft] def emptyReduction(fn: String, c: Column,
                                    naRm: Boolean = false): Column = fn match {
    case "sum" if !naRm  => graft.plans.SumEmptyZero(c)
    case "sum"           => lit(0.0)
    case "prod"          => lit(1.0)
    case "max"           => lit(Double.NegativeInfinity)
    case "min"           => lit(Double.PositiveInfinity)
    case "mean"          => lit(Double.NaN)
    case "median" | "var" | "sd" => lit(null).cast("double")
    case other => throw new IllegalArgumentException(s"froll fn=$other")
  }

  def froll(fn: String, c: Column, n: Int, by: Seq[String], order: Seq[Column],
            align: String = "right", partial: Boolean = false,
            allowGlobal: Boolean = false, naRm: Boolean = false): Column = {
    require(n >= 0, s"froll: n must be non-negative, got $n")
    // n=0: every window is complete-EMPTY — the constant empty-reduction
    // value at every position, fill= never applies (froll.Rraw 6001.x11/.x12)
    if (n == 0) return emptyReduction(fn, c, naRm)
    val (lo, hi) = bounds(n, align)
    val w = spec(by, order, allowGlobal, "froll").rowsBetween(lo, hi)
    // na.rm=TRUE removes BOTH NA and NaN (src/froll.c ISNAN covers
    // them jointly); the all-missing window takes R's empty-reduction
    // value — sum 0, prod 1, mean/min/max/median NaN (froll.c
    // PROD/SUM_WINDOW_STEP_VALUE `nc == k` branches, froll.Rraw
    // 6000.066). The reference always emits double; the naRm tier
    // matches that, while naRm=FALSE keeps Spark-native agg types for
    // the established oracles.
    val x = if (naRm) Funcs.nanAsNa(c) else c
    def medianOf(src: Column, empty: Column): Column = {
      val arr = array_sort(collect_list(src).over(w))
      val sz = size(arr)
      // collect_list drops nulls: an all-null frame is EMPTY and the
      // even branch would index element 0 (SQL arrays are 1-based)
      when(sz === 0, empty)
        .when(sz % 2 === 1, element_at(arr, ((sz + 1) / 2).cast("int")).cast("double"))
        .otherwise((element_at(arr, (sz / 2).cast("int")) +
          element_at(arr, (sz / 2).cast("int") + 1)) / 2.0)
    }
    val nan = lit(Double.NaN)
    val core =
      if (naRm) fn match {
        case "sum"    => coalesce(sum(x).over(w).cast("double"), lit(0.0))
        case "mean"   => coalesce(avg(x).over(w), nan)
        case "min"    => coalesce(min(x).over(w).cast("double"), nan)
        case "max"    => coalesce(max(x).over(w).cast("double"), nan)
        case "sd"     => stddev_samp(x).over(w)
        case "var"    => var_samp(x).over(w)
        case "median" => medianOf(x, nan)
        case "prod" =>
          aggregate(collect_list(x).over(w), lit(1.0),
            (acc, v) => acc * v.cast("double"))
        case other => throw new IllegalArgumentException(s"froll fn=$other")
      } else fn match {
        case "sum"    => sum(c).over(w)
        case "mean"   => avg(c).over(w)
        // Spark's ordering ranks NaN above every double, so min/max
        // silently SKIP/ADOPT it; the reference propagates NaN through
        // any window containing one (wmax src/froll.c:499). Same for
        // the sorted-array median. One extra frame count restores it.
        case "min" | "max" | "median" =>
          val nanCnt = count(c).over(w) - count(Funcs.nanAsNa(c)).over(w)
          val raw = fn match {
            case "min"    => min(c).over(w).cast("double")
            case "max"    => max(c).over(w).cast("double")
            case "median" => medianOf(c, lit(null).cast("double"))
          }
          when(nanCnt > 0, nan).otherwise(raw)
        case "sd"     => stddev_samp(c).over(w)
        case "var"    => var_samp(c).over(w)
        case "prod" =>
          aggregate(collect_list(c).over(w), lit(1.0),
            (acc, v) => acc * v.cast("double"))
        case other => throw new IllegalArgumentException(s"froll fn=$other")
      }
    val rows = count(lit(1)).over(w)
    val present = if (naRm) rows else count(c).over(w)
    if (partial) when(present === rows, core)
    else when(present === n, core)
  }

  /** froll(algo="fast") tier for sum/mean: O(1) work per row regardless
    * of window width, via prefix sums — rollsum(i) = cumsum(i) −
    * cumsum(i−n), with a parallel prefix NULL count enforcing the same
    * na.rm=FALSE and partial rules as [[froll]]. Spark's sliding frame
    * re-aggregates O(n) per row (aggregates have no retract), so the
    * builtin path is O(rows·n) — fine at n=7, the bottleneck at
    * n=10 000 (a month of minutes); this tier is the big-window form.
    * Both window passes share one partitioning+sort (same spec → no
    * extra exchange). Exact on integral data; on doubles the prefix
    * difference reorders FP summation (reference algo="fast" accepts
    * the same — its docs call it "undefined rounding"), so scale
    * doubles to integers where bit parity matters (src/froll.c:13-24).
    */
  def frollFast(df: DataFrame, out: String, fn: String, c: Column, n: Int,
                by: Seq[String], order: Seq[Column],
                partial: Boolean = false,
                allowGlobal: Boolean = false,
                naRm: Boolean = false): DataFrame = {
    require(fn == "sum" || fn == "mean", s"frollFast supports sum|mean, got $fn")
    require(n > 0, s"frollFast: n must be positive, got $n")
    // na.rm=TRUE stays O(1)/row: the prefix sum already skips missing
    // values (coalesce 0) and the running missing-count supplies mean's
    // divisor; NaN is stripped BEFORE the prefix so it cannot poison
    // every later window (an all-missing window → sum 0 / mean NaN,
    // the same conventions as froll). naRm=FALSE keeps the NA-poison
    // guard; a NaN under naRm=FALSE poisons the prefix tail — use the
    // exact tier (froll) for reference NaN propagation there.
    val x = if (naRm) Funcs.nanAsNa(c) else c
    val wCum = spec(by, order, allowGlobal, "frollFast")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wLag = spec(by, order, allowGlobal, "frollFast")
    val staged = df
      .withColumn("_graft_cs", sum(coalesce(x, lit(0))).over(wCum))
      .withColumn("_graft_ns", sum(when(x.isNull, 1L).otherwise(0L)).over(wCum))
      .withColumn("_graft_rn", count(lit(1)).over(wCum))
    val sumW = col("_graft_cs") -
      coalesce(lag(col("_graft_cs"), n).over(wLag), lit(0))
    val nullW = col("_graft_ns") -
      coalesce(lag(col("_graft_ns"), n).over(wLag), lit(0L))
    val width = if (partial) least(col("_graft_rn"), lit(n.toLong)) else lit(n.toLong)
    val full = if (partial) lit(true) else col("_graft_rn") >= n
    val value =
      if (naRm) {
        val present = width - nullW
        fn match {
          case "sum"  => sumW
          case "mean" => when(present === 0, lit(Double.NaN))
            .otherwise(sumW.cast("double") / present.cast("double"))
        }
      } else fn match {
        case "sum"  => sumW
        case "mean" => sumW.cast("double") / width.cast("double")
      }
    staged
      .withColumn(out,
        if (naRm) when(full, value) else when(full && nullW === 0, value))
      .drop("_graft_cs", "_graft_ns", "_graft_rn")
  }

  /** frollapply analog: expose the raw n-row frame as an array column the
    * caller transforms with higher-order functions (the codegen-friendly
    * stand-in for an arbitrary window closure).
    */
  def frollWindowArray(c: Column, n: Int, by: Seq[String], order: Seq[Column],
                       align: String = "right",
                       allowGlobal: Boolean = false): Column = {
    require(n >= 1, s"frollWindowArray: n must be positive, got $n" +
      " (n=0 empty frames are handled by frollApplyF)")
    val (lo, hi) = bounds(n, align)
    collect_list(c).over(spec(by, order, allowGlobal, "frollWindowArray")
      .rowsBetween(lo, hi))
  }

  /** Multi-column frollapply (R/frollapply.R's `.SD` input): the n-row
    * frame of SEVERAL columns exposed as one array-of-structs column the
    * caller reduces with higher-order functions — e.g. a rolling
    * weighted mean needs (value, weight) per frame row, which no
    * single-column frame can express.
    */
  def frollWindowStructs(cols: Seq[(String, Column)], n: Int, by: Seq[String],
                         order: Seq[Column], align: String = "right",
                         allowGlobal: Boolean = false): Column = {
    require(cols.nonEmpty, "frollWindowStructs needs at least one column")
    require(n >= 1, s"frollWindowStructs: n must be positive, got $n" +
      " (n=0 empty frames are handled by frollApplyF)")
    val (lo, hi) = bounds(n, align)
    collect_list(struct(cols.map { case (nm, c) => c.as(nm) }: _*))
      .over(spec(by, order, allowGlobal, "frollWindowStructs").rowsBetween(lo, hi))
  }

  /** frollapply with an ARBITRARY JVM closure over the `.SD` frame
    * (R/frollapply.R — the reference's FUN takes the raw window): the
    * n-row multi-column frame materializes as an array of structs
    * ([[frollWindowStructs]]) and `f` receives it as a Seq of Rows,
    * one call per output row. This is the full-generality tier — any
    * Scala function, any frame shape — at Scala-UDF cost (no codegen,
    * per-row serialization): prefer the higher-order-function forms
    * ([[frollWindowArray]]/[[frollWindowStructs]] + `aggregate`/
    * `transform`) whenever the fold is expressible; this exists for
    * closures that are not. Rows with an incomplete frame yield null
    * (reference partial=FALSE default); pass `partial=true` to hand
    * short leading frames to `f` too.
    */
  def frollApplyF(df: DataFrame, out: String, cols: Seq[(String, Column)],
                  n: Int, by: Seq[String], order: Seq[Column],
                  f: Seq[org.apache.spark.sql.Row] => Any,
                  returnType: org.apache.spark.sql.types.DataType,
                  align: String = "right", partial: Boolean = false,
                  allowGlobal: Boolean = false,
                  fill: Column = lit(null)): DataFrame = {
    require(n >= 0, s"frollApplyF: n must be non-negative, got $n")
    // n=0 is the reference's EMPTY window (tests.Rraw 6001.182/.282:
    // frollapply(mean, x, 0) = NaN everywhere, sum = 0): FUN runs over
    // zero rows at every position, identically in every tier and for
    // every align, and fill never applies (no incomplete positions).
    if (n == 0) {
      val one = struct(cols.map { case (nm, c) => c.as(nm) }: _*)
      val empty = slice(array(one), 1, 0)
      val fn = org.apache.spark.sql.GraftSqlBridge.column(
        org.apache.spark.sql.catalyst.expressions.ScalaUDF(
          (a: Any) => f(a.asInstanceOf[Seq[org.apache.spark.sql.Row]]),
          returnType,
          Seq(org.apache.spark.sql.GraftSqlBridge.expression(empty)),
          Nil, None, Some("graft_frollapply"), true, true))
      return df.withColumn(out, fn)
    }
    // by=Nil AUTO-ROUTES through the GlobalOrdered phantom tier like
    // every other ordered op (the closure then runs per row over its
    // exact global neighborhood, never a single-partition window)
    if (by.isEmpty && !allowGlobal) {
      return globalKey(order) match {
        case Some((key, asc, nf)) =>
          GlobalOrdered.frollApply(df, out, cols, n, key, f, returnType,
            align, partial, asc, nullsFirst = Some(nf), fill = fill)
        case None => globalRouteError("frollApplyF")
      }
    }
    val frame = frollWindowStructs(cols, n, by, order, align, allowGlobal)
    // ScalaUDF with no input encoders: the array<struct> argument
    // arrives through the generic converters as a Seq[Row] — the shape
    // TypeTag-reflected udf() cannot express (Row has no schema-for)
    val fn = org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.ScalaUDF(
        (a: Any) => f(a.asInstanceOf[Seq[org.apache.spark.sql.Row]]),
        returnType,
        Seq(org.apache.spark.sql.GraftSqlBridge.expression(frame)),
        Nil, None, Some("graft_frollapply"), true, true))
    // fill= (R/frollapply.R): pads INCOMPLETE positions only — a
    // complete window whose FUN returns null stays null. The cast
    // mirrors the reference's coerce-fill-to-answer-type ladder
    // (simplifylist: integer fill with double answers widens, double
    // fill with integer answers truncates).
    val applied =
      if (partial) fn
      else when(size(frame) === n, fn).otherwise(fill.cast(returnType))
    df.withColumn(out, applied)
  }

  /** frollapply over EACH column independently × a vector of widths —
    * the reference's `by.column=TRUE` default crossed with vector n and
    * `give.names=TRUE` (R/frollapply.R): one output per (column, n)
    * named `<col>_rollapply_<n>`, unrolled at plan-build time into
    * [[frollApplyF]] calls (the reference unrolls the same way; all
    * outputs share the window sort, so Catalyst plans ONE exchange).
    * For the whole-frame `.SD` form (by.column=FALSE) call
    * [[frollApplyF]] with the multi-column frame directly.
    */
  def frollApplyEach(df: DataFrame, cols: Seq[(String, Column)], ns: Seq[Int],
                     by: Seq[String], order: Seq[Column],
                     f: Seq[org.apache.spark.sql.Row] => Any,
                     returnType: org.apache.spark.sql.types.DataType,
                     align: String = "right", partial: Boolean = false,
                     allowGlobal: Boolean = false,
                     fill: Column = lit(null)): DataFrame =
    cols.foldLeft(df) { case (acc, (nm, c)) =>
      ns.foldLeft(acc) { case (acc2, n) =>
        frollApplyF(acc2, s"${nm}_rollapply_$n", Seq(nm -> c), n, by, order,
          f, returnType, align, partial, allowGlobal, fill)
      }
    }

  /** Adaptive frollapply (src/frollapply.c × src/frolladaptive.c):
    * expose the PER-ROW-LENGTH frame as an array column the caller folds
    * with any higher-order function — [[frollWindowArray]]'s arbitrary-fn
    * surface crossed with [[frollAdaptive]]'s per-row window length.
    *
    * Physical frame = bounded last-maxN rows collected as single-field
    * structs (bare nulls would be dropped by collect_list and silently
    * pull older rows into the slice); the last `an` are sliced out and
    * unwrapped, so a null INSIDE the logical window surfaces as a null
    * array element for the caller's fold to treat (na.rm is the
    * caller's choice here, unlike frollAdaptive's fixed na.rm=FALSE).
    * Rows whose `an` is null or exceeds the rows available yield null
    * (reference: adaptive n larger than the prefix → NA).
    */
  /** Shared adaptive-frame plumbing: bounded last-maxN physical frame as
    * single-field structs (collect_list drops bare nulls — structs keep
    * them), the per-row take, and the struct slice of the last `take`
    * rows. Callers unwrap and guard per their null semantics.
    */
  private def adaptiveSlice(c: Column, an: Column, maxN: Int,
                            by: Seq[String], order: Seq[Column],
                            allowGlobal: Boolean, op: String,
                            align: String = "right")
      : (Column, Column, Column) = {
    val (lo, hi) = adaptiveBounds(maxN, align)
    val w = spec(by, order, allowGlobal, op).rowsBetween(lo, hi)
    val frame = collect_list(struct(c.as("v"))).over(w)
    val take = least(an, size(frame))
    val sliced =
      if (align == "left") slice(frame, lit(1), take)
      else slice(frame, size(frame) - take + 1, take)
    (frame, take, sliced)
  }

  def frollApplyAdaptive(c: Column, an: Column, maxN: Int,
                         by: Seq[String], order: Seq[Column],
                         allowGlobal: Boolean = false): Column = {
    val (frame, _, slicedS) =
      adaptiveSlice(c, an, maxN, by, order, allowGlobal, "frollApplyAdaptive")
    val sliced = transform(slicedS, s => s.getField("v"))
    when(an.isNull || an > size(frame), lit(null)).otherwise(sliced)
  }

  /** frolladapt (R/froll.R:123, NEWS #3241): turn a fixed
    * CALENDAR-time width over an irregularly-spaced time column into
    * the per-row adaptive window COUNTS the adaptive rolling family
    * consumes — row i's window is every trailing row with
    * `time >= time_i - n + 1`. Lowers to a native rangeBetween count
    * (Spark's range frame IS the calendar window, no augmentation
    * rows needed); compose as
    * `frollAdaptive(fn, c, frolladapt(t, n, by), maxN, by, Seq(t.asc))`.
    * Only align="right" exists in the reference too (R/froll.R:141).
    */
  def frolladapt(time: Column, n: Long, by: Seq[String],
                 allowGlobal: Boolean = false): Column = {
    require(n > 0, s"frolladapt: n must be positive, got $n")
    count(lit(1)).over(spec(by, Seq(time.asc), allowGlobal, "frolladapt")
      .rangeBetween(-(n - 1), 0)).cast("int")
  }

  /** DataFrame-level frolladapt — the DSL entry point. `by = Nil`
    * AUTO-ROUTES through [[GlobalOrdered.frolladapt]] (value-based
    * phantom rows + per-bucket RANGE frames).
    */
  def frolladaptDF(df: DataFrame, out: String, time: Column, n: Long,
                   by: Seq[String],
                   allowGlobal: Boolean = false): DataFrame =
    if (by.nonEmpty || allowGlobal)
      df.withColumn(out, frolladapt(time, n, by, allowGlobal))
    else GlobalOrdered.frolladapt(df, time, n, out)

  /** Adaptive rolling aggregate (src/frolladaptive.c): per-row window
    * length from column `an`, bounded by maxN. The frame is the bounded
    * last-maxN rows; rows beyond the per-row length are masked out of an
    * array aggregate. Scale-sane when maxN is modest (frame is bounded);
    * unbounded adaptive windows would need a custom SparkPlan.
    *
    * The frame is collected as single-field STRUCTS: collect_list drops
    * bare null elements, which would silently pull older rows into the
    * slice; struct(null) survives, so the physical frame stays intact
    * and a null inside the last `an` rows nulls the result
    * (na.rm=FALSE, matching froll).
    */
  def frollAdaptive(fn: String, c: Column, an: Column, maxN: Int,
                    by: Seq[String], order: Seq[Column],
                    allowGlobal: Boolean = false,
                    naRm: Boolean = false,
                    align: String = "right",
                    partial: Boolean = false): Column = {
    val cIn = if (naRm) Funcs.nanAsNa(c) else c
    val (frame, take, slicedAll) =
      adaptiveSlice(cIn, an, maxN, by, order, allowGlobal, "frollAdaptive", align)
    val hasNull =
      if (naRm) lit(false)
      else exists(slicedAll, s => s.getField("v").isNull)
    // na.rm=TRUE drops NA/NaN from the frame (src/frolladaptive.c narm);
    // the surviving count feeds mean's divisor, and an all-missing
    // window takes R's empty-reduction value like the fixed-window tier
    val slicedS =
      if (naRm) filter(slicedAll, s => s.getField("v").isNotNull) else slicedAll
    val sliced = transform(slicedS, s => s.getField("v"))
    val takeEff = if (naRm) size(sliced).cast("double") else take
    val emptyNaRm = naRm && true
    def emptyDefault(v: Column, dflt: Column): Column =
      if (emptyNaRm) when(size(sliced) === 0, dflt).otherwise(v) else v
    val res = fn match {
      case "sum"  => aggregate(sliced, lit(0.0), (a, x) => a + x.cast("double"))
      case "mean" => emptyDefault(
        aggregate(sliced, lit(0.0), (a, x) => a + x.cast("double")) / takeEff,
        lit(Double.NaN))
      case "max"  => emptyDefault(array_max(sliced).cast("double"), lit(Double.NaN))
      case "min"  => emptyDefault(array_min(sliced).cast("double"), lit(Double.NaN))
      case "prod" => aggregate(sliced, lit(1.0), (a, x) => a * x.cast("double"))
      case "median" =>
        val sorted = array_sort(sliced)
        val sz = size(sorted)
        when(sz === 0,
            (if (emptyNaRm) lit(Double.NaN) else lit(null)).cast("double"))
          .when(sz % 2 === 1, element_at(sorted, ((sz + 1) / 2).cast("int")).cast("double"))
          .otherwise((element_at(sorted, (sz / 2).cast("int")) +
            element_at(sorted, (sz / 2).cast("int") + 1)) / 2.0)
      case "var" | "sd" =>
        val n = size(sliced).cast("double")
        val mean = aggregate(sliced, lit(0.0), (a, x) => a + x.cast("double")) / n
        val ss = aggregate(sliced, lit(0.0),
          (a, x) => a + (x.cast("double") - mean) * (x.cast("double") - mean))
        val v = when(n > 1, ss / (n - 1))
        if (fn == "var") v else sqrt(v)
      case other  => throw new IllegalArgumentException(s"frolladaptive fn=$other")
    }
    // null `an` must yield null (reference NAs on NA adaptive n) — the
    // bare comparison would evaluate to null and fall through to res;
    // partial=TRUE (NEWS #5438) trims an incomplete window to the
    // available observations instead
    val incomplete = if (partial) lit(false) else an > size(frame)
    when(an.isNull || incomplete || hasNull, lit(null)).otherwise(res)
  }

  // ---- head/tail-k per group (ghead/gtail, src/gsumm.c:923-1018) ------

  def topK(df: DataFrame, by: Seq[String], order: Seq[Column], k: Int,
           allowGlobal: Boolean = false): DataFrame = {
    // global top-k needs no guard and no opt-in: sort+limit plans
    // TakeOrderedAndProject (per-partition top-k, driver merge of k
    // rows) — genuinely scale-safe for small k, no single-partition
    // WindowExec (allowGlobal kept for source compatibility)
    if (by.isEmpty) df.orderBy(order: _*).limit(k)
    else df
      .withColumn("_graft_rn", row_number()
        .over(Window.partitionBy(by.map(col): _*).orderBy(order: _*)))
      .filter(col("_graft_rn") <= k)
      .drop("_graft_rn")
  }

  /** gtail analog (src/gsumm.c:1004-1018): last k rows per group along
    * `order` — topK over the flipped order, preserving original columns.
    */
  def tailK(df: DataFrame, by: Seq[String], order: Seq[Column], k: Int,
            allowGlobal: Boolean = false): DataFrame =
    topK(df, by, order.map(flipOrder), k, allowGlobal)

  // ---- cumulative (free in Spark, SURVEY.md §2.5 last row) ------------

  /** Cumulative aggregates. cum("prod") runs in log space — sign-tracked
    * exp(sum(log|x|)) with zero- and null-propagation — an O(n) streaming
    * frame that scales to arbitrarily long series (the naive growing-
    * prefix array is O(n²) per partition). Exact-FP semantics (bitwise
    * reproducible sequential multiply) are available as "prod_exact" for
    * short series.
    */
  def cum(fn: String, c: Column, by: Seq[String], order: Seq[Column],
          allowGlobal: Boolean = false, naRm: Boolean = false): Column = {
    val w = spec(by, order, allowGlobal, "cum").rowsBetween(Window.unboundedPreceding, 0)
    // Reference default (base-R cumsum/cummin/cummax in j): an NA poisons
    // every position from itself onward. SQL window aggs skip NULLs, so
    // the poison is restored with a prefix null-count guard; naRm=true
    // opts into the skip-NULLs SQL semantics.
    def poisoned(agg: Column): Column =
      if (naRm) agg
      else when(count(c).over(w) < count(lit(1)).over(w), lit(null)).otherwise(agg)
    fn match {
      case "sum" => poisoned(sum(c).over(w))
      case "min" => poisoned(min(c).over(w))
      case "max" => poisoned(max(c).over(w))
      case "prod" =>
        val x = c.cast("double")
        // null in prefix → null (reference cumprod propagates NA);
        // naRm=true opts into skip-NULL like the sum/min/max branches
        // (null only when the prefix has no non-null values — SQL agg
        // parity), so naRm behaves uniformly across the cum family.
        val sawNull = count(x).over(w) < count(lit(1)).over(w)
        val zeros = sum(when(x === 0.0, 1).otherwise(0)).over(w)
        val negs = sum(when(x < 0.0, 1).otherwise(0)).over(w)
        val logMag = sum(when(x =!= 0.0, log(abs(x)))).over(w)
        val body = when(zeros > 0, lit(0.0))
          .otherwise(when(negs % 2 === 0, lit(1.0)).otherwise(lit(-1.0)) *
            exp(coalesce(logMag, lit(0.0))))
        if (naRm) when(count(x).over(w) === 0, lit(null).cast("double")).otherwise(body)
        else when(sawNull, lit(null).cast("double")).otherwise(body)
      case "prod_exact" =>
        // collect_list drops nulls, so the sequential multiply alone
        // would silently behave as naRm=true — the poison guard must be
        // explicit here, exactly like the log-space branch.
        val listed =
          aggregate(collect_list(c).over(w), lit(1.0), (a, x) => a * x.cast("double"))
        if (naRm) when(count(c).over(w) === 0, lit(null).cast("double")).otherwise(listed)
        else when(count(c).over(w) < count(lit(1)).over(w),
          lit(null).cast("double")).otherwise(listed)
      case other => throw new IllegalArgumentException(s"cum fn=$other")
    }
  }
}
