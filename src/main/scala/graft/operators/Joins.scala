package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Join operators (SURVEY.md §2.3). The reference funnels every join
  * through sorted binary search (src/bmerge.c); here every join lowers to
  * a Catalyst Join node so the planner picks broadcast-hash /
  * shuffled-hash / sort-merge from statistics — at 100 TB that choice
  * (plus AQE skew splitting) is the whole game.
  *
  * The two operators Spark genuinely lacks — rolling/as-of join
  * (src/bmerge.c:13-17) and interval overlap join (R/foverlaps.R) — are
  * implemented as logical rewrites that need exactly ONE shuffle by the
  * group keys (union + ordered window LOCF; bin-exploded equi join),
  * rather than per-row lookups.
  */
object Joins {

  /** Equi join with data.table-style disambiguation: clashing non-join
    * columns of `i` get the reference's `i.` prefix (rendered `i_`).
    */
  def equi(x: DataFrame, i: DataFrame, on: Seq[String], how: String): DataFrame = {
    val clashes = i.columns.filter(c => x.columns.contains(c) && !on.contains(c))
    val iRenamed = clashes.foldLeft(i)((d, c) => d.withColumnRenamed(c, s"i_$c"))
    x.join(iRenamed, on, how)
  }

  /** mult="first"|"last" (src/bmerge.c:32 enum): keep one x row per probe
    * row of `i`, picked by the BARE `order` columns (no asc/desc — the
    * direction comes from mult) within the match group. `"error"`
    * becomes a cardinality assertion the caller can run via
    * [[assertNoDup]].
    *
    * Limitation (shared with [[overlapMult]]): the `probeUnique=false`
    * tier groups `i` by all its columns, so map-typed probe columns are
    * not supported there (Spark maps are not grouping keys); pass
    * `probeUnique=true` or pre-encode maps (e.g. `to_json`) first.
    */
  def mult(x: DataFrame, i: DataFrame, on: Seq[String], mult: String,
           order: Seq[Column], probeUnique: Boolean = false): DataFrame = {
    require(mult == "first" || mult == "last", s"mult=$mult")
    val ord = if (mult == "first") order.map(_.asc) else order.map(_.desc)
    if (probeUnique) {
      // Probe rows are unique on the join keys: window by the keys
      // themselves — the join's hash partitioning feeds the window sort
      // directly, no generated probe id travels through the shuffle.
      val joined = equi(x, i, on, "right")
      val w = Window.partitionBy(on.map(col): _*).orderBy(ord: _*)
      joined.withColumn("_graft_rn", row_number().over(w))
        .filter(col("_graft_rn") === 1)
        .drop("_graft_rn")
    } else {
      // Probe identity WITHOUT a generated id (monotonically_increasing_id
      // renumbers when a non-deterministic source recomputes a partition —
      // task retry, AQE replan — splitting a match group across probe ids
      // and emitting duplicate/missing rows). Same dedupe-count-explode
      // pattern as [[overlapMult]]: dedupe i to distinct rows carrying
      // their multiplicity, pick one x row per distinct probe row via
      // min_by/max_by, and explode the multiplicity back. Exact-duplicate
      // probe rows match the same x set and pick the same x row, so this
      // reproduces one-output-row-per-physical-probe-row exactly, and
      // every step is deterministic under retries and re-planning.
      // Internal count column: pick a name absent from BOTH inputs so
      // equi's clash rule can never i_-prefix it out from under us.
      val taken = (x.columns ++ i.columns).toSet
      val cnt = Iterator.from(0).map(n => s"_graft_mxn$n")
        .find(c => !taken.contains(c) && !taken.contains(s"i_$c")).get
      val iCols = i.columns.toSeq
      val iDistinct = i.groupBy(iCols.map(col): _*).agg(count(lit(1)).as(cnt))
      val joined = equi(x, iDistinct, on, "right")
      val xPayload = x.columns.filterNot(on.contains).toSeq
      // i's non-key columns may have been i_-prefixed by the clash rule
      val iSide = joined.columns.filterNot(xPayload.contains).toSeq
      val iRest = iSide.filterNot(c => on.contains(c) || c == cnt)
      val pickVal = struct(xPayload.map(col): _*)
      // Bare order columns; direction comes from min_by vs max_by below
      // (same pattern as multAgg).
      val key = struct(order: _*)
      val pick = if (mult == "first") min_by(pickVal, key) else max_by(pickVal, key)
      joined.groupBy(iSide.map(col): _*)
        .agg(pick.as("_graft_m"))
        .withColumn("_graft_dup", explode(sequence(lit(1L), col(cnt))))
        .select((on.map(col) ++ xPayload.map(p => col(s"_graft_m.$p").as(p))
          ++ iRest.map(col)): _*)
    }
  }

  /** mult="first"/"last" via ONE min_by/max_by hash aggregation on x
    * followed by the join — instead of join + per-probe sort window. The
    * struct ordering key gives lexicographic multi-column order; the
    * payload travels as one struct. Equivalent results to [[mult]] when
    * `order` is a total order within each key group; preferred at scale
    * (map-side partial aggregation reduces the shuffled x volume to one
    * row per key, and no generated probe id rides the shuffle).
    */
  def multAgg(x: DataFrame, i: DataFrame, on: Seq[String], mult: String,
              order: Seq[Column]): DataFrame = {
    require(mult == "first" || mult == "last", s"mult=$mult")
    val payload = x.columns.filterNot(on.contains).toSeq
    val pick = struct(payload.map(col): _*)
    val key = struct(order: _*)
    val agg = if (mult == "first") min_by(pick, key) else max_by(pick, key)
    val reduced = x.groupBy(on.map(col): _*).agg(agg.as("_graft_s"))
      .select((on.map(col) ++ payload.map(p => col(s"_graft_s.$p").as(p))): _*)
    equi(reduced, i, on, "right")
  }

  /** PLAN-TIME uniqueness proof for [[assertNoDup]]: true when `x`'s
    * optimized plan makes duplicate `on` tuples impossible by
    * construction — an Aggregate/Deduplicate whose keys are a SUBSET of
    * `on` (unique on the subset ⇒ unique on the superset; empty
    * grouping ⇒ one row), or statistics proving ≤1 row. Conservative:
    * any plan it cannot read (projection renames, joins, scans without
    * stats) returns false and the runtime check runs.
    */
  private[graft] def provablyUniqueOn(x: DataFrame, on: Seq[String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate}
    val onSet = on.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val plan = x.queryExecution.optimizedPlan
    plan match {
      case a: Aggregate =>
        a.groupingExpressions.forall {
          case attr: Attribute =>
            onSet.contains(attr.name.toLowerCase(java.util.Locale.ROOT))
          case _ => false
        }
      case d: Deduplicate =>
        d.keys.forall(k =>
          onSet.contains(k.name.toLowerCase(java.util.Locale.ROOT)))
      // ≤1 row total must come from the plan STRUCTURE, not from
      // p.stats: catalog ANALYZE counts go stale after inserts and CBO
      // attaches selectivity ESTIMATES to Filter/Join — an estimate must
      // never skip a correctness check (ADVICE r15)
      case p => exactRowBound(p).exists(_ <= 1)
    }
  }

  /** Structural EXACT upper bound on a logical plan's row count — only
    * from shapes whose cardinality is bounded by construction
    * (LocalRelation data size, Range extent, LIMIT literals, global
    * aggregates, and the count-preserving/reducing unary operators above
    * them). Catalyst's `stats.rowCount` is deliberately NOT consulted:
    * catalog statistics go stale after writes and CBO-derived counts are
    * selectivity estimates, and both [[assertNoDup]] (a correctness
    * contract) and [[cartesianGuard]] (a refusal before a huge join)
    * would silently skip their runtime check on such a guess.
    * Conservative: None whenever unsure.
    */
  private[graft] def exactRowBound(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case l: LocalRelation => Some(BigInt(l.data.length))
      case r: Range => Some(r.numElements)
      case g: GlobalLimit =>
        val childBound = exactRowBound(g.child)
        g.limitExpr match {
          case Literal(n: Int, _) =>
            Some(childBound.fold(BigInt(n))(_.min(BigInt(n))))
          case _ => childBound
        }
      // LocalLimit caps per partition; the global count stays <= child's
      case l: LocalLimit => exactRowBound(l.child)
      case a: Aggregate if a.groupingExpressions.isEmpty => Some(BigInt(1))
      case u: Union =>
        val bs = u.children.map(exactRowBound)
        if (bs.forall(_.isDefined)) Some(bs.flatten.sum) else None
      case p: Project => exactRowBound(p.child)
      case f: Filter => exactRowBound(f.child)
      case s: Sort => exactRowBound(s.child)
      case d: Deduplicate => exactRowBound(d.child)
      case s: SubqueryAlias => exactRowBound(s.child)
      case r: RepartitionOperation => exactRowBound(r.child)
      case _ => None
    }
  }

  /** Passed dup-guard probes, session-memoized (optimization r22): the
    * pre-flight aggregation is a deterministic property of (plan, keys),
    * and updateJoin-style callers re-run it per bench rep / per pipeline
    * step — a full probe-side job each time. Only SUCCESS memoizes (a
    * failing probe throws, and a throwing compute leaves no entry, so a
    * corrupt input keeps failing loudly); [[graft.SessionMemo.clearAll]]
    * clears, the cleared-cold discipline re-pays it per cold rep. Same
    * staleness contract as every fit memo: data rewritten under an
    * identical plan mid-session needs a clear.
    */
  private val noDupCache = new graft.SessionMemo[java.lang.Boolean]()

  /** mult="error": fail when any probe row matches more than one x row.
    * Plan-time fast accept when uniqueness is provable from the plan
    * ([[provablyUniqueOn]]) — no pre-flight job; otherwise one cheap
    * partial-aggregation probe.
    */
  def assertNoDup(x: DataFrame, on: Seq[String]): Unit = {
    if (provablyUniqueOn(x, on)) return
    val key = graft.SessionMemo.planKey(x) + ":" + on.mkString(",")
    noDupCache.getOrElsePut(x.sparkSession, key) {
      val dups = x.groupBy(on.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count()
      // message parity with src/bmerge.c:417
      require(dups == 0,
        s"mult='error' and multiple matches during merge (on=${on.mkString(",")})")
      java.lang.Boolean.TRUE
    }
    ()
  }

  // ---- as-of / rolling join -------------------------------------------

  sealed trait Roll
  /** roll=TRUE / +Inf — last observation carried forward. */
  case object Locf extends Roll
  /** roll=-Inf — next observation carried backward. */
  case object Nocb extends Roll
  /** roll="nearest". */
  case object Nearest extends Roll
  /** roll=<limit> — LOCF but only within `limit` of the on-column
    * (src/bmerge.c:15 "limited staleness").
    */
  final case class Limit(limit: Double) extends Roll

  /** As-of join: for each row of `i`, attach `valueCols` from the `x` row
    * whose `on` value prevails per `roll`, within equal `by` groups.
    *
    * Implementation (no Spark builtin): tag and union both sides, then a
    * single window pass per direction —
    * `last(value, ignoreNulls).over(partitionBy(by).orderBy(on, tag))`
    * gives LOCF; the same over the mirrored order gives NOCB; nearest
    * compares both.
    * One shuffle on `by`, streaming window evaluation, no per-row
    * lookups. SKEW CAVEAT: AQE skew splitting applies to sort-merge
    * joins, NOT to Window exchanges — a power-law `by` key (one key with
    * 10^9 rows) serializes that key's whole series through one task. For
    * such keys use [[asofSalted]], which sub-buckets each key by time
    * range and carries the boundary LOCF value across buckets. Semantics
    * follow src/bmerge.c:13-17 (exact match preferred, then roll).
    */
  /** rollends (R/data.table.R:597-607): (fillStartEdge, fillEndEdge).
    * For LOCF the end edge "rolls" by nature, so the knobs mean:
    * `_1` = also fill probes BEFORE the first x row (from the first x),
    * `_2` = allow filling probes AFTER the last x row (default true).
    * The reference's defaults: roll=+Inf → (false, true); roll=-Inf →
    * (true, false) — mirrored in [[asof]]'s defaults per direction.
    */
  /** Shared tag-and-union alignment for [[asof]]/[[asofSalted]]:
    * x rows carry the value columns under internal aliases, i rows carry
    * their own payload; both sides get the (onX, tag) bookkeeping.
    */
  private final case class AsofUnion(u: DataFrame, iCols: Seq[String],
                                     aliases: Seq[String], outNames: Seq[String])
  private val tag = "_graft_src"        // 0 = x (reference), 1 = i (probe)
  private val onX = "_graft_on_x"       // x's on-value carried for limit/nearest

  private val tbPrefix = "_graft_tb_"   // x-side tie-break columns

  private def asofUnion(x: DataFrame, i: DataFrame, by: Seq[String], on: String,
                        valueColsIn: Seq[String],
                        tieBreak: Seq[String] = Nil): AsofUnion = {
    val valueCols =
      if (valueColsIn.nonEmpty) valueColsIn
      else x.columns.filterNot(c => by.contains(c) || c == on || tieBreak.contains(c)).toSeq
    val iCols = i.columns.toSeq
    // Internal aliases keep value columns distinct from same-named i
    // columns (the normal as-of shape: both sides carry e.g. "value");
    // clashing outputs get the reference-style x_ prefix.
    val aliases = valueCols.indices.map(k => s"_graft_v_$k")
    val outNames = valueCols.map(v => if (iCols.contains(v)) s"x_$v" else v)
    val tbAliases = tieBreak.indices.map(k => s"$tbPrefix$k")
    // Align schemas: i columns ++ aliased value columns ++ bookkeeping.
    val xAligned = x.select(
      (by.map(col) ++ Seq(col(on)) ++
        iCols.filterNot(c => by.contains(c) || c == on).map(c => lit(null).cast(i.schema(c).dataType).as(c)) ++
        valueCols.zip(aliases).map { case (v, a) => col(v).as(a) } ++
        tieBreak.zip(tbAliases).map { case (t, a) => col(t).as(a) } :+
        col(on).as(onX) :+ lit(0).as(tag)): _*)
    val iAligned = i.select(
      (by.map(col) ++ Seq(col(on)) ++
        iCols.filterNot(c => by.contains(c) || c == on).map(col) ++
        valueCols.zip(aliases).map { case (v, a) => lit(null).cast(x.schema(v).dataType).as(a) } ++
        tieBreak.zip(tbAliases).map { case (t, a) => lit(null).cast(x.schema(t).dataType).as(a) } :+
        lit(null).cast(x.schema(on).dataType).as(onX) :+ lit(1).as(tag)): _*)
    AsofUnion(xAligned.unionByName(iAligned), iCols, aliases.toSeq, outNames)
  }

  /** As-of join. `tieBreak`: x-side columns ordering duplicate `on`
    * values within a (by, on) tie — the reference's bmerge returns the
    * LAST x row in table order for a roll match (src/bmerge.c binary
    * search lands on the upper bound of a run of duplicate key values),
    * so with `tieBreak = Seq(rowOrderCol)` LOCF carries the value of the
    * last duplicate and NOCB the first, exactly bmerge's rule. Without
    * it, duplicate (by, on) x rows tie nondeterministically (Spark
    * window sort is not stable across retries/replans).
    */
  def asof(x: DataFrame, i: DataFrame, by: Seq[String], on: String,
           roll: Roll, valueColsIn: Seq[String] = Nil,
           rollends: Option[(Boolean, Boolean)] = None,
           tieBreak: Seq[String] = Nil): DataFrame = {
    val AsofUnion(u, iCols, aliases, outNames) =
      asofUnion(x, i, by, on, valueColsIn, tieBreak)

    val tbOrder = tieBreak.indices.map(k => col(s"$tbPrefix$k").asc)
    // both directions are the last non-null up to the row: backward in
    // (on, tag, tieBreak) order, forward in the mirror of (on, tag desc,
    // tieBreak) — every key, null placement and tie-break reversed, so
    // NOCB still takes the first duplicate. A prefix frame streams; the
    // suffix frame (0, unboundedFollowing) is re-evaluated per row.
    def prefix(ords: Seq[Column]) = Window.partitionBy(by.map(col): _*)
      .orderBy(ords: _*).rowsBetween(Window.unboundedPreceding, 0)
    val wBack = prefix(col(on).asc +: col(tag).asc +: tbOrder)
    val wFwd = prefix((col(on).asc +: col(tag).desc +: tbOrder)
      .map(Windows.flipOrder))

    def filled(d: DataFrame, w: org.apache.spark.sql.expressions.WindowSpec,
               suffix: String): DataFrame = {
      def pick(c: String) = last(col(c), ignoreNulls = true).over(w)
      aliases.foldLeft(d.withColumn(onX + suffix, pick(onX))) {
        (acc, a) => acc.withColumn(a + suffix, pick(a))
      }
    }

    val result = roll match {
      case Locf =>
        val (reStart, reEnd) = rollends.getOrElse((false, true))
        if (!reStart && reEnd) {
          val f = filled(u, wBack, "_b")
          f.filter(col(tag) === 1)
            .select((iCols.map(col) ++ aliases.zip(outNames).map {
              case (a, o) => col(a + "_b").as(o) }): _*)
        } else {
          // need both directions to detect/fill the edges
          val f = filled(filled(u, wBack, "_b"), wFwd, "_f")
          val beforeFirst = col(onX + "_b").isNull   // no x at or before probe
          val afterLast = col(onX + "_f").isNull     // no x at or after probe
          f.filter(col(tag) === 1)
            .select((iCols.map(col) ++ aliases.zip(outNames).map { case (a, o) =>
              val base = col(a + "_b")
              val withStart = if (reStart) when(beforeFirst, col(a + "_f")).otherwise(base) else base
              val withEnd = if (reEnd) withStart
                            else when(afterLast && !beforeFirst, lit(null)).otherwise(withStart)
              withEnd.as(o)
            }): _*)
        }
      case Nocb =>
        val (reStart, reEnd) = rollends.getOrElse((true, false))
        if (reStart && !reEnd) {
          val f = filled(u, wFwd, "_f")
          f.filter(col(tag) === 1)
            .select((iCols.map(col) ++ aliases.zip(outNames).map {
              case (a, o) => col(a + "_f").as(o) }): _*)
        } else {
          val f = filled(filled(u, wBack, "_b"), wFwd, "_f")
          val beforeFirst = col(onX + "_b").isNull
          val afterLast = col(onX + "_f").isNull
          f.filter(col(tag) === 1)
            .select((iCols.map(col) ++ aliases.zip(outNames).map { case (a, o) =>
              val base = col(a + "_f")
              val withEnd = if (reEnd) when(afterLast, col(a + "_b")).otherwise(base) else base
              val withStart = if (reStart) withEnd
                              else when(beforeFirst && !afterLast, lit(null)).otherwise(withEnd)
              withStart.as(o)
            }): _*)
        }
      case Limit(lim) =>
        val f = filled(u, wBack, "_b")
        val within = col(on).cast("double") - col(onX + "_b").cast("double") <= lit(lim)
        f.filter(col(tag) === 1)
          .select((iCols.map(col) ++
            aliases.zip(outNames).map { case (a, o) => when(within, col(a + "_b")).as(o) }): _*)
      case Nearest =>
        // Reference default rollends for nearest is c(TRUE,TRUE)
        // (R/data.table.R:524): both extremes extrapolate. With an end
        // disabled, a probe beyond that extreme gets NO match
        // (src/bmerge.c:297-309: the extreme branches fire only when
        // rollends[k]).
        val (reStart, reEnd) = rollends.getOrElse((true, true))
        val f = filled(filled(u, wBack, "_b"), wFwd, "_f")
        val beforeFirst = col(onX + "_b").isNull // probe precedes every x
        val afterLast = col(onX + "_f").isNull   // probe follows every x
        val pick = nearestPick(col(on), col(onX + "_b"), col(onX + "_f")) _
        f.filter(col(tag) === 1)
          .select((iCols.map(col) ++
            aliases.zip(outNames).map { case (a, o) =>
              val base = pick(col(a + "_b"), col(a + "_f"))
              val withStart = if (reStart) base
                              else when(beforeFirst, lit(null)).otherwise(base)
              val withEnd = if (reEnd) withStart
                            else when(afterLast, lit(null)).otherwise(withStart)
              withEnd.as(o)
            }): _*)
    }
    result
  }

  /** The roll="nearest" per-row rule, shared by [[asof]] and
    * [[asofSalted]] so the oracle-proven identity between them cannot
    * drift: back wins when forward is absent or the backward reference
    * is at least as close.
    */
  private def nearestPick(onCol: Column, onXB: Column, onXF: Column)
                         (back: Column, fwd: Column): Column = {
    val dB = abs(onCol.cast("double") - onXB.cast("double"))
    val dF = abs(onXF.cast("double") - onCol.cast("double"))
    val useBack = onXF.isNull || (onXB.isNotNull && dB <= dF)
    when(useBack, back).otherwise(fwd)
  }

  /** Skew-safe as-of join: identical results to `asof` with default
    * rollends for EVERY roll (Locf / Limit / Nocb / Nearest), but each
    * `by` key is sub-bucketed by time range so no single task ever sorts
    * a whole power-law key's series.
    *
    * Plan shape: the tagged union gets `bucket = floor(on/bucketWidth)`;
    * the fill window partitions by (by, bucket) — parallelism becomes
    * (#keys × #buckets), restoring uniform tasks under any key skew. A
    * second pass fixes the bucket boundaries: per (by, bucket) the
    * boundary x row of each column is aggregated (max_by/min_by — one
    * row per bucket, partial map-side), carried ACROSS buckets with a
    * tiny per-key window over the bucket table (rows ∝
    * time-range/bucketWidth, not data), and joined back for probes whose
    * own bucket holds no matching x row. Nearest runs both directions
    * and picks per row, exactly like [[asof]]. Total: two shuffles of
    * the data (bucketed window + carry join) plus one shuffle of the
    * bucket-summary table — vs [[asof]]'s one shuffle, the price of
    * skew immunity.
    *
    * `bucketWidth` is in `on` units: pick it so an average key has a few
    * rows per bucket × enough buckets to split the worst key (e.g.
    * hottest-key rows / 10k tasks).
    */
  def asofSalted(x: DataFrame, i: DataFrame, by: Seq[String], on: String,
                 roll: Roll, bucketWidth: Double,
                 valueColsIn: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val needBack = roll != Nocb
    val needFwd = roll == Nocb || roll == Nearest
    val AsofUnion(u0, iCols, aliases, outNames) = asofUnion(x, i, by, on, valueColsIn)
    val bucket = "_graft_bucket"
    val u = u0.withColumn(bucket, floor(col(on).cast("double") / bucketWidth))
    val cols = aliases :+ onX

    // Pass 1: fill within (by, bucket) — the skew-split window. Backward
    // (LOCF) and/or forward (NOCB) per the roll.
    val wInB = Window.partitionBy((by :+ bucket).map(col): _*)
      .orderBy(col(on).asc, col(tag).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // forward: the last non-null up to the row in the mirror of (on,
    // tag desc) — a prefix frame, where (0, unboundedFollowing) would be
    // re-evaluated per row
    val wInF = Window.partitionBy((by :+ bucket).map(col): _*)
      .orderBy(Seq(col(on).asc, col(tag).desc).map(Windows.flipOrder): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filledB =
      if (!needBack) u
      else cols.foldLeft(u)((acc, a) =>
        acc.withColumn(a + "_b", last(col(a), ignoreNulls = true).over(wInB)))
    val filledIn =
      if (!needFwd) filledB
      else cols.foldLeft(filledB)((acc, a) =>
        acc.withColumn(a + "_f", last(col(a), ignoreNulls = true).over(wInF)))

    // Pass 2 (bucket-summary scale): ONE aggregation computes, per
    // (by, bucket), the boundary NON-NULL value of each column among x
    // rows for every direction the roll needs (asof's last/first
    // (ignoreNulls) carries columns independently — max_by/min_by keyed
    // on the non-null-masked, STRUCT-WRAPPED `on` reproduces that per
    // column; the struct wrapper keeps the ordering key non-null for x
    // rows whose `on` itself is null, which sort before everything in
    // asof and must still carry). The summary has ≤ one row per
    // non-empty bucket; the cross-bucket carry windows run per-key over
    // that tiny table, and ONE null-safe join stitches all carry
    // columns back (a null `by` key is a real group to the window and
    // would silently lose its carry under plain equi-join keys).
    val xRows = u.filter(col(tag) === 0)
    val allBuckets = u.select((by :+ bucket).map(col): _*).distinct()
    def boundary(a: String, backward: Boolean): Column = {
      val pick: (Column, Column) => Column = if (backward) max_by else min_by
      val key = if (a == onX) struct(col(on)) else when(col(a).isNotNull, struct(col(on)))
      pick(col(a), key).as(a + (if (backward) "_lb" else "_fb"))
    }
    val summaryAggs =
      (if (needBack) cols.map(boundary(_, backward = true)) else Nil) ++
        (if (needFwd) cols.map(boundary(_, backward = false)) else Nil)
    val summary = xRows.groupBy((by :+ bucket).map(col): _*)
      .agg(summaryAggs.head, summaryAggs.tail: _*)
    val sR = summary.columns.filter(c => by.contains(c) || c == bucket)
      .foldLeft(summary)((d, c) => d.withColumnRenamed(c, s"_graft_lb_$c"))
    val sCond = (by :+ bucket).map(c => col(c) <=> col(s"_graft_lb_$c")).reduce(_ && _)
    val wCarryB = Window.partitionBy(by.map(col): _*).orderBy(col(bucket).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCarryF = Window.partitionBy(by.map(col): _*).orderBy(col(bucket).asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val joinedSummary = allBuckets.join(sR, sCond, "left")
      .drop((by :+ bucket).map(c => s"_graft_lb_$c"): _*)
    val withBack =
      if (!needBack) joinedSummary
      else cols.foldLeft(joinedSummary)((acc, a) =>
        acc.withColumn(a + "_c", last(col(a + "_lb"), ignoreNulls = true).over(wCarryB)))
    val withBoth =
      if (!needFwd) withBack
      else cols.foldLeft(withBack)((acc, a) =>
        acc.withColumn(a + "_fc", first(col(a + "_fb"), ignoreNulls = true).over(wCarryF)))
    val carrySuffixes =
      (if (needBack) Seq("_c") else Nil) ++ (if (needFwd) Seq("_fc") else Nil)
    val carry = withBoth.select(
      ((by :+ bucket).map(c => col(c).as(s"_graft_cb_$c")) ++
        carrySuffixes.flatMap(s => cols.map(a => col(a + s)))): _*)

    // Stitch: per column, the within-bucket fill wins; a null prefix
    // (resp. suffix) in the probe's own bucket falls back to the
    // cross-bucket carry — together exactly the nearest-non-null-
    // at-or-before (resp. at-or-after) the probe, i.e. asof.
    val stitchCond = (by :+ bucket).map(c => col(c) <=> col(s"_graft_cb_$c")).reduce(_ && _)
    val stitched = filledIn.join(carry, stitchCond, "left")
      .drop((by :+ bucket).map(c => s"_graft_cb_$c"): _*)
    def effB(a: String): Column = coalesce(col(a + "_b"), col(a + "_c"))
    def effF(a: String): Column = coalesce(col(a + "_f"), col(a + "_fc"))
    val probes = stitched.filter(col(tag) === 1)
    roll match {
      case Locf =>
        probes.select((iCols.map(col) ++
          aliases.zip(outNames).map { case (a, o) => effB(a).as(o) }): _*)
      case Limit(lim) =>
        val within = col(on).cast("double") - effB(onX).cast("double") <= lit(lim)
        probes.select((iCols.map(col) ++
          aliases.zip(outNames).map { case (a, o) => when(within, effB(a)).as(o) }): _*)
      case Nocb =>
        probes.select((iCols.map(col) ++
          aliases.zip(outNames).map { case (a, o) => effF(a).as(o) }): _*)
      case Nearest =>
        val pick = nearestPick(col(on), effB(onX), effF(onX)) _
        probes.select((iCols.map(col) ++
          aliases.zip(outNames).map { case (a, o) =>
            pick(effB(a), effF(a)).as(o) }): _*)
    }
  }

  // ---- overlap (interval) join ----------------------------------------

  /** foverlaps() (R/foverlaps.R:1-22): interval × interval join.
    * type = any | within | start | end | equal.
    *
    * Lowered to an equi join on `by` plus a range predicate — Catalyst
    * plans SMJ/SHJ on the equi keys with the range as join condition.
    * For low-cardinality `by` at scale use [[overlapBinned]].
    */
  /** Reference parity (R/foverlaps.R:58-73): NA interval ends are
    * REFUSED, with the reference's message. Implemented as a runtime
    * assertion fused into the range-column projection (raise_error on
    * the first offending row, evaluated for every input row because the
    * guarded columns feed the join condition) — zero extra pass, unlike
    * the reference's eager driver-side anyNA scan. BEST-EFFORT by
    * construction: an NA row REMOVED before evaluation (a caller filter
    * pushed below the guard, partition pruning, an early limit) passes
    * silently; `overlap(validate = true)` adds the reference's
    * always-errors semantics via an eager pre-check.
    */
  private def guardNaRanges(df: DataFrame, s: String, e: String,
                            side: String): DataFrame = {
    def guard(c: String, role: String) =
      when(col(c).isNull, raise_error(lit(naRangeMessage(side, role, c))))
        .otherwise(col(c))
    df.withColumn(s, guard(s, "start")).withColumn(e, guard(e, "end"))
  }

  private def naRangeMessage(side: String, role: String, c: String): String =
    s"NA values in data.table $side '$role' column: '$c'. All rows with " +
      "NA values in the range columns must be removed for foverlaps() to work."

  /** Eager strict-parity NA check (`overlap(validate = true)`): one
    * cheap two-counter aggregation over the range columns BEFORE the
    * join is planned, erroring like the reference's anyNA scan even for
    * rows the lazy fused guard would never evaluate.
    */
  private def requireNoNaRanges(df: DataFrame, s: String, e: String,
                                side: String): Unit = {
    val r = df.agg(
      sum(when(col(s).isNull, 1L).otherwise(0L)),
      sum(when(col(e).isNull, 1L).otherwise(0L))).head()
    if (!r.isNullAt(0) && r.getLong(0) > 0)
      throw new IllegalArgumentException(naRangeMessage(side, "start", s))
    if (!r.isNullAt(1) && r.getLong(1) > 0)
      throw new IllegalArgumentException(naRangeMessage(side, "end", e))
  }

  /** `broadcastY = true` pins `y` as the broadcast side of the
    * (binned) equi join — the explicit-bounded-side contract from the
    * round-17 semIncremental lesson: a y side that is bounded but
    * DERIVED (an aggregate, a distinct, a fresh filter) carries an
    * unknown/large planner estimate, so left to statistics the join
    * plans sort-merge and the CORPUS side's map exchange writes the
    * whole table before AQE sees the small reality. A plain bounded
    * scan broadcasts by estimate anyway (the `overlap_probe` measures
    * zero corpus bytes); the flag exists for the derived-bounded case
    * where the estimate lies. Default false: both-sides-big is the
    * common foverlaps shape and a wrong broadcast OOMs executors.
    */
  def overlap(x0: DataFrame, y0: DataFrame, by: Seq[String],
              xStart: String, xEnd: String, yStart: String, yEnd: String,
              typ: String = "any", autoBin: Boolean = true,
              validate: Boolean = false,
              broadcastY: Boolean = false): DataFrame = {
    if (validate) {
      requireNoNaRanges(x0, xStart, xEnd, "x")
      requireNoNaRanges(y0, yStart, yEnd, "y")
    }
    val x = guardNaRanges(x0, xStart, xEnd, "x")
    val y = guardNaRanges(y0, yStart, yEnd, "y")
    if (by.isEmpty && autoBin) {
      // No equi keys ⇒ the naive plan is a broadcast-nested-loop join
      // (quadratic). Route through the binned equi join with a bin
      // width estimated from the median interval lengths (two tiny
      // stats jobs at plan-build time — cheap insurance at any scale).
      val w = estimateBinWidth(x, xStart, xEnd, y, yStart, yEnd)
      overlapBinned(x, y, by, xStart, xEnd, yStart, yEnd, w, typ,
        broadcastY = broadcastY)
    } else {
      val yy0 = disambiguate(x, y, by)
      val yy = if (broadcastY) broadcast(yy0) else yy0
      val cond = overlapCond(x, yy, xStart, xEnd, yStart, yEnd, typ)
      val full = by.map(b => x(b) === yy(b)).foldRight(cond)(_ && _)
      // drop y's copies of the equi keys (equal by construction) so the
      // result has each by-column exactly once
      by.foldLeft(x.join(yy, full, "inner"))((d, b) => d.drop(yy(b)))
    }
  }

  // estimate cache: the two approxQuantile stats jobs are plan-time
  // overhead paid per overlap query; identical (plan, cols) inputs reuse
  // the previous estimate (driver-local, like any other plan cache)
  private val binWidthCache = new graft.SessionMemo[Long]()

  /** Bin width for [[overlapBinned]]: max of the two sides' median
    * interval lengths (wider side dominates the per-interval bin
    * count), floored at 1.
    */
  def estimateBinWidth(x: DataFrame, xs: String, xe: String,
                       y: DataFrame, ys: String, ye: String): Long = {
    val key = s"${graft.SessionMemo.planKey(x)}:$xs:$xe:" +
      s"${graft.SessionMemo.planKey(y)}:$ys:$ye"
    binWidthCache.getOrElsePut(x.sparkSession, key) {
      def med(df: DataFrame, s: String, e: String): Double =
        df.select((col(e).cast("double") - col(s).cast("double")).as("len"))
          .stat.approxQuantile("len", Array(0.5), 0.05).headOption.getOrElse(1.0)
      math.max(1L, math.ceil(math.max(med(x, xs, xe), med(y, ys, ye))).toLong)
    }
  }

  /** Scale path for overlap joins with few/no `by` keys: explode each
    * interval into the fixed-width bins it covers, equi-join on
    * (by, bin), post-filter the exact predicate. A pair of intersecting
    * intervals shares MANY bins; it is emitted only from the FIRST one —
    * bin == floor(max(xStart, yStart)/w), which both sides provably
    * cover — so every matching pair appears exactly once with NO
    * dedupe shuffle and NO generated row ids (every overlap type
    * implies intersection, so the first shared bin always exists).
    * Shuffle volume ∝ data × (interval span / binWidth) — pick binWidth
    * near the median interval length (SURVEY.md §4.2 item 3).
    */
  def overlapBinned(x0: DataFrame, y0: DataFrame, by: Seq[String],
                    xStart: String, xEnd: String, yStart: String, yEnd: String,
                    binWidth: Long, typ: String = "any",
                    broadcastY: Boolean = false): DataFrame = {
    // same NA-range refusal as [[overlap]] for direct callers (a second
    // wrap from the overlap() route is a no-op on non-null values)
    val x = guardNaRanges(x0, xStart, xEnd, "x")
    val y = guardNaRanges(y0, yStart, yEnd, "y")
    val bin = "_graft_bin"
    val xb = x.withColumn(bin, explode(sequence(
        floor(col(xStart).cast("double") / binWidth).cast("long"),
        floor(col(xEnd).cast("double") / binWidth).cast("long"))))
    val yb0 = y.withColumn(bin, explode(sequence(
        floor(col(yStart).cast("double") / binWidth).cast("long"),
        floor(col(yEnd).cast("double") / binWidth).cast("long"))))
    // broadcastY: pin the bounded interval side explicitly (see
    // [[overlap]]'s scaladoc — the derived-bounded estimate hazard)
    val yb1 = disambiguate(xb, yb0, by :+ bin)
    val yb = if (broadcastY) broadcast(yb1) else yb1
    val ysIn = if (xb.columns.contains(yStart)) s"i_$yStart" else yStart
    val firstBin = xb(bin) ===
      floor(greatest(xb(xStart).cast("double"), yb(ysIn).cast("double")) / binWidth).cast("long")
    val cond = overlapCond(xb, yb, xStart, xEnd, yStart, yEnd, typ) && firstBin
    val keys = (by :+ bin).map(k => xb(k) === yb(k)).foldRight(cond)(_ && _)
    (by :+ bin).foldLeft(xb.join(yb, keys, "inner"))((d, k) => d.drop(yb(k)))
      .drop(bin)
  }

  private def overlapCond(x: DataFrame, y: DataFrame, xs: String, xe: String,
                          ys: String, ye: String, typ: String): Column = typ match {
    case "any"    => x(xs) <= y(ye) && y(ys) <= x(xe)
    case "within" => x(xs) >= y(ys) && x(xe) <= y(ye)
    case "start"  => x(xs) === y(ys)
    case "end"    => x(xe) === y(ye)
    case "equal"  => x(xs) === y(ys) && x(xe) === y(ye)
    case other    => throw new IllegalArgumentException(s"type=$other")
  }

  /** foverlaps(mult=) (R/foverlaps.R:1-22 signature): keep only the
    * first/last matching y interval per x row, ordered by (yStart, yEnd)
    * — "first" = earliest-starting match (reference sorted-y order).
    * Reduction runs per x row via min_by/max_by over the joined match
    * set: one extra hash aggregation, no window sort.
    */
  def overlapMult(x: DataFrame, y: DataFrame, by: Seq[String],
                  xStart: String, xEnd: String, yStart: String, yEnd: String,
                  typ: String = "any", mult: String = "all",
                  broadcastY: Boolean = false): DataFrame = {
    if (mult == "all") return overlap(x, y, by, xStart, xEnd, yStart, yEnd,
      typ, broadcastY = broadcastY)
    require(mult == "first" || mult == "last", s"foverlaps mult=$mult")
    // x-row identity WITHOUT generated ids (monotonically_increasing_id
    // renumbers when a non-deterministic source recomputes a partition):
    // dedupe x to distinct rows carrying their multiplicity, group the
    // join result by the full distinct x row, and explode the
    // multiplicity back at the end. Exact-duplicate x rows match the
    // same y set and pick the same y row, so this reproduces the
    // reference's one-output-row-per-physical-x-row exactly, and every
    // step is deterministic under task retries and re-planning.
    val cnt = "_graft_mxn"
    val xcols = x.columns.toSeq
    val xd = x.groupBy(xcols.map(col): _*).agg(count(lit(1)).as(cnt))
    val joined = overlap(xd, y, by, xStart, xEnd, yStart, yEnd, typ,
      broadcastY = broadcastY)
    // y's columns may have been i_-prefixed by the clash rule
    def yName(c: String): String = if (joined.columns.contains(s"i_$c")) s"i_$c" else c
    val yCols = joined.columns.filterNot(c => xd.columns.contains(c)).toSeq
    val ordKey = struct(col(yName(yStart)), col(yName(yEnd)))
    val pick = if (mult == "first") min_by(struct(yCols.map(col): _*), ordKey)
               else max_by(struct(yCols.map(col): _*), ordKey)
    joined.groupBy((xcols :+ cnt).map(col): _*)
      .agg(pick.as("_graft_m"))
      .withColumn("_graft_dup", explode(sequence(lit(1L), col(cnt))))
      .select((xcols.map(col) ++ yCols.map(c => col(s"_graft_m.$c").as(c))): _*)
  }

  /** foverlaps(which=TRUE): return only the matching id pairs
    * (xIdCol, yIdCol) instead of the joined payload — the distributed
    * analog of the reference's row-index return (physical row numbers
    * don't exist in a distributed table, so callers name the keys).
    */
  def overlapWhich(x: DataFrame, y: DataFrame, by: Seq[String],
                   xStart: String, xEnd: String, yStart: String, yEnd: String,
                   xIdCol: String, yIdCol: String,
                   typ: String = "any",
                   broadcastY: Boolean = false): DataFrame = {
    val joined = overlap(x, y, by, xStart, xEnd, yStart, yEnd, typ,
      broadcastY = broadcastY)
    val yid = if (joined.columns.contains(s"i_$yIdCol")) s"i_$yIdCol" else yIdCol
    joined.select(col(xIdCol), col(yid).as(yIdCol))
  }

  /** foverlaps maxgap/minoverlap (R/foverlaps.R:20-21 — declared but NOT
    * implemented by the reference; we implement them):
    *  - maxgap g: also match intervals separated by ≤ g (type="any"
    *    relaxed to gap-tolerant);
    *  - minoverlap m: require the intersection length ≥ m (type="any"
    *    tightened).
    * Composable with the binned path: callers widen binWidth by maxgap.
    */
  def overlapGapCond(x: DataFrame, y: DataFrame, xs: String, xe: String,
                     ys: String, ye: String,
                     maxgap: Double = 0.0, minoverlap: Double = 0.0): Column = {
    val gapOk = x(xs) <= y(ye) + maxgap && y(ys) <= x(xe) + maxgap
    if (minoverlap > 0.0) {
      val inter = least(x(xe), y(ye)) - greatest(x(xs), y(ys))
      gapOk && inter >= minoverlap
    } else gapOk
  }

  /** Overlap join with maxgap/minoverlap, binned for scale (bins widened
    * by maxgap so gap-tolerant matches still share a bin).
    */
  def overlapGap(x: DataFrame, y: DataFrame,
                 xs: String, xe: String, ys: String, ye: String,
                 maxgap: Double = 0.0, minoverlap: Double = 0.0): DataFrame = {
    val bin = "_graft_bin"
    val w = math.max(1L, estimateBinWidth(x, xs, xe, y, ys, ye) + math.ceil(maxgap).toLong)
    val xb = x.withColumn(bin, explode(sequence(
        floor((col(xs).cast("double") - maxgap) / w).cast("long"),
        floor((col(xe).cast("double") + maxgap) / w).cast("long"))))
    val yb0 = y.withColumn(bin, explode(sequence(
        floor(col(ys).cast("double") / w).cast("long"),
        floor(col(ye).cast("double") / w).cast("long"))))
    val yb = disambiguate(xb, yb0, Seq(bin))
    val ysIn = if (xb.columns.contains(ys)) s"i_$ys" else ys
    // first shared bin of the WIDENED x interval and y — gapOk implies
    // the widened intervals intersect, so it exists and is unique
    val firstBin = xb(bin) ===
      floor(greatest(xb(xs).cast("double") - maxgap, yb(ysIn).cast("double")) / w).cast("long")
    val cond = overlapGapCond(xb, yb, xs, xe, ys, ye, maxgap, minoverlap) && firstBin
    xb.join(yb, xb(bin) === yb(bin) && cond, "inner")
      .drop(bin)
  }

  private def disambiguate(x: DataFrame, y: DataFrame, keep: Seq[String]): DataFrame =
    y.columns.filter(c => x.columns.contains(c) && !keep.contains(c))
      .foldLeft(y)((d, c) => d.withColumnRenamed(c, s"i_$c"))

  /** One fold step of [[mergelistSteps]] (mirrors the reference's
    * per-pair resolution in R/mergelist.R:260-352): its own key list
    * (`on` empty = natural join on the columns shared at that step),
    * join kind, and mult.
    *
    * mult (R/mergelist.R:293: error/all/first/last) applies to the
    * incoming RHS table: "error" asserts it is unique on the step keys;
    * "first"/"last" reduce it to one row per key BEFORE the join. The
    * reference picks by physical row order; distributed rows have no
    * stable order, so the representative is the lexicographic min/max
    * of the RHS's non-key columns (in column order) — deterministic
    * under retries/replans, and a single map-side-combined min/max
    * aggregation at scale.
    */
  /** One fold step. `how` defaults to the reference's "left"
    * (R/mergelist.R:347 match.arg order); `mult = "default"` resolves
    * per-how exactly like `dtmerge` (R/mergelist.R:89-93):
    * semi/anti → "last", cross → "all", left/right/inner/full →
    * **"error"** — the reference REFUSES multiplying matches unless
    * asked. `joinMany = false` is the `join.many`/allow.cartesian
    * analog: refuse a many-to-many explosion under mult="all"
    * (R/mergelist.R:120-124). `cols` selects the incoming table's
    * payload (the reference's per-table `cols=` list — join keys are
    * always kept, R/mergelist.R someCols).
    */
  final case class MergeStep(on: Seq[String] = Nil, how: String = "left",
                             mult: String = "default",
                             joinMany: Boolean = true,
                             cols: Option[Seq[String]] = None)

  /** mult resolution per how — dtmerge's switch (R/mergelist.R:89-93). */
  def resolveMult(how: String, mult: String): String =
    if (mult != "default") mult
    else how match {
      case "semi" | "anti" => "last"
      case "cross"         => "all"
      case _               => "error"
    }

  /** mergelist with per-step `on=`/`how=`/`mult=` — the reference's
    * full signature, where each argument may be a list with one entry
    * per pair (R/mergelist.R:284-318). Catalyst reorders/broadcasts
    * each step from stats.
    *
    * Reference-parity guards (mergelist.Rraw 101.02/32-35, 102.631):
    * cross needs zero-length on + mult="all" + join.many; semi/anti
    * need mult != "all"; mult="error" checks BOTH sides for
    * inner/full (the reference runs a void bmerge on the mirrored
    * pair — R/mergelist.R:178-181) and mult="first"/"last" dedups
    * BOTH sides for inner/full ("ensure symmetric join",
    * R/mergelist.R:174-177).
    */
  def mergelistSteps(dfs: Seq[DataFrame], steps: Seq[MergeStep]): DataFrame = {
    require(dfs.size >= 2 && steps.size == dfs.size - 1,
      "mergelist: need N tables and N-1 join steps")
    dfs.tail.zip(steps).foldLeft(dfs.head) { case (acc0, (in0, st)) =>
      val mult = resolveMult(st.how, st.mult)
      if (st.how == "cross")
        require(st.on.isEmpty && mult == "all" && st.joinMany,
          "cross join must be used with zero-length on, mult='all', join.many=TRUE")
      if (st.how == "semi" || st.how == "anti")
        require(mult != "all",
          "semi and anti joins must be used with mult!='all'")
      val on = if (st.on.nonEmpty || st.how == "cross") st.on
               else acc0.columns.intersect(in0.columns).toSeq
      require(st.how == "cross" || on.nonEmpty,
        s"mergelist: no join columns for how=${st.how} (no shared names and no on=)")
      val next0 = st.cols match {
        case Some(cs) =>
          val missing = cs.filterNot(in0.columns.contains)
          require(missing.isEmpty,
            s"mergelist: cols= specify columns not present in corresponding table: ${missing.mkString(",")}")
          in0.select((on ++ cs.filterNot(on.contains)).map(col): _*)
        case None => in0
      }
      val symmetric = st.how == "inner" || st.how == "full"
      def firstLast(t: DataFrame, m: String): DataFrame = {
        val payload = t.columns.filterNot(on.contains).toSeq
        if (payload.isEmpty) t.dropDuplicates(on)
        else {
          val pick = struct(payload.map(col): _*)
          val agg0 = if (m == "first") min(pick) else max(pick)
          t.groupBy(on.map(col): _*).agg(agg0.as("_graft_m"))
            .select((on.map(col) ++ payload.map(p => col(s"_graft_m.$p").as(p))): _*)
        }
      }
      // mult applies to the LOOKUP side — bmerge's x table: the RHS for
      // a left join but the LHS for a right join (mergepair swaps
      // join_from/join_to, R/mergelist.R:160-172; the SQLite tester in
      // other.Rraw applies mult_one to "new rhs" = lhs for how=right) —
      // and to BOTH sides for inner/full (symmetric-join rule).
      val (multLeft, multRight) = st.how match {
        case "right"            => (true, symmetric)
        case _                  => (symmetric, true)
      }
      val (acc, next) = mult match {
        case "all" =>
          if (!st.joinMany && st.how != "cross" && st.how != "semi" && st.how != "anti") {
            // join.many=FALSE: a many-to-many pair is a data-quality
            // refusal (R/mergelist.R:120-124). Duplicated keys present
            // on BOTH sides among the matching keys = explosion.
            def dups(t: DataFrame) = t.groupBy(on.map(col): _*).count()
              .filter(col("count") > 1).select(on.map(col): _*)
            val m2m = dups(acc0).join(dups(next0), on).limit(1).count() > 0
            require(!m2m,
              "Joining resulted in many-to-many join. Perform quality check " +
                "on your data, use mult!='all', or set join.many to allow rows explosion.")
          }
          (acc0, next0)
        case "error" =>
          if (multRight) assertNoDup(next0, on)
          if (multLeft) assertNoDup(acc0, on)
          (acc0, next0)
        case m @ ("first" | "last") =>
          (if (multLeft) firstLast(acc0, m) else acc0,
           if (multRight) firstLast(next0, m) else next0)
        case other => throw new IllegalArgumentException(
          s"'mult' must be one of [error, all, first, last], got $other")
      }
      st.how match {
        case "cross" => acc.crossJoin(next)
        case "semi"  => acc.join(next, on, "left_semi")
        case "anti"  => acc.join(next, on, "left_anti")
        case other   => equi(acc, next, on, other)
      }
    }
  }

  /** mergelist / setmergelist with one shared key list (the common
    * call shape). Per-pair keys/mult: [[mergelistSteps]].
    */
  def mergelist(dfs: Seq[DataFrame], on: Seq[String],
                how: Seq[String], mult: String = "default"): DataFrame =
    mergelistSteps(dfs, how.map(h => MergeStep(on, h, mult)))

  /** allow.cartesian guard (R/data.table.R:925-935): pre-flight
    * cardinality check — estimate the join explosion from per-key counts
    * and refuse beyond `maxRatio`. Cheap (two partial aggregations) and
    * worth it before a 100 TB shuffle.
    */
  /** PLAN-TIME output upper bound for [[cartesianGuard]]: |x| × |i|
    * bounds ANY join's output from above, so when both row counts are
    * exact BY CONSTRUCTION ([[exactRowBound]] — local relations, limit
    * literals; never catalog/CBO stats, which can be stale or estimated)
    * and the product is already within the limit, the runtime pre-flight
    * can be skipped. Never used to REJECT — the product is far above the
    * true per-key estimate, so rejection stays a runtime decision.
    */
  private[graft] def plannedJoinBound(x: DataFrame, i: DataFrame): Option[BigInt] =
    for {
      xr <- exactRowBound(x.queryExecution.optimizedPlan)
      ir <- exactRowBound(i.queryExecution.optimizedPlan)
    } yield xr * ir

  def cartesianGuard(x: DataFrame, i: DataFrame, on: Seq[String],
                     maxRows: Long): Unit = {
    if (plannedJoinBound(x, i).exists(_ <= maxRows)) return
    val xc = x.groupBy(on.map(col): _*).count().withColumnRenamed("count", "xc")
    val ic = i.groupBy(on.map(col): _*).count().withColumnRenamed("count", "ic")
    val estRow = xc.join(ic, on).agg(sum(col("xc") * col("ic"))).head()
    val est = if (estRow.isNullAt(0)) 0L else estRow.getLong(0)  // no overlap → 0
    require(est <= maxRows,
      s"join would produce ~$est rows > allow.cartesian limit $maxRows")
  }
}
