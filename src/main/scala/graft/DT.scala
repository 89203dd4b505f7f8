package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Joins, Reshape, SetOps, Windows}

/** The core table abstraction: data.table's three-slot query
  * `DT[i, j, by]` (reference: R/data.table.R:524) re-expressed as a thin,
  * immutable wrapper over a Catalyst logical plan.
  *
  * Design (SURVEY.md §7.1): everything lowers to `org.apache.spark.sql`
  * plans so Catalyst gets full visibility — predicate pushdown, column
  * pruning, join selection, AQE. The reference's by-reference `:=`
  * (src/assign.c) becomes [[set]]/[[update]] returning a NEW DT — a
  * documented semantic break required by immutable distributed plans.
  *
  * The reference's key (`sorted` attribute, R/setkey.R:21) becomes
  * [[keyBy]]: a range-partition + in-partition sort that downstream
  * joins/groupings can reuse (Spark preserves outputOrdering /
  * outputPartitioning through cached plans), plus carried metadata.
  */
final case class DT(df: DataFrame, key: Seq[String] = Nil) {

  def spark: SparkSession = df.sparkSession

  // ---- i: row filter --------------------------------------------------
  /** DT[i] — row subset by predicate (reference i-branch,
    * R/data.table.R:728-807). Lowers to Filter, which Catalyst pushes
    * into the parquet scan.
    */
  def apply(i: Column): DT = {
    // opt-in auto-indexing: the Nth equality filter on an unindexed
    // column registers an index (reference auto-index-on-first-use)
    operators.Scale.autoIndexNote(df, i)
    // secondary-index routing: a filter touching a setIndex'd column
    // prefix runs against the sorted cached copy (batch-stat pruning)
    val routed = operators.Scale.indexedSource(df, i).getOrElse(df)
    DT(routed.filter(i), key)
  }

  /** DT[i, j] — filter + select/compute. */
  def apply(i: Column, j: Seq[Column]): DT =
    DT(df.filter(i).select(j: _*))

  /** DT[i, j, by] — filter + grouped aggregate (the general query,
    * SURVEY.md §3.1). `j` must be aggregate expressions; the GForce
    * analog is simply that these stay builtin Catalyst aggregates
    * (partial aggregation + whole-stage codegen for free).
    */
  def apply(i: Column, j: Seq[Column], by: Seq[Column]): DT =
    DT(df.filter(i).groupBy(by: _*).agg(j.head, j.tail: _*))

  /** DT[, j, by] without a filter. */
  def groupAgg(by: Seq[Column], j: Seq[Column]): DT =
    DT(df.groupBy(by: _*).agg(j.head, j.tail: _*))

  /** keyby= : grouped aggregate + result sorted by the groups and keyed
    * (R/data.table.R:551-573).
    */
  def keyByAgg(by: Seq[String], j: Seq[Column]): DT =
    DT(df.groupBy(by.map(col): _*).agg(j.head, j.tail: _*)
         .orderBy(by.map(col): _*), by)

  /** groupingsets() with computed grouping EXPRESSIONS and totals-row
    * labels (R/groupingsets.R:41-44,91-111): `keys` are (name, expr)
    * pairs — arbitrary expressions, not just plain columns; `sets` pick
    * key subsets by name; `labels` fills a key's output slot in rows
    * where that key is rolled up (the reference's label= argument) in
    * place of the SQL NULL. Lowers to one GROUPING SETS aggregate — the
    * label fix-up is a post-projection on grouping_id bits, so Catalyst
    * still plans a single pass with partial aggregation.
    */
  def groupingSetsAgg(keys: Seq[(String, Column)], sets: Seq[Seq[String]],
                      j: Seq[Column],
                      labels: Map[String, Column] = Map.empty,
                      id: Boolean = false): DT = {
    val keyNames = keys.map(_._1)
    require(sets.forall(_.forall(keyNames.contains)),
      s"sets must reference key names ${keyNames.mkString(",")}")
    require(labels.keySet.subsetOf(keyNames.toSet),
      "labels must reference key names")
    // id=TRUE (R/groupingsets.R:124-161): a leading integer `grouping`
    // column — the PostgreSQL bit mask the reference cites, a set bit
    // per rolled-up by column, leftmost = MSB. That is exactly Spark's
    // grouping_id() convention over the same key order.
    require(!id || !df.columns.contains("grouping"),
      "When using `id=TRUE` the 'x' data.table must not have a column named 'grouping'.")
    // computed keys become real columns FIRST (Catalyst collapses the
    // projection into the scan), then the sets reference plain columns —
    // expression-vs-alias matching inside groupingSets' set lists is
    // analyzer-fragile, plain attribute references are not. Temp names
    // sidestep collisions with existing input columns.
    val tmp = keyNames.map(n => n -> s"_graft_k_$n").toMap
    val withKeys = df.select(col("*") +: keys.map { case (n, c) => c.as(tmp(n)) }: _*)
    val gid = "_graft_gid"
    val grouped0 = withKeys.groupingSets(
        sets.map(_.map(n => col(tmp(n)))),
        keyNames.map(n => col(tmp(n))): _*)
      .agg(j.head, (j.tail :+ grouping_id().as(gid)): _*)
    val n = keys.size
    // ANSI GROUPING SETS semantics for the () set over EMPTY input: a
    // global aggregate returns ONE row (count 0, sums NULL) per () set,
    // but Spark's Expand+hash-agg plan keys on (keys, gid) and emits
    // ZERO rows — found by the round-19 differential fuzzer (fz_21_136/
    // 369/417: rollup/cube over a filtered-to-empty input; DuckDB and
    // the reference's `x[, j]`-on-empty both produce the total row).
    // Repair IN-PLAN (round 20; the round-19 fix probed
    // `withKeys.isEmpty` eagerly, running a Spark job at DSL-BUILD time
    // — correct but laziness-breaking: the plan shape was baked to the
    // data as of construction, and a source that changed between build
    // and execution produced a duplicate or missing () row; VERDICT
    // r19 "What's wrong" #1 / ADVICE r19): the fabricated global row is
    // computed by the same aggregates over a LIMIT-0 relation (Catalyst
    // folds `LIMIT 0` to an empty LocalRelation, so the agg is a
    // constant row — the input is NEVER scanned for it), then guarded
    // by a left-anti join against `input LIMIT 1` on a TRUE condition:
    // the row survives exactly when the input is empty AT EXECUTION
    // time. The probe side is ≤ 1 row (broadcast nested-loop, build
    // right) and its scan short-circuits at the first surviving row.
    val nEmptySets = sets.count(_.isEmpty)
    val grouped =
      if (nEmptySets == 0) grouped0
      else {
        // same aggs over a statically-empty input = the exact row the
        // () set must emit when the real input turns out empty
        val totals0 = withKeys.limit(0).groupBy().agg(j.head,
          (j.tail :+ lit((1L << n) - 1).cast(
            grouped0.schema(gid).dataType).as(gid)): _*)
        val totals = keyNames.foldLeft(totals0)((d, kn) =>
          d.withColumn(tmp(kn),
            lit(null).cast(withKeys.schema(tmp(kn)).dataType)))
          .select(grouped0.columns.map(col).toSeq: _*)
        val probe = withKeys.select(lit(1).as("_graft_probe")).limit(1)
        val guarded = totals.join(probe, lit(true), "left_anti")
        (0 until nEmptySets).map(_ => guarded)
          .foldLeft(grouped0)(_ unionByName _)
      }
    val out = grouped.columns.filterNot(_ == gid).toSeq.map { cn =>
      val i = keyNames.indexWhere(kn => tmp(kn) == cn)
      if (i < 0) col(cn)
      else {
        val name = keyNames(i)
        val base = labels.get(name) match {
          // a set bit in grouping_id means this key is rolled up in the
          // row (leftmost key = most significant bit)
          case Some(l) =>
            when(col(gid).bitwiseAND(lit(1L << (n - 1 - i))) =!= 0, l)
              .otherwise(col(cn))
          case None => col(cn)
        }
        base.as(name)
      }
    }
    if (id) {
      require(!grouped.columns.contains("grouping"),
        "When using `id=TRUE` the 'j' expression must not evaluate to a column named 'grouping'.")
      DT(grouped.select(col(gid).cast("int").as("grouping") +: out: _*))
    } else DT(grouped.select(out: _*))
  }

  /** rollup(x, j, by, id=, label=) (R/groupingsets.R:1-17): the
    * reference spelling generates the prefix sets by[1..n], by[1..n−1],
    * …, () and redirects into groupingsets — same here, so id= and
    * label= ride [[groupingSetsAgg]]'s one-pass GROUPING SETS plan.
    */
  def rollupAgg(keys: Seq[(String, Column)], j: Seq[Column],
                labels: Map[String, Column] = Map.empty,
                id: Boolean = false): DT = {
    val names = keys.map(_._1)
    val sets = (names.size to 0 by -1).map(i => names.take(i))
    groupingSetsAgg(keys, sets, j, labels, id)
  }

  /** cube(x, j, by, id=, label=) (R/groupingsets.R:19-39): the power
    * set of the by columns in the reference's enumeration order
    * (keepBool bit pattern, full set first, () last), redirected into
    * [[groupingSetsAgg]] like the reference redirects into
    * groupingsets.data.table.
    */
  def cubeAgg(keys: Seq[(String, Column)], j: Seq[Column],
              labels: Map[String, Column] = Map.empty,
              id: Boolean = false): DT = {
    val names = keys.map(_._1)
    val n = names.size
    val sets = ((1 << n) to 1 by -1).map { r =>
      names.zipWithIndex.collect {
        case (nm, i) if (((r - 1) >> (n - 1 - i)) & 1) == 1 => nm
      }
    }
    groupingSetsAgg(keys, sets, j, labels, id)
  }

  // ---- j: projection / compute ---------------------------------------
  /** DT[, j] — select / compute columns (`with=FALSE`, character j,
    * .SDcols all lower to column pruning).
    */
  def select(j: Column*): DT = DT(df.select(j: _*))
  def selectNames(names: String*): DT = DT(df.select(names.map(col): _*), key)

  /** lapply(.SD, f) (R/data.table.R:163-189): apply one aggregate
    * builder over every .SDcols column, grouped — the reference's
    * unrolling rewrite done at plan-build time.
    */
  def sdApply(by: Seq[Column], sdCols: Seq[String], f: Column => Column,
              prefix: String = ""): DT = {
    val aggs = sdCols.map(c => f(col(c)).as(s"$prefix$c"))
    DT(df.groupBy(by: _*).agg(aggs.head, aggs.tail: _*))
  }

  /** .SDcols analog: restrict visible columns by predicate on name/type. */
  def sdCols(p: String => Boolean): DT =
    DT(df.select(df.columns.filter(p).map(col).toSeq: _*))

  // ---- := family (reference semantics re-expressed immutably) ---------
  /** `DT[, (name) := expr]` — add/replace a column (src/assign.c analog). */
  def set(name: String, value: Column): DT = DT(df.withColumn(name, value), key)

  /** Multi-assign `:=`(a=..., b=...). */
  def set(assignments: (String, Column)*): DT =
    DT(df.withColumns(assignments.toMap), key)

  /** `DT[, let(...)]` (NEWS 1.15 #3795): alias of the functional
    * multi-assign `:=` form, word for word.
    */
  def let(assignments: (String, Column)*): DT = set(assignments: _*)

  /** setnafill(x, type, fill, cols) (src/nafill.c setnafillR): fill NAs
    * in the SELECTED columns in one pass — type "const" (per-column
    * fill value, recycled if one is given), or ordered "locf"/"nocb"
    * over `order` within `by` (all columns share the one window sort).
    * `nanIsNa` defaults true = the reference's `nan=NA`: NaN counts as
    * missing. Returns a new DT (immutable-plan break, like every
    * `set*`).
    */
  def setnafill(cols: Seq[String], typ: String = "const",
                fill: Seq[Column] = Seq(lit(0)),
                order: Seq[Column] = Nil, by: Seq[String] = Nil,
                allowGlobal: Boolean = false,
                nanIsNa: Boolean = true): DT = {
    require(cols.nonEmpty, "setnafill needs at least one column")
    val fills =
      if (fill.size == 1) Seq.fill(cols.size)(fill.head)
      else { require(fill.size == cols.size,
        s"setnafill: ${fill.size} fill values for ${cols.size} columns"); fill }
    val assigns: Seq[(String, Column)] = typ match {
      // fill coerces to the COLUMN's type (nafill.Rraw 1.03-1.04:
      // fill=5 on an integer column keeps the column integer — the
      // reference coerceAs's the fill, it never promotes the data).
      // Spark cast, not R coercion, decides un-representable edges:
      // the reference turns fill=Inf on an integer column into NA with
      // a "precision lost" warning; a non-ANSI Spark cast saturates.
      case "const" => cols.zip(fills).map { case (c, f) =>
        c -> Windows.nafillConst(col(c), f.cast(df.schema(c).dataType), nanIsNa) }
      case "locf" => cols.map(c =>
        c -> Windows.nafillLocf(col(c), by, order, allowGlobal, nanIsNa))
      case "nocb" => cols.map(c =>
        c -> Windows.nafillNocb(col(c), by, order, allowGlobal, nanIsNa))
      case other => throw new IllegalArgumentException(
        s"setnafill: type must be const/locf/nocb, got '$other'")
    }
    DT(df.withColumns(assigns.toMap), key)
  }

  /** `DT[i, name := expr]` — sub-assign: update only rows matching `i`,
    * keep the old value elsewhere (reference keeps unmatched rows
    * untouched, src/assign.c).
    */
  def update(i: Column, name: String, value: Column): DT = {
    val old = if (df.columns.contains(name)) col(name) else lit(null)
    DT(df.withColumn(name, when(i, value).otherwise(old)), key)
  }

  /** `.Last.updated` analog (NAMESPACE:75, src/assign.c): the number of
    * rows the sub-assign touched. The reference writes a session global
    * after `DT[i, :=]`; an immutable plan has no session global, so the
    * counted form RETURNS the figure alongside the result — one extra
    * count job over the predicate, opt-in for callers auditing updates.
    */
  def updateCounted(i: Column, name: String, value: Column): (DT, Long) =
    (update(i, name, value), df.filter(i).count())

  /** [[updateJoin]] + `.Last.updated`: the matched-target-row count
    * rides along (distinct probe keys, so duplicate probes can't
    * inflate the figure past the rows actually touched).
    */
  def updateJoinCounted(i: DT, on: Seq[String],
                        assignments: (String, Column)*): (DT, Long) = {
    val out = updateJoin(i, on, assignments: _*)
    (out, df.join(i.df.select(on.map(col): _*).distinct(), on, "left_semi").count())
  }

  /** `DT[, name := agg, by]` — grouped update: per-group aggregate
    * broadcast back onto every row (R/data.table.R:2147-2154) = a window
    * aggregate over the group partition.
    */
  def setBy(name: String, agg: Column, by: Seq[String]): DT =
    DT(df.withColumn(name, agg.over(Window.partitionBy(by.map(col): _*))), key)

  /** Update join `X[Y, x := i.y]` (R/data.table.R := with join i):
    * for rows of this table matching `i` on `on`, set each target
    * column from the probe-side expression; unmatched rows keep their
    * old values. Lowered to a left join + conditional projection —
    * the immutable form of the reference's by-reference join-update
    * (and the batch analog of MERGE INTO ... WHEN MATCHED UPDATE).
    */
  def updateJoin(i: DT, on: Seq[String],
                 assignments: (String, Column)*): DT =
    updateJoinChecked(i, on, checked = true, assignments: _*)

  /** [[updateJoin]] with the dup-guard knob: `checked=false` skips the
    * pre-flight duplicate scan of the probe side (one full aggregation
    * per call — an extra probe-side pass at 100 TB) for callers that
    * KNOW their keys are unique. Corrupt inputs then multiply target
    * rows silently, exactly like the reference with mult="all".
    */
  def updateJoinChecked(i: DT, on: Seq[String], checked: Boolean,
                        assignments: (String, Column)*): DT = {
    // A probe side with duplicate join keys would MULTIPLY target rows —
    // the one thing a join-update must never do. Cheap pre-flight check
    // (one partial aggregation), same ethos as Joins.cartesianGuard.
    if (checked) graft.operators.Joins.assertNoDup(i.df, on)
    val matched = "_graft_matched"
    val iTagged = i.df.withColumn(matched, lit(true))
    val clashes = iTagged.columns.filter(c => df.columns.contains(c) && !on.contains(c))
    // A clashing probe column would be renamed i_<c>, so an assignment
    // written as col(<c>) would silently bind to the TARGET's column —
    // refuse and point at the name-based variant, which resolves safely.
    require(clashes.isEmpty,
      s"updateJoin: probe columns ${clashes.mkString(",")} clash with target " +
        "columns; use updateJoinFrom(target -> probeColumnName) instead")
    val iRenamed = iTagged
    val joined = df.join(iRenamed, on, "left")
    // ONE projection (optimization r22): the former per-assignment
    // withColumn fold + two drops + final select ran an analyzer pass
    // per step over the joined tree — the visible buildS slice of
    // q_update_join/q_pipeline. Every RHS resolves against the JOINED
    // frame (pre-update values), which is also the reference's := scope
    // (all j expressions evaluate before any assignment lands).
    val assignMap = assignments.toMap
    val outCols =
      df.columns.toSeq.map { c =>
        assignMap.get(c) match {
          case Some(value) => when(col(matched), value).otherwise(col(c)).as(c)
          case None        => col(c)
        }
      } ++ assignments.collect { case (name, value) if !df.columns.contains(name) =>
        when(col(matched), value).otherwise(lit(null)).as(name)
      }
    DT(joined.select(outCols: _*), key)
  }

  /** Update join with NAME-based probe references — the safe form when
    * probe and target share column names: each assignment is
    * (targetColumn, probeColumnName), resolved against the probe side
    * explicitly (`X[Y, w := i.w]`).
    */
  def updateJoinFrom(i: DT, on: Seq[String],
                     mapping: (String, String)*): DT =
    updateJoinFromChecked(i, on, checked = true, mapping: _*)

  /** [[updateJoinFrom]] with the dup-guard knob (see
    * [[updateJoinChecked]]). */
  def updateJoinFromChecked(i: DT, on: Seq[String], checked: Boolean,
                            mapping: (String, String)*): DT = {
    if (checked) graft.operators.Joins.assertNoDup(i.df, on)
    val matched = "_graft_matched"
    val renames = mapping.map { case (tgt, probe) => probe -> s"_graft_i_$probe" }.toMap
    val iPrepped = renames.foldLeft(i.df.withColumn(matched, lit(true))) {
      case (d, (from, to)) => d.withColumnRenamed(from, to)
    }.select((on.map(col) :+ col(matched)) ++ renames.values.map(col).toSeq: _*)
    val joined = df.join(iPrepped, on, "left")
    // one projection — same fusion (and the same reference := scope) as
    // [[updateJoinChecked]]
    val mapByTgt = mapping.toMap
    val outCols =
      df.columns.toSeq.map { c =>
        mapByTgt.get(c) match {
          case Some(probe) =>
            when(col(matched), col(renames(probe))).otherwise(col(c)).as(c)
          case None => col(c)
        }
      } ++ mapping.collect { case (tgt, probe) if !df.columns.contains(tgt) =>
        when(col(matched), col(renames(probe))).otherwise(lit(null)).as(tgt)
      }
    DT(joined.select(outCols: _*), key)
  }

  /** Delete a column (`DT[, col := NULL]`). */
  def remove(names: String*): DT = DT(df.drop(names: _*), key.filterNot(names.contains))

  /** `DT[i, .ROW := NULL]` — row deletion (NEWS #635, the reference's
    * by-reference row delete): drop the rows `i` selects, keep the
    * rest. An NA predicate does not select, so those rows survive
    * (same as `i` subsetting). The reference clears keys/indices after
    * deletion; mirrored by dropping the key. `by`/`keyby` are not
    * supported there either.
    */
  def deleteRows(i: Column): DT =
    DT(df.filter(!coalesce(i, lit(false))))

  /** setnames() — rename by reference in the reference; immutable here.
    * Guards mirror R/data.table.R:2922-2960 (#4888): duplicated `old`
    * names refuse, absent `old` names refuse unless `skipAbsent`
    * (setnames(skip_absent=)), and a rename that would leave the KEY
    * with duplicated column names refuses (plain payload dups are
    * legal in the reference and in Spark alike — ambiguity surfaces
    * at resolution time, not rename time).
    */
  def setNames(renames: (String, String)*): DT = setNamesOpt(renames)

  def setNamesOpt(renames: Seq[(String, String)], skipAbsent: Boolean = false): DT = {
    val olds = renames.map(_._1)
    val dupsOld = olds.diff(olds.distinct).distinct
    require(dupsOld.isEmpty, s"Some duplicates exist in 'old': [${dupsOld.mkString(", ")}]")
    val absent = olds.filterNot(df.columns.contains)
    val eff =
      if (absent.isEmpty) renames
      else if (skipAbsent) renames.filter { case (from, _) => df.columns.contains(from) }
      else throw new IllegalArgumentException(
        s"Items of 'old' not found in column names: [${absent.mkString(", ")}]. Consider skip_absent=TRUE.")
    val m = eff.toMap
    val newKey = key.map(k => m.getOrElse(k, k))
    val newNames = df.columns.map(c => m.getOrElse(c, c))
    val dupKey = newKey.filter(k => newNames.count(_ == k) > 1)
    require(dupKey.isEmpty,
      s"The new names would result in duplicated key columns: [${dupKey.distinct.mkString(", ")}]")
    DT(eff.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }, newKey)
  }

  /** split.data.table(by=) (R/split.R): the table partitioned into a
    * map of sub-tables keyed by the by-columns' stringified value
    * tuples (null → "NA", matching the reference's factor level). The
    * returned frames are filter views — nothing materializes until
    * each is used. Driver-side key list, so the domain must be small
    * (the reference returns an in-memory list of tables too;
    * `maxGroups` guards a mistaken high-cardinality split). The 100 TB
    * form is [[writeSplit]]: a partitioned write, one directory per
    * key, no driver materialization.
    */
  def splitBy(cols: Seq[String], maxGroups: Int = 1000,
              keepBy: Boolean = true,
              sorted: Boolean = false): Map[Seq[String], DT] = {
    // sorted=TRUE orders the DISTINCT-KEYS FRAME itself (type-aware:
    // numerics numerically, like the reference's ordered piece list —
    // a driver-side string sort would put "10" before "2"); NA keys
    // sort last, matching R's order() default
    val keyFrame0 = df.select(cols.map(col): _*).distinct()
    val keyFrame =
      if (sorted) keyFrame0.orderBy(cols.map(c => col(c).asc_nulls_last): _*)
      else keyFrame0
    val keys = keyFrame.limit(maxGroups + 1).collect()
    require(keys.length <= maxGroups,
      s"splitBy: more than $maxGroups distinct key tuples — use writeSplit " +
        "(partitioned write) for high-cardinality splits")
    val entries = keys.map { r =>
      val vals = cols.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse("NA"))
      val cond = cols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
      }.reduce(_ && _)
      val part = df.filter(cond)
      // keep.by=FALSE (R/data.table.R:2684): drop the split columns
      // from each piece, like the reference
      vals -> DT(if (keepBy) part else part.drop(cols: _*))
    }
    // the type-aware collect order above is preserved by ListMap
    // iteration order
    if (sorted)
      scala.collection.immutable.ListMap(entries.toSeq: _*)
    else entries.toMap
  }

  /** split.data.table's cluster form: write one parquet directory per
    * key tuple (`path/c1=v1/...`). Readers get partition pruning for
    * free — the scalable analog of a list of sub-tables.
    */
  def writeSplit(path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** setcolorder(); `skipAbsent` (NEWS #6044) ignores names not in
    * the table instead of erroring at analysis.
    */
  def setColOrder(first: String*): DT = setColOrderOpt(first)

  def setColOrderOpt(first: Seq[String], skipAbsent: Boolean = false): DT = {
    val eff = if (skipAbsent) first.filter(df.columns.contains) else first
    val rest = df.columns.filterNot(eff.contains)
    DT(df.select((eff ++ rest).map(col): _*), key)
  }

  /** setcolorder(neworder, before=/after=) (R/setcolorder.R): move the
    * named columns to sit immediately before/after an anchor column,
    * preserving their own relative order.
    */
  def setColOrderAt(cols: Seq[String], before: Option[String] = None,
                    after: Option[String] = None): DT = {
    require(before.isDefined != after.isDefined,
      "setColOrderAt: give exactly one of before= / after=")
    val anchor = before.orElse(after).get
    require(df.columns.contains(anchor), s"setColOrderAt: no column '$anchor'")
    require(!cols.contains(anchor), "setColOrderAt: anchor cannot be moved")
    val rest = df.columns.filterNot(cols.contains).toSeq
    val i = rest.indexOf(anchor) + (if (after.isDefined) 1 else 0)
    val (pre, post) = rest.splitAt(i)
    DT(df.select((pre ++ cols ++ post).map(col): _*), key)
  }

  // ---- key (physical ordering / co-location) ---------------------------
  /** setkey() analog: range-partition by the key then sort within
    * partitions — the distributed equivalent of the reference's physical
    * sort + `sorted` attribute. Joins/groupings on the same key then
    * avoid re-shuffling when the plan is reused (persist() to pin it).
    */
  def keyBy(cols: String*): DT = {
    // setkey guards (R/setkey.R:45-49, #4888/#4891): missing columns,
    // duplicated asks, and keying on a column name the frame holds
    // twice (legal in Spark after a raw join, but a keyed join on it
    // would silently bind one of the two) all refuse eagerly.
    val miss = cols.filterNot(df.columns.contains)
    require(miss.isEmpty,
      s"some columns are not in the data.table: [${miss.mkString(", ")}]")
    val dupAsk = cols.diff(cols.distinct).distinct
    require(dupAsk.isEmpty,
      s"cols contains duplicate column names: [${dupAsk.mkString(", ")}]")
    val dupInX = cols.filter(c => df.columns.count(_ == c) > 1)
    require(dupInX.isEmpty,
      s"x has duplicated column names in the columns to key by: [${dupInX.mkString(", ")}]")
    DT(df.repartitionByRange(cols.map(col): _*)
         .sortWithinPartitions(cols.map(col): _*), cols)
  }

  /** setindex() (R/setkey.R:11-19): register a persisted sorted copy of
    * this table keyed by `cols`; later `DT(predicate)` subsets touching
    * the index's leading column route to it and prune cached batches by
    * min/max stats. The original table order is untouched (unlike
    * setkey), matching the reference's secondary-index semantics.
    */
  def setIndex(cols: String*): DT = {
    operators.Scale.setIndex(df, cols.toSeq)
    this
  }

  // ---- joins (§2.3) ----------------------------------------------------
  /** Equi join. DEFAULT `nullSafe=true` matches the reference's
    * NA-joins-NA semantics (src/bmerge.c:10-12: NA/NaN are ordinary
    * joinable key values) via `<=>` — the one place SQL semantics would
    * silently return different rows from the same data.table query.
    * `nullSafe=false` opts into SQL's null-never-matches. No plan cost:
    * Catalyst's ExtractEquiJoinKeys accepts EqualNullSafe as a hash-join
    * key, so both defaults plan the same shuffled/broadcast hash join.
    * `strict=true` applies the reference's bmerge coercion matrix
    * (R/bmerge.R:93-160): errors on cross-class key types (string vs
    * numeric, boolean vs anything) instead of Catalyst's silent cast;
    * integer↔double stays allowed, as the reference coerces those.
    */
  def join(i: DT, on: Seq[String], how: String = "inner",
           nullSafe: Boolean = true, strict: Boolean = false,
           rounding: Int = 0): DT = {
    if (strict) graft.functions.StrictTypes.checkJoinTypes(df, i.df, on)
    // setNumericRounding as a join knob (man/setNumericRounding.Rd;
    // the reference rounds inside bmerge's comparison, src/bmerge.c:12):
    // round the last `rounding` bytes off every DOUBLE key's significand
    // on BOTH sides, so keys differing only below the threshold compare
    // equal. The output key columns carry the rounded representative
    // (one visible value per equivalence class) — keep an unrounded
    // copy as a non-key column if the raw value matters downstream.
    val (x, y) =
      if (rounding == 0) (df, i.df)
      else (roundDoubleKeys(df, on, rounding), roundDoubleKeys(i.df, on, rounding))
    if (!nullSafe) DT(Joins.equi(x, y, on, how))
    else {
      val clashes = y.columns.filter(c => x.columns.contains(c) && !on.contains(c))
      val renamed = clashes.foldLeft(y)((d, c) => d.withColumnRenamed(c, s"i_$c"))
      // Alias both sides and resolve through the alias qualifier:
      // attribute-ref conditions (x(c) <=> renamed(c)) break on
      // SELF-joins — both sides of x[x-derived] share attribute ids and
      // Catalyst's DetectAmbiguousSelfJoin refuses the plan.
      val xa = x.alias("_graft_x")
      val ia = renamed.alias("_graft_i")
      def xc(c: String) = col(s"_graft_x.`$c`")
      def ic(c: String) = col(s"_graft_i.`$c`")
      val cond = on.map(c => xc(c) <=> ic(c)).reduce(_ && _)
      val joined = xa.join(ia, cond, how)
      how match {
        case "left_semi" | "leftsemi" | "semi" | "left_anti" | "leftanti" | "anti" =>
          DT(joined) // only x's columns survive a semi/anti join
        case _ =>
          // Collapse the duplicated join columns like a USING join. On
          // the outer sides the key must come from whichever side
          // matched: x's key is null for unmatched probe rows of a
          // right/full join, so a bare drop of i's key would null out
          // their keys (and an NA key that genuinely matched — both
          // sides null — stays null under coalesce, correctly).
          val keyFromBoth = Set("right", "rightouter", "right_outer",
            "full", "fullouter", "full_outer", "outer")
          val keyCols = on.map { c =>
            (if (keyFromBoth(how)) coalesce(xc(c), ic(c)) else xc(c)).as(c)
          }
          val xRest = x.columns.filterNot(on.contains).map(c => xc(c))
          val iRest = renamed.columns.filterNot(on.contains).map(c => ic(c))
          DT(joined.select(keyCols ++ xRest ++ iRest: _*))
      }
    }
  }

  private def roundDoubleKeys(d: DataFrame, on: Seq[String], bytes: Int): DataFrame =
    on.filter(c => d.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
      .foldLeft(d)((acc, c) =>
        acc.withColumn(c, graft.plans.RoundMantissa(col(c), bytes)))

  def joinExpr(i: DT, cond: Column, how: String = "inner"): DT =
    DT(df.join(i.df, cond, how))

  /** merge.data.table (R/merge.R:1-2): the data.frame-compatible merge
    * surface on top of [[join]] —
    *  - `by` defaults to key(x) ∩ names(y), else the shared columns;
    *  - `byX`/`byY` join differently-named keys (output keeps x's
    *    names, like the reference);
    *  - `allX`/`allY` pick inner/left/right/full exactly as merge does;
    *  - clashing NON-key columns get the `suffixes` on BOTH sides
    *    (".x"/".y" defaults) instead of [[join]]'s i_ prefix;
    *  - `sort=TRUE` orders the result by the key columns (merge's
    *    default; reference sorts by the by columns).
    */
  def merge(y: DT, by: Seq[String] = Nil,
            byX: Seq[String] = Nil, byY: Seq[String] = Nil,
            allX: Boolean = false, allY: Boolean = false,
            sort: Boolean = true,
            suffixes: (String, String) = (".x", ".y"),
            nullSafe: Boolean = true): DT = {
    require(byX.size == byY.size, "`by.x` and `by.y` must be of same length.")
    require(by.isEmpty || byX.isEmpty,
      "supply either `by` or `by.x`/`by.y`, not both")
    val (kx, ky): (Seq[String], Seq[String]) =
      if (byX.nonEmpty) {
        val missX = byX.filterNot(df.columns.contains)
        val missY = byY.filterNot(y.df.columns.contains)
        require(missX.isEmpty,
          s"The following columns listed in `by.x` are missing from x: ${missX.mkString(",")}")
        require(missY.isEmpty,
          s"The following columns listed in `by.y` are missing from y: ${missY.mkString(",")}")
        (byX, byY)
      } else {
        val k =
          if (by.nonEmpty) by
          else {
            val viaKey = key.filter(y.df.columns.contains)
            if (viaKey.nonEmpty) viaKey
            else df.columns.intersect(y.df.columns).toSeq
          }
        require(k.nonEmpty,
          "A non-empty vector of column names for `by` is required.")
        (k, k)
      }
    val how = (allX, allY) match {
      case (false, false) => "inner"
      case (true, false)  => "left"
      case (false, true)  => "right"
      case (true, true)   => "full"
    }
    // align y's key names to x's, then suffix the remaining clashes on
    // BOTH sides (merge's no.dups behavior). A y PAYLOAD column already
    // named like an x key would silently duplicate after the rename
    // (ambiguous-reference analysis error); the reference suffixes it
    // to `<col>.y`, so do that FIRST.
    val preClash = kx.zip(ky).collect {
      case (xk, yk0) if xk != yk0 &&
        y.df.columns.contains(xk) && !ky.contains(xk) => xk
    }
    val yPre = preClash.foldLeft(y.df)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._2))
    val yAligned = kx.zip(ky).foldLeft(yPre) { case (d, (xk, yk0)) =>
      if (xk == yk0) d else d.withColumnRenamed(yk0, xk)
    }
    val clashes = yAligned.columns
      .filter(c => df.columns.contains(c) && !kx.contains(c))
    val xSide = clashes.foldLeft(df)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._1))
    val ySide = clashes.foldLeft(yAligned)((d, c) =>
      d.withColumnRenamed(c, c + suffixes._2))
    val joined = DT(xSide).join(DT(ySide), kx, how, nullSafe = nullSafe)
    if (sort) DT(joined.df.orderBy(kx.map(col): _*), kx) else joined
  }

  /** not-join DT[!i] (R/data.table.R:764-772). */
  def notJoin(i: DT, on: Seq[String]): DT = DT(df.join(i.df, on, "left_anti"))
  def semiJoin(i: DT, on: Seq[String]): DT = DT(df.join(i.df, on, "left_semi"))

  /** mult="first"|"last" (src/bmerge.c:32): keep one matching x row per
    * probe row, ordered by `order` within the match group.
    */
  def joinMult(i: DT, on: Seq[String], mult: String, order: Seq[Column],
               probeUnique: Boolean = false): DT =
    DT(Joins.mult(df, i.df, on, mult, order, probeUnique))

  /** joinMult via one min_by/max_by hash aggregation (no window sort) —
    * same semantics when `order` totally orders each key group.
    */
  def joinMultAgg(i: DT, on: Seq[String], mult: String, order: Seq[Column]): DT =
    DT(Joins.multAgg(df, i.df, on, mult, order))

  /** Rolling / as-of join (roll=, src/bmerge.c:13-17). */
  def asofJoin(i: DT, by: Seq[String], on: String,
               roll: Joins.Roll = Joins.Locf, valueCols: Seq[String] = Nil,
               tieBreak: Seq[String] = Nil): DT =
    DT(Joins.asof(df, i.df, by, on, roll, valueCols, tieBreak = tieBreak))

  /** Skew-safe as-of join tier (power-law `by` keys): identical results
    * for every roll, time-bucketed so no task sorts a whole hot key —
    * see [[Joins.asofSalted]].
    */
  def asofJoinSalted(i: DT, by: Seq[String], on: String, bucketWidth: Double,
                     roll: Joins.Roll = Joins.Locf,
                     valueCols: Seq[String] = Nil): DT =
    DT(Joins.asofSalted(df, i.df, by, on, roll, bucketWidth, valueCols))

  /** foverlaps() (R/foverlaps.R) — interval overlap join. */
  def overlapJoin(y: DT, by: Seq[String], xStart: String, xEnd: String,
                  yStart: String, yEnd: String, typ: String = "any"): DT =
    DT(Joins.overlap(df, y.df, by, xStart, xEnd, yStart, yEnd, typ))

  /** foverlaps(mult=first|last|all). */
  def overlapJoinMult(y: DT, by: Seq[String], xStart: String, xEnd: String,
                      yStart: String, yEnd: String, typ: String = "any",
                      mult: String = "all"): DT =
    DT(Joins.overlapMult(df, y.df, by, xStart, xEnd, yStart, yEnd, typ, mult))

  /** foverlaps(which=TRUE): matching id pairs only. */
  def overlapJoinWhich(y: DT, by: Seq[String], xStart: String, xEnd: String,
                       yStart: String, yEnd: String, xIdCol: String,
                       yIdCol: String, typ: String = "any"): DT =
    DT(Joins.overlapWhich(df, y.df, by, xStart, xEnd, yStart, yEnd,
      xIdCol, yIdCol, typ))

  def crossJoin(y: DT): DT = DT(df.crossJoin(y.df))

  // ---- distinct (§2.4) -------------------------------------------------
  def distinct(): DT = DT(df.distinct())
  def unique(cols: String*): DT =
    if (cols.isEmpty) DT(df.distinct()) else DT(df.dropDuplicates(cols.toSeq))

  /** unique(fromLast=) with DETERMINISTIC survivor choice (the plain
    * dropDuplicates keeps an arbitrary row): keeps the first (or last)
    * occurrence per `cols` group along `order`.
    */
  def uniqueBy(cols: Seq[String], order: Seq[Column],
               fromLast: Boolean = false): DT = {
    val ord = if (fromLast) order.map(Windows.flipOrder) else order
    DT(Windows.topK(df, cols, ord, 1), key)
  }

  /** duplicated() (R/duplicated.R:26): flag every row after the first
    * occurrence of its `cols` values, "first" defined by `order`.
    * anyDuplicated = does such a row exist.
    */
  def duplicated(cols: Seq[String], order: Seq[Column], flag: String = "dup"): DT =
    DT(Windows.rowid(df, cols, order, "_graft_occ")
      .withColumn(flag, col("_graft_occ") > 1)
      .drop("_graft_occ"), key)

  def anyDuplicated(cols: String*): Boolean = {
    // no args = all columns (reference default); groupBy() with zero
    // columns would collapse everything into one global group.
    val keys = if (cols.nonEmpty) cols.toSeq else df.columns.toSeq
    df.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).count() > 0
  }

  def uniqueN(cols: String*): Long =
    (if (cols.isEmpty) df.distinct() else df.dropDuplicates(cols.toSeq)).count()

  /** uniqueN, approximate tier (HyperLogLog++, relative error ≤ `rsd`):
    * one sketch-sized aggregate instead of a full distinct shuffle —
    * the cardinality-estimate path for 100 TB (see Funcs.uniqueNAgg).
    */
  def uniqueNApprox(rsd: Double, cols: String*): Long = {
    val keys = if (cols.nonEmpty) cols.toSeq else df.columns.toSeq
    df.agg(approx_count_distinct(struct(keys.map(col): _*), rsd)).head().getLong(0)
  }

  // ---- set ops (§2.7) --------------------------------------------------
  def funion(y: DT, all: Boolean = false): DT = DT(SetOps.funion(df, y.df, all))
  def fintersect(y: DT, all: Boolean = false): DT = DT(SetOps.fintersect(df, y.df, all))
  def fsetdiff(y: DT, all: Boolean = false): DT = DT(SetOps.fsetdiff(df, y.df, all))
  def fsetequal(y: DT): Boolean = SetOps.fsetequal(df, y.df)

  // ---- reshape (§2.8) --------------------------------------------------
  def melt(idVars: Seq[String], measureVars: Seq[String],
           variableName: String = "variable", valueName: String = "value"): DT =
    DT(Reshape.melt(df, idVars, measureVars, variableName, valueName))

  def dcast(lhs: Seq[String], rhs: String, valueVar: String,
            aggFn: Column => Column = first(_, ignoreNulls = true),
            values: Seq[String] = Nil, fill: Option[Column] = None): DT =
    DT(Reshape.dcast(df, lhs, rhs, valueVar, aggFn, values, fill))

  // ---- sort / limit (§2.6) ---------------------------------------------
  def setorder(cols: Column*): DT = DT(df.orderBy(cols: _*), key)

  /** setorder with the reference's NA placement (src/forder.c:53
    * nalast: 0 = first, the DEFAULT, in BOTH sort directions): Spark
    * ties the null position to the direction (asc → first, desc →
    * last), so a bare `desc` silently moves NA to the end where forder
    * keeps it at the front. `cols` are (name, ascending) pairs;
    * `naLast=true` mirrors na.last=TRUE (NA last in both directions).
    */
  def setorderNa(cols: Seq[(String, Boolean)], naLast: Boolean = false): DT = {
    val ord = cols.map { case (c, asc) => (asc, naLast) match {
      case (true, false)  => col(c).asc_nulls_first
      case (true, true)   => col(c).asc_nulls_last
      case (false, false) => col(c).desc_nulls_first
      case (false, true)  => col(c).desc_nulls_last
    }}
    DT(df.orderBy(ord: _*), key)
  }
  def head(n: Int): DT = DT(df.limit(n))

  /** R head/tail semantics incl. NEGATIVE n (head(DT, -k) = all but the
    * LAST k rows; tail(DT, -k) = all but the FIRST k). DataFrames have
    * no row order, so both take the explicit order the reference gets
    * implicitly — the row-number-subset doctrine (§2.2 documented
    * diff). Positive tail / negative head need the total row count (one
    * slim count job); negative tail is a pure offset, no action.
    */
  def headOrdered(n: Int, order: Seq[Column]): DT = {
    require(order.nonEmpty, "headOrdered needs an explicit order")
    if (n >= 0) DT(df.orderBy(order: _*).limit(n), key)
    else {
      val keep = df.count() + n
      // limit() takes an Int: beyond Int.MaxValue the cast would silently
      // overflow negative. Fail loudly — "all but the last k" of a
      // >2^31-row frame needs the row_number formulation, not a limit.
      require(keep <= Int.MaxValue,
        s"headOrdered(n=$n) would keep $keep rows — beyond limit()'s Int " +
          "range; use a row_number filter for frames this large")
      if (keep <= 0) DT(df.limit(0), key)
      else DT(df.orderBy(order: _*).limit(keep.toInt), key)
    }
  }

  /** See [[headOrdered]]. */
  def tailOrdered(n: Int, order: Seq[Column]): DT = {
    require(order.nonEmpty, "tailOrdered needs an explicit order")
    if (n >= 0) {
      val skip = (df.count() - n).max(0L)
      require(skip <= Int.MaxValue,
        s"tailOrdered(n=$n) would skip $skip rows — beyond offset()'s Int " +
          "range; use a row_number filter for frames this large")
      DT(df.orderBy(order: _*).offset(skip.toInt), key)
    } else DT(df.orderBy(order: _*).offset(-n), key)
  }

  /** top-k per group: `DT[order(o), head(.SD, k), by]` idiom. */
  def topK(by: Seq[String], order: Seq[Column], k: Int,
           allowGlobal: Boolean = false): DT =
    DT(Windows.topK(df, by, order, k, allowGlobal))

  /** tail-k per group: `DT[order(o), tail(.SD, k), by]` (gtail,
    * src/gsumm.c:1004-1018). */
  def tailK(by: Seq[String], order: Seq[Column], k: Int,
            allowGlobal: Boolean = false): DT =
    DT(Windows.tailK(df, by, order, k, allowGlobal))

  // ---- dogroups analog: arbitrary j per group (SURVEY.md §2.11) --------
  /** The reference's `dogroups` superpower (src/dogroups.c): evaluate an
    * arbitrary closure once per group over the group's rows (.SD), with
    * the group key (.BY) bound; the closure may return 0..N rows (UDTF).
    *
    * This is the deliberate escape hatch OUT of Catalyst
    * (`groupByKey.flatMapGroups`); every j that CAN stay in expression
    * land should use [[apply]]/[[groupAgg]] instead — that decision is
    * our GForce (SURVEY.md §4.1).
    */
  def groups[K: org.apache.spark.sql.Encoder, OUT: org.apache.spark.sql.Encoder](
      keyFn: org.apache.spark.sql.Row => K)(
      f: (K, Iterator[org.apache.spark.sql.Row]) => IterableOnce[OUT]): org.apache.spark.sql.Dataset[OUT] =
    df.groupByKey(keyFn).flatMapGroups((k, it) => f(k, it).iterator)

  /** cogroup (the `.iSD`/`.xSD` analog, src/dogroups.c:120-190): an
    * arbitrary closure over BOTH sides' rows of each key — the general
    * form of by=.EACHI when the computation can't be expressed as
    * join+agg.
    */
  def cogroup[K: org.apache.spark.sql.Encoder, OUT: org.apache.spark.sql.Encoder](
      other: DT)(xKey: org.apache.spark.sql.Row => K, iKey: org.apache.spark.sql.Row => K)(
      f: (K, Iterator[org.apache.spark.sql.Row], Iterator[org.apache.spark.sql.Row]) => IterableOnce[OUT])
      : org.apache.spark.sql.Dataset[OUT] =
    df.groupByKey(xKey).cogroup(other.df.groupByKey(iKey))(
      (k, xs, is) => f(k, xs, is).iterator)

  // ---- misc ------------------------------------------------------------
  def N: Long = df.count()
  def nrow: Long = df.count()
  def ncol: Int = df.columns.length
  def names: Seq[String] = df.columns.toSeq

  /** na.omit (R/data.table.R:2630) */
  def naOmit(cols: String*): DT =
    if (cols.isEmpty) DT(df.na.drop(), key) else DT(df.na.drop(cols.toSeq), key)

  def show(n: Int = 10): Unit = df.show(n, truncate = false)

  /** Reference-style truncated print (R/print.data.table.R): first and
    * last `n` rows by an explicit order, separated by `---`. Collects
    * only 2n rows.
    */
  def printTopBottom(order: Seq[Column], n: Int = 5, maxCols: Int = 0): String = {
    // Wide tables elide middle columns with a "..." marker (reference
    // wide-print truncation); first/last halves stay visible.
    val allCols = df.columns.toSeq
    val elide = maxCols > 0 && allCols.length > maxCols
    val (shown, splitAt) =
      if (elide) {
        val headN = (maxCols + 1) / 2
        (allCols.take(headN) ++ allCols.takeRight(maxCols - headN), headN)
      } else (allCols, -1)
    val d = if (elide) df.select(shown.map(col): _*) else df
    def withMarker(cells: Seq[String]): Seq[String] =
      if (elide) (cells.take(splitAt) :+ "...") ++ cells.drop(splitAt) else cells
    val fmt = (r: org.apache.spark.sql.Row) =>
      withMarker(shown.indices.map(i => String.valueOf(r.get(i)))).mkString("\t")
    val header = withMarker(shown).mkString("\t")
    // Small tables print every row ONCE, no separator (reference print).
    val head2n = d.orderBy(order: _*).limit(2 * n + 1).collect()
    if (head2n.length <= 2 * n)
      (header +: head2n.map(fmt).toSeq).mkString("\n")
    else {
      val top = head2n.take(n)
      val bottom = d.orderBy(order.map(Windows.flipOrder): _*)
        .limit(n).collect().reverse
      (Seq(header) ++ top.map(fmt) ++ Seq("---") ++ bottom.map(fmt)).mkString("\n")
    }
  }
}

object DT {
  def apply(spark: SparkSession, sfDir: String, table: String): DT =
    DT(Tables.load(spark, sfDir, table))

  // ---- tables() registry (R/tables.R) ---------------------------------
  // The reference's tables() scans the R environment for data.tables;
  // the session analog is an explicit name → DT registry (also mirrored
  // as temp views so spark.sql sees the same names). Keyed by session
  // identity: temp views are per-session,
  // so tables(spark) must list exactly the DTs whose views that session
  // can actually query.
  private val tableRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DT]

  /** Register a DT under a session name (and as a temp view). */
  def register(name: String, dt: DT): DT = {
    dt.df.createOrReplaceTempView(name)
    tableRegistry.put((System.identityHashCode(dt.spark), name), dt)
    dt
  }

  def unregister(spark: SparkSession, name: String): Unit = {
    tableRegistry.remove((System.identityHashCode(spark), name))
      .foreach(dt => dt.spark.catalog.dropTempView(name))
  }

  /** tables() (R/tables.R:1): one row per registered table with NAME /
    * NROW / NCOL / COLS / KEY / INDICES metadata. `counts=false`
    * (default) leaves NROW null — a count() per table is a full scan at
    * 100 TB, so paying it is explicit, like the reference's
    * `mb=FALSE` size opt-out.
    */
  def tables(spark: SparkSession, counts: Boolean = false): DataFrame = {
    val sid = System.identityHashCode(spark)
    val rows = tableRegistry.toSeq.collect { case ((s, name), dt) if s == sid => (name, dt) }
      .sortBy(_._1).map { case (name, dt) =>
      org.apache.spark.sql.Row(
        name,
        if (counts) dt.df.count() else null,
        dt.df.columns.length,
        dt.df.columns.mkString(","),
        if (dt.key.nonEmpty) dt.key.mkString(",") else null,
        {
          val idx = operators.Scale.indexesOf(dt.df)
          if (idx.nonEmpty) idx.map(_.mkString(",")).mkString(";") else null
        })
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("name", StringType), StructField("nrow", LongType),
        StructField("ncol", IntegerType), StructField("cols", StringType),
        StructField("key", StringType), StructField("indices", StringType))))
  }

  /** SJ(...) (NAMESPACE:8, tests.Rraw:279): sorted-and-keyed join table
    * from literal rows — fromRows + keyBy on every column.
    */
  def SJ(spark: SparkSession, cols: Seq[String], rows: Seq[Seq[Any]]): DT =
    fromRows(spark, cols, rows).keyBy(cols: _*)

  /** CJ with the full option surface (src/cj.c; R/setops.R CJ):
    * `sorted=FALSE` keeps input order, `unique=TRUE` dedupes each input
    * vector before crossing.
    */
  def CJopt(spark: SparkSession, sorted: Boolean, unique: Boolean)
           (vectors: (String, Seq[Any])*): DT = {
    // R/setkey.R:319 (#4888): a keyed result cannot carry duplicated
    // column names. sorted=FALSE is unkeyed, so dups pass there too.
    val dupNames = vectors.map(_._1).diff(vectors.map(_._1).distinct).distinct
    require(!sorted || dupNames.isEmpty,
      s"CJ() cannot create a keyed data.table with duplicated column names: [${dupNames.mkString(", ")}]")
    val vecs = if (unique) vectors.map { case (n, vs) => (n, vs.distinct) } else vectors
    val crossed = cjBuild(spark, vecs)
    if (sorted)
      DT(crossed.orderBy(vecs.map(v => org.apache.spark.sql.functions.col(v._1)): _*),
        vecs.map(_._1))
    else DT(crossed)   // input order, unkeyed (matches sorted=FALSE)
  }

  /** CJ(...) (src/cj.c): sorted cartesian product of literal vectors —
    * the join-table constructor. Lowered to crossJoin of literal
    * DataFrames + orderBy (tiny inputs by construction).
    */
  def CJ(spark: SparkSession, vectors: (String, Seq[Any])*): DT = {
    val dupNames = vectors.map(_._1).diff(vectors.map(_._1).distinct).distinct
    require(dupNames.isEmpty,
      s"CJ() cannot create a keyed data.table with duplicated column names: [${dupNames.mkString(", ")}]")
    DT(cjBuild(spark, vectors)
        .orderBy(vectors.map(v => org.apache.spark.sql.functions.col(v._1)): _*),
      vectors.map(_._1))
  }

  private def cjBuild(spark: SparkSession, vectors: Seq[(String, Seq[Any])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dfs = vectors.map { case (name, vals) =>
      val rows = vals.map(v => org.apache.spark.sql.Row(v)).asJava
      val dt = vals.head match {
        case _: Int => org.apache.spark.sql.types.IntegerType
        case _: Long => org.apache.spark.sql.types.LongType
        case _: Double => org.apache.spark.sql.types.DoubleType
        case _ => org.apache.spark.sql.types.StringType
      }
      spark.createDataFrame(rows,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(name, dt))))
    }
    dfs.reduce(_.crossJoin(_))
  }

  /** rowwiseDT / literal constructor analog. Column types are inferred
    * from the first NON-NULL value per column (a null first row would
    * otherwise mistype the column).
    */
  def fromRows(spark: SparkSession, cols: Seq[String], rows: Seq[Seq[Any]]): DT = {
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(cols.zipWithIndex.map {
      case (c, idx) =>
        org.apache.spark.sql.types.StructField(c,
          rows.iterator.map(r => Option(r(idx))).collectFirst { case Some(v) => v } match {
            case Some(_: Int)     => org.apache.spark.sql.types.IntegerType
            case Some(_: Long)    => org.apache.spark.sql.types.LongType
            case Some(_: Double)  => org.apache.spark.sql.types.DoubleType
            case Some(_: Float)   => org.apache.spark.sql.types.FloatType
            case Some(_: Boolean) => org.apache.spark.sql.types.BooleanType
            case Some(_: String)  => org.apache.spark.sql.types.StringType
            case Some(_: java.sql.Timestamp) => org.apache.spark.sql.types.TimestampType
            case Some(_: java.sql.Date)      => org.apache.spark.sql.types.DateType
            case Some(_: java.math.BigDecimal) =>
              org.apache.spark.sql.types.DataTypes.createDecimalType(38, 18)
            case Some(_: BigDecimal) =>
              org.apache.spark.sql.types.DataTypes.createDecimalType(38, 18)
            // all-null column: only String round-trips a pure-null column
            case None => org.apache.spark.sql.types.StringType
            case Some(v) => throw new IllegalArgumentException(
              s"fromRows: unsupported value type ${v.getClass.getName} in column '$c' — " +
                "supported: Int, Long, Double, Float, Boolean, String, Timestamp, Date, BigDecimal")
          })
    })
    val rdd = spark.sparkContext.parallelize(
      rows.map(r => org.apache.spark.sql.Row.fromSeq(r)))
    DT(spark.createDataFrame(rdd, schema))
  }
}
