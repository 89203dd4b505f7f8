package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Reshape operators (SURVEY.md §2.8): melt / dcast / rbindlist /
  * transpose / tstrsplit, re-expressed on Catalyst.
  */
object Reshape {

  /** Discovered pivot domains (and dcastAuto's duplicate probes),
    * session-memoized (optimization r22): an implicit `pivot(col)` runs
    * a distinct-values JOB at plan-build time, so every bench rep /
    * pipeline step re-paid a full domain scan for a domain that is a
    * deterministic property of (plan, column). Cleared by
    * [[graft.SessionMemo.clearAll]] (cold reps re-pay); same mid-session
    * staleness contract as every fit memo.
    */
  private val domainCache = new graft.SessionMemo[AnyRef]()

  /** The pivot domain exactly as Spark's implicit `pivot(col)` computes
    * it (distinct incl. null, ascending sort, [[MAX_PIVOT]] cap),
    * collected once per (session, plan, column). The STRING domain for
    * the explicit-values forms lives in [[pivotDomain]].
    */
  private def pivotDomainImplicit(df: DataFrame, rhs: String): Seq[Any] =
    domainCache.getOrElsePut(df.sparkSession,
      graft.SessionMemo.planKey(df) + ":dom:" + rhs) {
      val vals = df.select(col(rhs)).distinct().sort(col(rhs))
        .limit(MAX_PIVOT + 1).collect().map(_.get(0)).toSeq
      require(vals.size <= MAX_PIVOT,
        s"pivot column $rhs has more than $MAX_PIVOT distinct values; " +
          "pass values= explicitly")
      vals
    }.asInstanceOf[Seq[Any]]

  /** melt() (R/fmelt.R:183): wide → long. Lowers to the `stack`
    * generator — one pass, no shuffle; measure columns are cast to their
    * common promoted type first (the reference's type-promotion rules,
    * src/fmelt.c).
    */
  def melt(df: DataFrame, idVars: Seq[String], measureVars: Seq[String],
           variableName: String = "variable", valueName: String = "value",
           naRm: Boolean = false): DataFrame = {
    val types = measureVars.map(m => df.schema(m).dataType).distinct
    val target = if (types.size == 1) types.head
                 else if (types.forall(_.isInstanceOf[org.apache.spark.sql.types.NumericType])) DoubleType
                 else StringType
    val pairs = measureVars
      .map(m => s"'$m', cast(`$m` as ${target.sql})").mkString(", ")
    val stacked = df.select(
      (idVars.map(col) :+
        expr(s"stack(${measureVars.size}, $pairs) as (`$variableName`, `$valueName`)")): _*)
    if (naRm) stacked.filter(col(valueName).isNotNull) else stacked
  }

  /** melt with multiple measure groups (measure.vars=list(...)): each
    * group becomes its own value column, zipped positionally by variable
    * ordinal (R/fmelt.R measure-list semantics). RAGGED groups pad the
    * short group's missing ordinals with NA (tests.Rraw 1035.014), and
    * `naRm` drops a molten row when ANY value column is NA — the
    * reference's na.rm over list measures (tests.Rraw 1035.0184).
    * Each group's columns are cast to their promoted common type
    * (melt's promotion rules) so the ordinal structs align.
    */
  def meltMulti(df: DataFrame, idVars: Seq[String],
                measureGroups: Map[String, Seq[String]],
                naRm: Boolean = false): DataFrame = {
    val n = measureGroups.values.map(_.size).max
    val groupType: Map[String, org.apache.spark.sql.types.DataType] =
      measureGroups.map { case (out, cols) =>
        val types = cols.map(m => df.schema(m).dataType).distinct
        out -> (if (types.size == 1) types.head
                else if (types.forall(_.isInstanceOf[org.apache.spark.sql.types.NumericType])) DoubleType
                else StringType)
      }
    val structs = (0 until n).map { i =>
      struct((lit(i + 1).as("variable") +:
        measureGroups.map { case (out, cols) =>
          (if (i < cols.size) col(cols(i)).cast(groupType(out))
           else lit(null).cast(groupType(out))).as(out)
        }.toSeq): _*)
    }
    val long = df.select((idVars.map(col) :+ explode(array(structs: _*)).as("_m")): _*)
      .select((idVars.map(col) :+ col("_m.variable").as("variable")) ++
        measureGroups.keys.toSeq.map(k => col(s"_m.$k").as(k)): _*)
    if (naRm)
      long.filter(measureGroups.keys.map(k => col(k).isNotNull).reduce(_ && _))
    else long
  }

  /** melt(measure.vars = patterns(...)) (R/fmelt.R:15): select measure
    * columns by regex instead of listing them.
    */
  def meltPatterns(df: DataFrame, idVars: Seq[String], pattern: String,
                   variableName: String = "variable",
                   valueName: String = "value",
                   cols: Seq[String] = Nil): DataFrame = {
    val re = pattern.r
    // patterns(cols=) (NEWS #6498): restrict the regex to a candidate
    // subset, so the match can't catch unrelated columns
    val pool = if (cols.nonEmpty) {
      val missing = cols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"patterns(cols=): not present in the table: ${missing.mkString(",")}")
      cols
    } else df.columns.toSeq
    val measures = pool.filter(c => re.findFirstIn(c).isDefined)
    require(measures.nonEmpty, s"patterns('$pattern') matched no columns")
    melt(df, idVars, measures, variableName, valueName)
  }

  /** melt(measure.vars = measure(sep=)) (R/fmelt.R:32-64): split measure
    * column names on `sep` into (value-name, dimension) — e.g. columns
    * a_1, a_2, b_1, b_2 melt to value columns (a, b) with a `dim`
    * column of 1/2. The positional zip is by the suffix dimension.
    */
  def meltMeasureSep(df: DataFrame, idVars: Seq[String], sep: String,
                     dimName: String = "dim"): DataFrame = {
    val measureCols = df.columns.filterNot(idVars.contains).toSeq
    val parsed = measureCols.map { c =>
      val i = c.lastIndexOf(sep)
      require(i > 0, s"column $c has no '$sep' separator")
      (c.substring(0, i), c.substring(i + sep.length), c)
    }
    meltParsed(df, idVars, parsed, dimName)
  }

  /** Shared melt-by-parsed-names tail: `parsed` = (valueName, dim,
    * sourceColumn) triples; one struct per dim is exploded, missing
    * (valueName, dim) combos become nulls.
    */
  private def meltParsed(df: DataFrame, idVars: Seq[String],
                         parsed: Seq[(String, String, String)],
                         dimName: String): DataFrame = {
    val dims = parsed.map(_._2).distinct.sorted
    val valueNames = parsed.map(_._1).distinct
    val structs = dims.map { d =>
      val byName = parsed.filter(_._2 == d).map(p => p._1 -> p._3).toMap
      struct((lit(d).as(dimName) +: valueNames.map(v =>
        byName.get(v).map(col).getOrElse(lit(null)).as(v))): _*)
    }
    df.select((idVars.map(col) :+ explode(array(structs: _*)).as("_m")): _*)
      .select((idVars.map(col) :+ col(s"_m.$dimName").as(dimName)) ++
        valueNames.map(v => col(s"_m.$v").as(v)): _*)
  }

  /** melt(measure.vars = measure(pattern=)) (R/fmelt.R:32-64): split
    * measure column names by a REGEX with exactly two capture groups —
    * group 1 = the output value-column name, group 2 = the dimension
    * label — instead of a literal separator. Columns not matching the
    * pattern (and not id vars) are ignored, like the reference's
    * measure() column selection. e.g. pattern "^(.*)_y(\\d+)$" melts
    * sales_y2020/sales_y2021/cost_y2020 into value columns (sales, cost)
    * with a dim column of 2020/2021.
    */
  def meltMeasurePattern(df: DataFrame, idVars: Seq[String], pattern: String,
                         dimName: String = "dim"): DataFrame = {
    require(pattern.r.pattern.matcher("").groupCount() == 2,
      s"measure(pattern=) needs exactly 2 capture groups (value-name, dim); got '$pattern'")
    meltMeasureN(df, idVars, pattern, Seq("value.name", dimName))
  }

  /** melt(measure.vars = measure(...)) GENERAL form (R/fmelt.R:33-64,
    * measurev): a regex with one capture group PER output dimension,
    * named by `groupNames`. The group named "value.name" (the
    * multiple.keyword convention) splits matched columns into MULTIPLE
    * value columns; every other group becomes a dim column. Without a
    * "value.name" group, all matched columns melt into ONE `valueName`
    * column (promoted to their common type, like melt) keyed by every
    * captured dim. [[meltMeasurePattern]] is the 2-group special case.
    */
  def meltMeasureN(df: DataFrame, idVars: Seq[String], pattern: String,
                   groupNames: Seq[String], valueName: String = "value",
                   convert: Map[String, String => Any] = Map.empty,
                   naRm: Boolean = false): DataFrame = {
    val re = pattern.r
    require(re.pattern.matcher("").groupCount() == groupNames.size,
      s"measure(): pattern '$pattern' has ${re.pattern.matcher("").groupCount()} " +
        s"capture groups but ${groupNames.size} group names were given")
    require(groupNames.distinct.size == groupNames.size,
      s"measure(): duplicate group names in ${groupNames.mkString(",")}")
    val matched = df.columns.filterNot(idVars.contains).toSeq.flatMap { c =>
      re.findFirstMatchIn(c).map(m => (groupNames.indices.map(g => m.group(g + 1)), c))
    }
    require(matched.nonEmpty, s"measure(pattern='$pattern') matched no columns")
    meltMeasureParsed(df, idVars, matched, groupNames, valueName, convert,
      s"pattern='$pattern'", naRm)
  }

  /** melt(measure.vars = measure(sep=, fun=)) N-group form
    * (R/fmelt.R:107-122, measurev's sep branch): split measure names
    * on the LITERAL `sep` into exactly groupNames.size parts; columns
    * splitting to a different count are ignored (the reference melts
    * only `vector.lengths == n.groups` columns). Group naming,
    * "value.name" multi-value dispatch, and per-group `convert`
    * functions behave exactly as in [[meltMeasureN]].
    */
  def meltMeasureSepN(df: DataFrame, idVars: Seq[String], sep: String,
                      groupNames: Seq[String], valueName: String = "value",
                      convert: Map[String, String => Any] = Map.empty,
                      naRm: Boolean = false): DataFrame = {
    require(groupNames.distinct.size == groupNames.size,
      s"measure(): duplicate group names in ${groupNames.mkString(",")}")
    val matched = df.columns.filterNot(idVars.contains).toSeq.flatMap { c =>
      val parts = c.split(java.util.regex.Pattern.quote(sep), -1).toSeq
      if (parts.size == groupNames.size) Some((parts, c)) else None
    }
    require(matched.nonEmpty,
      s"measure(sep='$sep') matched no columns with ${groupNames.size} parts")
    meltMeasureParsed(df, idVars, matched, groupNames, valueName, convert,
      s"sep='$sep'", naRm)
  }

  /** Shared measure() tail: apply per-group conversion functions
    * (measure(fun=), R/fmelt.R:133-153 — each captured label vector
    * may be converted, e.g. "1"/"2" → int 1/2; all-null conversions
    * and post-conversion group collisions are errors, and a converted
    * "value.name" must stay string), then build the dim structs.
    */
  private def meltMeasureParsed(df: DataFrame, idVars: Seq[String],
                                matched0: Seq[(Seq[String], String)],
                                groupNames: Seq[String], valueName: String,
                                convert: Map[String, String => Any],
                                what: String,
                                naRm: Boolean = false): DataFrame = {
    convert.keys.foreach(k => require(groupNames.contains(k),
      s"measure($what): conversion for unknown group '$k'"))
    // apply measure(fun=) conversions per group, with the reference's
    // validation: a group converting to ALL nulls is an error, mixed
    // result types are an error, and value.name must remain character
    val matched = matched0.map { case (gs, c) =>
      (groupNames.zip(gs).map { case (g, v) =>
        convert.get(g).map(f => f(v)).getOrElse(v)
      }, c)
    }
    groupNames.zipWithIndex.foreach { case (g, gi) =>
      if (convert.contains(g)) {
        val vs = matched.map(_._1(gi)).filter(_ != null)
        require(vs.nonEmpty,
          s"measure($what): conversion for group '$g' returned all nulls")
        require(vs.map(_.getClass).distinct.size == 1,
          s"measure($what): conversion for group '$g' returned mixed types")
        if (g == "value.name") require(vs.head.isInstanceOf[String],
          s"measure($what): value.name conversion must return strings")
      }
    }
    matched.groupBy(_._1).find(_._2.size > 1).foreach { case (k, cs) =>
      throw new IllegalArgumentException(
        s"measure($what): columns ${cs.map(_._2).mkString(", ")} all parse " +
          s"to $k after conversion — change the conversion functions")
    }
    val vnIdx = groupNames.indexOf("value.name")
    val dimIdx = groupNames.indices.filterNot(_ == vnIdx)
    val dimNames = dimIdx.map(groupNames)
    // (dim values, value-column name, source column)
    if (vnIdx >= 0) require(matched.forall(_._1(vnIdx) != null),
      s"measure($what): value.name labels must be non-null strings")
    val parsed = matched.map { case (gs, c) =>
      (dimIdx.map(gs),
        if (vnIdx >= 0) gs(vnIdx).asInstanceOf[String] else valueName, c)
    }
    val combos = parsed.map(_._1).distinct.sortBy(_.mkString("\u0000"))
    val valueNames = parsed.map(_._2).distinct
    // single-value form promotes the measure columns to their common
    // type first (melt's promotion rules); multi-value keeps each
    // value column's own type
    val source: Map[String, Column] =
      if (vnIdx >= 0) parsed.map(p => p._3 -> col(p._3)).toMap
      else {
        val types = parsed.map(p => df.schema(p._3).dataType).distinct
        val target = if (types.size == 1) types.head
          else if (types.forall(_.isInstanceOf[org.apache.spark.sql.types.NumericType])) DoubleType
          else StringType
        parsed.map(p => p._3 -> col(p._3).cast(target)).toMap
      }
    val structs = combos.map { combo =>
      val byName = parsed.filter(_._1 == combo).map(p => p._2 -> p._3).toMap
      struct((dimNames.zip(combo).map { case (n, v) => lit(v).as(n) } ++
        valueNames.map(v => byName.get(v).map(source).getOrElse(lit(null)).as(v))): _*)
    }
    val long = df
      .select((idVars.map(col) :+ explode(array(structs: _*)).as("_m")): _*)
      .select((idVars.map(col) ++ dimNames.map(n => col(s"_m.$n").as(n)) ++
        valueNames.map(v => col(s"_m.$v").as(v))): _*)
    // na.rm over multiple value columns drops a molten row when ANY
    // value is NA — the reference's list-measure na.rm (tests.Rraw
    // 1035.0186: a dim level missing one group's column vanishes)
    if (naRm)
      long.filter(valueNames.map(v => col(v).isNotNull).reduce(_ && _))
    else long
  }

  /** dcast() (R/fcast.R:11): long → wide pivot. When `values` is given
    * Spark skips the extra distinct-values job — always pass it at scale.
    * drop=FALSE (keep empty key combos) is [[dcastComplete]].
    *
    * PIVOT-WIDTH CAP: every dcast form that must DISCOVER the pivot
    * domain (no `values=`) collects the distinct rhs values to the
    * driver — pivot semantics need the column set at plan time — and
    * errors past [[MAX_PIVOT]] (10 000) distinct values rather than
    * building an absurdly wide frame / OOMing the driver (this plain
    * form delegates to Spark's pivot, whose own
    * `spark.sql.pivotMaxValues` default is the same 10 000). Callers
    * pivoting a wider domain pass `values=` explicitly.
    */
  /** `naLevel=true` keeps an NA formula-RHS value as its own "NA"
    * output column, the reference's behavior (R/fcast.R keeps NA as a
    * dcast level; SQL pivot drops null pivot keys) — the null rhs is
    * relabelled "NA" before the pivot, so pass it in `values` too when
    * pinning the column set.
    */
  def dcast(df0: DataFrame, lhs: Seq[String], rhs: String, valueVar: String,
            aggFn: Column => Column, values: Seq[String] = Nil,
            fill: Option[Column] = None, naLevel: Boolean = false): DataFrame = {
    val df = if (naLevel)
      df0.withColumn(rhs, coalesce(col(rhs).cast("string"), lit("NA")))
    else df0
    val g = df.groupBy(lhs.map(col): _*)
    // implicit domains go through the session memo — same distinct+sort
    // Spark's pivot(col) runs, collected once instead of per call
    val p = if (values.nonEmpty) g.pivot(rhs, values)
            else g.pivot(rhs, pivotDomainImplicit(df, rhs))
    val wide = p.agg(aggFn(col(valueVar)))
    fill match {
      case Some(f) =>
        val pivotCols = wide.columns.filterNot(lhs.contains).toSeq
        wide.select((lhs.map(col) ++ pivotCols.map(c => coalesce(col(c), f).as(c))): _*)
      case None => wide
    }
  }

  /** dcast with fun.aggregate=NULL — the reference's default-aggregate
    * resolution (R/fcast.R:181): when every (lhs, rhs) combination is
    * unique the cell takes its single value; when duplicates exist the
    * reference WARNS and defaults to length() (the cell count), so the
    * user sees values > 1 where the formula did not uniquely identify
    * rows. `onDuplicates="error"` upgrades that to an error for
    * pipelines that must never silently count. The multiplicity probe
    * is one slim count-aggregation short-circuited by limit(1) — the
    * same scan the reference does to detect duplicates.
    */
  def dcastAuto(df: DataFrame, lhs: Seq[String], rhs: String,
                valueVar: String, values: Seq[String] = Nil,
                onDuplicates: String = "warn"): DataFrame = {
    val keys = (lhs :+ rhs).map(col)
    // the probe is a deterministic property of (plan, keys) — memoized
    // like the pivot domains (one job per session instead of per call)
    val hasDup = domainCache.getOrElsePut(df.sparkSession,
      graft.SessionMemo.planKey(df) + ":dup:" +
        (lhs :+ rhs).mkString(",")) {
      java.lang.Boolean.valueOf(!df.groupBy(keys: _*).count()
        .filter(col("count") > 1).limit(1).isEmpty)
    }.asInstanceOf[java.lang.Boolean].booleanValue()
    if (!hasDup) dcast(df, lhs, rhs, valueVar, first(_), values)
    else onDuplicates match {
      case "error" => throw new IllegalArgumentException(
        s"dcast: 'fun.aggregate' is missing but (${(lhs :+ rhs).mkString(", ")}) " +
          "do not uniquely identify rows; pass an aggregate " +
          "(reference warning dt_missing_fun_aggregate_warning, R/fcast.R:181)")
      case _ =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "dcast: 'fun.aggregate' is NULL but found duplicate row/column " +
            "combinations; defaulting to length() per R/fcast.R:181")
        // length() counts EVERY cell row including NAs — count(lit(1)),
        // not count(valueVar), which would skip nulls. Missing combos
        // fill with length(empty) = 0 (R/fcast.R fill semantics: fill
        // defaults to fun.aggregate on a 0-length vector).
        dcast(df, lhs, rhs, valueVar, _ => count(lit(1)), values,
          fill = Some(lit(0L)))
    }
  }

  /** dcast with a LIST of named aggregates (fun.aggregate = list(...),
    * R/fcast.R:115-126 construct_funs): one output column per (pivot
    * value × aggregate). The reference names these
    * `<value.var>_<fun>_<pivotValue>` (fun name first, pivot level
    * last, joined by sep) — callers pass agg names as `<value>_<fun>`
    * and `referenceNames=true` (default) renames Spark's native
    * `<pivotValue>_<aggName>` accordingly. Spark drops the agg alias
    * when exactly one aggregate is given (columns are then the bare
    * pivot values, same as plain dcast and same as the reference's
    * single-fun form), so the convention applies for 2+.
    * Omitting `values=` discovers the pivot domain, capped at
    * [[MAX_PIVOT]] distinct rhs values (see [[dcast]]'s cap note) —
    * as do all the drop=FALSE / margins / subset forms below.
    */
  def dcastMulti(df: DataFrame, lhs: Seq[String], rhs: String,
                 values: Seq[String], aggs: Seq[(String, Column)],
                 referenceNames: Boolean = true, sep: String = "_",
                 fills: Map[String, Column] = Map.empty): DataFrame = {
    require(aggs.nonEmpty)
    val named = aggs.map { case (n, c) => c.as(n) }
    val wide0 = df.groupBy(lhs.map(col): _*)
      .pivot(rhs, values)
      .agg(named.head, named.tail: _*)
    val wide =
      if (!referenceNames || aggs.size == 1) wide0
      else {
        // Positional rename — pivot emits lhs ++ (per value, per agg), so
        // no fragile parsing of underscores inside pivot values or names.
        val out = lhs ++ values.flatMap(v => aggs.map { case (n, _) => s"$n$sep$v" })
        wide0.toDF(out: _*)
      }
    // fill=: the reference's empty-cell convention is PER AGGREGATE —
    // fun.aggregate on a 0-length vector (R/fcast.R:126; tests.Rraw
    // 1102.32's sum→0 next to mean→NaN in one cast). `fills` maps an
    // agg name to its empty value; unmapped aggs keep SQL NULL.
    if (fills.isEmpty) wide
    else {
      // fills are applied POSITIONALLY: pivot emits lhs ++ (per value,
      // per agg) in agg order REGARDLESS of naming convention, so the
      // mapping is i % aggs.size — a name-keyed map against the
      // reference-style renames silently matched nothing under
      // referenceNames=false (fills ignored, cells stayed NULL;
      // ADVICE r19).
      val pivotCols = wide.columns.drop(lhs.size).toSeq
      wide.select(lhs.map(col) ++ pivotCols.zipWithIndex.map { case (c, i) =>
        fills.get(aggs(i % aggs.size)._1)
          .map(f => coalesce(col(c), f).as(c)).getOrElse(col(c))
      }: _*)
    }
  }

  /** dcast(drop=FALSE): complete the LHS key domain via a cross join of
    * the observed key values before pivoting (CJ completion,
    * R/fcast.R + src/cj.c).
    */
  def dcastComplete(df: DataFrame, lhs: Seq[String], rhs: String,
                    valueVar: String, aggFn: Column => Column,
                    values: Seq[String] = Nil,
                    fill: Option[Column] = None): DataFrame = {
    val domain = lhs.map(c => df.select(c).distinct())
      .reduce(_.crossJoin(_))
    val complete = domain.join(df, lhs, "left")
    // Completed combos carry a null rhs; without explicit `values`,
    // pivot's distinct-value scan would include null and emit a spurious
    // all-null "null" column. Pinning the value list to the observed
    // non-null rhs values keeps those rows group-preserving only. (The
    // distinct collect is the same driver-side scan pivot would run
    // internally anyway.)
    // drop=FALSE × fill= (tests.Rraw 1102.04): the fill value lands in
    // BOTH unobserved cells of observed keys and every cell of the
    // completion-only keys.
    val vals = if (values.nonEmpty) values else pivotDomain(df, rhs)
    dcast(complete, lhs, rhs, valueVar, aggFn, vals, fill)
  }

  /** dcast(drop=FALSE) × MULTIPLE value.var (R/fcast.R:217-226 crossed
    * with the multi-value naming of [[dcastMulti]]): the LHS key domain
    * is completed cj_uniq-style (cross join of each LHS var's observed
    * distinct values — every combination appears, observed or not), and
    * every (value.var, rhs value) column materializes for every
    * completed combo, null where unobserved. Name the aggs after their
    * value vars (`"a" -> sum(col("a"))`) for the reference's
    * `<value.var>_<rhs value>` columns.
    */
  def dcastCompleteMulti(df: DataFrame, lhs: Seq[String], rhs: String,
                         aggs: Seq[(String, Column)],
                         values: Seq[String] = Nil,
                         sep: String = "_",
                         fills: Map[String, Column] = Map.empty): DataFrame = {
    require(aggs.nonEmpty)
    val domain = lhs.map(c => df.select(c).distinct())
      .reduce(_.crossJoin(_))
    val complete = domain.join(df, lhs, "left")
    // same null-rhs note as dcastComplete: pin the pivot values to the
    // observed non-null set so completion rows stay group-preserving
    val vals = if (values.nonEmpty) values else pivotDomain(df, rhs)
    dcastMulti(complete, lhs, rhs, vals, aggs, referenceNames = true, sep,
      fills)
  }

  /** Sorted distinct non-null pivot values — the column domain every
    * dcast form materializes as output COLUMNS. Collected to the driver
    * (pivot semantics require the domain at plan time), but CAPPED: a
    * wide-frame column count past [[MAX_PIVOT]] means the pivot column
    * was almost certainly the wrong axis (reference dcast would build
    * the same absurdly wide frame), and an uncapped distinct().collect()
    * on a high-cardinality column is a driver OOM at scale — callers
    * wanting a bigger domain pass `values` explicitly.
    */
  private[graft] val MAX_PIVOT = 10000
  private def pivotDomain(df: DataFrame, rhs: String): Seq[String] =
    // session-memoized like the implicit domain (one job per session,
    // not per call); the string/non-null form the explicit-values
    // callers (dcastComplete & co.) consume
    domainCache.getOrElsePut(df.sparkSession,
      graft.SessionMemo.planKey(df) + ":domstr:" + rhs) {
      val vals = df.select(rhs).distinct().filter(col(rhs).isNotNull)
        .orderBy(col(rhs)).limit(MAX_PIVOT + 1)
        .collect().map(_.get(0).toString).toSeq
      require(vals.size <= MAX_PIVOT,
        s"dcast: pivot column '$rhs' has more than $MAX_PIVOT distinct " +
          "values; pass values= explicitly to pivot a subset")
      vals
    }.asInstanceOf[Seq[String]]

  /** dcast(subset=) (R/fcast.R:171-175): filter the long input before
    * casting — the predicate pushes straight down to the scan, the
    * pivot value domain comes from the SUBSET (reference: dat is
    * subsetted before fcast), and `fill` carries the reference's
    * default-fill convention under fun.aggregate (fun on a 0-length
    * vector — e.g. sum→0, length→0; tests.Rraw 1102.05's zeros).
    */
  def dcastSubset(df: DataFrame, subset: Column, lhs: Seq[String], rhs: String,
                  valueVar: String, aggFn: Column => Column,
                  values: Seq[String] = Nil,
                  fill: Option[Column] = None,
                  naLevel: Boolean = false): DataFrame =
    dcast(df.filter(subset), lhs, rhs, valueVar, aggFn, values, fill, naLevel)

  /** dcast(margins=) x subset= (R/fcast.R:126 declares both; subset=
    * semantics at :171-175): the subset narrows the DATA, the pivot
    * value domain, AND what the margins total — the reference subsets
    * `dat` before casting, so "(all)" means "all of the subset", never
    * the unfiltered table. The predicate pushes to the scan like
    * [[dcastSubset]].
    */
  def dcastMarginsSubset(df: DataFrame, subset: Column, lhs: String,
                         rhs: String, valueVar: String,
                         aggFn: Column => Column,
                         values: Seq[String] = Nil): DataFrame =
    dcastMargins(df.filter(subset), lhs, rhs, valueVar, aggFn, values)

  /** dcast(margins=TRUE), reshape2-style totals (the reference declares
    * `margins` in its signature, R/fcast.R:126, but leaves it
    * unimplemented — we provide the useful form): an "(all)" column
    * re-aggregating each row group across ALL rhs values, plus an
    * "(all)" total row. Totals re-aggregate the RAW values (correct for
    * non-additive aggregates like mean), costing one extra groupBy and
    * one global aggregate — both partial-aggregated map-side.
    * Single string lhs column (the literal "(all)" row label).
    */
  def dcastMargins(df: DataFrame, lhs: String, rhs: String, valueVar: String,
                   aggFn: Column => Column,
                   values: Seq[String] = Nil): DataFrame = {
    val vals = if (values.nonEmpty) values else pivotDomain(df, rhs)
    // null-safe join key: a null lhs group must still receive its margin
    val rowAll = df.groupBy(col(lhs)).agg(aggFn(col(valueVar)).as("(all)"))
      .withColumnRenamed(lhs, "_graft_lhs")
    val wide = dcast(df, Seq(lhs), rhs, valueVar, aggFn, vals)
      .join(rowAll, col(lhs) <=> col("_graft_lhs"), "left")
      .drop("_graft_lhs")
    val totalRow = dcast(df.withColumn(lhs, lit("(all)")), Seq(lhs), rhs, valueVar, aggFn, vals)
      .crossJoin(df.groupBy().agg(aggFn(col(valueVar)).as("(all)")))
    wide.unionByName(totalRow)
  }

  /** dcast margins over a MULTI-column lhs (reference-signature margins,
    * R/fcast.R:126 — declared there but never implemented; we take the
    * standard rollup interpretation): one block per lhs prefix level,
    * the remaining lhs columns labelled "(all)", plus the row-wise
    * "(all)" margin column. lhs columns must be string-typed (the
    * "(all)" label replaces real values, mirroring groupingsets'
    * label= fill).
    */
  def dcastMarginsN(df: DataFrame, lhs: Seq[String], rhs: String,
                    valueVar: String, aggFn: Column => Column,
                    values: Seq[String] = Nil): DataFrame = {
    require(lhs.nonEmpty, "dcastMarginsN needs at least one lhs column")
    lhs.foreach { c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"dcastMarginsN: lhs column '$c' must be string-typed to carry the '(all)' label")
    }
    val vals = if (values.nonEmpty) values else pivotDomain(df, rhs)
    (lhs.size to 0 by -1)
      .map(k => marginLevel(df, lhs, rhs, valueVar, aggFn, vals, lhs.take(k).toSet))
      .reduce(_ unionByName _)
  }

  /** dcast margins, CUBE form (reshape2's margins=TRUE over every
    * dimension): one block per SUBSET of lhs columns — all 2^k margin
    * combinations, not just the rollup prefixes of [[dcastMarginsN]] —
    * each with the dropped columns labelled "(all)" and the row-wise
    * "(all)" margin column. Costs 2^k grouped pivots over the same
    * input; Catalyst shares the scan, and k is small by construction
    * (it's a column count). Reference anchor: R/fcast.R:126 declares
    * margins and leaves them unimplemented.
    */
  def dcastMarginsCube(df: DataFrame, lhs: Seq[String], rhs: String,
                       valueVar: String, aggFn: Column => Column,
                       values: Seq[String] = Nil): DataFrame = {
    require(lhs.nonEmpty, "dcastMarginsCube needs at least one lhs column")
    require(lhs.size <= 8, s"dcastMarginsCube: 2^${lhs.size} margin blocks is unreasonable")
    lhs.foreach { c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"dcastMarginsCube: lhs column '$c' must be string-typed to carry the '(all)' label")
    }
    val vals = if (values.nonEmpty) values else pivotDomain(df, rhs)
    val subsets = ((1 << lhs.size) - 1 to 0 by -1)
      .map(mask => lhs.zipWithIndex.collect { case (c, i) if (mask & (1 << i)) != 0 => c }.toSet)
    subsets.map(marginLevel(df, lhs, rhs, valueVar, aggFn, vals, _))
      .reduce(_ unionByName _)
  }

  /** One margin block: lhs columns outside `keep` replaced by the
    * "(all)" label, pivoted, plus the row-wise "(all)" margin column
    * re-aggregated from the raw values (correct for non-additive aggs).
    */
  private def marginLevel(df: DataFrame, lhs: Seq[String], rhs: String,
                          valueVar: String, aggFn: Column => Column,
                          vals: Seq[String], keep: Set[String]): DataFrame = {
    val d2 = lhs.filterNot(keep).foldLeft(df)((d, c) => d.withColumn(c, lit("(all)")))
    val rowAll = d2.groupBy(lhs.map(col): _*)
      .agg(aggFn(col(valueVar)).as("(all)"))
      .select(lhs.map(c => col(c).as(s"_graft_$c")) :+ col("(all)"): _*)
    val cond = lhs.map(c => col(c) <=> col(s"_graft_$c")).reduce(_ && _)
    dcast(d2, lhs, rhs, valueVar, aggFn, vals)
      .join(rowAll, cond, "left")
      .drop(lhs.map(c => s"_graft_$c"): _*)
  }

  /** The reference's rbindlist type-promotion ladder (src/rbindlist.c:5,
    * combineFactorLevels/getMaxType: logical < integer < integer64 <
    * double < character; anything atomic promotes to character at the
    * top). Spark's unionByName only applies SQL implicit casts — it
    * REFUSES boolean+int and numeric+string unions the reference
    * accepts — so [[rbindlist]] computes the promoted type per column
    * with this lattice and casts each input up front. Date < timestamp
    * mirrors the reference's IDate→POSIXct promotion; arrays promote
    * element-wise (list columns).
    */
  private[operators] def promoteType(a: org.apache.spark.sql.types.DataType,
                                     b: org.apache.spark.sql.types.DataType,
                                     at: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    def intRank(t: DataType): Int = t match {
      case BooleanType => 0
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => -1
    }
    def isAtomic(t: DataType): Boolean =
      intRank(t) >= 0 || t == FloatType || t == DoubleType || t == StringType ||
        t == DateType || t == TimestampType || t.isInstanceOf[DecimalType]
    (a, b) match {
      case _ if a == b => a
      case (NullType, t) => t
      case (t, NullType) => t
      case (StringType, t) if isAtomic(t) => StringType
      case (t, StringType) if isAtomic(t) => StringType
      case (DateType, TimestampType) | (TimestampType, DateType) => TimestampType
      case (DoubleType, t) if intRank(t) >= 0 || t == FloatType => DoubleType
      case (t, DoubleType) if intRank(t) >= 0 || t == FloatType => DoubleType
      // float + {long, decimal} would truncate: go to double like the
      // reference (which has no float at all — double is its REALSXP)
      case (FloatType, LongType) | (LongType, FloatType) => DoubleType
      case (FloatType, t) if intRank(t) >= 0 => FloatType
      case (t, FloatType) if intRank(t) >= 0 => FloatType
      case _ if intRank(a) >= 0 && intRank(b) >= 0 =>
        if (intRank(a) >= intRank(b)) a else b
      case (ArrayType(ea, na), ArrayType(eb, nb)) =>
        ArrayType(promoteType(ea, eb, at), na || nb)
      case _ => throw new IllegalArgumentException(
        s"rbindlist: cannot promote column '$at' across types $a and $b " +
          "(the reference's ladder covers atomic and list columns only)")
    }
  }

  /** Cast every column of every input to its promoted common type
    * (computed across the inputs that carry it — fill=TRUE absentees
    * don't vote, they arrive as typed nulls from unionByName).
    */
  private def promoteAll(dfs: Seq[DataFrame]): Seq[DataFrame] = {
    val target = scala.collection.mutable.LinkedHashMap
      .empty[String, org.apache.spark.sql.types.DataType]
    dfs.foreach(_.schema.fields.foreach { f =>
      target(f.name) = target.get(f.name)
        .map(promoteType(_, f.dataType, f.name)).getOrElse(f.dataType)
    })
    dfs.map { d =>
      val needs = d.schema.fields.filter(f => target(f.name) != f.dataType)
      if (needs.isEmpty) d
      else d.select(d.columns.map { c =>
        if (target(c) != d.schema(c).dataType)
          referenceCast(col(c), d.schema(c).dataType, target(c)).as(c)
        else col(c)
      }.toSeq: _*)
    }
  }

  /** Promotion cast with R's `as.character` spelling where Spark's
    * differs (top-of-ladder string promotion, tests.Rraw rbindlist
    * batteries): logical → "TRUE"/"FALSE" (Spark casts to
    * "true"/"false") and double → R's 15-s.f. shortest form via
    * [[graft.sources.DtoaExpr]] ("3", not Spark's "3.0"). Every other
    * pair is Spark's cast.
    */
  private def referenceCast(c: Column,
                            from: org.apache.spark.sql.types.DataType,
                            to: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (BooleanType, StringType) =>
        when(c.isNull, lit(null).cast(StringType))
          .otherwise(when(c, "TRUE").otherwise("FALSE"))
      case (DoubleType | FloatType, StringType) =>
        graft.sources.DtoaExpr(c, 0)
      case _ => c.cast(to)
    }
  }

  /** rbindlist(fill=TRUE, idcol=) (src/rbindlist.c): N-way concat with
    * column union, missing → null, optional provenance column. Columns
    * whose types differ across inputs are promoted via [[promoteType]]
    * before the union (the reference's getMaxType pass).
    */
  def rbindlist(dfs0: Seq[DataFrame], fill: Boolean = true,
                idcol: Option[String] = None,
                useNames: Boolean = true,
                ignoreAttr: Boolean = false): DataFrame = {
    // ignore.attr (src/rbindlist.c:334): the reference refuses to bind
    // columns whose CLASS attributes differ (an IDate under an integer,
    // units under a bare double) unless ignore.attr=TRUE. The Spark
    // carrier of column attributes is the field Metadata — the check
    // compares it across items per shared column name; the numeric
    // PROMOTION ladder is orthogonal (the reference also promotes
    // int→double by default) and stays on.
    if (!ignoreAttr) {
      val byName = scala.collection.mutable.LinkedHashMap
        .empty[String, (org.apache.spark.sql.types.Metadata, Int)]
      dfs0.zipWithIndex.foreach { case (d, i) =>
        d.schema.fields.foreach { f =>
          byName.get(f.name) match {
            case None => byName(f.name) = (f.metadata, i)
            case Some((m0, i0)) =>
              require(m0 == f.metadata,
                s"Class attribute on column '${f.name}' of item ${i + 1} does " +
                  s"not match with column '${f.name}' of item ${i0 + 1}. You " +
                  "can deactivate this safety-check by using ignore.attr=TRUE")
          }
        }
      }
    }
    // Promote each shared column to the reference ladder's common type.
    // (For useNames=false the promotion applies after positional
    // renaming below — recompute there; here only the named path.)
    val dfs = if (!useNames) dfs0 else promoteAll(dfs0)
    val positional =
      if (useNames) dfs
      else {
        // use.names=FALSE: bind BY POSITION. fill=TRUE accepts UNEQUAL
        // column counts (src/rbindlist.c #5444; tests.Rraw 2003.3-.6):
        // position p takes its name from the FIRST item wide enough to
        // have it — (a,c)+(b) binds b into a and fills c (2003.4),
        // (a)+(b,c) yields columns (a, c) (2003.5) — and shorter items
        // fill the missing trailing positions with typed NA.
        val width = dfs.map(_.columns.length).max
        require(fill || dfs.map(_.columns.length).distinct.size == 1,
          s"rbindlist(use.names=FALSE): item column counts differ " +
            s"(${dfs.map(_.columns.length).mkString(",")}). To fill " +
            "missing columns use fill=TRUE (R/rbindlist.R)")
        val posNames = (0 until width).map(i =>
          dfs.find(_.columns.length > i).get.columns(i))
        promoteAll(dfs.map(d => d.toDF(posNames.take(d.columns.length): _*)))
      }
    val tagged = idcol match {
      case Some(name) => positional.zipWithIndex.map { case (d, i) =>
        d.select(lit(i + 1).as(name) +: d.columns.map(col).toSeq: _*) }
      case None => positional
    }
    tagged.reduce((a, b) => a.unionByName(b, allowMissingColumns = fill))
  }

  /** tstrsplit() (R/transpose.R:26): split a string column into `n`
    * columns; `fill` pads short splits with null (getItem past the end
    * is already null).
    */
  def tstrsplit(df: DataFrame, c: String, pattern: String, n: Int,
                names: Seq[String] = Nil, keep: Seq[Int] = Nil,
                typeConvert: Boolean = false,
                rev: Boolean = false): DataFrame = {
    val parts0 = split(col(c), pattern)
    // rev=TRUE (NEWS #6341): positions anchor from the END of each
    // string — position 1 is the LAST part — for strings with a varying
    // number of components. Per-row array reverse, no extra pass.
    val parts = if (rev) reverse(parts0) else parts0
    val idxs = if (keep.nonEmpty) keep else (1 to n).toSeq
    val outNames = if (names.nonEmpty) names else idxs.map(i => s"V$i")
    val withCols = idxs.zip(outNames).foldLeft(df) { case (d, (i, nm)) =>
      // get() (0-based) is null past the end — fill=NA semantics, and
      // safe under ANSI mode where getItem/element_at would throw.
      d.withColumn(nm, get(parts, lit(i - 1)))
    }
    if (!typeConvert) withCols
    else {
      // tstrsplit(type.convert=TRUE) (R/transpose.R:26 → utils::
      // type.convert per split column): a column whose every non-null
      // part parses as a number becomes numeric — integer when every
      // value parses losslessly as one, double otherwise. The probe is
      // one slim aggregate over try_cast nulls (same pass fread's
      // type-bump re-read uses); mixed columns stay string.
      // "" (an empty split part) is NA to type.convert, not a value
      val cleaned = outNames.foldLeft(withCols)((d, nm) =>
        d.withColumn(nm, when(col(nm) === "", lit(null)).otherwise(col(nm))))
      val probeCols = outNames.flatMap(nm => Seq(
        count(col(nm)).as(s"_n_$nm"),
        count(expr(s"try_cast(`$nm` AS BIGINT)")).as(s"_i_$nm"),
        count(expr(s"try_cast(`$nm` AS DOUBLE)")).as(s"_d_$nm")))
      val probe = cleaned.agg(probeCols.head, probeCols.tail: _*).head()
      outNames.foldLeft(cleaned) { (d, nm) =>
        val nAll = probe.getAs[Long](s"_n_$nm")
        val nInt = probe.getAs[Long](s"_i_$nm")
        val nDbl = probe.getAs[Long](s"_d_$nm")
        if (nAll == 0) d
        else if (nInt == nAll) d.withColumn(nm, col(nm).cast("bigint"))
        else if (nDbl == nAll) d.withColumn(nm, col(nm).cast("double"))
        else d
      }
    }
  }

  /** cbindlist() (R/mergelist.R:1): zip tables side-by-side by position.
    * Distributed tables have no stable row order, so each input must
    * carry (or be given) an explicit row-id ordering; alignment is an
    * equi join on that id (SURVEY.md §2.3 cbindlist row — documented
    * semantic difference from the reference's positional zip).
    */
  def cbindlist(dfs: Seq[DataFrame], idCol: String): DataFrame =
    dfs.reduce { (a, b) =>
      val clash = b.columns.filter(c => a.columns.contains(c) && c != idCol)
      val br = clash.foldLeft(b)((d, c) => d.withColumnRenamed(c, s"i_$c"))
      a.join(br, Seq(idCol), "inner")
    }

  /** transpose() (src/transpose.c, R/transpose.Rd): flip a (small)
    * table. Distributed tables have no row order, so an explicit
    * ordering column is required; melt + pivot keeps it in plan land
    * (the only driver-side state is pivot's own column domain).
    *
    * Reference knobs: `keepNames` = keep.names — the column holding
    * the OLD column names (`None` drops them, the reference default;
    * this engine's historical default keeps them as "column").
    * `makeNames=true` = make.names=orderCol — the order column's
    * VALUES become the new column names; `false` mirrors
    * make.names=NULL: columns are V1..Vn in row (orderCol) order.
    * `fill` is always-NA (missing cells are null); ignore.empty is
    * R-list-specific, n/a.
    */
  def transpose(df: DataFrame, orderCol: String,
                keepNames: Option[String] = Some("column"),
                makeNames: Boolean = true): DataFrame = {
    val measures = df.columns.filterNot(_ == orderCol).toSeq
    val long = melt(df, Seq(orderCol), measures, "_var", "_val")
    val domain = pivotDomainImplicit(long, orderCol)
    val base = long.groupBy(col("_var"))
      .pivot(orderCol, domain).agg(first(col("_val")))
    val named =
      if (makeNames) base
      else {
        // V1..Vn follow row order = orderCol order (explicit-order
        // doctrine); the memoized pivot domain IS that ordered value
        // set (same distinct+sort), so no second collect runs. ONE
        // select projection, not chained renames: a value colliding
        // with a generated V-name (orderCol = "B","V1") would make a
        // rename chain hit two columns; and a null orderCol value
        // pivots to the literal "null" column, matched here explicitly.
        val order = domain.map(v => if (v == null) "null" else v.toString)
        val vName = order.zipWithIndex
          .map { case (v, i) => v -> s"V${i + 1}" }.toMap
        base.select(base.columns.map(c =>
          col(s"`$c`").as(vName.getOrElse(c, c))): _*)
      }
    keepNames match {
      case Some(n) => named.withColumnRenamed("_var", n)
      case None    => named.drop("_var")
    }
  }
}
