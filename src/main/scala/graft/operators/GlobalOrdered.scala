package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.catalyst.plans.physical.ClusteredDistribution
import org.apache.spark.sql.execution.exchange.EnsureRequirements
import org.apache.spark.sql.internal.SQLConf

/** Scale-safe GLOBAL ordered operators — the `by = Nil` tier of the
  * window family (SURVEY.md §2.5; reference src/forder.c's parallel
  * radix + scan is the same two-pass idea).
  *
  * A naive `Window.orderBy(key)` with no partition funnels the WHOLE
  * input through one task — correct, and fine for a 3-row
  * post-aggregate frame, fatal at 100 TB. This tier keeps global-order
  * semantics with bounded parallelism:
  *
  *  1. '''Bucket''' every row by a PURE FUNCTION of the order key
  *     (range buckets from memoized approximate quantiles of the key).
  *     Because the bucket is computable before any exchange, the
  *     window's hash exchange on the bucket is the ONLY full-data
  *     shuffle in the plan — there is no separate range exchange.
  *     Equal keys always share a bucket, so tie blocks never split.
  *  2. '''Per-bucket pass''': the ordinary partitioned window runs
  *     inside each bucket (parallel, streaming frame).
  *  3. '''Prefix offsets''': per-bucket partial aggregates are
  *     combined across strictly-prior buckets with a prefix window over
  *     the TINY partials frame (≤ buckets rows — never a full-data
  *     single-partition WindowExec; the former all-pairs broadcast
  *     self-joins materialized O(buckets²) rows) and broadcast-joined
  *     back. The map-side combine emits up to `buckets` rows PER INPUT
  *     SPLIT, so up to splits × buckets rows shuffle. When that estimate
  *     fits one advisory partition ([[partialsOf]]) the final aggregate
  *     is gathered into one task, and it and every partials window run
  *     in the broadcast job's own stage; above it, or when the partials
  *     read rows already clustered on the bucket (rleid), the final
  *     aggregate stays distributed and the windows plan their own
  *     single-partition exchange over the ≤ buckets aggregated rows.
  *
  * Ops that need neighboring ROWS rather than prefix aggregates
  * (shift, fixed-window froll) use '''phantom boundary rows''': the
  * edge rows of each bucket are copied into the adjacent bucket,
  * excluded from output after the windows are evaluated.
  *
  * Contracts (documented, spec-locked):
  *  - The order key may be ANY orderable atomic type: numerics fit
  *    range bounds from a single-pass approxQuantile; strings / dates /
  *    timestamps / booleans fit from a bounded deterministic sample
  *    (the sample only affects bucket BALANCE — bucket correctness
  *    rests on plan-side comparisons that use Spark's own ordering).
  *  - Row-level outputs are only deterministic when the key is unique
  *    per row (the same contract every oracled window query already
  *    carries); prefix aggregates additionally assume it for
  *    cross-engine FP agreement.
  *  - Phantom ops (shift/froll) are exact for ANY bucket-size
  *    distribution: the per-pair need computation forwards edge rows
  *    across as many buckets as the window width requires (still
  *    bounded by n rows per bucket pair on the tiny partials frame).
  *  - A massively-skewed key (one value = most rows) collapses the
  *    quantile bounds. The fit DETECTS the collapse (raw quantiles
  *    mostly duplicates) and (a) logs a structured warning, and
  *    (b) for the tie-ORDER-agnostic ops (cumsum/cumprod/cummin/cummax/
  *    shift/froll — their unique-key determinism contract already makes
  *    within-tie order arbitrary) auto-composes a content-hash
  *    tie-break into the bucketing: dominant tie blocks scatter over
  *    the bucket ids their duplicated bounds freed, via a monotone
  *    slice of xxhash64(*). The bucket stays a PURE expression of
  *    (key, hash) — full parallelism restored with no extra exchange.
  *    Ops whose semantics pin tie blocks to one bucket (frank's rank
  *    offsets, rleid's runs, nafill's carries) keep the
  *    collapsed-but-correct buckets and the warning — global order over
  *    a near-constant key is inherently sequential for them.
  *
  * Bounds are an eager, session-memoized fit (SessionMemo — same
  * writer-eviction contract as every other fit memo): the quantile
  * scan reads ONE column (parquet-pruned) once per (session, plan,
  * buckets); bench reps and composed queries reuse it.
  */
object GlobalOrdered {

  private[graft] val BKT = "_graft_gbkt"
  private val PH = "_graft_phantom"
  private val TB = "_graft_gtb"

  /** Hard ceiling on the DEFAULT bucket count. Buckets bound the size
    * of every cross-bucket bookkeeping frame (partials, need pairs), so
    * tracking an unbounded `spark.sql.shuffle.partitions` would let a
    * 64k-partition cluster config quietly inflate the "tiny" frames;
    * 1024 buckets already give full parallelism on any realistic
    * executor count while keeping every pair computation trivially
    * broadcast-local. Explicit caller `buckets` values are honored
    * as-is (tests exercise 4096).
    */
  private[graft] val MAX_BUCKETS = 1024

  private val boundsCache = new graft.SessionMemo[Array[Any]]()

  /** Fits whose collapse was already logged/counted — the warning and
    * the observability counters fire ONCE per memoized (fit,
    * tieAgnostic) PAIR, not once per prep() call (bench reps of a
    * skewed query would otherwise re-log every rep). Keying on the pair
    * is deliberate: the two messages differ (reroute vs pinned), so a
    * fit shared by a tie-agnostic op and a pinning op logs once per
    * wording, and collapseWarnings counts the same pairs.
    */
  private val collapseSeen = new graft.SessionMemo[Unit]()

  /** Test/visibility hook: number of memoized bounds fits. */
  private[graft] def boundsFitCount: Int = boundsCache.size

  /** Test/visibility counter: quantile/sample scans actually RUN (memo
    * and alias hits don't count) — chained-op specs assert the alias
    * path skips the re-scan.
    */
  private[graft] val fitScans = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Phantom-volume ceiling for [[frolladapt]]: when the fit-estimated
    * duplicated-row volume exceeds this multiple of the data, the
    * bucket count is reduced until it fits (fewer bucket edges = fewer
    * rows within reach of one). 2x phantoms is already a heavy but
    * workable union; past it the value-phantom design degenerates
    * toward copying the dataset per bucket.
    */
  private[graft] val PHANTOM_RATIO_MAX = 2.0

  /** Memoized phantom-guard decisions per (fit, reach): the reduced
    * bucket count, computed (and warned about) once per fit — bench
    * reps of a wide-reach query must not re-log every rep.
    */
  private val phantomGuardCache = new graft.SessionMemo[Int]()

  /** Test/visibility counter: fits whose phantom estimate forced a
    * bucket reduction.
    */
  private[graft] val phantomGuardReductions =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Estimated phantom rows / data rows for a value-reach of `reach`
    * along a key whose quantile bounds are `bounds` — no data scan: the
    * bounds ARE an empirical CDF (F(t) ≈ #bounds<t / (|bounds|+1)), and
    * bucket d's minimum is ≈ bounds(d−1), so the rows copied into
    * bucket d are the F-mass of [min_d − reach, min_d). Local calendar
    * windows sum to ≲1; a reach spanning the axis sums to ~buckets/2.
    *
    * NUMERIC axes only: integer/decimal bounds widen to double; a
    * non-numeric bound type (nothing [[frolladapt]] accepts — its reach
    * arithmetic is numeric — but callers could hand-roll one) yields an
    * empty sample and estimate 0.0, i.e. the phantom guard deliberately
    * stands down rather than guessing a reach scale it cannot compare.
    */
  private[graft] def phantomRatioEst(bounds: Array[Any],
                                     reach: Double): Double = {
    val ds = bounds.collect {
      case d: Double => d
      case f: Float => f.toDouble
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case s: Short => s.toDouble
      case b: Byte => b.toDouble
      case d: java.math.BigDecimal => d.doubleValue
      case d: BigDecimal => d.toDouble
    }.sorted
    if (ds.isEmpty || reach <= 0) 0.0
    else {
      val denom = (ds.length + 1).toDouble
      def below(t: Double): Int = {
        var lo = 0; var hi = ds.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ds(mid) < t) lo = mid + 1 else hi = mid
        }
        lo
      }
      ds.map(m => (below(m) - below(m - reach)) / denom).sum
    }
  }

  /** Structured skew-degeneracy observability (test-asserted): fits
    * whose raw quantiles collapsed (mostly-duplicate bounds), and how
    * many of those were auto-rerouted through the tie-break bucketing.
    */
  private[graft] val collapseWarnings = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val collapseReroutes = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Forget every memoized bucket-bounds fit — call between in-session
    * rewrites of a corpus, like every other fit memo.
    */
  def clearFits(): Unit = {
    boundsCache.clear()
    collapseSeen.clear()
    phantomGuardCache.clear()
  }

  /** Driver-side sort of sampled bound candidates. Order here only
    * affects bucket balance (plan-side comparisons use Spark's own
    * ordering), but strings still sort by UTF-8 bytes to track
    * UTF8String's binary order.
    */
  private def sortSampled(vals: Array[Any]): Array[Any] = {
    import org.apache.spark.unsafe.types.UTF8String
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: String, y: String) =>
        // UTF8String.compareTo IS the plan-side binary order
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      case _ => a.toString < b.toString
    }
    vals.sortWith(lt)
  }

  /** The one-column frame a fit scans (numeric keys cast to double for
    * approxQuantile), plus whether the key is numeric — shared between
    * [[boundsFor]] and the [[aliasFit]] memo-key computation so the two
    * always hash the same plan shape.
    */
  private def fitFrame(df: DataFrame, key: Column): (DataFrame, Boolean) = {
    val numeric = df.select(key).schema.head.dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    (if (numeric) df.select(key.cast("double").as("_graft_k"))
     else df.select(key.as("_graft_k")), numeric)
  }

  /** Canonical TEXT of the key expression with exprIds stripped: two
    * bench reps of one DSL build resolve to fresh exprIds, so hashing a
    * resolved tree raw would miss the memo every rep, while unresolved
    * `col(...)` keys are already rep-stable text.
    */
  private def keyText(df: DataFrame, key: Column): String = {
    // Column.toString is the node's SQL text — rep-stable and free of
    // exprIds/origins (GraftSqlBridge.expression would hand back a lazy
    // ColumnNodeExpression wrapper whose toString embeds a per-call
    // stack-trace Origin — a memo key poisoned to always miss).
    // RESOLVED attribute keys additionally record their position in
    // df's output: after a self-join two different attributes print the
    // same text, and a text-only key could hand one the other's bounds
    // — wrong-type/skewed buckets (ADVICE r21 low). The position is
    // rep-stable (plan shape, not exprIds).
    val base = key.toString()
    org.apache.spark.sql.GraftSqlBridge.eagerExpression(key) match {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        val idx = df.queryExecution.analyzed.output.indexWhere(_.exprId == a.exprId)
        if (idx >= 0) s"$base@$idx" else base
      case _ => base
    }
  }

  /** Memo key WITHOUT a fresh analyzer run (optimization round 21): the
    * input Dataset's plan is already analyzed (Dataset construction is
    * eager), so its semanticHash costs one canonicalization walk; the
    * key expression contributes its exprId-stripped text. The former
    * key — semanticHash of a NEW `df.select(key)` Dataset — re-ran the
    * full analyzer batch once per prep() AND once per aliasFit() per
    * bench rep, the dominant driver-side cost of the global-window
    * family (measured 0.2-0.5 s/rep at sf0.1). Discrimination is
    * unchanged: (plan hash, key text, buckets) determines the fit
    * frame; bounds are correctness-neutral either way (bucketCol is
    * monotone for ANY bound set).
    */
  private def fitKeyOf(df: DataFrame, key: Column, buckets: Int): String =
    graft.SessionMemo.planKey(df) + ":" + keyText(df, key) + ":" + buckets

  /** RAW bucket bounds (duplicates kept — they are the skew signal):
    * one-pass approxQuantile for numeric keys; a bounded deterministic
    * sample (≤~200k values, seed-pinned) sorted driver-side for any
    * other orderable type.
    */
  private def boundsFor(df: DataFrame, key: Column,
                        buckets: Int): (Array[Any], String) = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val memoKey = fitKeyOf(df, key, buckets)
    (boundsCache.getOrElsePut(df.sparkSession, memoKey) {
      fitScans.incrementAndGet()
      val (frame, numeric) = fitFrame(df, key)
      // buckets=1 needs no bounds at all (and approxQuantile returns
      // null for an empty probability array rather than an empty one)
      if (buckets == 1) Array.empty[Any]
      else if (numeric) {
        val qs = frame.na.drop()
          .stat.approxQuantile("_graft_k",
            (1 until buckets).map(_.toDouble / buckets).toArray, 0.001)
        if (qs == null) Array.empty[Any] else qs.sorted.map(x => x: Any)
      } else {
        val nn = frame.na.drop()
        val n = nn.count()
        if (n == 0) Array.empty[Any]
        else {
          val fraction = math.min(1.0, 200000.0 / n)
          val vals = nn.sample(withReplacement = false, fraction, 42L)
            .collect().map(_.get(0))
          if (vals.isEmpty) Array.empty[Any]
          else {
            val sorted = sortSampled(vals)
            (1 until buckets)
              .map(i => sorted(((i.toLong * sorted.length) / buckets).toInt
                .min(sorted.length - 1)))
              .toArray
          }
        }
      }
    }, memoKey)
  }

  /** Bucket id as a pure expression over the key: the count of bounds
    * strictly below (asc) / above (desc) the key, nulls pinned to the
    * first or last bucket per the sort's null placement. Equal keys
    * always map to one bucket, so no tie block ever spans buckets.
    * Comparisons run in the plan with Spark's own type ordering, so a
    * driver-side mis-sorted bound could only unbalance buckets, never
    * split a range (the count-of-bounds-below form is monotone for ANY
    * bound set).
    */
  private def bucketCol(key: Column, bounds: Array[Any], asc: Boolean,
                        nullsFirst: Boolean): Column = {
    // Count of bounds passed by the key (strictly below for asc, above
    // for desc), as a BINARY-SEARCH expression over the ascending-sorted
    // bounds: a bound passed at the midpoint implies every bound on its
    // side is passed too (sortedness, duplicates included), so the tree
    // has O(|bounds|) nodes but O(log |bounds|) depth — a linear
    // when-chain at 4096 bounds is 4095 comparisons per row AND a
    // codegen-hostile 4095-deep expression. Small spans stay linear
    // (fewer branches than a 4-level tree).
    def passed(b: Any): Column = if (asc) key > lit(b) else key < lit(b)
    def count(lo: Int, hi: Int): Column =
      if (hi - lo <= 16)
        (lo until hi).foldLeft(lit(0))((acc, i) =>
          acc + when(passed(bounds(i)), 1).otherwise(0))
      else {
        val mid = (lo + hi) / 2
        if (asc)
          // key > bounds(mid) ⟹ key > bounds(i) ∀ i ≤ mid
          when(passed(bounds(mid)), lit(mid - lo + 1) + count(mid + 1, hi))
            .otherwise(count(lo, mid))
        else
          // key < bounds(mid) ⟹ key < bounds(i) ∀ i ≥ mid
          when(passed(bounds(mid)), lit(hi - mid) + count(lo, mid))
            .otherwise(count(mid + 1, hi))
      }
    val base = count(0, bounds.length)
    when(key.isNull, lit(if (nullsFirst) 0 else bounds.length)).otherwise(base)
  }

  private def ordOf(key: Column, asc: Boolean, nullsFirst: Boolean): Column =
    (asc, nullsFirst) match {
      case (true, true)   => key.asc_nulls_first
      case (true, false)  => key.asc_nulls_last
      case (false, true)  => key.desc_nulls_first
      case (false, false) => key.desc_nulls_last
    }

  /** A bucketed frame plus the within-bucket window order (a single
    * sort on the key normally; key + content-hash tie-break after a
    * skew reroute).
    */
  private case class Prepped(b: DataFrame, ords: Seq[Column],
                             fit: Option[(Array[Any], Int)] = None) {
    /** The fit's bucket count; None for a caller-supplied bucket
      * expression ([[cumsumWith]]), whose distinct values are unbounded.
      */
    def buckets: Option[Int] = fit.map(_._2)
  }

  /** Resolve the bucket/partition count: callers pass 0 (the default)
    * to track `spark.sql.shuffle.partitions` — a hardcoded constant
    * would cap the tier's parallelism on a real cluster where shuffle
    * partitions are sized to the data (locally both are 32) — clamped
    * to [[MAX_BUCKETS]] so an aggressive partitions config can't blow
    * up the cross-bucket bookkeeping frames.
    */
  private def effBuckets(df: DataFrame, buckets: Int): Int =
    if (buckets > 0) buckets
    else math.min(MAX_BUCKETS, math.max(1,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt))

  /** df + the bucket column (asc defaults to Spark's nulls-first,
    * desc to nulls-last, overridable for frank's na.last=), with skew
    * degeneracy detection: raw quantile bounds that are mostly
    * duplicates mean one value dominates the key. That logs a warning
    * always, and for `tieAgnostic` ops AUTO-COMPOSES a content-hash
    * tie-break into the bucketing: a bound value duplicated m times in
    * the raw quantiles frees m consecutive bucket ids that only its tie
    * block can occupy, so the block scatters over them by a MONOTONE
    * slice of xxhash64(*) — the bucket stays a pure expression of
    * (key, hash), the within-bucket order becomes (key, hash), and the
    * window's hash exchange remains the plan's only full-data shuffle.
    * Ops that pin tie blocks to one bucket (frank/rleid/nafill) keep
    * the collapsed-but-correct buckets.
    */
  private def prep(df: DataFrame, key: Column, asc: Boolean, buckets0: Int,
                   nullsFirst: Option[Boolean] = None,
                   tieAgnostic: Boolean = false): Prepped = {
    val buckets = effBuckets(df, buckets0)
    val nf = nullsFirst.getOrElse(asc)
    val ord = ordOf(key, asc, nf)
    val (raw, fitTag) = boundsFor(df, key, buckets)
    val distinctB = raw.distinct
    val collapsed = raw.nonEmpty && distinctB.length < (raw.length + 1) / 2
    // warning + counters fire once per memoized FIT (not per prep call /
    // bench rep); clearFits resets the seen-set with the bounds
    if (collapsed)
      collapseSeen.getOrElsePut(df.sparkSession, fitTag + ":" + tieAgnostic) {
        collapseWarnings.incrementAndGet()
        if (tieAgnostic) collapseReroutes.incrementAndGet()
        System.err.println(
          s"[graft] GlobalOrdered: bucket fit collapsed to ${distinctB.length + 1} " +
            s"of $buckets requested buckets (near-constant order key)" +
            (if (tieAgnostic) "; scattering tie blocks via content-hash tie-break"
             else "; this op pins tie blocks to one bucket — expect reduced parallelism"))
      }
    if (collapsed && tieAgnostic) {
      val h = xxhash64(df.columns.map(col): _*)
      // base counts RAW (duplicated) bounds below the key, so each
      // value duplicated m times leaves the m ids after its block's
      // base unoccupied by any other key range
      val base = bucketCol(key, raw, asc, nf)
      // signed long → [0, 1) monotonically (divide by 2^64, shift up)
      val h01 = h.cast("double") / lit(1.8446744073709552e19) + lit(0.5)
      // the scatter test `key === lit(v)` compares through the bound's
      // type: numeric fits store DOUBLE quantiles, and an integral key
      // beyond 2^53 shares its double image with neighbors — those
      // would scatter by hash while ordering by the EXACT key, breaking
      // bucket/order monotonicity. Scatter only values whose image
      // identifies exactly one key: sampled (exact-typed) bounds
      // always; double-image integral bounds only below 2^53; Decimal
      // keys (arbitrary precision vs double fit) never.
      val kt = df.select(key).schema.head.dataType
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType, DecimalType}
      val scatterable: Any => Boolean = kt match {
        case _: DecimalType => _ => false
        case ByteType | ShortType | IntegerType | LongType => {
          case d: java.lang.Double => math.abs(d) < 9007199254740992.0
          case _ => true
        }
        case _ => _ => true
      }
      val mult = raw.groupBy(identity).collect {
        case (v, g) if g.length >= 2 && scatterable(v) => (v, g.length)
      }.toSeq
      val sub = mult.foldLeft(lit(0)) { case (acc, (v, m)) =>
        when(key === lit(v),
          least(floor(h01 * m), lit(m - 1)).cast("int")).otherwise(acc)
      }
      // one projection for both helper columns (withColumns) — two
      // chained withColumn calls are two analyzer passes over df
      Prepped(df.withColumns(Map(TB -> h, BKT -> (base + sub))),
        Seq(ord, col(TB).asc), Some((raw, buckets)))
    } else
      Prepped(df.withColumn(BKT, bucketCol(key, distinctB, asc, nf)),
        Seq(ord), Some((raw, buckets)))
  }

  /** Test hook: the bucketed frame a given fit would produce (BKT
    * column included), for asserting effective bucket counts.
    */
  private[graft] def preppedForTest(df: DataFrame, key: Column, asc: Boolean,
                                    buckets: Int,
                                    tieAgnostic: Boolean): DataFrame =
    prep(df, key, asc, buckets, tieAgnostic = tieAgnostic).b

  /** Per-bucket partials of `b`: `aggs` grouped by the bucket column,
    * which comes out as `_b`. The map-side partial aggregate emits up
    * to `buckets` rows per input split, so the final aggregate reads up
    * to splits × buckets rows. When that estimate (splits = the larger
    * of `spark.sql.shuffle.partitions` and b's estimated size over
    * `spark.sql.files.maxPartitionBytes`) fits in
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` — the size at
    * which AQE coalesces the final aggregate into one reducer anyway —
    * the result is gathered with `coalesce(1)`: CoalesceExec(1) reports
    * SinglePartition, so the final aggregate and every partials window
    * over it run in one task of the broadcast job, with no exchange
    * between them. Above it, with no known bucket count, or when b is
    * already clustered on the bucket ([[clusteredOnBucket]]) the final
    * aggregate stays distributed and each window plans its own
    * single-partition exchange.
    */
  private def partialsOf(b: DataFrame, buckets: Option[Int], aggs: Column*): DataFrame = {
    val partials = b.groupBy(col(BKT).as("_b")).agg(aggs.head, aggs.tail: _*)
    val conf = b.sparkSession.sessionState.conf
    val splits = BigInt(conf.numShufflePartitions).max(
      (b.queryExecution.optimizedPlan.stats.sizeInBytes +
        conf.filesMaxPartitionBytes - 1) / conf.filesMaxPartitionBytes)
    // 8 bytes of row header over the schema's default field sizes
    val rowBytes = 8L + partials.schema.defaultSize
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val small = buckets.exists(n => splits * n * rowBytes <= advisory)
    if (small && !clusteredOnBucket(b)) partials.coalesce(1)
    else partials
  }

  /** b's rows already arrive hash-clustered on the bucket (rleid's
    * within-bucket windows): its aggregate plans no exchange of its own,
    * and the narrow coalesce(1) would pull b's whole reduce side — the
    * full-data sort and windows — into one task.
    */
  private def clusteredOnBucket(b: DataFrame): Boolean = {
    val planned = EnsureRequirements().apply(b.queryExecution.sparkPlan)
    planned.output.find(_.name == BKT).exists(a =>
      planned.outputPartitioning.satisfies(ClusteredDistribution(Seq(a))))
  }

  /** The prefix/suffix window over the TINY partials frame (≤ buckets
    * rows, see [[partialsOf]]): partitioned by a constant so Catalyst
    * plans an ordinary (single-group) WindowExec over a provably
    * bounded frame — NOT a partitionless window over the data, which
    * the plan-shape specs forbid. Over gathered partials it runs in the
    * aggregate's own task. This replaces the former all-pairs broadcast
    * self-join, which materialized O(buckets²) join rows.
    */
  private def partialsWindow =
    Window.partitionBy(lit(0)).orderBy(col("_b"))

  /** Aggregates of `partials` ([[partialsOf]]) over STRICTLY-PRIOR
    * buckets, one row per bucket (first bucket gets nulls — the empty
    * prefix frame). Each agg is an aggregate function over a partials
    * column, paired with its output name. Over gathered partials the
    * window runs in the final aggregate's task; over distributed ones
    * it adds one single-partition exchange of ≤ buckets rows.
    */
  private def priorsOf(partials: DataFrame, aggs: (Column, String)*): DataFrame =
    partials.select(
      col("_b") +: aggs.map { case (a, n) => a.over(priorBuckets).as(n) }: _*)

  /** The STRICTLY-PRIOR frame over the partials window. */
  private def priorBuckets: WindowSpec =
    partialsWindow.rowsBetween(Window.unboundedPreceding, -1)

  /** Register `out`'s key-plan as an ALIAS of the fit that bucketed its
    * input: every global op is row-preserving, so the output's key
    * distribution equals the input's. A chained by=Nil op (shift of a
    * shift, frank over frank output) then hits the bounds memo instead
    * of re-running the quantile scan THROUGH the first op's whole plan
    * - at cluster scale each skipped fit is a full upstream pass.
    * Costs one plan analysis (no job).
    */
  private def aliasFit(out: DataFrame, key: Column, p: Prepped): DataFrame = {
    p.fit.foreach { case (raw, b) =>
      boundsCache.getOrElsePut(out.sparkSession, fitKeyOf(out, key, b))(raw)
    }
    out
  }

  private def joinPriors(b: DataFrame, priors: DataFrame): DataFrame =
    b.join(broadcast(priors), col(BKT) === col("_b"), "left").drop("_b")

  /** The within-bucket window: partitioned by the bucket, ordered by the
    * prepped order (key, plus the content-hash tie-break after a skew
    * reroute). Every per-bucket pass of the tier runs over it.
    */
  private def bucketWindow(ords: Seq[Column]): WindowSpec =
    Window.partitionBy(col(BKT)).orderBy(ords: _*)

  /** `outs` written over `j` with `dropCols` removed, as ONE projection
    * (each withColumn/drop is a full analyzer pass over the plan). An
    * `out` that already exists is replaced in place, like withColumn;
    * new ones are appended in order.
    */
  private def withOuts(j: DataFrame, outs: Seq[(String, Column)],
                       dropCols: Seq[String]): DataFrame = {
    val byName = outs.toMap
    val keep = j.columns.toSeq.filterNot(dropCols.toSet)
    j.select(keep.map(c => byName.get(c).fold(col(c))(_.as(c))) ++
      outs.collect { case (o, r) if !keep.contains(o) => r.as(o) }: _*)
  }

  /** Null-tolerant combine: null ∘ x = x, x ∘ null = x, null ∘ null =
    * null (each side is an already-aggregated partial; a missing side
    * means "no rows", not poison — poison is tracked separately).
    * `+` alone would poison on a null side; least/greatest would not,
    * but share the one shape.
    */
  private def combineNT(a: Column, b: Column)(f: (Column, Column) => Column): Column =
    when(a.isNull, b).when(b.isNull, a).otherwise(f(a, b))

  // ---- cumulative sum/prod/min/max (global tier of Windows.cum) ------

  /** One fn's prefix carry: its per-bucket partials as (name, aggregate
    * over the bucket's rows, aggregate combining the partials of prior
    * buckets), and its running value from the carried partials (columns
    * of the same names after the join) and the within-bucket window.
    */
  private case class CumCarry(partials: Seq[(String, Column, Column => Column)],
                              value: WindowSpec => Column)

  /** The carry of `fn` ∈ sum | prod | min | max over `x`.
    *
    * prod is the log-space sign/zero/null tracked form of
    * `Windows.cum("prod")`: zero count, negative count and log-magnitude
    * sum. FP contract (like sum's reassociation note): the magnitude is
    * exp(Σ log|x|), NOT a sequential multiply — for general magnitudes
    * the two accumulate rounding differently (and saturate to
    * Inf/underflow to 0 at different prefixes), so bit-parity with
    * `cum("prod_exact")` holds only for exactly-representable factor
    * sets (±1/0, powers of two). This is the same trade
    * `Windows.cum("prod")` documents — log-space is what makes the
    * running product O(n) and prefix-combinable; use `prod_exact` (and
    * its sequential cost) where bitwise parity matters.
    */
  private def cumCarry(fn: String, x: Column): CumCarry = fn match {
    case "sum" =>
      CumCarry(Seq(("_ps", sum(x), sum(_))),
        wc => combineNT(col("_ps"), sum(x).over(wc))(_ + _))
    case "min" | "max" =>
      val agg: Column => Column = if (fn == "min") min(_) else max(_)
      val pick: (Column, Column) => Column =
        if (fn == "min") least(_, _) else greatest(_, _)
      val pm = s"_p$fn"
      CumCarry(Seq((pm, agg(x), agg)),
        wc => combineNT(col(pm), agg(x).over(wc))(pick))
    case "prod" =>
      val xd = x.cast("double")
      val zero = when(xd === 0.0, 1L).otherwise(0L)
      val neg = when(xd < 0.0, 1L).otherwise(0L)
      val logAbs = when(xd =!= 0.0, log(abs(xd)))
      CumCarry(Seq(("_pz", sum(zero), sum(_)), ("_pneg", sum(neg), sum(_)),
        ("_plog", sum(logAbs), sum(_))), { wc =>
        val zeros = coalesce(col("_pz"), lit(0L)) + sum(zero).over(wc)
        val negs = coalesce(col("_pneg"), lit(0L)) + sum(neg).over(wc)
        val logMag = combineNT(col("_plog"), sum(logAbs).over(wc))(_ + _)
        when(zeros > 0, lit(0.0))
          .otherwise(when(negs % 2 === 0, lit(1.0)).otherwise(lit(-1.0)) *
            exp(coalesce(logMag, lit(0.0))))
      })
    case other => throw new IllegalArgumentException(
      s"cum($other) has no global tier (exact sequential FP is " +
        "inherently single-stream); pass allowGlobal=true for " +
        "provably-small frames")
  }

  /** Global running aggregates of `x` along `key` — per op
    * `(fn, naRm, out)` the semantics of `Windows.cum(fn, x, by = Nil,
    * ...)` (NA-poison by default, naRm=true opts into skip-NULL SQL
    * aggregation) without the single-partition WindowExec. All ops share
    * ONE bucketing, ONE partials aggregation and ONE broadcast join, and
    * their within-bucket windows share partitioning and ordering, so
    * Catalyst plans one WindowExec for all of them (the running extremes,
    * sums and products are independent of each other).
    */
  def cum(df: DataFrame, x: Column, key: Column,
          ops: Seq[(String, Boolean, String)], asc: Boolean = true,
          buckets: Int = 0, nullsFirst: Option[Boolean] = None): DataFrame = {
    require(ops.nonEmpty, "cum needs at least one op")
    // an fn without a global tier fails here, before the eager bounds fit
    val carries = ops.map(_._1).distinct.map(fn => fn -> cumCarry(fn, x))
    val p = prep(df, key, asc, buckets, nullsFirst, tieAgnostic = true)
    aliasFit(cumBucketed(p, x, carries, ops), key, p)
  }

  def cumsum(df: DataFrame, x: Column, key: Column, out: String,
             asc: Boolean = true, naRm: Boolean = false, buckets: Int = 0,
             nullsFirst: Option[Boolean] = None): DataFrame =
    cum(df, x, key, Seq(("sum", naRm, out)), asc, buckets, nullsFirst)

  def cumprod(df: DataFrame, x: Column, key: Column, out: String,
              asc: Boolean = true, naRm: Boolean = false, buckets: Int = 0,
              nullsFirst: Option[Boolean] = None): DataFrame =
    cum(df, x, key, Seq(("prod", naRm, out)), asc, buckets, nullsFirst)

  def cumMinMax(df: DataFrame, x: Column, key: Column, out: String,
                isMin: Boolean, asc: Boolean = true, naRm: Boolean = false,
                buckets: Int = 0,
                nullsFirst: Option[Boolean] = None): DataFrame =
    cum(df, x, key, Seq((if (isMin) "min" else "max", naRm, out)), asc,
      buckets, nullsFirst)

  /** [[cumsum]] with a CALLER-SUPPLIED bucket expression — any pure,
    * sort-monotone function of the key (e.g. `floor(-logw)` for a
    * descending cumulative over a histogram) stands in for the quantile
    * fit: no eager bounds job at all. The bucket must be non-decreasing
    * along the sort and null-safe (map null keys where the sort places
    * them); bucket balance only affects parallelism, never correctness.
    * Its distinct values have no known bound, so the per-bucket partials
    * always keep a distributed final aggregate ([[partialsOf]]).
    */
  def cumsumWith(df: DataFrame, x: Column, key: Column, bucket: Column,
                 out: String, asc: Boolean = true,
                 naRm: Boolean = false): DataFrame =
    cumBucketed(Prepped(df.withColumn(BKT, bucket),
      Seq(ordOf(key, asc, nullsFirst = asc))), x,
      Seq("sum" -> cumCarry("sum", x)), Seq(("sum", naRm, out)))

  /** The prefix-carry skeleton: per-bucket partials of every carry plus
    * the non-null and row counts, their sums over strictly-prior buckets
    * joined back, and per op the carried running value behind the
    * NA-poison (or, with naRm, all-NA) gate.
    */
  private def cumBucketed(p: Prepped, x: Column, carries: Seq[(String, CumCarry)],
                          ops: Seq[(String, Boolean, String)]): DataFrame = {
    val wc = bucketWindow(p.ords).rowsBetween(Window.unboundedPreceding, 0)
    val parts = carries.flatMap(_._2.partials) ++ Seq(
      ("_pnn", count(x), sum(_: Column)), ("_pn", count(lit(1)), sum(_: Column)))
    val partials = partialsOf(p.b, p.buckets,
      parts.map { case (n, a, _) => a.as(n) }: _*)
    val j = joinPriors(p.b,
      priorsOf(partials, parts.map { case (n, _, c) => c(col(n)) -> n }: _*))
    val nnPfx = coalesce(col("_pnn"), lit(0L)) + count(x).over(wc)
    val nPfx = coalesce(col("_pn"), lit(0L)) + count(lit(1)).over(wc)
    val byFn = carries.toMap
    val outs = ops.map { case (fn, naRm, out) =>
      out -> when(if (naRm) nnPfx === 0 else nnPfx < nPfx, lit(null))
        .otherwise(byFn(fn).value(wc))
    }
    withOuts(j, outs, Seq(BKT, TB) ++ parts.map(_._1))
  }

  // ---- frank (global tier of Windows.frankNa) -------------------------

  /** Global frank — ties min/dense/max/average/first/last with na.last
    * handling, `Windows.frankNa` semantics for `by = Nil`. Every
    * `(ties, out)` entry ranks the SAME value column over ONE bucketing,
    * one partials aggregation and one broadcast join: the (_pn, _pd)
    * offsets are identical across ties methods, and the within-bucket
    * windows all share the bucket partitioning, so no extra exchange
    * appears per method.
    *
    * The value column doubles as the bucket key, so tie blocks stay
    * whole and per-bucket ranks correct by prior-bucket row/distinct
    * counts; `more` adds secondary ranked columns (frankv's cols/order
    * vector, tests.Rraw 2386.*) as (bare column, descending) pairs —
    * their tie blocks nest inside the first column's, so bucketing is
    * untouched and only the within-bucket order, tie partitions, and
    * distinct counts widen to the tuple. `appearance` (needed for
    * ties="first"/"last") must be unique per row.
    */
  def frankMulti(df: DataFrame, value: Column, desc: Boolean,
                 tiesOuts: Seq[(String, String)], naLast: String,
                 appearance: Seq[Column] = Nil, buckets: Int = 0,
                 more: Seq[(Column, Boolean)] = Nil): DataFrame = {
    require(tiesOuts.nonEmpty, "frankMulti needs at least one (ties, out)")
    if (naLast == "keep" && more.nonEmpty) {
      // multi-column na.last="keep": the reference NA-outs rows with ANY
      // ranked column NA (R/frank.R is_na(x, cols)); rank the fully
      // non-null subset and union the NA rows back — removed rows cannot
      // offset any surviving rank
      val anyNull = (value +: more.map(_._1)).map(_.isNull).reduce(_ || _)
      val ranked = frankMulti(df.filter(!anyNull), value, desc, tiesOuts,
        "true", appearance, buckets, more)
      return ranked.unionByName(
        tiesOuts.foldLeft(df.filter(anyNull)) { case (acc, (ties, out)) =>
          acc.withColumn(out,
            lit(null).cast(if (ties == "average") "double" else "long"))
        })
    }
    val nullsFirst = naLast == "false"
    val asc = !desc
    // tie blocks must stay whole (rank offsets count prior-bucket rows),
    // so frank never tie-breaks buckets — a near-constant value column
    // keeps the collapsed fit + warning (see prep)
    val p = prep(df, value, asc, buckets, Some(nullsFirst))
    val b = p.b
    val ords = ordOf(value, asc, nullsFirst) +:
      more.map { case (c, d) => ordOf(c, !d, nullsFirst) }
    val tieVals = value +: more.map(_._1)
    val w = bucketWindow(ords)
    val partials = partialsOf(b, p.buckets,
      count(lit(1)).as("_pn"),
      // distinct RANKED TUPLES per bucket: the single-column form counts
      // nulls via the max-when adjust (countDistinct skips them); the
      // tuple form wraps in a never-null struct, whose null fields
      // group null-safe like rank ordering does
      (if (more.isEmpty)
         countDistinct(value) + max(when(value.isNull, 1).otherwise(0))
       else countDistinct(struct(tieVals: _*))).as("_pd"))
    val priors = priorsOf(partials,
      sum(col("_pn")) -> "_pn", sum(col("_pd")) -> "_pd")
    val j = joinPriors(b, priors)
    val rowOff = coalesce(col("_pn"), lit(0L))
    val tiePart = Window.partitionBy(col(BKT) +: tieVals: _*)
    def rankCol(ties: String): Column = ties match {
      case "min"   => rank().over(w) + rowOff
      case "dense" => dense_rank().over(w) + coalesce(col("_pd"), lit(0L))
      case "first" | "last" =>
        require(appearance.nonEmpty,
          s"global frank(ties=\"$ties\") needs unique `appearance` columns")
        val app = if (ties == "first") appearance
                  else appearance.map(Windows.flipOrder)
        row_number().over(bucketWindow(ords ++ app)) + rowOff
      case "max" =>
        rank().over(w) + count(lit(1)).over(tiePart) - 1 + rowOff
      case "average" =>
        rank().over(w) + (count(lit(1)).over(tiePart) - 1) / 2.0 + rowOff
      case other => throw new IllegalArgumentException(
        s"global frank ties.method=$other (first|last|min|max|dense|average)")
    }
    val outs = tiesOuts.map { case (ties, out) =>
      val r = rankCol(ties)
      out -> (if (naLast == "keep") when(value.isNull, lit(null)).otherwise(r)
              else r)
    }
    aliasFit(withOuts(j, outs, Seq(BKT, TB, "_pn", "_pd")), value, p)
  }

  def frank(df: DataFrame, value: Column, desc: Boolean, ties: String,
            naLast: String, out: String, appearance: Seq[Column] = Nil,
            buckets: Int = 0,
            more: Seq[(Column, Boolean)] = Nil): DataFrame =
    frankMulti(df, value, desc, Seq((ties, out)), naLast, appearance,
      buckets, more)

  // ---- rleid (global tier of Windows.rleid) ---------------------------

  /** Global run-length id along `key` — per-bucket rleid plus a run
    * count carried across buckets, with a −1 correction wherever a
    * bucket's first row continues the previous nonempty bucket's last
    * run (field-wise null-safe equality, NA==NA same run like the
    * reference). All cross-bucket bookkeeping happens on the tiny
    * partials frame.
    */
  def rleid(df: DataFrame, cols: Seq[String], key: Column, out: String,
            asc: Boolean = true, buckets: Int = 0,
            nullsFirst: Option[Boolean] = None): DataFrame = {
    require(cols.nonEmpty, "rleid needs value columns")
    // runs must stay contiguous within buckets, so rleid never
    // tie-breaks the bucketing (near-constant key → collapsed fit +
    // warning; within-tie order is nondeterministic there anyway)
    val p = prep(df, key, asc, buckets, nullsFirst)
    val within = Windows.rleid(p.b, cols, p.ords, Seq(BKT), "_graft_rid")
    // first/last IN THE ORDER DIRECTION: descending order starts at the
    // max key, so the extractors swap. min_by/max_by on the bare key
    // would SKIP null-key rows (null ordering key), so the extraction
    // key is a never-null struct whose leading rank places the null-key
    // tie block on the side the sort puts it (within the block the key
    // fields tie — arbitrary pick, same contract as any tie).
    val nf = nullsFirst.getOrElse(asc)
    val kOrd = struct(
      when(key.isNull, lit(if (nf == asc) -1 else 1)).otherwise(lit(0)).as("nr"),
      key.as("k"))
    val firstLast = cols.flatMap(c => Seq(
      (if (asc) min_by(col(c), kOrd) else max_by(col(c), kOrd)).as(s"_f_$c"),
      (if (asc) max_by(col(c), kOrd) else min_by(col(c), kOrd)).as(s"_l_$c")))
    val partials = partialsOf(within, p.buckets,
      max(col("_graft_rid")).as("_runs") +: firstLast: _*)
    // previous NONEMPTY bucket's last values per bucket: partials only
    // has nonempty buckets, so lag over the tiny partials window IS the
    // prev-nonempty lookup (no all-pairs self-join). A null lag of _b
    // means "no prior bucket"; a null lagged _pl_c with _prev set means
    // the prev run genuinely ended in NA — the <=> compare handles it.
    // merge(b) = 1 when first(b) equals last(prev nonempty b), per-field
    // null-safe (consecutive NA runs merge, reference uniqlist semantics)
    val withLags = cols.foldLeft(
      partials.withColumn("_prev", lag(col("_b"), 1).over(partialsWindow))) {
      (acc, c) =>
        acc.withColumn(s"_pl_$c", lag(col(s"_l_$c"), 1).over(partialsWindow))
    }
    val merged = withLags
      .withColumn("_merge",
        when(col("_prev").isNull, lit(0L)).otherwise(
          when(cols.map(c => col(s"_f_$c") <=> col(s"_pl_$c")).reduce(_ && _),
            lit(1L)).otherwise(lit(0L))))
      .select(col("_b"), col("_runs"), col("_merge"))
    // offset(b) = Σ_{b'<b} runs − Σ_{b'≤b} merge
    val priors = priorsOf(merged,
      sum(col("_runs")) -> "_pruns", sum(col("_merge")) -> "_pmerge")
    val offsets = merged.join(broadcast(priors), "_b")
      .select(col("_b"),
        (coalesce(col("_pruns"), lit(0L)) - coalesce(col("_pmerge"), lit(0L)) -
          col("_merge")).as("_off"))
    aliasFit(
      within.join(broadcast(offsets), col(BKT) === col("_b"), "left")
        .withColumn(out, col("_graft_rid") + coalesce(col("_off"), lit(0L)))
        .drop(BKT, TB, "_graft_rid", "_b", "_off"),
      key, p)
  }

  // ---- nafill locf/nocb (global tier) ---------------------------------

  /** Global last-non-null carried forward (`locfOut`) and/or next
    * non-null carried backward (`nocbOut`) along `key`, walking the key
    * ascending; only the side or sides asked for are built. Within a
    * bucket LOCF/NOCB run as windows; the carry-in comes from the nearest
    * prior (LOCF) or following (NOCB) bucket that saw a non-null — the
    * per-bucket partial is max (resp. min) of struct(key, x) over
    * non-null x (struct order is key order; null structs are skipped), so
    * the carry is one window over the tiny partials frame. Both sides
    * read the RAW x, so asking for both costs one bucketing, one
    * partials aggregation and one broadcast join; the within-bucket
    * windows share the bucket partitioning, so NOCB's mirrored order
    * adds one sort and no exchange.
    */
  def nafill(df: DataFrame, xIn: Column, key: Column,
             locfOut: Option[String], nocbOut: Option[String],
             buckets: Int = 0, nanIsNa: Boolean = true,
             nullsFirst: Option[Boolean] = None): DataFrame = {
    require(locfOut.nonEmpty || nocbOut.nonEmpty,
      "nafill needs a locf or a nocb output")
    val x = if (nanIsNa) graft.functions.Funcs.nanAsNa(xIn) else xIn
    val p = prep(df, key, asc = true, buckets, nullsFirst)
    // last non-null up to the row along `ords`: LOCF in the sort's
    // order, NOCB in the mirrored one (a prefix frame either way, so
    // linear per bucket; both orders share the bucket partitioning)
    def lastNonNull(ords: Seq[Column]): Column = last(x, ignoreNulls = true)
      .over(bucketWindow(ords).rowsBetween(Window.unboundedPreceding, 0))
    // the carry struct's leading rank pins null-KEY rows to the side the
    // sort places them (a bare struct(key, x) would sort a null key
    // smallest even when the order puts the null block last)
    val nr = when(key.isNull,
      lit(if (nullsFirst.getOrElse(true)) -1 else 1)).otherwise(lit(0))
    val carry = when(x.isNotNull, struct(nr.as("nr"), key.as("k"), x.as("v")))
    // (out, carry column, extreme, carry frame over the partials,
    // within-bucket fill)
    val sides = locfOut.map(o => (o, "_carryL", (c: Column) => max(c),
        priorBuckets, lastNonNull(p.ords))).toSeq ++
      nocbOut.map(o => (o, "_carryN", (c: Column) => min(c),
        partialsWindow.rowsBetween(1, Window.unboundedFollowing),
        lastNonNull(p.ords.map(Windows.flipOrder))))
    val partials = partialsOf(p.b, p.buckets,
      sides.map { case (_, n, agg, _, _) => agg(carry).as(n) }: _*)
    val carries = partials.select(col("_b") +: sides.map {
      case (_, n, agg, frame, _) => agg(col(n)).over(frame).as(n) }: _*)
    val outs = sides.map { case (o, n, _, _, within) =>
      o -> coalesce(within, col(n).getField("v")) }
    aliasFit(withOuts(joinPriors(p.b, carries), outs,
      Seq(BKT, TB) ++ sides.map(_._2)), key, p)
  }

  def nafillLocf(df: DataFrame, xIn: Column, key: Column, out: String,
                 buckets: Int = 0, nanIsNa: Boolean = true,
                 nullsFirst: Option[Boolean] = None): DataFrame =
    nafill(df, xIn, key, Some(out), None, buckets, nanIsNa, nullsFirst)

  def nafillNocb(df: DataFrame, xIn: Column, key: Column, out: String,
                 buckets: Int = 0, nanIsNa: Boolean = true,
                 nullsFirst: Option[Boolean] = None): DataFrame =
    nafill(df, xIn, key, None, Some(out), buckets, nanIsNa, nullsFirst)

  // ---- phantom boundary machinery (shift / froll) ---------------------

  /** df + bucket + phantom flag: edge rows of each bucket copied into
    * the buckets whose frames need them, so ordinary per-bucket
    * lag/lead/rolling frames see across boundaries. Reach is NOT
    * limited to the adjacent bucket: from the tiny per-bucket counts
    * frame, every ordered bucket pair (s, d) gets
    * `need = n − rowsBetween(s, d)` — when positive, s's last (resp.
    * first) `need` rows are copied into d. A bucket smaller than the
    * window width therefore forwards rows it itself received nothing
    * for, and the frames stay exact for ANY bucket-size distribution
    * (property-locked in PropertySpec against drop/pad models).
    * Phantom keys sort strictly outside the host bucket's real keys
    * (no key value spans buckets), so ordering stays correct; callers
    * filter `!PH` after the window.
    */
  private def phantomAugmented(p: Prepped, nBefore: Int,
                               nAfter: Int): DataFrame = {
    val Prepped(b, ords, _) = p
    val real = b.withColumn(PH, lit(false))
    if (nBefore <= 0 && nAfter <= 0) return real
    val counts = partialsOf(b, p.buckets, count(lit(1)).as("_c"))
    // rows in buckets strictly between s and d, for every ordered
    // nonempty pair: between(s,d) = cumIncl(d) − c(d) − cumIncl(s),
    // read off ONE prefix window over the tiny counts frame — the
    // former triple join (pairs × interior buckets) evaluated
    // O(buckets³) join rows, ~10^10 at an explicit buckets=4096
    val pfx = counts.withColumn("_cum",
      sum(col("_c")).over(
        partialsWindow.rowsBetween(Window.unboundedPreceding, 0)))
    val between = pfx.select(col("_b").as("_s"), col("_cum").as("_scum"))
      .join(broadcast(pfx.select(col("_b").as("_d"),
        (col("_cum") - col("_c")).as("_dexcl"))), col("_d") > col("_s"))
      .select(col("_s"), col("_d"),
        (col("_dexcl") - col("_scum")).as("_between"))
    def side(nEdge: Int, toLater: Boolean): Option[DataFrame] =
      if (nEdge <= 0) None
      else {
        // fused: the need filter/projection and the post-join
        // BKT-rewrite + helper-drop + phantom-flag each ran as separate
        // withColumn/drop Datasets (one analyzer pass apiece over the
        // growing tree — optimization r21); one select per step now
        val need = between
          .filter(lit(nEdge.toLong) - col("_between") > 0)
          .select((if (toLater) col("_s") else col("_d")).as("_src"),
            (if (toLater) col("_d") else col("_s")).as("_dest"),
            (lit(nEdge.toLong) - col("_between")).as("_need"))
        val joined = b
          .withColumn("_brn", row_number().over(bucketWindow(
            if (toLater) ords.map(Windows.flipOrder) else ords)).cast("long"))
          .join(broadcast(need),
            col(BKT) === col("_src") && col("_brn") <= col("_need"))
        val outCols = b.columns.toSeq.map {
          case BKT => col("_dest").as(BKT)
          case c => col(c)
        } :+ lit(true).as(PH)
        Some(joined.select(outCols: _*))
      }
    Seq(side(nBefore, toLater = true), side(nAfter, toLater = false))
      .flatten.foldLeft(real)((acc, ph) => acc.unionByName(ph))
  }

  /** The phantom-op skeleton: bucket (tie-agnostic), copy in the edge
    * rows a `frame` = (lo, hi) row window reaches across bucket edges,
    * evaluate `f` over the augmented frame and its within-bucket order,
    * then drop the phantoms and the helper columns.
    */
  private def phantomOp(df: DataFrame, key: Column, asc: Boolean,
                        buckets: Int, nullsFirst: Option[Boolean],
                        frame: (Int, Int))
                       (f: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    val p = prep(df, key, asc, buckets, nullsFirst, tieAgnostic = true)
    dropPhantoms(f(phantomAugmented(p, -frame._1, frame._2), p.ords),
      key, p)
  }

  private def dropPhantoms(aug: DataFrame, key: Column, p: Prepped): DataFrame =
    aliasFit(aug.filter(!col(PH)).drop(BKT, TB, PH), key, p)

  /** Global MULTI-shift along `key` — `Windows.shift(c, n, by = Nil, ...)`
    * semantics per `(out, c, n, fill)` entry via phantom boundary rows.
    * Every entry evaluates over ONE bucketing and ONE phantom union sized
    * to the extreme reaches, so k shifts cost the same single exchange as
    * one (the per-n windows share the bucket partitioning, so Catalyst
    * collapses them into one WindowExec; reference src/shift.c evaluates
    * the whole n vector in one pass for the same reason). The order key
    * must be unique per row; any bucket-size distribution is exact (see
    * [[phantomAugmented]]).
    */
  def shiftMulti(df: DataFrame,
                 shifts: Seq[(String, Column, Int, Column)],
                 key: Column, asc: Boolean = true, buckets: Int = 0,
                 nullsFirst: Option[Boolean] = None): DataFrame = {
    require(shifts.nonEmpty, "shiftMulti needs at least one shift")
    val ns = shifts.map(_._3)
    // lag n > 0 reads n rows before, lead (n < 0) −n rows after
    phantomOp(df, key, asc, buckets, nullsFirst,
      (math.min(0, -ns.max), math.max(0, -ns.min))) { (aug, ords) =>
      shifts.foldLeft(aug) { case (acc, (out, c, n, fill)) =>
        acc.withColumn(out, Windows.shift(c, n, Seq(BKT), ords, fill))
      }
    }
  }

  def shift(df: DataFrame, c: Column, n: Int, key: Column, out: String,
            fill: Column = lit(null), asc: Boolean = true,
            buckets: Int = 0,
            nullsFirst: Option[Boolean] = None): DataFrame =
    shiftMulti(df, Seq((out, c, n, fill)), key, asc, buckets, nullsFirst)

  /** Global fixed-window rolling aggregate — `Windows.froll` semantics
    * for `by = Nil` via phantom boundary rows sized to the frame
    * bounds. partial=true keeps reference partial-window semantics at
    * the true global edges (the first bucket has no phantoms).
    */
  def froll(df: DataFrame, out: String, fn: String, c: Column, n: Int,
            key: Column, align: String = "right", partial: Boolean = false,
            asc: Boolean = true, buckets: Int = 0,
            naRm: Boolean = false,
            nullsFirst: Option[Boolean] = None): DataFrame =
    phantomOp(df, key, asc, buckets, nullsFirst, Windows.bounds(n, align)) {
      (aug, ords) => aug.withColumn(out,
        Windows.froll(fn, c, n, Seq(BKT), ords, align, partial, naRm = naRm))
    }

  /** Global frollapply — [[Windows.frollApplyF]] semantics for
    * `by = Nil` via phantom boundary rows: the closure runs per row
    * over its exact global n-row neighborhood (any bucket-size
    * distribution, same guarantee as [[froll]]). partial=true hands
    * short frames to `f` only at the TRUE global edges (the first/last
    * bucket has no phantoms on its outward side).
    */
  def frollApply(df: DataFrame, out: String, cols: Seq[(String, Column)],
                 n: Int, key: Column,
                 f: Seq[org.apache.spark.sql.Row] => Any,
                 returnType: org.apache.spark.sql.types.DataType,
                 align: String = "right", partial: Boolean = false,
                 asc: Boolean = true, buckets: Int = 0,
                 nullsFirst: Option[Boolean] = None,
                 fill: Column = lit(null)): DataFrame =
    phantomOp(df, key, asc, buckets, nullsFirst, Windows.bounds(n, align)) {
      (aug, ords) => Windows.frollApplyF(aug, out, cols, n, Seq(BKT), ords, f,
        returnType, align, partial, fill = fill)
    }

  /** Global ADAPTIVE rolling aggregate — `Windows.frollAdaptive`
    * semantics for `by = Nil`: phantom reach sized to the LARGEST
    * window any row can request (`maxN − 1` trailing rows for
    * align="right", leading for "left"), so every row's bounded
    * physical frame sees exactly its true global neighborhood; the
    * per-row `an` then slices it like the partitioned tier.
    */
  def frollAdaptive(df: DataFrame, out: String, fn: String, c: Column,
                    an: Column, maxN: Int, key: Column,
                    align: String = "right", asc: Boolean = true,
                    naRm: Boolean = false, partial: Boolean = false,
                    buckets: Int = 0,
                    nullsFirst: Option[Boolean] = None): DataFrame = {
    require(maxN >= 1, s"frollAdaptive: maxN must be >= 1, got $maxN")
    phantomOp(df, key, asc, buckets, nullsFirst,
      Windows.adaptiveBounds(maxN, align)) { (aug, ords) =>
      aug.withColumn(out, Windows.frollAdaptive(fn, c, an, maxN, Seq(BKT),
        ords, naRm = naRm, align = align, partial = partial))
    }
  }

  /** Global calendar-window count — [[Windows.frolladapt]] for
    * `by = Nil`: VALUE-based phantom rows (every row within reach
    * `n − 1` of a later bucket's minimum time is copied there — the
    * per-bucket broadcast of bucket minima decides membership), then
    * the ordinary per-bucket RANGE frame counts; the bucket hash stays
    * the only full-data exchange. Exact for ties (range frames depend
    * on VALUES, and equal times never span buckets).
    *
    * Phantom volume is rows-within-reach-of-an-edge: local calendar
    * windows (hours/days over a long axis) copy few rows; a reach
    * spanning most of the axis degenerates toward duplicating the data
    * per bucket — like the reference, calendar windows are assumed
    * local.
    */
  def frolladapt(df: DataFrame, time: Column, n: Long, out: String,
                 buckets: Int = 0): DataFrame = {
    require(n > 0, s"frolladapt: n must be positive, got $n")
    // Phantom-volume guard: estimate the duplicated-row ratio from the
    // (memoized) bounds fit alone; a reach covering most of the axis
    // would otherwise copy ~data x buckets rows into the union. Reduce
    // buckets proportionally so the estimate lands back under the
    // ceiling — results are bucket-count-invariant, only parallelism
    // shrinks (a near-axis-wide calendar window is inherently
    // sequential-ish anyway).
    val eb = effBuckets(df, buckets)
    val useB =
      if (eb <= 1) eb
      else {
        val (raw, fitTag) = boundsFor(df, time, eb)
        val est = phantomRatioEst(raw, (n - 1).toDouble)
        if (est <= PHANTOM_RATIO_MAX) eb
        else phantomGuardCache.getOrElsePut(df.sparkSession, fitTag + ":" + n) {
          val chosen = math.max(1, (eb * PHANTOM_RATIO_MAX / est).toInt)
          phantomGuardReductions.incrementAndGet()
          System.err.println(
            s"[graft] frolladapt: estimated phantom volume ${"%.1f".format(est)}x " +
              s"the data at $eb buckets (reach ${n - 1} spans many buckets); " +
              s"reducing to $chosen buckets to cap duplication")
          chosen
        }
      }
    val p = prep(df, time, asc = true, useB)
    val b = p.b
    val real = b.withColumn(PH, lit(false))
    // Destination buckets as a PURE expression: a row reaches every
    // LATER bucket whose lower bound is <= time + reach — bucketCol of
    // (time + reach) over the same memoized bounds prep bucketed with
    // gives the largest such bucket, and the destinations in between
    // are a contiguous id range. Bounds under-estimate the true bucket
    // minima, so the extra phantoms land strictly below every real
    // row's frame (harmless volume, never a value change). Replaces the
    // former data x bucket-minima non-equi broadcast join, which
    // evaluated O(rows x buckets) predicates per pass.
    val (rawB, _) = boundsFor(df, time, useB) // memoized: prep's own fit
    val destMax = bucketCol(time + lit(n - 1), rawB.distinct,
      asc = true, nullsFirst = true)
    val phantoms = b.filter(col(BKT) < destMax)
      .withColumn(BKT, explode(sequence(col(BKT) + 1, destMax)))
      .withColumn(PH, lit(true))
    dropPhantoms(real.unionByName(phantoms)
      .withColumn(out, count(lit(1)).over(bucketWindow(Seq(time.asc))
        .rangeBetween(-(n - 1), 0)).cast("int")), time, p)
  }

  // ---- any-type global row number (used by Windows.grp) ---------------

  /** Global 1-based row numbers along `order` for ANY orderable type —
    * the fallback when the key has no numeric cast: range-repartition
    * (Spark's own sampled bounds), sort within partitions, read the
    * within-partition ordinal off `monotonically_increasing_id` (its
    * low 33 bits count rows in scan order — the sorted order here),
    * and add per-partition row counts accumulated over prior
    * partitions with the same tiny-join machinery. ONE full-data
    * exchange (the range repartition), no window at all.
    *
    * Rows that compare equal on all of `order` take arbitrary but
    * stable-within-run positions (same caveat as every row_number).
    */
  def rownumByRange(df: DataFrame, order: Seq[Column], out: String,
                    partitions: Int = 0): DataFrame = {
    require(order.nonEmpty, "rownumByRange needs order columns")
    val parts = effBuckets(df, partitions)
    val sorted = df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_graft_mid", monotonically_increasing_id())
      .withColumn(BKT, spark_partition_id())
    val counts = partialsOf(sorted, Some(parts), count(lit(1)).as("_c"))
    val priors = priorsOf(counts, sum(col("_c")) -> "_pc")
    sorted.join(broadcast(priors), col(BKT) === col("_b"), "left")
      .withColumn(out,
        coalesce(col("_pc"), lit(0L)) +
          // mid = (partitionId << 33) + within-partition ordinal, so the
          // ordinal is the explicit difference (not a bit-slice that
          // silently wraps past 2^33 rows/partition)
          (col("_graft_mid") - shiftleft(col(BKT).cast("long"), 33)) + 1)
      .drop(BKT, "_graft_mid", "_b", "_pc")
  }
}
