package graft.curate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, content-addressed sampling for training-data
  * curation (pipeline extension — not in the reference, which samples
  * with R's RNG; at corpus scale sampling must be a pure function of
  * the row so it is reproducible across runs, partitionings, and
  * incremental corpus growth).
  *
  * The sampling decision is `md5(key) mod denom < rate·denom`: one
  * codegen'd expression, no RNG state, no shuffle — a narrow filter
  * that pushes into the scan stage. The md5-prefix identity is the
  * same 60-bit portable hash used by the dedup kernels
  * (plans/PortableHashExprs.scala), so a SQL oracle reproduces every
  * decision bit-for-bit: ('0x'||substr(md5(k),1,15))::BIGINT.
  */
object Sampling {

  /** 60-bit content identity of a string column (md5-prefix; always
    * non-negative, so `% denom` is safe on both engines). A null key
    * hashes as the empty string — without the coalesce, null rows would
    * evaluate the sampling predicate to null and be silently dropped
    * even at rate 1.0.
    */
  def contentId(c: Column): Column =
    conv(substring(md5(coalesce(c, lit("")).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Keep each row iff hash(key) falls under `rate`: deterministic
    * Bernoulli sampling keyed on content. Same key ⇒ same decision on
    * every run and at every scale — re-running on a grown corpus keeps
    * every previously-kept row.
    */
  def hashSample(df: DataFrame, key: Column, rate: Double,
                 denom: Long = 10000L): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.filter(contentId(key) % denom < math.round(rate * denom))
  }

  /** Per-stratum rates (e.g. downsample dominant languages): the rates
    * table broadcasts (strata counts are small by definition) and the
    * filter stays a narrow map-side operation — no shuffle of the
    * corpus. Strata absent from `rates` keep `default`.
    */
  def stratifiedHashSample(df: DataFrame, key: Column, strataCol: String,
                           rates: Map[String, Double], default: Double,
                           denom: Long = 10000L): DataFrame = {
    require((default +: rates.values.toSeq).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0,1]")
    val spark = df.sparkSession
    import spark.implicits._
    val ratesDf = rates.toSeq.map { case (k, r) => (k, math.round(r * denom)) }
      .toDF(strataCol, "_graft_thr")
    df.join(broadcast(ratesDf), Seq(strataCol), "left")
      .withColumn("_graft_thr",
        coalesce(col("_graft_thr"), lit(math.round(default * denom))))
      .filter(contentId(key) % denom < col("_graft_thr"))
      .drop("_graft_thr")
  }

  /** Token-budget corpus mixing: given target token SHARES per source
    * (the "data mixture" a training run specifies) and a total token
    * budget, derive each source's deterministic sampling rate
    * (min(1, share·budget / available-tokens)) and apply it as a
    * content-hash filter. One partial aggregation computes the
    * per-source token totals — a handful of rows to the driver
    * regardless of corpus size — then the filter is the narrow
    * map-side [[stratifiedHashSample]]. Sources absent from `targets`
    * are dropped (rate 0).
    *
    * An under-resourced source (available < share·budget) caps at
    * rate 1 — it contributes everything it has, and the realized mix
    * shifts proportionally; callers wanting hard proportions should
    * shrink `budgetTokens` to what the scarcest source supports.
    */
  def mixToTokenTargets(df: DataFrame, key: Column, sourceCol: String,
                        tokens: Column, targets: Map[String, Double],
                        budgetTokens: Long, denom: Long = 10000L): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0),
      "targets must be non-negative shares")
    require(targets.values.sum <= 1.0 + 1e-9,
      s"shares sum to ${targets.values.sum} > 1 — together they would " +
        "overshoot budgetTokens; shares are fractions OF the budget")
    // The totals aggregation is an EAGER fit: un-memoized it re-runs a
    // full corpus pass at every evaluation of any composing query (the
    // Dsir-count lesson — a bench-visible constant and, in a notebook,
    // a silent per-cell re-aggregation). Memoize per (session, corpus
    // plan, grouping/token exprs); clearFits() drops the memo when the
    // corpus is rewritten in-session.
    // Keyed on the aggregation plan's OWN semanticHash (which embeds
    // the corpus plan, grouping column and token expression — including
    // UDF object identity): `tokens.toString` is not injective for
    // UDF-backed columns (two different Scala UDFs over one column both
    // stringify as `UDF(text)`), so stringly keys could silently reuse
    // the wrong fit across token counters.
    val totalsFrame = df.groupBy(col(sourceCol))
      .agg(sum(tokens.cast("long")).as("_graft_tot"))
    val totals = totalsCache.getOrElsePut(df.sparkSession,
      totalsFrame.queryExecution.analyzed.semanticHash().toString)(
      totalsFrame
        .collect() // driver-small by construction: one row per source
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap) // all-null tokens → 0
    val rates = targets.map { case (s, share) =>
      val avail = totals.getOrElse(s, 0L).toDouble
      s -> (if (avail <= 0) 0.0
            else math.min(1.0, share * budgetTokens / avail))
    }
    stratifiedHashSample(df, key, sourceCol, rates, default = 0.0, denom)
  }

  // Session-scoped memo of the per-source token totals (tiny driver
  // maps, not Spark state — the Dsir.fitCache pattern). The key is the
  // corpus plan + grouping exprs, NOT targets/budget: those only scale
  // the derived rates, so every mixture over one corpus shares one fit.
  private val totalsCache = new graft.SessionMemo[Map[String, Long]]()

  /** Test/visibility hook: whether a totals fit for this corpus+exprs is
    * already memoized (mirrors Dsir's memo observability).
    */
  private[graft] def totalsFitCount: Int = totalsCache.size

  /** Forget every memoized token-totals fit (mirrors `Dsir.clearFits`) —
    * call between corpus rewrites in one session.
    */
  def clearFits(): Unit = totalsCache.clear()

  /** Deterministic train/validation/test assignment: the content hash
    * of `key` lands in [0, denom) and `fractions` carve it into
    * consecutive ranges — same document ⇒ same split on every run,
    * every partitioning, and every corpus growth (a doc added later
    * can never move an existing doc across splits, the property that
    * keeps eval sets stable). Returns `df` + a split-label column.
    */
  def assignSplit(df: DataFrame, key: Column,
                  fractions: Seq[(String, Double)],
                  out: String = "split", denom: Long = 10000L): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0) &&
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must be non-negative and sum to 1, got $fractions")
    val bounds = fractions.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * denom)
    }.tail
    // stage the hash once — embedding contentId in every CASE branch
    // would re-md5 the key up to n_fractions times per row
    val h = col("_graft_h")
    val expr = fractions.zip(bounds).foldRight(lit(fractions.last._1)) {
      case (((label, _), hi), elseC) => when(h < hi, lit(label)).otherwise(elseC)
    }
    df.withColumn("_graft_h", contentId(key) % denom)
      .withColumn(out, expr)
      .drop("_graft_h")
  }

  /** Deterministic global shuffle-and-shard for training-data export:
    * every row gets a `shard` in [0, numShards) and a 1-based `pos`
    * within its shard, both pure functions of (seed, key) — the
    * classic "shuffle the corpus, write N shards" step of a training
    * pipeline, with no RNG state and no global sort. Re-running at any
    * partitioning, scale, or cluster layout reproduces the identical
    * permutation; changing `seed` draws an independent one.
    *
    * Shape at 100 TB: shard assignment is a narrow map-side
    * expression; position assignment is ONE hash exchange on `shard`
    * plus a per-shard sort (each task sorts corpus/numShards rows —
    * pick numShards so a shard fits a task, exactly like choosing an
    * output-file count). A writer that only needs sharded+shuffled
    * files and not explicit positions can skip the window entirely:
    * `df.repartition(numShards, col(shardOut))
    *    .sortWithinPartitions(hash)` writes each shard in permuted
    * order with zero window state.
    *
    * Ties: the 60-bit content hash makes collisions across distinct
    * keys negligible, but `pos` still tiebreaks on `key` so equal
    * hashes order deterministically. `key` should be UNIQUE per row
    * (a doc id): rows sharing a key value (incl. several null-key
    * rows, which hash like the empty string per [[contentId]]) share
    * one hash, so their positions among THEMSELVES are arbitrary —
    * interchangeable content gets interchangeable slots.
    */
  def shuffleShard(df: DataFrame, key: Column, numShards: Int,
                   seed: Long = 0L, shardOut: String = "shard",
                   posOut: String = "pos"): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val h = col("_graft_sh")
    // coalesce BEFORE the concat: concat_ws silently drops null args,
    // which would make a null key hash as the bare seed instead of
    // following contentId's null-is-empty-string convention
    df.withColumn("_graft_sh",
        contentId(concat_ws("|", lit(seed.toString),
          coalesce(key.cast("string"), lit("")))))
      .withColumn(shardOut, (h % numShards).cast("int"))
      .withColumn(posOut, row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(shardOut)).orderBy(h.asc, key.asc)))
      .drop("_graft_sh")
  }

  /** Keep at most `n` rows per key (C4-style domain caps: no single
    * host dominates the corpus). Survivors are chosen by content hash
    * — deterministic across runs/partitionings, and unbiased w.r.t.
    * row order — with `tiebreak` disambiguating equal hashes.
    *
    * One hash shuffle on the key. Key cardinality is high (domains) so
    * the exchange is balanced; a single pathological mega-key costs
    * one task sorting that key's rows, which the partial top-n
    * window-group optimization in Spark ≥3.5 bounds when `n` is small.
    */
  def capPerKey(df: DataFrame, key: Column, sortKey: Column, n: Int,
                tiebreak: Column): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(contentId(sortKey).asc, tiebreak.asc)
    df.withColumn("_graft_rk", row_number().over(w))
      .filter(col("_graft_rk") <= n)
      .drop("_graft_rk")
  }
}
