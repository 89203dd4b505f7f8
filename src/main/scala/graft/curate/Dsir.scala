package graft.curate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** DSIR-style data selection via importance resampling (Xie et al.
  * 2023, arXiv:2302.03169 — "Data Selection for Language Models via
  * Importance Resampling"): score every raw document by how much more
  * likely its hashed n-gram features are under a TARGET distribution
  * (e.g. curated/high-quality text) than under the RAW distribution,
  * then keep the top of the importance ranking.
  *
  * 100 TB shape: both distributions reduce to a `buckets`-row count
  * table (one aggregation each, map-side combined), their log-ratio is
  * broadcast, and per-document scoring is one more aggregation keyed
  * by doc id — no pairwise anything, no model weights. All hashing is
  * the portable 60-bit md5 prefix, so a SQL oracle replays every
  * bucket assignment and weight bit-for-bit.
  */
object Dsir {

  /** Hashed n-gram feature buckets of a document: unigram and bigram
    * tokens of the normalized text, each hashed to [0, buckets) with
    * the portable md5 token hash (non-negative, so `% buckets` is safe
    * in any engine). The paper's feature space, sized by `buckets`.
    */
  def gramBuckets(text: Column, buckets: Int): Column =
    gramBucketsFromTokens(TextFunctions.normTokens(text), buckets)

  /** [[gramBuckets]] over an already-tokenized column. `toks` should be
    * an ATTRIBUTE: the bigram lambda reads it per element, and an
    * inline tokenizer tree gets no CSE under interpreted HOFs — the
    * one-Column [[gramBuckets]] convenience is O(tokens²) tokenizer evals
    * per document, this staged form O(tokens).
    */
  def gramBucketsFromTokens(toks: Column, buckets: Int): Column = {
    require(buckets > 0, s"gramBuckets: buckets must be positive, got $buckets")
    val bis = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    transform(concat(toks, bis),
      g => (TextFunctions.md5Token60(g) % buckets).cast("int"))
  }

  /** Per-document staged (doc_id?, bucket) grams: tokenization
    * materialized in its own projection, then the hashed gram buckets
    * exploded (outer, so zero-gram documents keep a null-bucket row
    * when `outer` — used by the weight join's left side).
    */
  private def docBuckets(df: DataFrame, textCol: String, buckets: Int,
                         idCol: Option[String]): DataFrame = {
    val staged = df.withColumn("_toks",
      TextFunctions.normTokens(col(textCol)))
    val b = gramBucketsFromTokens(col("_toks"), buckets)
    idCol match {
      case Some(id) => staged.select(col(id).as("doc_id"),
        explode_outer(b).as("bucket"))
      case None => staged.select(explode(b).as("bucket"))
    }
  }

  /** Add-one-smoothed bucket log-probabilities of a corpus: exactly
    * `buckets` rows (bucket, logp) with
    * logp = ln((count + 1) / (total + buckets)), so unseen buckets
    * score finite. The total is a driver-side scalar (a fit, like the
    * kmeans codebooks); the count table is one aggregation.
    */
  def bucketLogProbs(df: DataFrame, textCol: String,
                     buckets: Int = 1024): DataFrame = {
    val s = df.sparkSession
    val counts = docBuckets(df, textCol, buckets, idCol = None)
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val total = counts.agg(coalesce(sum(col("c")), lit(0L))).collect()(0).getLong(0)
    s.range(buckets).select(col("id").cast("int").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          (total + buckets).toDouble).as("logp"))
  }

  /** DSIR importance log-weight per document:
    * logw(doc) = Σ_grams [logp_target(bucket) − logp_raw(bucket)],
    * with p_raw fit on `corpus` itself and p_target on `target`.
    * The bucket→diff table (`buckets` rows) joins broadcast; the only
    * data-sized shuffle is the per-doc sum. Documents with zero grams
    * keep logw = 0 (never silently dropped).
    *
    * This general form accepts ANY target distribution DataFrame. When
    * the target is a FILTERED SUBSET of the corpus (the common "score
    * raw data against its curated slice" use), prefer
    * [[importanceWeightsSubset]]: one tokenization pass instead of
    * three and zero data-sized shuffles instead of one.
    */
  def importanceWeights(corpus: DataFrame, idCol: String, textCol: String,
                        target: DataFrame, targetTextCol: String,
                        buckets: Int = 1024): DataFrame = {
    val diff = bucketLogProbs(target, targetTextCol, buckets)
      .withColumnRenamed("logp", "_lt")
      .join(bucketLogProbs(corpus, textCol, buckets)
        .withColumnRenamed("logp", "_lr"), Seq("bucket"))
      .select(col("bucket"), (col("_lt") - col("_lr")).as("_d"))
    docBuckets(corpus, textCol, buckets, idCol = Some(idCol))
      .join(broadcast(diff), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(sum(col("_d")), lit(0.0)).as("logw"))
  }

  /** [[importanceWeights]] fast path for target = corpus rows matching
    * `targetFilter` — identical math, radically cheaper plan:
    *
    *  - TWO tokenization/bucketing passes — one for the combined count
    *    fit, one for scoring — where the general form runs three
    *    (target fit, raw fit, per-doc scoring);
    *  - both count tables from ONE aggregation (`count_if(targetFilter)`
    *    alongside `count(*)` per bucket);
    *  - the 2·`buckets` log-prob diff values collect to the driver (a
    *    fit, like the kmeans codebooks — KBs at any corpus size) and
    *    come back as ONE literal array, so per-doc scoring is a
    *    projection-local `aggregate` over each document's gram-bucket
    *    array: logw needs NO join and NO per-doc shuffle at all.
    *
    * Net data-sized work: one explode+count aggregation. At 100 TB the
    * general form's per-doc sum shuffles every gram row; this shuffles
    * nothing row-sized.
    */
  def importanceWeightsSubset(corpus: DataFrame, idCol: String,
                              textCol: String, targetFilter: Column,
                              buckets: Int = 1024): DataFrame = {
    val staged = corpus.withColumn("_toks",
      TextFunctions.normTokens(col(textCol)))
      .withColumn("_b", gramBucketsFromTokens(col("_toks"), buckets))
    val diffArr = fitDiff(corpus, textCol, targetFilter, buckets)
    val diffLit = array(diffArr.map(lit(_)).toSeq: _*)
    val scored = staged.select(col(idCol).as("doc_id"),
      aggregate(col("_b"), lit(0.0),
        (acc, b) => acc + element_at(diffLit, b + 1)).as("logw"))
    // The (doc_id, logw) table is one row per document — persist it so
    // the selection tiers composing on the same weights (ranked top-n,
    // histogram threshold, downstream mixing) share ONE scoring pass
    // instead of re-tokenizing the corpus each.
    cachePersisted(corpus,
      s"$idCol:$textCol:${filterKey(targetFilter)}:$buckets", scored)
  }

  /** The bucket log-ratio FIT of a (corpus, target-subset) pair: one
    * `buckets`-length array, memoized per (session, corpus plan,
    * filter, buckets) like the kmeans/PQ codebooks. The fit is EAGER
    * (it collects `buckets` rows, but scans the whole corpus to
    * produce them) — memoization means every weight/selection query
    * composing on the same fit pays the scan once per session, and the
    * array is small enough to hand to a streaming scorer
    * (`Streams.dsirScoreStream`) as a broadcast literal.
    */
  def fitDiff(corpus: DataFrame, textCol: String, targetFilter: Column,
              buckets: Int = 1024): Array[Double] =
    memoFit(corpus, s"$textCol:${filterKey(targetFilter)}:$buckets") {
      val counts = corpus.withColumn("_toks",
          TextFunctions.normTokens(col(textCol)))
        .withColumn("_b", gramBucketsFromTokens(col("_toks"), buckets))
        .select(explode(col("_b")).as("bucket"), targetFilter.as("_t"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("c"), count(when(col("_t"), 1)).as("tc"))
        .collect()
      val rawC = new Array[Long](buckets)
      val tgtC = new Array[Long](buckets)
      counts.foreach { r =>
        rawC(r.getInt(0)) = r.getLong(1); tgtC(r.getInt(0)) = r.getLong(2)
      }
      val rawTotal = rawC.sum + buckets
      val tgtTotal = tgtC.sum + buckets
      // add-one-smoothed log-ratio per bucket, identical to the joined
      // bucketLogProbs difference in the general form
      Array.tabulate(buckets)(b =>
        math.log((tgtC(b) + 1).toDouble / tgtTotal) -
          math.log((rawC(b) + 1).toDouble / rawTotal))
    }

  // Session-scoped memos ([[graft.SessionMemo]] — shared semantics with
  // Dedup/Similarity/Sampling/Contamination/Sketches): fit values are
  // tiny driver arrays, not Spark state; persisted weight tables are
  // unpersisted on eviction.
  private val fitCache = new graft.SessionMemo[Array[Double]]()
  private val weightCache = new graft.SessionMemo[DataFrame](_.unpersist())

  private def filterKey(c: Column): String = c.toString

  private def weightKey(df: DataFrame, tag: String): String =
    graft.SessionMemo.planKey(df) + ":" + tag

  private def memoFit(df: DataFrame, tag: String)
                     (body: => Array[Double]): Array[Double] =
    fitCache.getOrElsePut(df.sparkSession, weightKey(df, tag))(body)

  private def cachePersisted(corpus: DataFrame, tag: String,
                             df: => DataFrame): DataFrame =
    weightCache.getOrElsePut(corpus.sparkSession, weightKey(corpus, tag))(
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Forget every memoized count fit and unpersist the weight tables
    * (mirrors `Similarity.clearFits`).
    */
  def clearFits(): Unit = {
    fitCache.clear()
    weightCache.clear()
  }

  /** Deterministic Gumbel perturbation of a log-weight — the paper's
    * gumbel-top-k resampling made reproducible: uniform u from the
    * portable hash of (id, seed), g = −ln(−ln(u)). Ranking perturbed
    * weights samples WITHOUT replacement ∝ softmax(logw).
    */
  def gumbelPerturb(logw: Column, id: Column, seed: Int): Column = {
    val u = (TextFunctions.md5Token60(concat(id.cast("string"),
      lit(":"), lit(seed.toString))) + 1).cast("double") /
      (1L << 60).toDouble
    logw - log(-log(u))
  }

  /** At-least-`n` selection by importance weight via a VALUE-HISTOGRAM
    * threshold — the 100 TB tier [[resampleTop]]'s scaladoc promises:
    * no global sort of the data, no driver-side collect.
    *
    * Weights are rounded to `decimals` (the histogram granularity), so
    * the distinct-value table is bounded by the logw RANGE × 10^decimals
    * (tiny — thousands of rows at any corpus size), not the corpus.
    * Threshold t = the LARGEST rounded weight v such that
    * |{docs : logw >= v}| >= n (all weights when the corpus has fewer
    * than n docs); kept = every doc with logw >= t, so the result has
    * >= n docs and is closed under weight ties — deterministic,
    * engine-portable semantics (a SQL oracle replays the same
    * histogram + running count), unlike an ε-approximate quantile cut.
    *
    * Plan shape: per-value aggregation (map-side combined) → running
    * count over the small histogram (single-partition window, BY
    * DESIGN small) → broadcast the one-row threshold back over the
    * weights. Two data-sized exchanges total, both keyed aggregations.
    */
  def selectAtLeast(corpus: DataFrame, idCol: String, textCol: String,
                    target: DataFrame, targetTextCol: String, n: Int,
                    buckets: Int = 1024, decimals: Int = 3): DataFrame =
    selectAtLeastW(importanceWeights(corpus, idCol, textCol, target,
      targetTextCol, buckets), n, decimals)

  /** [[selectAtLeast]] over a precomputed (doc_id, logw) weight table —
    * compose with [[importanceWeightsSubset]] when the target is a
    * corpus subset.
    */
  def selectAtLeastW(weights: DataFrame, n: Int,
                     decimals: Int = 3): DataFrame = {
    require(n > 0, s"selectAtLeast: n must be positive, got $n")
    // +0.0 normalizes -0.0 so the rounded value hashes identically
    val w = weights.select(col("doc_id"),
      (round(col("logw"), decimals) + lit(0.0)).as("logw"))
    val hist = w.groupBy(col("logw")).agg(count(lit(1)).as("_c"))
    // descending cumulative over the value histogram — through the
    // GlobalOrdered bucketed two-pass (bucket = floor(−logw), a pure
    // sort-monotone function: no quantile fit, no single-partition
    // WindowExec even when the histogram outgrows one task)
    val cum = graft.operators.GlobalOrdered.cumsumWith(hist, col("_c"),
      col("logw"),
      when(col("logw").isNull, lit(Double.MaxValue))
        .otherwise(floor(-col("logw"))),
      "_cum", asc = false)
    val thr = cum.filter(col("_cum") >= n)
      .agg(coalesce(max(col("logw")),
        lit(Double.NegativeInfinity)).as("_thr"))
    w.crossJoin(broadcast(thr))
      .filter(col("logw") >= col("_thr"))
      .select(col("doc_id"), col("logw"))
  }

  /** Top-`n` documents by importance weight (ties broken by id, so the
    * selection is total-ordered and reproducible). The global
    * sort-limit is fine for n in the thousands (per-partition top-n +
    * one final partition); for 100 TB selection runs use
    * [[selectAtLeast]], which thresholds on a bounded value histogram
    * instead of sorting the corpus.
    */
  def resampleTop(corpus: DataFrame, idCol: String, textCol: String,
                  target: DataFrame, targetTextCol: String, n: Int,
                  buckets: Int = 1024, gumbelSeed: Option[Int] = None)
      : DataFrame = {
    val w = importanceWeights(corpus, idCol, textCol, target,
      targetTextCol, buckets)
    val scored = gumbelSeed match {
      case Some(s) => w.withColumn("_rank",
        gumbelPerturb(col("logw"), col("doc_id"), s))
      case None => w.withColumn("_rank", col("logw"))
    }
    scored.orderBy(col("_rank").desc, col("doc_id")).limit(n)
      .select(col("doc_id"), col("logw"))
  }
}
