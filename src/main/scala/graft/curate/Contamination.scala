package graft.curate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextFunctions

/** Benchmark decontamination: find training documents that share word
  * n-grams with an evaluation/benchmark set (the GPT-3 appendix-C /
  * PaLM-style "13-gram overlap" check). A training corpus that
  * contains eval items inflates downstream scores, so every serious
  * pipeline runs this before training.
  *
  * Shape at 100 TB: the benchmark side is always small (eval suites
  * are thousands of documents, not billions), so its distinct-gram set
  * is broadcast and the corpus side never shuffles its text — each
  * corpus partition explodes to slim (doc_id, gram) rows, hash-joins
  * against the broadcast gram set map-side, and only the surviving
  * hits reach the one aggregation exchange keyed on doc_id.
  *
  * No reference counterpart (data.table has no text pipeline); the
  * n-gram definition reuses [[TextFunctions.ngramsOf]] over
  * whitespace tokens of the normalized text, matching the repetition
  * and Jaccard operators.
  */
object Contamination {

  /** Slim (doc_id, gram) pairs: DISTINCT word n-grams per document.
    * `hashed=true` replaces each gram string with its xxhash64 — at
    * n=13 a gram is ~80 bytes of text vs 8 bytes of hash, so hashing
    * cuts the broadcast and the exploded corpus volume ~10×; a false
    * hit needs a 64-bit collision against the benchmark set (~2⁻⁶⁴ per
    * pair — negligible next to the n-gram heuristic itself).
    */
  private def grams(df: DataFrame, idCol: String, textCol: String,
                    n: Int, hashed: Boolean): DataFrame = {
    // Stage the token array in its own projection: ngramsOf references
    // its input once per OUTPUT gram (interpreted HOFs get no codegen
    // CSE), so an inlined tokenizer would re-split every document
    // O(tokens) times — the withGopherFilter/withRepetitionFeatures
    // staging pattern, load-bearing here (~4x on the contamination
    // queries at sf0.1).
    val staged = df.select(col(idCol).as("doc_id"),
      TextFunctions.normTokens(col(textCol)).as("_graft_tk"))
    // DistinctWordNgrams = array_distinct(ngramsOf(tk, n)) as one native
    // pass (Round21Spec parity lock) — the interpreted HOF form built a
    // Seq slice + String per output gram and dominated these queries'
    // single-split scan stage
    val g = staged.select(col("doc_id"),
      explode(graft.plans.DistinctWordNgrams(col("_graft_tk"), n))
        .as("gram"))
    if (hashed) g.select(col("doc_id"), xxhash64(col("gram")).as("gram")) else g
  }

  /** Per corpus document: how many distinct benchmark n-grams it
    * contains (`n_hits`). Documents with zero overlap are absent —
    * compose with a left anti join to KEEP the clean ones, or with
    * [[contaminated]] to list ids above a threshold.
    *
    * `broadcastBench=false` opts out of the broadcast for the rare
    * giant-benchmark case; the join then shuffles both slim gram
    * lists on the gram hash. `hashGrams=true` joins on xxhash64(gram)
    * instead of the gram text — the production tier at n=13 (~10×
    * smaller broadcast + corpus explode; see [[grams]]) — and is kept
    * off the oracle path only because the oracle engine has no
    * xxhash64 mirror.
    */
  def ngramOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
                   textCol: String, n: Int = 13,
                   broadcastBench: Boolean = true,
                   hashGrams: Boolean = false): DataFrame =
    ngramOverlapAgainst(corpus, benchGramSet(bench, idCol, textCol, n, hashGrams),
      idCol, textCol, n, broadcastBench, hashGrams)

  /** The benchmark's distinct n-gram set — SESSION-MEMOIZED as a
    * persisted frame per (bench plan, n, hashGrams): one benchmark
    * gates many corpora, every bench rep, and every stage of a
    * composed pipeline, and un-memoized each evaluation re-tokenized
    * and re-distincted the bench corpus from scratch (the
    * q_curation_pipeline regression of round 9). Same memo contract as
    * the bloom fit below: an in-session rewrite of the bench table's
    * backing files needs [[clearFits]].
    */
  def benchGramSet(bench: DataFrame, idCol: String, textCol: String,
                   n: Int = 13, hashGrams: Boolean = false): DataFrame = {
    val raw = grams(bench, idCol, textCol, n, hashGrams)
      .select(col("gram")).distinct()
    gramSetCache.getOrElsePut(bench.sparkSession,
      raw.queryExecution.analyzed.semanticHash().toString)(
      raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  // Persisted bench gram sets (SessionMemo — n/hashGrams are embedded
  // in the gram plan itself, so the plan hash alone keys them).
  private val gramSetCache = new graft.SessionMemo[DataFrame](_.unpersist())

  /** Test/visibility hook: number of memoized bench gram sets. */
  private[graft] def gramSetCount: Int = gramSetCache.size

  /** Test/visibility hook: the memoized gram-set frames themselves. */
  private[graft] def gramSetFrames: Map[String, DataFrame] =
    gramSetCache.snapshot

  /** [[ngramOverlap]] against a pre-built [[benchGramSet]]. */
  def ngramOverlapAgainst(corpus: DataFrame, benchGrams: DataFrame,
                          idCol: String, textCol: String, n: Int = 13,
                          broadcastBench: Boolean = true,
                          hashGrams: Boolean = false): DataFrame = {
    val bg = if (broadcastBench) broadcast(benchGrams) else benchGrams
    grams(corpus, idCol, textCol, n, hashGrams)
      .join(bg, Seq("gram"))
      .groupBy(col("doc_id").as(idCol))
      .agg(count(lit(1)).as("n_hits")) // grams are pre-distinct per doc
  }

  /** [[ngramOverlapAgainst]] with a BLOOM-FILTER pre-gate: the
    * benchmark gram set is compressed into a Bloom filter (~1.2
    * bytes/gram at fpp=0.01 vs ~80 bytes/gram of 13-gram text — the
    * broadcast a 1000-executor cluster actually wants) and every
    * corpus gram streams through `might_contain` MAP-SIDE before the
    * exact join. Results are EXACT: a bloom false positive still has
    * to survive the verify join against the real gram set, and false
    * negatives are impossible — so this tier shares the n-gram
    * oracle verbatim. The exact join's probe side shrinks to
    * ~fpp·|corpus grams| + true hits, which is what makes the verify
    * join's broadcast hash probe effectively free at 100 TB.
    *
    * Both sides hash with Spark's own xxhash64 (the filter holds
    * hashes, not strings), so bench/corpus agreement is exact by
    * construction. The driver-side filter build is session-memoized
    * per (bench plan, n, fpp) — eval suites gate many corpora.
    * MEMO CAVEAT (shared with every fit memo here): the exactness
    * guarantee is per bench VERSION. Rewriting the bench table's
    * backing files in-session leaves the gate on the OLD filter while
    * the verify join re-reads the new files — grams only in the new
    * version would then be silently missed. Call [[clearFits]] after
    * an in-session bench rewrite, exactly like Sampling/Dsir.
    */
  def ngramOverlapBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, n: Int = 13,
                        fpp: Double = 0.01): DataFrame = {
    val benchGrams = benchGramSet(bench, idCol, textCol, n)
    val key = benchGrams.queryExecution.analyzed.semanticHash().toString +
      s":$n:$fpp"
    val bytes = bloomCache.getOrElsePut(corpus.sparkSession, key) {
      val hashes = benchGrams.select(xxhash64(col("gram")).as("h"))
        .collect().map(_.getLong(0))
      val bf = org.apache.spark.util.sketch.BloomFilter.create(
        math.max(hashes.length.toLong, 1L), fpp)
      hashes.foreach(bf.putLong)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    bloomGated(corpus, benchGrams, bytes, idCol, textCol, n)
  }

  /** [[ngramOverlapBloom]] with a DISTRIBUTED filter build — the
    * giant-benchmark tier. The driver variant above collects every
    * bench gram hash (8 B/gram) to build the filter locally; here the
    * filter is built by Catalyst's own `BloomFilterAggregate` (the
    * runtime-row-filter kernel): per-partition filters merge map-side
    * and ONLY the final filter bytes (≈1.2 B/gram at fpp 0.01) reach
    * the driver. Both builds insert the same Spark-computed xxhash64
    * longs, so the gate + verify join are byte-for-byte the exact
    * semantics of the driver tier — results still share the exact
    * n-gram oracle.
    *
    * `estimatedGrams` sizes the filter (`optimalNumOfBits(est, fpp)`);
    * 0 (default) counts the memoized bench gram set first — one cheap
    * job over the persisted set, paid once per session. Same memo +
    * [[clearFits]] contract as the driver tier.
    */
  def ngramOverlapBloomDistributed(corpus: DataFrame, bench: DataFrame,
                                   idCol: String, textCol: String,
                                   n: Int = 13, fpp: Double = 0.01,
                                   estimatedGrams: Long = 0L): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val benchGrams = benchGramSet(bench, idCol, textCol, n)
    val key = benchGrams.queryExecution.analyzed.semanticHash().toString +
      s":$n:$fpp:dist"
    val bytes = bloomCache.getOrElsePut(corpus.sparkSession, key) {
      val est = math.max(
        if (estimatedGrams > 0) estimatedGrams else benchGrams.count(), 1L)
      // BloomFilterAggregate caps est/bits at the session's runtime-bloom
      // maxima (Spark 4.1.2 defaults: 4,000,000 items / 67,108,864 bits
      // — read from the REGISTERED conf entries, not re-guessed, so the
      // clamp target always matches what the aggregate will enforce).
      // Above-cap sizes are clamped, never rejected, so without this
      // explicit clamp a giant bench set would silently get a far looser
      // filter than the requested fpp. Clamp both (bits sized for the
      // TRUE est first, so sub-cap bench sets keep the requested fpp)
      // and log the degraded effective fpp; correctness is unaffected —
      // the gate is a prefilter and the exact verify join kills false
      // positives.
      import org.apache.spark.sql.internal.SQLConf
      val sqlConf = SQLConf.get
      val maxItems = sqlConf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)
      val maxBits = sqlConf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
      val estClamped = math.min(est, maxItems)
      val bits = math.min(
        org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(est, fpp),
        maxBits)
      if (estClamped < est || bits < org.apache.spark.util.sketch.BloomFilter
            .optimalNumOfBits(est, fpp)) {
        // p ≈ 0.6185^(m/n) at the optimal hash count
        val effFpp = math.pow(0.6185, bits.toDouble / est)
        System.err.println(
          f"[graft] ngramOverlapBloomDistributed: $est gram estimate " +
            f"exceeds the session bloom caps (maxNumItems=$maxItems, " +
            f"maxNumBits=$maxBits); clamped — effective fpp ≈ $effFpp%.4f " +
            "(gate only; exact verify join unaffected). Raise " +
            "spark.sql.optimizer.runtime.bloomFilter.maxNumBits for a " +
            "tighter gate.")
      }
      val agg = GraftSqlBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(
            GraftSqlBridge.expression(xxhash64(col("gram"))),
            GraftSqlBridge.expression(lit(estClamped)),
            GraftSqlBridge.expression(lit(bits)))
          .toAggregateExpression())
      benchGrams.agg(agg.as("bf")).head().getAs[Array[Byte]](0)
    }
    bloomGated(corpus, benchGrams, bytes, idCol, textCol, n)
  }

  /** Shared gate + verify tail of both bloom tiers: map-side native
    * might_contain over the corpus grams, then the exact broadcast
    * verify join (false positives die here — results are EXACT).
    */
  private def bloomGated(corpus: DataFrame, benchGrams: DataFrame,
                         bytes: Array[Byte], idCol: String, textCol: String,
                         n: Int): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val g = grams(corpus, idCol, textCol, n, hashed = false)
    val gate = GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        GraftSqlBridge.expression(lit(bytes)),
        GraftSqlBridge.expression(xxhash64(col("gram")))))
    g.filter(gate)
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col("doc_id").as(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  // Session memo of serialized bench bloom filters (driver-side fit —
  // the Dsir/Sampling memo pattern; a bench set is reused across many
  // corpora and every bench rep).
  private val bloomCache = new graft.SessionMemo[Array[Byte]]()

  /** Test/visibility hook: number of memoized bench bloom fits. */
  private[graft] def bloomFitCount: Int = bloomCache.size

  /** Forget every memoized benchmark bloom filter. */
  def clearFits(): Unit = {
    bloomCache.clear()
    gramSetCache.clear()
  }

  /** Ids of corpus documents sharing at least `minHits` distinct
    * n-grams with the benchmark — the drop list.
    */
  def contaminated(corpus: DataFrame, bench: DataFrame, idCol: String,
                   textCol: String, n: Int = 13, minHits: Int = 1,
                   broadcastBench: Boolean = true,
                   hashGrams: Boolean = false): DataFrame =
    ngramOverlap(corpus, bench, idCol, textCol, n, broadcastBench, hashGrams)
      .filter(col("n_hits") >= minHits)
      .select(col(idCol))

  /** The corpus with contaminated documents removed (anti join — the
    * kept side's text never shuffles).
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 13, minHits: Int = 1,
                    broadcastBench: Boolean = true,
                    hashGrams: Boolean = false): DataFrame =
    corpus.join(
      contaminated(corpus, bench, idCol, textCol, n, minHits,
        broadcastBench, hashGrams),
      Seq(idCol), "left_anti")

  /** [[decontaminate]] with a SEPARATE gram source. Contamination is
    * per-document text-pure (a doc's n_hits depends only on its own
    * text and the bench — never on other corpus rows), so the drop
    * list computed over ANY superset of `kept`'s (id, text) pairs
    * agrees exactly on `kept`'s ids, and extra ids are no-ops in the
    * anti join. Pass the cheap pre-pipeline projection as `gramSource`
    * when `kept` carries an expensive plan (quality gates, window
    * dedup): Spark does not reuse exchanges across differently-pruned
    * subtrees, so `decontaminate(kept, ...)` would evaluate the whole
    * kept-side plan a SECOND time inside the drop-list branch —
    * measured at ~0.5 s of q_curation_pipeline's 1.6 s warm sf0.1.
    */
  def decontaminateVia(kept: DataFrame, gramSource: DataFrame,
                       bench: DataFrame, idCol: String, textCol: String,
                       n: Int = 13, minHits: Int = 1,
                       broadcastBench: Boolean = true,
                       hashGrams: Boolean = false): DataFrame =
    kept.join(
      contaminated(gramSource, bench, idCol, textCol, n, minHits,
        broadcastBench, hashGrams),
      Seq(idCol), "left_anti")

  /** FUZZY contamination: corpus documents that are MinHash near-dups
    * of a benchmark document (paraphrased/reformatted eval items that
    * exact n-gram overlap misses — the second tier of a real
    * decontamination pass). Returns one row per (corpus doc, bench
    * doc) near-dup pair: (idCol, bench_id, jaccard).
    *
    * Composition, not new machinery: each side's ids are tagged with a
    * side marker (struct(side, id) — so corpus doc 5 and bench doc 5
    * can never collide), the two sides union, and the oracle-proven
    * LSH pipeline (`Dedup.minhashPairsPortable`) lists candidate
    * the INCREMENTAL bucket join ([[graft.dedup.Dedup
    * .minhashIncrementalPortable]] with bench as the batch): the corpus
    * is banded once (memoized, like the daily-ingest index) and NEVER
    * pairs with itself — intra-corpus boilerplate clusters, the
    * overwhelming candidate majority at scale, simply cannot arise,
    * where the old side-tagged union formulation enumerated them first
    * and filtered after. At 100 TB the bench set is orders of magnitude
    * smaller than the corpus, so AQE broadcasts it and the corpus
    * streams map-side through the ONE banding aggregation (itself
    * session-memoized, so repeated decontamination calls re-pay
    * nothing). Sides stay separate frames, so equal corpus/bench id
    * values can never collide or self-pair.
    *
    * `maxBucket` caps the CORPUS side of each bucket (the incremental
    * contract — the audit twin below mirrors it); release the memoized
    * bases with `Dedup.clearBases()` when done with a corpus.
    */
  def fuzzyOverlap(corpus: DataFrame, bench: DataFrame, idCol: String,
                   textCol: String, k: Int = 3, numHashes: Int = 32,
                   bands: Int = 8, threshold: Double = 0.5,
                   maxBucket: Int = 1000): DataFrame =
    graft.dedup.Dedup.minhashIncrementalPortable(
        corpus, bench, idCol, textCol, k, numHashes, bands, threshold, maxBucket)
      .select(col("dup_of").as(idCol), col("new_id").as("bench_id"),
        col("jaccard"))

  /** Audit twin of [[fuzzyOverlap]]: the CORPUS-side LSH buckets its
    * `maxBucket` cap would DROP — (band, bh, n_ids). A mega-bucket here
    * can HIDE CONTAMINATION (an eval item buried in a boilerplate
    * cluster never reaches the verify stage), so a decontamination pass
    * must check this is empty — or treat every corpus doc in a dropped
    * bucket as suspect — before trusting a clean fuzzyOverlap result.
    * The audit is CORPUS-side only (the incremental formulation caps
    * only the corpus side of each bucket), so no bench frame is taken.
    */
  def fuzzyOversized(corpus: DataFrame, idCol: String,
                     textCol: String, k: Int = 3, numHashes: Int = 32,
                     bands: Int = 8, maxBucket: Int = 1000): DataFrame =
    graft.dedup.Dedup.minhashOversizedPortable(
      corpus, idCol, textCol, k, numHashes, bands, maxBucket)
}
