package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.PlanLint

/** 100×-scaling probe for the LLM-pipeline flagships (dedup /
  * contamination / ANN): run each over synthetic corpora at two sizes a
  * decade apart and report per-row cost. The design claim under test:
  * these pipelines are signature aggregations + bucket-local work — no
  * all-pairs term — so per-row cost stays FLAT as the corpus grows and
  * the same plan shape serves a 100 TB corpus. Each plan is also run
  * through [[graft.PlanLint]]'s rules (no unbounded cross products, no
  * global windows over unbounded input).
  *
  * Usage: runMain graft.tools.ScaleProbe [rowsSmall] [rowsLarge]
  * (defaults 1e6 / 1e7). Prints one JSON line per (op, size) plus a
  * flat-cost verdict per op; results are recorded in BENCH_NOTES.md.
  */
object ScaleProbe {

  /** Synthetic corpus: ~15 pseudo-words per doc from a 50k vocabulary;
    * every 97th doc duplicates its predecessor so the dedup candidate
    * path has real work. Deterministic (hash of id), no RNG state.
    */
  private def synthDocs(spark: SparkSession, n: Long): DataFrame = {
    val wid = when(col("id") % 97 === 0 && col("id") > 0, col("id") - 1)
      .otherwise(col("id"))
    spark.range(n).select(col("id"),
      concat_ws(" ", (0 until 15).map(i =>
        concat(lit("w"), pmod(hash(wid * lit(31L + i)), lit(50000)))): _*)
        .as("text"))
  }

  private def synthEmbeddings(spark: SparkSession, n: Long,
                              dim: Int = 64): DataFrame =
    spark.range(n).select(col("id"),
      array((0 until dim).map(d =>
        (pmod(hash(col("id") * lit(131L + d)), lit(2000)) - lit(1000))
          .cast("double") / 1000.0): _*).as("v"))

  /** Synthetic quotes for the asof probes: 1000 uniform keys, times
    * hashed into a FIXED [0, 1e6) domain (so the fixed probe side stays
    * in-range at every corpus size), one double value column.
    */
  private def synthTrades(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select((col("id") % 1000).as("k"),
      pmod(hash(col("id") * lit(7L)), lit(1000000)).cast("double").as("t"),
      (pmod(hash(col("id") * lit(13L)), lit(10000)).cast("double") / 100.0)
        .as("v"))

  /** Power-law twin of [[synthTrades]]: 90% of rows land on key 0 — the
    * skew shape [[graft.operators.Joins.asofSalted]] exists for.
    */
  private def synthTradesSkew(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      when(col("id") % 10 < 9, lit(0L)).otherwise(col("id") % 1000).as("k"),
      pmod(hash(col("id") * lit(7L)), lit(1000000)).cast("double").as("t"),
      (pmod(hash(col("id") * lit(13L)), lit(10000)).cast("double") / 100.0)
        .as("v"))

  /** Synthetic intervals over the fixed [0, 1e6) domain, lengths 1-20
    * (so binWidth=16 ≈ the median length, the overlapBinned guidance).
    */
  private def synthIntervals(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(col("id"),
        pmod(hash(col("id") * lit(3L)), lit(1000000)).cast("double").as("s"))
      .withColumn("e", col("s") + pmod(hash(col("id") * lit(5L)), lit(20))
        .cast("double") + 1.0)

  /** [[synthIntervals]] over a 100×-wider [0, 1e8) domain — the
    * big-vs-big overlap probe's fixed side (sparse enough that the
    * match count stays bounded while the side itself is too big to
    * broadcast).
    */
  private def synthIntervalsWide(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(col("id"),
        pmod(hash(col("id") * lit(23L)), lit(100000000)).cast("double").as("ps"))
      .withColumn("pe", col("ps") + pmod(hash(col("id") * lit(29L)), lit(20))
        .cast("double") + 1.0)

  def main(args: Array[String]): Unit = {
    val nSmall = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nLarge = args.drop(1).headOption.map(_.toLong).getOrElse(10000000L)
    // optional 3rd arg: run only the named op — the decade-raising runs
    // (1e7 -> 1e8 minhash) don't need the full battery at 10x the cost
    val onlyOp = args.drop(2).headOption
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // fixed IVF centroids: 16 deterministic synthetic vectors
    val centroids: Seq[Seq[Double]] = (0 until 16).map(c =>
      (0 until 64).map(d =>
        (((c * 131 + d * 31) % 2000) - 1000) / 1000.0))
    // driver-small benchmark for the contamination gate: 1k docs whose
    // ids overlap the head of every corpus (so matches exist)
    val bench = synthDocs(spark, 1000L)

    // Materialize each corpus to parquet ONCE, outside the timings —
    // the ops must be measured over a real stored column (the 100 TB
    // setting), not over the synthesis expressions (a 64-term array
    // generator dominated the ANN timing by 100x when timed inline).
    def materialized(tag: String, n: Long, gen: Long => DataFrame): DataFrame = {
      val path = s"/tmp/graft_scaleprobe/${tag}_$n"
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val t0 = System.nanoTime()
        gen(n).write.mode("overwrite").parquet(path)
        System.err.println(
          f"[scaleprobe] generated $tag($n) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      spark.read.parquet(path)
    }

    // WHERE-does-the-time-go channel (VERDICT r19 "Next round" #3): the
    // 1e8 banding decade ratio fired flat:false in r19 and wall-clock
    // alone cannot adjudicate between spill, GC, and IO — so every
    // timed point now also prints task-metric totals (shuffle write,
    // disk/memory spill, GC ms, executor run ms). Load-immune like the
    // Bench byte channel.
    val pm = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    def pmAdd(k: String, v: Long): Unit =
      pm.computeIfAbsent(k,
        _ => new java.util.concurrent.atomic.AtomicLong()).addAndGet(v)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            pmAdd("shuf_w", m.shuffleWriteMetrics.bytesWritten)
            pmAdd("spill_disk", m.diskBytesSpilled)
            pmAdd("spill_mem", m.memoryBytesSpilled)
            pmAdd("gc_ms", m.jvmGCTime)
            pmAdd("run_ms", m.executorRunTime)
          }
        }
      })
    def pmReset(): Unit = {
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(
        spark.sparkContext, 10000L)
      pm.values().forEach(v => { v.set(0L); () })
    }
    def pmSnap(): Map[String, Long] = {
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(
        spark.sparkContext, 10000L)
      Seq("shuf_w", "spill_disk", "spill_mem", "gc_ms", "run_ms").map(k =>
        k -> Option(pm.get(k)).map(_.get()).getOrElse(0L)).toMap
    }

    def op(name: String,
           frame: DataFrame => DataFrame, tag: String,
           gen: Long => DataFrame): (String, Seq[(Long, Double)]) = {
      // JIT/codegen warm-up at 1e5 BEFORE timing either size: on a fresh
      // JVM the first execution of an op pays whole-stage-codegen
      // compilation + JIT (round 17 measured 57 s vs a ~10 s steady
      // state for minhash pairs at 1e6), which inflates the SMALL
      // size's ns/row and flatters the decade ratio. Warm-up cost is
      // excluded from the printed numbers.
      frame(materialized(tag, 100000L, gen)).count()
      name -> Seq(nSmall, nLarge).map { n =>
        // SPILL-AWARE partition sizing (round 20): the r19/r20 1e8
        // banding "flat:false" decomposed (via the task-metric channel
        // below) to pure external-sort spill — 8e8 banded rows over the
        // fixed 32 shuffle partitions is 25M rows/partition, past the
        // per-thread execution memory, while the 1e7 point fits and
        // spills ZERO. A real cluster sizes shuffle partitions to the
        // data (the engine's own deployment guidance); the probe now
        // does the same: n/312,500 keeps per-partition volume constant
        // across sizes and leaves every historical point ≤ 1e7
        // unchanged (1e7/312,500 = 32 = the old fixed value).
        spark.conf.set("spark.sql.shuffle.partitions",
          math.max(cpus.toInt, (n / 312500L).toInt))
        // when the sizing rule RAISES the count past the default, AQE's
        // coalescer (64 MB advisory) would fold it right back down and
        // reintroduce the spill — a cluster that sizes partitions
        // deliberately pins them; sizes ≤ 1e7 keep AQE coalescing on
        // (status quo for every historical battery point)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
          ((n / 312500L).toInt <= cpus.toInt).toString)
        val f = frame(materialized(tag, n, gen))
        val lint = PlanLint.lint(s"$name@$n", f)
        require(lint.isEmpty, s"plan-lint violations in $name@$n: $lint")
        pmReset()
        val t0 = System.nanoTime()
        f.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val m = pmSnap()
        println(f"""{"op":"$name","rows":$n,"sec":$sec%.3f,""" +
          f""""ns_per_row":${sec * 1e9 / n}%.1f,""" +
          s""""shuf_w":${m("shuf_w")},"spill_disk":${m("spill_disk")},""" +
          s""""spill_mem":${m("spill_mem")},"gc_ms":${m("gc_ms")},""" +
          s""""run_ms":${m("run_ms")}}""")
        n -> sec * 1e9 / n
      }
    }

    val results = Seq[(String, () => (String, Seq[(Long, Double)]))](
      "dedup_minhash_pairs" -> (() => op("dedup_minhash_pairs", df =>
        graft.dedup.Dedup.minhashPairs(df, "id", "text",
          k = 3, numHashes = 32, bands = 8, maxBucket = 1000),
        "docs", synthDocs(spark, _))),
      // banding-only tier: the scale-critical signature aggregation
      // without the pairs join's (id, sig) re-shuffle — the 1e8-row
      // decade runs THIS op (the full pairs path at 1e8 writes ~60 GB of
      // shuffle, past this host's disk; on a cluster that volume spreads
      // over executors)
      "dedup_minhash_banding" -> (() => op("dedup_minhash_banding", df =>
        graft.dedup.Dedup.minhashOversized(df, "id", "text",
          k = 3, numHashes = 32, bands = 8, maxBucket = 1000),
        "docs", synthDocs(spark, _))),
      "contamination_bloom" -> (() => op("contamination_bloom", df =>
        graft.curate.Contamination.ngramOverlapBloomDistributed(
          df, bench, "id", "text", n = 5),
        "docs", synthDocs(spark, _))),
      "ann_ivf_assign" -> (() => op("ann_ivf_assign", df =>
        graft.sim.Similarity.ivfAssign(df, "v", centroids)
          .groupBy(col("ivf_cell")).agg(count(lit(1)).as("c")),
        "emb", synthEmbeddings(spark, _))),
      // substring-level dedup kernel (Karp-Rabin winnowing native expr +
      // span-fingerprint aggregation) — the second TEXT op suitable for
      // the 1e8 decade: its shuffle is a few slim (doc_id, span_fp) rows
      // per doc, not the document bytes
      "winnow_spans" -> (() => op("winnow_spans", df =>
        graft.dedup.Dedup.spanFlaggedDocs(df, "id", "text", k = 20, w = 8),
        "docs", synthDocs(spark, _))))
      .collect { case (n, f) if onlyOp.forall(_ == n) => f() }

    // flat-cost verdict: per-row cost at nLarge within 2x of nSmall
    // (fixed per-job overhead amortizes DOWN with size, so a clean run
    // usually lands UNDER 1x)
    results.foreach { case (name, Seq((s, cs), (l, cl))) =>
      val ratio = cl / cs
      println(f"""{"verdict":"flat_cost","op":"$name","small_rows":$s,"large_rows":$l,"ratio":$ratio%.2f,"flat":${ratio < 2.0}}""")
    }

    // ---- corpus-size INDEPENDENCE probes (round 17) --------------------
    // The production ingest path's scale claim is stronger than flat
    // per-row: a fixed daily batch probed against a persisted corpus
    // index must SHUFFLE a corpus-size-independent byte volume (the
    // corpus side is bucketed/persisted — scanned at I/O speed across
    // the cluster, never re-shuffled per batch). Verdict is on measured
    // shuffle bytes for the SAME batch at corpora a decade apart; times
    // are reported informationally (scan cost legitimately grows with
    // corpus size on one host, shuffle must not).
    val meter = new graft.Bench.ShuffleMeter(spark.sparkContext)
    // batch content disjoint from every corpus (offset word-space + ids)
    def batchDocs(b: Long): DataFrame = {
      val off = 7777777777L
      spark.range(b).select((col("id") + off).as("id"),
        concat_ws(" ", (0 until 15).map(i =>
          concat(lit("b"), pmod(hash((col("id") + off) * lit(37L + i)),
            lit(50000)))): _*).as("text"))
    }
    def batchEmb(b: Long, dim: Int = 64): DataFrame =
      spark.range(b).select((col("id") + 7777777777L).as("id"),
        array((0 until dim).map(d =>
          (pmod(hash((col("id") + 7777777777L) * lit(173L + d)), lit(2000))
            - lit(1000)).cast("double") / 1000.0): _*).as("v"))
    // fixed asof probe side: same key distribution as its corpus (the
    // skewed variant must hit the hot key), times in the shared domain
    def probeTrades(b: Long, skew: Boolean): DataFrame =
      spark.range(b).select(
        (if (skew) when(col("id") % 10 < 9, lit(0L)).otherwise(col("id") % 1000)
         else col("id") % 1000).as("k"),
        pmod(hash((col("id") + 555555L) * lit(17L)), lit(1000000))
          .cast("double").as("t"),
        col("id").as("pid"))
    // fixed interval probe side, distinct column names (ps, pe)
    def probeIntervals(b: Long): DataFrame =
      spark.range(b)
        .select(col("id").as("pid"),
          pmod(hash((col("id") + 555555L) * lit(11L)), lit(1000000))
            .cast("double").as("ps"))
        .withColumn("pe", col("ps") +
          pmod(hash((col("pid") + 555555L) * lit(19L)), lit(20))
            .cast("double") + 1.0)

    /** expect="independent": bytes flat across the corpus decade (the
      * persisted-index paths — nothing corpus-sized may move per batch).
      * expect="sublinear": bytes may grow with TASK COUNT but not with
      * rows-per-task (bounded-per-task aggregation partials, e.g. LSH
      * bucket counts capped at 2^nBits rows/task) — gate is bytes
      * per corpus row non-increasing across the decade.
      * expect="linear": for ops that legitimately shuffle the data ONCE
      * (asof's tagged-union window, foverlaps' binned equi join) — the
      * scale bug class is anything SUPER-linear (per-probe corpus
      * re-shuffles, quadratic pair blowups), so the gate is bytes PER
      * CORPUS ROW non-increasing (±30% framing margin) across the
      * decade.
      */
    def incrProbe(name: String, build: (DataFrame, String) => Unit,
                  probe: String => DataFrame, tag: String,
                  gen: Long => DataFrame, batchRows: Long = 100000L,
                  expect: String = "independent"): Unit = {
      val volumes = Seq(nSmall, nLarge).map { n =>
        graft.SessionMemo.clearAll()
        val corpus = materialized(tag, n, gen)
        val loc = s"incrprobe_${name}_$n"
        build(corpus, loc) // nightly fit: excluded from the probe window
        graft.SessionMemo.clearAll() // the probe pays its own capped-bucket memo
        val t0 = System.nanoTime()
        val s0 = meter.snapshot()
        probe(loc).count()
        val bytes = meter.snapshot() - s0
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"$name","corpus":$n,"batch":$batchRows,"sec":$sec%.3f,"shuf_bytes":$bytes}""")
        bytes
      }
      val Seq(bs, bl) = volumes
      val ratio = if (bs == 0) (if (bl == 0) 1.0 else 99.0)
                  else bl.toDouble / bs
      if (expect == "independent")
        println(f"""{"verdict":"corpus_independent_shuffle","op":"$name","small_rows":$nSmall,"large_rows":$nLarge,"bytes_ratio":$ratio%.2f,"independent":${ratio < 1.3}}""")
      else {
        val perRowS = bs.toDouble / nSmall
        val perRowL = bl.toDouble / nLarge
        if (expect == "linear")
          println(f"""{"verdict":"linear_shuffle","op":"$name","small_rows":$nSmall,"large_rows":$nLarge,"bytes_per_row_small":$perRowS%.2f,"bytes_per_row_large":$perRowL%.2f,"linear":${perRowL <= perRowS * 1.3}}""")
        else
          println(f"""{"verdict":"sublinear_shuffle","op":"$name","small_rows":$nSmall,"large_rows":$nLarge,"bytes_per_row_small":$perRowS%.2f,"bytes_per_row_large":$perRowL%.2f,"sublinear":${perRowL <= perRowS * 1.1}}""")
      }
    }

    val probes = Seq[(String, () => Unit)](
      "dedup_incremental_probe" -> (() =>
        incrProbe("dedup_incremental_probe",
          (corpus, loc) => graft.dedup.Dedup.saveBandIndexBucketed(
            corpus, "id", "text", loc, k = 3, numHashes = 32, bands = 8),
          loc => graft.dedup.Dedup.minhashIncrementalBucketed(
            spark, loc, batchDocs(100000L), "id", "text",
            k = 3, numHashes = 32, bands = 8, threshold = 0.5),
          "docs", synthDocs(spark, _))),
      "ann_incremental_probe" -> (() =>
        incrProbe("ann_incremental_probe",
          (corpus, loc) => graft.sim.Similarity.saveCellIndex(
            corpus, "id", "v", centroids, s"/tmp/graft_scaleprobe/$loc"),
          loc => graft.sim.Similarity.semIncremental(
            spark, s"/tmp/graft_scaleprobe/$loc", batchEmb(100000L),
            "id", "v", threshold = 0.8),
          "emb", synthEmbeddings(spark, _))),
      // interactive search path: top-k for a fixed 100-query batch must
      // not shuffle the corpus either (round 17 made the query side the
      // broadcast side in ivfTopK — before that a query batch past the
      // broadcast threshold re-shuffled the corpus by cell per search)
      "ann_topk_probe" -> (() =>
        incrProbe("ann_topk_probe",
          (_, _) => (),
          loc => {
            val n = loc.split('_').last.toLong
            graft.sim.Similarity.ivfTopK(
              materialized("emb", n, synthEmbeddings(spark, _)),
              batchEmb(100L), "id", "v", centroids, k = 5, nprobe = 2)
          },
          "emb", synthEmbeddings(spark, _), batchRows = 100L)),
      // hyperplane-LSH search path: same bounded-query-side contract as
      // ivfTopK (the round-17 rewrite cap-filters the QUERY side against
      // the bucket counts and broadcasts it; before, the corpus
      // semi-joined a corpus-derived aggregate and re-shuffled by _sig)
      "ann_lsh_probe" -> (() =>
        incrProbe("ann_lsh_probe",
          (_, _) => (),
          loc => {
            val n = loc.split('_').last.toLong
            graft.sim.Similarity.lshTopK(
              materialized("emb", n, synthEmbeddings(spark, _)),
              batchEmb(100L), "id", "v", dim = 64, nBits = 16, k = 5)
          },
          "emb", synthEmbeddings(spark, _), batchRows = 100L,
          expect = "sublinear")),
      // PERSISTED LSH search (round 18): bucket counts come precomputed
      // from the saveLshIndex build, so NOTHING corpus-derived shuffles
      // per search — the measured bytes are purely the rank's
      // WindowGroupLimit partials (≤ queries × k slim rows PER MAP
      // TASK), which scale with the corpus scan's task count, never
      // with rows-per-task: the definition of the sublinear tier.
      // Strict byte-flat independence is structurally unattainable for
      // ANY exact top-k over a growing corpus scan (each map task must
      // report its local top-k) — measured here as 0.10 -> 0.026
      // B/corpus-row, a ~100x drop from the no-index tier's
      // count-aggregation partials (9.70 -> 2.80 B/row above).
      "ann_lsh_persisted_probe" -> (() =>
        incrProbe("ann_lsh_persisted_probe",
          (corpus, loc) => graft.sim.Similarity.saveLshIndex(
            corpus, "id", "v", s"/tmp/graft_scaleprobe/$loc",
            dim = 64, nBits = 16),
          loc => graft.sim.Similarity.lshTopKIndexed(
            spark, s"/tmp/graft_scaleprobe/$loc", batchEmb(100L),
            "id", "v", dim = 64, nBits = 16, k = 5),
          "emb", synthEmbeddings(spark, _), batchRows = 100L,
          expect = "sublinear")),
      // LSH index APPEND path: folding a fixed 100k batch into a
      // saveLshIndex index reads only the batch and the ≤ 2^nBits-row
      // counts table (the corpus sigs are never re-scanned), so the
      // job's bytes must be flat across the corpus decade. The probe
      // body returns a 1-row frame because appendToLshIndex is an
      // eager write — the append's jobs run inside the measured
      // window, the count() adds nothing.
      "ann_lsh_append_probe" -> (() =>
        incrProbe("ann_lsh_append_probe",
          (corpus, loc) => graft.sim.Similarity.saveLshIndex(
            corpus, "id", "v", s"/tmp/graft_scaleprobe/$loc",
            dim = 64, nBits = 16),
          loc => {
            graft.sim.Similarity.appendToLshIndex(
              spark, s"/tmp/graft_scaleprobe/$loc", batchEmb(100000L),
              "id", "v", dim = 64, nBits = 16)
            spark.range(1).toDF("ok")
          },
          "emb", synthEmbeddings(spark, _))),
      // ---- §2.3 flagship join probes (round 18) ------------------------
      // asof/foverlaps shuffle the DATA once by design (tagged-union
      // window; binned equi join) — the decade gate is expect="linear":
      // bytes per corpus row must not grow. The bug class this catches is
      // the semIncremental shape (a per-probe corpus re-shuffle, which
      // would show as ~flat per-row bytes TIMES the probe count) or a
      // quadratic pair blowup.
      "asof_probe" -> (() =>
        incrProbe("asof_probe",
          (_, _) => (),
          loc => {
            val n = loc.split('_').last.toLong
            // consume the carried value: a bare count() lets column
            // pruning DELETE the unused fill window (and its shuffle),
            // measuring nothing — a real asof consumer reads v
            graft.operators.Joins.asof(
              materialized("trades", n, synthTrades(spark, _)),
              probeTrades(100000L, skew = false), Seq("k"), "t",
              graft.operators.Joins.Locf, valueColsIn = Seq("v"))
              .filter(col("v").isNotNull)
          },
          "trades", synthTrades(spark, _), expect = "linear")),
      // skew path: 90% of corpus rows share ONE key — asofSalted's
      // (by, bucket) sub-split keeps tasks uniform; bytes stay linear
      // (bucketed window + carry join + the tiny bucket-summary table)
      "asof_salted_probe" -> (() =>
        incrProbe("asof_salted_probe",
          (_, _) => (),
          loc => {
            val n = loc.split('_').last.toLong
            graft.operators.Joins.asofSalted(
              materialized("trades_skew", n, synthTradesSkew(spark, _)),
              probeTrades(100000L, skew = true), Seq("k"), "t",
              graft.operators.Joins.Locf, bucketWidth = 1000.0,
              valueColsIn = Seq("v"))
              .filter(col("v").isNotNull) // see asof_probe
          },
          "trades_skew", synthTradesSkew(spark, _), expect = "linear")),
      // binned foverlaps, BOUNDED probe side: a 500k-interval batch is
      // within the planner's broadcast estimate, so the bin equi join
      // broadcasts it and the corpus explodes MAP-SIDE — measured
      // bytes are only the count partials, flat across the decade.
      // Gate: strictly corpus-independent (the corpus must never
      // shuffle for a broadcastable interval batch).
      "overlap_probe" -> (() =>
        incrProbe("overlap_probe",
          (_, _) => (),
          loc => {
            val n = loc.split('_').last.toLong
            graft.operators.Joins.overlapBinned(
              materialized("ivals", n, synthIntervals(spark, _)),
              probeIntervals(500000L), Nil, "s", "e", "ps", "pe",
              binWidth = 16L)
          },
          "ivals", synthIntervals(spark, _), batchRows = 500000L)),
      // binned foverlaps, BIG-vs-BIG tier: the fixed side is a
      // materialized 2e6-interval parquet over a 100x-wider domain —
      // past the broadcast threshold, so the join plans the real
      // shuffled tier (both sides exchange by bin). Shuffle ∝
      // data × (span/binWidth): the gate is linear (per-corpus-row
      // bytes flat); anything super-linear = a bin-explosion bug.
      "overlap_binned_probe" -> (() =>
        incrProbe("overlap_binned_probe",
          (_, _) => (),
          loc => {
            val n = loc.split('_').last.toLong
            graft.operators.Joins.overlapBinned(
              materialized("ivals", n, synthIntervals(spark, _)),
              materialized("ivals_wide", 2000000L,
                synthIntervalsWide(spark, _)),
              Nil, "s", "e", "ps", "pe", binWidth = 16L)
          },
          "ivals", synthIntervals(spark, _), batchRows = 2000000L,
          expect = "linear")))
    probes.foreach { case (n, f) => if (onlyOp.forall(_ == n)) f() }

    spark.stop()
  }
}
