package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming mode (SURVEY.md §2.12 — pure extension; the reference has
  * no streaming engine). The same operators that serve the batch
  * `events` table are exposed over Structured Streaming: tumbling /
  * sliding / session windows, watermarked dedup, stream-static as-of
  * enrichment. State stores hash-partition by the grouping keys, so a
  * 1000-executor cluster shards state horizontally.
  */
object Streams {

  /** Switch this session's streaming state stores to RocksDB
    * (`spark.sql.streaming.stateStore.providerClass`). The default
    * HDFS-backed provider keeps each partition's state as an in-memory
    * map with full-snapshot checkpoints — at real corpus scale the
    * watermarked-dedup state (one entry per unique doc inside the
    * horizon) outgrows executor heap, and its snapshot-restore logged
    * warnings in the restart spec. RocksDB keeps state on local disk
    * with incremental (changelog) checkpointing, the shape a
    * 1000-executor deployment wants. Takes effect for queries STARTED
    * after the call (each query snapshots the conf at start);
    * [[useDefaultStateStore]] restores the built-in provider.
    */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Restore the default (HDFS-backed) streaming state store provider. */
  def useDefaultStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")

  /** readStream over a parquet directory with an explicit schema (stream
    * sources cannot infer). Use `maxFilesPerTrigger` to pace backfills.
    */
  def readParquetStream(spark: SparkSession, path: String, schema: StructType,
                        maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Tumbling/sliding window aggregation with watermark — the streaming
    * twin of the batch date_trunc query (q_window_tumbling).
    */
  def windowedAgg(events: DataFrame, tsCol: String, watermark: String,
                  windowLen: String, slide: Option[String] = None,
                  keys: Seq[String] = Nil, aggs: Seq[Column] = Seq(count(lit(1)).as("n"))): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), windowLen, s)
      case None    => window(col(tsCol), windowLen)
    }
    events.withWatermark(tsCol, watermark)
      .groupBy((win +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Session windows (gap-based), keyed per user. */
  def sessionAgg(events: DataFrame, tsCol: String, watermark: String,
                 gap: String, keys: Seq[String],
                 aggs: Seq[Column] = Seq(count(lit(1)).as("n"))): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Watermarked streaming dedup — the streaming form of exact dedup:
    * duplicates arriving within the watermark horizon are dropped.
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
                           keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Content-keyed streaming dedup — the streaming form of the
    * pipeline's document dedup: duplicates of a document (by
    * fingerprint, or by aggressive canonical form) arriving within the
    * watermark horizon are dropped. State is one 16-byte md5 key per
    * unique document inside the horizon, watermark-bounded — the
    * streaming twin of Dedup.exact / Dedup.exactCanonical.
    */
  def dedupContentStream(docs: DataFrame, tsCol: String, watermark: String,
                         textCol: String,
                         canonical: Boolean = false): DataFrame = {
    val fp =
      if (canonical) md5(graft.text.TextFunctions.canonicalize(col(textCol)))
      else graft.text.TextFunctions.fingerprint(col(textCol))
    docs.withColumn("_graft_fp", fp)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_graft_fp")
      .drop("_graft_fp")
  }

  // ---- streaming MinHash near-dup tier --------------------------------

  case class BandedDoc(doc_id: Long, ts: java.sql.Timestamp, band: Int, bh: Long)
  case class CandPair(idA: Long, idB: Long, band: Int)
  /** Per-(band, bandHash) bucket membership inside the TTL horizon.
    * `saturated` buckets (boilerplate collisions past maxBucket) stop
    * emitting — the streaming twin of Dedup.cappedBuckets' size cap.
    */
  case class BucketState(ids: List[Long], lastTsMillis: Long, saturated: Boolean)

  /** Streaming MinHash+LSH near-duplicate CANDIDATE detection — the
    * in-stream twin of [[graft.dedup.Dedup.minhashPairs]]. Each arriving
    * doc is shingled, minhashed, and banded exactly like the batch path;
    * the stateful pass keys on (band, bandHash) so every executor holds
    * a shard of the bucket table. A new doc landing in a non-empty live
    * bucket emits one candidate pair per co-resident doc (idA < idB;
    * the same pair may surface from several bands — downstream exact-
    * jaccard verification dedups, as in the batch tier).
    *
    * State is bounded three ways: watermark + event-time TTL expires
    * idle buckets; maxBucket caps membership (and marks the bucket
    * saturated — degenerate boilerplate buckets would otherwise emit
    * O(n²) pairs forever); and only (id, ts) pairs live in state —
    * never text or signatures.
    */
  def nearDupCandidatesStream(docs: DataFrame, idCol: String, tsCol: String,
                              textCol: String, watermark: String,
                              stateTtlMillis: Long, k: Int = 3,
                              numHashes: Int = 32, bands: Int = 8,
                              maxBucket: Int = 100)
      : org.apache.spark.sql.Dataset[CandPair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    val rowsPerBand = numHashes / bands
    val sig = graft.plans.MinHashSignature(
      graft.plans.ShingleHashes(
        graft.text.TextFunctions.normTokens(col(textCol)), k), numHashes)
    val banded = docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        explode(graft.dedup.Dedup.lshBands(sig, bands, rowsPerBand)).as("b"))
      .select(col("doc_id"), col("ts"),
        col("b.band").as("band"), col("b.bh").as("bh"))
      .withWatermark("ts", watermark)
      .as[BandedDoc]
    banded.groupByKey(d => (d.band, d.bh))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), it: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toIndexedSeq.sortBy(d => (d.ts.getTime, d.doc_id))
            var st = state.getOption.getOrElse(BucketState(Nil, 0L, saturated = false))
            val out = Seq.newBuilder[CandPair]
            sorted.foreach { d =>
              if (!st.saturated && !st.ids.contains(d.doc_id)) {
                st.ids.foreach { prev =>
                  out += (if (prev < d.doc_id) CandPair(prev, d.doc_id, d.band)
                          else CandPair(d.doc_id, prev, d.band))
                }
                val grown = d.doc_id :: st.ids
                st = BucketState(grown, math.max(st.lastTsMillis, d.ts.getTime),
                  saturated = grown.size > maxBucket)
              } else {
                st = st.copy(lastTsMillis = math.max(st.lastTsMillis, d.ts.getTime))
              }
            }
            state.update(st)
            // re-arm strictly above the watermark (Spark kills the query
            // on a stale timeout timestamp)
            state.setTimeoutTimestamp(math.max(st.lastTsMillis + stateTtlMillis,
              state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  case class CellDoc(doc_id: Long, ts: java.sql.Timestamp, cell: Int,
                     vec: Seq[Double])
  case class SemPair(idA: Long, idB: Long, cell: Int, sim: Double)
  case class CellState(docs: List[(Long, Seq[Double])], lastTsMillis: Long,
                       saturated: Boolean)

  /** Streaming dedup against a PERSISTED corpus index
    * ([[graft.dedup.Dedup.saveBandIndex]]): each in-flight doc is
    * shingled/banded with the portable kernels and stream-static joined
    * to the index's capped (band, bh) buckets; candidates are verified
    * with exact Jaccard against the index's shingle table. Emits
    * (new_id, ts, dup_of, jaccard) for every stream doc near-duplicating
    * a corpus doc — the ingest-firehose twin of
    * [[graft.dedup.Dedup.minhashIncrementalIndexed]].
    *
    * Stateless except pair dedup: one doc's `bands` rows can match the
    * same base doc in several bands, so duplicate pairs are dropped with
    * `dropDuplicatesWithinWatermark` — all of a doc's bands carry ONE
    * event time, so the watermark bound is exact, and state is (pair
    * key) × watermark window, never the corpus. The index sides are
    * batch DataFrames whose FILE LISTING is captured at stream
    * definition (InMemoryFileIndex): a nightly re-fit that overwrites
    * the index is NOT picked up in-flight — new files are invisible and
    * deleting listed files fails the running query. Restart the stream
    * from its checkpoint after an index overwrite (cheap: all state is
    * watermark-bounded pair dedup); appends via
    * [[graft.dedup.Dedup.appendToBandIndex]] likewise need a restart to
    * be seen. [[dedupAgainstIndexReloadingWriter]] trades a per-batch
    * index scan for picking up re-fits WITHOUT a restart.
    */
  def dedupAgainstIndexStream(docs: DataFrame, idCol: String, tsCol: String,
                              textCol: String, indexPath: String,
                              watermark: String, k: Int = 3,
                              numHashes: Int = 32, bands: Int = 8,
                              threshold: Double = 0.5,
                              maxBucket: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    val banded = graft.dedup.Dedup.portableBandedProjection(
        docs, textCol, k, numHashes, bands)
      .select(col(idCol).as("new_id"), col(tsCol).as("ts"),
        col("sh"), col("band"), col("bh"))
      .withWatermark("ts", watermark)
    val buckets = graft.dedup.Dedup.bandIndexBanded(spark, indexPath)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("base_ids"))
      .filter(size(col("base_ids")) <= maxBucket)
    val idxSh = graft.dedup.Dedup.bandIndexShingles(spark, indexPath)
      .select(col("id").as("dup_of"), col("sh").as("shB"))
    banded.join(buckets, Seq("band", "bh"))
      .select(col("new_id"), col("ts"), col("sh"),
        explode(col("base_ids")).as("dup_of"))
      .dropDuplicatesWithinWatermark("new_id", "dup_of")
      .join(idxSh, Seq("dup_of"))
      .withColumn("jaccard", graft.dedup.Dedup.jaccard(col("sh"), col("shB")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("ts"), col("dup_of"), col("jaccard"))
  }

  /** [[dedupAgainstIndexStream]] that PICKS UP nightly index re-fits
    * without a stream restart: `foreachBatch` re-reads the index per
    * micro-batch (a fresh read = a fresh file listing, so an overwrite
    * or append by ANY process — this session or a nightly job — is
    * visible at the next batch), evicting the session bucket memo
    * first so the oracle-proven batch twin
    * ([[graft.dedup.Dedup.minhashIncrementalIndexed]]) rebuilds from
    * the new files. The trade against the stream-static form: every
    * micro-batch pays one index scan + bucket aggregation instead of a
    * cached join — right when the index refreshes on a cadence
    * comparable to the trigger interval is long (minutes-hourly
    * triggers against a nightly refit), wrong for sub-second triggers
    * (keep the stream-static form and restart nightly). Stateless —
    * the sink sees (new_id, dup_of, jaccard) per batch.
    */
  def dedupAgainstIndexReloadingWriter(docs: DataFrame, idCol: String,
                                       textCol: String, indexPath: String,
                                       k: Int = 3, numHashes: Int = 32,
                                       bands: Int = 8, threshold: Double = 0.5,
                                       maxBucket: Int = 1000)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.dedup.Dedup.evictIndex(indexPath)
      // the batch twin memoizes the batch's shingle base PERSISTED,
      // keyed on the per-batch plan — evict it after the sink or a
      // long-running stream accumulates one pinned frame per
      // micro-batch (the reason the stream-static form uses the
      // un-memoized projection)
      try sink(graft.dedup.Dedup.minhashIncrementalIndexed(
        batch.sparkSession, indexPath, batch, idCol, textCol,
        k, numHashes, bands, threshold, maxBucket))
      finally graft.dedup.Dedup.clearBases(Some(batch))
    }

  /** [[semDedupAgainstIndexStream]] that PICKS UP nightly index
    * re-fits without a stream restart — the semantic twin of
    * [[dedupAgainstIndexReloadingWriter]]: per micro-batch, evict the
    * session memos for `indexPath` (fresh centroid collect + fresh
    * cell-table listing) and run the oracle-proven batch twin
    * ([[graft.sim.Similarity.semIncremental]]). Re-assigned cells and
    * new centroids are therefore consistent within every batch — the
    * stale-centroids-vs-new-cells hazard of reloading only one side
    * cannot arise. Same trade as the minhash form: one centroid
    * collect + cell scan per batch.
    */
  def semDedupAgainstIndexReloadingWriter(docs: DataFrame, idCol: String,
                                          vecCol: String, indexPath: String,
                                          threshold: Double,
                                          maxCell: Int = 1000)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      graft.sim.Similarity.evictIndexFits(indexPath)
      sink(graft.sim.Similarity.semIncremental(
        batch.sparkSession, indexPath, batch, idCol, vecCol,
        threshold, maxCell))
    }

  /** Streaming semantic dedup against a PERSISTED cell index
    * ([[graft.sim.Similarity.saveCellIndex]]): each in-flight embedding
    * is assigned to its kmeans cell with the saved centroids (broadcast
    * native argmax — stateless), stream-static joined to the stored
    * corpus vectors of that cell (capped per cell), and verified with
    * exact cosine. FULLY stateless — cells are disjoint, so each
    * (stream doc, corpus doc) pair arises exactly once; no watermark
    * state needed. Emits (new_id, ts, dup_of, sim). The batch twin is
    * [[graft.sim.Similarity.semIncremental]]. NOTE: the centroids are
    * collected ONCE at stream definition and the cell table's file
    * listing is captured in the plan — a nightly index re-fit is NOT
    * picked up in-flight (stale centroids against re-assigned cells
    * would silently mismatch). Restart the (stateless) stream from its
    * checkpoint after any index overwrite, or use
    * [[semDedupAgainstIndexReloadingWriter]] to pay a per-batch reload
    * instead.
    */
  def semDedupAgainstIndexStream(docs: DataFrame, idCol: String, tsCol: String,
                                 vecCol: String, indexPath: String,
                                 threshold: Double,
                                 maxCell: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    val centroids = graft.sim.Similarity.loadIvfIndex(spark, indexPath)
    val cells = graft.sim.Similarity.cellIndexCells(spark, indexPath)
    val counts = cells.groupBy(col("cell")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxCell).select(col("cell"))
    // norms staged per ROW (not per pair) — see Similarity.semanticPairs
    val corpus = cells.join(counts, Seq("cell"))
      .select(col("cell"), col("id").as("dup_of"), col("vec").as("_vb"),
        sqrt(graft.plans.DotProduct(col("vec"), col("vec"))).as("_naB"))
    val assigned = docs.select(col(idCol).as("new_id"), col(tsCol).as("ts"),
        col(vecCol).as("_va"),
        sqrt(graft.plans.DotProduct(col(vecCol), col(vecCol))).as("_naA"),
        graft.plans.NearestCentroid(col(vecCol), centroids).as("cell"))
    assigned.join(corpus, Seq("cell"))
      .withColumn("sim",
        when(col("_naA") > 0 && col("_naB") > 0,
          graft.plans.DotProduct(col("_va"), col("_vb")) / (col("_naA") * col("_naB")))
          .otherwise(lit(0.0)))
      .filter(col("sim") >= threshold)
      .select(col("new_id"), col("ts"), col("dup_of"), col("sim"))
  }

  /** Streaming SemDeDup gate: semantic near-duplicate PAIRS between
    * in-flight documents, cross-batch — the streaming twin of
    * `Similarity.semanticPairs`. The kmeans centroids are a PRE-FIT
    * broadcast literal (the batch `kmeansFitMod`, re-fit offline on
    * whatever cadence drift demands); cell ASSIGNMENT is the stateless
    * native argmax, and state is keyed BY CELL, so only same-cell
    * vectors ever compare — the batch operator's no-all-pairs shape
    * carried into the state store. Per-cell state holds recent vectors
    * with a TTL and a saturation cap (a hot cell stops accumulating
    * instead of growing without bound, mirroring the batch maxCell
    * audit). Emits one row per (earlier doc, later doc) pair with
    * cosine >= threshold.
    */
  def semDedupPairsStream(docs: DataFrame, idCol: String, tsCol: String,
                          vecCol: String, centroids: Seq[Seq[Double]],
                          threshold: Double, watermark: String,
                          stateTtlMillis: Long, maxCell: Int = 100)
      : org.apache.spark.sql.Dataset[SemPair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) { dot += a(i) * b(i); i += 1 }
      i = 0; while (i < a.length) { na += a(i) * a(i); i += 1 }
      i = 0; while (i < b.length) { nb += b(i) * b(i); i += 1 }
      if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    val assigned = docs
      .select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        graft.plans.NearestCentroid(col(vecCol), centroids).as("cell"),
        col(vecCol).as("vec"))
      .withWatermark("ts", watermark)
      .as[CellDoc]
    assigned.groupByKey(_.cell)
      .flatMapGroupsWithState[CellState, SemPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (cell: Int, it: Iterator[CellDoc], state: GroupState[CellState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toIndexedSeq.sortBy(d => (d.ts.getTime, d.doc_id))
            var st = state.getOption.getOrElse(CellState(Nil, 0L, saturated = false))
            val out = Seq.newBuilder[SemPair]
            sorted.foreach { d =>
              if (!st.saturated && !st.docs.exists(_._1 == d.doc_id)) {
                st.docs.foreach { case (prevId, prevVec) =>
                  val s = cos(prevVec, d.vec)
                  if (s >= threshold)
                    out += (if (prevId < d.doc_id) SemPair(prevId, d.doc_id, cell, s)
                            else SemPair(d.doc_id, prevId, cell, s))
                }
                val grown = (d.doc_id, d.vec) :: st.docs
                st = CellState(grown, math.max(st.lastTsMillis, d.ts.getTime),
                  saturated = grown.size > maxCell)
              } else {
                st = st.copy(lastTsMillis = math.max(st.lastTsMillis, d.ts.getTime))
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(math.max(st.lastTsMillis + stateTtlMillis,
              state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Stream-static enrichment: join each streaming row against a static
    * dimension (broadcast by Catalyst when small) — the streaming
    * counterpart of the keyed equi join x[i].
    */
  def enrich(stream: DataFrame, dim: DataFrame, on: Seq[String],
             how: String = "left"): DataFrame =
    stream.join(broadcast(dim), on, how)

  // ---- streaming curation gates ---------------------------------------

  /** Streaming quality gate: per-row Gopher filter (stateless — no
    * watermark, no state store; the filter is a narrow map). With the
    * default `keepAll=false`, documents failing any rule are dropped
    * (survivors' `f.reasons` is "" by construction); pass
    * `keepAll=true` to keep EVERY row annotated — the form a
    * drop-audit report needs, since the non-empty reasons ride the
    * rows the filter would remove. The streaming twin of
    * `q_quality_filter`.
    */
  def qualityFilterStream(docs: DataFrame, textCol: String,
                          minTokens: Int = 50, maxTokens: Int = 100000,
                          minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                          maxSymbolRatio: Double = 0.1,
                          minAlphaRatio: Double = 0.8,
                          minStopwords: Int = 2,
                          keepAll: Boolean = false): DataFrame = {
    val annotated = graft.text.TextFunctions.withGopherFilter(docs, textCol,
      minTokens, maxTokens, minMeanLen, maxMeanLen, maxSymbolRatio,
      minAlphaRatio, minStopwords)
    if (keepAll) annotated else annotated.filter(col("f.keep"))
  }

  /** Streaming DSIR scoring gate: score in-flight documents by the
    * importance log-weight of their hashed n-gram buckets against a
    * PRE-FIT bucket diff array (fit on a static raw corpus + target via
    * `Dsir.importanceWeightsSubset`'s count fit — re-fit offline on
    * whatever cadence drift demands, like the kmeans codebooks). The
    * scoring itself is a stateless projection — tokenize, bucket,
    * sum the broadcast literal array — so it runs on a stream with no
    * watermark and no state store; `minLogw` turns it into a keep-gate.
    */
  def dsirScoreStream(docs: DataFrame, textCol: String,
                      diff: Array[Double],
                      minLogw: Option[Double] = None,
                      out: String = "logw"): DataFrame = {
    val buckets = diff.length
    val staged = docs.withColumn("_graft_toks",
      graft.text.TextFunctions.normTokens(col(textCol)))
      .withColumn("_graft_b",
        graft.curate.Dsir.gramBucketsFromTokens(col("_graft_toks"), buckets))
    val diffLit = array(diff.map(lit(_)).toSeq: _*)
    val scored = staged.withColumn(out,
      aggregate(col("_graft_b"), lit(0.0),
        (acc, b) => acc + element_at(diffLit, b + 1)))
      .drop("_graft_toks", "_graft_b")
    minLogw.fold(scored)(t => scored.filter(col(out) >= t))
  }

  /** Streaming decontamination gate: drop any in-flight document that
    * shares a word n-gram with the static benchmark set — the
    * streaming twin of `Contamination.decontaminate`.
    *
    * The hit-detection needs doc→gram explode, a semi join against the
    * benchmark grams, and an anti join back onto the documents; that
    * last step is a stream-STREAM anti join, which Structured
    * Streaming does not support. The production shape is therefore
    * `foreachBatch`: each micro-batch is a plain batch frame, the
    * oracle-proven batch operator runs unchanged (benchmark grams
    * broadcast, batch text never shuffles), and the sink sees only
    * clean documents. Stateless — no watermark, no state store.
    */
  def decontaminatedWriter(docs: DataFrame, bench: DataFrame, idCol: String,
                           textCol: String, n: Int = 13,
                           sink: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // The benchmark's distinct gram set is static: build + persist it
    // ONCE here, not per micro-batch (a seconds-granularity trigger
    // would otherwise re-tokenize the whole eval suite forever).
    // Blocks materialize on the first batch; unpersist after stopping
    // the query if the session lives on.
    val bg = graft.curate.Contamination
      .benchGramSet(bench, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val dirty = graft.curate.Contamination
        .ngramOverlapAgainst(batch, bg, idCol, textCol, n)
        .select(col(idCol))
      sink(batch.join(dirty, Seq(idCol), "left_anti"))
    }
  }

  // ---- stateful as-of enrichment (flatMapGroupsWithState) --------------

  case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
                event_type: String, value: Double)
  case class EnrichedEv(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
                        event_type: String, value: Double,
                        last_match: Option[Double])

  /** Streaming as-of (LOCF) enrichment: for every event of
    * `probeType`, attach the latest prior `refType` value of the same
    * user — the streaming twin of `Joins.asof(..., Locf)`. Custom state
    * = one Double per user, sharded across executors by the group key
    * (SURVEY.md §2.12). Events are ordered within each micro-batch;
    * state carries the prevailing value across batches.
    */
  /** Reference-side state for the TTL as-of: the prevailing value and
    * ITS event time, so late probes are detectable.
    */
  case class AsofState(lastValue: Double, lastTsMillis: Long)

  /** [[asofEnrichStream]] with an EVENT-TIME TIMEOUT and an explicit
    * late-data policy — the production-shaped variant:
    *
    *  - State for a user EXPIRES once the watermark passes
    *    lastRefTs + stateTtl, so the state store stays bounded by the
    *    active-user set instead of growing forever (the NoTimeout
    *    variant is a slow leak at 100 TB/day).
    *  - A probe older than the prevailing reference (a late arrival the
    *    single-value state cannot answer exactly) follows
    *    `lateProbePolicy`: "null" (default — emit unenriched; honest) or
    *    "enrich" (attach the newer value; approximate LOCF).
    *
    * Requires a watermark on `ts` upstream (EventTimeTimeout contract).
    */
  def asofEnrichStreamTtl(events: org.apache.spark.sql.Dataset[Ev],
                          refType: String, probeType: String,
                          stateTtlMillis: Long,
                          lateProbePolicy: String = "null")
      : org.apache.spark.sql.Dataset[EnrichedEv] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    require(lateProbePolicy == "null" || lateProbePolicy == "enrich",
      s"lateProbePolicy=$lateProbePolicy")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, EnrichedEv](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[AsofState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur: Option[AsofState] = state.getOption
            val out = sorted.flatMap { e =>
              if (e.event_type == refType) {
                // ignore a ref older than the prevailing one (late ref)
                if (cur.forall(_.lastTsMillis <= e.ts.getTime))
                  cur = Some(AsofState(e.value, e.ts.getTime))
                None
              } else if (e.event_type == probeType) {
                val matched = cur match {
                  case Some(st) if e.ts.getTime >= st.lastTsMillis => Some(st.lastValue)
                  case Some(st) if lateProbePolicy == "enrich"     => Some(st.lastValue)
                  case _                                           => None
                }
                Some(EnrichedEv(e.event_id, e.user_id, e.ts, e.event_type, e.value, matched))
              } else None
            }
            cur.foreach { st =>
              state.update(st)
              // never at/below the watermark: Spark throws (and kills the
              // query) if a group gets data after its natural TTL passed
              // and we re-arm with the stale timestamp
              state.setTimeoutTimestamp(math.max(st.lastTsMillis + stateTtlMillis,
                state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  /** Watermarked STREAM-STREAM interval join: rows of `left` match rows
    * of `right` with equal keys whose event time falls in
    * [leftTs − lookback, leftTs]. Both sides carry watermarks, so
    * Spark's join state is bounded by watermark + lookback — the
    * Spark-native windowed join (returns ALL matches in the window; for
    * latest-only semantics compose [[asofEnrichTwoStreams]] instead).
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, on: Seq[String],
                          leftTs: String, rightTs: String,
                          lookback: String, watermark: String,
                          how: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    val keys = on.map(c => col(s"l.$c") === col(s"r.$c"))
    val time = expr(s"r.$rightTs <= l.$leftTs AND " +
      s"r.$rightTs >= l.$leftTs - INTERVAL $lookback")
    l.join(r, keys.foldRight(time: Column)(_ && _), how)
  }

  /** STREAM-STREAM as-of enrichment: a reference stream and a probe
    * stream, unioned into the single stateful pass. The union is the
    * scale-correct shape — one watermark, one shuffle on user_id, one
    * state row per user — where a stream-stream interval join + latest-
    * pick would need two chained stateful operators and re-buffer every
    * reference within the horizon per probe.
    */
  def asofEnrichTwoStreams(refs: org.apache.spark.sql.Dataset[Ev],
                           probes: org.apache.spark.sql.Dataset[Ev],
                           refType: String, probeType: String,
                           stateTtlMillis: Long,
                           lateProbePolicy: String = "null")
      : org.apache.spark.sql.Dataset[EnrichedEv] =
    asofEnrichStreamTtl(refs.unionByName(probes), refType, probeType,
      stateTtlMillis, lateProbePolicy)

  def asofEnrichStream(events: org.apache.spark.sql.Dataset[Ev],
                       refType: String, probeType: String)
      : org.apache.spark.sql.Dataset[EnrichedEv] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, EnrichedEv](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[Double]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var last: Option[Double] = state.getOption
          val out = sorted.flatMap { e =>
            if (e.event_type == refType) { last = Some(e.value); None }
            else if (e.event_type == probeType)
              Some(EnrichedEv(e.event_id, e.user_id, e.ts, e.event_type, e.value, last))
            else None
          }
          last.foreach(state.update)
          out.iterator
      }
  }
}
