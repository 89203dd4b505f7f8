package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the clustering
  * step a production dedup pipeline runs after near-dup pair generation
  * ([[Dedup.minhashPairs]] / [[Dedup.minhashPairsPortable]]): candidate
  * pairs → components → exactly one representative kept per component.
  * (Pair-based pruning alone is not transitive: dropping the higher id
  * of every pair can drop BOTH of {B,C} for the chain A-B, B-C, or keep
  * two docs that are near-dups of each other through a middleman.)
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC 2014).
  * Every round is a plain hash shuffle of the (src, dst) edge list on
  * src — no driver-side graph, no vertex program — and the component
  * trees flatten geometrically, so convergence is O(log n) rounds even
  * on long chains where min-label propagation would need O(diameter)
  * rounds.
  *
  * Materialization discipline (the 100 TB part):
  *  - the upstream edge pipeline (for near-dup use, the whole LSH
  *    banding/bucketing/jaccard job) is evaluated EXACTLY ONCE — the
  *    deduped edge list is persisted first and every downstream reader
  *    (node set, every star round) reads those blocks;
  *  - each round's edge list is persisted with its logical plan cut to
  *    a bare scan of the materialized RDD (a 10-round loop would
  *    otherwise double the plan ten times), and the convergence
  *    fingerprint is computed by the same materializing job — ONE
  *    action per round. A plain `persist` with the plan cut — NOT
  *    `localCheckpoint`, whose internal blocks `Dataset.unpersist()`
  *    cannot free — so intermediate rounds are released eagerly as
  *    soon as the next round is materialized;
  *  - the final (id, component) labeling is materialized, memoized on
  *    the edge plan, and every intermediate released immediately; call
  *    [[clearCheckpoints]] when done with the results to release the
  *    labelings too (mirrors `Dedup.clearBases`).
  *
  * Reference has no counterpart (clusters there are a by-product of
  * single-node grouping); this is the 100 TB shape of "group the
  * near-dups".
  */
object Components {

  /** (id, component) for every node of `edges`, where component is the
    * minimum node id reachable from `id`. Nodes must be orderable (long
    * doc ids, strings, ...); null endpoints and self-loops are dropped.
    *
    * Throws if the fixpoint is not reached within `maxIter` rounds —
    * a silently-unconverged edge list would yield non-minimal labels
    * and make [[keepRepresentatives]] drop the wrong documents. The
    * default 25 covers any graph whose star-contraction depth is
    * O(log n) (i.e. all of them) with a wide margin.
    *
    * The labeling is session-memoized on the edge plan (the
    * `SessionMemo.planKey` pattern): a pipeline typically reads the SAME
    * candidate-pair list twice — once for the cluster view, once to
    * prune to representatives — and the O(log n)-round job should run
    * once, not per reader. Same staleness contract as
    * `Dedup.clearBases`' base cache: the key is the PLAN, so if the
    * underlying files are overwritten within one session (incremental
    * corpus growth), call [[clearCheckpoints]] before re-labeling or
    * the stale labeling is served. Concurrent first calls for one key
    * block on a single computation ([[graft.SessionMemo]]), so the
    * multi-round job never runs twice.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame =
    memo.getOrElsePut(edges.sparkSession,
      graft.SessionMemo.planKey(edges) + ":" + srcCol + ":" + dstCol)(
      compute(edges, srcCol, dstCol, maxIter))

  /** Runs the star-contraction loop. Every frame this persists is
    * either unpersisted before return or (on success) handed to the
    * memo; the finally block releases whatever was live
    * when a mid-loop Spark failure unwound the stack, so a transient
    * job error cannot strand MEMORY_AND_DISK blocks with no handle.
    */
  private def compute(edges: DataFrame, srcCol: String, dstCol: String,
                      maxIter: Int): DataFrame = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))

    var base: DataFrame = null
    var cur: DataFrame = null
    var res: DataFrame = null
    try {
      // The ONLY evaluation of the upstream pair pipeline.
      val (b, fp0) = materialize(e0.distinct())
      base = b; cur = b
      var fp = fp0
      var converged = false
      var it = 0
      while (!converged && it < maxIter) {
        val (next, nfp) = materialize(smallStar(largeStar(cur)))
        if (cur ne base) cur.unpersist()
        cur = next
        converged = nfp == fp
        fp = nfp
        it += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after $maxIter rounds — " +
            "result would be silently non-minimal; raise maxIter")

      // At the fixpoint the edge list is a star: (v, root) for every
      // non-root v. Roots appear only on the dst side → component = id.
      // All nodes of the ORIGINAL graph come from the persisted base
      // (the star list omits isolated roots' self-rows).
      val nodes = base.select(col("src").as("id"))
        .union(base.select(col("dst").as("id"))).distinct()
      val roots = cur.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("component"))
      res = nodes.join(roots, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      res.count()
      // The labeling is materialized — the star intermediates can go
      // now; only the (id, component) result stays pinned (until
      // clearCheckpoints).
      val out = res
      res = null // success: the finally block must not release it
      out
    } finally {
      // base + final star list are released on BOTH paths (once res is
      // materialized they are dead weight); res only when an exception
      // kept it from being returned.
      if (res != null) res.unpersist()
      if (cur != null && (cur ne base)) cur.unpersist()
      if (base != null) base.unpersist()
    }
  }

  /** Keep exactly one document per near-dup component: rows whose id is
    * its component's representative (the min id), plus every row that
    * never appeared in a candidate pair. Anti-join composition — losers
    * never shuffle their document bodies, mirroring Dedup's prune.
    */
  def keepRepresentatives(df: DataFrame, idCol: String, pairs: DataFrame,
                          srcCol: String = "idA", dstCol: String = "idB"): DataFrame = {
    val losers = connectedComponents(pairs, srcCol, dstCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Large-star: every node points its LARGER neighbors at the minimum
    * of its closed neighborhood. One window (= one hash shuffle on src)
    * over the symmetrized edges.
    */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = least(min(col("dst")).over(Window.partitionBy("src")), col("src"))
    sym.withColumn("m", m)
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: orient every edge large→small, then point each node's
    * SMALLER neighbors (and the node itself) at the minimum neighbor.
    * Both emitted rows come out of ONE window pass via a map-side
    * explode — a self-union of the windowed frame would replay the
    * window exchange per branch.
    */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    or.withColumn("m", min(col("dst")).over(Window.partitionBy("src")))
      .select(explode(array(
        struct(col("dst").as("src"), col("m").as("dst")),
        struct(col("src").as("src"), col("m").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Evaluate `df` once into persisted blocks and return a frame whose
    * logical plan is a bare scan of them (lineage/plan-growth cut),
    * plus the edge-set fingerprint computed by that SAME materializing
    * job (one action per round, not a count + a separate digest pass).
    * Unlike `localCheckpoint`, the persist is CacheManager-tracked, so
    * `unpersist()` genuinely frees the blocks.
    *
    * The fingerprint is (row count, XOR of row hashes) — XOR, not sum,
    * so ANSI mode can't overflow; the edge list is distinct so the XOR
    * is a sound set digest. Equal fingerprints on consecutive rounds =
    * fixpoint.
    */
  private def materialize(df: DataFrame): (DataFrame, (Long, Long)) = {
    val m = df.sparkSession.createDataFrame(df.rdd, df.schema)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val r = m.agg(count(lit(1)), bit_xor(xxhash64(col("src"), col("dst")))).head()
    (m, (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
  }

  // The (id, component) result of every distinct edge plan stays
  // persisted and memoized (several pipeline stages re-read the same
  // labeling), so a long-lived session can reclaim them once results
  // are consumed.
  private val memo = new graft.SessionMemo[DataFrame](_.unpersist())

  /** Unpersist + forget every labeling pinned by past
    * [[connectedComponents]] calls. Results already written/collected
    * are unaffected; an un-evaluated result frame would recompute from
    * the original edges.
    */
  def clearCheckpoints(): Unit = memo.clear()
}
