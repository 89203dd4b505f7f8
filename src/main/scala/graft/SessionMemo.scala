package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo of expensive driver-side fits, persisted frames
  * and read plans — the ONE cache mechanism of the engine. Every memo
  * registers itself when it is constructed, so [[SessionMemo.clearAll]]
  * reaches every cache without a hand-kept list; a new cache is a new
  * `SessionMemo`, never a raw map (`MemoInventorySpec` locks that).
  *
  * Contract, shared by every call site:
  *
  *  - '''Keys''' are `(session, key)`: the session OBJECT, not its
  *    identity hash (a hash can be reused after GC, which would serve a
  *    stopped session's frame to a new one), plus a caller-built string,
  *    conventionally [[SessionMemo.planKey]] `: params` or a path tag, so
  *    prefix eviction can target one corpus/index.
  *  - '''Race-safe insert''' ([[getOrElsePut]]): each entry is a cell
  *    whose lazy value IS the per-key lock, so concurrent callers of one
  *    key get the one registered value and the compute runs once
  *    (driver-side parallelism is real: the PQ subspace fits run from
  *    Futures), and evicting an entry frees its lock. Only SUCCESS
  *    memoizes: a compute that throws leaves no key behind (callers
  *    waiting on it see the same failure), and the next call recomputes.
  *    The earlier putIfAbsent + loser-evict design was self-defeating
  *    for persisted DataFrames — Spark's CacheManager keys on the
  *    LOGICAL PLAN, so the race loser's `onEvict(_.unpersist())`
  *    uncached the semantically identical plan the winner had just
  *    registered.
  *  - '''Stopped-session sweep''': an insert first drops the entries of
  *    sessions whose SparkContext is stopped, without [[onEvict]] (their
  *    cached blocks died with the context), so a restarted-session
  *    workflow never pins dead session state in driver memory.
  *  - '''Writer eviction''' ([[evictPrefix]]/[[clear]]): every removal
  *    path funnels through `release` + [[onEvict]].
  *  - '''Owned observability''' ([[keys]]/[[snapshot]]/[[size]]):
  *    tests assert on the memo's OWNED set, never on the
  *    ContextCleaner-raced global `getPersistentRDDs` count.
  *
  * Values must tolerate [[onEvict]] running at most once per inserted
  * value. An eviction racing an in-flight compute drops the entry
  * without [[onEvict]]; the computing caller still gets its value.
  */
final class SessionMemo[V](onEvict: V => Unit = (_: V) => ()) {

  private final class Cell(compute: => V) {
    @volatile var done = false
    lazy val outcome: Either[Throwable, V] = {
      val o = try Right(compute) catch { case t: Throwable => Left(t) }
      done = true
      o
    }
  }

  private val map =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Cell]

  SessionMemo.register(this)

  /** Memoized value for `(spark, key)`, computing (and registering) it
    * if absent. TrieMap.getOrElseUpdate is atomic (scala 2.13), so one
    * cell exists per key and its lazy value runs the compute once.
    */
  def getOrElsePut(spark: SparkSession, key: String)(compute: => V): V = {
    val k = (spark, key)
    val cell = map.getOrElse(k, {
      sweepStopped()
      map.getOrElseUpdate(k, new Cell(compute))
    })
    cell.outcome match {
      case Right(v) => v
      case Left(t) => map.remove(k, cell); throw t
    }
  }

  /** Drop (and release) every entry, of any session, whose key starts
    * with `prefix` — the writer-eviction hook: callers that rewrite a
    * corpus/index evict its plan- or path-prefixed entries so a stale
    * memo can never serve the new version.
    */
  def evictPrefix(prefix: String): Unit =
    evictWhere { case (_, key) => key.startsWith(prefix) }

  /** [[evictPrefix]] limited to `spark`'s entries. */
  def evictPrefix(spark: SparkSession, prefix: String): Unit =
    evictWhere { case (s, key) => (s eq spark) && key.startsWith(prefix) }

  /** Drop (and release) every entry. */
  def clear(): Unit = evictWhere(_ => true)

  /** `spark`'s completed entries whose key starts with `prefix`. */
  def entries(spark: SparkSession, prefix: String): Seq[(String, V)] =
    completed.collect {
      case ((s, key), v) if (s eq spark) && key.startsWith(prefix) => key -> v
    }.toSeq

  /** Key strings of the currently-memoized entries — the OWNED set
    * tests assert on.
    */
  def keys: Set[String] = map.keySet.map(_._2).toSet

  /** Snapshot of the completed values (key -> value); for persisted
    * frames `frame.storageLevel` reads CacheManager synchronously, so
    * eviction is assertable per owned frame.
    */
  def snapshot: Map[String, V] =
    completed.map { case ((_, key), v) => key -> v }.toMap

  /** Entries (and so per-key locks) held, in flight or done. */
  def size: Int = map.size

  private def completed: Iterator[((SparkSession, String), V)] =
    map.iterator.collect { case (k, c) if c.done => c.outcome.map(k -> _) }
      .collect { case Right(kv) => kv }

  private def evictWhere(p: ((SparkSession, String)) => Boolean): Unit =
    map.keys.filter(p).foreach(k => map.remove(k).foreach(release))

  private def release(c: Cell): Unit =
    if (c.done) c.outcome.foreach(onEvict)

  private def sweepStopped(): Unit =
    map.keys.filter(_._1.sparkContext.isStopped).foreach(map.remove)
}

object SessionMemo {
  // weak, so a memo that is itself garbage (a test's local one) leaves
  private val registry = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SessionMemo[_], java.lang.Boolean]())

  private def register(m: SessionMemo[_]): Unit =
    registry.synchronized { registry.add(m) }

  /** Every live memo. */
  private[graft] def registered: Seq[SessionMemo[_]] =
    registry.synchronized { registry.toArray(Array.empty[SessionMemo[_]]).toSeq }

  /** Drop (and release) every entry of every memo — for callers that
    * need a KNOWN-COLD engine: the shuffle-byte budget spec meters each
    * flagship query's full plan volume including its one-time fit
    * builds, which is only deterministic if no earlier query left a fit
    * warm.
    */
  def clearAll(): Unit = registered.foreach(_.clear())

  /** Plan half of a memo key: the analyzed plan's semanticHash plus the
    * COLUMN LIST (a 32-bit semanticHash alone can collide across
    * re-written tables; the column names cheaply disambiguate the common
    * same-shape-different-schema case). The plan is already analyzed
    * (Dataset construction is eager), so this runs no analyzer.
    */
  def planKey(df: DataFrame): String =
    df.queryExecution.analyzed.semanticHash().toString + ":" +
      df.columns.mkString(",")
}
