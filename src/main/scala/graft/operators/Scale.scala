package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale utilities for the 100 TB case: skew salting, co-located
  * persistence, and explosion guards. These are the knobs the reference
  * never needed (single shared-memory node) but that decide whether a
  * plan survives a 1000-executor shuffle.
  */
object Scale {

  /** Salted join for skewed keys: the skewed (large) side gets a random
    * salt in [0, salts); the small side is replicated `salts` times via
    * explode. Restores a uniform shuffle at the cost of `salts`× the
    * small side — use for power-law keys where AQE skew-split isn't
    * enough. Salt comes from a hash of all columns (deterministic), not
    * rand(), so retries/speculative tasks agree.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, on: Seq[String],
                 salts: Int, how: String = "inner"): DataFrame = {
    // right/full would emit `salts` copies of unmatched small-side rows
    require(how == "inner" || how == "left",
      s"saltedJoin supports inner/left, got $how")
    val saltCol = "_graft_salt"
    val l = large.withColumn(saltCol,
      pmod(xxhash64(large.columns.map(col).toSeq: _*), lit(salts)).cast("int"))
    val s = small.withColumn(saltCol,
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(s, on :+ saltCol, how).drop(saltCol)
  }

  /** Persist a table partitioned+sorted by key — the at-rest form of
    * setkey(): later scans of `path` joined/grouped on `keys` avoid a
    * full shuffle via partition pruning on the key prefix.
    */
  def writeKeyed(df: DataFrame, path: String, keys: Seq[String],
                 numPartitions: Int = 0): Unit = {
    val repart =
      if (numPartitions > 0) df.repartitionByRange(numPartitions, keys.map(col): _*)
      else df.repartitionByRange(keys.map(col): _*)
    repart.sortWithinPartitions(keys.map(col): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Hive-style partitioned sink for low-cardinality keys (partition
    * pruning on read = the reference's keyed binary-search subset).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  // ---- secondary-index registry (setindex, R/setkey.R:11-19) ----------

  /** (source-plan fingerprint, index cols) → persisted sorted copy. The
    * copy is range-partitioned + sorted by the index columns and cached;
    * in-memory columnar batches carry min/max stats, so filters routed
    * through it PRUNE whole batches — the distributed analog of the
    * reference's secondary-key binary search. Driver-local plan cache
    * (indexes are per-session, like the reference's per-table attribute).
    */
  private val indexRegistry =
    new graft.SessionMemo[(Seq[String], DataFrame)](_._2.unpersist())

  /** Key prefix of every index on `df`'s table. */
  private def tableKey(df: DataFrame): String = graft.SessionMemo.planKey(df) + ":"

  /** `df`'s registered indexes, as (index columns, sorted copy). */
  private def indexesOn(df: DataFrame): Seq[(Seq[String], DataFrame)] =
    indexRegistry.entries(df.sparkSession, tableKey(df)).map(_._2)

  /** setkey's CLUSTER-PERSISTENT form (SURVEY §2.6 "persisted sorted
    * copy"; R/setkey.R's sorted attribute made durable): write the
    * table bucketed + per-bucket-sorted by the key into the session
    * catalog. Scans of the saved table report hash-clustered
    * outputPartitioning over the key, so keyed JOINS between two
    * tables bucketed the same way and keyed GROUP BYs plan with ZERO
    * Exchange — at 100 TB the shuffle this deletes is the dominant
    * cost of every repeated keyed pipeline, which is exactly the
    * workload setkey exists for. Unlike [[setIndex]]'s session-cached
    * range-sorted copy, the bucketed table survives the session and is
    * shared by every reader of the catalog.
    */
  def setKeyBucketed(df: DataFrame, table: String, cols: Seq[String],
                     buckets: Int = 32): DataFrame = {
    require(cols.nonEmpty, "setKeyBucketed needs at least one key column")
    dropTableAndLocation(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(table)
    df.sparkSession.table(table)
  }

  /** Drop `table` AND its warehouse directory. A FRESH session (new
    * derby metastore) does not know tables a previous session wrote —
    * but their directories still sit under spark.sql.warehouse.dir, and
    * saveAsTable then fails with LOCATION_ALREADY_EXISTS (mode
    * "overwrite" can only replace a table the catalog knows about).
    * Every bucketed-table writer must call this first so catalog
    * indexes survive session restarts — the round-7 events-loader
    * lesson applied to the warehouse: never assume this session made
    * the on-disk state.
    */
  private[graft] def dropTableAndLocation(spark: org.apache.spark.sql.SparkSession,
                                          table: String): Unit = {
    // Only unqualified names: a qualified/custom-location table's guessed
    // warehouse path could belong to an UNRELATED default-db table.
    require(!table.contains("."),
      s"dropTableAndLocation takes an unqualified default-database name, got $table")
    val fullName = s"`default`.`$table`"
    // When the catalog knows the table, delete its ACTUAL location (the
    // catalog is the source of truth — never guess while an authority
    // exists); the warehouse-path guess is only for true orphans (a
    // fresh metastore meeting a stale warehouse directory).
    // headOption: a catalog entry without a Location row (e.g. a
    // same-named VIEW) must fall back to the warehouse-path guess with
    // the drop still issued, not die on a bare NoSuchElementException
    val described: Option[String] =
      if (spark.catalog.tableExists(fullName))
        spark.sql(s"DESCRIBE TABLE EXTENDED $fullName")
          .filter(col("col_name") === "Location")
          .select(col("data_type")).collect().headOption.map(_.getString(0))
      else None
    val loc: org.apache.hadoop.fs.Path = described match {
      case Some(uri) => new org.apache.hadoop.fs.Path(new java.net.URI(uri))
      case None => new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    }
    spark.sql(s"DROP TABLE IF EXISTS $fullName")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** setindex(): build (or reuse) the sorted cached copy for `cols`. */
  def setIndex(df: DataFrame, cols: Seq[String]): DataFrame =
    indexRegistry.getOrElsePut(df.sparkSession,
        tableKey(df) + cols.mkString("\u0000")) {
      (cols, df.repartitionByRange(cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }._2

  /** Route a filter whose referenced columns include an index's leading
    * column to the indexed copy (leading-prefix rule, like the
    * reference's secondary-key usage).
    */
  def indexFor(df: DataFrame, predicateRefs: Set[String]): Option[DataFrame] =
    indexesOn(df).collectFirst {
      case (cols, idx) if predicateRefs.contains(cols.head) => idx
    }

  /** [[indexFor]] with the predicate refs resolved from the Column
    * itself. The analysis pass runs only when this table has at least
    * one registered index (the common un-indexed path stays zero-cost).
    */
  def indexedSource(df: DataFrame, cond: Column): Option[DataFrame] = {
    if (indexRegistry.size == 0) return None   // zero cost when nothing is indexed
    if (indexesOn(df).isEmpty) None
    else indexFor(df, org.apache.spark.sql.GraftSqlBridge.resolvedFilterRefs(df, cond))
  }

  // ---- auto-indexing (datatable.auto.index, man/datatable-optimize
  // .Rd:97-105): the reference auto-creates an index the first time a
  // `DT[col == v]` filter scans an unindexed column. Here it is OPT-IN
  // (index creation is a shuffle + persist — too big a side effect to
  // hide behind a filter by default) and threshold-based: the Nth
  // equality filter on the same unindexed column registers a setIndex
  // copy, which that same filter and all later ones route through.

  @volatile private var autoIndexThreshold: Int = 0   // 0 = off (default)
  private val eqFilterCounts =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.sql.SparkSession, String, String), Int]

  /** Opt in: auto-register an index once `threshold` equality filters
    * have hit the same unindexed column of the same table.
    * threshold=1 mirrors the reference's index-on-first-use exactly.
    */
  def enableAutoIndex(threshold: Int = 2): Unit = {
    require(threshold >= 1, s"auto-index threshold must be >= 1, got $threshold")
    autoIndexThreshold = threshold
  }

  /** The off-switch (options(datatable.auto.index=FALSE)). Forgets the
    * filter counts; already-registered indexes stay until clearIndexes.
    */
  def disableAutoIndex(): Unit = { autoIndexThreshold = 0; eqFilterCounts.clear() }

  def autoIndexEnabled: Boolean = autoIndexThreshold > 0

  /** DT.apply(i) hook: count `col == literal` / IN-literal filters per
    * (table, column); at the threshold, build the index. Zero-cost when
    * disabled (no predicate analysis, no planKey hash).
    */
  def autoIndexNote(df: DataFrame, cond: Column): Unit = {
    if (autoIndexThreshold <= 0) return
    val k = graft.SessionMemo.planKey(df)
    org.apache.spark.sql.GraftSqlBridge.equalityFilterCols(df, cond).foreach { c =>
      val covered = indexesOn(df).exists(_._1.head == c)
      if (!covered) {
        val n = eqFilterCounts.updateWith((df.sparkSession, k, c))(p =>
          Some(p.getOrElse(0) + 1)).get
        if (n >= autoIndexThreshold) setIndex(df, Seq(c))
      }
    }
  }

  /** Column sets of every registered secondary index on `df` — the
    * indices() metadata surface (R/tables.R INDICES column).
    */
  def indexesOf(df: DataFrame): Seq[Seq[String]] = indexesOn(df).map(_._1)

  /** Drop all registered indexes for a table (or every index). */
  def clearIndexes(df: Option[DataFrame] = None): Unit = df match {
    case Some(d) => indexRegistry.evictPrefix(d.sparkSession, tableKey(d))
    case None => indexRegistry.clear()
  }

  /** datatable.join.many / allow.cartesian analog — see
    * [[Joins.cartesianGuard]]; re-exported here as the scale-guard
    * surface.
    */
  def joinManyGuard(x: DataFrame, i: DataFrame, on: Seq[String], maxRows: Long): Unit =
    Joins.cartesianGuard(x, i, on, maxRows)
}
