package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loads the driver-generated TPC-H-ish parquet tables from an sf dir.
  *
  * Tables: region nation customer supplier part orders lineitem events
  * documents embeddings (see TESTDATA.md). Reads are lazy Catalyst scans;
  * column pruning and predicate pushdown reach the parquet reader, so a
  * single shared load per (session, dir) is all the caching we need.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Plan cache: spark.read.parquet re-reads footers for schema on every
  // call; ~100 registered queries × 2 bench runs made that a visible
  // fixed cost. DataFrames are immutable plans, so reuse is free.
  private val planCache = new SessionMemo[DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    planCache.getOrElsePut(spark, s"$sfDir/$name.parquet")(
      loadUncached(spark, sfDir, name))

  private def loadUncached(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) parquet. How Spark surfaces that has
    // changed across versions/confs: with nanosAsLong it reads as a raw
    // long of nanos; Spark 4 ignores that conf and reads natively as
    // timestamp_ntz. The generator emits µs-precision values, so both
    // paths are lossless — but the loader must dispatch on the TYPE THE
    // READ ACTUALLY PRODUCED, not assume one encoding (cf. fread's
    // type-bump-and-re-read resilience, /root/reference/src/fread.c:126).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType =>
          // legacy nanos-as-long: ns DIV 1000 keeps full 64-bit precision
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampType => df
        case _ =>
          // timestamp_ntz (Spark 4 native nanos read) or anything else
          // castable: normalize to session-TZ timestamp
          df.withColumn("ts", col("ts").cast(TimestampType))
      }
    } else df
  }

  /** All tables as a name -> DataFrame map (plans only, nothing is read). */
  def all(spark: SparkSession, sfDir: String): Map[String, DataFrame] =
    names.map(n => n -> load(spark, sfDir, n)).toMap

  /** Register every table as a temp view (plus graft's SQL functions) so
    * users can `spark.sql` directly against the dataset — the catalog
    * face of the engine.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
    graft.plans.GraftExtensions.register(spark)
  }
}
