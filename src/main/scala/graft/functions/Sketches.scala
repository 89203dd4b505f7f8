package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable frequency sketches for corpus statistics (pipeline
  * extension — the reference tabulates exactly; a 100 TB corpus
  * wants a one-pass bounded-memory answer first).
  *
  * The Count-Min Sketch (Cormode & Muthukrishnan, J. Algorithms 2005)
  * holds d×w counters with w = ceil(2/eps), d = ceil(ln(1/(1-conf)))
  * — size independent of item cardinality — and guarantees
  * `exact <= estimate <= exact + eps·N` (upper bound with probability
  * `confidence` per query). Spark's `count_min_sketch` aggregate
  * builds it as ONE map-side-combined pass: every partition fills a
  * local sketch, sketches MERGE by counter addition at the exchange,
  * and the driver receives the d×w longs — the 100 TB shape, next to
  * which an exact token tabulation costs a full shuffle of the
  * distinct-token space. Seeded, so results are deterministic.
  */
object Sketches {

  /** Fit a Count-Min Sketch over (the string form of) `c` — one
    * distributed pass, session-memoized per (plan, eps, confidence,
    * seed) like every other driver-side fit (bench reps and composing
    * queries would otherwise re-scan the corpus per evaluation).
    */
  def cmsFit(df: DataFrame, c: Column, eps: Double, confidence: Double,
             seed: Int): CountMinSketch = {
    val frame = df.select(c.cast("string").as("_graft_x"))
    val key = frame.queryExecution.analyzed.semanticHash().toString +
      s":$eps:$confidence:$seed"
    cmsCache.getOrElsePut(df.sparkSession, key) {
      val bytes = frame
        .agg(count_min_sketch(col("_graft_x"), lit(eps), lit(confidence),
          lit(seed)).as("s"))
        .head().getAs[Array[Byte]](0)
      CountMinSketch.readFrom(new ByteArrayInputStream(bytes))
    }
  }

  private val cmsCache = new graft.SessionMemo[CountMinSketch]()

  /** Test/visibility hook: number of memoized sketch fits. */
  private[graft] def cmsFitCount: Int = cmsCache.size

  /** Forget every memoized sketch fit. */
  def clearFits(): Unit = cmsCache.clear()
}
