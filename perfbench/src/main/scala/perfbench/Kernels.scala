package perfbench

import java.util.{LinkedHashMap => JMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{BpeishCount, ChunksFixed, JaccardSim, MinHashSignature, RepetitionStats, ShingleHashes}
import graft.text.TextFunctions

/** Each native kernel timed alone over the `documents` text, on inputs
  * cached beforehand so the timed job is a cached scan plus the kernel.
  * `Dedup.ngramJaccard` is the interpreted n-gram chain, timed over a
  * bounded sample of document pairs because it costs milliseconds a row.
  */
object Kernels {
  private val MinRows = 20000
  private val NgramPairs = 50
  private val Reps = 3

  private def nsPerRow(df: DataFrame): Double = {
    val times = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      (System.nanoTime() - t0).toDouble / math.max(rows, 1L)
    }.sorted
    times(Reps / 2)
  }

  def time(spark: SparkSession, sfDir: String): JMap[String, Any] = {
    val docs = graft.Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val n = docs.count()
    val copies = math.max(1L, (MinRows + n - 1) / math.max(n, 1L))
    val base = docs.crossJoin(spark.range(copies).toDF("copy"))
      .withColumn("tok", TextFunctions.wsTokens(TextFunctions.normalize(col("text"))))
      .withColumn("sh", ShingleHashes(col("tok"), 5))
      .persist()
    base.count()
    val pairs = base.as("a").join(base.as("b"),
        col("a.doc_id") + 1 === col("b.doc_id") && col("a.copy") === col("b.copy"))
      .select(col("a.sh").as("sa"), col("b.sh").as("sb"),
        col("a.text").as("ta"), col("b.text").as("tb"))
      .persist()
    pairs.count()
    val sample = pairs.limit(NgramPairs).persist()
    sample.count()
    val out = Main.obj(
      "plans.BpeishCount" -> nsPerRow(base.select(BpeishCount(col("text")))),
      "plans.ChunksFixed" -> nsPerRow(base.select(ChunksFixed(col("text"), 256))),
      "plans.RepetitionStats" -> nsPerRow(base.select(RepetitionStats(col("tok"), 2))),
      "plans.MinHashSignature" -> nsPerRow(base.select(MinHashSignature(col("sh"), 64))),
      "plans.JaccardSim" -> nsPerRow(pairs.select(JaccardSim(col("sa"), col("sb")))),
      "Dedup.ngramJaccard" -> nsPerRow(
        sample.select(graft.dedup.Dedup.ngramJaccard(col("ta"), col("tb"), 3))),
      "rows" -> base.count())
    Seq(sample, pairs, base).foreach(_.unpersist(blocking = true))
    out
  }
}
