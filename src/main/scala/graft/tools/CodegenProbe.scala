package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch diagnostic (optimization r22): exercise each hand-rolled
  * codegen expression in a whole-stage-codegen projection/filter and
  * surface Janino compile failures per kernel — a compile failure falls
  * back to interpreted eval silently (results stay right, speed
  * doesn't), so the bench alone can't localize a codegen bug.
  */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.codegen.fallback", "false") // fail loud
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val toks = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b a b a b"), (3L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .withColumn("tk", graft.plans.NormTokens(col("text")))

    def probe(name: String)(body: => Unit): Unit =
      try { body; println(s"OK   $name") }
      catch { case e: Throwable =>
        println(s"FAIL $name: ${e.getClass.getSimpleName} ${e.getMessage.take(300)}") }

    probe("NormalizeText") {
      toks.select(graft.plans.NormalizeText(col("text")).as("n")).write.format("noop").mode("overwrite").save()
    }
    probe("PortableBands") {
      toks.select(explode(graft.plans.PortableBands(graft.plans.PortableMinHashSig(
        graft.plans.PortableShingles(col("tk"), 3), 8), 4, 2)).as("b"))
        .write.format("noop").mode("overwrite").save()
    }
    probe("DistinctWordNgrams") {
      toks.select(graft.plans.DistinctWordNgrams(col("tk"), 3).as("g")).write.format("noop").mode("overwrite").save()
    }
    probe("AsciiSqueeze") {
      toks.select(graft.plans.AsciiSqueeze(col("text")).as("c")).write.format("noop").mode("overwrite").save()
    }
    probe("SumTokenLengths") {
      toks.select(graft.plans.SumTokenLengths(col("tk")).as("s")).write.format("noop").mode("overwrite").save()
    }
    probe("CountAlphaTokens") {
      toks.select(graft.plans.CountAlphaTokens(col("tk")).as("c")).write.format("noop").mode("overwrite").save()
    }
    probe("PortableShingles") {
      toks.select(graft.plans.PortableShingles(col("tk"), 3).as("sh")).write.format("noop").mode("overwrite").save()
    }
    probe("PortableMinHashSig") {
      toks.select(graft.plans.PortableMinHashSig(
        graft.plans.PortableShingles(col("tk"), 3), 8).as("sig")).write.format("noop").mode("overwrite").save()
    }
    probe("PortableSimHash") {
      toks.select(graft.plans.PortableSimHash(col("tk")).as("sh")).write.format("noop").mode("overwrite").save()
    }
    probe("ShingleHashes+MinHashSignature") {
      toks.select(graft.plans.MinHashSignature(
        graft.plans.ShingleHashes(col("tk"), 3), 8).as("sig")).write.format("noop").mode("overwrite").save()
    }
    probe("WinnowFingerprints") {
      toks.select(graft.plans.WinnowFingerprintsExpr(col("text"), 5, 3).as("w")).write.format("noop").mode("overwrite").save()
    }
    probe("RoundMantissa") {
      toks.select(graft.plans.RoundMantissa(col("id").cast("double"), 2).as("r")).write.format("noop").mode("overwrite").save()
    }
    probe("JaccardSim filter (long arrays)") {
      val sh = toks.select(col("id"),
        graft.plans.PortableShingles(col("tk"), 2).as("sh"))
      val a = sh.select(col("id").as("idA"), col("sh").as("shA"))
      val b = sh.select(col("id").as("idB"), col("sh").as("shB"))
      a.join(b, col("idA") < col("idB"))
        .withColumn("j", graft.plans.JaccardSim(col("shA"), col("shB")))
        .filter(col("j") >= 0.0).write.format("noop").mode("overwrite").save()
    }
    probe("JaccardSim string arrays") {
      toks.na.drop().select(graft.plans.JaccardSim(col("tk"),
        reverse(col("tk"))).as("j")).write.format("noop").mode("overwrite").save()
    }
    // the q_quality_filter shape: gopherFilterTok's repeated subtrees
    // trigger subexpression elimination around the kernels
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
      org.apache.logging.log4j.Level.INFO)
    probe("gopherFilter composition") {
      graft.text.TextFunctions.withGopherFilter(
          toks.na.drop().withColumn("t2", concat(col("text"), lit(" ###"))),
          "t2", minTokens = 2, maxTokens = 100000, minMeanLen = 1.0,
          maxMeanLen = 9.5, maxSymbolRatio = 0.5, minAlphaRatio = 0.2,
          minStopwords = 1)
        .select(col("id"), col("f.keep"), col("f.reasons")).write.format("noop").mode("overwrite").save()
    }
    // the exact q_quality_filter registry shape over the real parquet
    probe("q_quality_filter@sf0.001") {
      graft.SparkEntry.queries("q_quality_filter")(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
