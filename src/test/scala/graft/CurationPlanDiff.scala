package graft

/** One-off diagnostic for the q_curation_pipeline cold-volume
  * bimodality (941 626 vs 1 618 684 bytes): print the query's executed
  * plan in the two session histories that produce the two volumes —
  * (a) fresh session, (b) after one q_contamination run + SessionMemo.clearAll
  * — and report which exchanges differ. Run with
  * `Test/runMain graft.CurationPlanDiff [sfDir]`.
  */
object CurationPlanDiff {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    PlanLint.silenceBoundedWindowWarning()

    val meter = new Bench.ShuffleMeter(spark.sparkContext)
    def volumes(label: String, name: String): Unit = {
      SessionMemo.clearAll()
      meter.snapshot()
      meter.tag = label
      SparkEntry.queries(name)(spark, sf).count()
      meter.snapshot()
    }

    volumes("A_fresh", "q_curation_pipeline")
    volumes("A2_after_clearAll", "q_curation_pipeline")
    volumes("C_contam", "q_contamination")
    volumes("B_after_contam", "q_curation_pipeline")
    val out = java.nio.file.Paths.get("/tmp/graft_curation_diag.jsonl")
    meter.writeEvents(out)
    scala.io.Source.fromFile(out.toFile).getLines()
      .filter(_.contains("\"bytes\""))
      .foreach { l =>
        val b = "\"bytes\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong
        if (b > 10000) println("VOL " + l)
      }
    spark.stop()
  }
}
