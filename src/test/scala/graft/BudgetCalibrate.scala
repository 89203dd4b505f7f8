package graft

/** Regenerates the shuffle-byte budgets pinned in [[ShuffleBudgetSpec]].
  *
  * Run with `sbt 'Test/runMain graft.BudgetCalibrate'` on a HEAD whose
  * plan shapes are intentional, then paste the printed map into the
  * spec. Uses the exact same session config, sf directory, and
  * clear-then-meter procedure as the spec so the numbers are
  * like-for-like: [[SessionMemo.clearAll]] before each metered run makes
  * the measurement the query's FULL plan volume (fit builds included)
  * and independent of whatever ran earlier in the JVM. Each query is
  * measured twice and the two volumes must agree — a disagreement means
  * either a cache that is not a `SessionMemo` (make it one: memos
  * register themselves, so clearAll reaches them) or a genuinely
  * nondeterministic shuffle volume (drop the query from the budget map;
  * do not average).
  */
object BudgetCalibrate {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    PlanLint.silenceBoundedWindowWarning()
    val meter = new Bench.ShuffleMeter(spark.sparkContext)
    val names =
      if (args.nonEmpty) args.toSeq else ShuffleBudgetSpec.budgets.keys.toSeq.sorted
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def once(): Long = {
        SessionMemo.clearAll()
        val s0 = meter.snapshot()
        fn(spark, SparkTestSession.sfDir).count()
        meter.snapshot() - s0
      }
      val reps = sys.env.get("GRAFT_CALIBRATE_REPS").map(_.toInt).getOrElse(2)
      val vs = Seq.fill(reps)(once())
      val stable =
        if (vs.distinct.size == 1) ""
        else s"  // UNSTABLE: ${vs.mkString(", ")}"
      println(f""""$n" -> ${vs.head}L,$stable""")
    }
    spark.stop()
  }
}
