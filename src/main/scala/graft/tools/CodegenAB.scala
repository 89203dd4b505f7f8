package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch diagnostic (optimization r22): time one query under three
  * codegen regimes — default whole-stage, hugeMethodLimit-forced WSCG
  * bailout, and wholeStage off — to adjudicate whether a regression is
  * the JIT-refuses-huge-generated-methods trap (methods past
  * ~8000 bytecodes run in the bytecode interpreter; Spark only bails
  * out of WSCG past 65 KB).
  *
  * Usage: runMain graft.tools.CodegenAB <sfDir> <q> [reps]
  */
object CodegenAB {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val q = args(1)
    val reps = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val configs = Seq(
      "default" -> Map.empty[String, String],
      "hugeLimit1500" -> Map("spark.sql.codegen.hugeMethodLimit" -> "1500"),
      "noWholeStage" -> Map("spark.sql.codegen.wholeStage" -> "false"))
    configs.foreach { case (name, conf) =>
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
      conf.foreach { case (k, v) => b.config(k, v) }
      val spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      graft.PlanLint.silenceBoundedWindowWarning()
      graft.Tables.names.foreach(n => graft.Tables.load(spark, sfDir, n).count())
      graft.SessionMemo.clearAll()
      val fn = graft.SparkEntry.queries(q)
      fn(spark, sfDir).count() // cold
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[ab] $name%-14s $q warm median=${times.sorted.apply(reps / 2)}%.3f " +
        s"reps=${times.map(t => f"$t%.3f").mkString(",")}")
      // unpersist memoized frames while THEIR context is still alive —
      // an evict after stop() NPEs in the dead BlockManager
      graft.SessionMemo.clearAll()
      spark.stop()
      // a fresh session per config: SparkSession.builder().config on an
      // existing session would silently keep the old codegen conf
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
  }
}
