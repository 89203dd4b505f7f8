package perfbench

import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, PerfbenchBridge, SparkSession}

/** One benchmark run in one JVM: session start-up, a first pass over the
  * workload's registry queries, then warm passes over the same queries.
  *
  * Each query is built by calling its registry function (timed) and then
  * run to its full result through `queryExecution.toRdd`: the first pass
  * writes every row to parquet for the oracle check, warm passes count
  * the produced rows. Everything is observed from outside the program: a
  * [[Meter]] listener, the query's `QueryPlanningTracker` phases and wall
  * clocks around the calls into the registry.
  *
  * Writes `run.json` (untraced) or `trace.json` (traced: spans for run,
  * pass, query, phases, jobs and stages, plus codegen sizes, kernel
  * timings and heap) into `--out`, once, at exit.
  */
object Main {

  val TagKey = "perfbench.tag"

  final case class Args(
      t0Ms: Long, sfDir: String, tables: Seq[String], queries: Seq[String], out: String,
      warmPasses: Int, traced: Boolean, oraclesOnly: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(
      t0Ms = m.get("--t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      sfDir = m.getOrElse("--sf-dir", ""),
      tables = m.getOrElse("--tables", "").split(",").toSeq.filter(_.nonEmpty),
      queries = m("--queries").split(",").toSeq,
      out = m("--out"),
      warmPasses = m.getOrElse("--warm-passes", "1").toInt,
      traced = m.getOrElse("--trace", "0") == "1",
      oraclesOnly = m.getOrElse("--oracles-only", "0") == "1")
  }

  /** Task-metric totals of the jobs carrying one tag (`pass|query|phase`). */
  final class Agg {
    var jobs, stages, tasks, cpuNs, runMs, gcMs, shufW, shufR, fetchWaitMs,
        inBytes, inRows, scanBytes, scanRows, spillBytes = 0L
    def toJson: JMap[String, Any] = obj(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_ns" -> cpuNs,
      "run_ms" -> runMs, "gc_ms" -> gcMs, "shuffle_write_bytes" -> shufW,
      "shuffle_read_bytes" -> shufR, "fetch_wait_ms" -> fetchWaitMs,
      "input_bytes" -> inBytes, "input_rows" -> inRows,
      "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
      "spill_bytes" -> spillBytes)
  }

  /** Attributes every job, stage and task to the tag that was set as a
    * local property on the thread that submitted the job. Traced runs
    * also keep job and stage spans and every task's run interval.
    */
  final class Meter(traced: Boolean) extends SparkListener {
    val aggs = mutable.LinkedHashMap.empty[String, Agg]
    private val stageTag = mutable.HashMap.empty[Int, String]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    // stages reading input files; their input bytes are the parquet scan
    private val scanStages = mutable.HashSet.empty[Int]
    private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
    val jobSpans = new JList[JMap[String, Any]]()
    val stageSpans = new JList[JMap[String, Any]]()
    val taskIntervals = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]

    private def agg(tag: String) = aggs.getOrElseUpdate(tag, new Agg)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
        .getOrElse("untagged")
      agg(tag).jobs += 1
      e.stageInfos.foreach { si =>
        stageTag.getOrElseUpdate(si.stageId, tag)
        stageJob.getOrElseUpdate(si.stageId, e.jobId)
        if (si.rddInfos.exists(_.name.contains("FileScanRDD"))) scanStages += si.stageId
      }
      if (traced) jobStart(e.jobId) = (tag, e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (traced) jobStart.remove(e.jobId).foreach { case (tag, start) =>
        jobSpans.add(obj("job" -> e.jobId, "tag" -> tag, "start_ms" -> start,
          "end_ms" -> e.time,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val tag = stageTag.getOrElse(si.stageId, "untagged")
      agg(tag).stages += 1
      if (traced) {
        val m = si.taskMetrics
        val job = jobOf(si.stageId)
        stageSpans.add(obj("stage" -> si.stageId, "attempt" -> si.attemptNumber(),
          "tag" -> tag, "job" -> job,
          "start_ms" -> si.submissionTime.getOrElse(-1L),
          "end_ms" -> si.completionTime.getOrElse(-1L), "tasks" -> si.numTasks,
          "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
          "run_ms" -> (if (m == null) 0L else m.executorRunTime),
          "shuffle_write_bytes" ->
            (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead)))
      }
    }

    private def jobOf(stage: Int): Int = stageJob.getOrElse(stage, -1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val tag = stageTag.getOrElse(e.stageId, "untagged")
      val a = agg(tag)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shufW += m.shuffleWriteMetrics.bytesWritten
        a.shufR += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        if (scanStages(e.stageId)) {
          a.scanBytes += m.inputMetrics.bytesRead
          a.scanRows += m.inputMetrics.recordsRead
        }
        a.spillBytes += m.diskBytesSpilled
      }
      if (traced) taskIntervals.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) +=
        ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def list(xs: Iterable[Any]): JList[Any] = new JList[Any](xs.toSeq.asJava)

  /** Jiffies the host stole from the VM (8th field of the `cpu` line of
    * /proc/stat) and all jiffies of all its CPUs (the sum of the first 8;
    * guest time is counted in user time already), so far. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (f(7), f.take(8).sum)
      }.getOrElse((-1L, -1L))
      finally src.close()
    } catch { case _: Throwable => (-1L, -1L) }

  /** CPU time of the whole JVM: driver, task, JIT and GC threads. Unlike
    * wall time, it leaves out the time other processes hold the cores;
    * time the host steals still counts (see `metrics.unstolen`). */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the calling (driver) thread. */
  def threadCpuNs(): Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Classes Spark's code generator has compiled (misses of its cache). */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def loadavg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = new java.io.File(a.out)
    out.mkdirs()
    val oracles = a.queries.map(q => q -> graft.SparkEntry.oracleSql.get(q).orNull)
    val unknown = a.queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in the registry: ${unknown.mkString(", ")}")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    if (a.oraclesOnly) {
      mapper.writeValue(new java.io.File(out, "oracles.json"), obj(oracles: _*))
      return
    }

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    graft.PlanLint.silenceBoundedWindowWarning()
    val meter = new Meter(a.traced)
    sc.addSparkListener(meter)
    val sessionMs = System.currentTimeMillis() - a.t0Ms
    a.tables.foreach(n => graft.Tables.load(spark, a.sfDir, n))
    val setupMs = System.currentTimeMillis() - a.t0Ms

    val spans = new JList[JMap[String, Any]]()
    def span(name: String, parent: String, startMs: Long, endMs: Long,
             attrs: (String, Any)*): Unit =
      spans.add(obj(Seq("name" -> name, "parent" -> parent,
        "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs: _*))

    val lastDf = mutable.HashMap.empty[String, DataFrame]
    val runStart = System.currentTimeMillis()

    def runQuery(pass: String, q: String, resultDir: Option[String]): JMap[String, Any] = {
      val rec = obj("name" -> q)
      val qSpan = s"$pass/$q"
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      sc.setLocalProperty(TagKey, s"$pass|$q|build")
      try {
        val df = graft.SparkEntry.queries(q)(spark, a.sfDir)
        val n1 = System.nanoTime(); val t1 = System.currentTimeMillis()
        sc.setLocalProperty(TagKey, s"$pass|$q|exec")
        resultDir match {
          case Some(dir) =>
            PerfbenchBridge.plannedRows(df).write.mode("overwrite").parquet(dir)
          case None => rec.put("rows", df.queryExecution.toRdd.count())
        }
        val n2 = System.nanoTime(); val t2 = System.currentTimeMillis()
        if (resultDir.isDefined) rec.put("input_files",
          list(df.inputFiles.map(f => new java.io.File(f).getName).toSeq.sorted))
        val phases = df.queryExecution.tracker.phases
        def ph(p: String) = phases.get(p)
        def phMs(p: String): Double = ph(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val buildMs = (n1 - n0) / 1e6
        val matMs = (n2 - n1) / 1e6
        val optMs = phMs("optimization"); val planMs = phMs("planning")
        rec.put("build_ms", buildMs)
        rec.put("analysis_ms", phMs("analysis"))
        rec.put("optimization_ms", optMs)
        rec.put("planning_ms", planMs)
        rec.put("exec_ms", math.max(0.0, matMs - optMs - planMs))
        rec.put("wall_ms", buildMs + matMs)
        if (a.traced) {
          lastDf(q) = df
          span("query", pass, t0, t2, "query" -> q)
          span("build", qSpan, t0, t1)
          Seq("analysis", "optimization", "planning").foreach(p =>
            ph(p).foreach(s => span(p, qSpan, s.startTimeMs, s.endTimeMs)))
          val execStart = ph("planning").map(_.endTimeMs).filter(_ >= t1).getOrElse(t1)
          span("execution", qSpan, execStart, t2)
          rec.put("exec_start_ms", execStart); rec.put("exec_end_ms", t2)
        }
      } catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
          System.err.println(s"[perfbench] $pass $q failed: $msg")
          rec.put("error", msg)
          rec.put("wall_ms", (System.nanoTime() - n0) / 1e6)
      } finally sc.setLocalProperty(TagKey, null)
      rec
    }

    val passes = new JList[JMap[String, Any]]()
    def runPass(pass: String, write: Boolean): Unit = {
      val (s0, c0) = cpuJiffies(); val l0 = loadavg1()
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val p0 = processCpuNs(); val d0 = threadCpuNs(); val j0 = jitMs(); val g0 = gcMs()
      val k0 = codegenCompiles()
      val qs = a.queries.map { q =>
        runQuery(pass, q, if (write) Some(new java.io.File(out, s"results/$q").getPath) else None)
      }
      val wallS = (System.nanoTime() - n0) / 1e9
      val cpuS = (processCpuNs() - p0) / 1e9
      val driverCpuS = (threadCpuNs() - d0) / 1e9
      val jit = jitMs() - j0; val gc = gcMs() - g0
      val compiles = codegenCompiles() - k0
      val t1 = System.currentTimeMillis()
      val (s1, c1) = cpuJiffies()
      val cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      passes.add(obj("pass" -> pass, "wall_s" -> wallS, "process_cpu_s" -> cpuS,
        "driver_cpu_s" -> driverCpuS, "jit_ms" -> jit, "gc_ms" -> gc,
        "codegen_compiles" -> compiles, "start_ms" -> t0, "end_ms" -> t1,
        "steal_jiffies" -> (if (s0 >= 0 && s1 >= 0) s1 - s0 else -1L),
        "cpu_jiffies" -> (if (c0 >= 0 && c1 >= 0) c1 - c0 else -1L),
        "loadavg_start" -> l0, "loadavg_end" -> loadavg1(),
        "cached_bytes" -> cachedBytes, "queries" -> list(qs)))
      span("pass", "run", t0, t1, "pass" -> pass)
    }

    runPass("first", write = true)
    (1 to a.warmPasses).foreach(i => runPass(s"warm$i", write = false))
    PerfbenchBridge.drainListenerBus(sc)

    val result = obj(
      "setup_s" -> setupMs / 1000.0, "session_s" -> sessionMs / 1000.0, "cpus" -> cpus,
      "sf_dir" -> a.sfDir,
      "queries" -> list(a.queries), "oracles" -> obj(oracles: _*),
      "passes" -> passes,
      "tags" -> obj(meter.synchronized(meter.aggs.toSeq.map { case (k, v) => k -> v.toJson }): _*))

    if (a.traced) {
      val lastPass = s"warm${a.warmPasses}"
      result.put("codegen", obj(lastDf.toSeq.map { case (q, df) =>
        q -> list(Codegen.maxMethodBytes(df).map(Long.box)) }: _*))
      PerfbenchBridge.drainListenerBus(sc)
      result.put("retained_heap_mb", {
        System.gc()
        val h = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        h.getUsed / 1e6
      })
      result.put("kernels", Kernels.time(spark, a.sfDir))
      PerfbenchBridge.drainListenerBus(sc)
      span("run", "", runStart, System.currentTimeMillis(), "last_pass" -> lastPass)
      result.put("spans", spans)
      result.put("jobs", meter.synchronized(new JList(meter.jobSpans)))
      result.put("stages", meter.synchronized(new JList(meter.stageSpans)))
      result.put("task_intervals", obj(meter.synchronized(meter.taskIntervals.toSeq).map {
        case (tag, xs) => tag -> list(xs.map { case (s, e) => list(Seq(s, e)) })
      }: _*))
    }
    mapper.writeValue(new java.io.File(out, if (a.traced) "trace.json" else "run.json"), result)
    spark.stop()
  }
}
