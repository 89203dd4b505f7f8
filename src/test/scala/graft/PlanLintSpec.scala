package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sweep-wide plan-shape gate: every registered query's physical plan
  * obeys the scale contract (no unbounded cross products, no global
  * window over unbounded input). This is the spec that makes the benign
  * `WindowExec: No Partition Defined` warnings in bench logs
  * attributable by construction — any NEW global window over full data
  * fails here, so a surviving warning is always the whitelisted bounded
  * partials frame (operators/GlobalOrdered.scala priorsOf).
  */
class PlanLintSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("all registered query plans pass the scale linter") {
    val violations = PlanLint.lintAll(spark, SparkTestSession.sfDir)
    assert(violations.isEmpty,
      s"\n${violations.size} plan-shape violations:\n" +
        violations.mkString("\n"))
  }

  test("linter catches an unbounded cross product") {
    import spark.implicits._
    // both sides are FILE scans (a local literal relation would count
    // as bounded); no equi keys forces a nested-loop shape
    val a = spark.read.parquet(s"${SparkTestSession.sfDir}/nation.parquet")
      .select($"n_nationkey".as("x"))
    val b = spark.read.parquet(s"${SparkTestSession.sfDir}/region.parquet")
      .select($"r_regionkey".as("y"))
    val bad = a.join(b, $"x" < $"y")
    val vs = PlanLint.lint("planted", bad)
    assert(vs.exists(v => v.kind.contains("bnlj") || v.kind.contains("cartesian")),
      s"planted cross product not flagged; got: $vs")
  }

  test("linter accepts a cross product with a bounded side") {
    import spark.implicits._
    val big = spark.read.parquet(s"${SparkTestSession.sfDir}/nation.parquet")
    val small = big.groupBy($"n_regionkey").agg(count(lit(1)).as("n"))
    val ok = big.join(small.as("s"), big("n_nationkey") < col("s.n"))
    assert(PlanLint.lint("planted_ok", ok).isEmpty)
  }

  test("zero-shuffle claims hold: sort+limit and the memoized-fit lookup move no shuffle bytes") {
    import spark.implicits._
    // the three plans the sweep artifact records at shuf_w == 0: TakeOrdered
    // (sort+limit without an exchange) and a fit-memoized broadcast lookup
    val meter = new Bench.ShuffleMeter(spark.sparkContext)
    for (q <- Seq("q_sort_limit", "q_sort_na")) {
      val s0 = meter.snapshot()
      SparkEntry.queries(q)(spark, SparkTestSession.sfDir).count()
      val s1 = meter.snapshot()
      assert(s1 - s0 == 0L, s"$q wrote ${s1 - s0} shuffle bytes (claimed zero-shuffle)")
    }
  }

  test("linter flags a global window over unbounded input, accepts it over partials") {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy($"n_nationkey")
    val full = spark.read.parquet(s"${SparkTestSession.sfDir}/nation.parquet")
    val bad = full.withColumn("r", row_number().over(w))
    assert(PlanLint.lint("planted_gw", bad)
      .exists(_.kind == "global-window-over-unbounded"))

    val partials = full.groupBy($"n_regionkey".as("n_nationkey")).agg(count(lit(1)).as("c"))
    val good = partials.withColumn("r", row_number().over(w))
    assert(PlanLint.lint("planted_gw_ok", good).isEmpty)
  }

  test("linter flags a suffix frame over unbounded input, accepts the mirrored prefix and bounded summaries") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = spark.read.parquet(s"${SparkTestSession.sfDir}/events.parquet")
    val byType = Window.partitionBy($"event_type")
    def kinds(d: org.apache.spark.sql.DataFrame) = PlanLint.lint("planted_sf", d).map(_.kind)
    // the former NOCB: next non-null from a suffix frame, re-evaluated per row
    val suffix = ev.withColumn("nocb", first($"value", ignoreNulls = true)
      .over(byType.orderBy($"event_id").rowsBetween(0, Window.unboundedFollowing)))
    assert(kinds(suffix).contains("suffix-frame-over-unbounded"), kinds(suffix))
    val strict = ev.withColumn("nx", min($"value")
      .over(byType.orderBy($"event_id").rowsBetween(1, Window.unboundedFollowing)))
    assert(kinds(strict).contains("suffix-frame-over-unbounded"), kinds(strict))
    // the same carry as a prefix frame over the mirrored order streams
    val mirrored = ev.withColumn("nocb", last($"value", ignoreNulls = true)
      .over(byType.orderBy($"event_id".desc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, 0)))
    assert(kinds(mirrored).isEmpty, kinds(mirrored))
    // whole-partition frames are evaluated once per partition
    val whole = ev.withColumn("t", sum($"value")
      .over(byType.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    assert(kinds(whole).isEmpty, kinds(whole))
    // over an aggregate's bounded output a suffix frame is allowed
    val summary = ev.groupBy($"event_type").agg(count(lit(1)).as("c"))
      .withColumn("after", sum($"c").over(Window.partitionBy(lit(0))
        .orderBy($"event_type").rowsBetween(1, Window.unboundedFollowing)))
    assert(kinds(summary).isEmpty, kinds(summary))
  }

  test("linter flags a coalesce(1) whose task reads a window's output, accepts it over its own exchange") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = spark.read.parquet(s"${SparkTestSession.sfDir}/events.parquet")
    def kinds(d: org.apache.spark.sql.DataFrame) = PlanLint.lint("planted_ga", d).map(_.kind)
    // the aggregate reads a window already clustered on its key: no
    // exchange between them, so the gather pulls the sort and window of
    // every row into one task
    val windowed = ev.withColumn("r", row_number()
      .over(Window.partitionBy($"event_type").orderBy($"event_id")))
    val overWindow = windowed.groupBy($"event_type").agg(max($"r").as("m")).coalesce(1)
    assert(kinds(overWindow).contains("gather-over-unbounded"), kinds(overWindow))
    assert(kinds(ev.coalesce(1)).contains("gather-over-unbounded"))
    // the same aggregate over unclustered rows plans its own exchange:
    // the gathered task reads only the partial aggregates
    val overExchange = ev.groupBy($"event_type").agg(count(lit(1)).as("c")).coalesce(1)
    assert(kinds(overExchange).isEmpty, kinds(overExchange))
  }

  // ---- pushdown + pruning lock (VERDICT r15 stretch #7) -----------------
  // A filter that stops reaching the parquet scan, or a scan that starts
  // reading every column, is invisible to sf0.001 timings but is the
  // difference between scanning 100 TB and scanning the needed slice.

  test("flagship filters reach the parquet scan as PushedFilters") {
    // query -> column a pushable predicate must mention in some scan
    val expected = Map(
      "q1_agg" -> "l_shipdate",    // l_shipdate <= 1998-09-02
      "q_filter" -> "l_quantity",  // l_quantity > 45 AND l_returnflag = R
      "q_between" -> "value")      // value BETWEEN 10 AND 20
    val missing = expected.toSeq.sortBy(_._1).flatMap { case (q, col) =>
      val scans = PlanLint.scanInfo(
        SparkEntry.queries(q)(spark, SparkTestSession.sfDir)
          .queryExecution.sparkPlan)
      if (scans.exists { case (pushed, _) =>
            pushed.contains(col) && pushed != "[]" }) None
      else Some(s"$q: no scan pushes a filter on '$col' " +
        s"(scans: ${scans.map(_._1).mkString(" | ")})")
    }
    assert(missing.isEmpty, missing.mkString("\n"))
  }

  test("flagship scans prune columns: never read what the query does not use") {
    // lineitem has 16 columns; these queries use a handful. l_comment is
    // never referenced by any of them, so its appearance in a ReadSchema
    // means pruning broke.
    for (q <- Seq("q1_agg", "q_filter", "q_sort_limit")) {
      val scans = PlanLint.scanInfo(
        SparkEntry.queries(q)(spark, SparkTestSession.sfDir)
          .queryExecution.sparkPlan)
      assert(scans.nonEmpty, s"$q: no parquet scans found")
      scans.foreach { case (_, readSchema) =>
        assert(!readSchema.contains("l_comment"),
          s"$q reads l_comment it never uses: $readSchema")
      }
    }
  }
}
