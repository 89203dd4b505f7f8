package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, Exchange}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.{CoalesceExec, CollectLimitExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, TakeOrderedAndProjectExec}

/** Sweep-wide physical-plan linter over the [[SparkEntry.queries]] registry.
  *
  * Scale contract (SURVEY.md §4.2): no registered query may plan
  *  - a CartesianProduct or BroadcastNestedLoopJoin unless at least one
  *    side is a provably bounded frame (aggregate output, limit, or
  *    driver-local rows) — an unbounded×unbounded nested-loop join is
  *    O(n·m) row evaluations and never survives a 100× scale-up;
  *  - an UNPARTITIONED WindowExec over unbounded input — a global window
  *    funnels the full dataset through one task. The deliberate global
  *    tier (operators/GlobalOrdered.scala `priorsOf`) windows only over
  *    post-aggregation partials frames (≤ effective-buckets rows), which
  *    is exactly the boundedness this linter whitelists; it also explains
  *    the benign `WindowExec: No Partition Defined` warnings in bench logs.
  *    Those partials are gathered into one task by `coalesce(1)` when
  *    they are small (`GlobalOrdered.partialsOf`); a CoalesceExec over
  *    an aggregate is as bounded as the aggregate;
  *  - a CoalesceExec(1) whose task reads unbounded input: being narrow,
  *    it runs everything down to its nearest exchange in one task, so
  *    every node on that path must read bounded input. A gather over an
  *    aggregate that planned its own exchange passes; one over an
  *    aggregate reading a window's output (no exchange between them)
  *    pulls the full-data sort and windows into the one task;
  *  - a SUFFIX frame — `rowsBetween(k, unboundedFollowing)` (or its
  *    range form) with k ≠ unboundedPreceding — over unbounded input,
  *    partitioned or not: Spark re-evaluates such a frame for every row,
  *    which is quadratic in the window partition's rows. The streaming
  *    form is the prefix frame over the mirrored order.
  *
  * The linter walks `queryExecution.sparkPlan` (post-planning, pre-AQE —
  * AQE only ever *improves* these shapes at runtime, never introduces
  * them) including subqueries; the gather rule reads it with the
  * planner's exchanges placed (`EnsureRequirements`). `PlanLintSpec`
  * asserts zero violations across the whole registry at sf0.001.
  */
object PlanLint {

  final case class Violation(query: String, kind: String, node: String) {
    override def toString = s"[$query] $kind: $node"
  }

  /** Queries whose OPERATOR is an arbitrary cross product — the
    * reference's CJ join-table constructor (src/cj.c): the cross join
    * IS the requested result, so no plan shape can avoid a
    * cartesian/BNLJ node. Materialized size is a caller contract
    * enforced at runtime (operators/Joins.cartesianGuard ethos; q_cross
    * crosses two dimension tables). Only the cross-join rules are
    * exempted for these names — the window rules still apply.
    */
  val deliberateCross: Set[String] = Set("q_cross")

  /** Output cardinality of `p` is bounded independent of input scale:
    * every leaf-ward path passes through an aggregate (rows = groups),
    * a limit, or terminates in driver-local rows.
    *
    * AGGREGATE BOUNDEDNESS IS A REGISTRY CONVENTION, NOT A PROOF
    * (ADVICE r15): a global aggregate (no grouping keys) is genuinely
    * one row, but a grouped aggregate's output scales with its KEY
    * cardinality — groupBy(doc_id) over a corpus is as unbounded as the
    * corpus, and this linter would bless a cross join built on it. The
    * convention holds because every registry plan that feeds an
    * aggregate into a cross/BNLJ/global-window groups by a CAPPED key
    * (bucket ids, k-sized fit outputs, distinct probe ids of a
    * driver-bounded probe set) — a new registry entry that groups by a
    * per-row key before a cross join would pass the lint and must be
    * caught in review. Key-cardinality stats are not available at this
    * (pre-AQE physical) stage to tighten this mechanically.
    */
  private[graft] def bounded(p: SparkPlan): Boolean = p match {
    case _: BaseAggregateExec => true
    case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
         _: TakeOrderedAndProjectExec => true
    case _: LocalTableScanExec => true
    case leaf if leaf.children.isEmpty => false
    case other => other.children.forall(bounded)
  }

  /** A frame running to the partition's end from anywhere but its start:
    * Spark's UnboundedFollowingWindowFunctionFrame re-aggregates it for
    * every row.
    */
  private def suffixFrame(e: Expression): Boolean = e.exists {
    case SpecifiedWindowFrame(_, lower, UnboundedFollowing) => lower != UnboundedPreceding
    case _ => false
  }

  /** `p` and its descendants down to, not past, the nearest exchanges:
    * the nodes that run in `p`'s tasks.
    */
  private def oneTask(p: SparkPlan): Seq[SparkPlan] =
    p +: p.children.filterNot(_.isInstanceOf[Exchange]).flatMap(oneTask)

  private def globalPartition(partitionSpec: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
    partitionSpec.forall(_.foldable) // empty, or constants like lit(0)

  /** Silence Spark's `WindowExec: No Partition Defined` warning in this
    * JVM: every registered plan's global windows are PROVEN bounded by
    * this linter (PlanLintSpec runs the whole registry), so in the
    * bench/verify mains the warning is pure noise that buries real
    * warnings — hundreds of lines per sweep. An unproven global window
    * fails the spec instead of warning at runtime.
    */
  def silenceBoundedWindowWarning(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // logging backend absent: keep the noise

  def lintPlan(query: String, plan: SparkPlan): Seq[Violation] = {
    val out = Seq.newBuilder[Violation]
    plan.foreach { // `foreach` on SparkPlan walks the whole tree
      case j: CartesianProductExec if !bounded(j.left) && !bounded(j.right) =>
        out += Violation(query, "cartesian-unbounded-both-sides", j.simpleStringWithNodeId())
      case j: BroadcastNestedLoopJoinExec if !bounded(j.left) && !bounded(j.right) =>
        out += Violation(query, "bnlj-unbounded-both-sides", j.simpleStringWithNodeId())
      case w: WindowExec if globalPartition(w.partitionSpec) && !bounded(w.child) =>
        out += Violation(query, "global-window-over-unbounded", w.simpleStringWithNodeId())
      case w: WindowGroupLimitExec if globalPartition(w.partitionSpec) && !bounded(w.child) =>
        out += Violation(query, "global-window-limit-over-unbounded", w.simpleStringWithNodeId())
      case w: WindowExec if w.windowExpression.exists(suffixFrame) && !bounded(w.child) =>
        out += Violation(query, "suffix-frame-over-unbounded", w.simpleStringWithNodeId())
      case _ =>
    }
    // the gather rule needs the exchanges the planner places, which
    // sparkPlan does not hold yet
    EnsureRequirements().apply(plan).foreach {
      case c: CoalesceExec if c.numPartitions == 1 =>
        oneTask(c).find(n => !n.children.forall(bounded)).foreach(n =>
          out += Violation(query, "gather-over-unbounded",
            s"Coalesce 1's task runs ${n.nodeName} over unbounded input"))
      case _ =>
    }
    // Subquery plans (scalar subqueries etc.) get the same scrutiny.
    plan.subqueriesAll.foreach(sub => out ++= lintPlan(query, sub))
    out.result()
  }

  def lint(query: String, df: DataFrame): Seq[Violation] =
    lintPlan(query, df.queryExecution.sparkPlan)

  /** (PushedFilters, ReadSchema) metadata of every parquet scan in the
    * plan — the raw material of the pushdown/pruning assertions in
    * PlanLintSpec: a scan that reads all columns for a 2-column
    * projection, or evaluates a pushable predicate only post-scan, is a
    * silent 100×-scale regression no timing at sf0.001 notices.
    */
  private[graft] def scanInfo(plan: SparkPlan): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    plan.foreach {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        out += ((f.metadata.getOrElse("PushedFilters", "[]"),
          f.metadata.getOrElse("ReadSchema", "")))
      case _ =>
    }
    plan.subqueriesAll.foreach(sub => out ++= scanInfo(sub))
    out.result()
  }

  /** Lint every registered query's plan (builds plans; runs no jobs
    * beyond any driver-side fits the builders themselves perform).
    */
  def lintAll(spark: SparkSession, sfDir: String): Seq[Violation] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try lint(name, fn(spark, sfDir))
      catch { case e: Throwable =>
        Seq(Violation(name, "plan-build-failed", String.valueOf(e)))
      }
    }.filterNot(v => deliberateCross(v.query) &&
      (v.kind.startsWith("cartesian") || v.kind.startsWith("bnlj")))

  /** Diagnostic: runMain graft.PlanLint [sfDir] — prints violations. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val vs = lintAll(spark, sfDir)
    println(s"[planlint] ${SparkEntry.queries.size} queries, ${vs.size} violations")
    vs.foreach(v => println(s"[planlint] $v"))
    spark.stop()
    if (vs.nonEmpty) sys.exit(1)
  }
}
