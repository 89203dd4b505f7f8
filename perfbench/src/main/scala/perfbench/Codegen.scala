package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Size of the largest generated method of each whole-stage-codegen stage
  * of an executed query. HotSpot never JIT-compiles a method over 8,000
  * bytecode bytes, so a stage past that runs interpreted.
  */
object Codegen {

  private def stages(p: SparkPlan): Seq[WholeStageCodegenExec] = p match {
    case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
    case s: QueryStageExec => stages(s.plan)
    case w: WholeStageCodegenExec => w +: stages(w.child)
    case other => other.children.flatMap(stages) ++ other.subqueries.flatMap(stages)
  }

  /** Max generated-method bytecode size per codegen stage of `df`'s plan.
    * Regenerating the code hits Spark's compile cache, so the stats are
    * those of the classes the run executed.
    */
  def maxMethodBytes(df: DataFrame): Seq[Long] =
    try stages(df.queryExecution.executedPlan).distinct.map { w =>
      val (_, code) = w.doCodeGen()
      CodeGenerator.compile(code)._2.maxMethodCodeSize.toLong
    } catch { case _: Throwable => Nil }
}
