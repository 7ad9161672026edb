package graft.pipeline

import graft.plans.WidenExec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Executed plans of the queries a block runs, for asserting the shape of
  * the sinks' physical plans. */
object SinkPlans extends AdaptiveSparkPlanHelper {

  /** Plans of every query `body` runs on `spark`, and on sessions cloned
    * from it while `body` runs (a streaming query's foreachBatch). */
  def capture(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      Shims.drainListenerBus(spark)
      spark.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }

  def hasWiden(p: SparkPlan): Boolean = find(p)(_.isInstanceOf[WidenExec]).isDefined

  /** Projections over more than `spark.sql.codegen.maxFields` (100)
    * expressions: these run outside whole-stage codegen. */
  def wideProjects(p: SparkPlan): Seq[ProjectExec] =
    collect(p) { case pr: ProjectExec if pr.projectList.size > 100 => pr }

  /** Projections that consume the widened rows. */
  def projectsOverWiden(p: SparkPlan): Seq[ProjectExec] =
    collect(p) { case pr: ProjectExec if hasWiden(pr) => pr }
}
