package org.apache.spark.sql.graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The few Spark internals the benchmark reads: draining the listener bus,
  * and walking an executed plan through its adaptive stages, commands and
  * subqueries. */
object Internals {

  /** Wait until every listener (query-execution listeners included) has seen
    * all events posted so far. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Every physical node reachable from `p`. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.subqueries ++
        other.innerChildren.collect { case s: SparkPlan => s }
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }
}
