package graft

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.{LongType, StringType}

import graft.operators.TextJobs

/** Pins the shape of the ii plan: one aggregate over per-document
  * distinct words, so one hash exchange before the sort's range
  * exchange, and no distinct-aggregate machinery.
  */
class TextJobsPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("ii executes as one aggregate: no Expand, no count(distinct), one hash exchange + the range exchange; schema unchanged") {
    val ii = TextJobs.invertedIndexDir(spark, TextJobsGoldenSpec.large)
    ii.collect() // the final adaptive plan
    val plan = ii.queryExecution.executedPlan
    assert(collect(plan) { case e: ExpandExec => e }.isEmpty, plan.toString)
    val aggs = collect(plan) { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty, plan.toString)
    assert(!aggs.exists(_.aggregateExpressions.exists(_.isDistinct)), plan.toString)
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges.count(_.isInstanceOf[HashPartitioning]) == 1, plan.toString)
    assert(exchanges.count(_.isInstanceOf[RangePartitioning]) == 1, plan.toString)
    assert(exchanges.size == 2, plan.toString)
    // the output schema is unchanged: n_files stays a Long
    assert(ii.schema.map(f => f.name -> f.dataType) == Seq("word" -> StringType, "n_files" -> LongType, "files" -> StringType))
  }
}
