package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, collect_list, explode}
import org.apache.spark.sql.types.{LongType, StringType}

import graft.operators.TextJobs
import graft.plans.SmallSortInOnePartition

/** Pins the shape of the wc and ii plans: one aggregate over
  * per-document combined words, so one hash exchange; then, once that
  * aggregate is materialized and small, a one-partition exchange under
  * the final sort instead of a range exchange and its sampling job.
  */
class TextJobsPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val AdvisorySize     = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val ParallelismFirst = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
  private val MinPartitionNum  = "spark.sql.adaptive.coalescePartitions.minPartitionNum"

  /** `body` with the session confs `kvs` set, then restored. */
  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The exchange partitionings of `df`'s final adaptive plan, once
    * `df` has run.
    */
  private def exchanges(df: DataFrame): Seq[Partitioning] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e.outputPartitioning }

  private def assertOnePass(df: DataFrame): Unit = {
    val jobs      = jobsDuring(df.collect())
    val exchanges = this.exchanges(df)
    val plan      = df.queryExecution.executedPlan
    assert(exchanges.count(_.isInstanceOf[HashPartitioning]) == 1, plan.toString)
    assert(exchanges.count(_ == SinglePartition) == 1, plan.toString)
    assert(!exchanges.exists(_.isInstanceOf[RangePartitioning]), plan.toString)
    assert(exchanges.size == 2, plan.toString)
    assert(jobs == 3, s"$jobs jobs\n$plan")
  }

  test("wc and ii: one hash exchange, one single-partition exchange, no range exchange, 3 jobs") {
    assertOnePass(TextJobs.wordCountDir(spark, TextJobsGoldenSpec.large))
    assertOnePass(TextJobs.invertedIndexDir(spark, TextJobsGoldenSpec.large))
  }

  test("ii executes as one aggregate: no Expand, no count(distinct); wc's cnt and ii's n_files stay longs") {
    val ii = TextJobs.invertedIndexDir(spark, TextJobsGoldenSpec.large)
    ii.collect() // the final adaptive plan
    val plan = ii.queryExecution.executedPlan
    assert(collect(plan) { case e: ExpandExec => e }.isEmpty, plan.toString)
    val aggs = collect(plan) { case a: BaseAggregateExec => a }
    assert(aggs.nonEmpty, plan.toString)
    assert(!aggs.exists(_.aggregateExpressions.exists(_.isDistinct)), plan.toString)
    assert(ii.schema.map(f => f.name -> f.dataType) == Seq("word" -> StringType, "n_files" -> LongType, "files" -> StringType))
    val wc = TextJobs.wordCountDir(spark, TextJobsGoldenSpec.large)
    assert(wc.schema.map(f => f.name -> f.dataType) == Seq("word" -> StringType, "cnt" -> LongType))
  }

  test("above the advisory partition size the range exchange returns and the output stays globally sorted") {
    withConfs(AdvisorySize -> "16") {
      Seq(TextJobs.wordCountDir(spark, TextJobsGoldenSpec.large), TextJobs.invertedIndexDir(spark, TextJobsGoldenSpec.large))
        .foreach { df =>
          val words = df.collect().map(_.getString(0)).toSeq
          val plan  = df.queryExecution.executedPlan
          assert(exchanges(df).count(_.isInstanceOf[RangePartitioning]) == 1, plan.toString)
          assert(!exchanges(df).contains(SinglePartition), plan.toString)
          assert(words.nonEmpty && words == words.sorted, plan.toString)
        }
    }
  }

  test("a global orderBy over an explode of a materialized stage keeps its range exchange") {
    val df = spark
      .range(0, 1000, 1, 4)
      .groupBy((col("id") % 7).as("k"))
      .agg(collect_list(col("id")).as("ids"))
      .select(explode(col("ids")).as("id"))
      .orderBy("id")
    val ids  = df.collect().map(_.getLong(0)).toSeq
    val plan = df.queryExecution.executedPlan
    assert(exchanges(df).count(_.isInstanceOf[RangePartitioning]) == 1, plan.toString)
    assert(!exchanges(df).contains(SinglePartition), plan.toString)
    assert(ids == (0L until 1000L), plan.toString)
  }

  test("wc, ii and a global orderBy over zero rows return zero rows") {
    val none = TextJobs.corpus(spark, TextJobsGoldenSpec.large).where(col("file") === "no such file")
    assert(TextJobs.wordCount(none).collect().isEmpty)
    assert(TextJobs.invertedIndex(none).collect().isEmpty)
    val sorted = spark.range(0, 1000, 1, 4).where(col("id") < 0).groupBy((col("id") % 7).as("k")).count().orderBy("k")
    assert(sorted.collect().isEmpty)
  }

  test("the rule fires only over materialized stages, outside limits, and is idempotent") {
    val wc = TextJobs.wordCountDir(spark, TextJobsGoldenSpec.large)
    wc.collect()
    val stages = collect(wc.queryExecution.executedPlan) { case s: ShuffleQueryStageExec => s }
    val hashStage = stages.find(_.outputPartitioning.isInstanceOf[HashPartitioning]).get
    val oneStage  = stages.find(_.outputPartitioning == SinglePartition).get
    val aggregate = wc.queryExecution.optimizedPlan.collectFirst { case s: Sort => s.child }.get
    def sortOver(p: LogicalPlan): Sort = Sort(Seq(SortOrder(p.output.head, Ascending)), global = true, p)

    val rule = SmallSortInOnePartition(spark)

    // materialized and small: a one-partition repartition under the sort
    val stage = LogicalQueryStage(aggregate, hashStage)
    val fired = rule(sortOver(stage))
    assert(fired == sortOver(Repartition(1, shuffle = true, stage)), fired.treeString)
    // idempotent, whether the repartition is planned or materialized
    assert(rule(fired) == fired)
    val done = sortOver(LogicalQueryStage(Repartition(1, shuffle = true, stage), oneStage))
    assert(rule(done) == done)
    // a static estimate never fires it, however small
    val static = sortOver(aggregate)
    assert(rule(static) == static)
    // a sort under a limit plans as a top-k: nothing to remove
    val topK = Limit(Literal(10), sortOver(stage))
    assert(rule(topK) == topK)
    // the bound is the advisory size over the coalescing parallelism
    // (minPartitionNum, else the default parallelism), and the advisory
    // size itself when parallelism does not come first
    val size  = stage.stats.sizeInBytes.toLong
    val cores = spark.sparkContext.defaultParallelism
    def firesAt(confs: (String, String)*): Boolean = withConfs(confs: _*)(rule(sortOver(stage)) == fired)
    assert(firesAt(AdvisorySize -> (2 * size).toString, MinPartitionNum -> "2"))
    assert(!firesAt(AdvisorySize -> (2 * size).toString, MinPartitionNum -> "4"))
    assert(firesAt(AdvisorySize -> (size * cores).toString))
    assert(!firesAt(AdvisorySize -> (size * cores - 1).toString))
    assert(firesAt(AdvisorySize -> (2 * size).toString, MinPartitionNum -> "4", ParallelismFirst -> "false"))
    assert(!firesAt(AdvisorySize -> "16", ParallelismFirst -> "false"))
  }
}
