package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalLimit, LogicalPlan, LogicalQueryStage, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: a global sort over a small materialized input
  * sorts in one partition, with no range exchange.
  *
  * A global `Sort` asks for its input range-partitioned. To pick the
  * range bounds, the range exchange first runs a sampling job that
  * computes the whole input (for wc and ii, the final aggregate,
  * `collect_set` merge included), and the exchange itself then
  * computes it again. This rule puts a one-partition `Repartition`
  * under a sort whose input is small; `EnsureRequirements` then plans
  * a `SinglePartition` exchange, which already satisfies the sort's
  * ordered distribution, so the input is computed once, in parallel,
  * and only the sort itself runs in one task.
  *
  * The price is that the sort runs in one task where AQE would have
  * spread its input over several. With
  * `spark.sql.adaptive.coalescePartitions.parallelismFirst` (the
  * default), coalescing spreads it over P tasks, P being
  * `coalescePartitions.minPartitionNum` or else the default
  * parallelism, and the rule fires only while the input is at most
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` / P (16 MB on 4
  * cores), so the bound shrinks as the serial sort's cost grows with
  * the cores. On 4 cores, a sort over a cheap aggregate's output ran
  * faster in one task at 13 MB and slower at 30 and 60 MB. With
  * `parallelismFirst` off, coalescing packs up to the advisory size
  * into one partition, and that is the bound. The coalescing minimum,
  * `coalescePartitions.minPartitionSize` (1 MB), is no bound here:
  * coalescing compares it with the compressed output of the sort's
  * input, the rule only has an uncompressed estimate of that input,
  * and an aggregate is estimated at its input's size.
  *
  * The input's size is Spark's estimate over runtime sizes: the rule
  * fires only when the sort reads materialized query stages through
  * projections, filters and aggregates, none of which adds rows, so
  * the estimate follows the stages' measured bytes. Over anything
  * else (a generator, a join, any leaf that is not a materialized
  * stage) the input can outgrow the estimate and the rule never
  * fires. A sort directly under a limit or tail (through at most
  * projections) is left alone: the planner turns it into a top-k with
  * no range exchange to remove. The rule is idempotent: a sort whose
  * input is already one partition, planned or materialized, stays as
  * it is.
  */
case class SmallSortInOnePartition(session: SparkSession) extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan, underLimit = false)

  private def rewrite(plan: LogicalPlan, underLimit: Boolean): LogicalPlan = plan match {
    case s @ Sort(_, true, child, _) if !underLimit && small(child) && !onePartition(child) =>
      s.copy(child = Repartition(1, shuffle = true, child))
    case _ =>
      val limitBelow = plan match {
        case _: LocalLimit | _: Tail => true
        case _: Project              => underLimit
        case _                       => false
      }
      plan.mapChildren(rewrite(_, limitBelow))
  }

  private def small(child: LogicalPlan): Boolean =
    overStages(child) && child.stats.sizeInBytes <= maxBytes

  /** `plan` reads only materialized query stages, through nodes that
    * add no rows.
    */
  private def overStages(plan: LogicalPlan): Boolean = plan match {
    case q: LogicalQueryStage                  => q.isMaterialized
    case _: Project | _: Filter | _: Aggregate => plan.children.forall(overStages)
    case _                                     => false
  }

  /** The largest input sorted in one task. */
  private def maxBytes: Long = {
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) advisory
    else {
      val cores = conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM).getOrElse(session.sparkContext.defaultParallelism)
      advisory / conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(cores)
    }
  }

  private def onePartition(child: LogicalPlan): Boolean = child match {
    case Repartition(1, _, _)   => true
    case q: LogicalQueryStage => onePartition(q.logicalPlan)
    case _                      => false
  }
}
