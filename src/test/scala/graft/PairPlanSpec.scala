package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Substring}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.operators.{Dedup, Graph, Relational}

/** Pins the plans of the pair sites that call [[Dedup.bucketPairs]]:
  * no interpreted pair lambda is left in the optimized plan, and the
  * executed (final adaptive) plan carries the join and exchange
  * counts measured on the small fixtures below. The counts before
  * the sites shared the one generator are kept next to each pin.
  */
class PairPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import SparkSpec.spark.implicits._

  private def lambdas(df: DataFrame): Seq[LambdaFunction] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case l: LambdaFunction => l }))

  private def hasLambda(df: DataFrame): Boolean = lambdas(df).nonEmpty

  /** (joins, shuffle exchanges) of the final adaptive plan. */
  private def shape(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    (collect(plan) { case j: BaseJoinExec => j }.size, collect(plan) { case e: ShuffleExchangeExec => e }.size)
  }

  private val baskets =
    Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L), (4L, 10L), (4L, 12L))
      .toDF("okey", "item")

  // two 4-cliques sharing node 4, plus a tail: triangles, wedges and
  // non-adjacent pairs with common neighbors all occur
  private val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (4L, 6L), (4L, 7L),
    (5L, 6L), (5L, 7L), (6L, 7L), (7L, 8L), (8L, 1L)).toDF("src", "dst")

  private val names = Seq((1L, "smith"), (2L, "smyth"), (3L, "smithe"), (4L, "jones"), (5L, "jonas"), (6L, "al"),
    (7L, "alf"), (8L, "johnson"), (9L, "johnsen")).toDF("id", "s")

  test("basketPairsFrom: no lambda; no more exchanges than the lambda form (before: 1 join, 4 exchanges)") {
    val df = Relational.basketPairsFrom(baskets)
    assert(!hasLambda(df), df.queryExecution.optimizedPlan.toString)
    assert(shape(df) == ((1, 4)), df.queryExecution.executedPlan.toString)
  }

  // the exact branch: its adjacency was checkpointed before and still
  // is, so the drop in joins is the wedge self-join alone
  test("linkPrediction: no lambda; the wedge self-join is gone (before: 4 joins)") {
    val exact = Graph.linkPrediction(edges, minCommon = 1L, maxNeighbors = Int.MaxValue)
    assert(!hasLambda(exact), exact.queryExecution.optimizedPlan.toString)
    assert(shape(exact)._1 == 3, exact.queryExecution.executedPlan.toString)
    assert(!hasLambda(Graph.linkPrediction(edges, minCommon = 1L, maxNeighbors = 2)))
  }

  test("orientedTriangles (via triangleCounts): no lambda; the wedge self-join is gone (before: 2 joins)") {
    val df = Graph.triangleCounts(edges)
    assert(!hasLambda(df), df.queryExecution.optimizedPlan.toString)
    assert(shape(df)._1 == 1, df.queryExecution.executedPlan.toString)
  }

  test("editDistanceJoin: no pair lambda; the prefix self-join is gone (before: 4 joins)") {
    val df = Dedup.editDistanceJoin(names, maxDist = 1)
    // the q-gram generator and the gram/freq join ran inside the prefix
    // checkpoint before; with the checkpoint gone both are in this
    // plan, so its only lambda builds grams and the join count stays 4
    // with the self-join removed
    assert(lambdas(df).forall(_.function.exists(_.isInstanceOf[Substring])), df.queryExecution.optimizedPlan.toString)
    assert(shape(df)._1 == 4, df.queryExecution.executedPlan.toString)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }
}
