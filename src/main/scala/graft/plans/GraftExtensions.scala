package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CmsAgg, CmsLookup, CosineSimilarity, DistinctLetterTokens, DotProduct, FreqItemsAgg, HyperplaneCode, JaroWinkler, KmvSketchAgg, LetterTokenCounts, LetterTokens, MinhashAgg, ShingleHashes, ShingleHashesGen, SimhashAgg, TopKAgg}

/** Production wiring for graft's native expressions: a
  * SparkSessionExtensions hook, enabled with
  *
  * {{{
  * spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * so any session — spark-submit, thrift server, notebook — gets the
  * functions without calling [[graft.GraftFunctions.register]]
  * programmatically. The injected builders are identical to the
  * registry path.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // custom-operator optimizations: filter pushdown through RangeJoin
    // (built-in rules can't see custom nodes) + its physical strategy
    ext.injectOptimizerRule(_ => PushFilterThroughRangeJoin)
    ext.injectPlannerStrategy(_ => RangeJoinStrategy)
    // aggregate navigation onto registered rollups (no-op until an MV
    // is registered via MaterializedViews.buildMv)
    ext.injectOptimizerRule(_ => MaterializedViews.MvRewriteRule)
    // transparent zone-map file skipping over registered layouts
    // (no-op until ZoneMapPruning.register)
    ext.injectOptimizerRule(_ => ZoneMapPruning.ZoneMapPruneRule)
    // constraint-free join elimination: LEFT OUTER against a
    // structurally-unique aggregate with no right-side references
    ext.injectOptimizerRule(_ => EliminateUniqueLeftJoin)
    // AQE: a small materialized global sort in one partition, with no
    // range-sampling job
    ext.injectRuntimeOptimizerRule(SmallSortInOnePartition(_))
    // SQL TABLE functions for the graft-log tier (shared builders —
    // GraftFunctions.register installs the same into programmatic
    // sessions)
    GraftTableFunctions.all.foreach(t => ext.injectTableFunction(t))
    ext.injectFunction(
      (FunctionIdentifier("cosine_sim"), info("cosine_sim"), (es: Seq[Expression]) => CosineSimilarity(es(0), es(1)))
    )
    ext.injectFunction(
      (FunctionIdentifier("dot_product"), info("dot_product"), (es: Seq[Expression]) => DotProduct(es(0), es(1)))
    )
    ext.injectFunction(
      (FunctionIdentifier("jaro_winkler"), info("jaro_winkler"), (es: Seq[Expression]) => JaroWinkler(es(0), es(1)))
    )
    ext.injectFunction(
      (
        FunctionIdentifier("hyperplane_code"),
        info("hyperplane_code"),
        (es: Seq[Expression]) => HyperplaneCode(es(0), es(1).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (FunctionIdentifier("simhash_agg"), info("simhash_agg"), (es: Seq[Expression]) => SimhashAgg(es(0)))
    )
    ext.injectFunction(
      (
        FunctionIdentifier("minhash_agg"),
        info("minhash_agg"),
        (es: Seq[Expression]) => MinhashAgg(es(0), es(1).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("topk_agg"),
        info("topk_agg"),
        (es: Seq[Expression]) => TopKAgg(es(0), es(1), es(2).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (FunctionIdentifier("letter_tokens"), info("letter_tokens"), (es: Seq[Expression]) => LetterTokens(es(0)))
    )
    ext.injectFunction(
      (
        FunctionIdentifier("letter_token_counts"),
        info("letter_token_counts"),
        (es: Seq[Expression]) => LetterTokenCounts(es(0))
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("distinct_letter_tokens"),
        info("distinct_letter_tokens"),
        (es: Seq[Expression]) => DistinctLetterTokens(es(0))
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("shingle_hashes"),
        info("shingle_hashes"),
        (es: Seq[Expression]) => ShingleHashes(es(0), es(1).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("shingle_hash_stream"),
        info("shingle_hash_stream"),
        (es: Seq[Expression]) => ShingleHashesGen(es(0), es(1).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("freq_items_agg"),
        info("freq_items_agg"),
        (es: Seq[Expression]) => FreqItemsAgg(es(0), es(1).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("cms_agg"),
        info("cms_agg"),
        (es: Seq[Expression]) => CmsAgg(es(0), es(1).eval().toString.toInt, es(2).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("cms_estimate"),
        info("cms_estimate"),
        (es: Seq[Expression]) => CmsLookup(es(0), es(1), es(2).eval().toString.toInt, es(3).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("kmv_agg"),
        info("kmv_agg"),
        (es: Seq[Expression]) => KmvSketchAgg(es(0), es(1).eval().toString.toInt)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_bloom_agg"),
        info("graft_bloom_agg"),
        (es: Seq[Expression]) =>
          org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(es(0), es(1), es(2), 0, 0)
      )
    )
    ext.injectFunction(
      (
        FunctionIdentifier("graft_might_contain"),
        info("graft_might_contain"),
        (es: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))
      )
    )
  }
}
