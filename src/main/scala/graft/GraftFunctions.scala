package graft

import org.apache.spark.sql.SparkSession

import graft.functions.{CmsAgg, CmsLookup, CosineSimilarity, DistinctLetterTokens, DotProduct, FreqItemsAgg, HyperplaneCode, JaroWinkler, KmvSketchAgg, LetterTokenCounts, LetterTokens, MinhashAgg, ShingleHashes, ShingleHashesGen, SimhashAgg, TopKAgg}

/** Registry of graft's native Catalyst expressions, exposed as SQL
  * functions so they compose with `expr(...)` / `selectExpr` / pure SQL
  * and stay inside whole-stage codegen.
  */
object GraftFunctions {

  /** Idempotent per-session: createOrReplaceTempFunction logs a
    * replace warning on every re-registration, and operators call
    * register defensively — skip sessions already done. Weak keys so
    * stopped sessions stay GC-able; the shared lock makes concurrent
    * first callers wait until registration completes (marking the
    * session BEFORE registering would let a racer run queries against
    * a half-filled registry).
    */
  private val registered = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.containsKey(spark)) return
    doRegister(spark)
    registered.put(spark, java.lang.Boolean.TRUE)
  }

  private def doRegister(spark: SparkSession): Unit = {
    graft.plans.GraftTableFunctions.register(spark)
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "hyperplane_code",
      exprs => HyperplaneCode(exprs(0), exprs(1).eval().toString.toInt),
      "built-in"
    )
    reg.createOrReplaceTempFunction("simhash_agg", exprs => SimhashAgg(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_agg",
      exprs => MinhashAgg(exprs(0), exprs(1).eval().toString.toInt),
      "built-in"
    )
    reg.createOrReplaceTempFunction("letter_tokens", exprs => LetterTokens(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("letter_token_counts", exprs => LetterTokenCounts(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("distinct_letter_tokens", exprs => DistinctLetterTokens(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "shingle_hashes",
      exprs => ShingleHashes(exprs(0), exprs(1).eval().toString.toInt),
      "built-in"
    )
    reg.createOrReplaceTempFunction(
      "shingle_hash_stream",
      exprs => ShingleHashesGen(exprs(0), exprs(1).eval().toString.toInt),
      "built-in"
    )
    // the optimizer's runtime-filter expressions, exposed for explicit
    // sketch-prefilter operators (TextAnalysis.contaminationBloom):
    // bloom build over xxhash64 longs, membership probe against a
    // constant bloom (BloomFilterMightContain requires a foldable /
    // scalar-subquery bloom side)
    reg.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs =>
        org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(exprs(0), exprs(1), exprs(2), 0, 0),
      "built-in"
    )
    reg.createOrReplaceTempFunction(
      "graft_might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1)),
      "built-in"
    )
    reg.createOrReplaceTempFunction(
      "cms_agg",
      exprs => CmsAgg(exprs(0), exprs(1).eval().toString.toInt, exprs(2).eval().toString.toInt),
      "built-in"
    )
    reg.createOrReplaceTempFunction(
      "cms_estimate",
      exprs => CmsLookup(exprs(0), exprs(1), exprs(2).eval().toString.toInt, exprs(3).eval().toString.toInt),
      "built-in"
    )
    reg.createOrReplaceTempFunction(
      "kmv_agg",
      exprs => KmvSketchAgg(exprs(0), exprs(1).eval().toString.toInt),
      "built-in"
    )
    reg.createOrReplaceTempFunction(
      "freq_items_agg",
      exprs => FreqItemsAgg(exprs(0), exprs(1).eval().toString.toInt),
      "built-in"
    )
    reg.createOrReplaceTempFunction(
      "topk_agg",
      exprs => TopKAgg(exprs(0), exprs(1), exprs(2).eval().toString.toInt),
      "built-in"
    )
  }
}
