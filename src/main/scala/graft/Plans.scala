package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain(formatted)` for the headline queries to PLANS.md —
  * the physical-plan evidence (pushdown, broadcast, codegen spans,
  * partial aggregation) that the scale claims rest on.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    // plan dumps must never clobber a pending Verify compare's
    // frozen-model oracle dumps (the Bench/SparkSpec rule)
    System.setProperty("graft.oracle.dump", "off")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out   = if (args.length > 1) args(1) else "/root/repo/PLANS.md"
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(spark)

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` at `$sfDir`. Things to check per plan:\n")
    sb.append("`PushedFilters`/partition pruning at the scan, `BroadcastHashJoin` for\n")
    sb.append("dimensions, partial→final `HashAggregate` pairs, `WholeStageCodegen`\n")
    sb.append("spans, `TakeOrderedAndProject` for top-k.\n")
    Bench.manifestQueries()._1.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"(failed: ${e.getMessage})" }
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      }
    }
    // runtime-optimization evidence: these two only fire under the
    // right size/shape conditions, so they get dedicated sections with
    // the size GATES lowered to local scale (mechanism unchanged —
    // see plans.ScaleDemos)
    sb.append("\n## demo_runtime_bloom_filter\n\n")
    sb.append("Selective orders filter → bloom filter injected into the lineitem\n")
    sb.append("scan (broadcast disabled, application-side size gate lowered to\n")
    sb.append("local scale; at 100 TB the 10 GB default gate passes on its own).\n")
    sb.append("Look for `bloom_filter_agg` / `might_contain` below.\n\n```\n")
    sb.append(plans.ScaleDemos.withBloomConfs(spark) {
      plans.ScaleDemos
        .bloomFilterJoin(spark, sfDir)
        .queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
    })
    sb.append("```\n")

    sb.append("\n## demo_aqe_skew_join\n\n")
    sb.append("Hot-key join (60% of fact rows on one key), executed so the FINAL\n")
    sb.append("adaptive plan is shown: `SortMergeJoin(skew=true)` over an\n")
    sb.append("`AQEShuffleRead` with `Arguments: skewed` is AQE splitting the hot\n")
    sb.append("partition (256 MB production threshold lowered to local scale).\n\n```\n")
    sb.append(plans.ScaleDemos.withSkewConfs(spark) {
      val df = plans.ScaleDemos.skewedJoin(spark)
      df.collect() // materialize → final adaptive plan
      df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    })
    sb.append("```\n")

    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
