package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.plans.ZoneMapPruning
import graft.sources.ZoneMap

/** Transparent zone-map pruning via the Catalyst rule. */
class ZoneMapRuleSpec extends SparkSpec {
  private val root = scratchPath("zmrule_spec")

  private val path = {
    val p = s"$root/orders"
    ZoneMap.writeWithZoneMap(spark, Tables.orders(spark, sfDir), p, Seq("o_totalprice"), Seq("o_totalprice"), files = 8)
    ZoneMapPruning.register(spark, "zmrule_spec", p, Seq("o_totalprice"))
    p
  }

  private def scannedFiles(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case r: LogicalRelation =>
      r.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
    }.sum

  private def plain = spark.read.parquet(s"$path/data")

  test("a plain filtered scan is rewritten onto fewer files and stays value-identical") {
    val filtered = plain.filter(col("o_totalprice").between(100000.0, 120000.0))
    assert(scannedFiles(filtered) < 8, s"rule should engage, scanned ${scannedFiles(filtered)}")
    val full = Tables.orders(spark, sfDir).filter(col("o_totalprice").between(100000.0, 120000.0))
    assert(filtered.exceptAll(full).isEmpty && full.exceptAll(filtered).isEmpty)
  }

  test("strict bounds and flipped literal-first comparisons engage too") {
    val f1 = plain.filter(col("o_totalprice") > 150000.0)
    assert(scannedFiles(f1) < 8)
    val f2 = plain.filter(lit(60000.0) > col("o_totalprice"))
    assert(scannedFiles(f2) < 8)
    val full1 = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 150000.0)
    assert(f1.exceptAll(full1).isEmpty && full1.exceptAll(f1).isEmpty)
  }

  test("an impossible range collapses to an empty local relation, zero files scanned") {
    val f = plain.filter(col("o_totalprice") > 1.0e12)
    assert(scannedFiles(f) == 0)
    assert(f.isEmpty)
  }

  test("unextractable or non-stats predicates leave the plan alone (no false pruning)") {
    val f = plain.filter(col("o_custkey") === 42L) // not a registered stats col
    assert(scannedFiles(f) == 8)
    val full = Tables.orders(spark, sfDir).filter(col("o_custkey") === 42L)
    assert(f.exceptAll(full).isEmpty && full.exceptAll(f).isEmpty)
  }

  test("mixed conjunction prunes on the extractable leg and keeps the residual exact") {
    val f = plain.filter(col("o_totalprice") >= 140000.0 && col("o_orderpriority").startsWith("1"))
    assert(scannedFiles(f) < 8)
    val full = Tables
      .orders(spark, sfDir)
      .filter(col("o_totalprice") >= 140000.0 && col("o_orderpriority").startsWith("1"))
    assert(f.exceptAll(full).isEmpty && full.exceptAll(f).isEmpty)
  }

  test("EqualTo on a bloom-covered column point-prunes through the rule; range+point intersect") {
    val p = s"$root/bloomrule"
    // 16 files so a ~10-row key covering EVERY file (which would flake
    // the pruning assertion) is vanishingly unlikely
    ZoneMap.writeWithZoneMap(
      spark,
      Tables.orders(spark, sfDir),
      p,
      Seq("o_totalprice"),
      Seq("o_totalprice"),
      files = 16,
      bloomCols = Seq("o_custkey")
    )
    ZoneMapPruning.register(spark, "zmrule_bloom", p, Seq("o_totalprice"))
    val data = spark.read.parquet(s"$p/data")
    val f1   = data.filter(col("o_custkey") === 42L)
    assert(scannedFiles(f1) < 16, s"bloom point pruning should engage, scanned ${scannedFiles(f1)}")
    val full1 = Tables.orders(spark, sfDir).filter(col("o_custkey") === 42L)
    assert(f1.exceptAll(full1).isEmpty && full1.exceptAll(f1).isEmpty)
    // combined: range on the clustered col AND point on the bloom col
    val f2 = data.filter(col("o_totalprice") >= 50000.0 && col("o_custkey") === 42L)
    assert(scannedFiles(f2) <= scannedFiles(f1))
    val full2 = Tables.orders(spark, sfDir).filter(col("o_totalprice") >= 50000.0 && col("o_custkey") === 42L)
    assert(f2.exceptAll(full2).isEmpty && full2.exceptAll(f2).isEmpty)
  }

  test("unregistered paths are never touched") {
    val other = s"$root/other"
    Tables.orders(spark, sfDir).write.mode("overwrite").parquet(other)
    val n = spark.read.parquet(other).inputFiles.length
    val f = spark.read.parquet(other).filter(col("o_totalprice") > 150000.0)
    assert(scannedFiles(f) == n)
  }

  // ------------------------------------------------ metadata-only aggregates

  private def readsOnlyManifest(df: DataFrame): Boolean = {
    val roots = df.queryExecution.optimizedPlan.collect { case r: LogicalRelation =>
      r.relation.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.toString)
    }.flatten
    roots.nonEmpty && roots.forall(_.contains("zonemap"))
  }

  test("global count/min/max is answered from the manifest alone and stays value-identical") {
    val meta = plain.agg(
      count(lit(1)).as("n"),
      min("o_totalprice").as("mn"),
      max("o_totalprice").as("mx")
    )
    assert(readsOnlyManifest(meta), s"metadata-agg rule should engage:\n${meta.queryExecution.optimizedPlan}")
    val direct = Tables
      .orders(spark, sfDir)
      .agg(count(lit(1)).as("n"), min("o_totalprice").as("mn"), max("o_totalprice").as("mx"))
      .collect()
      .head
    val got = meta.collect().head
    assert(got.getLong(0) == direct.getLong(0))
    assert(got.getDouble(1) == direct.getDouble(1) && got.getDouble(2) == direct.getDouble(2))
  }

  test("metadata-agg rewrite is all-or-nothing: avg, count(col), filters, groupBy stay on data") {
    // any non-rewritable aggregate in the list keeps the whole plan on the data scan
    assert(!readsOnlyManifest(plain.agg(count(lit(1)).as("n"), avg("o_totalprice").as("a"))))
    // count(col) has NULL-skipping semantics the manifest cannot answer
    assert(!readsOnlyManifest(plain.agg(count(col("o_orderpriority")).as("n"))))
    // a filter below the aggregate changes the population
    assert(!readsOnlyManifest(plain.filter(col("o_totalprice") > 100000.0).agg(count(lit(1)).as("n"))))
    // grouping needs per-group stats the manifest does not hold
    assert(!readsOnlyManifest(plain.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))))
    // min on a non-stats column has no manifest answer
    assert(!readsOnlyManifest(plain.agg(min("o_custkey").as("mn"))))
    // count of a NULL literal must answer 0, not the manifest row total
    val cn = plain.agg(count(lit(null)).as("n"))
    assert(!readsOnlyManifest(cn))
    assert(cn.collect().head.getLong(0) == 0L)
  }

  test("metadata-agg on the filtered plan still computes correctly (rule declined, value parity)") {
    val f = plain.filter(col("o_totalprice") > 100000.0).agg(count(lit(1)).as("n"))
    val d = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 100000.0).agg(count(lit(1)).as("n"))
    assert(f.collect().head.getLong(0) == d.collect().head.getLong(0))
  }
}
