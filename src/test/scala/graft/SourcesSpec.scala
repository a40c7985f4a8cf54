package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Sources

/** Source/sink round-trips through every supported format. */
class SourcesSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft_sources").toString

  test("csv round-trip preserves rows and schema") {
    val nation = Tables.nation(spark, sfDir)
    Sources.writeCsv(nation, s"$tmp/nation_csv")
    val back = Sources.csv(spark, s"$tmp/nation_csv", nation.schema)
    assert(back.schema == nation.schema)
    assert(
      back.orderBy("n_nationkey").collect().toSeq ==
        nation.orderBy("n_nationkey").collect().toSeq
    )
  }

  test("json-lines round-trip preserves rows") {
    val region = Tables.region(spark, sfDir)
    Sources.writeJsonLines(region, s"$tmp/region_json")
    val back = Sources.jsonLines(spark, s"$tmp/region_json", region.schema)
    assert(back.orderBy("r_regionkey").collect().toSeq == region.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc round-trip preserves rows and pushes filters to the scan") {
    val orders = Tables.orders(spark, sfDir)
    Sources.writeOrc(orders, s"$tmp/orders_orc")
    val back = Sources.orc(spark, s"$tmp/orders_orc")
    assert(back.count() == orders.count())
    val filtered = back.filter(col("o_totalprice") > 400000.0)
    val plan     = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_totalprice"), s"no ORC pushdown:\n$plan")
    assert(filtered.count() == orders.filter(col("o_totalprice") > 400000.0).count())
  }

  test("partitioned parquet write prunes partitions on read") {
    val orders = Tables.orders(spark, sfDir).withColumn("status", col("o_orderstatus"))
    Sources.writeParquet(orders, s"$tmp/orders_part", partitionBy = Seq("status"))
    val back   = Sources.parquet(spark, s"$tmp/orders_part").filter(col("status") === "F")
    val nF     = orders.filter(col("o_orderstatus") === "F").count()
    assert(back.count() == nF)
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && scan.contains("status"), s"no partition pruning:\n$scan")
  }

  test("key:value text sink writes reference-format sorted lines") {
    val wc = operators.TextJobs.wordCount(Tables.documents(spark, sfDir))
    Sources.writeKeyValueText(wc, "word", "cnt", s"$tmp/wc_text")
    val lines = spark.read.text(s"$tmp/wc_text").collect().map(_.getString(0))
    assert(lines.nonEmpty && lines.forall(_.matches(".+: \\d+")))
    assert(lines.toSeq == lines.toSeq.sorted)
  }

  test("GraftExtensions builders apply cleanly and functions evaluate in SQL") {
    // applying the extension hook must not throw (session-level
    // injection itself is exercised by spark.sql.extensions at startup)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions()(ext)
    // the AQE runtime rule is among the injected ones (the builder is
    // private[sql], hence the reflective call), and the sessions
    // GraftSession.builder makes carry it too
    val runtimeRules = classOf[org.apache.spark.sql.SparkSessionExtensions]
      .getMethod("buildRuntimeOptimizerRules", classOf[org.apache.spark.sql.SparkSession])
      .invoke(ext, spark)
      .asInstanceOf[Seq[AnyRef]]
    assert(runtimeRules.exists(_.isInstanceOf[graft.plans.SmallSortInOnePartition]), runtimeRules)
    assert(spark.sessionState.adaptiveRulesHolder.runtimeOptimizerRules.exists(_.isInstanceOf[graft.plans.SmallSortInOnePartition]))
    val one = spark.sql("SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c").head().getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12)
    val hp = spark.sql("SELECT hyperplane_code(array(1.0f, 0.5f), 8) AS h").head().getLong(0)
    assert(hp >= 0L && hp < 256L)
  }
}
