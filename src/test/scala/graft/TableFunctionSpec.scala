package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** SQL table functions over graft-log: FROM-clause parity with the
  * programmatic API (latest / versionAsOf / timestampAsOf / history),
  * literal-argument enforcement, and pushdown through the TVF.
  */
class TableFunctionSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("graft_table / graft_history SQL results match the programmatic API across versions") {
    val p = scratchPath("parity")
    SnapshotTable.create(spark, p, (1L to 50L).toDF("id"))
    val t1 = new java.io.File(s"$p/_log/v${"%012d".format(1L)}.txt").lastModified()
    Thread.sleep(1100)
    SnapshotTable.append(spark, p, (51L to 80L).toDF("id"))

    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$p')").head().getLong(0) == 80L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table('$p', 1)").head().getLong(0) == 50L)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_table_at('$p', $t1)").head().getLong(0) == 50L)
    val hist = spark.sql(s"SELECT version, operation FROM graft_history('$p') ORDER BY version")
      .as[(Long, String)].collect().toSeq
    assert(hist == Seq((1L, "create"), (2L, "append")))
    // filters survive the TVF boundary down to the parquet scan
    val plan = spark
      .sql(s"SELECT id FROM graft_table('$p') WHERE id > 70")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,70)]"),
      s"filter did not reach the scan:\n$plan")
  }

  test("non-literal TVF arguments refuse loudly") {
    val p = scratchPath("refuse")
    SnapshotTable.create(spark, p, (1L to 5L).toDF("id"))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_table(concat('$p', CAST(rand() AS STRING)))").collect()
    }
    assert(Option(e.getMessage).exists(m => m.contains("literal") || m.contains("foldable")),
      s"wrong refusal: ${e.getMessage}")
  }
}
