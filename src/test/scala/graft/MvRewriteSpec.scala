package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.plans.MaterializedViews

/** Aggregate-navigation rule: rewrites onto the rollup must be
  * plan-visible, value-identical to the un-rewritten query, and
  * refused wherever equivalence can't be proven.
  */
class MvRewriteSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val root = scratchPath("mv_spec")

  private val basePath = s"$sfDir/lineitem.parquet"
  private def mvDir    = s"$root/mv_${java.lang.Integer.toHexString(sfDir.hashCode)}"

  /** The executed plan, followed by the root paths of its file scans
    * in full: the plan string cuts a long scan location short.
    */
  private def scannedFiles(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan
    (plan.toString +: collect(plan) { case s: FileSourceScanExec => s.relation.location.rootPaths.mkString(",") })
      .mkString("\n")
  }

  /** Run `body` against a registry holding ONLY this spec's MVs:
    * other suites register engine MVs over the same base (SparkEntry's
    * rollups), and a second capable MV would make "which path did the
    * plan take" assertions ambiguous. The prior registry is restored
    * afterwards so those suites keep their build-once memo valid.
    */
  private def withCleanRegistry[T](body: => T): T = {
    val saved = MaterializedViews.registry
    MaterializedViews.reset()
    try body
    finally MaterializedViews.registry = saved
  }

  private def withMv[T](measures: Seq[String] = Seq("l_quantity"))(body: => T): T =
    withCleanRegistry {
      MaterializedViews.buildMv(
        spark,
        "li_rollup",
        basePath,
        dims = Seq("l_returnflag", "l_linestatus"),
        measures = measures,
        mvPath = mvDir
      )
      body
    }

  private def rollupQuery: DataFrame =
    spark.read
      .parquet(basePath)
      .groupBy("l_returnflag")
      .agg(
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("n"),
        avg("l_quantity").as("avg_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty")
      )
      .orderBy("l_returnflag")

  test("rewritten rollup scans the MV (not the base) and matches the direct answer exactly") {
    withCleanRegistry {
      val direct = rollupQuery.collect()
      MaterializedViews.buildMv(
        spark, "li_rollup", basePath,
        dims = Seq("l_returnflag", "l_linestatus"), measures = Seq("l_quantity"), mvPath = mvDir
      )
      val rewritten = rollupQuery
      val plan      = scannedFiles(rewritten)
      assert(plan.contains(mvDir), s"plan must scan the MV:\n$plan")
      assert(!plan.contains("lineitem.parquet"), s"plan must NOT scan the base:\n$plan")
      assert(rewritten.collect().toSeq == direct.toSeq, "MV answer must be value-identical")
      // after dropping the MV the same query scans the base again
      MaterializedViews.drop("li_rollup")
      assert(scannedFiles(rollupQuery).contains("lineitem.parquet"))
    }
  }

  test("dim-only filters port onto the MV; the ported filter reaches the MV scan") {
    val q = () =>
      spark.read
        .parquet(basePath)
        .filter(col("l_returnflag") =!= "N")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    val direct = q().collect()
    withMv() {
      val plan = scannedFiles(q())
      assert(plan.contains(mvDir) && !plan.contains("lineitem.parquet"), s"filtered agg should rewrite:\n$plan")
      assert(plan.contains("Not(EqualTo(l_returnflag,N))"),
        s"ported dim filter should push into the MV scan:\n$plan")
      assert(q().collect().toSeq == direct.toSeq)
    }
  }

  test("non-provable shapes are left untouched: uncovered measure, non-dim grouping, distinct, measure filter") {
    withMv() {
      val uncoveredMeasure = spark.read.parquet(basePath).groupBy("l_returnflag")
        .agg(sum("l_extendedprice").as("s"))
      val nonDimGrouping = spark.read.parquet(basePath).groupBy("l_shipdate")
        .agg(sum("l_quantity").as("s"))
      val distinctAgg = spark.read.parquet(basePath).groupBy("l_returnflag")
        .agg(countDistinct("l_quantity").as("s"))
      val measureFilter = spark.read.parquet(basePath).filter(col("l_quantity") > 10)
        .groupBy("l_returnflag").agg(sum("l_quantity").as("s"))
      Seq(uncoveredMeasure, nonDimGrouping, distinctAgg, measureFilter).foreach { df =>
        val plan = scannedFiles(df)
        assert(plan.contains("lineitem.parquet") && !plan.contains(mvDir),
          s"must stay on the base scan:\n$plan")
      }
    }
  }

  test("incremental maintenance: build on a slice + two appended deltas == full recompute; compaction folds rows") {
    withCleanRegistry {
      val li     = spark.read.parquet(basePath)
      val direct = rollupQuery.collect()
      MaterializedViews.buildMv(
        spark, "li_rollup", basePath,
        dims = Seq("l_returnflag", "l_linestatus"), measures = Seq("l_quantity"), mvPath = mvDir,
        initial = Some(li.filter(col("l_orderkey") % 3 === 0))
      )
      MaterializedViews.appendDelta("li_rollup", li.filter(col("l_orderkey") % 3 === 1))
      MaterializedViews.appendDelta("li_rollup", li.filter(col("l_orderkey") % 3 === 2))
      assert(rollupQuery.collect().toSeq == direct.toSeq, "MV after incremental build must equal full recompute")
      val rowsBefore = MaterializedViews.suspend(spark.read.parquet(mvDir).count())
      MaterializedViews.compactMv("li_rollup")
      val rowsAfter = MaterializedViews.suspend(spark.read.parquet(mvDir).count())
      assert(rowsAfter < rowsBefore, s"compaction should fold partial rows: $rowsBefore -> $rowsAfter")
      assert(rollupQuery.collect().toSeq == direct.toSeq, "compaction must not change answers")
    }
  }

  test("streaming maintenance: AvailableNow micro-batches keep the MV == full recompute; compaction preserves layout") {
    withCleanRegistry {
      val li     = spark.read.parquet(basePath)
      val direct = rollupQuery.collect()
      val root   = java.nio.file.Files.createTempDirectory("graft_mv_stream")
      val stage  = root.resolve("stage").toString
      val ckpt   = root.resolve("ckpt").toString
      val mvP    = root.resolve("mv").toString
      // base slice 0 seeds the MV; slices 1 and 2 arrive as stream files
      li.filter(col("l_orderkey") % 3 === 1).coalesce(1).write.parquet(s"$stage/b1")
      li.filter(col("l_orderkey") % 3 === 2).coalesce(1).write.parquet(s"$stage/b2")
      MaterializedViews.buildStreamingMv(
        spark, "li_stream", basePath,
        dims = Seq("l_returnflag", "l_linestatus"), measures = Seq("l_quantity"), mvPath = mvP,
        initial = Some(li.filter(col("l_orderkey") % 3 === 0))
      )
      val stream = spark.readStream
        .schema(li.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$stage/*")
      val query = MaterializedViews.streamMaintain("li_stream", stream, ckpt)
      try query.awaitTermination()
      finally query.stop()
      val probe = rollupQuery
      val plan  = scannedFiles(probe)
      assert(plan.contains(mvP), s"probe should ride the streaming-maintained MV:\n$plan")
      assert(probe.collect().toSeq == direct.toSeq, "streamed MV must equal full recompute")
      MaterializedViews.compactMv("li_stream")
      assert(rollupQuery.collect().toSeq == direct.toSeq, "compaction must not change streamed answers")
      val partitions = MaterializedViews.suspend(
        spark.read.parquet(mvP).select("__ingest").distinct().count()
      )
      assert(partitions == 1L, s"compaction should fold to the __ingest=0 partition, got $partitions")
    }
  }

  test("null-measure semantics survive the rewrite: count(m) skips nulls, avg(m) of all-null group is null") {
    import SparkSpec.spark.implicits._
    val tinyBase = s"$root/tiny_base"
    val tinyMv   = s"$root/tiny_mv"
    Seq(
      ("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("b", None), ("b", None)
    ).toDF("k", "m").write.mode("overwrite").parquet(tinyBase)
    val q = () =>
      spark.read.parquet(tinyBase).groupBy("k")
        .agg(count(col("m")).as("c"), avg("m").as("a"), sum("m").as("s")).orderBy("k")
    val direct = q().collect()
    withCleanRegistry {
      MaterializedViews.buildMv(spark, "tiny", tinyBase, Seq("k"), Seq("m"), tinyMv)
      val plan = scannedFiles(q())
      assert(plan.contains(tinyMv) && !plan.contains(tinyBase), s"tiny agg should rewrite:\n$plan")
      assert(q().collect().toSeq == direct.toSeq,
        s"null semantics must match: direct=${direct.toSeq} mv=${q().collect().toSeq}")
    }
  }
}
