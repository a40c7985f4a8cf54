package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** Standing KMV sketch rollup: append/merge/compact semantics. */
class SketchRollupSpec extends SparkSpec {
  private val root = scratchPath("sketch_spec")

  private val k    = 1024
  private val dims = Seq("l_returnflag")

  test("incrementally built rollup merges to EXACTLY the one-shot sketch (semilattice)") {
    val li   = Tables.lineitem(spark, sfDir)
    val path = s"$root/inc"
    Sketches.kmvRollupBuild(li.filter(col("l_orderkey") % 3 === 0), dims, "l_suppkey", k, path)
    Sketches.kmvRollupAppend(li.filter(col("l_orderkey") % 3 === 1), dims, "l_suppkey", k, path)
    Sketches.kmvRollupAppend(li.filter(col("l_orderkey") % 3 === 2), dims, "l_suppkey", k, path)
    val full = s"$root/full"
    Sketches.kmvRollupBuild(li, dims, "l_suppkey", k, full)
    val a = Sketches.kmvRollupSketches(spark, path, dims, k).orderBy("l_returnflag")
    val b = Sketches.kmvRollupSketches(spark, full, dims, k).orderBy("l_returnflag")
    assert(a.collect().toSeq == b.collect().toSeq)
  }

  test("compaction folds to one row per group and changes no answer") {
    val li   = Tables.lineitem(spark, sfDir)
    val path = s"$root/compact"
    Sketches.kmvRollupBuild(li.filter(col("l_orderkey") % 2 === 0), dims, "l_suppkey", k, path)
    Sketches.kmvRollupAppend(li.filter(col("l_orderkey") % 2 === 1), dims, "l_suppkey", k, path)
    val before     = Sketches.kmvRollupDistinct(spark, path, dims, k).collect().toSeq
    val rowsBefore = spark.read.parquet(path).count()
    Sketches.kmvRollupCompact(spark, path, dims, k)
    val after     = Sketches.kmvRollupDistinct(spark, path, dims, k).collect().toSeq
    val rowsAfter = spark.read.parquet(path).count()
    assert(after == before)
    assert(rowsAfter < rowsBefore)
    assert(rowsAfter == spark.read.parquet(path).select("l_returnflag").distinct().count())
  }

  test("sub-capacity reader estimates are the exact distinct counts; ALL row is the exact union") {
    val li   = Tables.lineitem(spark, sfDir)
    val path = s"$root/exact"
    Sketches.kmvRollupBuild(li, dims, "l_suppkey", k, path)
    val got = Sketches
      .kmvRollupDistinct(spark, path, dims, k)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val exact = li
      .groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val exactAll = li.agg(countDistinct("l_suppkey")).head().getLong(0)
    assert(got == exact + ("ALL" -> exactAll))
  }

  test("at capacity the estimate stays within the 3/sqrt(k-2) bound instead of capping") {
    val li    = Tables.lineitem(spark, sfDir)
    val small = 64 // far below the ~100 distinct suppliers at sf0.001
    val path  = s"$root/sat"
    Sketches.kmvRollupBuild(li, dims, "l_orderkey", small, path)
    val bound = 3.0 / math.sqrt((small - 2).toDouble)
    val est = Sketches
      .kmvRollupDistinct(spark, path, dims, small)
      .filter(col("scope") =!= "ALL")
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    val exact = li
      .groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    exact.foreach { case (flag, n) =>
      assert(math.abs(est(flag).toDouble / n - 1.0) < bound, s"$flag: est ${est(flag)} vs exact $n")
      assert(est(flag) > small, "saturated sketch must ESTIMATE, not report its capacity")
    }
  }
}
