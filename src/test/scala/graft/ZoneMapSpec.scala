package graft

import org.apache.spark.sql.functions._

import graft.operators.DataOps
import graft.sources.ZoneMap

/** File-level data skipping from the explicit min/max manifest. */
class ZoneMapSpec extends SparkSpec {
  private val root = scratchPath("zonemap_spec")

  import SparkSpec.spark.implicits._

  private val base = {
    val p = s"$root/orders"
    ZoneMap.writeWithZoneMap(spark, Tables.orders(spark, sfDir), p, Seq("o_totalprice"), Seq("o_totalprice"), files = 8)
    p
  }

  test("pruned read equals the full-scan filter exactly") {
    val band   = Seq(("o_totalprice", Some(100000.0): Option[Any], Some(150000.0): Option[Any]))
    val pruned = ZoneMap.prunedRead(spark, base, band)
    val full = Tables
      .orders(spark, sfDir)
      .filter(col("o_totalprice").between(100000.0, 150000.0))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("a narrow band prunes files, and every excluded file truly has no matching rows") {
    val band               = Seq(("o_totalprice", Some(100000.0): Option[Any], Some(110000.0): Option[Any]))
    val (survivors, total) = ZoneMap.pruneFiles(spark, base, band)
    assert(survivors.length < total, s"expected pruning, got ${survivors.length}/$total")
    assert(survivors.nonEmpty)
    val all      = spark.read.parquet(s"$base/data").select(input_file_name().as("f")).distinct().as[String].collect().toSet
    val excluded = all -- survivors.toSet
    assert(excluded.nonEmpty)
    val leaked = spark.read
      .parquet(excluded.toSeq: _*)
      .filter(col("o_totalprice").between(100000.0, 110000.0))
      .count()
    assert(leaked == 0, "pruning must be a necessary condition: excluded files contain no matches")
  }

  test("2-D rectangle over a z-ordered layout prunes on both dimensions") {
    val p = s"$root/zorder"
    val src = Tables
      .orders(spark, sfDir)
      .withColumn("__z", DataOps.zOrderValue("o_custkey", "o_orderkey"))
    ZoneMap.writeWithZoneMap(spark, src, p, Seq("__z"), Seq("o_custkey", "o_orderkey"), files = 16)
    // sf0.001 spans o_custkey 0..149, o_orderkey 0..1499 — the
    // rectangle restricts BOTH dims to roughly a quarter
    val rect = Seq(
      ("o_custkey", Some(0L): Option[Any], Some(40L): Option[Any]),
      ("o_orderkey", Some(0L): Option[Any], Some(400L): Option[Any])
    )
    val (survivors, total) = ZoneMap.pruneFiles(spark, p, rect)
    assert(survivors.length < total, s"z-order rectangle should prune (${survivors.length}/$total)")
    val pruned = ZoneMap.prunedRead(spark, p, rect).drop("__z")
    val full = Tables
      .orders(spark, sfDir)
      .filter(col("o_custkey").between(0L, 40L) && col("o_orderkey").between(0L, 400L))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("zero survivors short-circuits to an empty frame with the data schema") {
    val band = Seq(("o_totalprice", Some(1.0e12): Option[Any], Some(2.0e12): Option[Any]))
    val out  = ZoneMap.prunedRead(spark, base, band)
    assert(out.isEmpty)
    assert(out.columns.contains("o_orderstatus"))
  }

  test("bloom point lookup: no false negatives, real pruning, equality with the full scan") {
    val p = s"$root/bloom"
    // 16 files, ~10 rows per custkey: expected uncovered files ≈
    // 16·(15/16)^10 ≈ 8, so "the key covers every file" (which would
    // flake the pruning assertion) is vanishingly unlikely — at 8
    // files it had a small but real probability
    ZoneMap.writeWithZoneMap(
      spark,
      Tables.orders(spark, sfDir),
      p,
      Seq("o_totalprice"),
      Seq("o_totalprice"),
      files = 16,
      bloomCols = Seq("o_custkey")
    )
    val (survivors, total) = ZoneMap.pruneFilesPoint(spark, p, "o_custkey", 42L)
    assert(survivors.length < total, s"expected bloom pruning (${survivors.length}/$total)")
    assert(total == 16)
    val pruned = ZoneMap.prunedPointRead(spark, p, "o_custkey", 42L)
    val full   = Tables.orders(spark, sfDir).filter(col("o_custkey") === 42L)
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    assert(pruned.count() > 0, "custkey 42 must exist for the test to mean anything")
  }

  test("bloom point lookup of an absent value prunes every file") {
    val p                  = s"$root/bloom"
    val (survivors, total) = ZoneMap.pruneFilesPoint(spark, p, "o_custkey", 999999999L)
    assert(total > 0 && survivors.isEmpty, s"absent key should bloom-prune all files, got ${survivors.length}")
    assert(ZoneMap.prunedPointRead(spark, p, "o_custkey", 999999999L).isEmpty)
  }

  test("zOrderValueN(2) is bit-identical to zOrderValue; a 3-D rectangle prunes under a 3-D z-order") {
    // 2-D equivalence on real keys
    val li = Tables.lineitem(spark, sfDir).limit(2000)
    val mismatch = li
      .select(
        DataOps.zOrderValue("l_partkey", "l_suppkey", bits = 20).as("z2"),
        DataOps.zOrderValueN(Seq("l_partkey", "l_suppkey"), bits = 20).as("zn")
      )
      .filter(col("z2") =!= col("zn"))
      .count()
    assert(mismatch == 0)
    // 3-D layout + rectangle pruning
    val p = s"$root/z3"
    val src = Tables
      .lineitem(spark, sfDir)
      .withColumn("__z", DataOps.zOrderValueN(Seq("l_partkey", "l_suppkey", "l_orderkey"), bits = 16))
    ZoneMap.writeWithZoneMap(spark, src, p, Seq("__z"), Seq("l_partkey", "l_suppkey", "l_orderkey"), files = 16)
    val rect = Seq(
      ("l_partkey", Some(0L): Option[Any], Some(60L): Option[Any]),
      ("l_suppkey", Some(0L): Option[Any], Some(30L): Option[Any]),
      ("l_orderkey", Some(0L): Option[Any], Some(500L): Option[Any])
    )
    val (survivors, total) = ZoneMap.pruneFiles(spark, p, rect)
    assert(survivors.length < total, s"3-D rectangle should prune (${survivors.length}/$total)")
    val pruned = ZoneMap.prunedRead(spark, p, rect).drop("__z")
    val full = Tables
      .lineitem(spark, sfDir)
      .filter(col("l_partkey").between(0L, 60L) && col("l_suppkey").between(0L, 30L) && col("l_orderkey").between(0L, 500L))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("append maintains the manifest additively: equality holds, new files covered, pruning still works") {
    val p      = s"$root/append"
    val orders = Tables.orders(spark, sfDir)
    ZoneMap.writeWithZoneMap(spark, orders.filter(col("o_orderkey") % 2 === 0), p, Seq("o_totalprice"), Seq("o_totalprice"), files = 8)
    ZoneMap.appendWithZoneMap(spark, orders.filter(col("o_orderkey") % 2 === 1), p, Seq("o_totalprice"), Seq("o_totalprice"), files = 4)
    // manifest covers every data file
    val manifestFiles = spark.read.parquet(s"$p/zonemap").select("file").distinct().count()
    val fs = new org.apache.hadoop.fs.Path(s"$p/data").getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = graft.sources.FsListing.listDataFiles(fs, new org.apache.hadoop.fs.Path(s"$p/data")).length
    assert(manifestFiles == dataFiles && dataFiles == 12)
    // equality vs direct filter over the whole table, and pruning still fires
    val band   = Seq(("o_totalprice", Some(100000.0): Option[Any], Some(110000.0): Option[Any]))
    val pruned = ZoneMap.prunedRead(spark, p, band)
    val full   = orders.filter(col("o_totalprice").between(100000.0, 110000.0))
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    val (survivors, total) = ZoneMap.pruneFiles(spark, p, band)
    assert(survivors.length < total)
  }

  test("all-NULL files are prunable for interval predicates; NULL rows never match") {
    val p = s"$root/nulls"
    val df = Seq[(Long, Option[Double])]((1L, None), (2L, None), (3L, Some(5.0)), (4L, Some(9.0)))
      .toDF("id", "v")
    // cluster by id so the two NULL-v rows land together in low files
    ZoneMap.writeWithZoneMap(spark, df, p, Seq("id"), Seq("v"), files = 2)
    val band          = Seq(("v", Some(0.0): Option[Any], Some(100.0): Option[Any]))
    val (survivors, _) = ZoneMap.pruneFiles(spark, p, band)
    val out            = ZoneMap.prunedRead(spark, p, band).select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(3L, 4L))
    // the all-NULL file was dropped by the manifest alone
    assert(survivors.length == 1)
  }

  test("string zone maps prune lexicographic intervals and stay value-identical") {
    val p = s"$root/docs_str"
    ZoneMap.writeWithZoneMap(
      spark,
      Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars"),
      p,
      clusterCols = Seq("lang"),
      statsCols = Seq("lang"),
      files = 8
    )
    val band               = Seq(("lang", Some("de"): Option[Any], Some("en"): Option[Any]))
    val (survivors, total) = ZoneMap.pruneFiles(spark, p, band)
    assert(survivors.length < total.toInt, s"string ranges must prune (${survivors.length}/$total)")
    val pruned = ZoneMap.prunedRead(spark, p, band).select("doc_id").as[Long].collect().sorted.toSeq
    val full = Tables
      .documents(spark, sfDir)
      .filter(col("lang") >= "de" && col("lang") <= "en")
      .select("doc_id")
      .as[Long]
      .collect()
      .sorted
      .toSeq
    assert(pruned == full)
  }
}
