package graft

import org.apache.spark.sql.functions._

import graft.sources.{JoinMv, SnapshotTable}

/** Incrementally-maintained join view: delta maintenance ≡ full
  * recompute under interleaved base appends, watermark atomicity with
  * the maintenance commit, no-op maintenance, loud watermark loss, and
  * the broadcast delta-join plan shape.
  */
class JoinMvSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def orders(rows: (Long, Long, Double)*) = rows.toDF("okey", "ckey", "price")
  private def custs(rows: (Long, String)*)        = rows.toDF("ckey", "seg")

  test("incremental maintenance equals full recompute across interleaved appends to both bases") {
    val (aP, bP, vP) = (scratchPath("a"), scratchPath("b"), scratchPath("v"))
    SnapshotTable.create(spark, aP, orders((1L, 10L, 5.0), (2L, 20L, 6.0)))
    SnapshotTable.create(spark, bP, custs((10L, "X"), (30L, "Y")))
    JoinMv.build(spark, vP, aP, bP, Seq("ckey"))
    // delta to A referencing old + new B keys; then delta to B matching old A
    SnapshotTable.append(spark, aP, orders((3L, 30L, 7.0), (4L, 40L, 8.0)))
    JoinMv.maintain(spark, vP)
    SnapshotTable.append(spark, bP, custs((20L, "Z"), (40L, "W")))
    JoinMv.maintain(spark, vP)
    // both sides advance before a single maintenance (ΔA ⋈ ΔB covered once)
    SnapshotTable.append(spark, aP, orders((5L, 50L, 9.0)))
    SnapshotTable.append(spark, bP, custs((50L, "V")))
    JoinMv.maintain(spark, vP)
    val got = JoinMv.read(spark, vP).select("okey", "ckey", "price", "seg")
      .as[(Long, Long, Double, String)].collect().toSet
    val full = SnapshotTable.read(spark, aP).join(SnapshotTable.read(spark, bP), Seq("ckey"))
      .select("okey", "ckey", "price", "seg").as[(Long, Long, Double, String)].collect().toSet
    assert(got == full)
    assert(got.size == 5, s"expected 5 joined rows, got $got")
  }

  test("maintenance with no base changes commits no version; watermark tracks base versions") {
    val (aP, bP, vP) = (scratchPath("a2"), scratchPath("b2"), scratchPath("v2"))
    SnapshotTable.create(spark, aP, orders((1L, 10L, 5.0)))
    SnapshotTable.create(spark, bP, custs((10L, "X")))
    JoinMv.build(spark, vP, aP, bP, Seq("ckey"))
    val v0 = SnapshotTable.latestVersion(spark, vP)
    assert(JoinMv.maintain(spark, vP) == v0)
    assert(SnapshotTable.latestVersion(spark, vP) == v0)
    assert(JoinMv.watermark(spark, vP) == (1L, 1L))
    SnapshotTable.append(spark, aP, orders((2L, 10L, 6.0)))
    JoinMv.maintain(spark, vP)
    assert(JoinMv.watermark(spark, vP) == (2L, 1L))
  }

  test("a maintenance commit is atomic: its rows and its watermark arrive in the same version") {
    val (aP, bP, vP) = (scratchPath("a3"), scratchPath("b3"), scratchPath("v3"))
    SnapshotTable.create(spark, aP, orders((1L, 10L, 5.0)))
    SnapshotTable.create(spark, bP, custs((10L, "X")))
    JoinMv.build(spark, vP, aP, bP, Seq("ckey"))
    SnapshotTable.append(spark, aP, orders((2L, 10L, 6.0)))
    val v = JoinMv.maintain(spark, vP)
    // reading the PREVIOUS view version must see the previous watermark
    assert(SnapshotTable.latestMeta(spark, vP, "joinmv:", Some(v - 1)).get._2 == "joinmv:1,1")
    assert(SnapshotTable.latestMeta(spark, vP, "joinmv:", Some(v)).get._2 == "joinmv:2,1")
    assert(SnapshotTable.read(spark, vP, Some(v)).count() ==
      SnapshotTable.read(spark, vP, Some(v - 1)).count() + 1)
    // a second maintenance with no changes does not double-apply
    JoinMv.maintain(spark, vP)
    assert(SnapshotTable.read(spark, vP).count() == 2)
  }

  test("vacuum past every watermark commit makes maintenance fail loudly, not duplicate") {
    val (aP, bP, vP) = (scratchPath("a4"), scratchPath("b4"), scratchPath("v4"))
    SnapshotTable.create(spark, aP, orders((1L, 10L, 5.0)))
    SnapshotTable.create(spark, bP, custs((10L, "X")))
    JoinMv.build(spark, vP, aP, bP, Seq("ckey"))
    // compact commits a new meta-less version; vacuuming below it drops
    // the only watermark-carrying manifest
    SnapshotTable.compact(spark, vP)
    SnapshotTable.vacuum(spark, vP, keepFrom = SnapshotTable.latestVersion(spark, vP))
    SnapshotTable.append(spark, aP, orders((2L, 10L, 6.0)))
    val e = intercept[RuntimeException] { JoinMv.maintain(spark, vP) }
    assert(e.getMessage.contains("watermark"))
  }

  test("delta joins broadcast the delta side — base B never shuffles during maintenance") {
    val (aP, bP, vP) = (scratchPath("a5"), scratchPath("b5"), scratchPath("v5"))
    SnapshotTable.create(spark, aP, (1L to 500L).map(i => (i, i % 50, i * 1.0)).toDF("okey", "ckey", "price"))
    SnapshotTable.create(spark, bP, (0L to 49L).map(i => (i, s"s$i")).toDF("ckey", "seg"))
    JoinMv.build(spark, vP, aP, bP, Seq("ckey"))
    SnapshotTable.append(spark, aP, orders((1000L, 7L, 1.0)))
    val cfgDelta = {
      val dA   = SnapshotTable.changesBetween(spark, aP, 1L, 2L)
      val bNew = SnapshotTable.read(spark, bP)
      broadcast(dA).join(bNew, Seq("ckey"))
    }
    val plan = cfgDelta.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"delta join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join for a tiny delta:\n$plan")
    JoinMv.maintain(spark, vP)
    assert(JoinMv.read(spark, vP).count() == 501L)
  }
}
