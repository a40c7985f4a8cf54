package graft

import org.apache.spark.sql.functions._

import graft.sources.{JoinMv, SnapshotTable}

/** DESCRIBE HISTORY: every writer path stamps its operation, restore
  * re-asserts application meta but replaces the op, vacuumed versions
  * disappear from history, and the JoinMv watermark surfaces as
  * app_meta.
  */
class HistorySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("each writer path stamps its op; history reads back in order") {
    val p = scratchPath("ops")
    SnapshotTable.create(spark, p, (1L to 100L).toDF("id"))
    SnapshotTable.append(spark, p, (101L to 200L).toDF("id"))
    SnapshotTable.deleteMor(spark, p, col("id") % 10 === 0)
    SnapshotTable.updateMor(spark, p, col("id") === 1L, Map("id" -> lit(-1L)))
    SnapshotTable.compact(spark, p) // also folds the DVs away
    SnapshotTable.delete(spark, p, col("id") === 2L)
    SnapshotTable.restore(spark, p, 2L)
    SnapshotTable.append(spark, p, (201L to 205L).toDF("id"))
    SnapshotTable.compactSmall(spark, p, minBytes = 1L << 30)
    val h = SnapshotTable
      .history(spark, p)
      .select("version", "operation", "n_dvs")
      .as[(Long, String, Long)]
      .collect()
      .toSeq
    assert(
      h == Seq(
        (1L, "create", 0L),
        (2L, "append", 0L),
        (3L, "delete-mor", 1L),
        (4L, "update-mor", 2L),
        (5L, "compact", 0L),
        (6L, "delete", 0L),
        (7L, "restore-v2", 0L),
        (8L, "append", 0L),
        (9L, "compact-small", 0L)
      ),
      s"got $h"
    )
  }

  test("restore keeps the restored commit's application meta but carries its own op stamp") {
    val (aP, bP, vP) = (scratchPath("a"), scratchPath("b"), scratchPath("v"))
    SnapshotTable.create(spark, aP, Seq((1L, 10L)).toDF("okey", "ckey"))
    SnapshotTable.create(spark, bP, Seq((10L, "X")).toDF("ckey", "seg"))
    JoinMv.build(spark, vP, aP, bP, Seq("ckey"))
    SnapshotTable.append(spark, aP, Seq((2L, 10L)).toDF("okey", "ckey"))
    JoinMv.maintain(spark, vP)
    val restored = SnapshotTable.restore(spark, vP, 2L)
    val rows = SnapshotTable
      .history(spark, vP)
      .select("version", "operation", "app_meta")
      .as[(Long, String, String)]
      .collect()
      .map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(rows(restored) == ("restore-v2", "joinmv:1,1"))
    // and the watermark the view acts on is the restored one
    assert(JoinMv.watermark(spark, vP) == (1L, 1L))
  }

  test("vacuumed versions vanish from history; survivors keep their stamps") {
    val p = scratchPath("vac")
    SnapshotTable.create(spark, p, (1L to 10L).toDF("id"))
    SnapshotTable.append(spark, p, (11L to 20L).toDF("id"))
    SnapshotTable.append(spark, p, (21L to 30L).toDF("id"))
    SnapshotTable.vacuum(spark, p, keepFrom = 3L)
    val h = SnapshotTable.history(spark, p).select("version", "operation").as[(Long, String)].collect().toSeq
    assert(h == Seq((3L, "append")))
  }

  test("timestamp time travel: versionAt resolves commit instants; pre-history timestamps refuse") {
    val p = scratchPath("tsasof")
    SnapshotTable.create(spark, p, (1L to 10L).toDF("id"))
    val afterV1 = SnapshotTable
      .versionAt(spark, p, Long.MaxValue) // sanity: newest wins
    assert(afterV1 == 1L)
    val t1 = new java.io.File(s"$p/_log/v${"%012d".format(1L)}.txt").lastModified()
    Thread.sleep(1100) // local-fs mtime granularity can be 1s
    SnapshotTable.append(spark, p, (11L to 20L).toDF("id"))
    val t2 = new java.io.File(s"$p/_log/v${"%012d".format(2L)}.txt").lastModified()
    assert(t2 > t1, "commit instants must advance")
    // a timestamp between the commits sees version 1's data
    assert(SnapshotTable.versionAt(spark, p, t1) == 1L)
    assert(SnapshotTable.readAt(spark, p, t1).count() == 10L)
    assert(SnapshotTable.versionAt(spark, p, t2) == 2L)
    assert(SnapshotTable.readAt(spark, p, t2).count() == 20L)
    // predating the first surviving commit refuses (vacuumed history)
    val err = intercept[IllegalArgumentException](SnapshotTable.versionAt(spark, p, t1 - 10000L))
    assert(err.getMessage.contains("predates"), s"wrong refusal: ${err.getMessage}")
    // after vacuuming v1 away, t1 itself becomes unanswerable
    SnapshotTable.vacuum(spark, p, keepFrom = 2L)
    val err2 = intercept[IllegalArgumentException](SnapshotTable.versionAt(spark, p, t1))
    assert(err2.getMessage.contains("predates"))
    assert(SnapshotTable.versionAt(spark, p, t2) == 2L)
  }
}
