package graft

import org.apache.spark.sql.functions._
import graft.sources.{DeltaRollup, SnapshotTable}

/** Row-level change feed ([[SnapshotTable.rowChangesBetween]]) and the
  * delete-aware rollup IVM built on it ([[DeltaRollup]]).
  */
class CdfSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def seed = Seq(
    (1L, "a", 10L),
    (2L, "a", 20L),
    (3L, "b", 30L),
    (4L, "b", 40L),
    (5L, "c", 50L)
  ).toDF("id", "grp", "v")

  test("rowChangesBetween: appends are inserts, MOR delete yields pre-images, MOR update yields pre+post pairs") {
    val p = scratchPath("feed")
    SnapshotTable.create(spark, p, seed)                                        // v1
    SnapshotTable.append(spark, p, Seq((6L, "c", 60L)).toDF("id", "grp", "v"))  // v2
    SnapshotTable.deleteMor(spark, p, col("grp") === "b")                       // v3
    SnapshotTable.updateMor(spark, p, col("id") === 1L, Map("v" -> lit(99L)))   // v4
    val feed = SnapshotTable
      .rowChangesBetween(spark, p, 0L, 4L)
      .select($"id", $"grp", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, Long, String, Long)]
      .collect()
      .toSet
    val expect = Set(
      (1L, "a", 10L, "insert", 1L),
      (2L, "a", 20L, "insert", 1L),
      (3L, "b", 30L, "insert", 1L),
      (4L, "b", 40L, "insert", 1L),
      (5L, "c", 50L, "insert", 1L),
      (6L, "c", 60L, "insert", 2L),
      (3L, "b", 30L, "delete", 3L),
      (4L, "b", 40L, "delete", 3L),
      (1L, "a", 10L, "update_preimage", 4L),
      (1L, "a", 99L, "update_postimage", 4L)
    )
    assert(feed == expect)
    // a window not starting at 0 carries only its commits
    val tail = SnapshotTable
      .rowChangesBetween(spark, p, 2L, 4L)
      .select($"_commit_version")
      .as[Long]
      .collect()
    assert(tail.forall(v => v == 3L || v == 4L) && tail.length == 4)
  }

  test("rowChangesBetween: compaction contributes nothing; copy-on-write rewrite is refused loudly") {
    val p = scratchPath("compact")
    SnapshotTable.create(spark, p, seed)                 // v1
    SnapshotTable.deleteMor(spark, p, col("id") === 5L)  // v2
    SnapshotTable.compact(spark, p)                      // v3: rewrite, row-preserving
    val feed = SnapshotTable
      .rowChangesBetween(spark, p, 1L, 3L)
      .select($"_change_type", $"_commit_version")
      .as[(String, Long)]
      .collect()
    assert(feed.toSeq == Seq(("delete", 2L)), s"compaction must be feed-transparent, got ${feed.toSeq}")
    SnapshotTable.overwrite(spark, p, seed.filter($"id" =!= 1L)) // v4: NOT row-preserving
    val e = intercept[RuntimeException](SnapshotTable.rowChangesBetween(spark, p, 3L, 4L).collect())
    assert(e.getMessage.contains("rewrite commit"), e.getMessage)
  }

  test("DeltaRollup: feed-maintained view equals full recompute; dead groups vanish; no-op and compaction preserve state") {
    val p = scratchPath("ivm_base")
    val v = scratchPath("ivm_view")
    SnapshotTable.create(spark, p, seed)                                         // v1
    DeltaRollup.build(spark, v, p, keys = Seq("grp"), measures = Seq("v"))
    SnapshotTable.append(spark, p, Seq((6L, "d", 60L)).toDF("id", "grp", "v"))   // v2: new group born
    SnapshotTable.deleteMor(spark, p, col("grp") === "b")                        // v3: group 'b' dies
    val after1 = DeltaRollup.maintain(spark, v)
    assert(DeltaRollup.maintain(spark, v) == after1, "no-op maintenance must not commit")
    SnapshotTable.updateMor(spark, p, col("id") === 5L, Map("grp" -> lit("a"), "v" -> lit(51L))) // v4: row moves c→a
    DeltaRollup.maintain(spark, v)
    def state() = DeltaRollup
      .readRollup(spark, v)
      .as[(String, Long, Long)]
      .collect()
      .toSet
    val expect = Set(("a", 81L, 3L), ("d", 60L, 1L)) // b deleted, c's only row moved to a
    assert(state() == expect, s"got ${state()}")
    val direct = SnapshotTable
      .read(spark, p)
      .groupBy("grp")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("n_rows"))
      .as[(String, Long, Long)]
      .collect()
      .toSet
    assert(state() == direct, "IVM must equal full recompute")
    DeltaRollup.compactRollup(spark, v)
    assert(state() == expect, "compaction must preserve the rollup")
    assert(DeltaRollup.watermark(spark, v) == 4L, "watermark must survive compaction")
    assert(
      SnapshotTable.read(spark, v).count() == 2L,
      "compaction must shed zero-count groups from storage"
    )
  }
}
