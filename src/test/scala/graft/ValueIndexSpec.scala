package graft

import org.apache.spark.sql.functions._

import graft.sources.{SnapshotTable, ValueIndex}

/** Exact secondary point-lookup index: probe == full-scan filter,
  * pruning engagement, incremental O(new files) maintenance,
  * merge-on-read interplay, coverage refusal.
  */
class ValueIndexSpec extends SparkSpec {
  private val root = scratchPath("vidx_spec")

  import SparkSpec.spark.implicits._

  private def freshPath(tag: String): String = s"$root/$tag"

  // (id, key, payload): key k appears in rows where id % 10 == k
  private def rows(ids: Range) = ids.map(i => (i.toLong, (i % 10).toLong, s"p$i")).toDF("id", "key", "payload")

  test("pointRead == full-scan filter; probes scan only posting-hit files; absent value touches nothing") {
    val p = freshPath("basic")
    SnapshotTable.create(spark, p, rows(0 until 400).repartitionByRange(8, col("key")))
    assert(ValueIndex.build(spark, p, "key") == 8L)
    for (k <- Seq(0L, 3L, 9L)) {
      val got  = ValueIndex.pointRead(spark, p, "key", k).collect().map(_.getLong(0)).sorted.toSeq
      val want = SnapshotTable.read(spark, p).filter(col("key") === k).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want && got.nonEmpty, s"key $k: $got != $want")
      val (hit, total) = ValueIndex.hitFiles(spark, p, "key", k)
      assert(hit.length < total, s"key $k must prune: ${hit.length}/$total")
    }
    // absent value: zero files, empty typed result
    val (hit, _) = ValueIndex.hitFiles(spark, p, "key", 99L)
    assert(hit.isEmpty)
    assert(ValueIndex.pointRead(spark, p, "key", 99L).isEmpty)
  }

  test("refresh is incremental (new files only) and coverage is enforced loudly") {
    val p = freshPath("incr")
    SnapshotTable.create(spark, p, rows(0 until 100).repartition(4))
    assert(ValueIndex.build(spark, p, "key") == 4L)
    SnapshotTable.append(spark, p, rows(100 until 160).repartition(2))
    // stale index: probe refused, not silently incomplete
    val e = intercept[IllegalArgumentException](ValueIndex.pointRead(spark, p, "key", 3L))
    assert(e.getMessage.contains("refresh"))
    // incremental refresh covers EXACTLY the two appended files
    assert(ValueIndex.refresh(spark, p, "key") == 2L)
    assert(ValueIndex.refresh(spark, p, "key") == 0L, "already current")
    val got = ValueIndex.pointRead(spark, p, "key", 3L).count()
    assert(got == SnapshotTable.read(spark, p).filter(col("key") === 3L).count())
  }

  test("merge-on-read deletes apply to probes; compaction re-covered by refresh keeps probes exact") {
    val p = freshPath("mor")
    SnapshotTable.create(spark, p, rows(0 until 200).repartitionByRange(4, col("key")))
    ValueIndex.build(spark, p, "key")
    SnapshotTable.deleteMor(spark, p, col("id") < 50L)
    // DV commit adds no data files: index still covers, rows are gone
    val got = ValueIndex.pointRead(spark, p, "key", 4L).collect().map(_.getLong(0)).sorted.toSeq
    val want = SnapshotTable.read(spark, p).filter(col("key") === 4L).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && want.forall(_ >= 50L), s"$got != $want")
    // compaction rewrites files; refresh covers them; stale postings
    // for vanished files are harmless (manifest intersection)
    SnapshotTable.compact(spark, p)
    ValueIndex.refresh(spark, p, "key")
    val got2 = ValueIndex.pointRead(spark, p, "key", 4L).collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == want)
  }

  test("refusals: non-integral key column, missing column") {
    val p = freshPath("refuse")
    SnapshotTable.create(spark, p, Seq((1L, "a")).toDF("id", "name"))
    val e = intercept[IllegalArgumentException](ValueIndex.build(spark, p, "name"))
    assert(e.getMessage.contains("integral"))
    intercept[IllegalArgumentException](ValueIndex.build(spark, p, "nope"))
  }
}
