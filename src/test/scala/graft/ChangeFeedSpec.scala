package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.Cdc
import graft.sources.SnapshotTable
import graft.streaming.ChangeFeed

/** Continuous CDC merge into a graft-log snapshot table. */
class ChangeFeedSpec extends SparkSpec {
  private val root = scratchPath("changefeed_spec")

  import SparkSpec.spark.implicits._

  private def freshPath(tag: String): String = s"$root/$tag"

  private def snap(ids: (Long, String)*) = ids.toSeq.toDF("id", "v")

  private def batch(rows: (Long, String, Boolean)*) = rows.toSeq.toDF("id", "v", "__delete")

  test("streamed change batches fold to the same snapshot as sequential mergeUpsert, one version per batch") {
    val table = freshPath("merge")
    SnapshotTable.create(spark, table, snap(1L -> "a", 2L -> "b", 3L -> "c"))

    val b1 = batch((2L, "b2", false), (4L, "d", false)) // update + insert
    val b2 = batch((1L, "a", true), (4L, "d2", false))  // delete + update
    val streamDir = java.nio.file.Files.createTempDirectory("graft_cf_in")
    val ckpt      = java.nio.file.Files.createTempDirectory("graft_cf_ck")
    b1.coalesce(1).write.parquet(streamDir.resolve("b1").toString)
    b2.coalesce(1).write.parquet(streamDir.resolve("b2").toString)

    val stream = spark.readStream
      .schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$streamDir/*")
    val query = ChangeFeed.streamMerge(spark, stream, table, "id", ckpt.toString)
    try query.awaitTermination()
    finally query.stop()

    val expected = Cdc
      .mergeUpsert(Cdc.mergeUpsert(snap(1L -> "a", 2L -> "b", 3L -> "c"), b1, "id"), b2, "id")
      .orderBy("id")
      .collect()
      .toSeq
    val got = SnapshotTable.read(spark, table).orderBy("id").collect().toSeq
    assert(got == expected)
    // one committed version per micro-batch on top of the create
    assert(SnapshotTable.latestVersion(spark, table) == 3)
    // time travel to the batch boundary: after b1 only
    val afterB1 = SnapshotTable.read(spark, table, Some(2)).orderBy("id").collect().toSeq
    val wantB1  = Cdc.mergeUpsert(snap(1L -> "a", 2L -> "b", 3L -> "c"), b1, "id").orderBy("id").collect().toSeq
    assert(afterB1 == wantB1)
  }

  test("replaying an already-applied batch commits a redundant version with identical content") {
    val table = freshPath("replay")
    SnapshotTable.create(spark, table, snap(1L -> "a", 2L -> "b"))
    val b = batch((2L, "b2", false), (1L, "a", true))
    ChangeFeed.applyBatch(spark, table, b, "id")
    val afterFirst = SnapshotTable.read(spark, table).orderBy("id").collect().toSeq
    ChangeFeed.applyBatch(spark, table, b, "id") // at-least-once replay
    val afterSecond = SnapshotTable.read(spark, table).orderBy("id").collect().toSeq
    assert(afterSecond == afterFirst)
    assert(SnapshotTable.latestVersion(spark, table) == 3)
  }

  test("streamed SCD2 batches reproduce the sequential scd2Apply history, multi-day batch applied in date order") {
    val table = freshPath("scd2")
    val init  = Seq((1L, "en"), (2L, "de")).toDF("id", "lang")
    SnapshotTable.create(spark, table, Cdc.scd2Init(init, "id", Seq("lang"), lit("2024-01-01")))

    // one batch carrying TWO effective dates out of order: must apply ascending
    val b1 = Seq((1L, "fr", "2024-03-01"), (1L, "es", "2024-02-01"), (3L, "it", "2024-02-01"))
      .toDF("id", "lang", "eff")
    val streamDir = java.nio.file.Files.createTempDirectory("graft_cf2_in")
    val ckpt      = java.nio.file.Files.createTempDirectory("graft_cf2_ck")
    b1.coalesce(1).write.parquet(streamDir.resolve("b1").toString)
    val stream = spark.readStream.schema(b1.schema).parquet(s"$streamDir/*")
    val query  = graft.streaming.ChangeFeed.streamScd2(spark, stream, table, "id", Seq("lang"), "eff", ckpt.toString)
    try query.awaitTermination()
    finally query.stop()

    var expected = Cdc.scd2Init(init, "id", Seq("lang"), lit("2024-01-01"))
    expected = Cdc.scd2Apply(expected, Seq((1L, "es"), (3L, "it")).toDF("id", "lang"), "id", Seq("lang"), lit("2024-02-01"))
    expected = Cdc.scd2Apply(expected, Seq((1L, "fr")).toDF("id", "lang"), "id", Seq("lang"), lit("2024-03-01"))
    val got = SnapshotTable.read(spark, table)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // id 1 went en -> es -> fr: three versions, one open
    val v1 = got.filter(col("id") === 1L)
    assert(v1.count() == 3 && v1.filter(col("valid_to").isNull).count() == 1)
  }

  test("replaying an SCD2 batch is a content no-op (change detection suppresses duplicates)") {
    val table = freshPath("scd2replay")
    val init  = Seq((1L, "en")).toDF("id", "lang")
    SnapshotTable.create(spark, table, Cdc.scd2Init(init, "id", Seq("lang"), lit("2024-01-01")))
    val b = Seq((1L, "fr", "2024-02-01")).toDF("id", "lang", "eff")
    graft.streaming.ChangeFeed.applyScd2Batch(spark, table, b, "id", Seq("lang"), "eff")
    val first = SnapshotTable.read(spark, table).orderBy("id", "valid_from").collect().toSeq
    graft.streaming.ChangeFeed.applyScd2Batch(spark, table, b, "id", Seq("lang"), "eff")
    val second = SnapshotTable.read(spark, table).orderBy("id", "valid_from").collect().toSeq
    assert(second == first)
  }

  test("dup-id batches are refused loudly instead of corrupting the table") {
    val table = freshPath("dups")
    SnapshotTable.create(spark, table, snap(1L -> "a"))
    val dupMerge = batch((1L, "x", false), (1L, "y", false))
    intercept[IllegalArgumentException] {
      graft.streaming.ChangeFeed.applyBatch(spark, table, dupMerge, "id")
    }
    // with a seq column the same batch resolves deterministically
    val seqd = Seq((1L, "x", false, 1L), (1L, "y", false, 2L)).toDF("id", "v", "__delete", "seq")
    graft.streaming.ChangeFeed.applyBatch(spark, table, seqd, "id", seqCol = Some("seq"))
    assert(SnapshotTable.read(spark, table).orderBy("id").collect().map(_.getString(1)).toSeq == Seq("y"))
    // SCD2: two changes to one id at one effective date refused
    val scd2Table = freshPath("dups2")
    SnapshotTable.create(spark, scd2Table, Cdc.scd2Init(Seq((1L, "en")).toDF("id", "lang"), "id", Seq("lang"), lit("2024-01-01")))
    val dupScd2 = Seq((1L, "fr", "2024-02-01"), (1L, "de", "2024-02-01")).toDF("id", "lang", "eff")
    intercept[IllegalArgumentException] {
      graft.streaming.ChangeFeed.applyScd2Batch(spark, scd2Table, dupScd2, "id", Seq("lang"), "eff")
    }
  }

  test("an out-of-band writer racing a batch is detected by the CAS commit") {
    val table = freshPath("race")
    SnapshotTable.create(spark, table, snap(1L -> "a"))
    // simulate: the feed read v1, then another writer commits v2
    val fs  = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
    val v1Files = SnapshotTable.read(spark, table).inputFiles.map(f => "data/" + f.split("/data/").last).toSeq
    // applyBatch reads latestVersion first; interpose by committing v2
    // between two applyBatch calls is not interleavable here, so drive
    // the CAS directly: overwrite pinned to a stale base must refuse
    val out = fs.create(new Path(s"$table/_log/v${"%012d".format(2L)}.txt"), false)
    out.write(v1Files.mkString("", "\n", "\n").getBytes("UTF-8")); out.close()
    intercept[IllegalArgumentException] {
      SnapshotTable.overwrite(spark, table, snap(9L -> "z"), expectedBase = Some(1L))
    }
  }
}
