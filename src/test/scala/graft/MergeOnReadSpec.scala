package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** graft-log mutation tier, merge-on-read side: deletion vectors,
  * RESTORE, shallow CLONE — and their interplay with compaction,
  * vacuum, stats pruning, and the incremental/streaming readers.
  */
class MergeOnReadSpec extends SparkSpec {
  private val root = scratchPath("mor_spec")

  import SparkSpec.spark.implicits._

  private def freshPath(tag: String): String = s"$root/$tag"

  private def df(ids: Long*) = ids.toSeq.toDF("id")

  private def dataFileCount(p: String): Int = {
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsListing.listDataFiles(fs, new Path(s"$p/data")).length
  }

  private def manifestLines(p: String, v: Long): Seq[String] = {
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(new Path(s"$p/_log/v${"%012d".format(v)}.txt"))
    try new String(in.readAllBytes(), "UTF-8").split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    finally in.close()
  }

  test("deleteMor tombstones without rewriting a single data file; history keeps the rows; no-match commits nothing") {
    val p = freshPath("dv_basic")
    SnapshotTable.create(spark, p, df(1, 2, 3, 4).repartition(2))
    SnapshotTable.append(spark, p, df(5, 6))
    val filesBefore = dataFileCount(p)
    val v = SnapshotTable.deleteMor(spark, p, col("id") % 2 === 0)
    assert(v == 3)
    assert(dataFileCount(p) == filesBefore, "merge-on-read must not rewrite or add data files")
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L))
    assert(SnapshotTable.read(spark, p, Some(2)).as[Long].collect().sorted.toSeq == (1L to 6L))
    assert(manifestLines(p, 3).count(_.startsWith("dv:")) == 1)
    // no-match delete: no new version
    assert(SnapshotTable.deleteMor(spark, p, col("id") > 100) == 3)
    // NULL predicate keeps the row (SQL DELETE semantics)
    val keep = SnapshotTable.deleteMor(spark, p, when(col("id") === 1, lit(null).cast("boolean")).otherwise(col("id") === 5))
    assert(SnapshotTable.read(spark, p, Some(keep)).as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("stacked deletion vectors compose; appends after a delete keep flowing through") {
    val p = freshPath("dv_stack")
    SnapshotTable.create(spark, p, df(1, 2, 3, 4, 5, 6))
    SnapshotTable.deleteMor(spark, p, col("id") <= 2)
    SnapshotTable.append(spark, p, df(7, 8))
    SnapshotTable.deleteMor(spark, p, col("id") % 2 === 1)
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(4L, 6L, 8L))
    // the second DV was computed over live rows only: 1 and 2 are
    // already dead, so it holds exactly {3, 5, 7}
    assert(SnapshotTable.read(spark, p, Some(3)).as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("updateMor rewrites only the matched rows as an append + tombstone, atomically in one commit") {
    val p  = freshPath("dv_upd")
    val t0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag")
    SnapshotTable.create(spark, p, t0)
    val before = dataFileCount(p)
    val v      = SnapshotTable.updateMor(spark, p, col("id") >= 2, Map("tag" -> upper(col("tag"))))
    assert(v == 2)
    assert(
      SnapshotTable.read(spark, p).as[(Long, String)].collect().sorted.toSeq ==
        Seq((1L, "a"), (2L, "B"), (3L, "C"))
    )
    assert(SnapshotTable.read(spark, p, Some(1)).as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(dataFileCount(p) > before, "updateMor appends the rewritten rows")
    // NULL predicate leaves rows unchanged; no-match commits nothing
    assert(SnapshotTable.updateMor(spark, p, lit(null).cast("boolean"), Map("tag" -> lit("x"))) == 2)
  }

  test("compact materializes deletion vectors away; copy-on-write mutations are refused until then") {
    val p = freshPath("dv_compact")
    SnapshotTable.create(spark, p, df(1, 2, 3, 4))
    SnapshotTable.deleteMor(spark, p, col("id") === 2)
    val e = intercept[IllegalArgumentException](SnapshotTable.delete(spark, p, col("id") === 3))
    assert(e.getMessage.contains("deletion vectors"))
    intercept[IllegalArgumentException](SnapshotTable.update(spark, p, col("id") === 3, Map("id" -> lit(9L))))
    val v = SnapshotTable.compact(spark, p, targetFiles = 1)
    assert(manifestLines(p, v).forall(l => !l.startsWith("dv:")), "compaction must fold DVs into the data")
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
    // CoW path works again post-materialization
    SnapshotTable.delete(spark, p, col("id") === 3)
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(1L, 4L))
  }

  test("changesBetween refuses to cross a DV commit but still serves pure appends on either side") {
    val p = freshPath("dv_changes")
    SnapshotTable.create(spark, p, df(1, 2))     // v1
    SnapshotTable.deleteMor(spark, p, col("id") === 1) // v2
    SnapshotTable.append(spark, p, df(3, 4))     // v3
    val pulled = SnapshotTable.changesBetween(spark, p, 2, 3).as[Long].collect().sorted.toSeq
    assert(pulled == Seq(3L, 4L), "append-only range after the DV must stay readable")
    val e = intercept[IllegalArgumentException](SnapshotTable.changesBetween(spark, p, 1, 2))
    assert(e.getMessage.contains("deletion-vector"))
  }

  test("restore rolls the table back as a NEW commit: zero data movement, full history intact") {
    val p = freshPath("restore")
    SnapshotTable.create(spark, p, df(1, 2, 3))
    SnapshotTable.deleteMor(spark, p, col("id") === 2)
    SnapshotTable.append(spark, p, df(9))
    val before = dataFileCount(p)
    val v      = SnapshotTable.restore(spark, p, 1)
    assert(v == 4)
    assert(dataFileCount(p) == before, "restore is a manifest-only commit")
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, p, Some(3)).as[Long].collect().sorted.toSeq == Seq(1L, 3L, 9L), "rolled-back versions stay readable")
    intercept[IllegalArgumentException](SnapshotTable.restore(spark, p, 99))
  }

  test("restore refuses loudly when vacuum has reclaimed the target version's files") {
    val p = freshPath("restore_vac")
    SnapshotTable.create(spark, p, df(1, 2))
    SnapshotTable.overwrite(spark, p, df(7))
    SnapshotTable.vacuum(spark, p, keepFrom = 2)
    val e = intercept[IllegalArgumentException](SnapshotTable.restore(spark, p, 1))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("shallow clone is zero-copy, reads identically, and diverges independently of the source") {
    val src = freshPath("clone_src")
    val dst = freshPath("clone_dst")
    SnapshotTable.create(spark, src, df(1, 2, 3))
    SnapshotTable.deleteMor(spark, src, col("id") === 3) // clone must carry the DV too
    SnapshotTable.append(spark, src, df(4))              // v3, NOT in the v2 clone
    SnapshotTable.shallowClone(spark, src, dst, versionAsOf = Some(2L))
    assert(dataFileCount(dst) == 0, "shallow clone moves no data")
    assert(SnapshotTable.read(spark, dst).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // divergence: mutate the clone, source untouched
    SnapshotTable.append(spark, dst, df(100))
    SnapshotTable.deleteMor(spark, dst, col("id") === 1)
    assert(SnapshotTable.read(spark, dst).as[Long].collect().sorted.toSeq == Seq(2L, 100L))
    assert(SnapshotTable.read(spark, src).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    // a second clone onto an existing table is refused
    intercept[IllegalArgumentException](SnapshotTable.shallowClone(spark, src, dst))
  }

  test("compacting a clone localizes it: the source can then be vacuumed away without breaking the clone") {
    val src = freshPath("clone_loc_src")
    val dst = freshPath("clone_loc_dst")
    SnapshotTable.create(spark, src, df(1, 2, 3))
    SnapshotTable.shallowClone(spark, src, dst)
    SnapshotTable.compact(spark, dst, targetFiles = 1)
    assert(dataFileCount(dst) > 0, "compaction copies the rows under the clone's own root")
    SnapshotTable.overwrite(spark, src, df(9))
    SnapshotTable.vacuum(spark, src, keepFrom = 2)
    assert(SnapshotTable.read(spark, dst).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(manifestLines(dst, 2).forall(l => !l.startsWith("/") && !l.contains("://")))
  }

  test("vacuum reclaims deletion vectors of rolled-past versions but never a live one") {
    val p = freshPath("dv_vacuum")
    SnapshotTable.create(spark, p, df(1, 2, 3, 4))
    SnapshotTable.deleteMor(spark, p, col("id") === 1) // v2, dv A
    SnapshotTable.deleteMor(spark, p, col("id") === 2) // v3, dv A+B
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.listStatus(new Path(s"$p/_dv")).length == 2)
    // keepFrom=3: both DVs still referenced by v3 — nothing reclaimed
    SnapshotTable.vacuum(spark, p, keepFrom = 3)
    assert(fs.listStatus(new Path(s"$p/_dv")).length == 2)
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // materialize + vacuum: every DV is now dead and reclaimed
    val v = SnapshotTable.compact(spark, p, targetFiles = 1)
    SnapshotTable.vacuum(spark, p, keepFrom = v)
    assert(!fs.exists(new Path(s"$p/_dv")) || fs.listStatus(new Path(s"$p/_dv")).isEmpty)
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("stats-pruned reads subtract deletion vectors: skipping stays value-identical after a MOR delete") {
    val p = freshPath("dv_pruned")
    SnapshotTable.enableStats(spark, p, Seq("id"))
    def clustered(ids: Seq[Long]) = ids.toDF("id").repartitionByRange(2, col("id")).sortWithinPartitions("id")
    SnapshotTable.create(spark, p, clustered(1L to 40L))
    SnapshotTable.append(spark, p, clustered(41L to 80L))
    SnapshotTable.deleteMor(spark, p, col("id") % 10 === 0)
    val (surv, total) = SnapshotTable.pruneVersionFiles(spark, p, "id", Some(1L), Some(20L))
    assert(surv.length < total, "stats must still prune")
    val got = SnapshotTable.prunedRead(spark, p, "id", Some(1L), Some(20L)).as[Long].collect().sorted.toSeq
    assert(got == (1L to 20L).filter(_ % 10 != 0), "pruned read must not resurrect tombstoned rows")
  }

  test("compactClustered re-tightens file ranges: pruning works again and DVs are folded away") {
    val p = freshPath("cluster_compact")
    SnapshotTable.enableStats(spark, p, Seq("id"))
    // two interleaved commits: every file spans the whole range, so
    // stats can prove nothing disjoint
    SnapshotTable.create(spark, p, (1L to 80L by 2).toDF("id").repartition(4))
    SnapshotTable.append(spark, p, (2L to 80L by 2).toDF("id").repartition(4))
    SnapshotTable.deleteMor(spark, p, col("id") % 10 === 0)
    val (preSurv, preTotal) = SnapshotTable.pruneVersionFiles(spark, p, "id", Some(1L), Some(10L))
    assert(preSurv.length == preTotal, "interleaved layout must defeat pruning (the problem being fixed)")
    val v = SnapshotTable.compactClustered(spark, p, Seq("id"), targetFiles = 4)
    assert(manifestLines(p, v).forall(l => !l.startsWith("dv:")), "cluster-compact folds DVs away")
    val (surv, total) = SnapshotTable.pruneVersionFiles(spark, p, "id", Some(1L), Some(10L))
    assert(surv.length < total, s"clustered layout must prune ($surv of $total)")
    val got = SnapshotTable.prunedRead(spark, p, "id", Some(1L), Some(10L)).as[Long].collect().sorted.toSeq
    assert(got == (1L to 10L).filterNot(_ % 10 == 0))
  }

  test("DV read plan: the tombstone subtraction is one broadcast anti-join, never a data-side shuffle") {
    val p = freshPath("dv_plan")
    SnapshotTable.create(spark, p, (1L to 1000L).toDF("id").repartition(2))
    SnapshotTable.deleteMor(spark, p, col("id") % 100 === 0)
    val plan = SnapshotTable.read(spark, p).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), s"want broadcast anti-join, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "a small DV must never shuffle the data side")
  }

  test("streaming read of a DV-carrying table is refused rather than re-emitting dead rows") {
    val p = freshPath("dv_stream")
    SnapshotTable.create(spark, p, df(1, 2, 3))
    SnapshotTable.deleteMor(spark, p, col("id") === 2)
    val e = intercept[IllegalArgumentException](SnapshotTable.readStream(spark, p))
    assert(e.getMessage.contains("deletion vectors"))
  }
}
