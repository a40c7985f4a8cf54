package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** graft-log: atomic commits, time travel, optimistic concurrency. */
class SnapshotTableSpec extends SparkSpec {
  private val root = scratchPath("snap_spec")

  import SparkSpec.spark.implicits._

  private def freshPath(tag: String): String = s"$root/$tag"

  private def df(ids: Long*) = ids.toSeq.toDF("id")

  /** Runs `body` on a dedicated pool of exactly `threads` threads. The
    * races below park futures on barriers or loop until told to stop;
    * on the global context (one thread per core) they would starve
    * whenever the host has fewer cores than racers.
    */
  private def onThreads[T](threads: Int)(body: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(threads)
    try body(ExecutionContext.fromExecutorService(pool))
    finally pool.shutdownNow()
  }

  test("create + appends: every version reproduces its cumulative state; plain parquet read never sees the log") {
    val p = freshPath("basic")
    SnapshotTable.create(spark, p, df(1, 2))
    SnapshotTable.append(spark, p, df(3))
    SnapshotTable.append(spark, p, df(4, 5))
    assert(SnapshotTable.latestVersion(spark, p) == 3)
    assert(SnapshotTable.read(spark, p, Some(1)).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(SnapshotTable.read(spark, p, Some(2)).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("compaction folds files but every historical version stays byte-reproducible") {
    val p = freshPath("compact")
    SnapshotTable.create(spark, p, df(1).repartition(4))
    (2 to 6).foreach(i => SnapshotTable.append(spark, p, df(i.toLong).repartition(2)))
    val v6Before = SnapshotTable.read(spark, p, Some(6)).as[Long].collect().sorted.toSeq
    val v2Before = SnapshotTable.read(spark, p, Some(2)).as[Long].collect().sorted.toSeq
    val fs          = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val filesBefore = graft.sources.FsListing.listDataFiles(fs, new Path(s"$p/data")).length
    val v = SnapshotTable.compact(spark, p, targetFiles = 1)
    assert(v == 7)
    val compactedFiles = graft.sources.FsListing
      .listDataFiles(fs, new Path(s"$p/data"))
      .length
    assert(SnapshotTable.read(spark, p).inputFiles.length < filesBefore)
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == v6Before)
    assert(SnapshotTable.read(spark, p, Some(6)).as[Long].collect().sorted.toSeq == v6Before)
    assert(SnapshotTable.read(spark, p, Some(2)).as[Long].collect().sorted.toSeq == v2Before)
    assert(compactedFiles > filesBefore, "old files must survive compaction (time travel)")
  }

  test("optimistic concurrency: a lost append race retries onto the new version, exactly once") {
    val p = freshPath("race")
    SnapshotTable.create(spark, p, df(1))
    // simulate a racing committer: pre-create the v2 manifest the
    // append will try first
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val racer = SnapshotTable.read(spark, p) // v1 files
    val v1Files = racer.inputFiles.map(f => f.split("/data/").last).map("data/" + _).toSeq
    val out = fs.create(new Path(s"$p/_log/v${"%012d".format(2L)}.txt"), false)
    out.write((v1Files.mkString("", "\n", "\n")).getBytes("UTF-8"))
    out.close()
    val v = SnapshotTable.append(spark, p, df(9))
    assert(v == 3, "append must detect the lost race and land on v3")
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(1L, 9L))
    assert(SnapshotTable.read(spark, p, Some(2)).as[Long].collect().sorted.toSeq == Seq(1L))
  }

  test("overwrite replaces content going forward, loses no history, and refuses a raced commit") {
    val p = freshPath("ow")
    SnapshotTable.create(spark, p, df(1, 2))
    SnapshotTable.overwrite(spark, p, df(7))
    assert(SnapshotTable.read(spark, p).as[Long].collect().toSeq == Seq(7L))
    assert(SnapshotTable.read(spark, p, Some(1)).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // CAS semantics: reader derived its overwrite from v2, a racer
    // commits v3 in between — the stale overwrite must throw, not
    // clobber
    val fs  = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(new Path(s"$p/_log/v${"%012d".format(3L)}.txt"), false)
    out.write("data/none.parquet\n".getBytes("UTF-8")); out.close()
    intercept[IllegalArgumentException] {
      SnapshotTable.overwrite(spark, p, df(8), expectedBase = Some(2L))
    }
  }

  test("vacuum reclaims only files unreferenced since keepFrom and kills older time travel loudly") {
    val p = freshPath("vac")
    SnapshotTable.create(spark, p, df(1))
    SnapshotTable.append(spark, p, df(2))
    SnapshotTable.compact(spark, p, targetFiles = 1) // v3 references only compacted files
    val fs          = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val filesBefore = graft.sources.FsListing.listDataFiles(fs, new Path(s"$p/data")).length
    SnapshotTable.vacuum(spark, p, keepFrom = 3)
    val filesAfter = graft.sources.FsListing.listDataFiles(fs, new Path(s"$p/data")).length
    assert(filesAfter < filesBefore)
    // current read unaffected
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // old version gone loudly (manifest deleted)
    intercept[Exception] { SnapshotTable.read(spark, p, Some(1)).collect() }
  }

  test("copy-on-write delete rewrites only touched files; history keeps the deleted rows; no-match is a no-op") {
    val p = freshPath("delete")
    // 3 single-row files → deleting id=2 must rewrite exactly one file
    SnapshotTable.create(spark, p, df(1))
    SnapshotTable.append(spark, p, df(2))
    SnapshotTable.append(spark, p, df(3))
    val filesBefore = SnapshotTable.read(spark, p).inputFiles.toSet
    val v = SnapshotTable.delete(spark, p, col("id") === 2L)
    assert(v == 4)
    val filesAfter = SnapshotTable.read(spark, p).inputFiles.toSet
    assert((filesBefore & filesAfter).size == 2, "the two untouched files must carry over by reference")
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // the deleted row is still visible to time travel
    assert(SnapshotTable.read(spark, p, Some(3)).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // no-match delete: same version back, no commit
    assert(SnapshotTable.delete(spark, p, col("id") === 99L) == 4)
    assert(SnapshotTable.latestVersion(spark, p) == 4)
  }

  test("delete uses SQL semantics: NULL predicate keeps the row") {
    val p = freshPath("deletenull")
    SnapshotTable.create(spark, p, Seq[(Long, Option[Long])]((1L, Some(10L)), (2L, None), (3L, Some(30L))).toDF("id", "v"))
    SnapshotTable.delete(spark, p, col("v") > 20L) // NULL > 20 is NULL → keep id 2
    assert(SnapshotTable.read(spark, p).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("copy-on-write update rewrites only touched files and applies SET to matching rows only") {
    val p = freshPath("update")
    SnapshotTable.create(spark, p, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    SnapshotTable.append(spark, p, Seq((3L, 30L)).toDF("id", "v"))
    val before = SnapshotTable.read(spark, p).inputFiles.toSet
    val ver    = SnapshotTable.update(spark, p, col("id") === 3L, Map("v" -> (col("v") + 5L)))
    assert(ver == 3)
    val after = SnapshotTable.read(spark, p).inputFiles.toSet
    assert((before & after).size >= 1, "the untouched create-file must carry over")
    val rows = SnapshotTable.read(spark, p).orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L), (3L, 35L)))
    // history has the pre-update value; no-match update is a no-op
    assert(SnapshotTable.read(spark, p, Some(2)).filter(col("id") === 3L).head().getLong(1) == 30L)
    assert(SnapshotTable.update(spark, p, col("id") === 99L, Map("v" -> lit(0L))) == 3)
  }

  test("readStream over an append-only table drains every committed append") {
    val p = freshPath("stream")
    SnapshotTable.create(spark, p, df(1, 2))
    SnapshotTable.append(spark, p, df(3))
    SnapshotTable.append(spark, p, df(4, 5))
    val outDir = java.nio.file.Files.createTempDirectory("graft_snapstream_out").resolve("rows")
    val ckpt   = java.nio.file.Files.createTempDirectory("graft_snapstream_ck")
    val q = SnapshotTable
      .readStream(spark, p)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString)
      .format("parquet")
      .option("path", outDir.toString)
      .start()
    try q.awaitTermination()
    finally q.stop()
    val got = spark.read.parquet(outDir.toString).as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("changesBetween pulls exactly the appended rows; rewrite commits in range are refused") {
    val p = freshPath("changes")
    SnapshotTable.create(spark, p, df(1, 2))
    SnapshotTable.append(spark, p, df(3))
    SnapshotTable.append(spark, p, df(4, 5))
    assert(SnapshotTable.changesBetween(spark, p, 1, 3).as[Long].collect().sorted.toSeq == Seq(3L, 4L, 5L))
    assert(SnapshotTable.changesBetween(spark, p, 0, 1).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(SnapshotTable.changesBetween(spark, p, 2, 2).isEmpty)
    SnapshotTable.delete(spark, p, col("id") === 2L) // v4 is a rewrite
    intercept[IllegalArgumentException] {
      SnapshotTable.changesBetween(spark, p, 3, 4).collect()
    }
  }

  test("REAL concurrent appenders: 8 threads race, every append lands exactly once") {
    val p = freshPath("concurrent")
    SnapshotTable.create(spark, p, df(0))
    val versions = onThreads(8) { implicit ec =>
      val appends = (1 to 8).map(i => Future(SnapshotTable.append(spark, p, df(i.toLong))))
      Await.result(Future.sequence(appends), 120.seconds)
    }
    assert(versions.sorted == (2L to 9L), s"each commit must win a distinct version, got $versions")
    assert(SnapshotTable.latestVersion(spark, p) == 9L)
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == (0L to 8L))
  }

  test("FORCED rename collision: 8 barriered committers race ONE version, exactly one hard-link wins") {
    val p = freshPath("linkrace")
    SnapshotTable.create(spark, p, df(1))
    val v1Files = SnapshotTable.read(spark, p).inputFiles.map(f => "data/" + f.split("/data/").last).toSeq
    // a CyclicBarrier releases all threads together AFTER each passed
    // the staging phase — every thread reaches the link() attempt with
    // the destination still absent, so the winner is decided by the
    // atomic createLink itself, not by the earlier exists() fast-path
    val n       = 8
    val barrier = new java.util.concurrent.CyclicBarrier(n)
    val results = onThreads(n) { implicit ec =>
      val attempts = (1 to n).map { i =>
        Future {
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          SnapshotTable.tryCommit(spark, p, 2L, v1Files :+ s"marker-$i")
        }
      }
      Await.result(Future.sequence(attempts), 60.seconds)
    }
    assert(results.count(identity) == 1, s"exactly one committer may win, got $results")
    // the surviving manifest is the COMPLETE winner's list — no torn
    // writes, no mixing of losers' content
    val winner  = results.indexOf(true) + 1
    val fs      = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val in      = fs.open(new Path(s"$p/_log/v${"%012d".format(2L)}.txt"))
    val content = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(content.trim.split("\n").last == s"marker-$winner")
  }

  test("vacuum racing live appenders never deletes in-flight staged files (retention guard)") {
    val p = freshPath("vacrace")
    SnapshotTable.create(spark, p, df(0))
    @volatile var stop = false
    // a vacuum loop with a retention margin runs WHILE appenders commit:
    // staged-but-uncommitted files are younger than the margin, so the
    // racing vacuum must leave every commit intact
    // keepFrom=1 keeps every manifest readable for the racing appenders;
    // the files at risk are exactly the staged-but-uncommitted ones,
    // which only the minAge retention protects
    val versions = onThreads(7) { implicit ec =>
      val vac = Future {
        while (!stop) {
          SnapshotTable.vacuum(spark, p, keepFrom = 1L, minAgeMs = 60000L)
          Thread.sleep(5)
        }
      }
      val appends  = (1 to 6).map(i => Future(SnapshotTable.append(spark, p, df(i.toLong))))
      val versions = Await.result(Future.sequence(appends), 120.seconds)
      stop = true
      Await.result(vac, 30.seconds)
      versions
    }
    assert(versions.sorted == (2L to 7L))
    // every referenced file still exists: the full snapshot reads back
    assert(SnapshotTable.read(spark, p).as[Long].collect().sorted.toSeq == (0L to 6L))
    // and a zero-retention vacuum AFTER quiescence still reclaims
    SnapshotTable.overwrite(spark, p, df(99))
    val fs = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val before = graft.sources.FsListing.listDataFiles(fs, new Path(s"$p/data")).length
    SnapshotTable.vacuum(spark, p, keepFrom = SnapshotTable.latestVersion(spark, p))
    val after = graft.sources.FsListing.listDataFiles(fs, new Path(s"$p/data")).length
    assert(after < before, "quiescent zero-retention vacuum must reclaim dead files")
    assert(SnapshotTable.read(spark, p).as[Long].collect().toSeq == Seq(99L))
  }

  // ------------------------------------------------ commit-time file stats

  test("stats-pruned reads skip files yet stay value-identical, at latest AND through time travel") {
    val p = freshPath("stats")
    SnapshotTable.enableStats(spark, p, Seq("o_totalprice"))
    val orders = Tables.orders(spark, sfDir)
    def clustered(d: org.apache.spark.sql.DataFrame) =
      d.repartitionByRange(8, col("o_totalprice")).sortWithinPartitions("o_totalprice")
    SnapshotTable.create(spark, p, clustered(orders.filter(col("o_orderkey") % 2 === 0)))
    SnapshotTable.append(spark, p, clustered(orders.filter(col("o_orderkey") % 2 === 1)))
    for (v <- Seq(1L, 2L)) {
      val (surv, total) = SnapshotTable.pruneVersionFiles(spark, p, "o_totalprice", Some(100000.0), Some(150000.0), Some(v))
      assert(surv.length < total.toInt, s"v$v: stats must prune (${surv.length}/$total)")
      val pruned = SnapshotTable.prunedRead(spark, p, "o_totalprice", Some(100000.0), Some(150000.0), Some(v))
      val full = SnapshotTable.read(spark, p, Some(v)).filter(col("o_totalprice").between(100000.0, 150000.0))
      assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty, s"v$v: pruned != full")
    }
  }

  test("stats survive copy-on-write delete and compaction; pre-enablement files read conservatively") {
    val p = freshPath("statsmut")
    SnapshotTable.enableStats(spark, p, Seq("id"))
    SnapshotTable.create(spark, p, df(1L to 100L: _*).repartitionByRange(4, col("id")))
    // CoW delete rewrites touched files — their replacements get fresh stats
    SnapshotTable.delete(spark, p, col("id") <= 10L)
    val pruned = SnapshotTable.prunedRead(spark, p, "id", Some(50L), Some(60L))
    assert(pruned.as[Long].collect().sorted.toSeq == (50L to 60L))
    SnapshotTable.compact(spark, p, targetFiles = 2)
    val pruned2 = SnapshotTable.prunedRead(spark, p, "id", Some(50L), Some(60L))
    assert(pruned2.as[Long].collect().sorted.toSeq == (50L to 60L))
    // a table with NO stats enabled prunes nothing but reads correctly
    val p2 = freshPath("nostats")
    SnapshotTable.create(spark, p2, df(1L to 20L: _*))
    val (surv, total) = SnapshotTable.pruneVersionFiles(spark, p2, "id", Some(5L), Some(6L))
    assert(surv.length == total.toInt, "no stats -> conservative keep-all")
    assert(SnapshotTable.prunedRead(spark, p2, "id", Some(5L), Some(6L)).as[Long].collect().sorted.toSeq == Seq(5L, 6L))
  }

  test("compactStats folds sidecars to one dir; pruning answers byte-identical before and after") {
    val p = freshPath("statscpt")
    SnapshotTable.enableStats(spark, p, Seq("id"))
    SnapshotTable.create(spark, p, df(1L to 40L: _*).repartitionByRange(4, col("id")))
    SnapshotTable.append(spark, p, df(41L to 80L: _*).repartitionByRange(4, col("id")))
    SnapshotTable.append(spark, p, df(81L to 120L: _*).repartitionByRange(4, col("id")))
    val fs    = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val parts = new Path(s"$p/_stats/parts")
    assert(fs.listStatus(parts).length == 3)
    def probe(v: Option[Long]) = {
      val (surv, total) = SnapshotTable.pruneVersionFiles(spark, p, "id", Some(50L), Some(70L), v)
      (surv.toSet, total, SnapshotTable.prunedRead(spark, p, "id", Some(50L), Some(70L), v).as[Long].collect().sorted.toSeq)
    }
    val before  = (probe(None), probe(Some(1L)))
    SnapshotTable.compactStats(spark, p)
    assert(fs.listStatus(parts).length == 1, "sidecars must fold to one directory")
    assert((probe(None), probe(Some(1L))) == before, "compaction changed pruning answers")
    assert(before._1._1.size < before._1._2, "the probe must actually prune files")
    // idempotent: a second compaction of one dir is a no-op
    SnapshotTable.compactStats(spark, p)
    assert(fs.listStatus(parts).length == 1)
  }

  test("vacuum reclaims stats sidecars of dead commits; live pruning is untouched") {
    val p = freshPath("statsvac")
    SnapshotTable.enableStats(spark, p, Seq("id"))
    SnapshotTable.create(spark, p, df(1L to 50L: _*).repartitionByRange(4, col("id")))
    SnapshotTable.overwrite(spark, p, df(100L to 150L: _*).repartitionByRange(4, col("id")))
    val fs    = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val parts = new Path(s"$p/_stats/parts")
    assert(fs.listStatus(parts).length == 2, "both commits carry sidecars before vacuum")
    SnapshotTable.vacuum(spark, p, keepFrom = 2L)
    assert(fs.listStatus(parts).length == 1, "vacuum must reclaim the dead commit's sidecar")
    val pruned = SnapshotTable.prunedRead(spark, p, "id", Some(110L), Some(120L))
    assert(pruned.as[Long].collect().sorted.toSeq == (110L to 120L))
  }

  test("vacuum AFTER compactStats keeps the compacted sidecar: pruning still prunes") {
    val p = freshPath("statscptvac")
    SnapshotTable.enableStats(spark, p, Seq("id"))
    SnapshotTable.create(spark, p, df(1L to 40L: _*).repartitionByRange(4, col("id")))
    SnapshotTable.append(spark, p, df(41L to 80L: _*).repartitionByRange(4, col("id")))
    SnapshotTable.compactStats(spark, p)
    val fs    = new Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val parts = new Path(s"$p/_stats/parts")
    assert(fs.listStatus(parts).length == 1)
    // the regression: a vacuum that reclaims NOTHING must not delete
    // the compact-<id> sidecar that now holds ALL live stats
    SnapshotTable.vacuum(spark, p, keepFrom = 1L)
    assert(fs.listStatus(parts).length == 1, "vacuum deleted the compacted sidecar")
    val (surv, total) = SnapshotTable.pruneVersionFiles(spark, p, "id", Some(50L), Some(60L))
    assert(surv.length < total.toInt, "pruning degraded to full scan after vacuum")
    assert(
      SnapshotTable.prunedRead(spark, p, "id", Some(50L), Some(60L)).as[Long].collect().sorted.toSeq
        == (50L to 60L)
    )
    // and a vacuum that DOES reclaim (overwrite kills v1/v2 files) still
    // keeps the compacted sidecar while reclaiming the dead commit dirs
    SnapshotTable.overwrite(spark, p, df(200L to 240L: _*).repartitionByRange(4, col("id")))
    SnapshotTable.vacuum(spark, p, keepFrom = 3L)
    val (s2, t2) = SnapshotTable.pruneVersionFiles(spark, p, "id", Some(210L), Some(220L))
    assert(s2.length < t2.toInt, "post-reclaim pruning must use the new commit's sidecar")
    assert(
      SnapshotTable.prunedRead(spark, p, "id", Some(210L), Some(220L)).as[Long].collect().sorted.toSeq
        == (210L to 220L)
    )
  }

  test("changing the stats column set never wrongly prunes files whose sidecars predate the change") {
    val p = freshPath("statsevolve")
    SnapshotTable.enableStats(spark, p, Seq("a"))
    val d1 = Seq((1L, 100L), (2L, 200L)).toDF("a", "b")
    SnapshotTable.create(spark, p, d1.repartition(1))
    // switch the recorded column set: later sidecars carry min_b, the
    // v1 sidecar does not — its merged-schema NULL must read as
    // "unrecorded", not "all-NULL file"
    SnapshotTable.enableStats(spark, p, Seq("b"))
    SnapshotTable.append(spark, p, Seq((3L, 300L), (4L, 400L)).toDF("a", "b").repartition(1))
    val pruned = SnapshotTable.prunedRead(spark, p, "b", Some(150L), Some(350L))
    assert(
      pruned.select("a").as[Long].collect().sorted.toSeq == Seq(2L, 3L),
      "file without min_b stats must be kept conservatively"
    )
    // the mirror case on the ORIGINAL column: new sidecars lack min_a
    val prunedA = SnapshotTable.prunedRead(spark, p, "a", Some(2L), Some(3L))
    assert(prunedA.select("a").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    // a genuinely all-NULL recorded file IS still skipped
    val p2 = freshPath("statsnull")
    SnapshotTable.enableStats(spark, p2, Seq("v"))
    SnapshotTable.create(spark, p2, Seq[(Long, Option[Long])]((1L, None), (2L, None)).toDF("id", "v").repartition(1))
    SnapshotTable.append(spark, p2, Seq[(Long, Option[Long])]((3L, Some(30L))).toDF("id", "v").repartition(1))
    val (surv, total) = SnapshotTable.pruneVersionFiles(spark, p2, "v", Some(10L), Some(40L))
    assert(total == 2L && surv.length == 1, "the all-NULL file must be skipped, the matching file kept")
  }

  test("replaceWhere: one commit swaps the predicate slice, carries untouched files by reference, keeps history") {
    val p = freshPath("rw")
    // two files with disjoint id ranges so exactly one is touched
    val low  = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp").repartition(1)
    val high = Seq((10L, "c"), (11L, "c")).toDF("id", "grp").repartition(1)
    SnapshotTable.create(spark, p, low)
    SnapshotTable.append(spark, p, high)
    val filesBefore = SnapshotTable.read(spark, p).inputFiles.toSet
    val repl        = Seq((2L, "a2"), (4L, "a2")).toDF("id", "grp")
    val v           = SnapshotTable.replaceWhere(spark, p, col("id") < 10L, repl)
    assert(v == 3L)
    val after = SnapshotTable.read(spark, p).as[(Long, String)].collect().sorted.toSeq
    assert(after == Seq((2L, "a2"), (4L, "a2"), (10L, "c"), (11L, "c")), "slice swapped, rest intact")
    // the untouched high file must carry by reference, the low file must be gone
    val filesAfter = SnapshotTable.read(spark, p).inputFiles.toSet
    assert((filesBefore & filesAfter).nonEmpty, "untouched file must carry by reference")
    assert((filesBefore -- filesAfter).nonEmpty, "touched file must be rewritten")
    // history: v2 still shows the pre-replace slice
    assert(SnapshotTable.read(spark, p, Some(2L)).filter(col("id") < 10L).count() == 3L)
    // idempotence: re-running the same backfill leaves content identical
    SnapshotTable.replaceWhere(spark, p, col("id") < 10L, repl)
    assert(SnapshotTable.read(spark, p).as[(Long, String)].collect().sorted.toSeq == after)
  }

  test("replaceWhere refusals: out-of-scope rows (incl. NULL predicate), schema drift, DV tables") {
    val p = freshPath("rwref")
    SnapshotTable.create(spark, p, Seq((1L, "a"), (20L, "c")).toDF("id", "grp"))
    val v0 = SnapshotTable.latestVersion(spark, p)
    // a row outside the predicate scope is refused before any commit
    val leak = intercept[IllegalArgumentException] {
      SnapshotTable.replaceWhere(spark, p, col("id") < 10L, Seq((2L, "a"), (15L, "x")).toDF("id", "grp"))
    }
    assert(leak.getMessage.contains("do not satisfy"))
    // NULL predicate counts as outside (it would duplicate on re-run)
    intercept[IllegalArgumentException] {
      SnapshotTable.replaceWhere(
        spark,
        p,
        col("id") < 10L,
        Seq[(Option[Long], String)]((None, "a")).toDF("id", "grp")
      )
    }
    // schema drift refused
    intercept[IllegalArgumentException] {
      SnapshotTable.replaceWhere(spark, p, col("id") < 10L, Seq((2L, "a", 1L)).toDF("id", "grp", "extra"))
    }
    assert(SnapshotTable.latestVersion(spark, p) == v0, "no refused call may commit a version")
    // DV tables are refused like the rest of the copy-on-write family
    SnapshotTable.deleteMor(spark, p, col("id") === 20L)
    val dv = intercept[IllegalArgumentException] {
      SnapshotTable.replaceWhere(spark, p, col("id") < 10L, Seq((2L, "a")).toDF("id", "grp"))
    }
    assert(dv.getMessage.contains("deletion vectors"))
  }

  test("compactZOrder: both dimensions prune after OPTIMIZE ZORDER; lexicographic clustering only gives the first") {
    import org.apache.spark.sql.functions.expr
    // a full 32x32 grid scaled to spread the bits the interleave uses
    def grid = spark.range(1024).select(
      col("id"),
      ((col("id") / 32L).cast("long") * 8L).as("a"),
      ((col("id") % 32L) * 8L).as("b")
    )
    val pz = freshPath("zorder")
    SnapshotTable.enableStats(spark, pz, Seq("a", "b"))
    SnapshotTable.create(spark, pz, grid.repartition(8))
    val before = SnapshotTable.read(spark, pz).collect().map(_.toString).sorted.toSeq
    SnapshotTable.compactZOrder(spark, pz, Seq("a", "b"), targetFiles = 16)
    // content and history intact, schema unchanged (no z column leaks)
    assert(SnapshotTable.read(spark, pz).collect().map(_.toString).sorted.toSeq == before)
    assert(SnapshotTable.read(spark, pz).columns.toSeq == Seq("id", "a", "b"))
    assert(SnapshotTable.read(spark, pz, Some(1L)).count() == 1024L)
    val (sa, ta) = SnapshotTable.pruneVersionFiles(spark, pz, "a", Some(0L), Some(56L))
    val (sb, tb) = SnapshotTable.pruneVersionFiles(spark, pz, "b", Some(0L), Some(56L))
    assert(sa.length < ta.toInt && sb.length < tb.toInt, s"both dims must prune: a ${sa.length}/$ta b ${sb.length}/$tb")
    // pruned rectangle read equals the exact filter
    val rect = SnapshotTable
      .prunedRead(spark, pz, "a", Some(0L), Some(56L))
      .filter(col("b").between(0L, 56L))
      .count()
    assert(rect == 64L, s"8x8 corner of the 32x32 grid, got $rect")
    // contrast: range-clustering by a leaves b unprunable on the same layout
    val pc = freshPath("lexi")
    SnapshotTable.enableStats(spark, pc, Seq("a", "b"))
    SnapshotTable.create(spark, pc, grid.repartition(8))
    SnapshotTable.compactClustered(spark, pc, Seq("a"), targetFiles = 16)
    val (_, taL)  = SnapshotTable.pruneVersionFiles(spark, pc, "a", Some(0L), Some(56L))
    val (sbL, _)  = SnapshotTable.pruneVersionFiles(spark, pc, "b", Some(0L), Some(56L))
    assert(sbL.length == taL.toInt, "every a-clustered file spans the full b range - nothing prunes on b")
    // refusal: z-order needs >= 2 dimensions
    intercept[IllegalArgumentException](SnapshotTable.compactZOrder(spark, pz, Seq("a")))
    // refusal: non-integral cluster column (would silently truncate)
    val pf = freshPath("zfloat")
    SnapshotTable.create(spark, pf, spark.range(4).select(col("id"), (col("id") * 1.5).as("f")))
    val fe = intercept[IllegalArgumentException](SnapshotTable.compactZOrder(spark, pf, Seq("id", "f")))
    assert(fe.getMessage.contains("integer columns only"))
    // refusal: missing column named clearly
    intercept[IllegalArgumentException](SnapshotTable.compactZOrder(spark, pf, Seq("id", "nope")))
    // refusal: empty table is a loud require, not an NPE
    val pe = freshPath("zempty")
    SnapshotTable.create(spark, pe, spark.range(1).filter(col("id") < 0L).select(col("id"), col("id").as("j")))
    val ee = intercept[IllegalArgumentException](SnapshotTable.compactZOrder(spark, pe, Seq("id", "j")))
    assert(ee.getMessage.contains("empty table"))
  }

  test("diffVersions: multiset content diff between versions; physical rewrites diff empty; refusals loud") {
    val p = freshPath("diffv")
    // v1 carries a genuine duplicate row — diff must be MULTISET-exact
    SnapshotTable.create(spark, p, Seq((1L, "a"), (2L, "b"), (2L, "b"), (3L, "c")).toDF("id", "grp"))
    SnapshotTable.delete(spark, p, col("id") === 1L)                              // v2
    SnapshotTable.append(spark, p, Seq((2L, "b"), (4L, "d")).toDF("id", "grp"))   // v3
    val d = SnapshotTable
      .diffVersions(spark, p, 1L, 3L)
      .collect()
      .map(r => (r.getString(2), r.getLong(0), r.getString(1)))
      .sorted
      .toSeq
    // (2,b) went 2 -> 3 copies: exactly ONE insert; (1,a) deleted; (4,d) inserted
    assert(d == Seq(("delete", 1L, "a"), ("insert", 2L, "b"), ("insert", 4L, "d")), s"got $d")
    // reverse direction swaps the ops
    val rev = SnapshotTable.diffVersions(spark, p, 3L, 1L).groupBy("op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rev == Map("insert" -> 1L, "delete" -> 2L), s"got $rev")
    // compaction is a physical rewrite: content diff must be EMPTY
    SnapshotTable.compact(spark, p)                                               // v4
    assert(SnapshotTable.diffVersions(spark, p, 3L, 4L).isEmpty)
    // refusals: same version; schema-evolved pair
    intercept[IllegalArgumentException](SnapshotTable.diffVersions(spark, p, 2L, 2L))
    SnapshotTable.append(spark, p, Seq((5L, "e", 9L)).toDF("id", "grp", "extra")) // v5 widens
    val se = intercept[IllegalArgumentException](SnapshotTable.diffVersions(spark, p, 1L, 5L))
    assert(se.getMessage.contains("schema"))
  }

  test("fastCount: metadata-only count matches scans across appends, MOR deletes, and time travel; refusals loud") {
    val p = freshPath("fastcount")
    SnapshotTable.enableStats(spark, p, Seq("id"))
    SnapshotTable.create(spark, p, df(1, 2, 3).repartition(2))
    SnapshotTable.append(spark, p, df(4, 5))
    assert(SnapshotTable.fastCount(spark, p) == 5L)
    assert(SnapshotTable.fastCount(spark, p, Some(1L)) == 3L)
    // merge-on-read delete: tombstones subtract without touching files
    SnapshotTable.deleteMor(spark, p, col("id") % 2 === 0)
    assert(SnapshotTable.fastCount(spark, p) == SnapshotTable.read(spark, p).count())
    assert(SnapshotTable.fastCount(spark, p) == 3L)
    // pre-MOR version still answers from the same immutable sidecars
    assert(SnapshotTable.fastCount(spark, p, Some(2L)) == 5L)
    // a table without sidecars refuses rather than silently scanning
    val p2 = freshPath("fastcount_nostats")
    SnapshotTable.create(spark, p2, df(1, 2))
    val e = intercept[IllegalArgumentException](SnapshotTable.fastCount(spark, p2))
    assert(e.getMessage.contains("sidecars") || e.getMessage.contains("enableStats"))
  }

  test("registered time-travel query matches a direct recompute") {
    val got = SparkEntry.queries("timetravel_read")(spark, sfDir).collect().toSeq
    val docs = Tables.documents(spark, sfDir)
    val want = (1L to 3L).map { v =>
      val slice = docs.filter(col("doc_id") % 3 < v)
      (v, slice.count(), slice.agg(sum("doc_id")).head().getLong(0))
    }
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) == want)
  }

  test("REAL append-vs-OPTIMIZE race: compaction lands or CAS-fails loudly, appends are never dropped") {
    // the lost-update shape this pins: a compaction is a DERIVED
    // rewrite — it reads version B, rewrites, and commits. If an
    // append lands B+1 while the compactor is staging, committing the
    // rewrite on top would replace the latest contents with the
    // pre-append snapshot and the appended rows would vanish without
    // any failure anywhere. compact()/compactClustered()/
    // compactZOrder() therefore pin their read version and CAS-commit
    // against it (expectedBase) — the loser must throw, never win
    // silently. Real threads, barrier-released, several rounds: the
    // compaction window (read + checkpoint + stage) is long enough
    // that most rounds genuinely interleave.
    val p = freshPath("appendvsoptimize")
    SnapshotTable.create(spark, p, df(0L))
    val rounds    = 6
    var casLosses = 0
    onThreads(2) { implicit ec =>
      (1 to rounds).foreach { r =>
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val ids     = (1L to 3L).map(i => 1000L * r + i)
        val appender = Future {
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          ids.foreach(id => SnapshotTable.append(spark, p, df(id)))
        }
        val optimizer = Future {
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          try Right(
            if (r % 2 == 0) SnapshotTable.compactClustered(spark, p, Seq("id"), targetFiles = 2)
            else SnapshotTable.compact(spark, p, targetFiles = 2)
          )
          catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("advanced from version") || e.getMessage.contains("lost a race") =>
              Left(e) // the loud CAS refusal — the only acceptable loss mode
          }
        }
        Await.result(appender, 120.seconds)
        if (Await.result(optimizer, 120.seconds).isLeft) casLosses += 1
        val got = SnapshotTable.read(spark, p).as[Long].collect().toSet
        ids.foreach(id => assert(got.contains(id), s"round $r: append $id silently dropped by the racing compaction"))
      }
    }
    val fin = SnapshotTable.read(spark, p).as[Long].collect().toSet
    (1 to rounds).foreach { r =>
      (1L to 3L).foreach(i => assert(fin.contains(1000L * r + i), s"round-$r append lost by a LATER compaction"))
    }
    info(s"compaction CAS losses over $rounds raced rounds: $casLosses")
  }
}
