package graft

import org.apache.spark.sql.functions._
import graft.sources.{GraftDb, SnapshotTable}

/** Multi-table ACID transactions: atomic cross-table visibility,
  * snapshot-isolated branch-base writes, abort hygiene, first-
  * committer-wins conflicts — including under real racing threads.
  */
class GraftDbSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def rows(ids: Long*) = ids.map(i => (i, s"r$i")).toDF("id", "payload")

  private def idsOf(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  test("transaction publishes atomically: mid-flight snapshots see neither write, the commit flips both in one CAS") {
    val db = scratchPath("atomic")
    GraftDb.create(spark, db, Map("a" -> rows(1L, 2L, 3L), "b" -> rows(10L)))
    val v1Cut = GraftDb.snapshot(spark, db)
    GraftDb.transaction(spark, db) { tx =>
      tx.append("b", tx.read("a").filter($"id" === 3L))
      tx.deleteWhere("a", col("id") === 3L)
      // the database is the isolation boundary: BOTH member writes are
      // already durably committed in the member logs here, yet the db
      // snapshot still serves the old cut of BOTH
      assert(GraftDb.snapshot(spark, db) == v1Cut)
      assert(idsOf(GraftDb.read(spark, db, "a")) == Set(1L, 2L, 3L))
      assert(idsOf(GraftDb.read(spark, db, "b")) == Set(10L))
    }
    assert(idsOf(GraftDb.read(spark, db, "a")) == Set(1L, 2L))
    assert(idsOf(GraftDb.read(spark, db, "b")) == Set(10L, 3L))
  }

  test("abort leaves no trace through the db, and later transactions never build on debris versions") {
    val db = scratchPath("abort")
    GraftDb.create(spark, db, Map("a" -> rows(1L, 2L), "b" -> rows(10L)))
    val boom = intercept[RuntimeException] {
      GraftDb.transaction(spark, db) { tx =>
        tx.append("b", rows(99L))
        tx.deleteWhere("a", col("id") === 1L)
        sys.error("crash before the database CAS")
      }
    }
    assert(boom.getMessage.contains("crash"))
    assert(idsOf(GraftDb.read(spark, db, "a")) == Set(1L, 2L))
    assert(idsOf(GraftDb.read(spark, db, "b")) == Set(10L))
    // debris versions DO exist in the member log (documented dirty-read
    // caveat) …
    assert(SnapshotTable.latestVersion(spark, s"$db/tables/b") > GraftDb.snapshot(spark, db)("b"))
    // … but a subsequent transaction branches from the CUT, so the
    // aborted rows never enter any published lineage
    GraftDb.transaction(spark, db)(tx => tx.append("b", rows(11L)))
    assert(idsOf(GraftDb.read(spark, db, "b")) == Set(10L, 11L))
  }

  test("write-write conflict: first committer wins, loser aborts with WriteConflict; disjoint write sets both commit") {
    val db = scratchPath("conflict")
    GraftDb.create(spark, db, Map("a" -> rows(1L), "b" -> rows(2L), "c" -> rows(3L)))
    val e = intercept[GraftDb.WriteConflict] {
      GraftDb.transaction(spark, db) { tx =>
        tx.append("a", rows(100L))
        // another transaction lands on 'a' first
        GraftDb.transaction(spark, db)(inner => inner.append("a", rows(200L)))
      }
    }
    assert(e.getMessage.contains("first committer wins"))
    assert(idsOf(GraftDb.read(spark, db, "a")) == Set(1L, 200L), "only the first committer's append survives")
    // disjoint write sets: the outer retry folds the inner winner in
    GraftDb.transaction(spark, db) { tx =>
      tx.append("b", rows(101L))
      GraftDb.transaction(spark, db)(inner => inner.append("c", rows(300L)))
    }
    assert(idsOf(GraftDb.read(spark, db, "b")) == Set(2L, 101L))
    assert(idsOf(GraftDb.read(spark, db, "c")) == Set(3L, 300L))
  }

  test("branch: zero-copy database fork at a cut; branch and source diverge independently") {
    val db = scratchPath("src")
    val br = scratchPath("branch")
    GraftDb.create(spark, db, Map("a" -> rows(1L, 2L), "b" -> rows(10L)))
    GraftDb.transaction(spark, db)(tx => tx.append("a", rows(3L)))
    GraftDb.branch(spark, db, br, versionAsOf = Some(2L))
    assert(idsOf(GraftDb.read(spark, br, "a")) == Set(1L, 2L, 3L))
    // no data copied: the branch members' data dirs are empty
    val f = new org.apache.hadoop.fs.Path(br).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$br/tables/a/data")))
    GraftDb.transaction(spark, br)(tx => tx.deleteWhere("a", col("id") === 1L))
    GraftDb.transaction(spark, db)(tx => tx.append("b", rows(11L)))
    assert(idsOf(GraftDb.read(spark, br, "a")) == Set(2L, 3L), "branch mutation stays on the branch")
    assert(idsOf(GraftDb.read(spark, db, "a")) == Set(1L, 2L, 3L), "source untouched by branch mutation")
    assert(idsOf(GraftDb.read(spark, br, "b")) == Set(10L), "source mutation invisible to the branch")
  }

  test("vacuumDb reclaims aborted-transaction debris and pre-retention history; published cuts stay readable") {
    val db = scratchPath("vac")
    GraftDb.create(spark, db, Map("a" -> rows(1L), "b" -> rows(10L)))        // db v1
    GraftDb.transaction(spark, db)(tx => tx.append("a", rows(2L)))           // db v2
    intercept[RuntimeException] {
      GraftDb.transaction(spark, db) { tx =>
        tx.append("a", rows(99L)) // debris member version
        sys.error("abort")
      }
    }
    val aPath  = s"$db/tables/a"
    val debris = SnapshotTable.latestVersion(spark, aPath)
    assert(debris > GraftDb.snapshot(spark, db)("a"))
    val f = new org.apache.hadoop.fs.Path(db).getFileSystem(spark.sessionState.newHadoopConf())
    // a generous minAge keeps the fresh debris (the in-flight guard) …
    GraftDb.vacuumDb(spark, db, keepFromDb = 1L, minAgeMs = 60L * 60 * 1000)
    assert(SnapshotTable.latestVersion(spark, aPath) == debris)
    // … and immediate reclaim drops it: manifest gone, its staged files gone
    GraftDb.vacuumDb(spark, db, keepFromDb = 1L)
    assert(SnapshotTable.latestVersion(spark, aPath) == GraftDb.snapshot(spark, db)("a"))
    (1L to 2L).foreach { v =>
      assert(idsOf(GraftDb.read(spark, db, "a", Some(v))) == (if (v == 1L) Set(1L) else Set(1L, 2L)))
    }
    assert(idsOf(GraftDb.read(spark, db, "a")) == Set(1L, 2L), "published state intact after vacuum")
    // retention: dropping db v1 reclaims the cut and the member version only IT referenced
    GraftDb.vacuumDb(spark, db, keepFromDb = 2L)
    intercept[Exception](GraftDb.read(spark, db, "a", Some(1L)))
    assert(idsOf(GraftDb.read(spark, db, "a")) == Set(1L, 2L))
  }

  test("vacuumDb racing LIVE readers: every snapshot >= the retention point resolves; debris reclaim never touches a referenced version") {
    val db = scratchPath("vacreaders")
    GraftDb.create(spark, db, Map("t" -> rows(1L)))                           // db v1
    val expected = scala.collection.mutable.Map(1L -> Set(1L))
    (2L to 8L).foreach { v =>
      GraftDb.transaction(spark, db)(tx => tx.append("t", rows(v)))           // db v
      expected(v) = expected(v - 1) + v
      // interleave debris: one aborted transaction per committed one
      intercept[RuntimeException] {
        GraftDb.transaction(spark, db) { tx => tx.append("t", rows(900L + v)); sys.error("abort") }
      }
    }
    val tPath = s"$db/tables/t"
    assert(SnapshotTable.latestVersion(spark, tPath) > GraftDb.snapshot(spark, db)("t"), "debris must exist")
    val keepFrom = 4L
    val stop     = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool     = java.util.concurrent.Executors.newFixedThreadPool(4)
    (1 to 4).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val rnd = new scala.util.Random(i)
            while (!stop.get()) {
              // readers resolve snapshots across the SURVIVING window
              // while the vacuum below is actively deleting debris —
              // a wrongly reclaimed manifest or data file surfaces as
              // a read error or a wrong id set here
              val v   = keepFrom + rnd.nextInt((8L - keepFrom).toInt + 1)
              val got = idsOf(GraftDb.read(spark, db, "t", Some(v)))
              if (got != expected(v))
                failures.add(new AssertionError(s"db v$v read $got, want ${expected(v)}"))
            }
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    (1 to 5).foreach { _ =>
      GraftDb.vacuumDb(spark, db, keepFromDb = keepFrom)
      Thread.sleep(50)
    }
    stop.set(true)
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty, s"reader failed during vacuum: ${failures.peek()}")
    // every debris member version reclaimed: log head == published head
    assert(SnapshotTable.latestVersion(spark, tPath) == GraftDb.snapshot(spark, db)("t"))
    // below the retention point fails loudly; at and above, exact
    intercept[Exception](GraftDb.read(spark, db, "t", Some(keepFrom - 1)))
    (keepFrom to 8L).foreach(v => assert(idsOf(GraftDb.read(spark, db, "t", Some(v))) == expected(v)))
  }

  test("vacuumDb minAge guard: an OPEN transaction's member commits survive a concurrent vacuum that reclaims aged debris") {
    val db = scratchPath("vacinflight")
    GraftDb.create(spark, db, Map("t" -> rows(1L)))                           // db v1
    GraftDb.transaction(spark, db)(tx => tx.append("t", rows(2L)))            // db v2
    val tPath = s"$db/tables/t"
    // aged debris: an aborted transaction's member version, mtime
    // pushed past any reasonable horizon
    intercept[RuntimeException] {
      GraftDb.transaction(spark, db) { tx => tx.append("t", rows(99L)); sys.error("abort") }
    }
    val debrisV    = SnapshotTable.latestVersion(spark, tPath)
    val f          = new org.apache.hadoop.fs.Path(db).getFileSystem(spark.sessionState.newHadoopConf())
    def manifest(v: Long) = new org.apache.hadoop.fs.Path(s"$tPath/_log/v${"%012d".format(v)}.txt")
    val past = System.currentTimeMillis() - 24L * 60 * 60 * 1000
    f.setTimes(manifest(debrisV), past, past)
    // open a transaction: member version committed, db CAS pending
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val boom    = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val worker = new Thread(() =>
      try GraftDb.transaction(spark, db) { tx =>
        tx.append("t", rows(3L))
        entered.countDown()
        release.await()
      }
      catch { case t: Throwable => boom.set(t); entered.countDown() }
    )
    worker.start()
    entered.await()
    assert(boom.get() == null, s"open transaction failed early: ${boom.get()}")
    // production horizon: aged debris is reclaimed, the FRESH pending
    // member version of the open transaction is protected
    GraftDb.vacuumDb(spark, db, keepFromDb = 1L, minAgeMs = 10L * 60 * 1000)
    assert(!f.exists(manifest(debrisV)), "aged debris manifest must be reclaimed")
    release.countDown()
    worker.join(120000)
    assert(!worker.isAlive, "open transaction must complete after vacuum")
    assert(boom.get() == null, s"open transaction failed: ${boom.get()}")
    assert(idsOf(GraftDb.read(spark, db, "t")) == Set(1L, 2L, 3L), "the pending write published intact")
  }

  test("racing transfer transactions conserve the cross-table invariant at EVERY published snapshot") {
    val db = scratchPath("race")
    GraftDb.create(spark, db, Map("a" -> rows(1L to 16L: _*), "b" -> rows(101L to 104L: _*)))
    val totalIds = (1L to 16L).sum + (101L to 104L).sum
    val pool     = java.util.concurrent.Executors.newFixedThreadPool(8)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // 8 racing transfers, each moving ONE distinct id a→b with
    // app-level retry on conflict — genuine thread concurrency, the
    // discipline that found the rename-replace commit bug
    (1L to 8L).foreach { id =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            var done = 0
            while (done == 0)
              try {
                GraftDb.transaction(spark, db) { tx =>
                  tx.append("b", tx.read("a").filter($"id" === id))
                  tx.deleteWhere("a", col("id") === id)
                }
                done = 1
              } catch { case _: GraftDb.WriteConflict => () }
          } catch { case t: Throwable => failures.add(t) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty, s"racing transactions failed: ${failures.peek()}")
    val latest = SnapshotTable.latestVersion(spark, db)
    assert(latest == 9L, s"8 committed transfers after create must publish exactly 9 db versions, got $latest")
    (1L to latest).foreach { v =>
      val mass = Seq("a", "b")
        .map(t => GraftDb.read(spark, db, t, Some(v)).agg(sum($"id")).as[Long].head())
        .sum
      assert(mass == totalIds, s"id mass not conserved at db version $v")
    }
    assert(idsOf(GraftDb.read(spark, db, "a")) == (9L to 16L).toSet)
    assert(idsOf(GraftDb.read(spark, db, "b")) == ((101L to 104L) ++ (1L to 8L)).toSet)
  }
}
