package graft

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** [[SparkEntry.staged]], the one memo behind every standing fixture of
  * the registry: once per (key, data dir), clear-then-build into a
  * directory under [[GraftPaths.root]], and a key recorded only after
  * its build returns.
  */
class StagedSpec extends SparkSpec {

  // fixture keys are JVM-global: a fresh key per test keeps these runs
  // independent of each other and of the registry's own fixtures
  private def freshKey(): String = s"staged_spec_${UUID.randomUUID()}"

  test("a build runs once per (key, dir); a second dir builds again") {
    spark // staged clears its directory through the active session's Hadoop conf
    val key    = freshKey()
    val builds = new AtomicInteger(0)
    SparkEntry.staged(key, "/data/a")(_ => builds.incrementAndGet())
    SparkEntry.staged(key, "/data/a")(_ => builds.incrementAndGet())
    assert(builds.get == 1)
    SparkEntry.staged(key, "/data/b")(_ => builds.incrementAndGet())
    SparkEntry.staged(key, "/data/b")(_ => builds.incrementAndGet())
    SparkEntry.staged(key, "/data/a")(_ => builds.incrementAndGet())
    assert(builds.get == 2)
  }

  test("a build that throws stays unstaged; the next call clears the paths and rebuilds") {
    spark
    val key = freshKey()
    val out = Paths.get(GraftPaths.keyed(key, "/data/a"))
    def writeMarker(p: Path, name: String): Unit = {
      Files.createDirectories(p)
      Files.writeString(p.resolve(name), name)
    }
    writeMarker(out, "stale")
    val err = intercept[IllegalStateException] {
      SparkEntry.staged(key, "/data/a") { dir =>
        assert(!Files.exists(out), "stale paths survived the clear")
        writeMarker(Paths.get(dir), "partial")
        throw new IllegalStateException("build failed half way")
      }
    }
    assert(err.getMessage == "build failed half way")
    assert(Files.exists(out.resolve("partial")))
    val builds = new AtomicInteger(0)
    SparkEntry.staged(key, "/data/a") { dir =>
      assert(!Files.exists(out), "the failed build's partial output survived the clear")
      writeMarker(Paths.get(dir), "done")
      builds.incrementAndGet()
    }
    assert(builds.get == 1)
    // staged now: no clear, no rebuild
    SparkEntry.staged(key, "/data/a")(_ => builds.incrementAndGet())
    assert(builds.get == 1)
    assert(Files.exists(out.resolve("done")))
  }

  test("a build may stage another fixture without deadlocking") {
    spark
    val outer = freshKey()
    val inner = freshKey()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val run = Future {
      SparkEntry.staged(outer, "/data/a") { _ =>
        SparkEntry.staged(inner, "/data/a")(_ => order.add("inner"))
        order.add("outer")
      }
      // the nested fixture is staged on its own key
      SparkEntry.staged(inner, "/data/a")(_ => order.add("inner again"))
    }
    Await.result(run, 30.seconds)
    assert(order.toArray.toSeq == Seq("inner", "outer"))
  }

  test("engine state resolves under GraftPaths.root: fixture dirs, oracle dumps, warehouse") {
    spark
    val key   = freshKey()
    val stale = Paths.get(GraftPaths.keyed(key, "/data/a"), "stale")
    Files.createDirectories(stale.getParent)
    Files.writeString(stale, "stale")
    val built = SparkEntry.staged(key, "/data/a") { dir =>
      assert(dir.startsWith(GraftPaths.root + "/"), s"$dir is outside ${GraftPaths.root}")
      val p = Paths.get(dir)
      assert(!Files.exists(p) || Files.list(p).findAny().isEmpty, s"$dir is not empty when the build starts")
    }
    assert(built == GraftPaths.keyed(key, "/data/a"))
    // every path the DuckDB oracle reads is a dump under the root
    val quoted = SparkEntry.oracleSql.values.flatMap("'(/[^']*)'".r.findAllMatchIn(_).map(_.group(1))).toSeq
    assert(quoted.nonEmpty)
    quoted.foreach(p => assert(p.startsWith(GraftPaths.root + "/"), s"oracle SQL reads $p"))
    val warehouse = GraftSession.requiredConfs.toMap.apply("spark.sql.warehouse.dir")
    assert(warehouse.startsWith(GraftPaths.root + "/"))
  }
}
