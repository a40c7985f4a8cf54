package graft

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** [[SparkEntry.staged]], the one memo behind every standing fixture of
  * the registry: once per (key, data dir), clear-then-build, and a key
  * recorded only after its build returns.
  */
class StagedSpec extends SparkSpec {

  // fixture keys are JVM-global: a fresh key per test keeps these runs
  // independent of each other and of the registry's own fixtures
  private def freshKey(): String = s"staged_spec_${UUID.randomUUID()}"

  test("a build runs once per (key, dir); a second dir builds again") {
    val key    = freshKey()
    val builds = new AtomicInteger(0)
    SparkEntry.staged(key, "/data/a")(builds.incrementAndGet())
    SparkEntry.staged(key, "/data/a")(builds.incrementAndGet())
    assert(builds.get == 1)
    SparkEntry.staged(key, "/data/b")(builds.incrementAndGet())
    SparkEntry.staged(key, "/data/b")(builds.incrementAndGet())
    SparkEntry.staged(key, "/data/a")(builds.incrementAndGet())
    assert(builds.get == 2)
  }

  test("a build that throws stays unstaged; the next call clears the paths and rebuilds") {
    spark // staged clears paths through the active session's Hadoop conf
    val key   = freshKey()
    val root  = Files.createTempDirectory("graft_staged_spec")
    val out   = root.resolve("out")
    val other = root.resolve("other")
    def writeMarker(p: Path, name: String): Unit = {
      Files.createDirectories(p)
      Files.writeString(p.resolve(name), name)
    }
    writeMarker(out, "stale")
    writeMarker(other, "stale")
    val err = intercept[IllegalStateException] {
      SparkEntry.staged(key, "/data/a", out.toString, other.toString) {
        assert(!Files.exists(out) && !Files.exists(other), "stale paths survived the clear")
        writeMarker(out, "partial")
        throw new IllegalStateException("build failed half way")
      }
    }
    assert(err.getMessage == "build failed half way")
    assert(Files.exists(out.resolve("partial")))
    val builds = new AtomicInteger(0)
    SparkEntry.staged(key, "/data/a", out.toString, other.toString) {
      assert(!Files.exists(out), "the failed build's partial output survived the clear")
      writeMarker(out, "done")
      builds.incrementAndGet()
    }
    assert(builds.get == 1)
    // staged now: no clear, no rebuild
    SparkEntry.staged(key, "/data/a", out.toString, other.toString)(builds.incrementAndGet())
    assert(builds.get == 1)
    assert(Files.exists(out.resolve("done")))
  }

  test("a build may stage another fixture without deadlocking") {
    val outer = freshKey()
    val inner = freshKey()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val run = Future {
      SparkEntry.staged(outer, "/data/a") {
        SparkEntry.staged(inner, "/data/a")(order.add("inner"))
        order.add("outer")
      }
      // the nested fixture is staged on its own key
      SparkEntry.staged(inner, "/data/a")(order.add("inner again"))
    }
    Await.result(run, 30.seconds)
    assert(order.toArray.toSeq == Seq("inner", "outer"))
  }
}
