package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // Tests execute registry queries too; without this a test JVM
    // re-executing an ANN query OVERWRITES the fixed-path frozen-model
    // dumps a pending Verify→DuckDB compare reads (observed: a test
    // run clobbered the sf1 gate's dumps mid-compare and the sim_*
    // oracles went red against sf0.001 models). Tests never read the
    // dumps — suppress them, the same way Bench does.
    System.setProperty("graft.oracle.dump", "off")
    val s = GraftSession.builder("local[8]", 8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(s)
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String       = SparkSpec.sfDir

  /** The number of jobs `body` starts.
    *
    * Counted by a live SparkListener, not by statusTracker deltas: the
    * status store evicts old jobs under a long shared-session suite
    * (spark.ui.retainedJobs), which drives a before/after delta
    * negative (observed: baseline -99 in a full-suite run).
    */
  def jobsDuring(body: => Unit): Int = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are posted asynchronously; drain the bus so
      // jobs started inside `body` are counted before we detach
      org.apache.spark.GraftBenchShims.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    counter.get()
  }

  /** A path nothing has written yet: `tag` inside a new temp directory. */
  def scratchPath(tag: String): String =
    Files.createTempDirectory(s"graft_${tag}_").resolve(tag).toString
}
