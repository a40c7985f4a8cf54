package graft

import org.apache.spark.sql.SparkSession

import graft.plans.SmallSortInOnePartition

/** Session factory with the engine's standard configuration.
  *
  * Scale stance (SURVEY.md §7, BASELINE.json north star): AQE on for
  * runtime re-planning (skew joins, partition coalescing), shuffle
  * partitions sized for the local harness (a real cluster overrides via
  * spark-submit), nanos-as-long so the `events` table (parquet
  * TIMESTAMP(NANOS)) is readable — the engine normalizes it to a proper
  * timestamp column in [[Tables.events]].
  */
object GraftSession {

  /** Confs every entry point (Verify, Bench, tests) must share. */
  val requiredConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // parquet pushdown/pruning are on by default; pinned here as a
    // statement of intent (the 100 TB design depends on them).
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // runtime bloom-filter pushdown for selective joins (AQE-era)
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // managed tables (bucketed-join surface) live under the state root
    "spark.sql.warehouse.dir" -> s"${GraftPaths.root}/warehouse"
  )

  /** Local cores of the mains (Verify, Bench, PlanDump, Cli):
    * `SPARK_GRAFT_CPUS`, 4 by default — the one place it is read.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .withExtensions(_.injectRuntimeOptimizerRule(SmallSortInOnePartition(_)))
    requiredConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  def local(cores: Int): SparkSession = {
    val spark = builder(s"local[$cores]", math.max(cores, 8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(spark)
    spark
  }

  /** Apply graft confs + custom function registration to an existing
    * session (used by Verify/Bench whose builder the driver owns).
    *
    * The engine's planner rules cannot be added to a running session:
    * a session built elsewhere than [[builder]] gets
    * [[graft.plans.SmallSortInOnePartition]] only when it is built with
    * `spark.sql.extensions=graft.plans.GraftExtensions`.
    */
  def prepare(spark: SparkSession): SparkSession = {
    requiredConfs.foreach { case (k, v) =>
      try spark.conf.set(k, v)
      catch { case _: Throwable => () } // static confs (nanosAsLong) must be set at build time
    }
    GraftFunctions.register(spark)
    spark
  }
}
