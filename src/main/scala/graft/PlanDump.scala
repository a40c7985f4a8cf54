package graft

import java.nio.file.{Files, Paths}

/** Runs NAMED queries and dumps each one's `explain(formatted)` — the
  * final adaptive plan and the initial one — to per-query files: the
  * before/after plan evidence for optimization rounds.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query>[,<query>...]
  * writes <outDir>/<query>_<suffix>.txt for each name. Session shape
  * matches the bench convention (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus) so the dumped plans are the ones the bench runs.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>[,<query>...] [sfDir]")
    System.setProperty("graft.oracle.dump", "off")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names  = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir  = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus   = GraftSession.cpus
    val spark  = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(spark)
    Files.createDirectories(outDir)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          val plan =
            try {
              val df = fn(spark, sfDir)
              // run it, so the dump shows AQE's final plan beside the initial one
              df.collect()
              df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
            } catch { case e: Throwable => s"(failed: ${e.getMessage})" }
          Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
          println(s"[plandump] wrote ${outDir.resolve(s"${name}_$suffix.txt")}")
      }
    }
    spark.stop()
  }
}
