package graft

import graft.operators.TextJobs

/** The reference's user surface, re-expressed: `client <dir> wc|ii`
  * (reference main.go:76-77 — CLI triple of input directory and job
  * name) becomes `graft.Cli <dir> wc|ii <outDir>`. Output is the
  * reference's `key: value` text format, sorted by key (row order is
  * non-contractual in the reference, SURVEY §2.3.4).
  */
object Cli {
  def main(args: Array[String]): Unit = {
    if (args.length != 3 || !Set("wc", "ii").contains(args(1))) {
      System.err.println("usage: graft.Cli <inputDir> wc|ii <outDir>")
      sys.exit(2)
    }
    val Array(inDir, job, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus)
    try {
      job match {
        case "wc" =>
          TextJobs.sinkText(TextJobs.wordCountDir(spark, inDir), "word", "cnt", outDir)
        case "ii" =>
          val ii = TextJobs
            .invertedIndexDir(spark, inDir)
            .selectExpr("word", "concat(n_files, ' ', files) AS entry")
          TextJobs.sinkText(ii, "word", "entry", outDir)
      }
      println(s"[graft] $job on $inDir -> $outDir")
    } finally spark.stop()
  }
}
