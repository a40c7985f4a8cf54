package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** Bin-packing OPTIMIZE: only small files are rewritten, large files
  * carry by reference, content and history survive, DV tables refuse.
  */
class CompactSmallSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def dataFiles(p: String): Seq[(String, Long)] = {
    val f = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.FsListing
      .listDataFiles(f, new org.apache.hadoop.fs.Path(s"$p/data"))
      .map(st => (st.getPath.toString, st.getLen))
  }

  test("small files pack; the large file is carried by reference, untouched") {
    val p = scratchPath("pack")
    // one large commit (many rows), then several tiny commits
    SnapshotTable.create(spark, p, (1L to 200000L).toDF("id").repartition(1))
    (1 to 4).foreach(i => SnapshotTable.append(spark, p, Seq(1000000L + i).toDF("id")))
    val before      = dataFiles(p)
    val largeBefore = before.filter(_._2 >= 100000L).map(_._1).toSet
    assert(largeBefore.size == 1 && before.size == 5)
    val preCount = SnapshotTable.read(spark, p).count()
    val v        = SnapshotTable.compactSmall(spark, p, minBytes = 100000L)
    // content identical, history intact
    assert(SnapshotTable.read(spark, p).count() == preCount)
    assert(SnapshotTable.read(spark, p, Some(v - 1)).count() == preCount)
    // manifest now references the untouched large file + one packed file
    def rawPath(u: String): String = new java.net.URI(u).getPath match {
      case null => u
      case path => path
    }
    val live       = SnapshotTable.read(spark, p).inputFiles.map(rawPath).toSet
    val largePaths = largeBefore.map(rawPath)
    assert(largePaths.subsetOf(live), s"large file must carry by reference: $largePaths not in $live")
    assert(live.size == 2, s"expected large + 1 packed file, got ${live.size}")
  }

  test("fewer than two small files is a no-op: no new version") {
    val p = scratchPath("noop")
    SnapshotTable.create(spark, p, (1L to 100000L).toDF("id").repartition(1))
    val v0 = SnapshotTable.latestVersion(spark, p)
    assert(SnapshotTable.compactSmall(spark, p, minBytes = 1000L) == v0)
    assert(SnapshotTable.latestVersion(spark, p) == v0)
  }

  test("a DV-carrying table is refused") {
    val p = scratchPath("dv")
    SnapshotTable.create(spark, p, (1L to 10L).toDF("id"))
    SnapshotTable.append(spark, p, (11L to 20L).toDF("id"))
    SnapshotTable.deleteMor(spark, p, col("id") % 5 === 0)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.compactSmall(spark, p, minBytes = 1L << 30)
    }
    assert(e.getMessage.contains("deletion vectors"))
  }
}
