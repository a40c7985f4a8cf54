package graft

import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** CHECK constraints on graft-log tables: declaration validates
  * existing data, every writer path is enforced at the staging
  * boundary, rejection is atomic (no version, no staged files, table
  * bytes unchanged), and NULL follows SQL CHECK semantics.
  */
class ConstraintsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def mk(tag: String, rows: Seq[(Long, Double, String)]): String = {
    val p = scratchPath(tag)
    SnapshotTable.create(spark, p, rows.toDF("id", "price", "status"))
    p
  }

  test("setConstraints validates existing rows and refuses a violated declaration") {
    val p = mk("declare", Seq((1L, 10.0, "O"), (2L, -5.0, "F")))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.setConstraints(spark, p, Seq("price_pos" -> "price >= 0"))
    }
    assert(e.getMessage.contains("price_pos"))
    assert(SnapshotTable.tableConstraints(spark, p).isEmpty, "failed declaration must leave the table unconstrained")
    // a declaration the data satisfies sticks
    SnapshotTable.setConstraints(spark, p, Seq("price_gt_neg10" -> "price >= -10"))
    assert(SnapshotTable.tableConstraints(spark, p) == Seq("price_gt_neg10" -> "price >= -10"))
  }

  test("violating append is rejected atomically: no version, unchanged reads, staged dir removed") {
    val p = mk("append", Seq((1L, 10.0, "O")))
    SnapshotTable.setConstraints(
      spark,
      p,
      Seq("price_pos" -> "price >= 0", "status_ok" -> "status IN ('O','F','P')")
    )
    val v0 = SnapshotTable.latestVersion(spark, p)
    val e = intercept[IllegalStateException] {
      SnapshotTable.append(spark, p, Seq((2L, 20.0, "X"), (3L, -1.0, "O")).toDF("id", "price", "status"))
    }
    assert(e.getMessage.contains("price_pos") && e.getMessage.contains("status_ok"))
    assert(SnapshotTable.latestVersion(spark, p) == v0)
    assert(SnapshotTable.read(spark, p).count() == 1L)
    // rejection cleans its staging: exactly the data dirs the manifest references remain
    val f = new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sessionState.newHadoopConf())
    val dataDirs = f.listStatus(new org.apache.hadoop.fs.Path(s"$p/data")).map(_.getPath.getName).toSet
    assert(dataDirs.size == 1, s"orphan staged dirs left behind: $dataDirs")
    // a clean append still lands
    assert(SnapshotTable.append(spark, p, Seq((4L, 5.0, "P")).toDF("id", "price", "status")) == v0 + 1)
  }

  test("NULL predicate result passes (SQL CHECK); an explicit IS NOT NULL forbids nulls") {
    val p = scratchPath("nulls")
    SnapshotTable.create(spark, p, Seq((1L, Some(1.0)), (2L, None)).toDF("id", "price"))
    // price > 0 is NULL for row 2 → passes
    SnapshotTable.setConstraints(spark, p, Seq("price_pos" -> "price > 0"))
    SnapshotTable.append(spark, p, Seq((3L, None: Option[Double])).toDF("id", "price"))
    // strengthen: now nulls are violations — existing nulls refuse the declaration
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.setConstraints(spark, p, Seq("price_nn" -> "price IS NOT NULL AND price > 0"))
    }
    assert(e.getMessage.contains("price_nn"))
  }

  test("merge-on-read UPDATE is constrained too: a SET that breaks the invariant is rejected") {
    val p = mk("mor", Seq((1L, 10.0, "O"), (2L, 20.0, "F")))
    SnapshotTable.setConstraints(spark, p, Seq("price_pos" -> "price >= 0"))
    val v0 = SnapshotTable.latestVersion(spark, p)
    intercept[IllegalStateException] {
      SnapshotTable.updateMor(spark, p, col("id") === 1L, Map("price" -> lit(-99.0)))
    }
    assert(SnapshotTable.latestVersion(spark, p) == v0)
    assert(
      SnapshotTable.read(spark, p).orderBy("id").select("price").as[Double].collect().toSeq == Seq(10.0, 20.0)
    )
    // a lawful update still lands
    SnapshotTable.updateMor(spark, p, col("id") === 1L, Map("price" -> lit(11.0)))
    assert(SnapshotTable.read(spark, p).filter(col("id") === 1L).select("price").as[Double].head() == 11.0)
  }

  test("dropConstraints lifts enforcement") {
    val p = mk("drop", Seq((1L, 1.0, "O")))
    SnapshotTable.setConstraints(spark, p, Seq("price_pos" -> "price >= 0"))
    SnapshotTable.dropConstraints(spark, p)
    SnapshotTable.append(spark, p, Seq((2L, -1.0, "O")).toDF("id", "price", "status"))
    assert(SnapshotTable.read(spark, p).count() == 2L)
  }
}
