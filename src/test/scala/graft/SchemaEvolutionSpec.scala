package graft

import org.apache.spark.sql.functions._
import graft.sources.{GraftDb, SnapshotTable}

/** Schema-in-log for graft-log tables: versioned schemas from the
  * manifest (zero footer inference), widening appends, refusal of
  * corrupting changes, schema time travel.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("widening append: new column NULL on old rows; time travel below the widening gets the narrow schema back") {
    val p = scratchPath("widen")
    SnapshotTable.create(spark, p, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    SnapshotTable.append(spark, p, Seq((3L, "c", 30L)).toDF("id", "tag", "score"))
    val latest = SnapshotTable.read(spark, p)
    assert(latest.columns.toSet == Set("id", "tag", "score"))
    val byId = latest.select("id", "score").as[(Long, Option[Long])].collect().toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some(30L)))
    // the snapshot's schema is a property of the VERSION
    assert(SnapshotTable.read(spark, p, Some(1L)).columns.toSet == Set("id", "tag"))
  }

  test("type changes, drops, and updateMor SET of a new column are refused loudly") {
    val p = scratchPath("refuse")
    SnapshotTable.create(spark, p, Seq((1L, "a")).toDF("id", "tag"))
    val tc = intercept[IllegalArgumentException](
      SnapshotTable.append(spark, p, Seq(("1", "b")).toDF("id", "tag"))
    )
    assert(tc.getMessage.contains("cannot change 'id'"), tc.getMessage)
    val dr = intercept[IllegalArgumentException](
      SnapshotTable.append(spark, p, Seq(2L).toDF("id"))
    )
    assert(dr.getMessage.contains("cannot DROP column 'tag'"), dr.getMessage)
    val um = intercept[IllegalArgumentException](
      SnapshotTable.updateMor(spark, p, col("id") === 1L, Map("brand_new" -> lit(1L)))
    )
    assert(um.getMessage.contains("not in the table"), um.getMessage)
  }

  test("restore below a widening re-asserts the narrow schema; clone carries the source schema") {
    val p = scratchPath("restore")
    SnapshotTable.create(spark, p, Seq((1L, "a")).toDF("id", "tag"))                 // v1
    SnapshotTable.append(spark, p, Seq((2L, "b", 5L)).toDF("id", "tag", "score"))    // v2 widened
    SnapshotTable.restore(spark, p, 1L)                                              // v3 = v1
    assert(SnapshotTable.read(spark, p).columns.toSet == Set("id", "tag"))
    val c = scratchPath("clone")
    SnapshotTable.shallowClone(spark, p, c, versionAsOf = Some(2L))
    assert(SnapshotTable.read(spark, c).columns.toSet == Set("id", "tag", "score"))
    assert(SnapshotTable.schemaAsOf(spark, c, 1L).isDefined, "clone must carry the source schema in its own log")
  }

  test("change feed and mutation scans stay consistent across a widening") {
    val p = scratchPath("feed")
    SnapshotTable.create(spark, p, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))      // v1
    SnapshotTable.append(spark, p, Seq((3L, "c", 30L)).toDF("id", "tag", "score"))   // v2
    // predicate on the NEW column against a table whose v1 files lack
    // it — the recorded schema makes old rows NULL (kept by SQL
    // delete semantics), not an analysis error
    SnapshotTable.deleteMor(spark, p, col("score") > 10L)                            // v3
    assert(SnapshotTable.read(spark, p).select("id").as[Long].collect().toSet == Set(1L, 2L))
    val feed = SnapshotTable
      .rowChangesBetween(spark, p, 0L, 3L)
      .select($"id", $"score", $"_change_type")
      .as[(Long, Option[Long], String)]
      .collect()
      .toSet
    assert(
      feed == Set(
        (1L, None, "insert"),
        (2L, None, "insert"),
        (3L, Some(30L), "insert"),
        (3L, Some(30L), "delete")
      ),
      s"got $feed"
    )
  }

  test("GraftDb transactions gate and stamp schemas on branch-base commits") {
    val db = scratchPath("db")
    GraftDb.create(spark, db, Map("t" -> Seq((1L, "a")).toDF("id", "tag")))
    GraftDb.transaction(spark, db)(tx => tx.append("t", Seq((2L, "b", 7L)).toDF("id", "tag", "score")))
    assert(GraftDb.read(spark, db, "t").columns.toSet == Set("id", "tag", "score"))
    val e = intercept[IllegalArgumentException] {
      GraftDb.transaction(spark, db)(tx => tx.append("t", Seq(("x", "y")).toDF("id", "tag")))
    }
    assert(e.getMessage.contains("cannot change 'id'"))
  }
}
