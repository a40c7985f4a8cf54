package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Cdc

/** CDC apply operators: MERGE semantics and SCD2 history maintenance. */
class CdcSpec extends SparkSpec {
  private val root = scratchPath("cdc_spec")

  import SparkSpec.spark.implicits._

  private def target =
    Seq((1L, "a", "s1"), (2L, "b", "s1"), (3L, "c", "s2"), (4L, "d", "s2"))
      .toDF("id", "text", "source")

  private def changes =
    Seq(
      (2L, "b2", "s1", false), // update
      (3L, "c", "s2", true),   // delete
      (9L, "z", "s3", false)   // insert
    ).toDF("id", "text", "source", "__delete")

  test("mergeUpsert applies update/delete/insert; untouched rows survive") {
    val out = Cdc.mergeUpsert(target, changes, "id").orderBy("id").collect().toSeq
    assert(
      out == Seq(
        Row(1L, "a", "s1"),
        Row(2L, "b2", "s1"),
        Row(4L, "d", "s2"),
        Row(9L, "z", "s3")
      )
    )
  }

  test("mergeUpsert is idempotent: re-applying the same batch changes nothing") {
    val once  = Cdc.mergeUpsert(target, changes, "id")
    val twice = Cdc.mergeUpsert(once, changes, "id")
    assert(twice.orderBy("id").collect().toSeq == once.orderBy("id").collect().toSeq)
  }

  test("mergeUpsert with seqCol: highest sequence wins, deletes beat same-seq upserts") {
    val multi = Seq(
      (2L, "old", "s1", false, 1L),
      (2L, "new", "s1", false, 5L), // latest for id 2
      (4L, "resurrect", "s2", false, 3L),
      (4L, "kill", "s2", true, 3L) // same seq: delete wins
    ).toDF("id", "text", "source", "__delete", "seq")
    val out = Cdc.mergeUpsert(target, multi, "id", seqCol = Some("seq")).orderBy("id").collect().toSeq
    assert(out == Seq(Row(1L, "a", "s1"), Row(2L, "new", "s1"), Row(3L, "c", "s2")))
  }

  test("mergeUpsert plans a key equi-join, never a cartesian") {
    val plan = Cdc.mergeUpsert(target, changes, "id").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  // ---- SCD2 ----

  private val d1 = lit("2024-01-01")
  private val d2 = lit("2024-02-01")
  private val d3 = lit("2024-03-01")

  private def history = {
    val snap = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L)).toDF("id", "lang", "n")
    Cdc.scd2Init(snap, "id", Seq("lang", "n"), d1)
  }

  test("scd2Apply: changed row closes + reopens, no-op row is ignored, new id opens") {
    val b = Seq(
      (1L, "en", 99L), // changed n
      (2L, "de", 20L), // no-op
      (7L, "it", 70L)  // new id
    ).toDF("id", "lang", "n")
    val h   = Cdc.scd2Apply(history, b, "id", Seq("lang", "n"), d2)
    val out = h.orderBy("id", "valid_from").collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2), String.valueOf(r.get(3)), String.valueOf(r.get(4))))
    assert(
      out == Seq(
        (1L, "en", 10L, "2024-01-01", "2024-02-01"),
        (1L, "en", 99L, "2024-02-01", "null"),
        (2L, "de", 20L, "2024-01-01", "null"),
        (3L, "fr", 30L, "2024-01-01", "null"),
        (7L, "it", 70L, "2024-02-01", "null")
      )
    )
  }

  test("scd2 invariants on real data: one open version per id, contiguous non-overlapping intervals") {
    val h = SparkEntry.queries("scd2_history")(spark, sfDir).cache()
    try {
      val perId = h.groupBy("doc_id").agg(
        sum(when(col("valid_to").isNull, 1).otherwise(0)).as("open"),
        count(lit(1)).as("versions")
      )
      assert(perId.filter(col("open") =!= 1).isEmpty, "every id must have exactly one open version")
      // contiguity: each version's valid_to equals the next version's valid_from
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("valid_from")
      val gaps = h
        .withColumn("next_from", lead("valid_from", 1).over(w))
        .filter(col("next_from").isNotNull && !(col("valid_to") <=> col("next_from")))
      assert(gaps.isEmpty, "intervals must be contiguous")
      // at least one id has >1 version (the change batches did something)
      assert(perId.filter(col("versions") > 1).count() > 0)
    } finally h.unpersist()
  }

  test("scd2AsOf reconstructs the covering-version snapshot at any instant") {
    val b = Seq((1L, "en", 99L), (7L, "it", 70L)).toDF("id", "lang", "n")
    val h = Cdc.scd2Apply(history, b, "id", Seq("lang", "n"), d2)
    // before the batch: initial snapshot only
    val at1 = Cdc.scd2AsOf(h, lit("2024-01-15")).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(at1.toSeq == Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L)))
    // after the batch: updated id 1, new id 7
    val at2 = Cdc.scd2AsOf(h, lit("2024-02-15")).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(at2.toSeq == Seq((1L, "en", 99L), (2L, "de", 20L), (3L, "fr", 30L), (7L, "it", 70L)))
    // exactly at the effective instant: the NEW version covers (valid_from inclusive)
    val atEff = Cdc.scd2AsOf(h, d2).filter(col("id") === 1L).head()
    assert(atEff.getLong(2) == 99L)
    // before the table existed: empty
    assert(Cdc.scd2AsOf(h, lit("2023-12-31")).isEmpty)
  }

  test("scd2 sequential apply equals one-shot derivation from the observation union") {
    val docs = Tables.documents(spark, sfDir)
    val obs = docs
      .select(col("doc_id"), col("lang"), col("n_chars"), to_date(d1).as("eff"))
      .unionByName(
        docs.filter(col("doc_id") % 4 === 0).select(col("doc_id"), upper(col("lang")).as("lang"), col("n_chars"), to_date(d2).as("eff"))
      )
      .unionByName(
        docs.filter(col("doc_id") % 4 === 1).select(col("doc_id"), col("lang"), col("n_chars"), to_date(d2).as("eff"))
      )
      .unionByName(
        docs
          .filter(col("doc_id") % 6 === 0)
          .select(col("doc_id"), upper(col("lang")).as("lang"), (col("n_chars") + 10L).as("n_chars"), to_date(d3).as("eff"))
      )
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("eff")
    val derived = obs
      .withColumn("pl", lag("lang", 1).over(w))
      .withColumn("pn", lag("n_chars", 1).over(w))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 || !(col("lang") <=> col("pl")) || !(col("n_chars") <=> col("pn")))
      .withColumn("valid_to", lead("eff", 1).over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("eff")))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("eff").as("valid_from"), col("valid_to"))
    val applied = SparkEntry.queries("scd2_history")(spark, sfDir)
    assert(applied.exceptAll(derived).isEmpty && derived.exceptAll(applied).isEmpty)
  }

  test("scd2ApplyBatch == per-date scd2Apply folds: multi-date, null attrs, no-ops, new ids, untouched ids") {
    val hist = Cdc.scd2Init(
      Seq((1L, Some("en"), 10L), (2L, None, 20L), (5L, Some("de"), 50L)).toDF("id", "lang", "n"),
      "id",
      Seq("lang", "n"),
      lit("2024-01-01")
    )
    // three effective dates, out of order in the batch; includes a
    // NULL-attr transition, a pure no-op row, a brand-new id with two
    // versions, and an untouched id (5)
    val batch = Seq(
      (1L, Some("fr"), 10L, "2024-03-01"),
      (1L, Some("en"), 10L, "2024-02-01"), // no-op vs seed
      (2L, Some("es"), 20L, "2024-02-01"), // NULL -> es
      (2L, None, 20L, "2024-03-01"),       // es -> NULL
      (7L, Some("it"), 70L, "2024-02-01"), // new id opens
      (7L, Some("it"), 71L, "2024-04-01")  // new id changes again
    ).toDF("id", "lang", "n", "eff")
    val got = Cdc.scd2ApplyBatch(hist, batch, "id", Seq("lang", "n"), "eff")
    var want = hist
    Seq("2024-02-01", "2024-03-01", "2024-04-01").foreach { d =>
      val slice = batch.filter(col("eff") === d).drop("eff")
      want = Cdc.scd2Apply(want, slice, "id", Seq("lang", "n"), lit(d))
    }
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, "windowed batch apply must equal the date loop")
    // invariants hold directly too: one open version per id, contiguity
    val open = got.filter(col("valid_to").isNull).groupBy("id").count().filter(col("count") =!= 1)
    assert(open.isEmpty)
  }

  test("a multi-date SCD2 backfill batch commits exactly ONE new table version") {
    import graft.sources.SnapshotTable
    val table = s"$root/backfill"
    val fs    = new org.apache.hadoop.fs.Path(table).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(table), true)
    SnapshotTable.create(
      spark,
      table,
      Cdc.scd2Init(Seq((1L, "en"), (2L, "de")).toDF("id", "lang"), "id", Seq("lang"), lit("2024-01-01"))
    )
    val backfill = Seq(
      (1L, "es", "2024-02-01"),
      (1L, "fr", "2024-03-01"),
      (1L, "pt", "2024-04-01"),
      (2L, "nl", "2024-02-15")
    ).toDF("id", "lang", "eff")
    val v = graft.streaming.ChangeFeed.applyScd2Batch(spark, table, backfill, "id", Seq("lang"), "eff")
    assert(v == 2L, s"a 4-date backfill must land as one version, got v$v")
    assert(SnapshotTable.latestVersion(spark, table) == 2L)
    val h = SnapshotTable.read(spark, table)
    assert(h.filter(col("id") === 1L).count() == 4L) // en, es, fr, pt
    assert(
      Cdc.scd2AsOf(h, lit("2024-03-10")).orderBy("id").collect().map(_.getString(1)).toSeq == Seq("fr", "nl")
    )
  }

  // ------------------------------------------------- schema evolution

  test("mergeUpsertEvolving: new batch column appears NULL on survivors, populated on upserts, idempotent") {
    import SparkSpec.spark.implicits._
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val batch = Seq(
      (2L, "b2", Some("r2"), false), // update carrying the new column
      (3L, "c", None, true),         // delete
      (4L, "d", Some("new"), false)  // insert
    ).toDF("id", "v", "rev", "__delete")
    val merged = Cdc.mergeUpsertEvolving(target, batch, "id")
    val got    = merged.collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got == Set((1L, "a", None), (2L, "b2", Some("r2")), (4L, "d", Some("new"))))
    assert(merged.columns.toSeq == Seq("id", "v", "rev"), "evolved schema = target columns + new columns")
    // idempotent: applying the same batch to the evolved snapshot changes nothing
    val again = Cdc.mergeUpsertEvolving(merged, batch.withColumnRenamed("v", "v"), "id")
    assert(again.exceptAll(merged).isEmpty && merged.exceptAll(again).isEmpty)
  }

  test("mergeUpsertEvolving rejects a batch missing a target column (additive-only, loud)") {
    import SparkSpec.spark.implicits._
    val target = Seq((1L, "a", 5L)).toDF("id", "v", "n")
    val bad    = Seq((1L, "a2", false)).toDF("id", "v", "__delete") // drops column n
    val e      = intercept[IllegalArgumentException](Cdc.mergeUpsertEvolving(target, bad, "id"))
    assert(e.getMessage.contains("additive-only") && e.getMessage.contains("n"))
  }

  test("mergeUpsertEvolving without new columns == mergeUpsert exactly") {
    val docs   = Tables.documents(spark, sfDir)
    val target = docs.select("doc_id", "text", "source")
    val changes = docs
      .filter(col("doc_id") % 7 === 1)
      .select(col("doc_id"), col("text"), col("source"), lit(false).as("__delete"))
    val a = Cdc.mergeUpsert(target, changes, "doc_id")
    val b = Cdc.mergeUpsertEvolving(target, changes, "doc_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("scd2FactJoin: boundary dates pick the right version, pre-creation/unknown keys drop, fan-out is one") {
    import SparkSpec.spark.implicits._
    // key 1: v1 [2020-01-01, 2021-01-01) val=A, v2 [2021-01-01, ∞) val=B
    val hist = Seq(
      (1L, "A", "2020-01-01", "2021-01-01"),
      (1L, "B", "2021-01-01", null),
      (2L, "X", "2020-06-01", null)
    ).toDF("k", "v", "valid_from", "valid_to")
      .select(col("k"), col("v"), col("valid_from").cast("date"), col("valid_to").cast("date"))
    val facts = Seq(
      (10L, 1L, "2020-12-31"), // last day of v1
      (11L, 1L, "2021-01-01"), // first day of v2 (boundary: valid_to exclusive, valid_from inclusive)
      (12L, 1L, "2019-05-05"), // before creation → dropped
      (13L, 9L, "2021-05-05"), // unknown key → dropped
      (14L, 2L, "2022-01-01")
    ).toDF("fid", "k", "d").select(col("fid"), col("k"), col("d").cast("date"))
    val got = graft.operators.Cdc
      .scd2FactJoin(facts, hist, "k", "d")
      .select("fid", "v")
      .as[(Long, String)]
      .collect()
      .toSet
    assert(got == Set((10L, "A"), (11L, "B"), (14L, "X")), s"got $got")
    // fan-out exactly one: every joined fid appears once
    assert(got.toSeq.map(_._1).distinct.size == got.size)
  }

  test("registered scd2_fact_join covers every order exactly once (history opens before the first order date)") {
    val reg   = SparkEntry.queries("scd2_fact_join")(spark, sfDir)
    val total = reg.agg(sum("n_orders")).head().getLong(0)
    assert(total == Tables.orders(spark, sfDir).count(), "inner temporal join must cover all orders, each once")
    // restated segments only exist for %4=0 customers' post-1995 orders
    assert(reg.filter(col("c_mktsegment").endsWith("-95")).count() > 0, "the 1995 era must be exercised")
  }
}
