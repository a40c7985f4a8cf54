package graft

import org.apache.spark.sql.functions._

import graft.operators.Quality

/** Data-quality rules engine: planted violations and the real report. */
class QualitySpec extends SparkSpec {
  private val root = scratchPath("driftgate_spec")

  import SparkSpec.spark.implicits._

  test("rowRules: one pass, exact violation counts incl. NULL semantics per rule") {
    val df = Seq(
      (Some(1L), Some(5.0), Some("A")),
      (None, Some(-2.0), Some("B")),     // null key, negative, bad value
      (Some(3L), None, None),            // null measure (violates range), null value (violates accepted)
      (Some(4L), Some(100.0), Some("A")) // 100 out of [0,10]
    ).toDF("k", "m", "v")
    val report = Quality
      .rowRules(df, "t", Seq(Quality.notNull("k"), Quality.inRange("m", 0.0, 10.0), Quality.acceptedValues("v", Seq("A"))))
      .collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(report("not_null(k)") == ((4L, 1L)))
    assert(report("in_range(m)") == ((4L, 3L)), "NULL, negative and 100 all violate the range")
    assert(report("accepted_values(v)") == ((4L, 2L)))
    // all row rules fold into ONE aggregate over the table — a single scan
    val plan = Quality
      .rowRules(df, "t", Seq(Quality.notNull("k"), Quality.inRange("m", 0.0, 10.0)))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"row rules must not join per rule:\n$plan")
  }

  test("uniqueKey and referentialIntegrity count planted duplicates and orphans (null child key = orphan)") {
    val dup = Seq((1L, "a"), (1L, "b"), (2L, "c"), (2L, "d"), (2L, "e"), (3L, "f")).toDF("id", "x")
    val u   = Quality.uniqueKey(dup, "t", Seq("id")).collect().head
    assert((u.getLong(2), u.getLong(3)) == ((6L, 3L)), "1 extra for id=1 + 2 extra for id=2")

    val parent = Seq(1L, 2L).toDF("pid")
    val child  = Seq(Some(1L), Some(1L), Some(9L), None).toDF("fk")
    val r = Quality
      .referentialIntegrity(child.withColumnRenamed("fk", "fk"), "c", "fk", parent, "pid")
      .collect()
      .head
    assert((r.getLong(2), r.getLong(3)) == ((4L, 2L)), "unknown parent and NULL key are both orphans")
  }

  test("streaming gate routes rows exactly as the batch tagger; accepted + quarantine partition the stream") {
    val base = java.nio.file.Files.createTempDirectory("q_gate").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    docs.write.parquet(s"$base/in")
    val rules = Seq(Quality.inRange("n_chars", 64.0, 512.0), Quality.acceptedValues("lang", Seq("en", "de", "fr")))
    val q = Quality.streamGate(
      spark.readStream.schema(docs.schema).parquet(s"$base/in"),
      rules,
      s"$base/accept",
      s"$base/quarantine",
      s"$base/ckpt"
    )
    q.awaitTermination()
    val accepted   = spark.read.parquet(s"$base/accept")
    val quarantine = spark.read.parquet(s"$base/quarantine")
    val wantBad    = Quality.tagViolations(docs, rules).filter(size(col("failed_rules")) > 0)
    assert(accepted.count() + quarantine.count() == docs.count(), "gate must partition the stream")
    assert(quarantine.count() == wantBad.count() && quarantine.count() > 0)
    // per-row failed-rule lists match the batch evaluation exactly
    val got  = quarantine.select(col("doc_id"), col("failed_rules")).collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val want = wantBad.select(col("doc_id"), col("failed_rules")).collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got == want)
    val acceptedIds = accepted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(acceptedIds.intersect(want.keySet).isEmpty, "no violating row may be accepted")
  }

  test("masked view: row policy filters first, every mask rule behaves at its edges") {
    import SparkSpec.spark.implicits._
    val t = Seq(
      (1L, "Customer#001", "BUILDING", 1234.56, 7),
      (2L, "ab", "MACHINERY", -250.01, 7), // name shorter than keepLast
      (3L, null.asInstanceOf[String], "BUILDING", 0.0, 9), // NULL through hash/partial
      (4L, "Customer#004", "FURNITURE", 999.99, 7) // filtered by policy
    ).toDF("id", "name", "seg", "bal", "nat")
    val v = Quality
      .maskedView(
        t,
        masks = Seq(
          Quality.PartialMask("name", keepLast = 3),
          Quality.HashMask("nat"),
          Quality.BucketMask("bal", width = 1000L),
          Quality.RedactMask("seg")
        ),
        rowPolicy = Some(col("seg").isin("BUILDING", "MACHINERY"))
      )
      .orderBy("id")
      .collect()
    assert(v.length == 3, "row policy must drop the FURNITURE row")
    val r1 = v(0)
    assert(r1.getString(1) == "*********001")
    assert(r1.getString(2) == "[REDACTED]")
    assert(r1.getLong(3) == 1000L)
    // equal source values pseudonymize to equal tokens (joinability)
    assert(r1.getString(4).length == 64 && r1.getString(4) == v(1).getString(4))
    val r2 = v(1)
    assert(r2.getString(1) == "ab", "short strings pass through PartialMask unchanged")
    assert(r2.getLong(3) == -1000L, "bucket floors toward -inf")
    val r3 = v(2)
    assert(r3.getString(1) == null && r3.getString(4) != null)
  }

  test("star-schema report: clean rules zero, strict document rules report real violations") {
    val rows = Quality
      .starSchemaReport(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3))
      .toMap
    assert(rows(("orders", "not_null(o_orderkey)")) == 0L)
    assert(rows(("orders", "unique(o_orderkey)")) == 0L)
    assert(rows(("lineitem", "ref_integrity(l_orderkey)")) == 0L)
    assert(rows(("documents", "in_range(n_chars)")) > 0L, "strict band must catch real rows")
    assert(rows(("documents", "accepted_values(lang)")) > 0L, "es/zh docs must be flagged")
  }

  test("driftGatedIngest: poisoned slice quarantines WHOLE, clean slices land versioned, all-clean admits all") {
    import SparkSpec.spark.implicits._
    def freshBase(tag: String): String = s"$root/$tag"
    val ref = (1L to 400L).map(i => (i, s"l${i % 4}", s"s${i % 10}")).toDF("id", "lang", "src")
    val clean  = (401L to 500L).map(i => (i, s"l${i % 4}", s"s${i % 10}")).toDF("id", "lang", "src")
    val poison = (501L to 600L)
      .map(i => (i, if (i % 3 == 0) null else s"l${i % 4}", s"s${i % 10}"))
      .toDF("id", "lang", "src")
    val b1 = freshBase("mixed")
    val (adm, quar) = graft.operators.Quality
      .driftGatedIngest(spark, ref, Seq(clean, poison), Seq("lang", "src"), s"$b1/t", s"$b1/q")
    assert(adm == 1L && quar == 1L)
    assert(graft.sources.SnapshotTable.read(spark, s"$b1/t").count() == 100L, "only the clean slice lands")
    assert(spark.read.parquet(s"$b1/q").count() == 100L, "the poisoned slice quarantines whole")
    // all-clean run admits everything across versions
    val b2 = freshBase("clean")
    val (a2, q2) = graft.operators.Quality
      .driftGatedIngest(spark, ref, Seq(clean, clean.withColumn("id", col("id") + 1000L)), Seq("lang", "src"), s"$b2/t", s"$b2/q")
    assert(a2 == 2L && q2 == 0L)
    assert(graft.sources.SnapshotTable.latestVersion(spark, s"$b2/t") == 2L, "each admitted slice is one version")
    // registered query: decision columns pinned, accepted set == %4 != 2
    val reg = SparkEntry.queries("drift_gated_ingest")(spark, sfDir).collect()
    assert(reg.forall(r => r.getLong(3) == 3L && r.getLong(4) == 1L))
    val total = reg.map(_.getLong(1)).sum
    assert(total == Tables.documents(spark, sfDir)
      .filter((col("doc_id") * 2654435761L) % 1000000007L % 4L =!= 2).count())
  }

  test("piiCardScan: Luhn separates real card shapes from lookalikes; length bounds gate candidacy") {
    import SparkSpec.spark.implicits._
    val docs = Seq(
      (1L, "pay with 4532015112830366 now"),                 // valid 16-digit
      (2L, "ref 4532015112830367 thanks"),                   // invalid checksum
      (3L, "cards 4111111111111111 and 4111111111111112"),   // one valid, one not
      (4L, "short 123456789012 run"),                        // 12 digits: not a candidate
      (5L, "long 45320151128303661234 run"),                 // 20 digits: not a candidate
      (6L, "no digits at all")
    ).toDF("doc_id", "text")
    val got = graft.operators.Quality
      .piiCardScan(docs, "doc_id", "text")
      .as[(Long, Long, Long)]
      .collect()
      .toSet
    assert(got == Set((1L, 1L, 1L), (2L, 1L, 0L), (3L, 2L, 1L)), s"got $got")
    // registered query: every planted valid number is found valid,
    // every planted lookalike is a candidate that FAILS the checksum
    val regRows = SparkEntry.queries("text_pii_luhn")(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val byId = regRows.map(r => r._1 -> (r._2, r._3)).toMap
    val nDocs = Tables.documents(spark, sfDir).count()
    (0L until nDocs by 50L).foreach(id => assert(byId.get(id).exists(_._2 >= 1L), s"doc $id must flag valid PII"))
    regRows.filter(_._1 % 50 == 7).foreach { case (id, nc, nv) =>
      assert(nc >= 1L && nv == 0L, s"doc $id lookalike must be candidate-only")
    }
  }

  test("piiContacts: planted contact types detected exactly where planted, nowhere else") {
    val rows = SparkEntry.queries("text_pii_contacts")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, e, ip, ph) =>
      val want = (id % 40) match {
        case 0L  => (1L, 0L, 0L)
        case 13L => (0L, 1L, 0L)
        case 26L => (0L, 0L, 1L)
        case _   => (0L, 0L, 0L)
      }
      assert((e, ip, ph) == want, s"doc $id: got ($e,$ip,$ph) want $want")
    }
  }
}
