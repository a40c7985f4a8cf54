package graft

import org.apache.spark.sql.functions._

import graft.operators.Profile

/** One-pass table profiling. */
class ProfileSpec extends SparkSpec {
  private val root = scratchPath("prof_spec")

  import SparkSpec.spark.implicits._

  test("profile counts rows, nulls, and exact ndv per column on planted data") {
    val df = Seq(
      (Some(1L), Some("a")),
      (Some(1L), None),
      (Some(2L), Some("b")),
      (None, Some("a"))
    ).toDF("k", "s")
    val out = Profile.profile(df, Seq("k", "s")).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("k", 4L, 1L, 2L), ("s", 4L, 1L, 2L)))
  }

  test("profile matches independent per-column recomputes on real data") {
    val li   = Tables.lineitem(spark, sfDir)
    val cols = Seq("l_orderkey", "l_returnflag")
    val out = Profile.profile(li, cols).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    cols.foreach { c =>
      val n    = li.count()
      val nn   = li.agg(count(col(c))).head().getLong(0)
      val ndv  = li.agg(countDistinct(col(c))).head().getLong(0)
      assert(out(c) == ((n, n - nn, ndv)), s"column $c")
    }
  }

  test("keySkew surfaces a planted hot key first, with exact totals and a TakeOrdered plan") {
    val df = (Seq.fill(50)(7L) ++ (1L to 30L)).toDF("k")
    val out = Profile.keySkew(df, "k", 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.head == ((7L, 51L, 30L, 80L))) // 50 planted + 1 from the range
    // remaining top-5 are count-1 keys in ascending key order (tie-break)
    assert(rows.tail.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(rows.forall(r => r._3 == 30L && r._4 == 80L))
  }

  test("incremental profile rollup: splits + compaction == one-shot build == exact recompute") {
    val li   = Tables.lineitem(spark, sfDir)
    val cols = Seq("l_suppkey", "l_returnflag")
    val inc  = s"$root/inc"
    Profile.profileRollupBuild(li.filter(col("l_orderkey") % 2 === 0), cols, 1024, inc)
    Profile.profileRollupAppend(li.filter(col("l_orderkey") % 2 === 1), cols, 1024, inc)
    val preCompact = Profile.profileRollupRead(spark, inc, 1024).collect().toSeq
    Profile.profileRollupCompact(spark, inc, 1024)
    val postCompact = Profile.profileRollupRead(spark, inc, 1024).collect().toSeq
    assert(postCompact == preCompact)
    assert(spark.read.parquet(inc).count() == cols.length)
    val oneShot = s"$root/full"
    Profile.profileRollupBuild(li, cols, 1024, oneShot)
    assert(Profile.profileRollupRead(spark, oneShot, 1024).collect().toSeq == preCompact)
    // sub-capacity: rollup ndv equals the exact profile
    val exact = Profile.profile(li, cols).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    preCompact.foreach { r =>
      assert(exact(r.getString(0)) == ((r.getLong(1), r.getLong(2), r.getLong(3))), r.getString(0))
    }
  }

  test("profile is a single distributed pass: one Aggregate over an Expand, no per-column jobs") {
    val plan = Profile
      .profile(Tables.lineitem(spark, sfDir), Seq("l_orderkey", "l_partkey", "l_returnflag"))
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("Expand"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("profileDrift: exact integer boundaries — 5pp null rate and the [half, double] ndv band are strict") {
    def frame(nulls: Int, ndvMod: Long) =
      (1 to 100)
        .map(i => (i.toLong, if (i <= nulls) None else Some(s"v${i % 10}"), s"u${i % ndvMod}"))
        .toDF("id", "v", "u")
    val old = frame(10, 10)
    def drift(nw: org.apache.spark.sql.DataFrame) =
      Profile
        .profileDrift(old, nw, Seq("v", "u"))
        .collect()
        .map(r => r.getString(0) -> (r.getBoolean(7), r.getBoolean(8)))
        .toMap
    // +5pp exactly (10 → 15 nulls of 100): strict > must NOT flag
    assert(drift(frame(15, 10))("v") == (false, false))
    // +6pp flags the null side only
    assert(drift(frame(16, 10))("v") == (true, false))
    // ndv 10 → 5 is EXACTLY the half boundary: not flagged; 10 → 4 flags
    assert(drift(frame(10, 5))("u") == (false, false))
    assert(drift(frame(10, 4))("u") == (false, true))
    // explosion beyond 2x flags too (10 -> 50)
    assert(drift(frame(10, 50))("u") == (false, true))
    // identical snapshots are clean everywhere
    assert(drift(old).values.forall(_ == (false, false)))
  }

  test("registered profile_drift: planted lang null-drift and source collapse flag; n_chars stays clean") {
    val got = SparkEntry
      .queries("profile_drift")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> (r.getBoolean(7), r.getBoolean(8)))
      .toMap
    assert(got("lang")._1, "20% null injection must flag null_drift")
    assert(got("source")._2, "prefix collapse of the source dictionary must flag ndv_drift")
    assert(got("n_chars") == (false, false), "the untouched column must stay clean")
  }

  test("profileDrift plans identical code on every call: the third warm call compiles no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def run(): Unit = SparkEntry.queries("profile_drift")(spark, sfDir).collect()
    run()
    run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }

  test("benfordDigits: digits 1-9 partition the positive rows; expectation masses to n; powers of ten don't shift") {
    import SparkSpec.spark.implicits._
    val got = graft.operators.Profile
      .benfordDigits(Tables.orders(spark, sfDir), "o_totalprice")
      .collect()
    val digits = got.map(_.getLong(0))
    assert(digits.forall(d => d >= 1 && d <= 9))
    val positive = Tables.orders(spark, sfDir)
      .filter(org.apache.spark.sql.functions.expr("floor(o_totalprice * 100) > 0")).count()
    assert(got.map(_.getLong(1)).sum == positive, "observed counts must partition the rows")
    assert(math.abs(got.map(_.getDouble(2)).sum - positive) < 0.01, "Benford expectations must mass to n")
    // the libm trap the string path avoids: amounts that are exact
    // powers of ten must classify as digit 1
    val tricky = Seq(10.00, 100.00, 1000.00, 0.01).toDF("v")
    val t = graft.operators.Profile.benfordDigits(tricky, "v").collect()
    assert(t.map(r => (r.getLong(0), r.getLong(1))).toMap == Map(1L -> 4L), s"power-of-ten digits shifted: ${t.toSeq}")
  }
}
