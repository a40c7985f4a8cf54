package graft

import org.apache.spark.sql.functions._

import graft.operators.Spatial

/** Grid-blocked 2-D ε-distance join: exactness vs the naive quadratic
  * twin, cell-boundary corner cases, plan shape, domain refusals.
  */
class SpatialSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  /** Rows as a sorted multiset: a duplicated pair is a difference. */
  private def pairBag(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("distanceJoin == naive on the deterministic customer point cloud (sf corpus)") {
    val pts = Spatial.customerPoints(spark, sfDir)
    for (eps <- Seq(5000L, 8000L)) {
      val fast  = pairBag(Spatial.distanceJoin(pts, eps))
      val naive = pairBag(Spatial.distanceJoinNaive(pts, eps))
      assert(fast == naive, s"eps=$eps: missing=${naive.diff(fast).take(5)}, extra=${fast.diff(naive).take(5)}")
      assert(naive.nonEmpty, s"eps=$eps: the cloud must actually exercise the join")
    }
  }

  test("cell-boundary corner cases: exact-eps kept, eps+1 dropped, adjacent-cell pairs found, coincident points") {
    // eps = 10, cells are 10×10: (9,9)/(10,10) straddle a cell corner;
    // (0,0)/(10,0) are EXACTLY at distance eps (kept, dist2 = 100);
    // (0,20)/(0,31) are at 11 > eps (dropped, same cell column);
    // (50,50)/(50,50) coincide (dist2 = 0)
    val pts = Seq(
      (1L, 9L, 9L), (2L, 10L, 10L),
      (3L, 0L, 0L), (4L, 10L, 0L),
      (5L, 0L, 20L), (6L, 0L, 31L),
      (7L, 50L, 50L), (8L, 50L, 50L)
    ).toDF("id", "x", "y")
    val got = pairBag(Spatial.distanceJoin(pts, 10L))
    assert(got.contains((1L, 2L, 2L)), "corner-straddling adjacent-cell pair must be found")
    assert(got.contains((3L, 4L, 100L)), "exact-eps pair is kept (<= semantics)")
    assert(!got.exists(p => p._1 == 5L && p._2 == 6L), "distance eps+1 must be dropped")
    assert(got.contains((7L, 8L, 0L)), "coincident distinct ids pair at dist2 = 0")
    assert(got == pairBag(Spatial.distanceJoinNaive(pts, 10L)))
  }

  test("distanceJoin plans an equi-join on cells — never a cartesian product") {
    val plan = Spatial.distanceJoin(Spatial.customerPoints(spark, sfDir), 5000L).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"distance join must stay an equi-join:\n$plan")
  }

  test("distanceJoin needs no dedup: no aggregate and no exchange keyed on the pair") {
    // each point probes 9 distinct cells and has one home cell, so a
    // pair meets in at most one join row; the multiset comparisons
    // above fail on any duplicate this would let through
    val plan = Spatial.distanceJoin(Spatial.customerPoints(spark, sfDir), 5000L).queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), s"no distinct aggregate expected:\n$plan")
    assert("Exchange hashpartitioning\\(a#".r.findFirstIn(plan).isEmpty, s"no exchange on (a, b, dist2) expected:\n$plan")
  }

  test("refusals: negative, oversized coordinates and degenerate eps fail loudly") {
    // the coordinate guard rides the row path (raise_error in the
    // projection) — it fires at the first action, not at plan build
    val neg = Seq((1L, -5L, 3L), (2L, 4L, 4L)).toDF("id", "x", "y")
    val ex = intercept[Exception](Spatial.distanceJoin(neg, 10L).collect())
    assert(ex.getMessage.contains("2^31-1"), s"unexpected: ${ex.getMessage}")
    val big = Seq((1L, (1L << 31), 3L), (2L, 4L, 4L)).toDF("id", "x", "y")
    val ex2 = intercept[Exception](Spatial.distanceJoin(big, 10L).collect())
    assert(ex2.getMessage.contains("2^31-1"), s"unexpected: ${ex2.getMessage}")
    val ok = Seq((1L, 5L, 3L)).toDF("id", "x", "y")
    intercept[IllegalArgumentException](Spatial.distanceJoin(ok, 0L))
  }
}
