package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Spatial / metric-space operators: the 2-D ε-distance join.
  *
  * The classic grid-blocking scheme (a fixed-grid spatial hash, the
  * plane-sweep-free distributed formulation used by every big-data
  * spatial engine): bucket points into ε-sized square cells, generate
  * candidates by equi-joining one side's cell against the other side's
  * 3×3 cell neighborhood, verify with exact integer arithmetic. Any
  * two points within Euclidean distance ε lie in the same or adjacent
  * cells (each cell is ε×ε), so the neighborhood join loses nothing —
  * candidates are exact, and the join is ALWAYS an equi-join on the
  * cell key: at 100 TB the shuffle partitions by cell, the densest
  * cell bounds the worst task, and no cross product can ever appear.
  *
  * Coordinates are LONGS (fixed-point micro-units — the geo-pipeline
  * convention that also makes every distance comparison exact):
  * squared distances stay in 64-bit for |coord| < ~2^31, plenty for
  * micro-degree geodata. All arithmetic is integer, so results
  * hash-replay bit-exactly in any engine.
  */
object Spatial {

  /** All pairs (a < b) with squared Euclidean distance ≤ eps²; emits
    * `(a, b, dist2)`. Coordinates must be non-negative longs (shift
    * first if needed — floor semantics of integer division on
    * negatives differ across engines, and refusing is cheaper than
    * being subtly wrong).
    */
  def distanceJoin(
      points: DataFrame,
      eps: Long,
      idCol: String = "id",
      xCol: String = "x",
      yCol: String = "y"
  ): DataFrame = {
    require(eps > 0, s"distanceJoin needs eps > 0, got $eps")
    // domain guard rides the row path (a codegen'd branch in the
    // projection, thrown on first evaluation) instead of a separate
    // full-relation `filter.count()` pre-scan: coordinates must be in
    // [0, 2^31-1] — non-negative so integer-DIV cell ids floor
    // consistently across engines, bounded so squared distances stay
    // in 64-bit (the documented |coord| < ~2^31 contract, now loud)
    val maxCoord = (1L << 31) - 1L
    def guarded(src: Column, name: String): Column = {
      val c = src.cast("long")
      when(
        c < 0L || c > maxCoord,
        raise_error(concat(
          lit(s"distanceJoin requires 0 <= $name <= 2^31-1 (shift/scale your frame first), got "),
          c.cast("string")
        )).cast("long")
      ).otherwise(c)
    }
    val pts = points
      .select(col(idCol).cast("long").as("id"), guarded(col(xCol), xCol).as("x"), guarded(col(yCol), yCol).as("y"))
      .localCheckpoint(eager = false)

    // integer DIV, not double `/`: exact over the full guarded domain
    // (double division is only floor-exact below 2^53 — the DIV makes
    // the cell id arithmetic independent of that bound)
    val home = pts
      .withColumn("cx", expr(s"x DIV ${eps}L"))
      .withColumn("cy", expr(s"y DIV ${eps}L"))
    // one side explodes its 3×3 neighborhood, the other stays put —
    // the candidate join is a plain equi-join on (cx, cy)
    val probe = home
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("id").as("a"), col("x").as("xa"), col("y").as("ya"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    probe
      .join(
        home.select(col("id").as("b"), col("x").as("xb"), col("y").as("yb"), col("cx"), col("cy")),
        Seq("cx", "cy")
      )
      .filter(col("a") < col("b"))
      .withColumn(
        "dist2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) + (col("ya") - col("yb")) * (col("ya") - col("yb"))
      )
      .filter(col("dist2") <= eps * eps)
      .select(col("a"), col("b"), col("dist2"))
      .orderBy("a", "b")
  }

  /** Naive quadratic twin — the test oracle. */
  private[graft] def distanceJoinNaive(
      points: DataFrame,
      eps: Long,
      idCol: String = "id",
      xCol: String = "x",
      yCol: String = "y"
  ): DataFrame = {
    val pts = points
      .select(col(idCol).cast("long").as("id"), col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    pts
      .select(col("id").as("a"), col("x").as("xa"), col("y").as("ya"))
      .join(pts.select(col("id").as("b"), col("x").as("xb"), col("y").as("yb")), col("a") < col("b"))
      .withColumn(
        "dist2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) + (col("ya") - col("yb")) * (col("ya") - col("yb"))
      )
      .filter(col("dist2") <= eps * eps)
      .select(col("a"), col("b"), col("dist2"))
      .orderBy("a", "b")
  }

  /** Deterministic demo point cloud: customers scattered over a
    * 100 000 × 100 000 integer grid by two coprime multiplicative
    * hashes of the key — pure modular arithmetic, so any engine
    * replays the exact same frame (no RNG, no float).
    */
  def customerPoints(spark: SparkSession, dir: String, maxKey: Long = 5000L): DataFrame =
    Tables
      .customer(spark, dir)
      .filter(col("c_custkey") < maxKey)
      .select(
        col("c_custkey").as("id"),
        (col("c_custkey") * 48271L % 100000L).as("x"),
        (col("c_custkey") * 69621L % 100000L).as("y")
      )

  /** The registered ε-join demo: nearby customer pairs at ε = 5000
    * grid units over [[customerPoints]].
    */
  def customerDistanceJoin(spark: SparkSession, dir: String): DataFrame =
    distanceJoin(customerPoints(spark, dir), eps = 5000L)
}
