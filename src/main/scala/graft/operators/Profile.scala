package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANALYZE-style table profiling: per-column statistics (row count,
  * null count, exact distinct count) in ONE pass over the table — the
  * stats-collection operator a warehouse runs before trusting join
  * reorder / broadcast decisions, and the health check an ingest
  * pipeline runs per batch (a null-count jump or an ndv collapse is
  * how schema drift and join-key corruption surface first).
  *
  * Shape: a single Aggregate with `count(c)` + `count(DISTINCT c)`
  * per column — Spark plans the multi-distinct via Expand (one row
  * per distinct-column per input row) with partial aggregation, which
  * distributes; the result then unpivots to one row per column. Exact
  * ndv is deliberate (this is the correctness-auditable profile; the
  * sketch-backed rollup [[Sketches.kmvRollupDistinct]] is the
  * standing approximate tier for when a full shuffle per batch is too
  * much).
  */
object Profile {

  /** Benford first-digit conformity profile — the classic
    * fabricated-data / unit-mixup screen for financial-style amount
    * columns: observed count per leading digit vs the Benford
    * expectation n·log10(1+1/d). The leading digit is taken from the
    * DECIMAL RENDERING of exact cents (CAST to string), never from
    * floor(v/10^floor(log10 v)) — libm log10 is off-by-one-ulp at
    * powers of ten, which silently shifts the digit of exact-power
    * amounts; string-of-integer is identical in every engine.
    * One hash aggregate over the data; the 9-row digit directory
    * carries the only floats (rounded expectation).
    */
  def benfordDigits(df: DataFrame, amountCol: String): DataFrame = {
    val cents = df
      .select(expr(s"CAST(floor($amountCol * 100) AS BIGINT)").as("cents"))
      .filter(col("cents") > 0L)
    val digits = cents
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n_observed"))
    digits
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("n"))))
      .select(
        col("digit"),
        col("n_observed"),
        round(col("n") * log10(lit(1.0) + lit(1.0) / col("digit")), 4).as("n_expected")
      )
      .orderBy("digit")
  }

  /** Join-key skew report: the k hottest keys with exact counts plus
    * the table's total row and distinct-key counts (all integers —
    * the skew ratio cnt·n_keys/n_rows is derivable exactly, no float
    * in the artifact). This is the pre-flight check for the salting /
    * AQE-skew recipes: a top key holding >>1/n_keys of the rows is
    * the partition that stalls a 1000-executor join. Selection is
    * orderBy+limit — TakeOrderedAndProject, k rows to the driver,
    * never a global window.
    */
  def keySkew(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"))
    counts
      .orderBy(col("cnt").desc, col(keyCol).asc)
      .limit(k)
      .crossJoin(broadcast(totals))
      .select(col(keyCol).as("key"), col("cnt"), col("n_keys"), col("n_rows"))
      .orderBy(col("cnt").desc, col("key").asc)
  }

  /** Incremental profiling: the per-column stats maintained as an
    * ADDITIVE standing table instead of recomputed — row/non-null
    * counts are plain sums and the distinct count rides a KMV sketch
    * partial (bottom-k of xxhash64, type-agnostic), so maintenance is
    * a blind append of one row per column per batch and the reader
    * re-merges exactly (the [[Sketches]] semilattice). Sub-capacity
    * the ndv is exact; at capacity it degrades to the published
    * bounded estimate, never a silent cap. This is the production
    * ANALYZE shape: stats stay fresh per ingest batch at batch cost,
    * the 100 TB base is never rescanned.
    */
  def profileRollupBuild(df: DataFrame, cols: Seq[String], k: Int, path: String): Unit =
    partials(df, cols, k).write.mode("overwrite").parquet(path)

  def profileRollupAppend(delta: DataFrame, cols: Seq[String], k: Int, path: String): Unit =
    partials(delta, cols, k).write.mode("append").parquet(path)

  private def partials(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    graft.GraftFunctions.register(df.sparkSession)
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap(c =>
        Seq(count(col(c)).as(s"__nn_$c"), expr(s"kmv_agg(xxhash64($c), $k)").as(s"__sk_$c"))
      )
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = cols
      .map(c => s"'$c', __nn_$c, __sk_$c")
      .mkString(s"stack(${cols.length}, ", ", ", ")")
    wide.select(col("__n").as("n_rows"), expr(s"$stackExpr AS (col_name, n_non_null, sk)"))
  }

  /** Merged per-column stats from the rollup alone. */
  def profileRollupRead(spark: org.apache.spark.sql.SparkSession, path: String, k: Int): DataFrame =
    spark.read
      .parquet(path)
      .groupBy("col_name")
      .agg(
        sum("n_rows").as("n_rows"),
        sum("n_non_null").as("nn"),
        slice(array_sort(array_distinct(flatten(collect_list(col("sk"))))), 1, k).as("sk")
      )
      .select(
        col("col_name"),
        col("n_rows"),
        (col("n_rows") - col("nn")).as("n_nulls"),
        round(Sketches.kmvEstimate(col("sk"), k), 0).cast("long").as("ndv")
      )
      .orderBy("col_name")

  /** Fold accumulated partial rows to one per column — answers
    * unchanged (sums re-associate, sketch merge is the semilattice).
    */
  def profileRollupCompact(spark: org.apache.spark.sql.SparkSession, path: String, k: Int): Unit =
    spark.read
      .parquet(path)
      .groupBy("col_name")
      .agg(
        sum("n_rows").cast("long").as("n_rows"),
        sum("n_non_null").cast("long").as("n_non_null"),
        slice(array_sort(array_distinct(flatten(collect_list(col("sk"))))), 1, k).as("sk")
      )
      .localCheckpoint(eager = true)
      .write
      .mode("overwrite")
      .parquet(path)

  /** Rows, nulls and exact distinct count per column in one scan: one
    * grouping set per column (a single Expand, in `cols` order) counts
    * each distinct value, then one global aggregate folds those counts
    * per column. Spelled with `countDistinct` instead, Spark's
    * distinct-aggregate rewrite orders the Expand by hash, so the plan
    * and its generated classes change from call to call.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val values = df
      .groupingSets(cols.map(c => Seq(col(c))), cols.map(col): _*)
      .agg(count(lit(1)).as("__c"), cols.map(c => grouping(c).as(s"__g_$c")): _*)
    def inSet(c: String) = col(s"__g_$c") === 0
    val n = coalesce(sum(when(inSet(cols.head), col("__c"))), lit(0L)).as("__n")
    val aggs = cols.flatMap { c =>
      val present = inSet(c) && col(c).isNotNull
      Seq(
        coalesce(sum(when(present, col("__c"))), lit(0L)).as(s"__nn_$c"),
        count(when(present, lit(1))).as(s"__ndv_$c")
      )
    }
    val wide = values.agg(n, aggs: _*)
    val stackExpr = cols
      .map(c => s"'$c', __nn_$c, __ndv_$c")
      .mkString(s"stack(${cols.length}, ", ", ", ")")
    wide
      .select(col("__n"), expr(s"$stackExpr AS (col_name, n_non_null, ndv)"))
      .select(
        col("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col("n_non_null")).as("n_nulls"),
        col("ndv")
      )
      .orderBy("col_name")
  }

  /** Data-drift report between two snapshots of the same relation —
    * the batch-ingest health check run before promoting a new crawl
    * (Great-Expectations/Deequ "profile diff" shape). Joins the two
    * one-pass [[profile]]s by column and flags:
    *
    *   - `null_drift`: the null RATE moved by more than 5 percentage
    *     points, decided by integer cross-multiplication
    *     (|nulls_n·rows_o − nulls_o·rows_n| · 20 > rows_o·rows_n) so
    *     the flag can never flip on a float ulp;
    *   - `ndv_drift`: distinct cardinality left the [½×, 2×] band of
    *     the old snapshot (the dictionary-collapse / id-explosion
    *     signal), again pure integer comparisons.
    *
    * Cost: two single-Expand profile passes over the snapshots plus a
    * |cols|-row join — nothing scales with row count but the profiles
    * themselves.
    */
  def profileDrift(dfOld: DataFrame, dfNew: DataFrame, cols: Seq[String]): DataFrame = {
    val o = profile(dfOld, cols).select(
      col("col_name"),
      col("n_rows").as("rows_old"),
      col("n_nulls").as("nulls_old"),
      col("ndv").as("ndv_old")
    )
    val n = profile(dfNew, cols).select(
      col("col_name"),
      col("n_rows").as("rows_new"),
      col("n_nulls").as("nulls_new"),
      col("ndv").as("ndv_new")
    )
    o.join(n, Seq("col_name"))
      .withColumn(
        "null_drift",
        abs(col("nulls_new") * col("rows_old") - col("nulls_old") * col("rows_new")) * 20L >
          col("rows_old") * col("rows_new")
      )
      .withColumn("ndv_drift", col("ndv_new") * 2L < col("ndv_old") || col("ndv_new") > col("ndv_old") * 2L)
      .orderBy("col_name")
  }
}
