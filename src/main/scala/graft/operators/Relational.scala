package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational operator surface over the star schema (SURVEY.md §2.2):
  * projection, filters, all join types, aggregation (plain / distinct /
  * rollup / cube / grouping sets), windows, sorts/limits, set ops,
  * scalar functions.
  *
  * Scale notes baked into each plan:
  *   - dimension joins (region, nation, supplier, customer at TPC-H
  *     ratios) are marked `broadcast` — at 100 TB the fact table never
  *     shuffles for those;
  *   - aggregates are declared via groupBy/agg so Catalyst plans
  *     partial→final hash aggregation;
  *   - every query ends in an explicit total ORDER BY (determinism for
  *     the oracle hash-compare), which also documents the output
  *     contract.
  *
  * All double-valued aggregates are rounded to 4 decimals: inputs have
  * ≤4 decimal digits, so a 4-decimal round is exact and immune to the
  * 1-ulp cross-engine drift of float summation order.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: scan + filter + 8-way aggregate. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        // avg = round(sum)/count: the rounded sum is cross-engine
        // stable and IEEE division of identical doubles is bit-exact,
        // whereas round(avg(x)) can straddle a rounding boundary.
        (round(sum("l_quantity"), 4) / count(lit(1))).as("avg_qty"),
        (round(sum("l_extendedprice"), 4) / count(lit(1))).as("avg_price"),
        (round(sum("l_discount"), 4) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style: 3-way join, aggregate, top-10. Customer is the
    * small side → broadcast; orders↔lineitem co-shuffle on orderkey.
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  }

  /** TPC-H Q5-style: 6-way join through the full dimension chain.
    * All dimensions broadcast; only fact↔orders shuffles.
    */
  def q5LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val o = Tables
      .orders(spark, dir)
      .filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")
      )
    val l = Tables.lineitem(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q6-style: pushdown-friendly filter + single-row aggregate. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24
      )
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4).as("revenue"))

  /** LEFT OUTER join: every customer with their order count (0 kept). */
  def joinLeftOrderCounts(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .join(Tables.orders(spark, dir), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** LEFT SEMI join (EXISTS): customers having a big order. */
  def joinSemiBigSpenders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0)
    Tables
      .customer(spark, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** LEFT ANTI join (NOT EXISTS): customers with no high-value order. */
  def joinAntiNoOrders(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"),
        "left_anti"
      )
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** FULL OUTER join on an intentionally partial overlap. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val bigCust  = Tables.customer(spark, dir).filter(col("c_acctbal") > 5000).select("c_custkey")
    val buyers   = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000).select("o_custkey").distinct()
    bigCust
      .join(buyers, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), lit(-1L)).as("cust_side"),
        coalesce(col("o_custkey"), lit(-1L)).as("order_side")
      )
      .orderBy("cust_side", "order_side")
  }

  /** Window: top-3 orders per customer by totalprice (rank & filter). */
  def windowTop3PerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables
      .orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** Window: running sum per supplier over ship time.
    *
    * The synthetic data duplicates (l_orderkey, l_linenumber) pairs, so
    * the window order includes l_quantity to stay total (verified: no
    * duplicate (suppkey, shipdate, orderkey, linenumber, quantity) at
    * any SF) and the output order breaks any remaining tie on the
    * running value itself — otherwise prefix sums are permutation-
    * dependent and engines legitimately disagree.
    */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val order = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val w = Window
      .partitionBy("l_suppkey")
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .lineitem(spark, dir)
      .withColumn("running_qty", round(sum("l_quantity").over(w), 4))
      .orderBy(col("l_suppkey") +: order :+ col("running_qty"): _*)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
  }

  /** Window rank family: rank, dense_rank, percent_rank, cume_dist,
    * ntile — total order via the unique orderkey tiebreak.
    */
  def windowRankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables
      .orders(spark, dir)
      .select(
        col("o_orderstatus"),
        col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 4).as("prnk"),
        round(cume_dist().over(w), 4).as("cdist"),
        ntile(4).over(w).cast("long").as("quartile")
      )
      .orderBy("o_orderstatus", "rnk")
  }

  /** Window first/last/nth values over an explicit frame. */
  def windowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        first("o_totalprice").over(w).as("first_price"),
        last("o_totalprice").over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price")
      )
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Unpivot (wide → long): per-user event counts melted back to
    * (user, event_type, n) rows.
    */
  def unpivotEvents(spark: SparkSession, dir: String): DataFrame =
    pivotEvents(spark, dir)
      .unpivot(
        Array(col("user_id")),
        Array(col("click"), col("purchase"), col("view"), col("signup"), col("error")),
        "event_type",
        "n"
      )
      .orderBy("user_id", "event_type")

  /** Window: lag/lead — price delta between a customer's consecutive
    * orders.
    */
  def windowLagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables
      .orders(spark, dir)
      .withColumn("prev_price", round(lag("o_totalprice", 1).over(w), 4))
      .withColumn("next_price", round(lead("o_totalprice", 1).over(w), 4))
      .select("o_custkey", "o_orderkey", "prev_price", "next_price")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Set operations in one result: UNION / INTERSECT / EXCEPT of two
    * customer-key sets, tagged by op.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey").as("k"))
    val b = Tables.customer(spark, dir).filter(col("c_acctbal") > 5000).select(col("c_custkey").as("k"))
    val u = a.union(b).distinct().withColumn("op", lit("union"))
    val i = a.intersect(b).withColumn("op", lit("intersect"))
    val e = a.except(b).withColumn("op", lit("except"))
    u.unionByName(i).unionByName(e).select("op", "k").orderBy("op", "k")
  }

  /** DISTINCT projection. */
  def distinctStatusPriority(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** Global top-k (sort + limit → TakeOrderedAndProject). */
  def topNOrders(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** ROLLUP aggregate (hierarchical subtotals). */
  def rollupQuantities(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 4).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("cnt"),
        col("qty")
      )
      .orderBy("rf", "ls")

  /** CUBE aggregate (all grouping combinations). */
  def cubeOrderStats(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 4).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("cnt"),
        col("total")
      )
      .orderBy("status", "priority")

  /** GROUPING SETS via the SQL surface. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("gs_lineitem")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(1) AS cnt
        |FROM gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin
    )
  }

  /** Exact distinct-count aggregates (the expand+2-phase plan). */
  def countDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows")
      )
      .orderBy("l_returnflag")

  /** Approximate distinct counts (HyperLogLog++): the 100 TB answer to
    * count-distinct — mergeable fixed-size sketches, no expand. No
    * DuckDB oracle (sketch estimates are engine-specific); the spec
    * asserts the estimate against the exact count.
    */
  /** HLL++ distinct estimation, emitted ε-BOUNDED so the entry is a
    * real oracle row, not rows-only: the approx values themselves are
    * engine-specific (no SQL engine replays HLL++ registers), so the
    * query carries the exact counts (DuckDB recomputes them) plus the
    * within-relative-error verdicts (DuckDB states TRUE — rsd 0.02,
    * asserted at 2.5× to leave the documented tail-probability room).
    * The approx plan still executes in full; only its value leaves
    * via the bound.
    */
  def approxDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
        countDistinct(col("l_orderkey")).as("exact_orders")
      )
      .select(
        col("l_returnflag"),
        col("exact_parts"),
        col("exact_orders"),
        (abs(col("ap") - col("exact_parts")) / col("exact_parts") <= 0.05).as("parts_ok"),
        (abs(col("ao") - col("exact_orders")) / col("exact_orders") <= 0.05).as("orders_ok")
      )
      .orderBy("l_returnflag")

  /** Array functions: construct, sort, dedupe, slice, flatten, zip. */
  def scalarArray(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), expr("letter_tokens(text)").as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).cast("long").as("n"),
        concat_ws(",", slice(col("tk"), 1, 5)).as("first5"),
        concat_ws(",", slice(array_sort(array_distinct(col("tk"))), 1, 3)).as("top3_sorted_distinct"),
        size(array_distinct(col("tk"))).cast("long").as("n_distinct"),
        element_at(col("tk"), 1).as("first_tok"),
        element_at(col("tk"), -1).as("last_tok"),
        array_contains(col("tk"), "spark").as("has_spark"),
        concat_ws(",", expr("array_remove(slice(tk, 1, 8), 'the')")).as("first8_no_the")
      )
      .orderBy("doc_id")

  /** Scalar string functions over part. */
  def scalarString(spark: SparkSession, dir: String): DataFrame =
    Tables
      .part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_name")).as("name_l"),
        substring(col("p_name"), 1, 8).as("name_pre"),
        length(col("p_name")).cast("long").as("name_len"),
        regexp_extract(col("p_name"), "([0-9]+)", 1).as("first_num"),
        expr("replace(p_type, ' ', '_')").as("type_u"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        element_at(split(col("p_name"), " "), 1).as("first_word")
      )
      .orderBy("p_partkey")

  /** Scalar date + math functions over orders. */
  def scalarDateMath(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).cast("long").as("days_to_2002"),
        (col("o_orderkey") % 7).as("key_mod"),
        round(sqrt(col("o_totalprice")), 4).as("sqrt_price"),
        round(log(col("o_totalprice")), 4).as("ln_price"),
        ceil(col("o_totalprice")).as("ceil_price"),
        floor(col("o_totalprice")).as("floor_price"),
        round(abs(col("o_totalprice") - 250000.0), 4).as("abs_diff")
      )
      .orderBy("o_orderkey")

  /** TPC-H Q2 flavor: min-per-group then join back (argmin) — the
    * cheapest supplier per part among this schema's links.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val minCost = l
      .groupBy(col("l_partkey").as("mc_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    l.join(minCost, col("l_partkey") === col("mc_partkey") && col("l_extendedprice") === col("min_price"))
      .groupBy("l_partkey")
      .agg(min("l_suppkey").as("supp"), min("l_extendedprice").as("price"))
      .orderBy("l_partkey")
  }

  /** TPC-H Q10 flavor: returned-item revenue per customer, top 20. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Pivot: event counts per user fanned into one column per type.
    * Explicit value list → deterministic schema, single-pass plan.
    */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "purchase", "view", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** Exact interpolated percentiles per group (both engines implement
    * the (n-1)p linear-interpolation definition).
    */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        expr("round(percentile(o_totalprice, 0.5), 4)").as("p50"),
        expr("round(percentile(o_totalprice, 0.9), 4)").as("p90"),
        expr("round(percentile(o_totalprice, 0.99), 4)").as("p99")
      )
      .orderBy("o_orderstatus")

  /** Edit-distance fuzzy match: near-identical part names (bounded
    * id range keeps the cross product oracle-sized; the scale path for
    * string fuzzy-matching is MinHash on character n-grams).
    */
  def fuzzyPartNames(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_partkey") <= 100).select("p_partkey", "p_name")
    p.select(col("p_partkey").as("a"), col("p_name").as("na"))
      .join(p.select(col("p_partkey").as("b"), col("p_name").as("nb")), col("a") < col("b"))
      .withColumn("dist", levenshtein(col("na"), col("nb")).cast("long"))
      .filter(col("dist") <= 3)
      .select("a", "b", "dist")
      .orderBy("a", "b")
  }

  /** TPC-H Q7-style: bidirectional trade volume between two nations by
    * ship year. Two broadcast copies of nation disambiguate the roles.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir).select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir).select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables
      .lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")
      )
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q12-style: late-shipment priority counts (conditional
    * aggregation over a fact-fact join).
    */
  def q12PriorityShipping(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate"))
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L)).as("low_line_count")
      )
      .orderBy("l_returnflag")

  /** TPC-H Q14-style: promo revenue share. The percentage divides two
    * rounded sums so both engines divide identical doubles.
    */
  def q14PromoEffect(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp")
      )
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) *
          round(sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)), 4) /
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)).as("promo_revenue_pct")
      )

  /** TPC-H Q19 flavor: disjunction of conjunctive predicates across a
    * join — exercises partial pushdown of an OR-of-ANDs filter.
    */
  def q19DisjunctiveFilter(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity") >= 5) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) && col("l_quantity") >= 10) ||
          (col("p_type") === "PROMO" && col("l_quantity") < 10)
      )
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n")
      )

  /** Time-RANGE window frame: per-customer order count and quantity sum
    * within the trailing 30 days (exact-integer aggregates only — a
    * sliding range frame subtracts on eviction, so float sums would
    * drift between engines).
    */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate").cast("timestamp").cast("long")) // NTZ → epoch seconds (UTC session)
      .rangeBetween(-30L * 24 * 3600, 0)
    Tables
      .orders(spark, dir)
      .withColumn("orders_30d", count(lit(1)).over(w))
      .withColumn("keys_30d", sum(col("o_orderkey")).over(w))
      .select("o_custkey", "o_orderkey", "orders_30d", "keys_30d")
      .orderBy("o_custkey", "o_orderkey")
  }

  /** TPC-H Q15 flavor: the top-revenue supplier(s) — argmax via a
    * scalar aggregate joined back (decorrelated-subquery shape).
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val revenue = Tables
      .lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-07-01").cast("timestamp")
      )
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("total_revenue"))
    val maxRev = revenue.agg(max("total_revenue").as("max_rev"))
    revenue
      .join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir)), col("supplier_no") === col("s_suppkey"))
      .select("s_suppkey", "s_name", "total_revenue")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q18 flavor: large-volume orders — HAVING over a grouped
    * fact, joined back to dimensions.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables
      .lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("bo_orderkey"))
      .agg(round(sum("l_quantity"), 4).as("total_qty"))
      .filter(col("total_qty") > 150)
    Tables
      .orders(spark, dir)
      .join(bigOrders, col("o_orderkey") === col("bo_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q21 flavor: in multi-supplier orders, the supplier whose
    * shipment closed the order (max shipdate) — two grouped joins back
    * onto the fact.
    */
  def q21LastShipper(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val nSupp   = l.groupBy(col("l_orderkey").as("ok")).agg(countDistinct("l_suppkey").as("ns"))
    val maxShip = l.groupBy(col("l_orderkey").as("ok2")).agg(max("l_shipdate").as("maxship"))
    l.join(nSupp, col("l_orderkey") === col("ok"))
      .join(maxShip, col("l_orderkey") === col("ok2"))
      .filter(col("ns") >= 2 && col("l_shipdate") === col("maxship"))
      .groupBy("l_suppkey")
      .agg(countDistinct("l_orderkey").as("n_last"))
      .orderBy(col("n_last").desc, col("l_suppkey"))
      .limit(10)
  }

  /** TPC-H Q22 flavor: wealthy inactive customers — scalar-subquery
    * threshold (broadcast) + anti join, grouped by segment.
    */
  def q22WealthyInactive(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val avgBal = c.filter(col("c_acctbal") > 0).agg(avg("c_acctbal").as("ab"))
    val recent = Tables.orders(spark, dir).filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 4).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** Interval/banding join via the custom [[graft.plans.RangeJoin]]
    * operator (broadcast build side sorted by lo + binary search —
    * Spark's native plan for this predicate is an O(n·m)
    * BroadcastNestedLoopJoin).
    */
  def rangeJoinPriceBands(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark
      .createDataFrame(
        Seq(
          (0.0, 100000.0, "P1"),
          (100000.0, 200000.0, "P2"),
          (200000.0, 300000.0, "P3"),
          (300000.0, 400000.0, "P4"),
          (400000.0, 1.0e12, "P5")
        )
      )
      .toDF("lo", "hi", "band")
    graft.plans.RangeJoinOps
      .rangeJoin(Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"), bands, "o_totalprice", "lo", "hi")
      .groupBy("band")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
      .orderBy("band")
  }

  /** Statistical aggregates: sample/population stddev and variance,
    * covariance, correlation — second-moment math where both engines
    * implement identical estimator definitions. (Skewness is excluded:
    * Spark reports population g1 while DuckDB bias-corrects to sample
    * G1, so they genuinely differ at small n.) Irrational outputs, so
    * round(·,4) has ~zero boundary risk.
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(stddev_pop(col("l_quantity")), 4).as("sdp_qty"),
        round(var_pop(col("l_quantity")), 4).as("varp_qty"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price")
      )
      .orderBy("l_returnflag")

  /** Fixed-width histogram of order values (manual bucketing — portable
    * across engines, single aggregation pass).
    */
  def histogramTotalprice(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .withColumn("bucket", least(floor(col("o_totalprice") / 50000.0), lit(9.0)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
      .orderBy("bucket")

  /** Approximate quantiles (GK/KLL-style sketch): the fixed-memory
    * answer when exact percentile's full sort is too expensive. No
    * oracle (sketch internals are engine-specific); the spec bounds the
    * estimate against exact percentiles.
    */
  /** Approximate percentiles, emitted ε-BOUNDED ([[approxDistinctAgg]]
    * stance): the sketch values are engine-specific, so the row
    * carries the group's row count (DuckDB recomputes) and the
    * approx-vs-exact relative-error verdicts computed entirely inside
    * Spark (DuckDB states TRUE) — the exact percentile floats never
    * leave the query, so no cross-engine float compare exists.
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        expr("approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)").as("ap"),
        expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("ex")
      )
      .select(
        col("o_orderstatus"),
        col("n_orders"),
        (abs(col("ap").getItem(0) - col("ex").getItem(0)) / col("ex").getItem(0) <= 0.02).as("p50_ok"),
        (abs(col("ap").getItem(1) - col("ex").getItem(1)) / col("ex").getItem(1) <= 0.02).as("p90_ok"),
        (abs(col("ap").getItem(2) - col("ex").getItem(2)) / col("ex").getItem(2) <= 0.02).as("p99_ok")
      )
      .orderBy("o_orderstatus")

  /** Deterministic MODE per group — most frequent value, ties to the
    * smallest value, derived as count + struct-argmin rather than the
    * built-in `mode()` (whose tie choice is engine-arbitrary and so
    * can never hash-match an oracle). Two hash aggregations, both with
    * map-side partials; no window.
    */
  def modeAgg(spark: SparkSession, dir: String): DataFrame = {
    val m = min(struct((-col("n")).as("neg"), col("o_orderpriority").as("p")))
    Tables
      .orders(spark, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .groupBy("o_orderstatus")
      .agg(m.getField("p").as("mode_priority"), (-m.getField("neg")).as("mode_count"))
      .orderBy("o_orderstatus")
  }

  /** Equi-DEPTH histogram: per group, `buckets` buckets of
    * (near-)equal row count with their value bounds — the
    * selectivity-estimation summary an equi-width histogram
    * ([[histogramTotalprice]]) can't give on skewed data. Bucket
    * assignment is NTILE over (price, key) — total, so it replays
    * exactly — computed with [[ntileTwoPhase]]: the per-status rank
    * window is partitioned by a price-range block (floor(price) DIV
    * 1000 — monotone in the double), never one partition per status.
    * The 100 TB form of the same summary is `approx_percentile`
    * bounds — this operator is the exact tier, now without the
    * per-group global sort.
    */
  def equidepthHistogram(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame =
    ntileTwoPhase(
      Tables.orders(spark, dir).select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey")),
      Seq("o_orderstatus"),
      Seq(col("o_totalprice"), col("o_orderkey")),
      Seq(expr("CAST(floor(o_totalprice) AS BIGINT) DIV 1000")),
      buckets,
      "bucket"
    )
      .withColumn("bucket", col("bucket").cast("int"))
      .groupBy("o_orderstatus", "bucket")
      .agg(count(lit(1)).as("n"), min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
      .orderBy("o_orderstatus", "bucket")

  /** Generator with outer semantics: explode_outer keeps rows whose
    * array is empty (null element) — the row-preserving flatten.
    */
  def generatorOuter(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        expr("slice(letter_tokens(text), 60, 3)").as("tail_toks")
      )
      .select(col("doc_id"), explode_outer(col("tail_toks")).as("tok"))
      .orderBy(col("doc_id"), col("tok"))

  /** Pattern predicates and null-safe math: LIKE / NOT LIKE / regex
    * matching as filters and projected booleans; try_divide for
    * division that yields null instead of failing.
    */
  def patternPredicates(spark: SparkSession, dir: String): DataFrame =
    Tables
      .part(spark, dir)
      .filter(col("p_name").like("%a%") || col("p_name").rlike("[0-9]$"))
      .select(
        col("p_partkey"),
        col("p_name").like("w%").as("starts_w"),
        col("p_name").like("%_1%").as("has_underscore_one"),
        (!col("p_type").like("PROMO%")).as("not_promo"),
        col("p_name").rlike("^[a-z]+_[0-9]+$").as("canonical_shape"),
        expr("try_divide(p_retailprice, p_size - p_size + p_size)").as("price_per_size"),
        expr("try_divide(p_retailprice, p_size - p_size)").as("div_by_zero_is_null")
      )
      .orderBy("p_partkey")

  /** Misc scalar functions: conditionals (greatest/least/nullif/
    * coalesce), date arithmetic (date_add/add_months), string
    * transforms (reverse/translate/initcap/repeat).
    */
  def scalarMisc(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        greatest(col("o_totalprice"), lit(250000.0)).as("at_least_250k"),
        least(col("o_totalprice"), lit(250000.0)).as("at_most_250k"),
        nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_label"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus_30d"),
        add_months(col("o_orderdate").cast("date"), 2).as("plus_2m"),
        reverse(col("o_orderpriority")).as("prio_rev"),
        translate(col("o_orderpriority"), "-", "_").as("prio_u"),
        initcap(lower(col("o_orderstatus"))).as("status_cap"),
        repeat(col("o_orderstatus"), 3).as("status_x3")
      )
      .orderBy("o_orderkey")

  /** TPC-H Q4 (adapted: this schema has no commit/receipt dates, so
    * "late" = shipped after the order date): correlated EXISTS
    * subquery via the SQL surface, so Catalyst's actual decorrelation
    * (RewritePredicateSubquery → left-semi join carrying the non-equi
    * correlated predicate l_shipdate > o_orderdate) plans it. The
    * reference has no joins or subqueries — extended surface per
    * SURVEY §2.2.
    */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("q4_orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("q4_lineitem")
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM q4_orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM q4_lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
    )
  }

  /** TPC-H Q13: count-of-counts over a grouped left-outer join — every
    * customer's non-urgent order count, then the distribution of those
    * counts (customers with zero orders are kept by the outer join and
    * land in the c_count=0 bucket).
    */
  def q13Custdist(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"),
        "left"
      )
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q17 (adapted: part join via l_partkey, no container/brand
    * double filter): correlated SCALAR subquery — each lineitem row
    * compared against 0.2 × its part's average quantity. Catalyst
    * decorrelates the scalar agg into a grouped join; quantities are
    * integral so avg = sum/count is bit-exact cross-engine and the
    * comparison threshold carries no float-summation-order risk.
    */
  def q17SmallQtyAvg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("q17_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("q17_part")
    spark.sql(
      """SELECT round(sum(l_extendedprice), 4) / 7.0 AS avg_yearly
        |FROM q17_lineitem l JOIN q17_part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#1'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM q17_lineitem l2
        |                    WHERE l2.l_partkey = l.l_partkey)""".stripMargin
    )
  }

  /** TPC-H Q20 (adapted: no partsupp table, so "significant shipper"
    * = any 1997 shipment of an r-named part above 1.9 × that part's
    * average quantity): nested IN subqueries plus a correlated scalar
    * subquery — the full Q20 decorrelation stack in one query.
    */
  def q20PartPromo(spark: SparkSession, dir: String): DataFrame = {
    Tables.supplier(spark, dir).createOrReplaceTempView("q20_supplier")
    Tables.lineitem(spark, dir).createOrReplaceTempView("q20_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("q20_part")
    spark.sql(
      """SELECT s_suppkey, s_name
        |FROM q20_supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM q20_lineitem l
        |  WHERE l.l_partkey IN (SELECT p_partkey FROM q20_part WHERE p_name LIKE 'r%')
        |    AND l.l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |    AND l.l_quantity > (SELECT 1.9 * avg(l2.l_quantity)
        |                        FROM q20_lineitem l2
        |                        WHERE l2.l_partkey = l.l_partkey))
        |ORDER BY s_suppkey""".stripMargin
    )
  }

  /** TPC-H Q11 (adapted: partsupp derived from lineitem's distinct
    * (part, supplier) pairs, availqty = shipped quantity): important
    * stock — parts whose total quantity exceeds 0.06% of the global
    * total. The HAVING compares each group against a scalar subquery
    * of the whole table — via the SQL surface so Catalyst plans the
    * scalar-subquery broadcast.
    */
  def q11ImportantStock(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("q11_lineitem")
    spark.sql(
      """WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk,
        |              round(sum(l_quantity), 4) AS avail
        |            FROM q11_lineitem GROUP BY 1, 2),
        |tot AS (SELECT round(sum(avail), 4) AS t FROM ps)
        |SELECT pk, round(sum(avail), 4) AS value
        |FROM ps GROUP BY pk
        |HAVING round(sum(avail), 4) > (SELECT t * 0.0006 FROM tot)
        |ORDER BY value DESC, pk""".stripMargin
    )
  }

  /** TPC-H Q16 (adapted): supplier counts per (brand, type) for
    * mid-size parts, excluding a supplier denylist via NOT IN — the
    * null-aware anti-join shape (distinct from NOT EXISTS, which
    * cannot express NOT IN's null semantics).
    */
  def q16SupplierCounts(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("q16_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("q16_part")
    Tables.supplier(spark, dir).createOrReplaceTempView("q16_supplier")
    spark.sql(
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM q16_lineitem JOIN q16_part ON p_partkey = l_partkey
        |WHERE p_size BETWEEN 1 AND 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM q16_supplier
        |                        WHERE s_suppkey % 7 = 0)
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin
    )
  }

  /** Grouped top-k via the custom [[graft.functions.TopKAgg]]
    * imperative aggregate instead of a window: the partial→final merge
    * ships k pairs per group per mapper, while `row_number() <= k`
    * shuffles and sorts every row. Same rows as
    * [[windowTop3PerCustomer]] (shared oracle), different physics —
    * on NON-NULL scores: the aggregate skips null scores and emits
    * nothing for all-null groups, where the window formulation would
    * still rank the null rows. (o_totalprice is never null here.)
    */
  def topkAggPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    Tables
      .orders(spark, dir)
      .groupBy("o_custkey")
      .agg(expr("topk_agg(o_totalprice, o_orderkey, 3)").as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(
        col("o_custkey"),
        (col("pos") + 1).cast("long").as("rn"),
        col("t.id").as("o_orderkey"),
        col("t.score").as("o_totalprice")
      )
      .orderBy("o_custkey", "rn")
  }

  /** Argmin/argmax and boolean aggregates: min_by/max_by (safe here —
    * the per-group price extremes are unique in this data, asserted by
    * the oracle match) and bool_and/bool_or.
    */
  def aggExtras(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy("o_orderstatus")
      .agg(
        // struct ordering key = deterministic tie-break: replicated
        // corpora (sf1) hold MANY orders at the extreme price, and
        // bare min_by/max_by pick an arbitrary attaining row — the
        // (price, key) lexicographic order pins min-key/max-key
        expr("min_by(o_orderkey, struct(o_totalprice, o_orderkey))").as("cheapest_order"),
        expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").as("priciest_order"),
        expr("bool_and(o_totalprice > 1000)").as("all_above_1k"),
        expr("bool_or(o_totalprice > 500000)").as("any_above_500k")
      )
      .orderBy("o_orderstatus")

  /** Correlated LATERAL subquery: each customer's top-2 orders via a
    * per-row ordered-limit subquery — Catalyst decorrelates the LATERAL
    * into a ranked join (no per-row execution). The window-function
    * formulation of the same shape is `windowTop3PerCustomer`; this is
    * the SQL-surface twin.
    */
  def lateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("lat_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("lat_orders")
    spark.sql(
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM lat_customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM lat_orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin
    )
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the NULL
    * key forms a real join group instead of being dropped — the
    * semantics plain `=` silently loses.
    */
  /** NOT IN's three-valued-logic trap, pinned: with a NULL anywhere in
    * the subquery result, `x NOT IN (...)` can never be TRUE (it is
    * FALSE on a match, NULL otherwise), so the poisoned count is
    * exactly 0 — Spark plans this as a null-aware anti join, and a
    * plain LEFT ANTI rewrite would get it wrong. Both counts in one
    * row so the oracle pins the cliff, not just one side.
    */
  def notInNullAware(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("na_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("na_customer")
    spark.sql(
      """SELECT
        |  (SELECT count(*) FROM na_orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM na_customer
        |                           WHERE c_custkey >= 100)) AS n_without_null,
        |  (SELECT count(*) FROM na_orders
        |   WHERE o_custkey NOT IN (SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL
        |                                       ELSE c_custkey END
        |                           FROM na_customer)) AS n_with_null""".stripMargin
    )
  }

  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val o    = Tables.orders(spark, dir)
    val left = o.select(nullif(col("o_orderstatus"), lit("O")).as("k"))
    val right = o
      .select(nullif(col("o_orderstatus"), lit("O")).as("k2"))
      .distinct()
    left
      .join(right, col("k") <=> col("k2"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** TPC-H Q8-style national market share: NATION_1's share of ASIA's
    * PROMO-part order volume by year — a ratio of two conditional sums
    * over a 7-way join (all dimensions broadcast). The share divides
    * two rounded sums, so both engines divide identical doubles.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val nCust = Tables.nation(spark, dir).select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val nSupp = Tables.nation(spark, dir).select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val r     = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    Tables
      .lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir).filter(col("p_type") === "PROMO")), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nCust), col("c_nationkey") === col("cn_key"))
      .join(broadcast(r), col("cn_region") === col("r_regionkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("sn_key"))
      .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (round(sum(when(col("supp_nation") === "NATION_1", col("volume")).otherwise(0.0)), 4) /
          round(sum(col("volume")), 4)).as("mkt_share")
      )
      .orderBy("o_year")
  }

  /** TPC-H Q9-style product-type profit (adapted: no partsupp table,
    * so supply cost is modeled as 10% of the part's retail price):
    * profit by supplier nation and order year over red-named parts.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .join(
        broadcast(Tables.part(spark, dir).filter(col("p_name").like("%red%"))),
        col("l_partkey") === col("p_partkey")
      )
      .join(broadcast(Tables.supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        round(
          sum(
            col("l_extendedprice") * (lit(1) - col("l_discount")) -
              lit(0.1) * col("p_retailprice") * col("l_quantity")
          ),
          4
        ).as("profit")
      )
      .orderBy(col("nation"), col("o_year").desc)

  /** Correlated scalar subquery flavor: each order against its
    * customer's average order value (expressed as join+window-free
    * aggregate; the declarative form Catalyst decorrelates).
    */
  def ordersVsCustomerAvg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val avgPerCust = o.groupBy(col("o_custkey").as("ac_custkey")).agg(avg("o_totalprice").as("cust_avg"))
    o.join(avgPerCust, col("o_custkey") === col("ac_custkey"))
      .filter(col("o_totalprice") > col("cust_avg") * 1.5)
      .select("o_orderkey", "o_custkey")
      .orderBy("o_orderkey")
  }

  /** Exact interval-overlap join — pairs of rows whose [start, end]
    * intervals intersect (closed endpoints: l.start ≤ r.end AND
    * r.start ≤ l.end). The naive form is a cross join with an
    * inequality predicate — the classic non-equi-join trap Spark plans
    * as a nested loop. This is the scale path: every interval emits
    * the time BINS it covers (epoch-seconds div `binSeconds`), the
    * candidate join is an EQUI-join on the bin (overlapping intervals
    * share the bin of any common instant — a necessary condition), a
    * distinct collapses multi-bin pairs, and the exact predicate
    * re-verifies on the original values. Candidate volume rides
    * concurrency per bin, never |L|×|R|; `binSeconds` trades explode
    * width (long intervals emit more bins) against bin density (hot
    * bins pair more candidates) — set it near the typical interval
    * length. Inputs keep arbitrary payload columns; output is one row
    * per overlapping pair as two structs `l` and `r` plus the exact
    * overlap length in integer MICROseconds (`overlap_us` — float-free
    * and cross-engine exact). `extraCond` (over `l.*`/`r.*`) prunes inside
    * the candidate join — e.g. "different user", or `l.id < r.id` for
    * a self-join — before the distinct. Rows with end < start are
    * dropped (an inverted interval covers no instant).
    */
  def intervalOverlapJoin(
      left: DataFrame,
      right: DataFrame,
      startCol: String = "start",
      endCol: String = "end",
      binSeconds: Long = 3600L,
      extraCond: org.apache.spark.sql.Column = lit(true)
  ): DataFrame = {
    require(binSeconds >= 1, s"binSeconds must be >= 1, got $binSeconds")
    def binned(df: DataFrame, side: String) =
      df.filter(col(endCol) >= col(startCol))
        .select(
          struct(df.columns.toIndexedSeq.map(col): _*).as(side),
          explode(
            sequence(
              floor(col(startCol).cast("long") / binSeconds).cast("long"),
              floor(col(endCol).cast("long") / binSeconds).cast("long")
            )
          ).as("__bin")
        )
    val cand = binned(left, "l")
      .join(binned(right, "r"), Seq("__bin"))
      .filter(extraCond)
      .select("l", "r")
      .distinct()
    cand
      .filter(
        col(s"l.$startCol") <= col(s"r.$endCol") && col(s"r.$startCol") <= col(s"l.$endCol")
      )
      .withColumn(
        "overlap_us",
        unix_micros(least(col(s"l.$endCol"), col(s"r.$endCol"))) -
          unix_micros(greatest(col(s"l.$startCol"), col(s"r.$startCol")))
      )
  }

  /** 2-D skyline (Pareto frontier): rows not dominated on
    * (minimize `minCol`, maximize `maxCol`). q dominates p iff
    * q.min <= p.min ∧ q.max >= p.max with at least one strict — equal
    * pairs do not dominate each other, so exact duplicates all survive.
    *
    * Shape (Börzsönyi et al., ICDE 2001, adapted to the sort-based 2-D
    * special case): a row is dominated iff
    *   (a) some row with strictly smaller `minCol` has `maxCol` >= mine, or
    *   (b) some row with the same `minCol` has `maxCol` > mine.
    * Both reduce to per-`minCol`-group maxima plus a strict-prefix
    * running max — no pairwise join anywhere.
    *
    * Scale: the per-group aggregate shuffles on `minCol` (same shuffle
    * both passes). The prefix-max window runs first PARTITIONED by a
    * hash bucket of `minCol`-groups (parallel, bounded partitions);
    * bucket-local survivors are a sound pre-filter (a globally
    * undominated row is undominated in every subset), and the exact
    * unpartitioned window then runs only over the pre-filtered
    * candidate set — O(skyline × buckets) rows, thousands at 100 TB,
    * never the data. No stage is quadratic or single-partition over
    * the input.
    */
  def skyline(df: DataFrame, minCol: String, maxCol: String, buckets: Int = 32): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    def pass(in: DataFrame, bucketed: Boolean): DataFrame = {
      val withB =
        if (bucketed) in.withColumn("__b", pmod(hash(col(minCol)), lit(buckets)))
        else in.withColumn("__b", lit(0))
      val grp = withB
        .groupBy(col("__b"), col(minCol))
        .agg(max(col(maxCol)).as("__gmax"))
      val w = Window
        .partitionBy("__b")
        .orderBy(minCol)
        .rowsBetween(Window.unboundedPreceding, -1)
      val pref = grp.withColumn("__pmax", max(col("__gmax")).over(w))
      withB
        .join(pref, Seq("__b", minCol))
        .filter(
          (col("__pmax").isNull || col("__pmax") < col(maxCol)) && !(col("__gmax") > col(maxCol))
        )
        .select(in.columns.toIndexedSeq.map(col): _*) // join keys came first; restore caller order
    }
    pass(pass(df, bucketed = true), bucketed = false)
  }

  /** Market-basket pair mining (the candidate-pair core of Apriori,
    * Agrawal/Srikant VLDB 1994, to the 2-itemset level): parts that
    * co-occur in at least `minSupport` orders, with their co-occurrence
    * counts. Frequent-item pruning FIRST (the Apriori property: a pair
    * can only be frequent if both items are), so the within-basket
    * pair explosion runs on the pruned basket — and the explosion is
    * HARD-BOUNDED by `maxBasketItems` ([[prunedCappedBaskets]]), never
    * by input shape: a pathological mega-basket is capped to its
    * highest-support items instead of owning a quadratic task.
    * Shuffles: item-count agg, basket re-join, pair-count agg — all
    * hash-partitioned; nothing pairwise across baskets. Pure integer
    * counts.
    */
  def basketPairs(
      spark: SparkSession,
      dir: String,
      minSupport: Long = 2L,
      maxBasketItems: Int = 256
  ): DataFrame =
    basketPairsFrom(lineitemBaskets(spark, dir), minSupport, maxBasketItems)

  /** The `(okey, item)` basket relation the market-basket family runs on. */
  private def lineitemBaskets(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("item"))
      .distinct()

  /** Frequent-item-pruned baskets with the within-basket fan-out BOUND
    * (the [[itemNeighborsFrom]] cap, shared by the whole basket
    * family): each basket deterministically keeps its `maxBasketItems`
    * highest-support items (ties to the smaller item id) — the items
    * whose pairs can reach `minSupport` anyway — so the |basket|²/2
    * pair fan-out is bounded by maxBasketItems²/2 per basket
    * regardless of input shape (one crawler-session mega-basket would
    * otherwise own a quadratic task at scale). The cap window
    * partitions by the basket key, the same partitioning the pair
    * generation needs next, so Spark reuses the exchange.
    */
  private def prunedCappedBaskets(baskets: DataFrame, itemSup: DataFrame, maxBasketItems: Int): DataFrame = {
    require(
      maxBasketItems >= 2,
      s"basket mining needs maxBasketItems >= 2 (pairs need 2 items), got $maxBasketItems"
    )
    baskets
      .join(itemSup.select(col("item"), col("s").as("__s")), Seq("item"))
      .withColumn("__bk", row_number().over(Window.partitionBy("okey").orderBy(col("__s").desc, col("item"))))
      .filter(col("__bk") <= maxBasketItems)
      .select("okey", "item")
  }

  /** Within-basket pair occurrences (`item_a` < `item_b`, one row per
    * basket containing both). The pairing aggregate REUSES the cap
    * window's okey exchange (guide §2.4 — two operations keyed the same
    * way share one exchange), so the upstream runs once; per-basket
    * work is maxBasketItems²/2-bounded.
    */
  private def basketPairOccurrences(pruned: DataFrame): DataFrame =
    Dedup
      .bucketPairs(pruned, Seq("okey"), col("item"), Int.MaxValue)
      .select(col("a").as("item_a"), col("b").as("item_b"))

  /** [[basketPairs]] core over an explicit `(okey, item)` relation. */
  private[graft] def basketPairsFrom(
      baskets: DataFrame,
      minSupport: Long = 2L,
      maxBasketItems: Int = 256
  ): DataFrame = {
    val itemSup = baskets
      .groupBy("item")
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= minSupport)
    val pruned = prunedCappedBaskets(baskets, itemSup, maxBasketItems)
    basketPairOccurrences(pruned)
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("pair_support"))
      .filter(col("pair_support") >= minSupport)
      .orderBy("item_a", "item_b")
  }

  /** Association rules from the frequent pairs: each surviving pair
    * fans into its two directed rules A→B / B→A with
    * confidence = pair_support / antecedent_support and
    * lift = pair_support · n_baskets / (ant_support · cons_support)
    * (Agrawal–Srikant Apriori, public knowledge). Exactness: the
    * confidence FILTER is the integer cross-multiplication
    * `100·pair ≥ minConfPct·ant` (never a float compare), and the
    * emitted confidence/lift are single int/int IEEE divisions of
    * exact longs — bitwise identical in any engine, left unrounded per
    * repo convention (the long products stay < 2⁶³ until
    * baskets·pair_support ≈ 9e18 — loud to the reader, not reachable
    * at any tested scale).
    *
    * Scale: rides [[basketPairs]]'s Apriori pruning AND the
    * [[prunedCappedBaskets]] per-basket fan-out bound, then one 2-way
    * explode + two item-keyed support joins + one broadcast scalar for
    * the basket total. Nothing beyond the pair relation is shuffled.
    */
  def basketRules(
      spark: SparkSession,
      dir: String,
      minSupport: Long = 2L,
      minConfPct: Long = 5L,
      maxBasketItems: Int = 256
  ): DataFrame = {
    val baskets = lineitemBaskets(spark, dir)
      .localCheckpoint(eager = false) // consumers: item supports + basket total
    val itemSup = baskets
      .groupBy("item")
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= minSupport)
      .localCheckpoint(eager = false) // consumers: cap + both rule-side supports
    val pruned = prunedCappedBaskets(baskets, itemSup, maxBasketItems)
    val pairs = basketPairOccurrences(pruned)
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("pair_support"))
      .filter(col("pair_support") >= minSupport)
    val nBaskets = baskets.agg(countDistinct("okey").as("n_baskets"))
    pairs
      .select(
        explode(
          array(
            struct(col("item_a").as("antecedent"), col("item_b").as("consequent"), col("pair_support")),
            struct(col("item_b").as("antecedent"), col("item_a").as("consequent"), col("pair_support"))
          )
        ).as("r")
      )
      .select(col("r.antecedent"), col("r.consequent"), col("r.pair_support"))
      .join(itemSup.select(col("item").as("antecedent"), col("s").as("ant_support")), "antecedent")
      .join(itemSup.select(col("item").as("consequent"), col("s").as("cons_support")), "consequent")
      .crossJoin(broadcast(nBaskets)) // 1-row scalar aggregate (repo convention)
      .filter(col("pair_support") * 100L >= col("ant_support") * minConfPct)
      .select(
        col("antecedent"),
        col("consequent"),
        col("pair_support"),
        col("ant_support"),
        col("cons_support"),
        col("n_baskets"),
        (col("pair_support").cast("double") / col("ant_support")).as("confidence"),
        ((col("pair_support") * col("n_baskets")).cast("double") /
          (col("ant_support") * col("cons_support"))).as("lift")
      )
      .orderBy("antecedent", "consequent")
  }

  /** Exact k-th order statistic by iterative HISTOGRAM REFINEMENT —
    * distributed selection without a global sort: each round bins the
    * current candidate interval into ≤1024 equi-width buckets with ONE
    * columnar aggregate, walks the (driver-side, ≤1024-row) cumulative
    * to find the bucket holding the k-th value, and recurses into it.
    * O(log₁₀₂₄ range) full scans, zero shuffled sorts, driver state
    * bounded by the bucket count — the selection-network answer to
    * "exact median of 100 TB" where `orderBy().limit(k)` would sort
    * the world and percentile sketches would approximate. Values must
    * be longs (fixed-point your decimals first); k is 1-based.
    */
  def exactKth(df: DataFrame, valueCol: String, k: Long): Long = {
    val vals = df.select(col(valueCol).cast("long").as("v")).filter(col("v").isNotNull)
    val firstRow = vals.agg(min("v"), max("v"), count(lit(1))).head()
    require(!firstRow.isNullAt(2) && firstRow.getLong(2) > 0, "exactKth on an empty relation")
    val n = firstRow.getLong(2)
    require(k >= 1 && k <= n, s"k=$k out of [1, $n]")
    var lo   = firstRow.getLong(0)
    var hi   = firstRow.getLong(1)
    var kk   = k
    // Full-long-domain safety: when hi−lo overflows 64-bit (lo<0, hi>0
    // with a span > Long.MaxValue — the wrapped difference is always
    // negative), ONE sign-split round (a single count of the negative
    // half) narrows to a half whose span, and every v−lo inside it,
    // fits a long exactly. Everything after runs overflow-free.
    if (lo < 0L && hi > 0L && hi - lo < 0L) {
      val negCount = vals.filter(col("v") >= lo && col("v") < 0L).count()
      if (kk <= negCount) hi = -1L else { kk -= negCount; lo = 0L }
    }
    while (hi > lo) {
      val width = math.max(1L, (hi - lo) / 1024L + 1L)
      val hist = vals
        .filter(col("v") >= lo && col("v") <= hi)
        // integer DIV, not double `/`: double division mis-bins
        // boundary values once the span exceeds 2^53, silently
        // corrupting the order statistic on wide fixed-point domains
        .groupBy(expr(s"(v - ${lo}L) DIV ${width}L").as("b"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .map(r => r.getLong(0) -> r.getLong(1))
        .sortBy(_._1)
      var cum    = 0L
      var bucket = -1L
      var inB    = 0L
      val it     = hist.iterator
      while (it.hasNext && bucket < 0) {
        val (b, c) = it.next()
        if (cum + c >= kk) { bucket = b; inB = kk - cum } else cum += c
      }
      require(bucket >= 0, s"histogram walk lost k=$kk — counts changed underfoot")
      kk = inB
      val newLo = lo + bucket * width
      // hi−newLo always fits (≤ hi−lo); newLo+width−1 would wrap when
      // hi sits near Long.MaxValue, so compare by difference instead
      val newHi = if (hi - newLo < width) hi else newLo + width - 1L
      lo = newLo
      hi = newHi
      if (width == 1L) return lo
    }
    lo
  }

  /** GROUPED exact k-th order statistic — [[exactKth]]'s histogram
    * refinement run for EVERY group simultaneously: each round is ONE
    * columnar aggregate over `(group, bucket)` (≤ groups×1024 rows to
    * the driver), each group's candidate interval narrows
    * independently, and resolved groups drop out of the scan filter.
    * O(log₁₀₂₄ range) full scans total — independent of group count —
    * where a per-group sort would shuffle the world and
    * `percentile`-style aggregates would buffer every value. Driver
    * state is O(groups×1024), bounded by a loud `maxGroups` require
    * (this is the low-cardinality-segment operator: per status, per
    * flag, per language — not a per-key operator). `kOf` maps each
    * group's row count to the wanted 1-based rank (e.g. lower median
    * `(n+1)/2`). Same full-long-domain discipline as [[exactKth]]:
    * integer DIV bucketing, per-group sign-split when hi−lo overflows,
    * difference-based interval narrowing.
    */
  def groupedExactKth(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      kOf: Long => Long,
      maxGroups: Int = 64
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(col(groupCol).cast("string").as("g"), col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
      .localCheckpoint(eager = false)
    val head = base
      .groupBy("g")
      .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
      .collect()
    require(head.nonEmpty, "groupedExactKth on an empty relation")
    require(
      head.length <= maxGroups,
      s"groupedExactKth holds O(groups*1024) driver state: ${head.length} groups > maxGroups=$maxGroups — " +
        "this is the low-cardinality-segment operator; raise the cap only if that state is acceptable"
    )
    // mutable per-group state: (lo, hi, remaining k)
    val state = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    head.foreach { r =>
      val n = r.getLong(3)
      val k = kOf(n)
      require(k >= 1 && k <= n, s"k=$k out of [1, $n] for group ${r.getString(0)}")
      state(r.getString(0)) = (r.getLong(1), r.getLong(2), k)
    }
    // per-group sign-split when hi-lo overflows 64-bit (see exactKth):
    // one shared aggregate counts each affected group's negative half
    val wide = state.filter { case (_, (lo, hi, _)) => lo < 0L && hi > 0L && hi - lo < 0L }.keySet.toSeq
    if (wide.nonEmpty) {
      val negs = base
        .filter(col("g").isin(wide: _*) && col("v") < 0L)
        .groupBy("g")
        .agg(count(lit(1)).as("c"))
        .collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .toMap
      wide.foreach { g =>
        val (lo, hi, k) = state(g)
        val nc          = negs.getOrElse(g, 0L)
        state(g) = if (k <= nc) (lo, -1L, k) else (0L, hi, k - nc)
      }
    }
    var active = state.filter { case (_, (lo, hi, _)) => hi > lo }.keySet.toSeq.sorted
    while (active.nonEmpty) {
      // one pass: every active group binned against ITS interval via a
      // broadcast join with the tiny state relation (integer DIV)
      val st = active
        .map { g => val (lo, hi, _) = state(g); (g, lo, hi, math.max(1L, (hi - lo) / 1024L + 1L)) }
        .toDF("g", "__lo", "__hi", "__w")
      val hist = base
        .join(broadcast(st), Seq("g"))
        .filter(col("v") >= col("__lo") && col("v") <= col("__hi"))
        .groupBy(col("g"), expr("(v - __lo) DIV __w").as("b"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .groupBy(_.getString(0))
      active.foreach { g =>
        val (lo, hi, kk) = state(g)
        val width        = math.max(1L, (hi - lo) / 1024L + 1L)
        val buckets = hist
          .getOrElse(g, Array.empty)
          .map(r => r.getLong(1) -> r.getLong(2))
          .sortBy(_._1)
        var cum    = 0L
        var bucket = -1L
        var inB    = 0L
        val it     = buckets.iterator
        while (it.hasNext && bucket < 0) {
          val (b, c) = it.next()
          if (cum + c >= kk) { bucket = b; inB = kk - cum } else cum += c
        }
        require(bucket >= 0, s"histogram walk lost k=$kk in group $g — counts changed underfoot")
        val newLo = lo + bucket * width
        val newHi = if (hi - newLo < width) hi else newLo + width - 1L
        state(g) = (newLo, if (width == 1L) newLo else newHi, inB)
      }
      active = state.filter { case (_, (lo, hi, _)) => hi > lo }.keySet.toSeq.sorted
    }
    state.toSeq
      .map { case (g, (lo, _, _)) => (g, lo) }
      .toDF(groupCol, valueCol)
      .orderBy(groupCol)
  }

  /** Two-phase NTILE — built-in `ntile(t).over(orderBy(...))` without
    * the single-partition global sort: the data-sized window is
    * PARTITIONED by a coarse block key that is a monotone prefix of
    * the ordering (so cross-block order is already settled), and the
    * cross-block rank offsets come from an O(#blocks) DIRECTORY
    * relation cumulated with a directory-sized window partitioned by
    * `partCols` — the exact
    * [[graft.operators.Evaluation.cumulativeByScore]] pattern, fully
    * distributed: no driver-side state at any block count (the former
    * `collect()` + driver prefix-sum capped at 2²¹ blocks; the window
    * form has no cap to document). The bucket is then closed-form from
    * the global rank: SQL NTILE gives the first `n mod t` tiles
    * `n div t + 1` rows and the rest `n div t`, which both Spark and
    * DuckDB implement identically, so the oracle replays with the
    * built-in.
    *
    * Caller contract (not checkable cheaply, so documented):
    *   - `orderCols` totally order each `partCols` group (include a
    *     unique tiebreak);
    *   - `blkCols` cast to non-null longs and order lexicographically
    *     consistently with `orderCols` (e.g. the leading order key
    *     itself plus a sub-block of the NEXT key when the leading key
    *     has heavy tie classes; a range-quantized leading key may NOT
    *     be followed by a sub-block of a later key — that would
    *     reorder across blocks).
    *
    * Scale: the per-block window sorts bounded runs in parallel; the
    * directory is blocks-sized (≪ data), its prefix-sum window is
    * partitioned by `partCols` (directory-sized even when `partCols`
    * is empty — the [[graft.operators.Evaluation.cumulativeByScore]]
    * convention), and the offsets broadcast back for the rank join.
    */
  private[graft] def ntileTwoPhase(
      df: DataFrame,
      partCols: Seq[String],
      orderCols: Seq[org.apache.spark.sql.Column],
      blkCols: Seq[org.apache.spark.sql.Column],
      tiles: Int,
      outCol: String,
      maxBlocks: Long = 1L << 21
  ): DataFrame = {
    require(tiles >= 1, s"ntileTwoPhase needs tiles >= 1, got $tiles")
    require(blkCols.nonEmpty, "ntileTwoPhase needs at least one block column")
    require(maxBlocks >= 1, s"ntileTwoPhase needs maxBlocks >= 1, got $maxBlocks")
    val bNames = blkCols.indices.map(i => s"__blk$i")
    val base = bNames
      .zip(blkCols)
      .foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c.cast("long")) }
      .localCheckpoint(eager = false) // two consumers: directory + ranked join
    val keys = partCols ++ bNames
    val w    = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    val dir  = base.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bc"))
    // per-part exclusive prefix sums + totals over the directory: both
    // windows run on O(#blocks) rows, partitioned by partCols
    val offW = Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(bNames.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.partitionBy(partCols.map(col): _*)
    // loudness guard on the coarse-block caller contract: a caller
    // whose blkCols are near-unique would silently turn the
    // "directory-sized" unpartitioned prefix-sum window into a
    // single-partition sort over the DATA — refuse in the row path
    // (directory-sized count over the same totW window, no extra
    // action) instead of degrading
    val offsets = dir
      .withColumn(
        "__nblk",
        count(lit(1)).over(totW)
      )
      .withColumn(
        "__off",
        when(
          col("__nblk") > maxBlocks,
          raise_error(
            concat(
              lit(s"ntileTwoPhase: block directory exceeds maxBlocks=$maxBlocks in one partition ("),
              col("__nblk"),
              lit(" blocks) — blkCols must be COARSE (caller contract); pass a larger maxBlocks only with a data-independent block key")
            )
          ).cast("long")
        ).otherwise(coalesce(sum("__bc").over(offW), lit(0L)))
      )
      .withColumn("__n", sum("__bc").over(totW))
      .select((keys.map(col) :+ col("__off") :+ col("__n")): _*)
    val t = tiles.toLong
    base
      .withColumn("__rnb", row_number().over(w).cast("long"))
      .join(broadcast(offsets), keys)
      .withColumn("__rank", col("__off") + col("__rnb"))
      .withColumn(
        outCol,
        expr(
          s"""CASE WHEN __rank <= (__n % $t) * (__n DIV $t + 1)
             |     THEN (__rank - 1) DIV (__n DIV $t + 1) + 1
             |     ELSE (__n % $t) + (__rank - (__n % $t) * (__n DIV $t + 1) - 1) DIV greatest(__n DIV $t, 1) + 1
             |END""".stripMargin
        )
      )
      .drop((bNames ++ Seq("__rnb", "__off", "__n", "__rank")): _*)
  }

  /** Daily open-order backlog — the SWEEP-LINE (interval-stabbing)
    * aggregate: every order contributes +1 at its order date and −1
    * the day after its last lineitem ship date, and the running sum of
    * net deltas over the date directory is the number of orders open
    * on each day. The interval relation never joins against a spine
    * and never self-joins: billions of intervals reduce to TWO delta
    * rows each, one partial-agg shuffle folds them to the bounded
    * calendar directory, and the cumulative runs with
    * [[graft.operators.Evaluation.cumulativeByScore]]'s two-phase
    * block pattern — no data-sized window anywhere. Pure integers.
    */
  def openOrderBacklog(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(max(to_date(col("l_shipdate"))).as("last_ship"))
    val o = Tables
      .orders(spark, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("od"), coalesce(col("last_ship"), col("od")).as("cd"))
      .localCheckpoint(eager = false) // consumers: +1 and −1 delta sides
    val deltas = o
      .select(col("od").as("day"), lit(1L).as("y"))
      .unionByName(o.select(date_add(col("cd"), 1).as("day"), lit(-1L).as("y")))
      .select(datediff(col("day"), lit("1970-01-01").cast("date")).cast("long").as("s"), col("y"))
    Evaluation
      .cumulativeByScore(deltas)
      .select(
        expr("DATE_ADD(DATE '1970-01-01', CAST(s AS INT))").as("day"),
        (col("c_p") + col("p_s")).as("n_open")
      )
      .orderBy("day")
  }

  /** Exact per-group OLS slope (price-per-quantity by return flag) via
    * the closed form slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) — the
    * regression coefficient as ONE hash aggregate of four exact
    * integer sums (quantities are integral, prices fixed-pointed to
    * cents), no covariance floats anywhere. The four sums stay in
    * longs (Σxy ≲ 4×10¹⁵ at sf1, loud to the reader); the combined
    * numerator/denominator grow as n·Σ — past 2⁶³ at sf1 — so the
    * combination runs in DECIMAL(38,0) ([[graft.operators.Evaluation]]
    * aucExact's convention) and the emitted slope is the quotient of
    * the two decimals' correctly-rounded double conversions (one
    * identical IEEE division in any engine).
    */
  def groupOlsSlope(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(
        col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y")
      )
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"),
        sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx")
      )
      .select(
        col("l_returnflag"),
        col("n"),
        col("sx"),
        col("sy"),
        col("sxy"),
        col("sxx"),
        ((col("n").cast("decimal(38,0)") * col("sxy") - col("sx").cast("decimal(38,0)") * col("sy"))
          .cast("double") /
          (col("n").cast("decimal(38,0)") * col("sxx") - col("sx").cast("decimal(38,0)") * col("sx"))
            .cast("double")).as("slope_cents_per_unit")
      )
      .orderBy("l_returnflag")

  /** `group_exact_median` query body: exact LOWER MEDIAN of lineitem
    * extended price (cents — exact fixed-point longs) per return
    * flag: three segments, one histogram-refinement loop, no sorts.
    */
  def groupExactMedianPrice(spark: SparkSession, dir: String): DataFrame =
    groupedExactKth(
      Tables
        .lineitem(spark, dir)
        .select(col("l_returnflag"), round(col("l_extendedprice") * 100).cast("long").as("price_cents")),
      "l_returnflag",
      "price_cents",
      n => (n + 1) / 2
    )

  /** Frequent 3-itemsets — the Apriori level-3 completion of
    * [[basketPairs]]. Downward closure does the pruning: a frequent
    * triple's sub-pairs are all frequent, so within-order triple
    * enumeration runs over FREQUENT-PAIR occurrences only — the
    * third leg joins the pair occurrence to the order's remaining
    * frequent items and semi-joins both new edges ((a,c) and (b,c))
    * against the frequent-pair list before counting. Everything is a
    * basket- or pair-keyed equi-join (never an item cross product);
    * integer supports replay exactly, and the oracle may replay the
    * NAIVE triple count because closure makes the pruned and naive
    * ≥-minSupport sets identical.
    */
  def basketTriples(spark: SparkSession, dir: String, minSupport: Long = 2L): DataFrame = {
    // mined at PART-FAMILY grain (partkey mod 2000) over a bounded
    // order window: triple support needs repeated co-occurrence, and
    // at sf1 the raw item space dilutes every triple below any fixed
    // support — family contraction + the fixed window keep the
    // frequent-triple set non-degenerate at every scale factor
    val baskets = Tables
      .lineitem(spark, dir)
      .filter(col("l_orderkey") < 60000L)
      .select(col("l_orderkey").as("okey"), (col("l_partkey") % 2000L).as("item"))
      .distinct()
    val frequent = baskets
      .groupBy("item")
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= minSupport)
      .select("item")
    val pruned = baskets.join(frequent, Seq("item")).localCheckpoint(eager = false)
    // within-order pair occurrences, generated once; okey rides the
    // member and is constant in its group
    val occ = Dedup
      .bucketPairs(pruned, Seq("okey"), struct(col("okey"), col("item")), Int.MaxValue)
      .select(col("a.okey").as("okey"), col("a.item").as("ia"), col("b.item").as("ib"))
      .localCheckpoint(eager = false) // consumers: pair supports + the po semi-join
    val fp = occ
      .groupBy(col("ia").as("pa"), col("ib").as("pb"))
      .agg(count(lit(1)).as("ps"))
      .filter(col("ps") >= minSupport)
      .select("pa", "pb")
      .localCheckpoint(eager = false)
    // within-order occurrences of frequent pairs
    val po = occ
      .join(fp, col("ia") === col("pa") && col("ib") === col("pb"))
      .select("okey", "ia", "ib")
    po
      .join(pruned.alias("z"), col("z.okey") === po("okey") && col("z.item") > col("ib"))
      .select(col("ia"), col("ib"), col("z.item").as("ic"))
      .join(fp, col("ib") === col("pa") && col("ic") === col("pb"))
      .select("ia", "ib", "ic")
      .join(fp, col("ia") === col("pa") && col("ic") === col("pb"))
      .groupBy(col("ia").as("item_a"), col("ib").as("item_b"), col("ic").as("item_c"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy("item_a", "item_b", "item_c")
  }

  /** Item-item collaborative-filtering neighbors ("customers who
    * bought X also bought Y"): Jaccard similarity over basket sets,
    * `sim(a,b) = cooc / (supp_a + supp_b − cooc)`, with per-item top-k
    * selection — the classic item-based recommender precompute
    * (Sarwar et al., WWW 2001; Amazon's item-to-item CF).
    *
    * Scale shape: Apriori pruning ([[basketPairs]]) bounds the
    * within-basket pairing to frequent items, co-occurrence is ONE
    * basket-keyed pairing + counting aggregate (never an item-item
    * cross product), and the top-k window partitions by item. All
    * counts are integers and `sim` is an int/int quotient — both
    * engines divide the same longs, so the doubles (and therefore the
    * ranking and the hash) replay exactly; ties break on the neighbor
    * id for a total order.
    */
  def itemItemNeighbors(spark: SparkSession, dir: String, k: Int = 5, minSupport: Long = 3L): DataFrame =
    itemNeighborsFrom(
      Tables
        .lineitem(spark, dir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("item"))
        .distinct(),
      k,
      minSupport
    )

  /** [[itemItemNeighbors]] core over an explicit `(okey, item)` basket
    * relation. `maxBasketItems` bounds the within-basket pair fan-out:
    * pairing emits |basket|²/2 pairs per basket, and one
    * pathological mega-basket (a crawler session, a bot cart) would
    * otherwise own the job at scale — each basket deterministically
    * keeps its `maxBasketItems` HIGHEST-SUPPORT items (ties to the
    * smaller item id), the items whose pairs can reach `minSupport`
    * anyway, so the worst task is bounded by maxBasketItems²/2
    * regardless of input shape. The cap window partitions by basket
    * key — the same partitioning the pair generation needs next, so
    * Spark reuses the exchange.
    */
  def itemNeighborsFrom(
      baskets: DataFrame,
      k: Int = 5,
      minSupport: Long = 3L,
      maxBasketItems: Int = 256
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"itemNeighborsFrom needs k >= 1, got $k")
    require(maxBasketItems >= 2, s"itemNeighborsFrom needs maxBasketItems >= 2 (pairs need 2 items), got $maxBasketItems")
    val freq = baskets
      .groupBy("item")
      .agg(count(lit(1)).as("s"))
      .filter(col("s") >= minSupport)
      .localCheckpoint(eager = false)
    val pruned = baskets
      .join(freq.select(col("item"), col("s").as("__s")), Seq("item"))
      .withColumn("__bk", row_number().over(Window.partitionBy("okey").orderBy(col("__s").desc, col("item"))))
      .filter(col("__bk") <= maxBasketItems)
      .select("okey", "item")
    // pairs from Dedup.bucketPairs, measured against the okey
    // self-join (cold-JVM graft.Bench A/B at local[4], median [Q1, Q3]
    // s, self-join → bucketPairs): sf0.1 (8 pairs, 3 reps) 4.20 [3.67, 4.49]
    // → 3.98 [3.46, 4.27], 5 of 8 pairs won; sf1 (3 pairs, 1 rep)
    // 24.29 [22.82, 26.60] → 24.41 [24.18, 26.10], inside the spread.
    //
    // the symmetrize union below consumes `pairs` TWICE — without the
    // checkpoint the whole pair-generation pipeline is planned once per
    // union arm
    val pairs = Dedup
      .bucketPairs(pruned, Seq("okey"), col("item"), Int.MaxValue)
      .groupBy(col("a").as("ia"), col("b").as("ib"))
      .agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= 2L)
      .localCheckpoint(eager = false)
    val sym = pairs
      .select(col("ia").as("item"), col("ib").as("nbr"), col("cooc"))
      .unionByName(pairs.select(col("ib").as("item"), col("ia").as("nbr"), col("cooc")))
    sym
      .join(freq.select(col("item"), col("s").as("sa")), Seq("item"))
      .join(freq.select(col("item").as("nbr"), col("s").as("sb")), Seq("nbr"))
      .withColumn("sim", col("cooc").cast("double") / (col("sa") + col("sb") - col("cooc")))
      .withColumn("rnk", row_number().over(Window.partitionBy("item").orderBy(col("sim").desc, col("nbr"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("item"), col("rnk"), col("nbr"), col("cooc"), col("sim"))
      .orderBy("item", "rnk")
  }

  /** Cohort LTV triangle: customers grouped by first-order month
    * (cohort), revenue rolled up by months-since-cohort (age) — the
    * lifetime-value retention triangle. All integers (exact cents,
    * month arithmetic on truncated dates); two hash aggregates and
    * one equi-join on customer, no windows at all.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_custkey"),
        trunc(to_date(col("o_orderdate")), "MM").as("month"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents")
      )
    val cohorts = o.groupBy("o_custkey").agg(min("month").as("cohort_month"))
    o.join(cohorts, "o_custkey")
      .withColumn("age_months", months_between(col("month"), col("cohort_month")).cast("long"))
      .groupBy("cohort_month", "age_months")
      .agg(countDistinct("o_custkey").as("n_customers"), sum("cents").as("cents"))
      .orderBy("cohort_month", "age_months")
  }

  /** ABC (Pareto) revenue classification: parts ranked by exact
    * revenue cents, class A up to 80% of cumulative revenue, B to
    * 95%, C beyond — the classic inventory-concentration analysis.
    * Thresholds compare CROSS-MULTIPLIED integers
    * (cum·100 ≤ total·80), so the class boundary is exact at any
    * scale; ranking ties break on part key.
    *
    * The cumulative previously ran as ONE unpartitioned window over
    * the per-part directory — a data-sized relation (every part)
    * through a single partition, the §2.2 scale-killer the r14 Verify
    * tail warned about. Now the two-phase block+offset pattern
    * ([[graft.operators.Evaluation.cumulativeByScore]]'s shape) keyed
    * on the ORDER key: blocks are equi-width cents ranges (block id
    * monotone in the (cents desc) order, ties stay within one block),
    * in-block prefix sums run hash-partitioned, and only the ≤1025-row
    * block DIRECTORY crosses a single partition. Same longs summed in
    * the same total order — bit-identical cum_cents.
    */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables
      .lineitem(spark, dir)
      .groupBy(col("l_partkey").as("part"))
      .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      .localCheckpoint(eager = false) // consumers: range, blocks, total
    // block id from the sort key: cents desc ⇔ (mx - cents) asc, so
    // blk is non-decreasing along the total order and the block
    // boundary never splits the order (ties on part share one cents
    // value, hence one block)
    val range = perPart.agg(max("cents").as("mx"), min("cents").as("mn"))
    val blocked = perPart
      .crossJoin(broadcast(range))
      .withColumn("__w", greatest(lit(1L), expr("(mx - mn) DIV 1024 + 1")))
      .withColumn("blk", expr("(mx - cents) DIV __w"))
    val inBlk = Window
      .partitionBy("blk")
      .orderBy(col("cents").desc, col("part"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = blocked.withColumn("lc", sum("cents").over(inBlk))
    // O(#blocks) directory: the only unpartitioned window runs here
    val dirW = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = blocked
      .groupBy("blk")
      .agg(sum("cents").as("bc"))
      .withColumn("off", coalesce(sum("bc").over(dirW), lit(0L)))
      .select("blk", "off")
    local
      .join(broadcast(offsets), "blk")
      .withColumn("cum_cents", col("off") + col("lc"))
      .crossJoin(broadcast(perPart.agg(sum("cents").as("total"))))
      .withColumn(
        "abc_class",
        when(col("cum_cents") * 100L <= col("total") * 80L, "A")
          .when(col("cum_cents") * 100L <= col("total") * 95L, "B")
          .otherwise("C")
      )
      .select("part", "cents", "cum_cents", "abc_class")
      .orderBy("part")
  }

  /** Skyline over `part`: cheapest-for-largest frontier on
    * (p_retailprice min, p_size max). Comparison-only on the doubles —
    * no float arithmetic, so the oracle hash-compare is exact.
    */
  def skylineParts(spark: SparkSession, dir: String): DataFrame =
    skyline(
      Tables.part(spark, dir).select("p_partkey", "p_retailprice", "p_size"),
      "p_retailprice",
      "p_size"
    ).orderBy("p_retailprice", "p_size", "p_partkey")
}
