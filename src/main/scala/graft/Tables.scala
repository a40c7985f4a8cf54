package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * All scans are plain parquet reads so Catalyst's column pruning and
  * filter pushdown reach the file format — at 100 TB the difference
  * between a pruned scan and a full scan IS the query time. Do not
  * cache/collect here.
  */
object Tables {

  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Standing-table and scratch names keyed by the data dir: a fixed
    * name plus a per-dir memo would leave the memoized FIRST dir
    * probing an index holding the SECOND dir's corpus when one JVM
    * runs two dirs.
    */
  private[graft] def dirKeyed(base: String, dir: String): String =
    s"${base}_${java.lang.Integer.toHexString(dir.hashCode)}"

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Normalize the physical `ts` encoding of the events table to the
    * engine's canonical pair: `ts` (session-TZ TIMESTAMP at µs) plus
    * `ts_ns` (raw epoch nanos, LONG). The driver's generator has
    * shipped BOTH parquet TIMESTAMP(NANOS) — read as BIGINT under
    * `spark.sql.legacy.parquet.nanosAsLong=true` ([[GraftSession]]) —
    * and timestamp[us] — read as TIMESTAMP_NTZ. Branching on the read
    * dataType keeps every consumer working across regenerations
    * (session TZ is UTC, so the NTZ→TIMESTAMP cast is value-exact).
    */
  def normalizeEventTime(df: DataFrame): DataFrame = {
    val canonical =
      Seq("event_id", "ts", "ts_ns", "user_id", "event_type", "value", "props").map(col)
    df.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) under nanosAsLong: floor-div to µs like DuckDB's NS→TIMESTAMP cast
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
          .select(canonical: _*)
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
          .select(canonical: _*)
      case other =>
        throw new IllegalStateException(s"events.ts read as unsupported type $other")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTime(load(spark, dir, "events"))

  /** Register every table as a temp view (SQL surface / grouping sets). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    starTables.foreach(t => load(spark, dir, t).createOrReplaceTempView(t))
}
