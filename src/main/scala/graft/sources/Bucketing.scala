package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed (pre-partitioned, pre-sorted) tables: the co-located-join
  * answer at 100 TB. Writing both fact tables bucketed + sorted on the
  * join key lets every later join between them plan as a sort-merge
  * join with NO exchange and NO sort — the shuffle is paid once at
  * write time and amortized over every subsequent query.
  */
object Bucketing {

  /** Data-sized bucket-count law for STANDING tables (VERDICT r13
    * item 2): a standing table's bucket count must come from the DATA
    * it holds, not from whatever `spark.sql.shuffle.partitions`
    * happened to be in the session that wrote it — the session knob
    * grows with the data under the partition-sizing law, and a table
    * pinned to an old knob value stops being exchange-free the day
    * the knob moves. The law: enough buckets to keep each bucket at
    * `targetRowsPerBucket` rows, floored at the cluster's
    * defaultParallelism (so a small table still parallelizes across
    * the cores that will iterate over it), rounded UP to a power of
    * two so the rebucket path is always a clean P → 2P split
    * ([[rebucketTo]]). The chosen count is recorded in the table's
    * properties (`graft.buckets`) by [[stampBucketedTable]] — readers
    * size their shuffles from the TABLE, never from the session.
    */
  def chooseBuckets(
      spark: SparkSession,
      rows: Long,
      targetRowsPerBucket: Long = 4L << 20
  ): Int = {
    require(rows >= 0 && targetRowsPerBucket > 0, "invalid bucket sizing inputs")
    val floor = math.max(1, spark.sparkContext.defaultParallelism)
    val need  = math.max(floor.toLong, (rows + targetRowsPerBucket - 1) / targetRowsPerBucket)
    var p = 1
    while (p < need && p < (1 << 20)) p <<= 1
    p
  }

  /** Property keys for standing-table metadata: the bucket count the
    * table was written at (readers pin their shuffle sizing to it) and
    * a content stamp of the prepare inputs (a reader joining two
    * standing tables requires MATCHING stamps, so it can never
    * silently iterate a mass table from dataset A against an edge
    * table from dataset B — the fixed-name-table hazard).
    */
  val BucketsProp = "graft.buckets"
  val StampProp   = "graft.stamp"

  /** Record bucket count + content stamp on a just-written standing
    * table (managed-catalog TBLPROPERTIES, so they survive RENAME and
    * ride through [[swapInCompacted]] re-stamping).
    */
  def stampBucketedTable(spark: SparkSession, table: String, buckets: Int, stamp: String): Unit =
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES ('$BucketsProp' = '$buckets', '$StampProp' = '$stamp')"
    )

  /** Read one graft property off a table (None when absent). */
  def tableProp(spark: SparkSession, table: String, key: String): Option[String] =
    spark
      .sql(s"SHOW TBLPROPERTIES $table")
      .collect()
      .collectFirst { case r if r.getString(0) == key => r.getString(1) }

  /** Read the recorded bucket count of a standing table, refusing
    * loudly when the table predates the stamp (a reader guessing a
    * bucket count is exactly the coupling this law removes).
    */
  def recordedBuckets(spark: SparkSession, table: String): Int =
    tableProp(spark, table, BucketsProp)
      .map(_.toInt)
      .getOrElse(
        throw new IllegalStateException(
          s"$table has no $BucketsProp property — standing tables must be written via a " +
            "prepare that records its data-sized bucket count (Bucketing.stampBucketedTable)"
        )
      )

  /** Require two standing tables to carry the SAME content stamp —
    * the guard that fixed-name tables from different prepares (or
    * different datasets sharing a warehouse) never silently join.
    */
  def requireSameStamp(spark: SparkSession, tables: Seq[String]): String = {
    val stamps = tables.map(t => t -> tableProp(spark, t, StampProp).getOrElse("<missing>"))
    require(
      stamps.map(_._2).distinct.size == 1 && stamps.head._2 != "<missing>",
      s"standing tables disagree on $StampProp — written by different prepares/datasets: " +
        stamps.map { case (t, s) => s"$t=$s" }.mkString(", ")
    )
    stamps.head._2
  }

  /** Persist `df` as a bucketed, sorted managed table. Drops any prior
    * table AND its leftover location — an in-memory catalog from a
    * previous JVM forgets the table but leaves the files, which makes
    * CREATE TABLE AS fail with LOCATION_ALREADY_EXISTS.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    writeBucketedKeys(df, table, buckets, Seq(key))

  /** Multi-column variant: bucket + sort on a composite key (e.g. the
    * LSH index's (band, bucket)).
    */
  def writeBucketedKeys(df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit =
    writeBucketedKeysAligned(df, table, buckets, keys, align = true)

  /** Align the write's partitioning to the BUCKET function before a
    * bucketed write: without it every upstream task writes one file per
    * bucket it holds — measured at 32 tasks × 32 buckets = 1024 files of
    * ~75 KB for `pr_edges_bkt`, and 64–256 files on the KB-sized index
    * tables — paying file-create/commit overhead at write time and
    * per-file open overhead on every later scan (guide §6: small files
    * hurt twice). `HashPartitioning(keys, buckets)` IS the bucket
    * assignment function, so after this exchange partition i holds
    * exactly bucket i → exactly one file per non-empty bucket; when the
    * upstream is already key-aligned (e.g. the prepare's degree join on
    * the bucket key at the same partition count) the planner elides the
    * shuffle outright, making the alignment free. [[compactBucketed]] /
    * [[rebucketTo]] pre-align on the bucket-id EXPRESSION themselves
    * (their source is a bucketed table, where a raw-key repartition can
    * be elided against the scan's reported partitioning) and pass
    * `align = false`.
    */
  private def writeBucketedKeysAligned(
      df: DataFrame,
      table: String,
      buckets: Int,
      keys: Seq[String],
      align: Boolean
  ): Unit = {
    import org.apache.spark.sql.functions.col
    dropWithLocation(df.sparkSession, table)
    val aligned = if (align) df.repartition(buckets, keys.map(col): _*) else df
    aligned.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Drops `table` from the catalog and deletes its warehouse location:
    * an in-memory catalog from a previous JVM forgets the table but
    * leaves its files, which makes the next CREATE fail with
    * LOCATION_ALREADY_EXISTS.
    */
  private[graft] def dropWithLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** Append to an existing bucketed table with the same bucket spec —
    * new files land in the same bucket layout, so readers keep the
    * exchange-free property as the table grows (the incremental-index
    * write path). Same bucket-aligned pre-partitioning as
    * [[writeBucketedKeys]]: one file per non-empty bucket per append
    * batch instead of one per (task, bucket).
    */
  def appendBucketedKeys(df: DataFrame, table: String, buckets: Int, keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartition(buckets, keys.map(col): _*)
      .write
      .mode(SaveMode.Append)
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Join two bucketed tables on their bucket key — exchange-free when
    * bucket counts match.
    */
  def cogroupedJoin(spark: SparkSession, leftTable: String, rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** The write-aside-then-swap step every standing-index compaction
    * rests on: `write` materializes the compacted copy under the NEW
    * name `table__cpt` (the source table stays live and readable
    * throughout the heavy write), then two metadata operations swap it
    * in. The full data always exists in SOME table — a crash during
    * the write leaves the original untouched, and a crash between drop
    * and rename leaves the complete copy under `__cpt`, which the
    * adoption step at the top of the NEXT run renames into place
    * before compacting again. Never a self-overwriting rewrite — the
    * hazard [[graft.operators.DataOps.compactParquet]] documents. One
    * protocol for every index table (bucketed or plain) across every
    * index family (BM25 postings, gram/phrase grams, LSH bands,
    * semantic cells, IVF×PQ codes), so the recovery logic has exactly
    * one implementation.
    */
  private[graft] def swapInCompacted(spark: SparkSession, table: String)(write: String => Unit): Unit = {
    val tmp = s"${table}__cpt"
    // crash recovery: a previous run may have dropped `table` after
    // fully writing `tmp` — adopt the surviving copy before compacting
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp)) {
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      spark.catalog.refreshTable(table)
    }
    write(tmp)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.catalog.refreshTable(table)
  }

  /** Compact a bucketed index table in place via [[swapInCompacted]]:
    * re-bucket the current rows into fresh files (optionally folding
    * rows first via `fold`). Probe results are unchanged by
    * construction — readers of append-accumulated tables already
    * aggregate — so this is purely a read-amplification reset. The
    * pre-write repartition keys on the BUCKET-ID EXPRESSION
    * (pmod(hash(keys), buckets)), which confines every bucket to one
    * writer task → exactly one file per non-empty bucket.
    * Repartitioning on the raw keys does NOT work here: the source is
    * itself a bucketed table, whose scan already reports the requested
    * hash partitioning, so the planner elides that shuffle and the
    * plain multi-file scan layout leaks straight into the "compacted"
    * write (measured: a 64-file table re-"compacting" to 64 files).
    */
  private[graft] def compactBucketed(
      spark: SparkSession,
      table: String,
      buckets: Int,
      keys: Seq[String],
      fold: DataFrame => DataFrame = identity
  ): Unit =
    swapInCompacted(spark, table) { tmp =>
      import org.apache.spark.sql.functions.{col, hash, lit, pmod}
      writeBucketedKeysAligned(
        fold(spark.table(table)).repartition(buckets, pmod(hash(keys.map(col): _*), lit(buckets))),
        tmp,
        buckets,
        keys,
        align = false // pre-aligned on the bucket-id expression above
      )
    }

  /** The lifecycle step the data-sized bucket law requires: when a
    * standing table's data outgrows its recorded bucket count (the
    * per-bucket row target, [[chooseBuckets]]), rewrite it at the new
    * count via the same crash-safe write-aside-then-swap protocol as
    * compaction. This is a FULL rewrite of the standing payload — the
    * one shuffle the bucketed design otherwise never pays again — so
    * it runs rarely (P doubles, so O(log growth) rebuckets over a
    * table's lifetime) and its cost at 100× is measured in SCALE.md
    * (the r14 `rebucket` probe), not guessed. Graft properties carry over
    * with the bucket count updated; the content stamp is unchanged
    * (same rows, new layout).
    */
  def rebucketTo(spark: SparkSession, table: String, newBuckets: Int, keys: Seq[String]): Unit = {
    val stamp = tableProp(spark, table, StampProp)
    swapInCompacted(spark, table) { tmp =>
      import org.apache.spark.sql.functions.{col, hash, lit, pmod}
      writeBucketedKeysAligned(
        spark.table(table).repartition(newBuckets, pmod(hash(keys.map(col): _*), lit(newBuckets))),
        tmp,
        newBuckets,
        keys,
        align = false // pre-aligned on the bucket-id expression above
      )
    }
    stampBucketedTable(spark, table, newBuckets, stamp.getOrElse(""))
  }
}
