package graft

import org.apache.spark.sql.functions._

import graft.operators.EventAnalytics
import graft.streaming.EventStreams

/** Structured Streaming parity: the streaming tumbling-window query
  * over the events parquet must converge to the batch answer.
  */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling counts == batch tumbling counts") {
    // FileStreamSource requires a directory; stage the table into one
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet")
    )
    val stream = EventStreams.readEvents(spark, streamDir.toString)
    val query  = EventStreams.startMemorySink(
      EventStreams.tumblingCounts(stream),
      "stream_tumbling",
      org.apache.spark.sql.streaming.OutputMode.Append
    )
    try {
      query.processAllAvailable()
      // Append mode only emits windows the watermark has closed; the
      // final windows stay open, so compare on the emitted prefix.
      val streamed = spark
        .table("stream_tumbling")
        .select(col("ws"), col("event_type"), col("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val batch = EventAnalytics
        .tumblingHourly(spark, sfDir)
        .select(col("ws"), col("event_type"), col("n"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(streamed.nonEmpty, "watermark emitted no closed windows")
      streamed.foreach { case (k, n) =>
        assert(batch.get(k).contains(n), s"window $k: streaming=$n batch=${batch.get(k)}")
      }
    } finally query.stop()
  }

  test("streaming windowed top-k (custom imperative aggregate) == batch window-function top-k") {
    import org.apache.spark.sql.expressions.Window
    val streamDir = java.nio.file.Files.createTempDirectory("graft_topk")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet")
    )
    val query = EventStreams.startMemorySink(
      EventStreams.windowedTopK(EventStreams.readEvents(spark, streamDir.toString)),
      "stream_topk",
      org.apache.spark.sql.streaming.OutputMode.Append
    )
    try {
      query.processAllAvailable()
      val streamed = spark.table("stream_topk").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(streamed.nonEmpty, "watermark emitted no closed windows")
      // batch reference: the window-function formulation over the
      // static table — the custom aggregate must agree rank for rank
      // on every window the stream emitted
      val w = Window.partitionBy("ws").orderBy(col("value").desc, col("event_id"))
      val batch = Tables.events(spark, sfDir)
        .select(window(col("ts"), "1 hour")("start").as("ws"), col("event_id"), col("value"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .collect()
        .map(r => (r.getTimestamp(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
      streamed.foreach { case (k, v) =>
        assert(batch.get(k).contains(v), s"window/rank $k: streaming=$v batch=${batch.get(k)}")
      }
    } finally query.stop()
  }

  test("streaming dedup drops re-delivered rows within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup")
    // simulate at-least-once delivery: the same table arrives twice
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("b.parquet"))
    val deduped = EventStreams.streamingDedup(EventStreams.readEvents(spark, dir.toString))
    val query = deduped
      .select("event_id")
      .writeStream.outputMode("append").format("memory").queryName("stream_dedup").start()
    try {
      query.processAllAvailable()
      val n = spark.table("stream_dedup").count()
      val expected = Tables.events(spark, sfDir).count()
      assert(n == expected, s"dedup emitted $n, expected $expected (one per unique event)")
    } finally query.stop()
  }

  test("watermark-scoped dedup drops re-delivered rows and matches batch distinct") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_wm")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("b.parquet"))
    val deduped = EventStreams.streamingDedupWithinWatermark(EventStreams.readEvents(spark, dir.toString))
    val query = deduped
      .select("event_id")
      .writeStream.outputMode("append").format("memory").queryName("stream_dedup_wm").start()
    try {
      query.processAllAvailable()
      val n = spark.table("stream_dedup_wm").count()
      val expected = Tables.events(spark, sfDir).count()
      assert(n == expected, s"within-watermark dedup emitted $n, expected $expected (one per unique event)")
    } finally query.stop()
  }

  test("stream-stream join == batch interval join") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), streamDir.resolve("events.parquet"))
    val joined = EventStreams.clickPurchaseStreamJoin(EventStreams.readEvents(spark, streamDir.toString))
    val query = joined
      .select("click_id", "purchase_id")
      .writeStream.outputMode("append").format("memory").queryName("stream_join").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("stream_join").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val e = Tables.events(spark, sfDir)
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val batch = c.join(p,
          expr("user_id = p_user_id AND purchase_ts <= click_ts AND purchase_ts >= click_ts - INTERVAL 1 HOUR"))
        .select("click_id", "purchase_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed.nonEmpty)
      // a single micro-batch emits all within-watermark matches; they
      // must agree with the batch interval join
      assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    } finally query.stop()
  }

  test("LEFT OUTER stream-stream join flushes unmatched clicks after the watermark passes, matching batch") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_ssj_outer")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), streamDir.resolve("events.parquet"))
    val joined = EventStreams.clickPurchaseStreamJoinTyped(
      EventStreams.readEvents(spark, streamDir.toString), "left_outer")
    val query = joined
      .select("click_id", "purchase_id")
      .writeStream.outputMode("append").format("memory").queryName("stream_join_outer").start()
    try {
      query.processAllAvailable()
      // null-padded rows need the GLOBAL watermark past each click's
      // expiry: push BOTH sides' event time forward twice (watermark
      // advances at batch boundaries, flushes land a batch later)
      // schema-adaptive synthetic rows: derive from the on-disk file so
      // the ts encoding (nanos-long vs timestamp) always matches
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      def futureBatch(idBase: Long, days: Int): org.apache.spark.sql.DataFrame = {
        val shift =
          if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
            expr(s"ts + ${days}L * 86400000000000")
          else expr(s"ts + INTERVAL $days DAYS")
        val one = raw.orderBy(col("ts").desc).limit(1)
        def row(id: Long, user: Long, tpe: String) = one.select(
          lit(id).as("event_id"),
          shift.as("ts"),
          lit(user).as("user_id"),
          lit(tpe).as("event_type"),
          col("value"),
          col("props")
        )
        row(idBase, 999991L, "click").unionByName(row(idBase + 1, 999992L, "purchase"))
      }
      futureBatch(9000000L, 10).coalesce(1).write.mode("append").parquet(streamDir.toString)
      query.processAllAvailable()
      futureBatch(9000100L, 20).coalesce(1).write.mode("append").parquet(streamDir.toString)
      query.processAllAvailable()

      val streamed = spark.table("stream_join_outer")
        .filter(col("click_id") < 9000000L)
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      val e = Tables.events(spark, sfDir)
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      val batch = c.join(p,
          expr("user_id = p_user_id AND purchase_ts <= click_ts AND purchase_ts >= click_ts - INTERVAL 1 HOUR"),
          "left_outer")
        .select("click_id", "purchase_id")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(streamed.exists(_._2 == -1L), "some unmatched clicks must have been flushed")
      assert(streamed == batch, s"stream=${streamed.size} batch=${batch.size}")
    } finally query.stop()
  }

  test("stream-static enrichment join == batch join") {
    val streamDir = java.nio.file.Files.createTempDirectory("graft_enrich")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), streamDir.resolve("events.parquet"))
    val enriched = EventStreams.enrichWithCustomer(
      spark, EventStreams.readEvents(spark, streamDir.toString), sfDir)
    val query = enriched
      .select("event_id", "c_mktsegment")
      .writeStream.outputMode("append").format("memory").queryName("stream_enrich").start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("stream_enrich")
        .groupBy("c_mktsegment").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = Tables.events(spark, sfDir)
        .join(Tables.customer(spark, sfDir)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment")), Seq("user_id"), "left")
        .groupBy("c_mktsegment").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed.nonEmpty && streamed == batch, s"stream=$streamed batch=$batch")
    } finally query.stop()
  }

  /** Write a single synthetic far-future event (user_id = -1) into the
    * stream directory so the watermark advances past every real
    * session's close on the next micro-batch.
    */
  private def advanceWatermark(streamDir: java.nio.file.Path): Unit = {
    // the advance file must match the stream dir's PHYSICAL ts type
    // (raw nanos LONG vs timestamp[us]) or the running stream's fixed
    // schema fails the read — mirror whatever the real file shipped
    val physical = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    val maxNs  = Tables.events(spark, sfDir).agg(max("ts_ns")).collect()(0).getLong(0)
    val lateNs = maxNs + 30L * 24 * 3600 * 1000000000L
    val tsCol = physical match {
      case org.apache.spark.sql.types.LongType => lit(lateNs)
      case other => expr(s"cast(timestamp_micros(${lateNs / 1000}L) as ${other.sql})")
    }
    val lateDf = spark
      .range(1)
      .select(
        lit(999999999L).as("event_id"),
        tsCol.as("ts"),
        lit(-1L).as("user_id"),
        lit("click").as("event_type"),
        lit(0.0).as("value"),
        lit("{}").as("props")
      )
    val tmpOut = java.nio.file.Files.createTempDirectory("graft_wm_adv")
    lateDf.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
    val part = java.nio.file.Files
      .list(tmpOut)
      .filter(p => p.toString.endsWith(".parquet"))
      .findFirst()
      .get()
    java.nio.file.Files.copy(part, streamDir.resolve("advance.parquet"))
  }

  test("stateful sessionizer emits each user's trailing session once the watermark passes it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_trail")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("a.parquet"))
    val query = EventStreams.startMemorySink(
      EventStreams.sessionizeStateful(spark, EventStreams.readEvents(spark, dir.toString)),
      "sess_trail"
    )
    try {
      query.processAllAvailable()
      val closedOnly = spark.table("sess_trail").count()
      advanceWatermark(dir)
      query.processAllAvailable()
      val streamed = spark
        .table("sess_trail")
        .filter(col("user_id") >= 0)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
        .toSet
      val batch = EventAnalytics
        .sessionize(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000 * 1000, r.getLong(2)))
        .toSet
      assert(streamed.size > closedOnly, "watermark advance emitted no trailing sessions")
      // with every real session now closed, stateful == batch session_window EXACTLY
      assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    } finally query.stop()
  }

  test("built-in session_window streaming == batch sessionize after watermark passes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_win")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"), dir.resolve("a.parquet"))
    val query = EventStreams.startMemorySink(
      EventStreams.sessionizeWindowed(EventStreams.readEvents(spark, dir.toString)),
      "sess_win"
    )
    try {
      query.processAllAvailable()
      advanceWatermark(dir)
      query.processAllAvailable()
      val streamed = spark
        .table("sess_win")
        .filter(col("user_id") >= 0)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = EventAnalytics
        .sessionize(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed.nonEmpty && streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    } finally query.stop()
  }

  test("stateful sessionizer emits closed sessions with correct counts") {
    val sessions = EventStreams
      .sessionizeStateful(spark, Tables.events(spark, sfDir))
      .collect()
    assert(sessions.nonEmpty)
    // closed sessions must be a subset of the batch session_window result
    val batch = EventAnalytics
      .sessionize(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000 * 1000, r.getLong(2)))
      .toSet
    // spot-check: every emitted stateful session matches a batch session
    sessions.foreach { r =>
      val key = (r.getLong(0), r.getLong(1), r.getInt(2).toLong)
      assert(batch.contains(key), s"stateful session $key not found in batch result")
    }
  }

  test("nb_stream_classify drains in MULTIPLE micro-batches and equals the batch classification") {
    val rows = SparkEntry.queries("nb_stream_classify")(spark, sfDir).collect()
    val batchRows = graft.operators.Classify.nbClassify(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == batchRows.map(_.toSeq).toSeq, "streaming drain != batch classification")
    // the invariance claim is only evidence if the drain really was
    // multi-batch: the checkpoint commit log must show >= 2 batches
    val commits = new java.io.File(s"${GraftPaths.keyed("nbstream", sfDir)}/run/ckpt/commits")
      .listFiles()
      .count(_.getName.forall(_.isDigit))
    assert(commits >= 2, s"only $commits micro-batch commits — the multi-batch claim is untested")
  }
}
