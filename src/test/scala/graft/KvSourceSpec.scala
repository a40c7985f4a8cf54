package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions._

import graft.operators.TextJobs
import graft.sources.Sources

/** graft-kv DataSource V2 connector contract: reference-format
  * `key: value` text round-trips losslessly, and the three scan
  * pushdowns (columns, filters, limit) actually reach the scan — the
  * plan, not just the result, is the deliverable.
  */
class KvSourceSpec extends SparkSpec {
  private val root = scratchPath("kv_spec")

  private val outDir = s"$root/wc"

  private def writeWc(): Unit =
    Sources.writeKeyValueText(TextJobs.wordCount(Tables.documents(spark, sfDir)), "word", "cnt", outDir)

  test("round-trip: written key:value text reads back identically") {
    writeWc()
    val expected = TextJobs.wordCount(Tables.documents(spark, sfDir)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Sources.keyValueText(spark, outDir)
      .select(col("key"), col("value").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("column pruning and filter pushdown reach the scan; post-scan Filter disappears") {
    writeWc()
    val df   = Sources.keyValueText(spark, outDir).filter(col("key") === "the").select("key")
    val plan = df.queryExecution.executedPlan
    val s    = plan.toString
    assert(s.contains("ReadSchema: struct<key:string>"), s"value column not pruned:\n$s")
    assert(s.contains("EqualTo(key,the)"), s"filter not pushed:\n$s")
    // both IsNotNull and EqualTo are fully handled by the scan, so
    // Catalyst drops the post-scan Filter entirely
    assert(plan.collect { case f: FilterExec => f }.isEmpty, s"residual Filter survived:\n$s")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("the"))
  }

  test("unsupported predicates stay as residual filters above the scan") {
    writeWc()
    val df   = Sources.keyValueText(spark, outDir).filter(length(col("key")) > 3)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case f: FilterExec => f }.nonEmpty)
    assert(df.count() > 0)
  }

  test("limit pushdown reaches the scan and the global limit stays correct") {
    writeWc()
    val df = Sources.keyValueText(spark, outDir).limit(3)
    assert(df.queryExecution.executedPlan.toString.contains("PushedLimit: 3"))
    assert(df.count() == 3)
  }

  test("V2 write: overwrite replaces data atomically, append adds, NULL value round-trips") {
    val dir = s"$root/write"
    val df1 = spark.createDataFrame(Seq(("a", "1"), ("b", null.asInstanceOf[String]))).toDF("key", "value")
    df1.write.format("graft-kv").mode("overwrite").save(dir)
    val r1 = Sources.keyValueText(spark, dir).collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(r1 == Set(("a", Some("1")), ("b", None)))
    // overwrite replaces, leaves no temp litter
    val df2 = spark.createDataFrame(Seq(("c", "3"))).toDF("key", "value")
    df2.write.format("graft-kv").mode("overwrite").save(dir)
    assert(Sources.keyValueText(spark, dir).collect().map(_.getString(0)).toSet == Set("c"))
    assert(!Files.list(Paths.get(dir)).iterator().hasNext == false)
    assert(Files.list(Paths.get(dir)).filter(p => p.getFileName.toString.startsWith("_tmp_")).count() == 0)
    // append adds alongside
    df1.write.format("graft-kv").mode("append").save(dir)
    assert(Sources.keyValueText(spark, dir).collect().map(_.getString(0)).toSet == Set("a", "b", "c"))
    // full write-then-read parity with the sinkText format
    val wc = TextJobs.wordCount(Tables.documents(spark, sfDir))
    wc.select(col("word").as("key"), col("cnt").cast("string").as("value"))
      .write.format("graft-kv").mode("overwrite").save(dir)
    val back = Sources.keyValueText(spark, dir).select(col("key"), col("value").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(back == wc.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("keys containing the ': ' separator are rejected at write (no silent truncation)") {
    val dir = s"$root/sepkey"
    val bad = spark.createDataFrame(Seq(("a: b", "v"))).toDF("key", "value")
    val ex  = intercept[Exception](bad.write.format("graft-kv").mode("overwrite").save(dir))
    def causes(t: Throwable): Seq[Throwable] = Option(t).toSeq.flatMap(e => e +: causes(e.getCause))
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => Option(c.getMessage).exists(_.contains("': '"))), s"unexpected failure: $ex")
  }

  test("keys/values containing line terminators are rejected at write (reader is line-based)") {
    val dir = s"$root/nlkey"
    def causes(t: Throwable): Seq[Throwable] = Option(t).toSeq.flatMap(e => e +: causes(e.getCause))
    Seq(("a\nb", "v"), ("k", "a\nb"), ("a\rb", "v")).foreach { case (k, v) =>
      val bad = spark.createDataFrame(Seq((k, v))).toDF("key", "value")
      val ex  = intercept[Exception](bad.write.format("graft-kv").mode("overwrite").save(dir))
      assert(causes(ex).exists(c => Option(c.getMessage).exists(_.contains("line terminator"))),
        s"unexpected failure for ($k, $v): $ex")
    }
  }

  test("pushed range filters compare in UTF-8 order, matching the unpushed result") {
    // U+10000 (𐀀, supplementary plane) sorts BELOW U+FFFD in UTF-16
    // code units but ABOVE it in UTF-8 bytes / code points — the case
    // where Java String '<' and Spark's UTF8String disagree
    val dir = s"$root/utf8"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/part-0.txt"), "𐀀: supp\n�: bmp\n")
    val df     = Sources.keyValueText(spark, dir)
    val pushed = df.filter(col("key") > "�").collect().map(_.getString(1)).toSet
    // unpushed twin: wrap the column so the predicate stays above the scan
    val residual = df.filter(concat(col("key"), lit("")) > "�").collect().map(_.getString(1)).toSet
    assert(pushed == residual, s"pushed=$pushed residual=$residual")
    assert(pushed == Set("supp"))
  }

  test("one input partition per data file; malformed lines yield NULL values") {
    val dir = s"$root/raw"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/part-0.txt"), "alpha: 1\nnoseparator\n")
    Files.writeString(Paths.get(s"$dir/part-1.txt"), "beta: 2\n")
    val df = Sources.keyValueText(spark, dir)
    assert(df.rdd.getNumPartitions == 2)
    val rows = df.collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    assert(rows == Set(("alpha", Some("1")), ("noseparator", None), ("beta", Some("2"))))
    // IsNull pushes down too
    val nulls = Sources.keyValueText(spark, dir).filter(col("value").isNull)
    assert(nulls.collect().map(_.getString(0)).toSeq == Seq("noseparator"))
  }
}
