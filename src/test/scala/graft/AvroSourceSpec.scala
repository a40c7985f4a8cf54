package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sources

/** graft-avro DataSource V2 contract: lossless round-trips across the
  * supported type subset (primitives, nullable, binary, arrays, maps,
  * nested structs), schema inference from the container header, column
  * pruning reaching the scan, atomic overwrite, and clear rejection of
  * out-of-scope types.
  */
class AvroSourceSpec extends SparkSpec {
  private val base = scratchPath("avro_spec")

  test("primitive + nullable round-trip preserves rows and inferred schema") {
    val dir = s"$base/prims"
    val df = spark
      .createDataFrame(Seq(
        (1L, "alpha", 1.5d, true),
        (2L, null.asInstanceOf[String], -0.25d, false),
        (3L, "gamma", 0.0d, true)
      ))
      .toDF("id", "name", "score", "flag")
    Sources.writeAvro(df, dir)
    val back = Sources.avro(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq("id" -> LongType, "name" -> StringType, "score" -> DoubleType, "flag" -> BooleanType))
    assert(back.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2), r.getBoolean(3))).toSet ==
      df.collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2), r.getBoolean(3))).toSet)
  }

  test("arrays, maps, binary and nested structs round-trip") {
    val dir = s"$base/nested"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("xs", ArrayType(IntegerType, containsNull = true)),
      StructField("tags", MapType(StringType, LongType, valueContainsNull = true)),
      StructField("blob", BinaryType),
      StructField("inner", StructType(Seq(
        StructField("a", StringType),
        StructField("b", DoubleType)
      )))
    ))
    val rows = Seq(
      Row(1L, Seq(1, 2, null), Map("x" -> 10L, "y" -> null), Array[Byte](1, 2, 3), Row("s", 2.5d)),
      Row(2L, Seq.empty[Any], Map.empty[String, Any], Array.emptyByteArray, Row(null, 0.0d))
    )
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    Sources.writeAvro(df, dir)
    val back = Sources.avro(spark, dir)
    assert(back.count() == 2)
    val r1 = back.filter(col("id") === 1L).head()
    assert(r1.getSeq[Any](1) == Seq(1, 2, null))
    assert(r1.getMap[String, Any](2) == Map("x" -> 10L, "y" -> null))
    assert(r1.getAs[Array[Byte]](3).toSeq == Seq[Byte](1, 2, 3))
    assert(r1.getStruct(4).getString(0) == "s" && r1.getStruct(4).getDouble(1) == 2.5d)
    val r2 = back.filter(col("id") === 2L).head()
    assert(r2.getSeq[Any](1).isEmpty && r2.getMap[String, Any](2).isEmpty)
    assert(r2.getStruct(4).isNullAt(0))
  }

  test("column pruning reaches the scan; computed result matches full read") {
    val dir = s"$base/prune"
    Sources.writeAvro(
      Tables.documents(spark, sfDir).select("doc_id", "source", "text"),
      dir
    )
    val pruned = Sources.avro(spark, dir).select("doc_id")
    assert(pruned.queryExecution.executedPlan.toString.contains("ReadSchema: struct<doc_id:bigint>"))
    assert(pruned.count() == Tables.documents(spark, sfDir).count())
    // full fidelity through the roundtrip
    val back = Sources.avro(spark, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val orig = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == orig)
  }

  test("limit pushdown reaches the scan; global limit stays correct") {
    val dir = s"$base/limit"
    Sources.writeAvro(Tables.documents(spark, sfDir).select("doc_id", "text"), dir)
    val df = Sources.avro(spark, dir).limit(3)
    assert(df.queryExecution.executedPlan.toString.contains("PushedLimit: 3"))
    assert(df.count() == 3)
  }

  test("overwrite replaces atomically, append coexists, no temp litter") {
    val dir = s"$base/write"
    val df1 = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "v")
    df1.write.format("graft-avro").mode("overwrite").save(dir)
    val df2 = spark.createDataFrame(Seq((3L, "c"))).toDF("id", "v")
    df2.write.format("graft-avro").mode("overwrite").save(dir)
    assert(Sources.avro(spark, dir).collect().map(_.getLong(0)).toSet == Set(3L))
    df1.write.format("graft-avro").mode("append").save(dir)
    assert(Sources.avro(spark, dir).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(Files.list(Paths.get(dir)).filter(p => p.getFileName.toString.startsWith("_tmp_")).count() == 0)
  }

  test("filter pushdown: supported predicates reach the scan and leave no post-scan Filter") {
    val dir = s"$base/filters"
    Sources.writeAvro(Tables.documents(spark, sfDir).select("doc_id", "source", "text"), dir)
    val q = Sources
      .avro(spark, dir)
      .filter(col("doc_id") >= 100L && col("doc_id") < 200L && col("source") === "src3")
      .select("doc_id", "source")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in plan:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(doc_id,100)"), s"range filter not pushed:\n$plan")
    assert(plan.contains("EqualTo(source,src3)"), s"equality filter not pushed:\n$plan")
    // every predicate was accepted → Spark must plan NO Filter node
    assert(!plan.contains("Filter "), s"post-scan Filter survived full pushdown:\n$plan")
    val expect = Tables
      .documents(spark, sfDir)
      .filter(col("doc_id") >= 100L && col("doc_id") < 200L && col("source") === "src3")
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    assert(q.collect().map(_.getLong(0)).toSet == expect)
    assert(expect.nonEmpty, "test data lost its filter-surviving rows — tighten the predicate")
    // unsupported predicate stays residual and still evaluates correctly
    val resid = Sources.avro(spark, dir).filter(length(col("text")) > 200)
    assert(resid.queryExecution.executedPlan.toString.contains("Filter"), "residual predicate should stay above the scan")
    assert(resid.count() == Tables.documents(spark, sfDir).filter(length(col("text")) > 200).count())
  }

  test("double filter pushdown: Spark total-order semantics (NaN, -0.0) preserved at the scan") {
    val dir = s"$base/dbl_filters"
    val rows = Seq(
      (1L, 1.5d), (2L, 0.0d), (3L, -0.0d), (4L, Double.NaN),
      (5L, Double.PositiveInfinity), (6L, Double.NegativeInfinity), (7L, -2.25d)
    )
    val df = spark.createDataFrame(rows).toDF("id", "d")
    df.write.format("graft-avro").mode("overwrite").save(dir)
    val avro = Sources.avro(spark, dir)

    // plain range: pushed, no post-scan Filter, and NaN counts as
    // greater than everything (Spark's total order)
    val q    = avro.filter(col("d") > 0.0d).select("id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(d,0.0)"), s"double filter not pushed:\n$plan")
    assert(!plan.contains("Filter "), s"post-scan Filter survived full pushdown:\n$plan")
    assert(q.collect().map(_.getLong(0)).toSet == Set(1L, 4L, 5L))

    // -0.0 == 0.0 under Spark semantics; raw Double.compare would
    // silently drop the -0.0 row
    assert(avro.filter(col("d") === 0.0d).collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // NaN = NaN is TRUE in Spark SQL, and NaN ranks above +Inf
    assert(avro.filter(col("d") === Double.NaN).collect().map(_.getLong(0)).toSet == Set(4L))
    assert(avro.filter(col("d") >= Double.PositiveInfinity).collect().map(_.getLong(0)).toSet == Set(4L, 5L))

    // every shape agrees with Spark's own in-memory evaluation
    Seq(
      col("d") > 0.0d,
      col("d") === 0.0d,
      col("d") <= 0.0d,
      col("d") < Double.PositiveInfinity,
      col("d") >= -2.25d
    ).foreach { p =>
      assert(
        avro.filter(p).collect().map(_.getLong(0)).toSet ==
          df.filter(p).collect().map(_.getLong(0)).toSet,
        s"pushdown diverged from Spark evaluation for $p"
      )
    }
  }

  test("nested directory layouts read recursively; hidden dirs are skipped") {
    val dir = s"$base/nested_layout"
    val d1  = spark.createDataFrame(Seq((1L, "a"), (2L, "b"))).toDF("id", "v")
    val d2  = spark.createDataFrame(Seq((3L, "c"))).toDF("id", "v")
    d1.write.format("graft-avro").mode("overwrite").save(s"$dir/part=0")
    d2.write.format("graft-avro").mode("overwrite").save(s"$dir/part=1")
    // litter a hidden dir the listing must skip (its file would poison
    // schema inference if read)
    val hiddenDir = Paths.get(s"$dir/_temporary/0")
    Files.createDirectories(hiddenDir)
    Files.write(hiddenDir.resolve("junk.avro"), Array[Byte](1, 2, 3))
    val back = Sources.avro(spark, dir)
    assert(back.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L), "recursive listing missed nested files")
  }

  test("heterogeneous writer schemas resolve against the table's expected schema") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = s"$base/hetero"
    Files.createDirectories(Paths.get(dir))
    def write(file: String, schema: org.apache.avro.Schema, rows: Seq[Map[String, Any]]): Unit = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(file))
      rows.foreach { m =>
        val rec = new GenericData.Record(schema)
        m.foreach { case (k, v) => rec.put(k, v) }
        w.append(rec)
      }
      w.close()
    }
    val narrow = SchemaBuilder.record("row").fields()
      .requiredString("word").requiredLong("cnt").endRecord()
    // same fields REORDERED plus an extra one — resolution must match
    // by name against the first (expected) schema and skip the extra
    val wide = SchemaBuilder.record("row").fields()
      .requiredLong("extra").requiredLong("cnt").requiredString("word").endRecord()
    write(s"$dir/a.avro", narrow, Seq(Map("word" -> "alpha", "cnt" -> 1L)))
    write(s"$dir/b.avro", wide, Seq(Map("word" -> "beta", "cnt" -> 2L, "extra" -> 9L)))
    val back = Sources.avro(spark, dir)
    assert(back.schema.fieldNames.toSeq == Seq("word", "cnt"), "schema must come from the first file's header")
    assert(back.collect().map(r => (r.getString(0), r.getLong(1))).toSet == Set("alpha" -> 1L, "beta" -> 2L),
      "wide file mis-decoded: schema resolution by name failed")
  }

  test("unsupported types are rejected with a clear error, not silently mangled") {
    val dir = s"$base/reject"
    val df  = spark.range(1).select(lit(BigDecimal("1.25")).as("d"))
    val ex  = intercept[Exception](df.write.format("graft-avro").mode("overwrite").save(dir))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("graft-avro")), s"unexpected failure: $ex")
  }

  test("date and timestamp-micros logical types round-trip losslessly, nulls included") {
    val dir = s"$base/temporal"
    val df = spark
      .createDataFrame(Seq(
        (1L, Some(java.sql.Date.valueOf("2024-02-29")), Some(java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789012"))),
        (2L, None, None),
        (3L, Some(java.sql.Date.valueOf("1969-07-20")), Some(java.sql.Timestamp.valueOf("1969-07-20 20:17:40.0")))
      ))
      .toDF("id", "d", "ts")
    Sources.writeAvro(df, dir)
    val back = Sources.avro(spark, dir)
    assert(back.schema("d").dataType == DateType && back.schema("ts").dataType == TimestampType)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    // the written container declares the logical types (not bare numbers)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".avro")).head
    val r = new org.apache.avro.file.DataFileReader(
      f,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]()
    )
    val declared = r.getSchema.toString
    r.close()
    assert(declared.contains("\"logicalType\":\"date\"") && declared.contains("\"logicalType\":\"timestamp-micros\""))
  }

  test("timestamp-millis files are rejected loudly, never read as bare longs") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = s"$base/millis"
    new java.io.File(dir).mkdirs()
    val base64 = org.apache.avro.LogicalTypes
      .timestampMillis()
      .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG))
    val schema = SchemaBuilder.record("row").fields().name("ts").`type`(base64).noDefault().endRecord()
    val w      = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(s"$dir/part-0.avro"))
    val rec = new GenericData.Record(schema)
    rec.put("ts", 1700000000000L)
    w.append(rec)
    w.close()
    val ex = intercept[Exception](Sources.avro(spark, dir).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("timestamp-micros")), s"unexpected failure: $ex")
  }
}
