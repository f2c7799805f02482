package graft

import org.apache.spark.sql.functions._

import graft.io.{GraftIO, Tables}

/** S1-S8 analogs (SURVEY.md §2.1): put/get round-trip and the
  * `{prefix}_{key}` durable-shuffle analog via partitioned write.
  */
class IoSpec extends SparkSuite {
  private lazy val t = {
    spark.sparkContext.setLogLevel("WARN")
    Tables(spark, "/root/testdata/sf0.001")
  }
  private def dataDir = t.dir

  test("cached table schemas equal the inferred ones, events.ts under nanosAsLong") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val names = new java.io.File(dataDir).list().filter(_.endsWith(".parquet")).sorted
    assert(names.length == 10, names.mkString(", "))
    for (name <- names) {
      val path = s"$dataDir/$name"
      Tables.schemaOf(spark, path) // the second lookup is served from the cache
      assert(Tables.schemaOf(spark, path).contains(spark.read.parquet(path).schema), name)
    }
  }

  test("a second read of a table starts no Spark job") {
    // the counter sees the inference job of a schema-less read ...
    assert(jobsStarted(spark.read.parquet(s"$dataDir/lineitem.parquet")) >= 1)
    Tables(spark, dataDir).lineitem
    // ... and none once the session has resolved the table's schema
    assert(jobsStarted(Tables(spark, dataDir).lineitem) == 0)
  }

  test("a table rewritten with a different schema reads with the new one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString
    val path = s"$dir/nation.parquet"
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables(spark, dir).nation.columns.toSeq == Seq("a"))
    spark.range(3).select(col("id").cast("string").as("b"), (col("id") * 2).as("c"))
      .write.mode("overwrite").parquet(path)
    val back = Tables(spark, dir).nation
    assert(back.schema == spark.read.parquet(path).schema)
    assert(back.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("0", 0L), ("1", 2L), ("2", 4L)))
  }

  test("a parquet read conf set on the session re-resolves the schema") {
    // events.ts is TIMESTAMP(MICROS, NTZ) written without Spark's schema
    // metadata, so its inferred type follows inferTimestampNTZ
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val path = s"$dataDir/events.parquet"
    def ts(s: org.apache.spark.sql.SparkSession) = Tables.schemaOf(s, path).map(_("ts").dataType)
    val s = spark.newSession()
    assume(ts(s).contains(TimestampNTZType), "events.ts is not TIMESTAMP(MICROS, NTZ) here")
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(ts(s).contains(TimestampType))
    assert(ts(s) == Some(s.read.parquet(path).schema("ts").dataType))
    // the entry is per session: the suite's session keeps its own schema
    assert(ts(spark).contains(TimestampNTZType))
  }

  test("events.ts normalizes to TIMESTAMP from both observed encodings") {
    // The driver has shipped events.parquet as TIMESTAMP(NANOS) (read
    // as a raw long under nanosAsLong) and, since the 2026-08 regen,
    // as TIMESTAMP(MICROS, NTZ). Tables.withNanosTs must yield the
    // same session-TZ TIMESTAMP micros from either — pinned here by
    // writing the same instants in both physical shapes.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val micros = Seq(0L, 1L, 1700000000123456L)

    val ntzDir = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    spark.range(micros.size)
      .select(col("id").as("event_id"),
        timestamp_micros(element_at(lit(micros.toArray), col("id").cast("int") + 1))
          .cast(TimestampNTZType).as("ts"))
      .write.parquet(s"$ntzDir/events.parquet")
    val ntz = Tables(spark, ntzDir).events
    assert(ntz.schema("ts").dataType == TimestampType,
      s"NTZ branch must yield TIMESTAMP, got ${ntz.schema("ts").dataType}")

    val longDir = java.nio.file.Files.createTempDirectory("graft-ns").toString
    spark.range(micros.size)
      .select(col("id").as("event_id"),
        (element_at(lit(micros.toArray), col("id").cast("int") + 1) * 1000L).as("ts"))
      .write.parquet(s"$longDir/events.parquet")
    val fromLong = Tables(spark, longDir).events
    assert(fromLong.schema("ts").dataType == TimestampType,
      s"nanos-as-long branch must yield TIMESTAMP, got ${fromLong.schema("ts").dataType}")

    def us(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted.toSeq
    assert(us(ntz) == micros && us(fromLong) == micros,
      s"both encodings must decode to the same microsecond instants")
  }

  test("put/get round-trip preserves content (S1/S2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    val orig = t.nation
    GraftIO.write(orig, s"$dir/nation_copy")
    val back = spark.read.parquet(s"$dir/nation_copy")
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("writeByKey produces one directory per key (the {prefix}_{key} analog)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    GraftIO.writeByKey(t.orders, "o_orderstatus", s"$dir/by_status")
    val parts = new java.io.File(s"$dir/by_status").listFiles()
      .filter(_.getName.startsWith("o_orderstatus=")).map(_.getName).sorted
    assert(parts.toSeq == Seq("o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"))
    // reading back with partition pruning touches one directory only
    val f = spark.read.parquet(s"$dir/by_status")
      .filter(col("o_orderstatus") === "F")
    assert(f.count() == t.orders.filter(col("o_orderstatus") === "F").count())
  }

  test("line-range scan returns exactly the requested split (S3)") {
    val path = getClass.getClassLoader
      .getResource("Traffic_Signal_Intersections.csv").getPath
    val slice = GraftIO.readLineRange(spark, path, 1, 11) // skip header, 10 rows
    assert(slice.count() == 10)
    val all = GraftIO.readLines(spark, path).collect().map(_.getString(0))
    assert(slice.collect().map(_.getString(0)).toSeq == all.slice(1, 11).toSeq)
  }

  test("register/list/delete views (S5 delete, S6 ls, S7 store)") {
    t.nation.createOrReplaceTempView("nation_v")
    assert(spark.catalog.listTables().collect().exists(_.name == "nation_v"))
    assert(spark.sql("SELECT count(*) FROM nation_v").head.getLong(0) == 25)
    spark.catalog.dropTempView("nation_v")
    assert(!spark.catalog.listTables().collect().exists(_.name == "nation_v"))
  }

  test("jsonl read: plain and gzip inputs parse to identical typed rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    val lines = Seq(
      """{"id": 1, "text": "alpha", "score": 0.5}""",
      """{"id": 2, "text": "beta", "score": 1.25}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/docs.jsonl.gz"))
    gz.write(String.join("\n", lines: _*).getBytes("UTF-8")); gz.close()

    val plain = GraftIO.readJsonl(spark, s"$dir/docs.jsonl")
      .select("id", "text", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val zipped = GraftIO.readJsonl(spark, s"$dir/docs.jsonl.gz")
      .select("id", "text", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(plain == Set((1L, "alpha", 0.5), (2L, "beta", 1.25)))
    assert(zipped == plain)
  }

  test("orc round-trip preserves rows and pushes column pruning to the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "score")
    GraftIO.writeOrc(df, s"$dir/t.orc")
    val back = GraftIO.readOrc(spark, s"$dir/t.orc")
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // projection reaches the ORC scan: ReadSchema carries only `id`
    val plan = back.select($"id").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<id:bigint>"), plan)
  }

  test("line reader yields one row per line (record = text line)") {
    val df = GraftIO.readLines(spark,
      getClass.getClassLoader.getResource("Traffic_Signal_Intersections.csv").getPath)
    assert(df.count() == 122)
    assert(df.columns.toSeq == Seq("value"))
  }
}
