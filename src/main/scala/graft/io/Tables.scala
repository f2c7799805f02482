package graft.io

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Catalog of the driver-generated testdata tables (TESTDATA.md).
  *
  * Reference mapping (SURVEY.md §1.4, §2.1): the reference's only durable
  * object is an SDFS file of text lines replicated to 4 nodes
  * (sdfs/src/leader.rs:781-786); a "dataset" is a filename prefix
  * (sdfs/src/leader.rs:236-239). In Spark-land a dataset is a
  * directory/glob of files and replication is the storage layer's job, so
  * `put/get/ls/store` (sdfs/src/main.rs:237-251) collapse into
  * `spark.read` / `df.write` / catalog listings, which this object fronts.
  *
  * Each table's parquet schema is resolved once per session (see
  * [[Tables.schemaOf]]): a read with no schema makes Spark infer it
  * with a one-task job, which on short queries was most of their
  * dispatch. New batch reads of these tables go through here.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Idempotent: every batch operator reaches its session through a
  // Tables, so registering here is what lets Column helpers like
  // Dedup.h32 resolve graft's native functions without threading the
  // session through every call site.
  graft.functions.GraftFunctions.register(spark)

  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")

  /** Widen a narrow scan to the session's parallelism ONLY when the
    * source yielded fewer splits. The testdata tables are single small
    * parquet files = one input split, which would serialize every
    * downstream per-row map on one core; at real scale
    * `files.maxPartitionBytes` already yields thousands of splits and
    * this is the identity — never an unconditional full-corpus
    * shuffle. Partition count comes from the planned scan (no job
    * runs).
    */
  def widen(df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Normalize events.ts to a session-TZ TIMESTAMP regardless of how
    * the driver encoded it. Two encodings have been observed across
    * testdata generations:
    *
    *  - TIMESTAMP(NANOS): Spark reads it only as a raw long
    *    (spark.sql.legacy.parquet.nanosAsLong=true — set in
    *    Verify/Bench/test sessions). Spark timestamps are microsecond
    *    precision, so truncate ns→µs; DuckDB truncates identically at
    *    sub-second group granularity.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    TIMESTAMP_NTZ. Every graft session pins
    *    spark.sql.session.timeZone=UTC, so the NTZ→TIMESTAMP cast
    *    relabels the same microsecond value (unix_micros(ts) ==
    *    DuckDB epoch_us(ts), invariant 11) — and time functions like
    *    unix_micros/window() require plain TIMESTAMP.
    */
  private def withNanosTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  lazy val region: DataFrame = t("region")
  lazy val nation: DataFrame = t("nation")
  lazy val customer: DataFrame = t("customer")
  lazy val supplier: DataFrame = t("supplier")
  lazy val part: DataFrame = t("part")
  lazy val orders: DataFrame = t("orders")
  lazy val lineitem: DataFrame = t("lineitem")
  lazy val events: DataFrame = withNanosTs(t("events"))
  lazy val documents: DataFrame = t("documents")
  lazy val embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Files under a path as (name, length, modification time), with the
    * session's parquet read confs (`nanosAsLong` and the like change
    * the inferred types). A rewritten table, or a conf change, yields a
    * different stamp.
    */
  private final case class Stamp(files: Seq[(String, Long, Long)], conf: Map[String, String])

  /** Schema cache keyed on (session, path), like the memo caches. It
    * holds metadata derived from the inputs, never data or results, so
    * it is not a memo family: `tools.SweepCaches` leaves it alone.
    */
  private val schemas = TrieMap.empty[(SparkSession, String), (Stamp, StructType)]

  private def listing(fs: FileSystem, p: Path): Seq[(String, Long, Long)] =
    fs.listStatus(p).toSeq.sortBy(_.getPath.toString).flatMap { st =>
      val own = (st.getPath.toString, st.getLen, st.getModificationTime)
      if (st.isDirectory) own +: listing(fs, st.getPath) else Seq(own)
    }

  /** The schema `spark.read.parquet(path)` infers, inferred only when
    * the path's stamp differs from the cached one. The stamp is a
    * driver-side Hadoop listing and starts no job. None when the path
    * cannot be listed, so the caller's read raises Spark's own error.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    val files =
      try Some(listing(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p))
      catch { case _: java.io.IOException => None }
    files.map { f =>
      val stamp = Stamp(f, spark.conf.getAll.filter(_._1.contains(".parquet.")))
      schemas.get((spark, path)) match {
        case Some((cached, schema)) if cached == stamp => schema
        case _ =>
          val schema = spark.read.parquet(path).schema
          schemas.put((spark, path), (stamp, schema))
          schema
      }
    }
  }

  private def read(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path).fold(spark.read)(spark.read.schema(_)).parquet(path)
}

/** Line/CSV ingestion with the reference's quirks (FIXTURES.md):
  * UTF-8 BOM before the header, header row whose first cell is literally
  * `X`, empty-string-as-null convention. Mirrors `put`/`get`
  * (sdfs/src/client.rs:29-233) as plain reads/writes — replication and
  * replica failover are delegated to the filesystem.
  */
object GraftIO {
  /** Reference record = one text line (sdfs/src/helpers.rs:36-75). */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** CSV with header; BOM is handled by Spark's UnivocityParser. The
    * reference never parses records (SURVEY.md §1.3) — columns stay
    * strings unless inferSchema is requested.
    */
  def readCsv(spark: SparkSession, path: String,
              inferSchema: Boolean = false): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", inferSchema.toString)
      .csv(path)

  /** Explicit line-range scan (S3, sdfs/src/helpers.rs:44-62: a GET
    * that keeps only lines [start, end], how the reference feeds map
    * tasks their split). Spark's FileSourceScanExec does split
    * assignment natively; this explicit form exists for parity and for
    * deliberate sub-file sampling. 0-based, end exclusive.
    */
  def readLineRange(spark: SparkSession, path: String,
                    start: Long, end: Long): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path).rdd.zipWithIndex()
      .filter { case (_, i) => i >= start && i < end }
      .map(_._1).toDF("value")
  }

  /** JSON-lines read (one JSON object per text line — the common
    * training-data interchange format). Schema inference samples the
    * data unless a schema is supplied; compressed inputs (.gz etc.)
    * decode transparently via the text source's codec handling. The
    * reference's record model is one text line (SURVEY.md §1.1), so
    * JSONL is its structured sibling: line = record, fields typed.
    */
  def readJsonl(spark: SparkSession, path: String,
                schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** `put` analog: durable write, parquet (engine default). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC read/write — the second Spark-native columnar format, for
    * interchange with ORC-standardized warehouses. Same pushdown
    * properties as parquet (column pruning + predicate pushdown reach
    * the stripe level), so every operator here runs unchanged on ORC
    * inputs.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Durable shuffle-output analog of the reference's `{prefix}_{key}`
    * intermediate files (sdfs/src/helpers.rs:14-20): one directory per
    * key value via partitioned write.
    */
  def writeByKey(df: DataFrame, keyCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(keyCol).parquet(path)
}
