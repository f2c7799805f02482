package graft.bench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Writes the benchmark's input tables at the sf0.01 row counts.
  *
  * `tools.ScaleGen` at multiple 1 (sf0.1 row counts and distributions)
  * writes to `<outDir>/_full`; each table then keeps a prefix of its row
  * key, and foreign keys fold into the kept key range, so every join
  * still finds its partner. The two fixed TPC-H dimensions ScaleGen
  * copies from a reference directory are written here first, so the
  * benchmark needs no data from outside its checkout. Every value is a
  * hash of its row id, so the output is the same on every run.
  *
  *   GenData <outDir>
  */
object GenData {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val full = s"$out/_full"
    val spark = graft.tools.DriverSession.build(
      Runtime.getRuntime.availableProcessors.toString)
    val dims = s"$full/_dims"
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(typedLit(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
          (col("id") + 1).cast("int")).as("r_name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dims/region.parquet")
    spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        format_string("NATION_%d", col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dims/nation.parquet")
    graft.tools.ScaleGen.generate(spark, full, 1, refDims = dims)

    def cut(name: String, keep: Column, folds: (String, Long)*): Unit =
      folds.foldLeft(spark.read.parquet(s"$full/$name.parquet").filter(keep)) {
        case (df, (c, n)) => df.withColumn(c, col(c) % n)
      }.coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")

    cut("region", lit(true))
    cut("nation", lit(true))
    cut("customer", col("c_custkey") < 1500)
    cut("supplier", col("s_suppkey") < 100)
    cut("part", col("p_partkey") < 2000)
    cut("orders", col("o_orderkey") < 15000, "o_custkey" -> 1500L)
    cut("lineitem", col("l_orderkey") < 15000, "l_partkey" -> 2000L, "l_suppkey" -> 100L)
    cut("events", col("event_id") < 10000, "user_id" -> 150L)
    cut("documents", col("doc_id") < 500)
    cut("embeddings", col("vec_id") < 500)
    spark.stop()
  }
}
