package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM (getOrCreate), configured like
  * Verify/Bench: UTC, small shuffle partitions, nanos-as-long for the
  * events table.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def withLogLevel[A](f: => A): A = { spark.sparkContext.setLogLevel("WARN"); f }

  /** Spark jobs that `f` starts, counted with a SparkListener. Only jobs
    * carrying this call's thread-local tag count, so a job another
    * suite left running cannot leak into the number.
    */
  def jobsStarted(f: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val key = "graft.test.jobCount"
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try f
    finally {
      sc.setLocalProperty(key, null)
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** Writes rows as a parquet "documents"-style table into a temp dir
    * and returns a Tables bound to it.
    */
  def tempTables(write: String => Unit): graft.io.Tables = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test").toString
    write(dir)
    graft.io.Tables(spark, dir)
  }
}
