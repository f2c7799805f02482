package graft.bench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.tools.{DriverSession, SweepCaches}

/** The benchmark's JVM side: drives `SparkEntry.queries` from outside
  * the engine and records raw timings; `graftbench/run.py` chooses the
  * workload and its order, checks every written result and turns the
  * record into metrics.
  *
  * Load: one client thread in a closed loop, each query submitted only
  * after the previous result is written. A sweep runs every given query
  * once, in the order given. A fixed warm-up (a cold sweep and
  * `WarmSweeps` more) runs on the same data; timed sweeps then run until
  * they add up to `--seconds` and number at least `--min-sweeps`.
  *
  *   Harness --list <file>
  *   Harness --data <dir> --out <dir> --queries a,b,... --seconds <s>
  *           --min-sweeps <n> [--trace 0|1] [--inject]
  */
object Harness {
  val QueryProp = "graft.bench.query"
  val PhaseProp = "graft.bench.phase"

  /** Warm sweeps after the cold one, before timing starts. */
  val WarmSweeps = 1

  type Query = (SparkSession, String) => DataFrame

  /** Queries that exist only to prove the failure paths: one throws, one
    * returns q1_agg's result with a duplicated row (checked against
    * q1_agg's oracle, so it must fail). */
  val injected: Map[String, Query] = Map(
    "inject_throw" -> ((_, _) => throw new IllegalStateException("injected failure")),
    "inject_wrong" -> { (spark, dir) =>
      val df = SparkEntry.queries("q1_agg")(spark, dir)
      df.union(df.limit(1))
    })

  /** The memo families of `tools.SweepCaches`: name, consumers, and the
    * narrow release the full-suite tracker uses. */
  val families: Seq[(String, Set[String], () => Unit)] = Seq(
    ("sim", SweepCaches.simConsumers, () => graft.sim.Similarity.clearCaches()),
    ("dedup", SweepCaches.dedupConsumers, () => graft.dedup.Dedup.clearPairCaches()),
    ("gram", SweepCaches.gramConsumers, () => graft.dedup.Dedup.clearGramCache()),
    ("corpus", SweepCaches.corpusConsumers, () => graft.pipeline.CorpusOps.clearLineDfCache()),
    ("contam", SweepCaches.contamConsumers, () => graft.pipeline.CorpusOps.clearContamCache()))

  /** The families restricted to the queries of one run: each is released
    * after its last consumer within the run. */
  final class WorkloadMemo(queries: Set[String]) {
    private val pending = families
      .map { case (_, set, clear) => (collection.mutable.Set.from(set & queries), clear) }
      .filter(_._1.nonEmpty)

    /** Families with at least one consumer in the run. */
    val touched: Int = pending.size

    def done(name: String): Unit = pending.foreach { case (left, clear) =>
      if (left.remove(name) && left.isEmpty) clear()
    }
  }

  def memoBuilds(): Long =
    graft.dedup.Dedup.cacheBuilds.get.toLong + graft.sim.Similarity.cacheBuilds.get +
      graft.pipeline.CorpusOps.cacheBuilds.get

  /** (compiles, seconds) so far, from Spark's codegen metrics, read the
    * way `tools.CodegenAudit` reads them. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1e3)
  }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Memory and disk held by persisted and checkpointed blocks, the memo
    * families' residency. Broadcast pieces are left out: when they are
    * freed depends on the driver's garbage collections, not the query. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = arg(args, "--list") match {
    case Some(file) => list(file)
    case None => run(args)
  }

  private def list(file: String): Unit = {
    val keys = SparkEntry.queries.keys.toSeq.sorted.map(DriverSession.jsonQuote)
    val oracle = SparkEntry.oracleSql.toSeq.sorted
      .map { case (k, v) => s"${DriverSession.jsonQuote(k)}:${DriverSession.jsonQuote(v)}" }
    val fams = families.map { case (name, set, _) =>
      s"${DriverSession.jsonQuote(name)}:${set.toSeq.sorted.map(DriverSession.jsonQuote).mkString("[", ",", "]")}"
    }
    Files.writeString(Paths.get(file),
      s"""{"queries":${keys.mkString("[", ",", "]")},"oracle":${oracle.mkString("{", ",", "}")},""" +
        s""""families":${fams.mkString("{", ",", "}")}}""")
  }

  private def run(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = graft.Bench.loadAvg()
    def need(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val dataDir = need("--data")
    val outDir = need("--out")
    val seconds = need("--seconds").toDouble
    val traced = arg(args, "--trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors.toString
    val minSweeps = need("--min-sweeps").toInt
    val catalog = SparkEntry.queries ++ (if (args.contains("--inject")) injected else Map.empty)
    val order = need("--queries").split(",").toSeq
    val unknown = order.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val spark = DriverSession.build(cores)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val nanoBase = System.nanoTime()
    val epochBaseUs = System.currentTimeMillis() * 1000L
    def epochUs(): Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

    /** One sweep's record: its start, wall and CPU time, the load at its
      * start, its executions and its totals, as JSON. */
    final case class Sweep(traced: Boolean, startMs: Long, wall: Double, cpuNs: Long,
                           load: (Double, Double, Double), execs: Seq[String], totals: String)

    def sweep(label: String, isTraced: Boolean): Sweep = {
      SweepCaches.releaseAll()
      val memo = new WorkloadMemo(order.toSet)
      val sweepDir = s"$outDir/$label"
      val load = graft.Bench.loadAvg()
      val startMs = System.currentTimeMillis()
      val cpu0 = processCpuNs()
      val builds0 = memoBuilds()
      val (cg0, cgs0) = codegen()
      var peak = storageMb(spark)
      val t0 = System.nanoTime()
      val execs = order.map { name =>
        sc.setLocalProperty(QueryProp, s"$label/$name")
        sc.setLocalProperty(PhaseProp, "build")
        val start = epochUs()
        var buildEnd = -1L
        val error =
          try {
            val df = catalog(name)(spark, dataDir)
            buildEnd = epochUs()
            sc.setLocalProperty(PhaseProp, "sink")
            df.write.mode("overwrite").parquet(s"$sweepDir/$name")
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        val end = epochUs()
        peak = math.max(peak, storageMb(spark))
        memo.done(name)
        s"""{"sweep":${DriverSession.jsonQuote(label)},"query":${DriverSession.jsonQuote(name)},""" +
          s""""traced":$isTraced,"start_us":$start,"build_end_us":$buildEnd,"end_us":$end,""" +
          s""""error":${error.fold("null")(DriverSession.jsonQuote)}}"""
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuNs = processCpuNs() - cpu0
      sc.setLocalProperty(QueryProp, null)
      sc.setLocalProperty(PhaseProp, null)
      val (cg1, cgs1) = codegen()
      Sweep(isTraced, startMs, wall, cpuNs, load, execs,
        s"""{"sweep":${DriverSession.jsonQuote(label)},"traced":$isTraced,"wall_s":$wall,""" +
          s""""cpu_s":${cpuNs / 1e9},"storage_peak_mb":$peak,""" +
          s""""memo_builds":${memoBuilds() - builds0},"memo_families":${memo.touched},""" +
          s""""codegen_compiles":${cg1 - cg0},"codegen_compile_s":${cgs1 - cgs0}}""")
    }

    // Warm-up on the workload's own data, a fixed amount of work so that
    // setup_s measures the engine and not a stopping rule: one cold sweep
    // (class loading, JIT, codegen) and WarmSweeps more. The timed sweeps
    // that follow still drift down a little; the end-to-end metrics are
    // medians over them. A traced run alternates untraced and traced
    // sweeps, so the listener overhead is measured on the same host state
    // as the layers it splits.
    val warm = (0 to WarmSweeps).map(i => sweep(s"warm$i", isTraced = false).wall)
    val trace = if (traced) Some(new Trace) else None
    val kept = ArrayBuffer.empty[Sweep]
    while (kept.map(_.wall).sum < seconds || kept.size < minSweeps ||
        traced && !kept.exists(_.traced)) {
      val on = traced && kept.nonEmpty && !kept.last.traced
      if (on) trace.foreach { t =>
        sc.addSparkListener(t.sparkListener)
        spark.listenerManager.register(t.queryListener)
      }
      kept += sweep(f"s${kept.size + 1}%03d", isTraced = on)
      if (on) trace.foreach { t =>
        org.apache.spark.graftbench.ListenerBusDrain(sc)
        sc.removeSparkListener(t.sparkListener)
        spark.listenerManager.unregister(t.queryListener)
      }
    }
    val ambient = graft.Bench.ambientEstimate(graft.Bench.loadAvg()._1,
      kept.map(_.cpuNs).sum, (kept.map(_.wall).sum * 1e9).toLong)
    SweepCaches.releaseAll()
    spark.stop()
    val loadEnd = graft.Bench.loadAvg()

    trace.foreach(t => Files.write(Paths.get(s"$outDir/events.jsonl"),
      t.lines.toSeq.asJava))
    def load(l: (Double, Double, Double)) = s"[${l._1},${l._2},${l._3}]"
    Files.writeString(Paths.get(s"$outDir/harness.json"),
      s"""{"cores":$cores,"jvm_start_ms":$jvmStartMs,"first_timed_ms":${kept.head.startMs},""" +
        s""""session_s":$sessionS,"warm_sweeps_s":${warm.mkString("[", ",", "]")},""" +
        s""""load_start":${load(loadStart)},""" +
        s""""load_timed":${load(kept.head.load)},"load_end":${load(loadEnd)},"ambient":$ambient,""" +
        s""""sweeps":${kept.map(_.totals).mkString("[", ",", "]")},""" +
        s""""execs":${kept.flatMap(_.execs).mkString("[", ",", "]")}}""")
  }
}
