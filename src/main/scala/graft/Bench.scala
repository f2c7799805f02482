package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every `SparkEntry.queries` entry on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Self-adjudication (round 10): ambient host load twice produced
  * driver numbers 2x+ over the idle floor on unchanged code (r8's
  * corpus_curated 10.56 s; r9's 114.9 s total vs 56.6 s idle), and only
  * an out-of-band judge re-run could tell load from regression. The
  * JSON line therefore now carries the evidence needed to adjudicate a
  * run by itself:
  *   - "load_start"/"load_timed"/"load_end": 1/5/15-min load averages
  *     (from /proc/loadavg; MXBean fallback) at JVM start, at the start
  *     of the timed sweep (post-warmup), and at the end. A high
  *     load_start/load_timed on a 32-core host means the sweep competed
  *     for cores and per-query inflation is ambient, not a plan change.
  *   - "wall_sec": wall clock of the whole main (warmup included), vs
  *     "value" which is the sum of per-query times only.
  *   - opt-in best-of-N: SPARK_GRAFT_BENCH_RUNS=N repeats the timed
  *     sweep N times and reports each query's MINIMUM — a single driver
  *     invocation then produces a floor-comparable number (transient
  *     spikes rarely hit the same query in every run). "run_totals"
  *     keeps the raw per-run sums so the spread itself is visible.
  *
  * AUTO best-of-3 under ambient load (round 15): two consecutive
  * rounds of driver bench signal were destroyed by host contention
  * (r13 load 2.6→13.0, r14 6.4→8.8 — 86 queries flagged >2x that an
  * idle re-run cleared entirely). When SPARK_GRAFT_BENCH_RUNS is NOT
  * set, the bench now escalates itself instead of relying on the
  * caller to notice:
  *   - upfront: 1-min load at JVM start > 2.0 → 3 runs. load_start is
  *     the clean ambient signal (pre-warmup, nothing is self-inflicted).
  *   - mid-run ramp: after run 1, ambient ≈ load(1m) − (this process's
  *     CPU-seconds / wall-seconds over the run). Subtracting our own
  *     contribution matters — a 32-thread sweep alone pushes load past
  *     any fixed threshold, and the point is to detect OTHER work. If
  *     the estimate exceeds 2.0 the bench extends to 3 total runs.
  *   An explicit SPARK_GRAFT_BENCH_RUNS always wins (runs_auto=false):
  *   a caller pinning runs=1 for a quick spot check keeps runs=1.
  *   The JSON line records "runs" (actually executed), "runs_auto",
  *   and "ambient_run1" (the post-run-1 estimate, -1 when not taken)
  *   so benchdiff can adjudicate a driver run by itself.
  *
  * Compare against BASELINE.md's floor table with tools/benchdiff.py,
  * which flags per-query ratios >2x.
  *
  * Two lines, not one (round 19): the driver keeps only the LAST 2000
  * chars of the process output, and the full-names per-query line is
  * ~5 KB — its head (and JSON validity) is always cut there. The
  * canonical full line still prints first (and is written to
  * bench_out.json); a second COMPACT line (~1 KB, "qv" = per-query
  * best-of milliseconds sorted by query name, "order":"name_asc")
  * prints LAST on both streams so the driver's truncated capture
  * contains one complete parseable JSON object covering every query.
  *
  * Honest failures: a run that throws gives no time sample (a query
  * that breaks fast must never read as a speed-up). The failure prints
  * as "[bench] <name> failed: ..." on stderr, the full line and
  * bench_out.json list every query with a failed run under "failed", a
  * query with no successful run shows -1 in its compact "qv" slot, and
  * the process exits 1 if any query failed.
  */
object Bench {
  /** (1-min, 5-min, 15-min) load averages. /proc/loadavg on Linux;
    * falls back to the MXBean's 1-min (5/15 reported as -1). */
  def loadAvg(): (Double, Double, Double) = {
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")
      (parts(0).toDouble, parts(1).toDouble, parts(2).toDouble)
    } catch { case _: Exception =>
      val one = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      (one, -1.0, -1.0)
    }
  }
  private def loadJson(l: (Double, Double, Double)): String =
    s"[${l._1},${l._2},${l._3}]"

  /** This JVM's cumulative CPU time (ns); -1 if the platform bean
    * doesn't expose it. Used to subtract the bench's own contribution
    * from the load average when estimating ambient load mid-run. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Ambient load escalation threshold: ~6% of a 32-core host. Above
    * it, a best-of-1 sweep reads contention as regression (r13/r14). */
  private[graft] val AmbientLoadThreshold = 2.0
  private[graft] val AutoRuns = 3

  /** Initial run count: the env var (explicit, never auto-escalated)
    * or 1, escalated to [[AutoRuns]] when ambient 1-min load at JVM
    * start already exceeds the threshold. Returns (runs, auto). */
  private[graft] def initialRuns(explicit: Option[String], load1m: Double): (Int, Boolean) =
    explicit match {
      case Some(v) => (math.max(1, v.toInt), false)
      case None if load1m > AmbientLoadThreshold => (AutoRuns, true)
      case None => (1, false)
    }

  /** Ambient load estimate after a sweep: the current 1-min load minus
    * this JVM's average core occupancy over the sweep (cpuNs/wallNs).
    * Negative clamps to 0; missing CPU accounting (-1) disables the
    * subtraction (conservative: over-estimates ambient → escalates). */
  private[graft] def ambientEstimate(load1m: Double, cpuDeltaNs: Long,
                                     wallDeltaNs: Long): Double = {
    val self =
      if (cpuDeltaNs < 0 || wallDeltaNs <= 0) 0.0
      else cpuDeltaNs.toDouble / wallDeltaNs
    math.max(0.0, load1m - self)
  }

  /** Seconds `body` took, or what it threw: a failed run gives no time
    * sample. */
  private[graft] def timed(body: => Unit): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try { body; Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(e) }
  }

  /** Per-query best-of-N over the runs in which the query succeeded, in
    * `names` order (None: no successful run), and every query with at
    * least one failed run. */
  private[graft] def summarize(names: Seq[String],
                               runs: Seq[Map[String, Either[Throwable, Double]]])
      : (Seq[(String, Option[Double])], Seq[String]) = {
    val best = names.map { n =>
      n -> runs.flatMap(_(n).toOption).minOption
    }
    (best, names.filter(n => runs.exists(_(n).isLeft)))
  }

  /** The compact line's "qv": best-of milliseconds by query name
    * ascending, -1 for a query with no successful run. */
  private[graft] def compactQv(best: Seq[(String, Option[Double])]): Seq[Long] =
    best.sortBy(_._1).map(_._2.fold(-1L)(v => math.round(v * 1000)))

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runsEnv = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
    val (nRuns0, auto0) = initialRuns(runsEnv, loadStart._1)
    // Optional subset filter (r20): SPARK_GRAFT_BENCH_ONLY=q1,q2 runs
    // just the named queries — the single-query floor-adjudication
    // loop (idle-host best-of-3 on one family) without a full sweep.
    // NOTE a subset pays its family's cache builds itself; full-sweep
    // floors amortize those across the family, so compare subset
    // numbers to floors only for queries that build their own caches
    // or when the subset includes the family's first consumer.
    val queries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
        case Some(csv) =>
          val names = csv.split(",").map(_.trim).filter(_.nonEmpty)
          val unknown = names.filterNot(SparkEntry.queries.contains)
          require(unknown.isEmpty,
            s"unknown queries in SPARK_GRAFT_BENCH_ONLY: ${unknown.mkString(", ")}")
          names.toSeq.map(n => n -> SparkEntry.queries(n))
        case None => SparkEntry.queries.toSeq
      }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // r21: the default 100-entry codegen class cache evicted every
      // warmup compilation before the timed sweep ran (2,164 janino
      // recompiles per sweep, ~16-19 s single-threaded — see
      // tools.CodegenAudit + DriverSession.CodegenCacheEntries). This
      // makes the warmup do what its comment below always claimed.
      .config("spark.sql.codegen.cache.maxEntries",
        graft.tools.DriverSession.CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.tools.Quiet.windowWarn()
    // Warmup at the smallest scale factor: JIT + whole-stage-codegen
    // compile per plan shape, so the timed runs measure steady state
    // (the plans are identical across sf dirs, only the input differs).
    val warmDir = new java.io.File("/root/testdata/sf0.001")
    if (warmDir.isDirectory && warmDir.getPath != sfDir)
      queries.foreach { case (_, fn) =>
        try fn(spark, warmDir.getPath).count() catch { case _: Throwable => }
      }
    val loadTimed = loadAvg()
    // Each timed sweep starts from empty memo caches (warmup filled them
    // for the WARM dir; later runs filled them for sfDir) and releases
    // each family after its last consumer — bounds storage residency and
    // makes run 1 and run N time the same work (see tools.SweepCaches).
    def sweep(): Map[String, Either[Throwable, Double]] = {
      graft.tools.SweepCaches.releaseAll()
      val caches = new graft.tools.SweepCaches.Tracker
      queries.map { case (name, fn) =>
        val r = timed(fn(spark, sfDir).count())
        r.left.foreach(e => System.err.println(s"[bench] $name failed: $e"))
        caches.done(name)
        name -> r
      }.toMap
    }
    val runBuf = scala.collection.mutable.ArrayBuffer.empty[Map[String, Either[Throwable, Double]]]
    var targetRuns = nRuns0
    var runsAuto = auto0
    var ambientRun1 = -1.0
    while (runBuf.size < targetRuns) {
      val cpu0 = processCpuNs()
      val w0 = System.nanoTime()
      runBuf += sweep()
      // Mid-run ramp detection: only when nothing else already asked
      // for more runs (no env override, no upfront escalation).
      if (runBuf.size == 1 && runsEnv.isEmpty && targetRuns == 1) {
        ambientRun1 = ambientEstimate(loadAvg()._1,
          processCpuNs() - cpu0, System.nanoTime() - w0)
        if (ambientRun1 > AmbientLoadThreshold) {
          targetRuns = AutoRuns
          runsAuto = true
        }
      }
    }
    val runs = runBuf.toSeq
    val nRuns = runs.size
    // Best-of-N per query (order of the queries map preserved for output)
    val (best, failed) = summarize(queries.map(_._1), runs)
    val results = best.collect { case (name, Some(v)) => name -> v }
    val loadEnd = loadAvg()
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val runTotals = runs.map(_.values.flatMap(_.toOption).sum).mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"""" +
        s""","runs":$nRuns,"runs_auto":$runsAuto,"ambient_run1":$ambientRun1""" +
      s""","run_totals":$runTotals,"wall_sec":$wallSec""" +
        s""","load_start":${loadJson(loadStart)},"load_timed":${loadJson(loadTimed)}""" +
        s""","load_end":${loadJson(loadEnd)},"cpus":$cpus}"""
    println(json)
    // sbt wraps stdout in [info] prefixes but leaves stderr bare —
    // emit the line there too so a driver scraping the process output
    // can parse it without stripping prefixes
    System.err.println(json)
    // and write it to a file so the structured number survives any
    // log-routing choices (canonical artifact, see README)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"bench_out write failed: $e") }
    spark.stop()
    // COMPACT final line (r19): the driver records only the LAST 2000
    // chars of output, so the full per-query line above never parses
    // there (~156 full names ≈ 5 KB — its head is always cut). This
    // line is ~1 KB, complete, and printed last on both streams:
    // per-query best-of values in MILLISECONDS, ordered by query name
    // ascending ("order":"name_asc" — decode against the name list in
    // bench_out.json / CORRECTNESS_r*.json, which share the key set).
    // r20: build.sbt now runs forked mains with outputStrategy =
    // StdoutOutput and showSuccess := false, so this line reaches the
    // driver BARE (no sbt "[info]" prefix) and is the process's last
    // line (no trailing "[success]") — the two defects that kept
    // BENCH_r19.json's `parsed` null even though the line survived
    // the tail capture.
    val qvSorted = compactQv(best)
    val compact =
      s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0}""" +
        s""","unit":"sec","sf":"$sfDir","n":${qvSorted.size}""" +
        s""","order":"name_asc","q_unit":"ms","qv":${qvSorted.mkString("[", ",", "]")}""" +
        s""","runs":$nRuns,"wall_sec":${math.round(wallSec)}""" +
        s""","load_timed":${loadJson(loadTimed)},"cpus":$cpus}"""
    println(compact)
    System.err.println(compact)
    if (failed.nonEmpty) sys.exit(1)
  }
}
