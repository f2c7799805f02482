package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.Skew

/** Scale-mechanics evidence: salting preserves join semantics while
  * spreading hot keys; bucketed tables join without a shuffle.
  */
class ScaleSpec extends SparkSuite {
  private val dataDir = "/root/testdata/sf0.001"
  private lazy val t = {
    spark.sparkContext.setLogLevel("WARN")
    Tables(spark, dataDir)
  }

  test("salted join output equals plain join output") {
    val plain = t.orders.join(t.customer,
      t.orders("o_custkey") === t.customer("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"))
    val rekeyed = t.orders.withColumnRenamed("o_custkey", "k")
    val dim = t.customer.withColumnRenamed("c_custkey", "k")
    val salted = Skew.saltedJoin(rekeyed, dim, "k", buckets = 8)
      .select(col("o_orderkey"), col("k").as("c_custkey"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("q48 salted join shuffles the fact on (etype, __salt) when broadcast is off") {
    // at sf0.001 AQE broadcasts the tiny dim and the salt costs nothing;
    // the pin is the sort-merge shape a 100 TB dim would get: the fact
    // exchange must partition on the COMPOSITE key so a hot event_type
    // fans across `buckets` reducers instead of pinning one.
    // newSession: conf-dependent plan pins isolate like the suite's
    // other ones rather than mutate the shared session.
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = graft.ops.Relational.q48SaltedJoin(Tables(s, dataDir))
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(etype[^)]*__salt".r.findFirstIn(plan).isDefined,
      s"fact exchange must include the salt in its partitioning:\n$plan")
  }

  test("q49 salted agg: partial-aggregate exchange carries the salt; distinct is exact") {
    // the first exchange must partition on a key set CONTAINING
    // __salt, never on bare etype — that's the whole point: a hot
    // event_type's distinct-user state fans across buckets
    val plan = graft.ops.Relational.q49SaltedAgg(t)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(etype[^)]*__salt".r.findFirstIn(plan).isDefined,
      s"partial agg exchange must include the salt:\n$plan")
    // output equivalence to the unsalted aggregate (what the DuckDB
    // oracle runs at the driver; pinned here too so the property holds
    // at test time regardless of driver runs)
    val salted = graft.ops.Relational.q49SaltedAgg(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val plain = t.events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")), count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("salted plans carry no nondeterministic expression (DETERMINATE exchanges)") {
    // a nondeterministic salt (monotonically_increasing_id / rand)
    // makes the salted exchange an INDETERMINATE stage: one fetch
    // failure at scale rolls back the whole stage instead of the lost
    // tasks. The default salt is a content hash — pin that nothing
    // nondeterministic appears anywhere in the salted plans.
    val rekeyed = t.orders.withColumnRenamed("o_custkey", "k")
    val dim = t.customer.withColumnRenamed("c_custkey", "k")
    val plans = Seq(
      Skew.saltedJoin(rekeyed, dim, "k", buckets = 8),
      Skew.saltedAgg(t.events, "event_type", buckets = 8)(
        Seq(count(lit(1)).as("pc")), Seq(sum(col("pc")).as("n"))),
      graft.ops.Relational.q48SaltedJoin(t),
      graft.ops.Relational.q49SaltedAgg(t))
    for (df <- plans) {
      val bad = df.queryExecution.analyzed.collect {
        case p => p.expressions.filter(!_.deterministic)
      }.flatten
      assert(bad.isEmpty, s"nondeterministic expressions in salted plan: $bad")
    }
  }

  test("q51 sketch-path heavy hitters equals exact q50, even at the minimum counter budget") {
    val exact = graft.ops.Relational.q50HeavyHitters(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val sketch = graft.ops.Relational.q51HeavyHittersSketch(t).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(sketch == exact)
    // counters = k is the tightest budget the MG superset guarantee
    // covers (counters+1 > k): candidates may shrink, the answer can't
    val tight = graft.ops.Relational.q51HeavyHittersSketch(t, counters = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(tight == exact)
  }

  test("widen repartitions narrow scans only — identity when already parallel") {
    import spark.implicits._
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    assert(t.widen(narrow).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    val wide = spark.range(0, 100, 1, 8).toDF("id")
    assert(t.widen(wide) eq wide) // same reference: no shuffle inserted
  }

  test("tfidf computes df via partial aggregate, not a term-partitioned window") {
    val plan = graft.text.TextAnalysis.tfidf(t).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"df must not be a window over term (hot-term single partition):\n$plan")
    assert(plan.contains("partial_count"), plan) // map-side combine present
  }

  test("text_quality_model is a zero-shuffle column map (no Exchange, no explode)") {
    val plan = graft.text.TextAnalysis.qualityModel(t)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the HOF-fold score must not shuffle:\n$plan")
    assert(!plan.contains("Generate"),
      s"the score folds the token array in place, never explodes it:\n$plan")
  }

  test("q9 broadcast hints: fixed-size dims only, customer unhinted") {
    // exactly two ResolvedHints (nation, region); customer's physical
    // strategy is left to stats/AQE so it can demote at scale
    val analyzed = graft.ops.Relational.q9StarJoin(t)
      .queryExecution.analyzed.toString
    val hints = "(?i)resolvedhint".r.findAllIn(analyzed).length
    assert(hints == 2, s"expected 2 hints (nation, region), got $hints:\n$analyzed")
  }

  test("vocab top-K plans as TakeOrdered (per-partition heaps), not a global sort") {
    val plan = graft.text.TextAnalysis.vocabCoverage(t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K vocab must use per-partition heaps:\n$plan")
    assert(!plan.contains("GlobalLimit"), plan)
  }

  test("corpus-growing probe sets carry no forced broadcast hint") {
    // q32 probes = part/50 and ann_brute probes = embeddings/13 — fixed
    // FRACTIONS of the corpus, so a forced hint would be un-demotable
    // OOM at scale. Pin both analyzed plans hint-free (AQE owns the
    // physical strategy).
    // contamination's bench grams derive from the corpus (doc_id % 97)
    // — a corpus fraction too, same rule.
    for ((name, df) <- Seq(
        "q32_fuzzy_name" -> graft.ops.Relational.q32FuzzyName(t),
        "ann_brute_force" -> graft.sim.Similarity.annBruteForce(t),
        // the UNCACHED plan: the memoized form analyzes to a LogicalRDD
        "contamination" -> graft.pipeline.CorpusOps.contaminationUncached(t))) {
      val analyzed = df.queryExecution.analyzed.toString
      assert(!analyzed.toLowerCase.contains("resolvedhint"),
        s"$name must not force a broadcast on a corpus fraction:\n$analyzed")
    }
  }

  test("banded theta join: all-equal-price fixture splits the hot band via AQE skew join") {
    // worst case from SCALING.md: every price identical → one band
    // holds the entire table and the banded equi-join concentrates in
    // a single shuffle partition. AQE's skew-split must carve that
    // partition into bounded tasks; thresholds are lowered so the
    // mechanism triggers at test scale.
    val s3 = spark.newSession()
    s3.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    s3.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1k")
    s3.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s3.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    s3.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    import s3.implicits._
    val n = 800
    val dir = java.nio.file.Files.createTempDirectory("graft-skew").toString
    (1 to n).map(i => (i.toLong, 100.0)).toDF("p_partkey", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    val joined = graft.ops.Relational.q28ThetaJoin(Tables(s3, dir))
    // materialize through the dataframe's OWN query execution so AQE
    // finalizes the plan instance we assert on (count() would clone)
    val rows = joined.queryExecution.executedPlan.execute().count()
    assert(rows == n.toLong * (n - 1) / 2) // all pairs: every diff is 0 < width
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), plan)
    assert(plan.contains("skew=true"),
      s"expected the hot band to be skew-split, got:\n$plan")
  }

  test("partition-layout star join prunes fact partitions dynamically (DPP)") {
    // the 100 TB layout: fact written partitioned by the join/filter
    // key (io.Tables.writeByKey), dim filter known only at runtime →
    // Spark injects a dynamicpruning subquery into the fact scan's
    // PartitionFilters so unmatched partitions are never listed, let
    // alone read. useStats off so the tiny test tables don't defeat
    // the benefit heuristic.
    val s4 = spark.newSession()
    s4.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    s4.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "10.0")
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val t4 = Tables(s4, "/root/testdata/sf0.001")
    graft.io.GraftIO.writeByKey(
      t4.orders.select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
      "o_orderpriority", s"$dir/orders_part")
    val fact = s4.read.parquet(s"$dir/orders_part")
    // dim filter on a NON-key column: the matching key set exists only
    // at runtime (a filter on the key itself would constant-propagate
    // into a static partition filter — stronger, but not DPP)
    import s4.implicits._
    // the dim must be a file-backed scan: on a LocalRelation the filter
    // constant-folds away and DPP finds no selective predicate to reuse
    Seq(("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
      ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold")).toDF("prio", "tier")
      .write.parquet(s"$dir/prio_dim")
    val dim = s4.read.parquet(s"$dir/prio_dim").filter(col("tier") === "hot")
    val joined = fact.join(dim, fact("o_orderpriority") === dim("prio"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan should carry a dynamicpruning partition filter:\n$plan")
    val expected = t4.orders
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH")).count()
    assert(joined.count() == expected)
  }

  test("bucketed tables sort-merge join without a shuffle exchange") {
    // default warehouse dir (./spark-warehouse, gitignored) — the
    // warehouse path is a static conf and can't change per-session
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // clean any leftover managed-table locations from prior runs
    Seq("orders_b", "customer_b").foreach { tbl =>
      s2.sql(s"DROP TABLE IF EXISTS $tbl")
      val loc = new java.io.File(s"spark-warehouse/$tbl")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val t2 = Tables(s2, "/root/testdata/sf0.001")
    t2.orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    t2.customer.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")
    val joined = s2.table("orders_b").join(s2.table("customer_b"),
      col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join should be shuffle-free, got:\n$plan")
    assert(joined.count() == t2.orders.count()) // every order has a customer
  }

  test("z-order layout: 2-D range predicate overlaps far fewer files than a 1-D sort") {
    import graft.io.ZOrder
    val t01 = Tables(spark, "/root/testdata/sf0.01")
    val li = t01.lineitem.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val base = java.nio.file.Files.createTempDirectory("graft-z").toString
    ZOrder.writeZOrdered(li, s"$base/z", "l_partkey", "l_suppkey", 32)
    // the natural lakehouse baseline: clustered by the single ingest
    // key (orderkey), which leaves partkey/suppkey scattered per file
    li.repartitionByRange(32, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$base/n")
    // 2-D range predicate: ~10% of partkeys x ~20% of suppkeys
    def touched(dir: String): Long = ZOrder.filesOverlapping(
      spark.read.parquet(dir), "l_partkey", "l_suppkey", 400, 599, 10, 29)
    val (zf, nf) = (touched(s"$base/z"), touched(s"$base/n"))
    info(s"files overlapping predicate: z-order $zf vs natural $nf of 32")
    assert(nf >= 28, s"baseline should be unprunable, got $nf")
    assert(zf * 4 <= nf, s"z-order should prune >=4x, got $zf vs $nf")
    // layout changes bytes scanned, never results: same matching rows
    val pred = (d: String) => spark.read.parquet(d)
      .filter(col("l_partkey").between(400, 599) &&
        col("l_suppkey").between(10, 29)).count()
    assert(pred(s"$base/z") == pred(s"$base/n"))
  }

  test("Hamming shortlist sign-word table pins its exchange width (REPARTITION_BY_NUM)") {
    // SCALING.md §10x defect 3: a by-col exchange of the 16 B/row word
    // table gets AQE-coalesced to ONE partition, and the shortlist
    // window inherits the single task. The explicit-width repartition
    // is the containment — both Hamming-family queries must carry it.
    for (df <- Seq(graft.sim.Similarity.annHamming(t),
                   graft.sim.Similarity.annCascade(t))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("REPARTITION_BY_NUM"),
        s"sign-word exchange lost its pinned width:\n$plan")
    }
  }

  test("derived knobs: gate anchors hold, ladders are monotone (10x rehearsal pins)") {
    import graft.sim.Similarity._
    // gate-corpus anchors: derived defaults must equal the measured
    // operating points every oracle/band was calibrated against
    assert(nlistFor(500) == 16 && nprobeFor(16) == 10)
    assert(rerankFor(500) == 64)
    assert(semanticTauFor(500) == 0.35)
    // 10x rehearsal operating points (SCALING.md §10x): the values the
    // 14 green bands were measured at — a formula change that shifts
    // them re-runs the rehearsal knowingly, not by accident
    assert(nlistFor(20000) == 101 && nprobeFor(101) == 63)
    assert(assignFor(101) == 11)
    assert(rerankFor(20000) == 405)
    assert(semanticTauFor(20000) == 0.48)
    // monotone, no plateaus at decade boundaries
    val ns = Seq(500L, 2000L, 20000L, 200000L, 2000000L)
    assert(ns.map(nlistFor) == ns.map(nlistFor).sorted)
    assert(ns.map(rerankFor) == ns.map(rerankFor).sorted)
    assert(ns.map(semanticTauFor) == ns.map(semanticTauFor).sorted)
  }

  test("ivfPairKnobsFor: retrieval ladder at observed points, banded above") {
    import graft.sim.Similarity._
    // every operating point at or below the 10x rehearsal derives the
    // retrieval ladder EXACTLY — gate outputs / bands / 10x unchanged
    assert(ivfPairKnobsFor(500) == ((16, 4)))      // gate
    assert(ivfPairKnobsFor(2000) == ((32, 6)))     // sf0.1
    assert(ivfPairKnobsFor(20000) == ((101, 11)))  // 10x rehearsal
    assert(!ivfPairBanded(20000) && ivfPairBanded(200000)) // crossover
    // the 100x decade runs the BANDED regime (r18, replacing r17's
    // nlist ∝ N² cell shrink whose own KMeans fit died past ~10⁷):
    // nlist STAYS the retrieval ladder — the coarse fit is feasible at
    // every corpus size — and assign pins at 8; the SRP band keys are
    // what bound the per-cell pair work
    assert(ivfPairKnobsFor(200000) == ((nlistFor(200000), 8)))
    assert(nlistFor(200000) == 320)
    // judge r17 done-bar: derived nlist never exceeds N/assign at ANY
    // N (no singleton-cell degeneracy), and the KMeans fit stays on
    // the √N ladder through the 100 TB range (~71k centroids at 10¹⁰)
    Seq(40L, 500L, 20000L, 200000L, 2000000L, 20000000L,
        2000000000L, 10000000000L).foreach { n =>
      val (nl, a) = ivfPairKnobsFor(n)
      assert(nl.toLong <= math.max(1L, n / a) || nl == 16, s"n=$n nl=$nl a=$a")
      assert(nl <= math.max(16, nlistFor(n)), s"n=$n nl=$nl")
    }
    assert(ivfPairKnobsFor(10000000000L)._1 == 71554)
    // band knobs at the decade points (assign=8, the banded regime's
    // pin): bandBits holds expected per-band in-cell collisions at
    // BandTargetPerBand; nBands from the hyperplane-LSH OR identity
    // at the operating τ. Values pinned so a constant change re-runs
    // the decade scan knowingly.
    assert(pairBandKnobsFor(200000, 320, 8, 0.55) == ((8, 33)))
    assert(pairBandKnobsFor(200000, 320, 8, 0.3) == ((8, 99)))
    assert(pairBandKnobsFor(2000000, 1012, 8, 0.55) == ((9, 48)))
    // real-SemDeDup-τ sanity: at τ=0.9 a handful of bands suffice even
    // at the 10¹⁰ frontier (bandBits caps at 16)
    val (bbBig, nbBig) = pairBandKnobsFor(10000000000L, 71554, 8, 0.9)
    assert(bbBig == 16 && nbBig <= 32)
    // wider vectors per band never exceeds the explode cap
    assert(pairBandKnobsFor(10000000000L, 71554, 8, 0.55)._2 <= MaxBands)
  }

  test("flat-scan guard: oversized Theta(Q*N) calls fail fast pointing at the IVF twin") {
    import graft.sim.Similarity.flatScanGuard
    // the r16 100x failure shape: full %13 workload at N=200k
    val ex = intercept[IllegalArgumentException] {
      flatScanGuard("annPq", 15384, 200000, allowFullScan = false, "annIvfPq")
    }
    assert(ex.getMessage.contains("annIvfPq"))
    assert(ex.getMessage.contains("allowFullScan"))
    // the explicit override and every gate/rehearsal workload pass
    flatScanGuard("annPq", 15384, 200000, allowFullScan = true, "annIvfPq")
    flatScanGuard("annBruteForce", 154, 2000, allowFullScan = false, "annIvf")
    flatScanGuard("annBruteForce", 1538, 20000, allowFullScan = false, "annIvf")
    // the guarded operators still plan at gate scale
    assert(graft.sim.Similarity.annBruteForce(t).columns.nonEmpty)
  }

  test("saltsFor: gate anchor, fill/shard-floor trade, monotone in both directions") {
    import graft.sim.Similarity.saltsFor
    // gate corpora: 10 labels on 32 cores fill at ceil(128/10) = 13
    // (the old hand-pinned 64 paid 5x the replication for the same
    // hash-green output)
    assert(saltsFor(500, 10, 32) == 13)
    assert(saltsFor(2000, 10, 32) == 13)
    // few labels need many salts (the r16 audit's 4-task stage): a
    // 2-label corpus on 32 cores derives the old 64
    assert(saltsFor(2000, 2, 32) == 64)
    // many labels already fill the cluster — floor 4 keeps only the
    // intra-label-skew headroom
    assert(saltsFor(100000, 1000, 32) == 4)
    // shard floor: never salt below ~1 candidate per (label, salt)
    assert(saltsFor(100, 2, 32) == 50)
    // replication cap
    assert(saltsFor(10000000, 1, 1024) == 256)
    // more labels -> fewer-or-equal salts; more cores -> more-or-equal
    val labels = Seq(1L, 2L, 10L, 100L, 1000L)
    assert(labels.map(l => saltsFor(1000000, l, 32)) ==
      labels.map(l => saltsFor(1000000, l, 32)).sorted.reverse)
    val cores = Seq(8, 32, 128, 1024)
    assert(cores.map(c => saltsFor(1000000, 10, c)) ==
      cores.map(c => saltsFor(1000000, 10, c)).sorted)
  }

  test("dispatch budget: rebuilding a short relational query starts no Spark job") {
    // A parquet read with no schema starts an inference job (five per
    // q9 build). Tables resolves each schema once per session, so a
    // second build of these queries is planning only.
    val queries = Seq("q2_regex_filter", "q3_equi_join", "mj_word_count", "q9_star_join",
      "q27_approx_distinct", "asof_join", "agg_typed_sum", "stream_hourly_counts")
    for (q <- queries) {
      val build = SparkEntry.queries(q)
      build(spark, dataDir)
      assert(jobsStarted(build(spark, dataDir)) == 0, s"$q started jobs while building")
    }
  }
}
