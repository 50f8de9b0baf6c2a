package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Empirical scaling probe (dev-only): times the signature → candidate →
  * verify → components pipeline on synthetic ×1 / ×4 / ×16 replications of
  * the sf0.1 documents table, so "would this hold at scale" is answered by
  * measurement instead of assertion.
  *
  * Corpus construction: copy c offsets doc ids and inserts the copy tag
  * after every 4th alphanumeric run in the text — copies are mutually
  * DISSIMILAR (shingle sets diverge everywhere), so the near-dup rate per
  * document stays constant as the corpus grows. That is the realistic
  * regime: a 16× corpus has 16× the dup clusters, not 16×-bigger clusters
  * (the hot-cluster regime is what `maxBucketSize` caps, tested
  * separately in DedupSpec).
  *
  * Expected shape (and what the committed run log shows): near-linear
  * wall-clock in corpus size for every stage — signatures are scan-local,
  * candidates shuffle O(docs·bands) bucket rows, verification joins
  * O(pairs) fixed-width rows, components rounds are O(log clusters) —
  * nothing quadratic anywhere.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.session("ScaleProbe", "local[32]")

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    println(s"[scale] base corpus: ${base.count()} docs")

    def corpus(mult: Int): DataFrame =
      (0 until mult).map { c =>
        base.select(
          (col("doc_id") + lit(c.toLong * 1000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\p{Alnum}{4})", "$1" + c.toString).as("text"))
      }.reduce(_ unionAll _)

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[scale] $name%-26s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows rows)")
    }
    def clear(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    for (m <- Seq(1, 4, 16)) {
      val path = s"/tmp/graft_scale/docs_x$m"
      corpus(m).write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      println(s"[scale] ===== x$m: ${docs.count()} docs, " +
        s"${docs.rdd.getNumPartitions} input partitions =====")
      clear()
      time(s"x$m signatures") {
        Dedup.minhashSignature(docs, "doc_id", "text", 8, 64)
          .agg(count(lit(1))).head().getLong(0)
      }
      clear()
      time(s"x$m jaccard pairs e2e") {
        Dedup.jaccardPairsLsh(docs, "doc_id", "text", 6, 0.6, 64, 16).count()
      }
      clear()
      time(s"x$m components e2e") {
        val pairs = Dedup.jaccardPairsLsh(docs, "doc_id", "text", 6, 0.6, 64, 16)
        Dedup.connectedComponents(pairs, "doc_id").count()
      }
      clear()
    }

    // ── sketch quartet: build-once/merge-later beyond sf0.1 ─────────────
    // Per-group sketches (theta distinct, KLL quantile, freq heavy-hitter)
    // built in ONE scan with map-side-combined bounded state, stored as a
    // parquet "manifest", then merged up to corpus-level answers at cost
    // O(groups) — the claim under test is that build wall-clock scales
    // with the corpus while merge wall-clock does NOT, and that beyond
    // the exact regime (x4/x16 exceed 2^14 distinct) the estimate error
    // stays inside the documented ~1% RSE.
    locally {
      println("[scale] ===== sketch quartet: build (map-side bounded) + merge-up =====")
      import graft.functions.{QuantileSketches => QS, ThetaSketches => TS,
        FreqSketches => FS}
      for (m <- Seq(1, 4, 16)) {
        val docs = spark.read.parquet(s"/tmp/graft_scale/docs_x$m")
          .select(col("doc_id"),
            length(col("text")).cast("double").as("n_chars"),
            substring(col("text"), 1, 3).as("tok"),
            pmod(col("doc_id"), lit(256L)).as("g"))
        val sketchPath = s"/tmp/graft_scale/sketches_x$m"
        clear()
        time(s"x$m sketch build 256 grp") {
          docs.groupBy("g").agg(
            TS.thetaSketch(col("doc_id")).as("theta_doc"),
            QS.kllSketch(col("n_chars")).as("kll_len"),
            FS.freqSketch(col("tok")).as("freq_tok"))
            .write.mode("overwrite").parquet(sketchPath)
          spark.read.parquet(sketchPath).count()
        }
        time(s"x$m sketch merge-up") {
          val man = spark.read.parquet(sketchPath)
          val r = man.agg(
            TS.thetaEstimate(TS.thetaUnion(col("theta_doc"))).as("nd"),
            QS.kllQuantile(QS.kllMerge(col("kll_len")), lit(0.9)).as("p90"),
            FS.freqItems(FS.freqMerge(col("freq_tok"))).as("items")).head()
          val exact = m * 5000L
          val err = math.abs(r.getDouble(0) - exact) / exact
          val top = r.getSeq[org.apache.spark.sql.Row](2).headOption
            .map(t => s"'${t.getString(0)}'x${t.getLong(1)}").getOrElse("-")
          println(f"[scale]   distinct est ${r.getDouble(0)}%.0f vs $exact exact " +
            f"(rel err ${err * 100}%.2f%%), p90 len ${r.getDouble(1)}%.0f, top tok $top")
          man.count()
        }
        clear()
      }
    }

    // ── skew-join regime: ONE key owns half the probe side ───────────────
    // Broadcast disabled (the salted join targets exactly the regime where
    // the build side is too big to broadcast); AQE skew splitting toggled
    // to show what the runtime saves on its own vs what salting saves when
    // AQE can't (or isn't there).
    println("[scale] ===== skew join: hot key = 50% of 20M probe rows =====")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val probe = spark.range(20000000L).select(
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(pmod(xxhash64(col("id")), lit(10000L))).as("k"),
      col("id").as("v"))
    val build = spark.range(10000L).select(col("id").as("k"), (col("id") * 7).as("attr"))
    def joinCount(salted: Int): Long = {
      val j =
        if (salted <= 1) probe.join(build, "k")
        else graft.ops.SkewJoin.saltedJoin(probe, build, Seq("k"), salted,
          probeIdCols = Seq("v"))
      j.count()
    }
    // Warm the join codegen/JIT paths once so the first measured config
    // doesn't absorb one-time compilation cost (same discipline as Bench's
    // q1_agg warm-up; without it the first row of the comparison reads
    // ~1.6× slower than the same plan re-run).
    joinCount(1); joinCount(16)
    for (aqeSkew <- Seq(true, false)) {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqeSkew.toString)
      time(s"plain SMJ (aqeSkew=$aqeSkew)") { joinCount(1) }
      time(s"salted x16 (aqeSkew=$aqeSkew)") { joinCount(16) }
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.stop()
  }
}
