package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Dev-only probe: puts a NUMBER on the frozen-centroid recall-drift
  * contract ([[graft.ops.Similarity.ivfAppend]] keeps the stored
  * centroids fixed — "recall drifts only as far as the data does;
  * re-run ivfBuild to re-center"). Until round 17 that advice had no
  * measurement behind it: nothing said how fast recall decays under a
  * drifting ingest, or when re-centering pays.
  *
  * Shape: build a stored IVF index over a clustered base corpus, then
  * append waves whose cluster centers MIGRATE THROUGH the cloud (each
  * cluster drifts toward its antipode — the recall-killing regime,
  * where a drifted cluster straddles several frozen cells' territory
  * and a query's true neighbors spread across more cells than nprobe
  * reaches; drift AWAY from the cloud is the easy case: the strays
  * pile into a few frontier cells the query also probes). After each
  * wave, two costs are measured over the SAME corpus with the SAME
  * (nprobe, k), frozen vs rebuilt:
  *
  *   - recall@5 vs float brute force — FROZEN (the incrementally grown
  *     index: appends assigned to the base build's centroids) vs
  *     REBUILT (a fresh [[Similarity.ivfBuild]] over the full corpus
  *     in a scratch dir — the re-center the contract recommends);
  *   - candidates scanned per query (the probed cells' row mass) —
  *     drift also shows up as COST, not just recall: stale centroids
  *     concentrate new rows into few overgrown cells, and a fixed
  *     nprobe then drags ever-bigger lists.
  *
  * Queries are HELD-OUT vectors from the newest wave's distribution
  * (fresh queries chase fresh data — the stress case) plus a base-
  * distribution control (old queries must not regress). Everything is
  * deterministic (hash-mixed vectors, no RNG state), so reruns
  * reproduce the table bit-for-bit.
  *
  * Run: sbt "runMain graft.tools.AnnDriftProbe [waves] [waveRows]"
  * (log: tools/ann_drift_probe.log) */
object AnnDriftProbe {
  private val dim = 32
  private val nCenters = 8

  private def baseCenter(c: Int): Array[Float] =
    Array.tabulate(dim) { d =>
      if (((c >> (d % 3)) & 1) == 0) 4.0f else -4.0f
    }

  /** Cluster c's position at drift fraction `s` ∈ [0, 1]: the straight
    * line from its base position to its antipode's — at s ≈ 0.5 the
    * migrating cluster sits in no frozen centroid's home territory. */
  private def center(c: Int, s: Float): Array[Float] = {
    val from = baseCenter(c)
    val to = baseCenter((c + nCenters / 2) % nCenters)
    from.zip(to).map { case (a, b) => a * (1 - s) + b * s }
  }

  /** Deterministic vector: cluster (id % nCenters) at drift fraction
    * `s`, plus a nonlinear per-(id, dim) jitter (see AnnStressProbe —
    * an additive pattern would tie cosines at rounding precision).
    * `salt` decorrelates held-out queries from corpus members. */
  private def vec(i: Long, s: Float, salt: Long): Array[Float] = {
    val c = center((i % nCenters).toInt, s)
    c.zipWithIndex.map { case (v, d) =>
      var h = (i * 0x9E3779B97F4A7C15L + salt) ^ (d * 0xC2B2AE3D27D4EB4FL)
      h = java.lang.Long.rotateLeft(h * 0xD6E8FEB86659FD93L, 29)
      v + (((h >>> 11) % 1000L) / 500.0f - 1.0f)
    }
  }

  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(6)
    val waveRows = args.drop(1).headOption.map(_.toLong).getOrElse(10000L)
    val baseRows = 40000L
    val driftStep = 0.15f // per-wave fraction of the full migration path
    val nlist = 64
    val nprobe = 4
    val k = 5
    val nQueries = 64

    val spark = graft.Engine.session("AnnDriftProbe", "local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = s"/tmp/graft_scale/ann_drift_${System.nanoTime()}"
    val frozenDir = s"$base/frozen"

    def mk(lo: Long, hi: Long, shift: Float): DataFrame =
      (lo until hi).map(i => (i, vec(i, shift, salt = 0L)))
        .toDF("vec_id", "embedding")
    def mkQueries(shift: Float): DataFrame =
      (0L until nQueries).map(i => (i, vec(i * 131L + 7, shift, salt = 77L)))
        .toDF("qid", "qe")

    // recall@k of the stored index vs float brute force over `corpus`
    def recall(dir: String, corpus: DataFrame, queries: DataFrame): Double = {
      val truth = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "qid", "qe", k = k)
        .select("qid", "vec_id")
      val got = Similarity.ivfTopKStored(spark, dir, queries,
        "vec_id", "embedding", "qid", "qe", k = k, nprobe = nprobe)
        .select("qid", "vec_id")
      got.join(truth, Seq("qid", "vec_id")).count().toDouble /
        (k.toLong * nQueries)
    }

    // mean candidate rows a query's nprobe probed cells drag in — the
    // COST face of drift (ivfTopKStored's own probe head)
    def candCost(dir: String, queries: DataFrame): Double = {
      val gen = Similarity.ivfGenerationDir(spark, dir)
      val centroids = spark.read.format("arrow-ipc").load(s"$gen/centroids")
      val cellSizes = spark.read.format("arrow-ipc").load(s"$gen/cells")
        .groupBy("cid").count()
      Similarity.ivfProbes(centroids, queries, "qid", "qe", nprobe)
        .join(cellSizes, "cid")
        .groupBy("qid").agg(sum("count").as("cand"))
        .agg(avg("cand")).as[Double].head()
    }

    println(s"[ann-drift] base=$baseRows waves=$waves x $waveRows " +
      s"driftStep=$driftStep nlist=$nlist nprobe=$nprobe k=$k " +
      s"queries=$nQueries x2 (drifted + base control)")
    Similarity.ivfBuild(mk(0, baseRows, 0.0f), "vec_id", "embedding",
      nlist = nlist, dir = frozenDir)
    var corpus = mk(0, baseRows, 0.0f)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    corpus.count()

    println("[ann-drift] wave  drift  appended_frac  " +
      "recall_frozen  recall_rebuilt  recall_base-q  " +
      "cand_frozen  cand_rebuilt")
    val table = (1 to waves).map { w =>
      val s = math.min(1.0f, w * driftStep)
      val lo = baseRows + (w - 1) * waveRows
      val wave = mk(lo, lo + waveRows, s)
      Similarity.ivfAppend(spark, frozenDir, wave, "vec_id", "embedding")
      val old = corpus
      corpus = old.union(wave)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      corpus.count()
      old.unpersist()
      // the re-center the ivfAppend contract recommends, priced fresh
      // each wave over the full corpus
      val rebuiltDir = s"$base/rebuilt_w$w"
      Similarity.ivfBuild(corpus, "vec_id", "embedding",
        nlist = nlist, dir = rebuiltDir)
      val frac = w * waveRows.toDouble / (baseRows + w * waveRows)
      val qNew = mkQueries(s)
      val qBase = mkQueries(0.0f)
      val rFrozen = recall(frozenDir, corpus, qNew)
      val rRebuilt = recall(rebuiltDir, corpus, qNew)
      val rFrozenBase = recall(frozenDir, corpus, qBase)
      val cFrozen = candCost(frozenDir, qNew)
      val cRebuilt = candCost(rebuiltDir, qNew)
      println(f"[ann-drift] $w%4d  $s%5.2f  $frac%13.2f  " +
        f"$rFrozen%13.3f  $rRebuilt%14.3f  $rFrozenBase%13.3f  " +
        f"$cFrozen%11.0f  $cRebuilt%12.0f")
      (w, frac, rFrozen, rRebuilt, cFrozen, cRebuilt)
    }
    // the operational thresholds: first wave where the frozen index
    // gives up ≥ 5 recall points vs a re-center on drifted queries, and
    // first wave where its probed-candidate mass costs ≥ 2× a re-center
    table.find { case (_, _, f, r, _, _) => r - f >= 0.05 } match {
      case Some((w, frac, f, r, _, _)) =>
        println(f"[ann-drift] RECALL: re-centering pays from wave $w " +
          f"(appended ${frac * 100}%.0f%% of corpus): frozen $f%.3f vs " +
          f"rebuilt $r%.3f on drifted queries")
      case None =>
        println("[ann-drift] RECALL: frozen stayed within 5 points of a " +
          "re-center across all waves")
    }
    table.find { case (_, _, _, _, cf, cr) => cf >= 2 * cr } match {
      case Some((w, frac, _, _, cf, cr)) =>
        println(f"[ann-drift] COST: re-centering pays from wave $w " +
          f"(appended ${frac * 100}%.0f%% of corpus): frozen scans " +
          f"$cf%.0f candidates/query vs $cr%.0f rebuilt (${cf / cr}%.1fx)")
      case None =>
        println("[ann-drift] COST: frozen candidate mass stayed under 2x " +
          "a re-center across all waves")
    }
    spark.stop()
  }
}
