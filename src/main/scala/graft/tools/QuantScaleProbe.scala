package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Dev-only probe: measures the int8-quantization claims (round 14) at a
  * corpus two orders bigger than the declared queries' — the claims are
  * STORAGE (an int8 embedding store is ~4× smaller than float32, which
  * at 100 TB is the difference between an index that fits hot storage
  * and one that doesn't) and QUERY (IVF candidate scoring over int8
  * moves and scans less, at equal-or-better wall time). Builds a
  * 200k × 64 float corpus, writes the float and the quantized
  * (scale + array<tinyint>) representations as arrow-ipc datasets,
  * reports their on-disk bytes, then times float IVF vs quantized IVF
  * (same nlist/nprobe/k over the same cells) and brute float vs brute
  * quantized. Last, it builds a float and a quantized STORED index at
  * nlist = 256 and prints, per query shape, the cells scan's
  * `files=k/n` from the executed plan: the runtime cell-file pruning a
  * stored query relies on (≈ nprobe × queries of 256 files).
  *
  * Run: sbt "runMain graft.tools.QuantScaleProbe [rows]"
  * (log: tools/quant_scale_probe.log) */
object QuantScaleProbe
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("QuantScaleProbe", "local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    val rows = args.headOption.map(_.toLong).getOrElse(200000L)
    val base = "/tmp/graft_scale/quant_probe"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    def timed[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[quant-probe] $what%-52s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    // deterministic pseudo-random 64-dim floats in [-1, 1]
    val dim = 64
    val corpus = spark.range(0, rows).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(xxhash64(col("id") * lit(dim) + i), lit(2000000)) / 1000000.0 - 1.0)
          .cast("float")).as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    println(s"[quant-probe] corpus: ${corpus.count()} x $dim float")

    // ── storage: float32 vs int8 representation, same dataset layout ──
    timed("write float32 store") {
      corpus.repartition(16).write.format("arrow-ipc")
        .mode("overwrite").save(s"$base/f32")
    }
    timed("write int8 store (scale + array<tinyint>)") {
      Similarity.features(corpus, Seq("vec_id"), "embedding", "c",
          quantized = true)
        .repartition(16).write.format("arrow-ipc")
        .mode("overwrite").save(s"$base/i8")
    }
    def bytes(d: String): Long =
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(d, "part-*.arrows")))
        .getOrElse(Array.empty).map(_.getLen).sum
    val (bf, bq) = (bytes(s"$base/f32"), bytes(s"$base/i8"))
    println(f"[quant-probe] store bytes: float32=$bf%d int8=$bq%d ratio=${bf.toDouble / bq}%.2fx")

    // ── query: same cells/probes, float vs int8 candidate scoring ──
    val queries = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def drain(df: org.apache.spark.sql.DataFrame): Long = df.count()
    timed("IVF float    (nlist=64, nprobe=8, k=10)") {
      drain(Similarity.ivfTopK(corpus, queries,
        "vec_id", "embedding", "qid", "qe", k = 10, nlist = 64, nprobe = 8))
    }
    timed("IVF quantized (same cells/probes)") {
      drain(Similarity.ivfTopKQuantized(corpus, queries,
        "vec_id", "embedding", "qid", "qe", k = 10, nlist = 64, nprobe = 8))
    }
    // the refine tax (round 15): the float re-rank touches only
    // |queries|·k·factor candidates via a broadcast semi-join, so the
    // delta vs the unrefined quantized run prices the recall recovery
    timed("IVF quantized + float refine (factor=4)") {
      drain(Similarity.ivfTopKQuantizedRefined(corpus, queries,
        "vec_id", "embedding", "qid", "qe", k = 10, nlist = 64, nprobe = 8,
        refineFactor = 4))
    }
    timed("brute float   (k=10)") {
      drain(Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "qid", "qe", k = 10))
    }
    timed("brute quantized (k=10)") {
      drain(Similarity.quantizedTopK(corpus, queries,
        "vec_id", "embedding", "qid", "qe", k = 10))
    }

    // ── stored index: runtime cell-file pruning at nlist = 256 ──
    for (quantized <- Seq(false, true)) {
      val kind = if (quantized) "int8" else "float"
      val dir = s"$base/ivf256_$kind"
      timed(s"stored IVF build ($kind, nlist=256)") {
        Similarity.ivfBuild(corpus, "vec_id", "embedding", nlist = 256,
          dir = dir, quantized = quantized)
      }
      // a client's query batch arrives as local rows; the same rows read
      // through the cached corpus show the cached-query caveat on
      // Similarity.ivfProbes (AQE then keeps every file)
      for ((nq, nprobe) <- Seq((1, 2), (4, 2), (4, 8)); cached <- Seq(false, true)) {
        val fromCache = queries.filter(col("qid") < nq)
        val q = if (cached) fromCache
          else spark.createDataFrame(fromCache.collectAsList(), fromCache.schema)
        val df = Similarity.ivfTopKStored(spark, dir, q,
          "vec_id", "embedding", "qid", "qe", k = 10, nprobe = nprobe)
        val t0 = System.nanoTime()
        df.collect()
        val secs = (System.nanoTime() - t0) / 1e9
        val files = collect(df.queryExecution.executedPlan) {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
              if b.scan.description().contains("/cells") =>
            "files=\\d+/\\d+".r.findFirstIn(b.scan.description())
              .getOrElse("files=?")
        }.mkString(",")
        val from = if (cached) "cached" else "local"
        println(f"[quant-probe] stored $kind%-5s $from%-6s queries=$nq nprobe=$nprobe%-2d " +
          f"cells scan $files%-12s (<= ${nq * nprobe}) $secs%8.3f s")
      }
    }
    spark.stop()
  }
}
