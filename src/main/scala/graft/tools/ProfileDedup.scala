package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Dev-only stage profiler for the jaccard/minhash pipeline (not part of
  * the bench contract; used to locate hot stages before optimizing). */
object ProfileDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.session("ProfileDedup", "local[32]")
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    docs0.count() // warm

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def clear(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    // Stage 1: shingle rows only
    time("shingleRowsRaw.count") {
      Dedup.shingleRowsRaw(docs0, "doc_id", "text", 6).count()
    }
    // Stage 2: + base hash
    time("base-hash.count") {
      Dedup.shingleRowsRaw(docs0, "doc_id", "text", 6)
        .select(col("doc_id"), Dedup.shingleBase(col("shingle")).as("b"))
        .agg(sum("b")).collect()
    }
    // Stage 3: full docs frame (no persist)
    time("jaccardDocs(nopersist)") {
      Dedup.jaccardDocs(docs0, "doc_id", "text", 6, 64, persist = false)
        .agg(sum("sz")).collect()
    }
    clear()
    // Stage 4: docs frame with persist, materialized
    val docsF = Dedup.jaccardDocs(docs0, "doc_id", "text", 6, 64)
    time("jaccardDocs(persist)") { docsF.count() }
    // Stage 5: candidates from persisted docs
    val sig = docsF.select(col("doc_id") +: (0 until 64).map(i => col(s"mh_$i")): _*)
    time("candidates(warm docs)") {
      Dedup.minhashCandidatePairsFromSig(sig, "doc_id", 64, 16).count()
    }
    // Stage 6: full verify from persisted docs
    time("pairs(warm docs)") {
      Dedup.jaccardPairsFromDocs(docsF, "doc_id", 0.6, 64, 16).count()
    }
    clear()
    // Stage 7: cold end-to-end (what the bench measures)
    time("jaccardPairsLsh cold e2e") {
      Dedup.jaccardPairsLsh(docs0, "doc_id", "text", 6, 0.6, 64, 16).count()
    }
    clear()
    // Stage 8: CC on top, cold (= bench dedup_components)
    time("components cold e2e") {
      val pairs = Dedup.jaccardPairsLsh(docs0, "doc_id", "text", 6, 0.6, 64, 16)
      Dedup.connectedComponents(pairs, "doc_id").count()
    }
    spark.stop()
  }
}
