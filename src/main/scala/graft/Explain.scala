package graft

/** Dev utility: dump formatted physical plans for selected queries so plan
  * regressions (lost pushdown, missed broadcast, codegen gaps) are visible.
  * Usage: runMain graft.Explain <sfDir> [query ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("scan_project", "filter_pushdown", "q1_agg", "join_broadcast",
        "join_multi", "topk", "replace_dedup", "dedup_minhash_sig", "embed_neardup",
        "dedup_jaccard_pairs", "pack_sequences", "sample_hash", "contamination",
        "vocab_topk", "ann_ivf_topk")
    val spark = Engine.session("Explain", "local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
