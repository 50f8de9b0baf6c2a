package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.{ArrowFilesOffset, ArrowIpcMicroBatchStream, ArrowMaintenance}

/** Dev-only probe: quantifies the round-11 data-stream poll shape on a
  * many-file directory — the long-lived ingest lake a 100 TB deployment
  * actually streams from.
  *
  *   1. IDLE POLLS (nothing new): the tip-stamped listing cache answers
  *      from two metadata probes — must be flat in file count, where the
  *      pre-round-11 poll re-listed the directory (plus a ledger read)
  *      every trigger.
  *   2. COLD POLLS (cache invalidated, the old per-trigger shape): the
  *      full listing, for the ratio.
  *   3. OFFSET COMPACTION: after maintenance folds the ingest debt, the
  *      drained offset must shrink to the live set — checkpoint offsets
  *      track file count, not ingest history.
  */
object StreamPollScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(3000)
    val spark = graft.Engine.session("StreamPollScaleProbe", "local[8]")
    val dir = s"/tmp/graft_scale/stream_poll_$n/out"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir).getParent, true)

    println(s"writing a $n-file directory (one append job)...")
    spark.range(0, n.toLong * 10).select(col("id"))
      .repartition(n).write.format("arrow-ipc").mode("append").save(dir)

    val schema = spark.read.format("arrow-ipc").load(dir).schema
    def freshStream() = new ArrowIpcMicroBatchStream(schema, dir, Array.empty)
    val limit = org.apache.spark.sql.connector.read.streaming
      .ReadLimit.allAvailable()

    def time(what: String, reps: Int)(body: => Long): Double = {
      val t = System.nanoTime()
      var last = 0L
      (0 until reps).foreach(_ => last = body)
      val ms = (System.nanoTime() - t) / 1e6 / reps
      println(f"  $what%-46s $ms%8.2f ms/op (n=$last)")
      ms
    }

    // drain once: the cold poll that admits everything (and warms the cache)
    val warm = freshStream()
    val drained = warm.latestOffset(ArrowFilesOffset(Nil), limit)
      .asInstanceOf[ArrowFilesOffset]
    require(drained.files.size == n, s"expected $n files, ${drained.files.size}")

    println(s"per-trigger poll at $n files:")
    val idle = time("idle poll (tip-stamped cache)", 200) {
      warm.latestOffset(drained, limit)
        .asInstanceOf[ArrowFilesOffset].files.size.toLong
    }
    val cold = time("cold poll (fresh instance = the old shape)", 10) {
      freshStream().latestOffset(drained, limit)
        .asInstanceOf[ArrowFilesOffset].files.size.toLong
    }
    println(f"  ratio: ${cold / idle}%.0fx — and the listing side grows " +
      "with file count while the stamp stays flat")

    println("offset compaction after maintenance:")
    val c = ArrowMaintenance.compact(spark, dir, targetBytes = 512L << 20)
    println(s"  compacted ${c.get.oldFiles} files -> ${c.get.newFiles}")
    val after = freshStream().latestOffset(drained, limit)
      .asInstanceOf[ArrowFilesOffset]
    println(s"  offset names: ${drained.files.size} -> ${after.files.size} " +
      s"(json ${drained.json().length} -> ${after.json().length} bytes " +
      "per checkpointed trigger)")
    require(after.files.size == c.get.newFiles, "offset must equal the live set")
    spark.stop()
  }
}
