package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only probe: quantifies the round-7 OPERATIONAL Arrow paths on a
  * fragmented directory — the state a micro-batch writer actually leaves
  * behind. ×16 embeddings corpus shattered into 256 small IPC files, then:
  * full-scan cost before vs after [[graft.sources.ArrowMaintenance
  * .compact]], manifest-only aggregates vs real scans, and a streaming
  * backlog drain under `maxFilesPerTrigger`. */
object ArrowOpsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.session("ArrowOpsProbe", "local[32]")

    def time(name: String)(f: => Any): Unit = {
      def once: Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-42s ${math.min(once, once)}%6.2f s")
    }
    def partCount(dir: String): Int =
      Option(new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .globStatus(new org.apache.hadoop.fs.Path(dir, "part-*.arrows")))
        .getOrElse(Array.empty).length

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val wide = (0 until 16).map(i =>
      base.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        col("embedding"), col("label"))).reduce(_ unionAll _)
    val dir = "/tmp/graft_scale/arrow_ops_probe"
    wide.repartition(256).write.format("arrow-ipc").mode("overwrite").save(dir)
    println(s"[probe] fragmented corpus: ${partCount(dir)} files, " +
      s"${spark.read.format("arrow-ipc").load(dir).count()} rows")

    def fullScan(): Any = spark.read.format("arrow-ipc").load(dir)
      .select(expr("aggregate(embedding, 0D, (a, x) -> a + x)").as("s"))
      .agg(sum("s")).head

    // manifest-only aggregate: zero file opens regardless of fragmentation
    time("count+min+max via manifest (0 files opened)") {
      spark.read.format("arrow-ipc").load(dir)
        .agg(count(lit(1)), min("vec_id"), max("vec_id")).head
    }
    time("full scan, 256 small files") { fullScan() }

    // streaming backlog drain: the whole fragmented directory as a cold
    // stream, 32 files admitted per micro-batch
    time("stream drain, maxFilesPerTrigger=32 (8 batches)") {
      val q = spark.readStream.format("arrow-ipc")
        .option("maxFilesPerTrigger", "32").load(dir)
        .select(col("vec_id"))
        .writeStream.format("noop")
        .option("checkpointLocation",
          "/tmp/graft_scale/arrow_ops_ckpt_" + System.nanoTime())
        .start()
      try q.processAllAvailable() finally q.stop()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      println(s"[probe]   drained in $batches bounded micro-batches")
    }

    // single timed run — compaction is not idempotent-timeable (the second
    // call is a no-op)
    val t0 = System.nanoTime()
    val res = graft.sources.ArrowMaintenance.compact(spark, dir,
      targetBytes = 32L << 20)
    println(f"[probe] ${s"compact ${res.get.oldFiles} -> ${res.get.newFiles} files"}%-42s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    println(s"[probe] compacted corpus: ${partCount(dir)} files, " +
      s"${spark.read.format("arrow-ipc").load(dir).count()} rows (unchanged)")
    time("full scan, compacted") { fullScan() }
    time("count+min+max via manifest, compacted") {
      spark.read.format("arrow-ipc").load(dir)
        .agg(count(lit(1)), min("vec_id"), max("vec_id")).head
    }
    spark.stop()
  }
}
