package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only probe: quantifies the Arrow read paths on the embeddings
  * shape (wide float lists — the payload DSv2 columnar reads exist for).
  * The DSv2 columnar path (Arrow vectors wrapped as ColumnarBatch, zero
  * decode) over a ×16-replicated directory, the pruning effect (sum one
  * scalar out of a wide file), stats-based file pruning, and the
  * fixed-size binary columnar path. */
object ArrowReadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.session("ArrowReadProbe", "local[32]")
    import spark.implicits._

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val wide = (0 until 16).map(i =>
      base.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        col("embedding"), col("label"))).reduce(_ unionAll _)
    val dir = "/tmp/graft_scale/arrow_read_probe"
    graft.sources.ArrowInterchange.writeStream(wide.repartition(16), dir)
    val rows = spark.read.format("arrow-ipc").load(dir).count()
    println(s"[probe] corpus: $rows rows x ${base.select(size(col("embedding"))).head.getInt(0)}-dim")

    def time(name: String)(f: => Any): Unit = {
      // best of 2 (shared VM)
      def once: Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-34s ${math.min(once, once)}%6.2f s")
    }

    // full-width aggregation: every embedding element consumed
    val full = (df: org.apache.spark.sql.DataFrame) =>
      df.select(expr("aggregate(embedding, 0D, (a, x) -> a + x)").as("s"))
        .agg(sum("s")).head
    time("DSv2 columnar, full width") {
      full(spark.read.format("arrow-ipc").load(dir))
    }
    time("DSv2 columnar, pruned to 1 col") {
      spark.read.format("arrow-ipc").load(dir).agg(sum("vec_id")).head
    }

    // stats-based file pruning: the same corpus range-partitioned into 32
    // files by vec_id via the DSv2 writer (which commits _stats.json);
    // a selective filter should read ~1 file with stats and all 32
    // without (delete the manifest to simulate a foreign directory).
    val prunedDir = "/tmp/graft_scale/arrow_stats_probe"
    spark.read.format("arrow-ipc").load(dir)
      .repartitionByRange(32, col("vec_id"))
      .write.format("arrow-ipc").mode("overwrite").save(prunedDir)
    val hi = spark.read.format("arrow-ipc").load(prunedDir)
      .agg(max("vec_id")).head.getLong(0)
    def filteredSum(): Any = spark.read.format("arrow-ipc").load(prunedDir)
      .filter(col("vec_id") > hi - 1000)
      .select(expr("aggregate(embedding, 0D, (a, x) -> a + x)").as("s"))
      .agg(sum("s")).head
    val keptDesc = spark.read.format("arrow-ipc").load(prunedDir)
      .filter(col("vec_id") > hi - 1000)
      .queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }.head.scan.description()
    println(s"[probe] stats prune: ${keptDesc.replaceAll(".*(files=\\S+).*", "$1")} files read")
    time("DSv2 filtered, stats-pruned") { filteredSum() }
    val fs = new org.apache.hadoop.fs.Path(prunedDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(prunedDir, "_stats.json"), false)
    time("DSv2 filtered, no stats (32 files)") { filteredSum() }

    // fixed-size binary (16-byte digests next to the embeddings): round 8
    // adds a ColumnVector accessor, so this column must ride the COLUMNAR
    // path instead of forcing the whole projection onto row decode
    val fsbDir = "/tmp/graft_scale/arrow_fsb_probe"
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(graft.sources.ArrowInterchange.FixedSizeKey, 16L).build()
    val digested = spark.read.format("arrow-ipc").load(dir)
      .select(col("vec_id"), col("embedding"),
        expr("unhex(md5(cast(vec_id AS string)))").as("digest", meta))
    graft.sources.ArrowInterchange.writeStream(digested.repartition(16), fsbDir)
    val fsbRead = spark.read.format("arrow-ipc").load(fsbDir)
      .select(col("vec_id"), col("digest"))
    val fsbScan = fsbRead.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    println(s"[probe] fixed-size binary columnar path engaged: ${fsbScan.supportsColumnar}")
    time("DSv2 columnar, fixed-size digest") {
      fsbRead.select(sum(length(col("digest")))).head
    }
    spark.stop()
  }
}
