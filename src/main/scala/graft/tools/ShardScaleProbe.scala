package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only probe: quantifies sharded-manifest planning on the
  * many-commits shape (the 100 TB streaming-ingest pattern: thousands of
  * time-ordered append commits). Builds one directory as N sharded
  * commits with disjoint key ranges, then times a selective filtered
  * count three ways:
  *   1. index path (shard envelopes skip non-matching commits);
  *   2. no index (every shard parsed at planning — the cost the index
  *      removes);
  *   3. no stats at all (every file read — the cost stats remove).
  * Also reports metadata sizes: the index a planner MUST read vs the
  * total per-file stats it no longer has to. */
object ShardScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("ShardScaleProbe", "local[32]")

    val commits = 96
    val rowsPer = 20000
    val dir = "/tmp/graft_scale/shard_probe"
    org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)

    spark.conf.set("spark.graft.arrow.statsShardFiles", "1")
    (0 until commits).foreach { c =>
      spark.range(c.toLong * rowsPer, (c + 1).toLong * rowsPer)
        .select(col("id"), (col("id") % 97).as("v"))
        .repartition(4)
        .write.format("arrow-ipc").mode(if (c == 0) "overwrite" else "append")
        .save(dir)
    }
    spark.conf.unset("spark.graft.arrow.statsShardFiles")

    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    def sizeOf(glob: String): Long =
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, glob)))
        .getOrElse(Array.empty).map(_.getLen).sum
    println(s"[probe] $commits commits x 4 files; index=" +
      s"${sizeOf("_stats_index.json")} B, shards total=${sizeOf("_stats-*.json")} B")

    // selective filter: one commit's range
    def filtered() = spark.read.format("arrow-ipc").load(dir)
      .filter(col("id") >= 100000 && col("id") < 120000)
    def time(name: String)(f: => Any): Unit = {
      def once: Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-44s ${math.min(once, once)}%6.2f s")
    }

    time("filtered count, index path (skip commits)") {
      assert(filtered().count() == 20000L)
    }
    val idxBak = new org.apache.hadoop.fs.Path(dir, "_idxbak")
    fs.rename(new org.apache.hadoop.fs.Path(dir, "_stats_index.json"), idxBak)
    time("filtered count, no index (parse all shards)") {
      assert(filtered().count() == 20000L)
    }
    fs.rename(idxBak, new org.apache.hadoop.fs.Path(dir, "_stats_index.json"))
    // no stats at all: per-file pruning gone, every file read
    val statGlobs = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, "_stats*"))).getOrElse(Array.empty)
    val bak = statGlobs.map { st =>
      val b = new org.apache.hadoop.fs.Path(dir, "bak_" + st.getPath.getName)
      fs.rename(st.getPath, b); (b, st.getPath)
    }
    time("filtered count, no stats (read all files)") {
      assert(filtered().count() == 20000L)
    }
    bak.foreach { case (b, orig) => fs.rename(b, orig) }
    spark.stop()
  }
}
