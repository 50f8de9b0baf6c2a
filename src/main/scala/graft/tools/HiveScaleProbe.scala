package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only probe: quantifies hive-layout directory discovery on the
  * many-partitions shape (a date-partitioned lake: hundreds of value
  * directories, most irrelevant to any one query). Builds one directory
  * with P string partitions, then times, for a selective partition filter
  * vs an unfiltered read:
  *   1. planning (listing + pruning) — the discovery walk prunes refuted
  *      value directories BEFORE listing their files, so the selective
  *      plan should touch O(matching dirs), not O(P);
  *   2. end-to-end execution;
  * and reports the dirs/files the scan actually admitted (from the scan
  * description). The analogous flat directory (same rows, no hive keys)
  * is timed as the baseline that must list every file regardless.
  */
object HiveScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("HiveScaleProbe", "local[32]")

    val partitions = args.headOption.map(_.toInt).getOrElse(400)
    val rowsPer = 2000
    val base = "/tmp/graft_scale/hive_probe"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)

    val df = spark.range(partitions.toLong * rowsPer).select(
      concat(lit("p"), format_string("%04d", (col("id") % partitions).cast("int")))
        .as("pk"),
      col("id").as("v"))

    def timed[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[hive-probe] $what%-42s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    timed(s"write hive layout ($partitions partitions)") {
      df.write.format("arrow-ipc").option("hivePartitionKeys", "pk")
        .mode("overwrite").save(s"$base/hive")
    }
    timed("write flat layout (same rows)") {
      df.repartition(32).write.format("arrow-ipc")
        .mode("overwrite").save(s"$base/flat")
    }

    def desc(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.mkString(" ")

    // one target partition out of P — the selective lake query shape
    val hiveSel = spark.read.format("arrow-ipc").load(s"$base/hive")
      .filter(col("pk") === "p0007")
    val d = timed("hive: selective plan (list+prune+describe)") { desc(hiveSel) }
    println(s"[hive-probe] scan: ${d.substring(d.indexOf("hive=["))}")
    timed("hive: selective execute (1/P dirs)") {
      assert(hiveSel.agg(count(lit(1))).head().getLong(0) == rowsPer.toLong)
    }
    timed("hive: unfiltered count (all dirs; manifest-only push)") {
      assert(spark.read.format("arrow-ipc").load(s"$base/hive")
        .agg(count(lit(1))).head().getLong(0) == partitions.toLong * rowsPer)
    }
    timed("flat: selective execute (every file listed + stats-pruned)") {
      assert(spark.read.format("arrow-ipc").load(s"$base/flat")
        .filter(col("pk") === "p0007")
        .agg(count(lit(1))).head().getLong(0) == rowsPer.toLong)
    }
    spark.stop()
  }
}
