package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{ArrowMaintenance, ArrowSnapshots}

/** Dev-only probe: RESTORE cost is O(delta), not O(table) — the claim
  * that makes "undo last night's bad pipeline run" an O(seconds)
  * operation on a 100 TB table. On one N-file table, a restore across a
  * 1-file damage and a restore across a ~N/4-file damage are timed; the
  * per-moved-file cost must be flat (both are pure live↔trash renames +
  * one log append — no data byte moves), so wall time scales with how
  * much the bad run touched, never with table size. */
object RestoreScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("RestoreScaleProbe", "local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    val files = args.headOption.map(_.toInt).getOrElse(2000)
    val dir = s"/tmp/graft_scale/restore_probe_$files/out"
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"/tmp/graft_scale/restore_probe_$files"), true)

    val rows = files * 1000L
    println(s"building a $files-file table ($rows rows, range-clustered)...")
    spark.range(0, rows).select(col("id"))
      .repartitionByRange(files, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = ArrowSnapshots.currentTip(fs, dirPath)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")

    def restoreTimed(what: String, to: Long): Unit = {
      val t = System.nanoTime()
      val r = ArrowMaintenance.restore(spark, dir, to)
      val ms = (System.nanoTime() - t) / 1e6
      val moved = r.restoredFiles + r.removedFiles
      println(f"  $what%-34s ${ms}%8.1f ms  " +
        f"($moved%5d files moved, ${ms / math.max(1, moved)}%6.2f ms/file)")
    }

    // SMALL damage: a range delete the clustering confines to ~1 file (metadata whole-file path)
    println(s"small damage (1-file provable whole-file delete) on the $files-file table:")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 1000")
    restoreTimed("restore across 1-file damage", v1)

    // LARGE damage: ~a quarter of the table rewritten away
    println(s"large damage (~${files / 4}-file provable whole-file delete), same table:")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id < ${rows / 4}")
    restoreTimed(s"restore across ${files / 4}-file damage", v1)

    // and the rollback rolls back at the same per-file cost
    val damagedTip = {
      spark.sql(s"DELETE FROM graft.`$dir` WHERE id < ${rows / 4}")
      ArrowSnapshots.currentTip(fs, dirPath)
    }
    ArrowMaintenance.restore(spark, dir, v1)
    restoreTimed("restore FORWARD to the damaged state", damagedTip)

    val back = spark.read.format("arrow-ipc").load(dir).count()
    require(back == rows - rows / 4,
      s"restore-forward state wrong: $back rows")
    ArrowMaintenance.restore(spark, dir, v1)
    require(spark.read.format("arrow-ipc").load(dir).count() == rows,
      "final restore did not recover every row")
    println("  final state verified bit-count-exact after four restores")
    spark.stop()
  }
}
