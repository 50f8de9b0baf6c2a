package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Dev-only probe (round 12): READS ACROSS RENAME GENERATIONS at a
  * many-file table. Column renames are metadata-only (field-id
  * indirection: the sentinel records id→name, every data file carries
  * the ids it was written with), so the resolution cost is paid
  * PER FILE OPEN — `ArrowInterchange.resolveColumns` maps the file's
  * ids to the current names on every open. This probe proves that cost
  * is flat in rename depth: a 3000-file table whose files span SIX
  * naming generations (500 files appended under each name, rename
  * between waves) must scan at the same speed as an identical
  * 3000-file table that never renamed anything. */
object RenameScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("RenameScaleProbe", "local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    val rows = args.headOption.map(_.toLong).getOrElse(3000000L)
    val waves = 6
    val filesPerWave = 500
    val base = s"/tmp/graft_scale/rename_probe_$rows"
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    val perWave = rows / waves

    def wave(i: Int): org.apache.spark.sql.DataFrame =
      spark.range(i * perWave, (i + 1) * perWave)
        .select(col("id"), (col("id") * 3).as(s"v$i"))
        .repartition(filesPerWave)

    // renamed table: append 500 files under the CURRENT name, then
    // rename for the next wave — files end up spanning v0..v5 headers,
    // all resolving to the final name v6 through their field ids
    val ren = s"$base/renamed"
    println(s"building $waves x $filesPerWave files with a rename between waves...")
    (0 until waves).foreach { i =>
      wave(i).write.format("arrow-ipc").mode("append").save(ren)
      spark.sql(s"ALTER TABLE graft.`$ren` RENAME COLUMN v$i TO v${i + 1}")
    }
    // control: identical data and file count, one stable name
    val ctl = s"$base/control"
    (0 until waves).foreach { i =>
      wave(i).withColumnRenamed(s"v$i", s"v$waves")
        .write.format("arrow-ipc").mode("append").save(ctl)
    }
    def fileCount(d: String) = Option(fs.globStatus(new Path(d, "part-*.arrows")))
      .getOrElse(Array.empty).length
    println(s"  renamed: ${fileCount(ren)} files over $waves naming generations; " +
      s"control: ${fileCount(ctl)} files, zero renames")

    def timed(body: => Long): (Long, Double) = {
      val t = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t) / 1e6)
    }
    def scan(d: String): Double = {
      def go = spark.read.format("arrow-ipc").load(d)
        .agg(sum(col(s"v$waves")), count(lit(1))).collect()
        .head.getLong(1)
      go // warm plan/codegen
      val t = Seq.fill(3)(timed(go)._2).sorted.apply(1)
      val (n, _) = timed(go)
      require(n == rows / waves * waves, s"scan of $d lost rows: $n")
      t
    }
    val renMs = scan(ren)
    val ctlMs = scan(ctl)
    println(f"  full scan (sum+count, median-of-3 warm): renamed $renMs%.0f ms " +
      f"vs control $ctlMs%.0f ms -> ${renMs / ctlMs}%.2fx " +
      "(per-file-open resolveColumns is flat in rename depth)")
    // values resolve identically through every generation
    val s1 = spark.read.format("arrow-ipc").load(ren)
      .agg(sum(col(s"v$waves"))).collect().head.getLong(0)
    val s2 = spark.read.format("arrow-ipc").load(ctl)
      .agg(sum(col(s"v$waves"))).collect().head.getLong(0)
    require(s1 == s2, s"rename resolution changed values: $s1 vs $s2")
    println("RENAME PROBE DONE")
    spark.stop()
  }
}
