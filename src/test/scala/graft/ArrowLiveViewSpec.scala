package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowMaintenance, ArrowSnapshots}

/** Parity of every face that reports a table's live files: CALL
  * list_files, CALL detail, the scan's `files=k/n` total and the scan's
  * row count all read one live view, so they agree on every table shape
  * — flat, hive, mid-evolution, and a stream-written table carrying an
  * uncommitted epoch's file. */
class ArrowLiveViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(from: Long, to: Long) =
    spark.range(from, to).select(col("id"), (col("id") % 4).as("p"),
      (col("id") % 2).as("q"),
      sha2(col("id").cast("string"), 256).as("payload"))

  /** Asserts list_files, detail and the scan's listing name the same
    * number of files, and the scan serves `expectedRows`; returns it. */
  private def assertFacesAgree(dir: String, expectedRows: Long): Int = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    val listed = spark.sql(s"CALL graft.system.list_files('$dir')").count()
    val detail = spark.sql(s"CALL graft.system.detail('$dir')").head()
      .getAs[Int]("files")
    // a pushed filter no file can refute makes the scan report its
    // whole listing as files=k/n
    val scan = spark.read.format("arrow-ipc").load(dir).filter(col("id") >= 0)
    val desc = scan.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no file report in the scan:\n$desc"))
    assert(listed === detail.toLong, s"list_files vs detail on $dir")
    assert(m.group(2).toInt === detail, s"scan listing vs detail on $dir:\n$desc")
    assert(scan.count() === expectedRows)
    detail
  }

  test("flat and hive tables: list_files, detail and the scan agree") {
    val flat = tmp("graft_view_flat")
    rows(0, 400).repartition(4).write.format("arrow-ipc").mode("overwrite").save(flat)
    assert(assertFacesAgree(flat, 400L) === 4)

    val hive = tmp("graft_view_hive")
    rows(0, 400).write.format("arrow-ipc")
      .option("hivePartitionKeys", "p").mode("overwrite").save(hive)
    assert(assertFacesAgree(hive, 400L) ===
      ArrowSnapshots.listDataFiles(fsOf(hive), new Path(hive)).size)
  }

  test("mid-evolution tables (flat -> hive, three generations): every generation counts once") {
    val fh = tmp("graft_view_fh")
    rows(0, 400).repartitionByRange(4, col("p"))
      .write.format("arrow-ipc").mode("overwrite").save(fh)
    ArrowMaintenance.evolvePartitioning(spark, fh, Seq("p"))
    rows(400, 600).write.format("arrow-ipc").mode("append").save(fh)
    assert(assertFacesAgree(fh, 600L) ===
      ArrowSnapshots.listDataFiles(fsOf(fh), new Path(fh)).size)

    val g3 = tmp("graft_view_3g")
    rows(0, 400).repartitionByRange(4, col("p"))
      .write.format("arrow-ipc").mode("overwrite").save(g3)
    ArrowMaintenance.evolvePartitioning(spark, g3, Seq("p"))
    rows(400, 800).write.format("arrow-ipc").mode("append").save(g3)
    ArrowMaintenance.evolvePartitioning(spark, g3, Seq("q"))
    rows(800, 1200).write.format("arrow-ipc").mode("append").save(g3)
    assert(assertFacesAgree(g3, 1200L) ===
      ArrowSnapshots.listDataFiles(fsOf(g3), new Path(g3)).size)
  }

  test("stream-written table: an uncommitted epoch's file counts nowhere") {
    val base = java.nio.file.Files.createTempDirectory("graft_view_stream").toString
    val out = s"$base/out"
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("id", "p")
      .writeStream.format("arrow-ipc")
      .option("checkpointLocation", s"$base/ckpt")
      .start(out)
    try {
      in.addData((0L until 50L).map(i => (i, i % 3)): _*)
      q.processAllAvailable()
      in.addData((50L until 80L).map(i => (i, i % 3)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val fs = fsOf(out)
    val committed = ArrowSnapshots.listDataFiles(fs, new Path(out))
    assert(committed.nonEmpty)
    // a crashed epoch's leftover: stream-named, its commit id never
    // entered the ledger
    FileUtil.copy(fs, new Path(out, committed.head), fs,
      new Path(out, s"part-00000-e99-${java.util.UUID.randomUUID()}.arrows"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(ArrowSnapshots.listDataFiles(fs, new Path(out)).size ===
      committed.size + 1)
    assert(assertFacesAgree(out, 80L) === committed.size)
  }
}
