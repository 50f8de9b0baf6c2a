package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The micro-batch stream's compaction-lineage contract, exercised at the
  * MicroBatchStream level (the package-private seam the end-to-end
  * ArrowStreamSpec cannot reach): full coverage absorbs, partial coverage
  * fails the poll loudly instead of duplicating or dropping rows. Also
  * the other package-private seam of a compaction: the staging frame a
  * rewrite reads over its own live view. */
class ArrowStreamLineageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("absorb on full coverage; loud failure on the poisoned middle") {
    val src = java.nio.file.Files
      .createTempDirectory("graft_arrowlineage").toString + "/src"
    (0 until 3).foreach { i =>
      spark.range(i * 10, (i + 1) * 10).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(src)
    }
    val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val originals = Option(fs.globStatus(new Path(src, "part-*.arrows")))
      .get.map(_.getPath.getName).toSeq.sorted
    assert(ArrowMaintenance.compact(spark, src).get.newFiles === 1)

    val stream = new ArrowIpcMicroBatchStream(
      new StructType().add("id", LongType), src, Array.empty)

    // consumer that emitted ALL originals: the compacted file is absorbed
    // into the offset, the batch it bounds plans zero partitions, and —
    // round 11 — the offset COMPACTS to the live set (the gone originals'
    // names can never matter again; lineage re-derivation still proves
    // the absorbed file carries no unseen rows)
    val drained = ArrowFilesOffset(originals)
    val end = stream.latestOffset(drained, ReadLimit.allAvailable())
      .asInstanceOf[ArrowFilesOffset]
    assert(end.files.toSet.size === 1,
      "the drained offset must compact to the live set")
    assert(stream.planInputPartitions(drained, end).isEmpty)
    // and the compacted offset is a fixed point
    assert(stream.latestOffset(end, ReadLimit.allAvailable())
      .asInstanceOf[ArrowFilesOffset].files === end.files)

    // consumer that emitted only ONE original: the compacted file mixes
    // its seen rows with unseen ones — the poll must fail, not guess
    val e = intercept[IllegalStateException] {
      stream.latestOffset(ArrowFilesOffset(originals.take(1)),
        ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains("exactly-once"))

    // consumer that emitted NOTHING: the compacted file is just new data
    val cold = stream.latestOffset(ArrowFilesOffset(Nil), ReadLimit.allAvailable())
      .asInstanceOf[ArrowFilesOffset]
    assert(cold.files.size === 1)
    assert(stream.planInputPartitions(ArrowFilesOffset(Nil), cold).length === 1)
  }

  test("a staging frame reads exactly its handed view; aggregates answer from it") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_staging_frame").toString + "/t"
    // two sharded commits of two files each: a commit's envelope covers
    // a file outside a view holding one file of each
    val shardKey = "spark.graft.arrow.statsShardFiles"
    spark.conf.set(shardKey, "2")
    try (0 until 2).foreach { i =>
      spark.range(i * 200L, (i + 1) * 200L, 1, 2).select(col("id"))
        .write.format("arrow-ipc").mode("append").save(dir)
    } finally spark.conf.unset(shardKey)
    val schema = ArrowInterchange.readSchema(spark, dir)
    val view = ArrowLiveView.load(spark, dir, schema)
    assert(view.files.size === 4)
    val perFile = spark.read.format("arrow-ipc").load(dir)
      .groupBy(col("_file")).agg(count(lit(1)), min("id"), max("id"))
      .collect().map(r => new Path(r.getString(0)).getName ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val two = view.files.groupBy(f => ArrowOcc.nameQueryId(f.name))
      .values.map(_.minBy(_.name)).toSeq
    assert(two.size === 2)
    val want = two.map(f => perFile(f.name))
    val frame = ArrowMaintenance.stagingFrame(spark, dir, schema,
      view.copy(files = two))
    assert(frame.count() === want.map(_._1).sum)
    val bounds = frame.agg(min("id"), max("id"))
    assert(bounds.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(bounds.head() === org.apache.spark.sql.Row(
      want.map(_._2).min, want.map(_._3).max))
    assert(frame.collect().length === want.map(_._1).sum)
  }
}
