package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The arrow-ipc STREAMING SINK: epoch-scoped exactly-once commits under
  * the source's sidecar contract (sentinel, _SUCCESS, stats manifest,
  * `_stream_commits.json` visibility ledger). The reference's push side
  * (IBlockOutputStream) has no delivery semantics; this is what it has to
  * mean on Spark's restartable micro-batch model. */
class ArrowStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listData(dir: String): Seq[String] =
    Option(fsOf(dir).globStatus(new Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSeq.sorted

  test("arrow-to-arrow streaming: exactly-once across restarts, full sidecar contract") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink_e2e").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def feed(from: Long, until: Long): Unit =
      spark.range(from, until).select(col("id"),
        concat(lit("v"), col("id")).as("v"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(src)

    def runOnePass(): Unit = {
      val q = spark.readStream.format("arrow-ipc").load(src)
        .writeStream.format("arrow-ipc")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    feed(0, 100)
    runOnePass()
    assert(spark.read.format("arrow-ipc").load(out).count() === 100)

    // restart with new input: union exactly once (this also pins that the
    // ledger's epoch fence is keyed by the CHECKPOINT-stable query id —
    // were it run-scoped, the replayed last batch would double-commit)
    feed(100, 160)
    runOnePass()
    val ids = spark.read.format("arrow-ipc").load(out)
      .select("id").as[Long].collect().sorted
    assert(ids.toSeq === (0L until 160L), "duplicated or lost rows across restart")

    // restart with nothing new: nothing re-emitted
    runOnePass()
    assert(spark.read.format("arrow-ipc").load(out).count() === 160)

    // sidecar contract: sentinel + completeness marker + ledger + stats
    // covering every visible data file
    val fs = fsOf(out)
    val outPath = new Path(out)
    assert(fs.exists(new Path(outPath, "_schema.arrows")))
    assert(fs.exists(new Path(outPath, "_SUCCESS")))
    val ledger = ArrowStreamCommits.read(fs, outPath).get
    assert(ledger.maxEpochs.size === 1 && ledger.committed.nonEmpty)
    val stats = ArrowFileStats.read(fs, outPath)
    val files = listData(out)
    assert(files.forall(ArrowStreamCommits.isStreamName))
    assert(files.forall(stats.contains),
      s"stats must cover every committed file: ${files.filterNot(stats.contains)}")
    assert(stats.values.map(_.rows).sum === 160L)

    // and the directory is a first-class citizen of the rest of the
    // source: stats answer a global aggregate without opening data files
    val agg = spark.read.format("arrow-ipc").load(out)
      .agg(expr("count(*)").as("n"), max(col("id")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    val r = agg.collect().head
    assert(r.getLong(0) === 160L && r.getLong(1) === 159L)
  }

  test("epoch replay is discarded: the committed attempt stands") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_replay").toString + "/out"
    val schema = StructType(Seq(StructField("id", LongType)))
    val write = new ArrowIpcWrite(schema, dir, None, "stable-query-id", truncate = false)
    val onePartition = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }

    def runEpoch(sw: org.apache.spark.sql.connector.write.streaming.StreamingWrite,
        epoch: Long, from: Long, until: Long): Unit = {
      val w = sw.createStreamingWriterFactory(onePartition).createWriter(0, epoch, epoch)
      (from until until).foreach(i => w.write(InternalRow(i)))
      sw.commit(epoch, Array(w.commit()))
    }

    // run 1 commits epoch 7; the checkpoint "crashes" before recording it
    runEpoch(write.toStreaming, 7L, 0L, 10L)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 10)
    val committedFiles = listData(dir)

    // run 2 (fresh nonce) replays epoch 7 with the same rows: the retry's
    // files must be discarded, the committed attempt untouched
    val sw2 = write.toStreaming
    runEpoch(sw2, 7L, 0L, 10L)
    assert(listData(dir) === committedFiles, "replay must not publish files")
    assert(spark.read.format("arrow-ipc").load(dir).count() === 10)

    // the same run then advances normally
    runEpoch(sw2, 8L, 10L, 25L)
    assert(spark.read.format("arrow-ipc").load(dir)
      .select("id").as[Long].collect().sorted.toSeq === (0L until 25L))
  }

  test("an uncommitted epoch is invisible everywhere; cleanOrphans sweeps it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_orphan").toString + "/out"
    val schema = StructType(Seq(StructField("id", LongType)))
    val write = new ArrowIpcWrite(schema, dir, None, "qid-orphan", truncate = false)
    val onePartition = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }

    val sw = write.toStreaming
    val factory = sw.createStreamingWriterFactory(onePartition)
    val w0 = factory.createWriter(0, 0L, 0L)
    (0L until 20L).foreach(i => w0.write(InternalRow(i)))
    sw.commit(0L, Array(w0.commit()))

    // epoch 1's task files land (task commit renames to final names) but
    // the DRIVER crashes before the epoch commit
    val w1 = factory.createWriter(0, 1L, 1L)
    (100L until 130L).foreach(i => w1.write(InternalRow(i)))
    w1.commit()
    assert(listData(dir).size === 2, "the orphan file exists on disk")

    // invisible to a batch count, to the scan's row reader, and to a
    // fresh streaming source
    assert(spark.read.format("arrow-ipc").load(dir).count() === 20)
    assert(graft.ArrowRowPath.read(spark, dir).collect().length === 20)
    val q = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("memory").queryName("graft_sink_orphan_src").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("graft_sink_orphan_src").count() === 20)

    // the sweep (run automatically at the next stream start) removes it
    // once stale — collapse the OCC staleness window to simulate the
    // dead run having aged out
    spark.conf.set("spark.graft.arrow.occStaleMs", "-1")
    val swept =
      try ArrowMaintenance.cleanOrphans(spark, dir)
      finally spark.conf.unset("spark.graft.arrow.occStaleMs")
    assert(swept.size === 1)
    assert(listData(dir).size === 1)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 20)
  }

  test("compaction folds a streamed directory and prunes the ledger's committed set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_compact").toString + "/out"
    val schema = StructType(Seq(StructField("id", LongType)))
    val write = new ArrowIpcWrite(schema, dir, None, "qid-compact", truncate = false)
    val onePartition = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    val sw = write.toStreaming
    val factory = sw.createStreamingWriterFactory(onePartition)
    (0L until 3L).foreach { e =>
      val w = factory.createWriter(0, e, e)
      (e * 50 until (e + 1) * 50).foreach(i => w.write(InternalRow(i)))
      sw.commit(e, Array(w.commit()))
    }
    val fs = fsOf(dir)
    assert(ArrowStreamCommits.read(fs, new Path(dir)).get.committed.size === 3)

    ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
    assert(spark.read.format("arrow-ipc").load(dir)
      .select("id").as[Long].collect().sorted.toSeq === (0L until 150L))
    // outputs are compaction-named (visibility no longer rides the
    // ledger), committed ids are pruned, the epoch fence survives
    val led = ArrowStreamCommits.read(fs, new Path(dir)).get
    assert(led.committed.isEmpty)
    assert(led.maxEpochs === Map("qid-compact" -> 2L))
    // and a replayed epoch from a zombie run is STILL fenced off
    val zombie = write.toStreaming
    val wz = zombie.createStreamingWriterFactory(onePartition).createWriter(0, 2L, 2L)
    (100L until 110L).foreach(i => wz.write(InternalRow(i)))
    zombie.commit(2L, Array(wz.commit()))
    assert(spark.read.format("arrow-ipc").load(dir).count() === 150)
  }
}
