package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowDeleteVectors, ArrowMaintenance, ArrowSnapshots}

/** Snapshot RESTORE (rollback): the live table rolls back to any
  * retained snapshot as ONE new log entry — history is never rewritten
  * (every prior snapshot stays time-travelable, including the
  * pre-restore tip), no data byte moves except live↔trash renames, and
  * the operation is itself reversible and crash-replayable. Iceberg
  * rollback / Delta RESTORE re-expressed over the snapshot log. */
class ArrowRestoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tip(dir: String): Long =
    ArrowSnapshots.currentTip(fsOf(dir), new Path(dir))

  private def ids(dir: String, at: Option[Long] = None): Set[Long] = {
    val base = spark.read.format("arrow-ipc")
    val r = at.fold(base)(v => base.option("asOfSnapshot", v.toString))
    r.load(dir).select("id").collect().map(_.getLong(0)).toSet
  }

  test("restore rolls back a COW delete; history keeps BOTH states; restore is reversible") {
    val dir = tmp("graft_restore_basic")
    spark.range(0, 100).select(col("id"), (col("id") % 7).as("k"))
      .coalesce(2).write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 50")
    val v2 = tip(dir)
    assert(ids(dir) === (0L until 50L).toSet)

    val r = ArrowMaintenance.restore(spark, dir, v1)
    assert(r.toSnapshot === v1 && r.newSnapshot > v2)
    assert(ids(dir) === (0L until 100L).toSet)
    // history NOT rewritten: both prior states still time-travel
    assert(ids(dir, Some(v1)) === (0L until 100L).toSet)
    assert(ids(dir, Some(v2)) === (0L until 50L).toSet)
    // the rollback rolls back: restore forward to the post-delete state
    val r2 = ArrowMaintenance.restore(spark, dir, v2)
    assert(ids(dir) === (0L until 50L).toSet)
    assert(r2.newSnapshot > r.newSnapshot)
    // restoring to the current state is a no-op (no new snapshot)
    val r3 = ArrowMaintenance.restore(spark, dir, r2.newSnapshot)
    assert(r3.restoredFiles === 0 && r3.removedFiles === 0)
    assert(r3.newSnapshot === r2.newSnapshot)
  }

  test("restore across a MOR delete moves the deletion vector both ways") {
    val dir = tmp("graft_restore_mor")
    spark.range(0, 60).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    assert(ArrowDeleteVectors.deleteMor(spark, dir, "id < 10").deletedRows === 10L)
    val v2 = tip(dir)
    assert(ids(dir) === (10L until 60L).toSet)
    assert(ArrowDeleteVectors.live(fsOf(dir), new Path(dir)).nonEmpty)

    // back to the pre-delete state: the vector leaves the live set
    ArrowMaintenance.restore(spark, dir, v1)
    assert(ids(dir) === (0L until 60L).toSet)
    assert(ArrowDeleteVectors.live(fsOf(dir), new Path(dir)).isEmpty)
    // forward again: the vector returns, rows re-masked
    ArrowMaintenance.restore(spark, dir, v2)
    assert(ids(dir) === (10L until 60L).toSet)
    assert(ArrowDeleteVectors.live(fsOf(dir), new Path(dir)).nonEmpty)
  }

  test("a crash between intent and the moves replays to completion via recover()") {
    val dir = tmp("graft_restore_crash")
    spark.range(0, 40).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 20")
    val fs = fsOf(dir)
    val dirPath = new Path(dir)

    // simulate the crash window: intent present, latch down, NO moves —
    // built from the log exactly as restore() would have
    val snaps = ArrowSnapshots.read(fs, dirPath)
    val target = ArrowSnapshots.resolve(snaps, v1).get
    val cur = ArrowSnapshots.resolve(snaps, snaps.last.id).get
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      olds = (cur -- target).toSeq.sorted,
      restores = (target -- cur).toSeq.sorted, kind = "restore"))
    fs.delete(new Path(dirPath, "_SUCCESS"), false)

    assert(ArrowMaintenance.recover(spark, dir))
    assert(fs.exists(new Path(dirPath, "_SUCCESS")))
    assert(!fs.exists(new Path(dirPath, ArrowMaintenance.IntentFile)))
    assert(ids(dir) === (0L until 40L).toSet)
    // the replay is itself replayable (fixed point)
    assert(!ArrowMaintenance.recover(spark, dir))
  }

  test("restoring to an expired snapshot refuses loudly; unknown snapshot refuses") {
    val dir = tmp("graft_restore_expired")
    spark.range(0, 30).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 15")
    val v2 = tip(dir)
    // expire everything before v2: v1's dropped file leaves the trash
    ArrowMaintenance.expireSnapshots(spark, dir, v2)
    val e = intercept[Exception] {
      ArrowMaintenance.restore(spark, dir, v1)
    }
    assert(e.getMessage.contains("no snapshot") ||
      e.getMessage.contains("expired"))
    val e2 = intercept[IllegalArgumentException] {
      ArrowMaintenance.restore(spark, dir, 99999L)
    }
    assert(e2.getMessage.contains("no snapshot"))
    // the refusals changed nothing
    assert(ids(dir) === (0L until 15L).toSet)
  }

  test("restoreAt: wall-clock addressing picks the newest snapshot at or before the instant") {
    val dir = tmp("graft_restore_at")
    spark.range(0, 80).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val snaps = ArrowSnapshots.read(fs, new Path(dir))
    val t1 = snaps.last.tsMillis // the clean state's commit instant
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    Thread.sleep(5) // the damage commits strictly later on the wall clock
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 40")
    assert(ids(dir) === (0L until 40L).toSet)

    // Scala face at the clean instant, SQL face by to_timestamp_ms
    val r = ArrowMaintenance.restoreAt(spark, dir, t1)
    assert(r.toSnapshot === snaps.last.id)
    assert(ids(dir) === (0L until 80L).toSet)
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 40")
    spark.sql(
      s"CALL graft.system.restore('$dir', to_timestamp_ms => $t1)").collect()
    assert(ids(dir) === (0L until 80L).toSet)
    // before anything existed: refuse; both addresses at once: refuse
    intercept[IllegalArgumentException] {
      ArrowMaintenance.restoreAt(spark, dir, t1 - 1000000L)
    }
    intercept[Exception] {
      spark.sql(s"CALL graft.system.restore('$dir', $t1, $t1)").collect()
    }
  }

  test("the change feed sees a restore as an ordinary adds/removes delta") {
    val dir = tmp("graft_restore_feed")
    spark.range(0, 100).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 60") // COW: 1 file → 1 file
    val v2 = tip(dir)
    ArrowMaintenance.restore(spark, dir, v1)
    val v3 = tip(dir)
    // (v2, v3]: the restore window — the resurrected full file inserts,
    // the post-delete survivor image deletes: an incremental consumer
    // needs no special case for rollbacks
    val feed = graft.sources.ArrowChanges.changeFeed(spark, dir, v2, v3)
    val counts = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("insert" -> 100L, "delete" -> 60L))
    // net over the whole history (v1, v3]: delete+restore cancel out
    val net = graft.sources.ArrowChanges.changeFeed(spark, dir, v1, v3)
    val netCounts = net.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(netCounts.getOrElse("insert", 0L) ===
      netCounts.getOrElse("delete", 0L))
  }

  test("restore on a hive layout: nested rels untrash with parents, value dirs survive") {
    val dir = tmp("graft_restore_hive")
    spark.range(0, 90).select(col("id"), (col("id") % 3).as("part"))
      .repartition(col("part"))
      .write.format("arrow-ipc").option("hivePartitionKeys", "part")
      .mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    // drop a whole partition (metadata path — its value dir empties)
    spark.sql(s"DELETE FROM graft.`$dir` WHERE part = 1")
    assert(ids(dir).size === 60)

    ArrowMaintenance.restore(spark, dir, v1)
    assert(ids(dir) === (0L until 90L).toSet)
    // the restored partition reads through the hive discovery with its
    // directory-derived value intact
    assert(spark.read.format("arrow-ipc").load(dir)
      .where(col("part") === 1).count() === 30)
  }

  test("a checkpointed append-log stream FAILS across a restore; ignoreRestores opts in (at-least-once)") {
    val base = java.nio.file.Files.createTempDirectory("graft_restore_stream").toString
    val dir = s"$base/t"
    spark.range(0, 100).select(col("id"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    // the stream drains the clean table into an arrow-ipc sink (memory
    // sink cannot recover a checkpoint), then stops (checkpoint persists)
    val out = s"$base/out"
    def sunk(): Seq[Long] = spark.read.format("arrow-ipc").load(out)
      .select("id").collect().map(_.getLong(0)).toSeq
    val q1 = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("arrow-ipc").option("path", out)
      .option("checkpointLocation", s"$base/ck").start()
    try {
      q1.processAllAvailable()
      assert(sunk().size === 100)
    } finally q1.stop()

    // a DELETE lands and the stream observes it: offset compaction drops
    // the gone name ("a gone file cannot return" — the soundness argument
    // a restore is about to break)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 50")
    val q2 = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("arrow-ipc").option("path", out)
      .option("checkpointLocation", s"$base/ck").start()
    try q2.processAllAvailable() finally q2.stop()
    assert(sunk().size === 100) // a delete retracts nothing

    // the rollback: the deleted file's NAME comes back, no longer in the
    // compacted offset — resuming must FAIL with the contract message,
    // not silently re-emit its 50 rows
    ArrowMaintenance.restore(spark, dir, v1)
    assert(ArrowMaintenance.restoreGen(fsOf(dir), new Path(dir)) > v1)
    val q3 = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("arrow-ipc").option("path", out)
      .option("checkpointLocation", s"$base/ck").start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    assert(Iterator.iterate[Throwable](failed)(_.getCause)
      .takeWhile(_ != null).exists(c => Option(c.getMessage)
        .exists(_.contains("ignoreRestores"))))

    // explicit opt-in: at-least-once across the rollback — the restored
    // file re-emits (its 50 rows land twice in the sink, the documented
    // trade), the gen is absorbed, and later appends flow normally
    val q4 = spark.readStream.format("arrow-ipc")
      .option("ignoreRestores", true).load(dir)
      .writeStream.format("arrow-ipc").option("path", out)
      .option("checkpointLocation", s"$base/ck").start()
    try {
      q4.processAllAvailable()
      spark.range(100, 110).select(col("id")).coalesce(1)
        .write.format("arrow-ipc").mode("append").save(dir)
      q4.processAllAvailable()
      val got = sunk()
      assert(got.size === 160) // 100 + 50 re-emitted + 10 fresh
      assert(got.toSet === (0L until 110L).toSet)
      assert(got.groupBy(identity).count(_._2.size == 2) === 50)
    } finally q4.stop()

    // a FRESH stream over the restored table needs no opt-in: the
    // initial offset pins the current generation
    val q5 = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("memory").queryName("restore_stream_d")
      .option("checkpointLocation", s"$base/ck5").start()
    try {
      q5.processAllAvailable()
      assert(spark.table("restore_stream_d").count() === 110L)
    } finally q5.stop()
  }

  test("a restore landing mid-compaction: the swap loses cleanly and retries against the restored state") {
    val dir = tmp("graft_restore_vs_compact")
    spark.range(0, 200).select(col("id")).repartition(6)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 100")
    // the compaction stages against the post-delete state; the hook lands
    // a full RESTORE inside its staging-to-commit window (the restore
    // itself is lock-serialized — it cannot lose; the staged swap must)
    var fired = false
    ArrowMaintenance.beforeSwapHook = () => if (!fired) {
      fired = true
      ArrowMaintenance.restore(spark, dir, v1)
    }
    val res =
      try ArrowMaintenance.compact(spark, dir)
      finally ArrowMaintenance.beforeSwapHook = () => ()
    // the retry re-planned against the RESTORED state and compacted it
    assert(res.isDefined)
    assert(ids(dir) === (0L until 200L).toSet)
    assert(spark.read.format("arrow-ipc").load(dir)
      .select("id").distinct().count() === 200)
  }

  test("a restore landing inside a MOR statement's window: the statement conflicts and re-plans") {
    val dir = tmp("graft_restore_vs_mor")
    spark.range(0, 100).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 80") // COW: new file name
    // the MOR delete's find-scan runs against the post-COW state; the
    // hook restores to v1 inside the window — the scanned file is now
    // TRASHED, so olds-live validation must throw and the bounded retry
    // re-plans against the restored table
    var fired = false
    graft.sources.ArrowDeleteVectors.beforeStageHook = () => if (!fired) {
      fired = true
      ArrowMaintenance.restore(spark, dir, v1)
    }
    val r =
      try graft.sources.ArrowDeleteVectors.deleteMor(spark, dir, "id = 5")
      finally graft.sources.ArrowDeleteVectors.beforeStageHook = () => ()
    assert(r.retries === 1, "the statement must lose to the restore once")
    assert(r.deletedRows === 1L)
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.where(col("id") === 5).count() === 0)
    assert(df.count() === 99) // the restore stands; only id=5 deleted
  }

  test("expiry after a restore keeps the restored files (they are referenced by the retained tip)") {
    val dir = tmp("graft_restore_expire_after")
    spark.range(0, 60).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 30")
    val r = ArrowMaintenance.restore(spark, dir, v1)
    // collapse everything before the restore's own snapshot: the restored
    // file is in the retained tip state — expiry must not reclaim it
    ArrowMaintenance.expireSnapshots(spark, dir, r.newSnapshot)
    assert(ids(dir) === (0L until 60L).toSet)
    // and the pre-restore states are now genuinely gone
    intercept[Exception] {
      spark.read.format("arrow-ipc")
        .option("asOfSnapshot", v1.toString).load(dir).count()
    }
  }

  test("CDC idempotency ledgers are NOT restored: a replayed batch still skips after a rollback") {
    val dir = tmp("graft_restore_cdc")
    spark.range(0, 40).selectExpr("id", "id % 5 AS k").coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.conf.set("spark.graft.arrow.mergeMode", "mor")
    spark.range(0, 10).selectExpr("id", "99 AS k")
      .createOrReplaceTempView("restore_cdc_src")
    def mergeBatch(v: Long): Boolean =
      graft.sources.ArrowCdcApply.applyBatch(spark, dir, "restore_app", v) {
        graft.sources.ArrowDml.sql(spark, dir,
          s"MERGE INTO graft.`$dir` t USING restore_cdc_src c ON t.id = c.id " +
            "WHEN MATCHED THEN UPDATE SET k = c.k")
        ()
      }
    try {
      assert(mergeBatch(0L))
      ArrowMaintenance.restore(spark, dir, v1) // the merge's effect rolls back
      assert(spark.read.format("arrow-ipc").load(dir)
        .where(col("k") === 99).count() === 0)
      // the ledger survives the rollback (Delta's RESTORE caveat): a
      // foreachBatch replay of version 0 is STILL a no-op — rolled-back
      // means rolled-back, not silently re-applied by a crash replay
      assert(!mergeBatch(0L))
      assert(spark.read.format("arrow-ipc").load(dir)
        .where(col("k") === 99).count() === 0)
      // the NEXT version applies normally on top of the restored state
      assert(mergeBatch(1L))
      assert(spark.read.format("arrow-ipc").load(dir)
        .where(col("k") === 99).count() === 10)
    } finally spark.conf.unset("spark.graft.arrow.mergeMode")
  }

  test("CALL graft.system.restore: the SQL face") {
    val dir = tmp("graft_restore_call")
    spark.range(0, 50).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val v1 = tip(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id % 2 = 0")
    val out = spark.sql(s"CALL graft.system.restore('$dir', $v1)").collect()
    assert(out.length === 1)
    assert(out.head.getLong(2) > v1) // new_snapshot
    assert(ids(dir) === (0L until 50L).toSet)
    // the log reads like DESCRIBE HISTORY: the rollback is labelled
    val ops = spark.sql(s"CALL graft.system.history('$dir', limit => 2)")
      .collect().map(_.getString(2)).toSeq
    assert(ops.head === "restore")
    // DRY RUN: the full diff with nothing mutated (new_snapshot = tip)
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 25")
    val tipNow = tip(dir)
    val dry = spark.sql(
      s"CALL graft.system.restore('$dir', $v1, dry_run => true)").head()
    assert(dry.getInt(0) > 0 || dry.getInt(1) > 0) // a real delta reported
    assert(dry.getLong(2) === tipNow) // ...and nothing landed
    assert(tip(dir) === tipNow)
    assert(ids(dir) === (0L until 25L).toSet)
  }
}
