package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowCdcApply, ArrowDeleteVectors, ArrowDml,
  ArrowEqualityDeletes, ArrowMaintenance}

/** Equality deletes (round 13): keyed tombstones applied at read — the
  * O(batch) upsert commit for an UNCLUSTERED target. A tombstone with
  * sequence T masks matching rows in every data file with a smaller
  * sequence; the batch's own inserts (stamped T) survive it; a fold
  * converts tombstones to positional vectors and restores every
  * deferred capability (DML, compaction, time travel, change feed,
  * aggregate pushdown). Iceberg's equality-delete contract over this
  * source's stats manifest and intent/replay commit. */
class ArrowEqualityDeletesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def seed(dir: String, n: Int = 100, parts: Int = 4): Unit = {
    spark.range(0, n)
      .select(col("id").as("key"), (col("id") * 10).as("v"))
      .repartition(parts)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
  }

  private def table(dir: String) =
    spark.read.format("arrow-ipc").load(dir)

  private def dataFiles(dir: String): Map[String, Long] = {
    val fs = fsOf(dir)
    Option(fs.globStatus(new Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty)
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
  }

  /** One upsert batch updating keys [0, upTo) to v = key*10 + bump and
    * inserting key `ins`. */
  private def batchDf(upTo: Int, bump: Long, ins: Long) =
    spark.range(0, upTo)
      .select(col("id").as("key"), (col("id") * 10 + bump).as("v"))
      .union(spark.range(ins, ins + 1)
        .select(col("id").as("key"), lit(-7L).as("v")))

  test("upsert masks every older image, never its own inserts; base files untouched; multi-batch last-writer-wins") {
    val dir = tmp("graft_eq_basic")
    seed(dir)
    val before = dataFiles(dir)

    val r1 = ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
      batchDf(30, 1, 1000))
    assert(r1.applied && r1.seq === 1L && r1.tombstoneKeys === 31L)
    val t1 = table(dir)
    assert(t1.count() === 101L) // 100 + 1 insert; 30 old images masked
    // updated keys serve the NEW image
    assert(t1.filter(col("key") === 5).select("v").head().getLong(0) === 51L)
    assert(t1.filter(col("key") === 1000).count() === 1L)
    // untouched keys unchanged
    assert(t1.filter(col("key") === 50).select("v").head().getLong(0) === 500L)
    // O(batch) commit: every base file is byte-identical (same mtime)
    val after = dataFiles(dir)
    assert(before.forall { case (n, ts) => after.get(n).contains(ts) },
      "an equality upsert rewrote a base file")

    // batch 2 updates a key batch 1 INSERTED — last writer wins across
    // batches (seq 2 tombstone masks the seq-1 image)
    val b2 = spark.sql("SELECT 1000L AS key, 99L AS v")
    val r2 = ArrowEqualityDeletes.upsertBatch(spark, dir, "key", b2)
    assert(r2.applied && r2.seq === 2L)
    val t2 = table(dir)
    assert(t2.count() === 101L)
    assert(t2.filter(col("key") === 1000).select("v").head().getLong(0) === 99L)
    // and batch 1's other updates still serve batch 1's image
    assert(t2.filter(col("key") === 5).select("v").head().getLong(0) === 51L)
  }

  test("masking applies when the key column is pruned from the projection, and the scan stays columnar") {
    val dir = tmp("graft_eq_prune")
    seed(dir)
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(30, 1, 1000))
    // project ONLY v: the key is pruned from the output, but the mask
    // must still apply (Arrow loads every column of a batch)
    val vsum = table(dir).select("v").agg(sum("v")).head().getLong(0)
    val expect = (30 until 100).map(_ * 10L).sum + // untouched
      (0 until 30).map(_ * 10L + 1).sum + -7L // new images + insert
    assert(vsum === expect)
    // uniformly columnar: the masked read still reports columnar support
    val plan = table(dir).select("v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow") || plan.contains("Columnar"),
      s"equality-masked scan fell off the columnar path:\n$plan")
  }

  test("plain appends are stamped with the current sequence — standing tombstones do not mask them") {
    val dir = tmp("graft_eq_append")
    seed(dir)
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(30, 1, 1000))
    // append key 5 again through the ORDINARY append path: it is newer
    // than tombstone seq 1, so it must survive (two images of key 5 now
    // live — an append is not an upsert; this asserts sequence stamping,
    // not dedup)
    spark.sql("SELECT 5L AS key, 777L AS v")
      .write.format("arrow-ipc").mode("append").save(dir)
    val rows = table(dir).filter(col("key") === 5)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(rows === Set(51L, 777L),
      s"append stamping failed: images of key 5 = $rows")
    // and a LATER tombstone masks the appended image too
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
      spark.sql("SELECT 5L AS key, 1L AS v"))
    val rows2 = table(dir).filter(col("key") === 5)
      .select("v").collect().map(_.getLong(0)).toSet
    assert(rows2 === Set(1L))
  }

  test("deleteOnly commits a tombstone without rows — the CDC-delete shape") {
    val dir = tmp("graft_eq_delonly")
    seed(dir)
    val r = ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
      spark.range(0, 10).select(col("id").as("key")), deleteOnly = true)
    assert(r.applied && r.insertedFiles === 0)
    assert(table(dir).count() === 90L)
    assert(table(dir).filter(col("key") < 10).count() === 0L)
  }

  test("fold converts tombstones to positional vectors; reads identical; capabilities restored; re-fold is a no-op") {
    val dir = tmp("graft_eq_fold")
    seed(dir)
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(30, 1, 1000))
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
      spark.sql("SELECT 1000L AS key, 99L AS v"))
    val beforeRows = table(dir).orderBy("key", "v").collect().toSeq

    val f = ArrowEqualityDeletes.fold(spark, dir)
    assert(f.tombstones === 2)
    assert(f.rows === 31L) // 30 seed images + batch 1's key-1000 image
    val fs = fsOf(dir)
    assert(!ArrowEqualityDeletes.any(fs, new Path(dir)))
    assert(ArrowDeleteVectors.any(fs, new Path(dir)),
      "fold produced no positional vectors")
    assert(table(dir).orderBy("key", "v").collect().toSeq === beforeRows,
      "fold changed the table's content")

    // re-fold: nothing to do
    val f2 = ArrowEqualityDeletes.fold(spark, dir)
    assert(f2.tombstones === 0)

    // DML is live again after the fold
    val d = ArrowDeleteVectors.deleteMor(spark, dir, "key = 7")
    assert(d.deletedRows === 1L)
    // and compaction folds everything back to clean files
    assert(ArrowMaintenance.compact(spark, dir).isDefined)
    assert(table(dir).count() === 100L) // 101 - key 7
  }

  test("CALL purge_eq is the fold's SQL face") {
    val dir = tmp("graft_eq_call")
    seed(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(10, 1, 1000))
    val r = spark.sql(s"CALL graft.system.purge_eq('$dir')").head()
    assert(r.getAs[Int]("tombstones") === 1)
    assert(r.getAs[Long]("rows") === 10L)
    assert(table(dir).count() === 101L)
  }

  test("deferred capabilities refuse LOUDLY while tombstones live") {
    val dir = tmp("graft_eq_refuse")
    seed(dir)
    val fs = fsOf(dir)
    val preEqTip = graft.sources.ArrowSnapshots.currentTip(fs, new Path(dir))
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(10, 1, 1000))

    // row-level DML (MOR and COW)
    val e1 = intercept[UnsupportedOperationException] {
      ArrowDeleteVectors.deleteMor(spark, dir, "key = 3")
    }
    assert(e1.getMessage.contains("equality-delete"))
    val e2 = intercept[Exception] {
      ArrowDml.update(spark, dir, "v = v + 1", Some("key = 3"))
    }
    assert(e2.getMessage.contains("equality-delete"))
    // compaction
    val e3 = intercept[UnsupportedOperationException] {
      ArrowMaintenance.compact(spark, dir)
    }
    assert(e3.getMessage.contains("equality-delete"))
    // aggregate pushdown silently degrades to a correct scan
    val cnt = table(dir).count()
    assert(cnt === 101L)
    // time travel into the eq window refuses; pre-eq snapshots still work
    val tip = graft.sources.ArrowSnapshots.currentTip(fs, new Path(dir))
    val e4 = intercept[Exception] {
      spark.read.format("arrow-ipc").option("asOfSnapshot", tip)
        .load(dir).count()
    }
    assert(e4.getMessage.contains("equality-delete"))
    assert(spark.read.format("arrow-ipc").option("asOfSnapshot", preEqTip)
      .load(dir).count() === 100L)
    // change feed across the eq commit refuses
    val e5 = intercept[Exception] {
      graft.sources.ArrowChanges.changeFeed(spark, dir, preEqTip, tip).count()
    }
    assert(e5.getMessage.contains("equality-delete"))
    // restore INTO the eq window refuses; restore to before it works
    val e6 = intercept[Exception] {
      ArrowMaintenance.restore(spark, dir, tip, dryRun = true)
    }
    assert(e6.getMessage.contains("equality-delete"))
    assert(ArrowMaintenance.restore(spark, dir, preEqTip, dryRun = true)
      .toSnapshot === preEqTip)
    // append-log stream refuses without ignoreDeletes
    val ckpt = tmp("graft_eq_refuse_ckpt")
    val q = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt).start()
    val e7 = intercept[Exception] { q.processAllAvailable() }
    try assert(e7.getMessage.contains("equality") ||
      Option(e7.getCause).exists(_.getMessage.contains("equality")))
    finally q.stop()
  }

  test("batch contract violations refuse: duplicate keys, null keys, wrong type, hive table, unsupported key type") {
    val dir = tmp("graft_eq_contract")
    seed(dir)
    val dup = intercept[IllegalArgumentException] {
      ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
        spark.sql("SELECT * FROM VALUES (1L, 1L), (1L, 2L) AS t(key, v)"))
    }
    assert(dup.getMessage.contains("distinct"))
    val nul = intercept[IllegalArgumentException] {
      ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
        spark.sql("SELECT * FROM VALUES (CAST(NULL AS BIGINT), 1L) AS t(key, v)"))
    }
    assert(nul.getMessage.contains("NULL keys"))
    val typ = intercept[IllegalArgumentException] {
      ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
        spark.sql("SELECT * FROM VALUES (CAST(1 AS INT), 1L) AS t(key, v)"))
    }
    assert(typ.getMessage.contains("key type"))
    // empty batch: clean no-op
    val empty = ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
      spark.range(0).select(col("id").as("key"), col("id").as("v")))
    assert(!empty.applied)

    val hive = tmp("graft_eq_hive")
    spark.range(0, 10)
      .select((col("id") % 2).as("p"), col("id").as("key"), col("id").as("v"))
      .write.format("arrow-ipc").option("hivePartitionKeys", "p")
      .mode("overwrite").save(hive)
    val h = intercept[IllegalArgumentException] {
      ArrowEqualityDeletes.upsertBatch(spark, hive, "key",
        spark.sql("SELECT 0L AS p, 1L AS key, 9L AS v"))
    }
    assert(h.getMessage.contains("hive-partitioned"))
  }

  test("string keys work end-to-end (normalization parity between tombstone and data vectors)") {
    val dir = tmp("graft_eq_str")
    spark.range(0, 50)
      .select(concat(lit("k"), col("id")).as("key"), col("id").as("v"))
      .repartition(3)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val batch = spark.sql(
      "SELECT * FROM VALUES ('k5', 500L), ('k6', 600L), ('zz', 1L) AS t(key, v)")
    val r = ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batch)
    assert(r.applied)
    val t = table(dir)
    assert(t.count() === 51L)
    assert(t.filter(col("key") === "k5").select("v").head().getLong(0) === 500L)
    assert(t.filter(col("key") === "k6").select("v").head().getLong(0) === 600L)
    assert(t.filter(col("key") === "k7").select("v").head().getLong(0) === 7L)
  }

  /** Upsert over a temporal key `keyOf(id)`: update keys 5 and 6, insert
    * key 1000, read through the tombstone mask, fold, and require the
    * expected content throughout — key values must round-trip the
    * interchange exactly for the tombstone to match its data rows. */
  private def temporalKeyRoundTrip(prefix: String, keyOf: String => String): Unit = {
    import spark.implicits._
    val dir = tmp(prefix)
    spark.range(0, 50)
      .selectExpr(s"${keyOf("id")} AS key", "id AS v")
      .repartition(3)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val batch = Seq(5L -> 500L, 6L -> 600L, 1000L -> -7L).toDF("id", "v")
      .selectExpr(s"${keyOf("id")} AS key", "v")
    val r = ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batch)
    assert(r.applied && r.tombstoneKeys === 3L)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("key").collect().toSeq.map(row => (row.get(0), row.getLong(1)))
    val expect = rows(((0L until 50L).filter(i => i != 5L && i != 6L)
      .map(i => i -> i) ++ Seq(5L -> 500L, 6L -> 600L, 1000L -> -7L))
      .toDF("id", "v").selectExpr(s"${keyOf("id")} AS key", "v"))
    val masked = rows(table(dir))
    assert(masked === expect, "masked read differs from the upserted state")

    val f = ArrowEqualityDeletes.fold(spark, dir)
    assert(f.tombstones === 1 && f.rows === 2L)
    assert(!ArrowEqualityDeletes.any(fsOf(dir), new Path(dir)))
    assert(rows(table(dir)) === expect, "fold changed the table's content")
  }

  test("date keys: upsert, masked read and fold keep identical content (values round-trip the interchange)") {
    temporalKeyRoundTrip("graft_eq_date", id => s"date_add(DATE'1969-12-20', CAST($id AS INT))")
  }

  test("timestamp keys: upsert, masked read and fold keep identical content (values round-trip the interchange)") {
    // µs-precise instants on both sides of the epoch
    temporalKeyRoundTrip("graft_eq_ts", id => s"timestamp_micros($id * 1000001L - 20000003L)")
  }

  test("exactly-once CDC: upsertBatch inside applyBatch folds the ledger atomically; a replay commits nothing") {
    val dir = tmp("graft_eq_cdc")
    seed(dir)
    def run(ver: Long, bump: Long): Boolean =
      ArrowCdcApply.applyBatch(spark, dir, "eq_cdc", ver) {
        ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
          batchDf(20, bump, 2000 + ver))
        ()
      }
    assert(run(0L, 1))
    assert(table(dir).count() === 101L)
    assert(ArrowCdcApply.appliedVersion(spark, dir, "eq_cdc") === Some(0L))
    // replay of version 0 (fast path) — and a forced re-run through the
    // under-lock check commits nothing either
    assert(!run(0L, 5))
    assert(table(dir).filter(col("key") === 3)
      .select("v").head().getLong(0) === 31L)
    spark.conf.set("spark.graft.arrow.cdcTxn", "eq_cdc:0")
    try {
      val r = ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
        batchDf(20, 9, 3000))
      assert(!r.applied, "a replayed version's eq upsert committed")
    } finally spark.conf.unset("spark.graft.arrow.cdcTxn")
    assert(table(dir).count() === 101L)
    // next version applies
    assert(run(1L, 2))
    assert(table(dir).filter(col("key") === 3)
      .select("v").head().getLong(0) === 32L)
    assert(table(dir).count() === 102L)
  }

  test("fold groups its driver collects under foldBatchRows — multiple MOR commits, identical result") {
    val dir = tmp("graft_eq_foldgrp")
    seed(dir, n = 200, parts = 8) // masked rows spread over 8 files
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(120, 1, 1000))
    val before = table(dir).orderBy("key", "v").collect().toSeq
    assert(before.length === 201)
    // cap of 20 rows/group forces ~6 groups over the 120 masked rows
    spark.conf.set("spark.graft.arrow.foldBatchRows", "20")
    try {
      val f = ArrowEqualityDeletes.fold(spark, dir)
      assert(f.rows === 120L && f.filesMasked === 8,
        s"grouped fold wrong: $f")
    } finally spark.conf.unset("spark.graft.arrow.foldBatchRows")
    assert(!ArrowEqualityDeletes.any(fsOf(dir), new Path(dir)))
    assert(table(dir).orderBy("key", "v").collect().toSeq === before,
      "grouped fold changed the table's content")
  }

  test("ALTER refuses to rename or drop the equality key while tombstones live; fine after the fold") {
    val dir = tmp("graft_eq_alter")
    seed(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
      spark.sql("SELECT 1L AS key, 9L AS v"))
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN key TO k2")
    }
    assert(e1.getMessage.contains("equality-delete key"))
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN key")
    }
    assert(e2.getMessage.contains("equality-delete key"))
    // a NON-key column still alters freely
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN v TO v2")
    assert(table(dir).columns.toSeq === Seq("key", "v2"))
    ArrowEqualityDeletes.fold(spark, dir)
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN key TO k2")
    assert(table(dir).columns.toSeq === Seq("k2", "v2"))
    // RENAME RESOLUTION: upserts under the NEW key name must mask the
    // standing files, which physically carry the OLD name — the key
    // resolves through the same field-id machinery as the projection
    val r = ArrowEqualityDeletes.upsertBatch(spark, dir, "k2",
      spark.sql("SELECT 7L AS k2, 77L AS v2"))
    assert(r.applied)
    val images = table(dir).filter(col("k2") === 7)
      .select("v2").collect().map(_.getLong(0)).toSet
    assert(images === Set(77L),
      s"pre-rename file's image survived the mask: $images")
  }

  test("vacuum auto-folds equality debt at the threshold, then its purge leg collects the vector debt in the same run") {
    val dir = tmp("graft_eq_vac")
    seed(dir, n = 60, parts = 1) // one base file: the fold masks >= 50%
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    // 3 tombstones: below the test threshold of 4 → vacuum leaves them
    (0 until 3).foreach { i =>
      ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
        spark.range(i * 12L, i * 12L + 12L)
          .select(col("id").as("key"), lit(100L + i).as("v")))
    }
    spark.conf.set("spark.graft.arrow.vacuumFoldEqAbove", "4")
    try {
      val v1 = ArrowMaintenance.vacuum(spark, dir)
      assert(v1.eqFolded.isEmpty)
      assert(ArrowEqualityDeletes.liveTombs(fsOf(dir), new Path(dir)).size === 3)
      // a 4th tombstone reaches the threshold → fold + purge in ONE run
      ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
        spark.range(36L, 48L).select(col("id").as("key"), lit(103L).as("v")))
      val before = table(dir).orderBy("key", "v").collect().toSeq
      val r = spark.sql(s"CALL graft.system.vacuum('$dir')").head()
      assert(r.getAs[Int]("eq_tombstones_folded") === 4)
      assert(r.getAs[Int]("files_purged") >= 1,
        "the purge leg did not collect the fold's vector debt")
      assert(!ArrowEqualityDeletes.any(fsOf(dir), new Path(dir)))
      assert(table(dir).orderBy("key", "v").collect().toSeq === before,
        "vacuum's fold+purge changed the table's content")
      // and DML is live again — the cron needed no manual purge_eq
      assert(graft.sources.ArrowDeleteVectors
        .deleteMor(spark, dir, "key = 50").deletedRows === 1L)
    } finally spark.conf.unset("spark.graft.arrow.vacuumFoldEqAbove")
  }

  test("the change feed serves a window that fully SPANS upsert -> fold; a mid-equality window refuses until the fold") {
    val dir = tmp("graft_eq_feed")
    seed(dir)
    val fs = fsOf(dir)
    val tipA = graft.sources.ArrowSnapshots.currentTip(fs, new Path(dir))
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(10, 1, 1000))
    val tipB = graft.sources.ArrowSnapshots.currentTip(fs, new Path(dir))
    // window ENDING mid-equality: the deletions have no positional
    // record yet — refuse, naming the fold
    val e = intercept[Exception] {
      graft.sources.ArrowChanges.changeFeed(spark, dir, tipA, tipB).count()
    }
    assert(e.getMessage.contains("purge_eq"))
    ArrowEqualityDeletes.fold(spark, dir)
    val tipC = graft.sources.ArrowSnapshots.currentTip(fs, new Path(dir))
    // window spanning upsert -> fold: the batch's inserts are data adds,
    // the fold's vectors carry the deletions position-exactly
    val feed = graft.sources.ArrowChanges.changeFeed(spark, dir, tipA, tipC)
    val byType = feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("insert", 0L) === 11L, // 10 new images + key 1000
      s"feed across the fold wrong: $byType")
    assert(byType.getOrElse("delete", 0L) === 10L, // the 10 old images
      s"feed across the fold wrong: $byType")
    // and the delete rows are the OLD images (v = key*10), not the new
    val delV = feed.filter(col("_change_type") === "delete")
      .select(sum("v")).head().getLong(0)
    assert(delV === (0 until 10).map(_ * 10L).sum)
  }

  test("streaming change feed: holds the line mid-equality (WAL-safe admission); resumes across the fold exactly-once") {
    val base = tmp("graft_eq_cfstream")
    val dir = s"$base/t"
    seed(dir, n = 50, parts = 2)
    def start() = spark.readStream.format("arrow-ipc")
      .option("changeFeed", true).load(dir)
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt").start()
    // drain the pre-equality state
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$base/out").count() === 50L)

    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(5, 1, 900))
    // mid-equality, the stream HOLDS THE LINE: an offset, once written
    // to the WAL, must be servable on replay, so the admission never
    // lands on a tombstones-in-force endpoint — the poll admits nothing
    // (no failure, no partial delta) until the fold creates the next
    // net-zero point
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$base/out").count() === 50L,
      "a mid-equality poll emitted a partial delta")

    ArrowEqualityDeletes.fold(spark, dir)
    // restart from the SAME checkpoint: the window now spans the fold
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    val delta = spark.read.parquet(s"$base/out")
      .filter(col("key") < 5 || col("key") === 900)
    val byType = delta.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the out dir accumulates BOTH runs: 5 initial images (run 1) + 5
    // new images + key 900 (the restart's spanning window); 5 deletes
    assert(byType.getOrElse("insert", 0L) === 11L,
      s"stream across the fold wrong: $byType")
    assert(byType.getOrElse("delete", 0L) === 5L,
      s"stream across the fold wrong: $byType")
  }

  test("round 14: the fold scan prunes to files that can hold a masked key (clustered table)") {
    val dir = tmp("graft_eq_foldprune")
    // 4 key-clustered files: [0,100), [100,200), [200,300), [300,400)
    spark.range(0, 400)
      .select(col("id").as("key"), (col("id") * 10).as("v"))
      .repartitionByRange(4, col("key")).sortWithinPartitions("key")
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    assert(dataFiles(dir).size === 4)
    val r = ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
      spark.range(0, 10).select(col("id").as("key"), lit(-1L).as("v")))
    assert(r.applied)
    // the range sidecar rode the commit
    val fs = fsOf(dir)
    assert(Option(fs.globStatus(new Path(dir, ".eq/eq-*.range.json")))
      .getOrElse(Array.empty).length === 1, "no key-range sidecar committed")
    // SMALL-TOMBSTONE path (keys enumerated): the eqEmit=deleted scan
    // plans ONE partition — only the [0,100) file can hold a masked key
    // (the batch's own insert file has seq = the tombstone's, never a
    // candidate)
    def foldScanParts(): Int = spark.read.format("arrow-ipc")
      .option("eqEmit", "deleted").load(dir)
      .select(col(graft.sources.ArrowRowLevel.FileColumn),
        col(graft.sources.ArrowRowLevel.PosColumn))
      .rdd.getNumPartitions
    assert(foldScanParts() === 1,
      s"fold scan read ${foldScanParts()} files, expected 1 candidate")
    // LARGE-TOMBSTONE path: force the range-sidecar fallback by capping
    // key enumeration below the batch size — same single candidate
    spark.conf.set("spark.graft.arrow.eqPruneKeysMax", "4")
    try assert(foldScanParts() === 1,
      "range-sidecar pruning did not restrict the fold scan")
    finally spark.conf.unset("spark.graft.arrow.eqPruneKeysMax")
    // pruning never loses a mask: the read serves the new images, and
    // the fold finds exactly the 10 old ones
    assert(table(dir).filter(col("key") < 10).select(sum("v"))
      .head().getLong(0) === -10L)
    val f = ArrowEqualityDeletes.fold(spark, dir)
    assert(f.rows === 10L && f.filesMasked === 1, s"pruned fold wrong: $f")
    assert(table(dir).count() === 400L)
    // sidecar retired with its tombstone
    assert(Option(fs.globStatus(new Path(dir, ".eq/eq-*.range.json")))
      .getOrElse(Array.empty).isEmpty, "fold left the range sidecar behind")
  }

  test("round 14: fold retirement is convergent — a crash after the intent is finished by recover(), unwedging time travel") {
    val dir = tmp("graft_eq_foldcrash")
    seed(dir)
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(10, 1, 1000))
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    // the fold's first (separately crash-safe) half: vectors committed
    import org.apache.spark.sql.functions.{collect_list, sort_array}
    val hits = spark.read.format("arrow-ipc").option("eqEmit", "deleted")
      .load(dir)
      .select(col(graft.sources.ArrowRowLevel.FileColumn),
        col(graft.sources.ArrowRowLevel.PosColumn))
      .groupBy(graft.sources.ArrowRowLevel.FileColumn)
      .agg(sort_array(collect_list(col(graft.sources.ArrowRowLevel.PosColumn))).as("pos"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toArray))
    ArrowEqualityDeletes.foldInProgress.set(true)
    try graft.sources.ArrowDeleteVectors.commitDeletes(spark, dir, hits)
    finally ArrowEqualityDeletes.foldInProgress.set(false)
    // CRASH SIMULATION: the retirement intent lands, the process dies
    // before the replay runs a single trash move
    val tombs = ArrowEqualityDeletes.liveTombs(fs, dirPath)
    val sidecars = tombs.map(t => t._1 + ".range.json")
      .filter(r => fs.exists(new Path(dirPath, r)))
    fs.mkdirs(new Path(dirPath, ".eqfold-crash"))
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      olds = tombs.map(_._1) ++ sidecars, staging = ".eqfold-crash",
      moves = Map.empty, kind = "eq-fold"))
    // recover() finishes the retirement: trash moves AND the snapshot
    // entry land together — never the wedge where the files are gone
    // but later snapshots still resolve them in
    assert(ArrowMaintenance.recover(spark, dir))
    assert(!ArrowEqualityDeletes.any(fs, dirPath))
    val snaps = graft.sources.ArrowSnapshots.read(fs, dirPath)
    val foldEntry = snaps.filter(_.op == "eq-fold").lastOption
    assert(foldEntry.exists(e => tombs.map(_._1).forall(e.removes.contains)),
      "recover() did not log the tombstone removal")
    assert(foldEntry.exists(e => sidecars.forall(e.removes.contains)),
      "recover() did not log the sidecar removal")
    // the wedge the round-13 advice flagged: time travel to the CURRENT
    // tip must work once tombstones are resolved OUT
    val tip = graft.sources.ArrowSnapshots.currentTip(fs, dirPath)
    assert(spark.read.format("arrow-ipc").option("asOfSnapshot", tip)
      .load(dir).count() === 101L)
    assert(table(dir).count() === 101L)
  }

  test("round 14: vacuum's KEY-COUNT trigger folds fat tombstones before the count trigger would") {
    val dir = tmp("graft_eq_vackeys")
    seed(dir, n = 60, parts = 2)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    // 2 tombstones x 12 keys = 24 keys: far under the count trigger,
    // over a 20-key budget
    (0 until 2).foreach { i =>
      ArrowEqualityDeletes.upsertBatch(spark, dir, "key",
        spark.range(i * 12L, i * 12L + 12L)
          .select(col("id").as("key"), lit(100L + i).as("v")))
    }
    assert(ArrowEqualityDeletes.liveKeyCount(fsOf(dir), new Path(dir)) === 24L)
    spark.conf.set("spark.graft.arrow.vacuumFoldEqAbove", "100")
    spark.conf.set("spark.graft.arrow.vacuumFoldEqKeysAbove", "20")
    try {
      val v = ArrowMaintenance.vacuum(spark, dir)
      assert(v.eqFolded.exists(_.tombstones === 2),
        s"key-count trigger did not fold: ${v.eqFolded}")
      assert(!ArrowEqualityDeletes.any(fsOf(dir), new Path(dir)))
    } finally {
      spark.conf.unset("spark.graft.arrow.vacuumFoldEqAbove")
      spark.conf.unset("spark.graft.arrow.vacuumFoldEqKeysAbove")
    }
  }

  test("round 14: composite equality keys — only the FULL tuple masks, siblings survive; last-writer-wins; fold preserves content") {
    val dir = tmp("graft_eq_composite")
    // (g, x) bijective with id: tuples sharing x across different g exist
    spark.range(0, 100)
      .select((col("id") % 2).as("g"), (col("id") / 2).cast("long").as("x"),
        col("id").as("v"))
      .repartition(4)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val b1 = spark.sql(
      "SELECT * FROM VALUES (0L, 5L, -1L), (1L, 7L, -2L) AS t(g, x, v)")
    val r1 = graft.sources.ArrowEqualityDeletes.upsertBatchKeys(
      spark, dir, Seq("g", "x"), b1)
    assert(r1.applied && r1.tombstoneKeys === 2L)
    val t = table(dir)
    assert(t.count() === 100L)
    // exact tuples replaced...
    assert(t.filter(col("g") === 0 && col("x") === 5)
      .select("v").head().getLong(0) === -1L)
    assert(t.filter(col("g") === 1 && col("x") === 7)
      .select("v").head().getLong(0) === -2L)
    // ...and SIBLING tuples (same x, other g) untouched — the per-column
    // mask would have wrongly killed these
    assert(t.filter(col("g") === 1 && col("x") === 5)
      .select("v").head().getLong(0) === 11L)
    assert(t.filter(col("g") === 0 && col("x") === 7)
      .select("v").head().getLong(0) === 14L)
    // a mismatched key list refuses while tombstones live
    val e = intercept[IllegalArgumentException] {
      graft.sources.ArrowEqualityDeletes.upsertBatch(spark, dir, "x",
        spark.sql("SELECT 0L AS g, 5L AS x, 9L AS v"))
    }
    assert(e.getMessage.contains("one key list"))
    // last-writer-wins per tuple across batches
    val r2 = graft.sources.ArrowEqualityDeletes.upsertBatchKeys(
      spark, dir, Seq("g", "x"), spark.sql("SELECT 0L AS g, 5L AS x, -9L AS v"))
    assert(r2.applied && r2.seq > r1.seq)
    assert(table(dir).filter(col("g") === 0 && col("x") === 5)
      .select("v").head().getLong(0) === -9L)
    // deleteOnly with a composite key
    val r3 = graft.sources.ArrowEqualityDeletes.upsertBatchKeys(
      spark, dir, Seq("g", "x"),
      spark.sql("SELECT 1L AS g, 7L AS x, 0L AS v"), deleteOnly = true)
    assert(r3.applied)
    assert(table(dir).filter(col("g") === 1 && col("x") === 7).count() === 0L)
    val before = table(dir).orderBy("g", "x", "v").collect().toSeq
    assert(before.length === 99)
    val f = graft.sources.ArrowEqualityDeletes.fold(spark, dir)
    assert(f.tombstones === 3)
    assert(!graft.sources.ArrowEqualityDeletes.any(fsOf(dir), new Path(dir)))
    assert(table(dir).orderBy("g", "x", "v").collect().toSeq === before,
      "composite fold changed the table's content")
  }

  test("round 14: composite-key CDC is exactly-once — upsertBatchKeys inside applyBatch, replay commits nothing, fold preserves the ledgered state") {
    val dir = tmp("graft_eq_cdc_comp")
    spark.range(0, 100)
      .select((col("id") % 2).as("g"), (col("id") / 2).cast("long").as("x"),
        col("id").as("v"))
      .repartition(4)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    def run(ver: Long, stamp: Long): Boolean =
      ArrowCdcApply.applyBatch(spark, dir, "eq_cdc_comp", ver) {
        graft.sources.ArrowEqualityDeletes.upsertBatchKeys(spark, dir,
          Seq("g", "x"),
          spark.sql(s"SELECT 0L AS g, 5L AS x, $stamp AS v UNION ALL " +
            s"SELECT 1L AS g, 7L AS x, ${stamp + 1} AS v"))
        ()
      }
    assert(run(0L, -100L))
    assert(ArrowCdcApply.appliedVersion(spark, dir, "eq_cdc_comp") === Some(0L))
    // the foreachBatch replay shape: version 0 again — NOTHING commits,
    // through the fast path AND the under-lock check
    assert(!run(0L, -500L))
    spark.conf.set("spark.graft.arrow.cdcTxn", "eq_cdc_comp:0")
    try {
      val r = graft.sources.ArrowEqualityDeletes.upsertBatchKeys(spark, dir,
        Seq("g", "x"), spark.sql("SELECT 0L AS g, 5L AS x, -999L AS v"))
      assert(!r.applied, "a replayed version's composite eq upsert committed")
    } finally spark.conf.unset("spark.graft.arrow.cdcTxn")
    val t0 = table(dir)
    assert(t0.count() === 100L)
    assert(t0.filter(col("g") === 0 && col("x") === 5)
      .select("v").head().getLong(0) === -100L)
    assert(run(1L, -200L))
    val before = table(dir).orderBy("g", "x", "v").collect().toSeq
    graft.sources.ArrowEqualityDeletes.fold(spark, dir)
    assert(table(dir).orderBy("g", "x", "v").collect().toSeq === before)
    assert(table(dir).filter(col("g") === 1 && col("x") === 7)
      .select("v").head().getLong(0) === -199L)
  }

  test("crash window: fold interrupted between vector commit and tombstone removal converges on re-run") {
    val dir = tmp("graft_eq_crash")
    seed(dir)
    ArrowEqualityDeletes.upsertBatch(spark, dir, "key", batchDf(10, 1, 1000))
    // simulate the crash half: commit the positional vectors exactly as
    // fold would, but leave the tombstones in place
    import org.apache.spark.sql.functions.{collect_list, sort_array}
    val hits = spark.read.format("arrow-ipc").option("eqEmit", "deleted")
      .load(dir)
      .select(col(graft.sources.ArrowRowLevel.FileColumn),
        col(graft.sources.ArrowRowLevel.PosColumn))
      .groupBy(graft.sources.ArrowRowLevel.FileColumn)
      .agg(sort_array(collect_list(col(graft.sources.ArrowRowLevel.PosColumn))).as("pos"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toArray))
    assert(hits.map(_._2.length).sum === 10)
    ArrowEqualityDeletes.foldInProgress.set(true)
    try graft.sources.ArrowDeleteVectors.commitDeletes(spark, dir, hits)
    finally ArrowEqualityDeletes.foldInProgress.set(false)
    // both artifacts live: rows masked by BOTH — still exactly once
    assert(table(dir).count() === 101L)
    // the re-run finds zero new positions and just removes the tombstones
    val f = ArrowEqualityDeletes.fold(spark, dir)
    assert(f.tombstones === 1 && f.rows === 0L)
    assert(!ArrowEqualityDeletes.any(fsOf(dir), new Path(dir)))
    assert(table(dir).count() === 101L)
  }
}
