package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowCdcApply, ArrowDeleteVectors, ArrowDml, ArrowMaintenance}

/** Exactly-once CDC-apply (round 12): foreachBatch MERGE tagged with
  * (appId, batchId) records the version in `_cdc_applied.json` in the
  * SAME intent/replay commit as the batch's vectors + inserts — the
  * Delta txnAppId/txnVersion contract over this source's MOR commit.
  * A replayed batch (crash-and-restart re-runs the last uncommitted
  * micro-batch; foreachBatch is at-least-once by itself) must be a
  * no-op, through every crash window. */
class ArrowCdcApplySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def seed(dir: String): Unit = {
    spark.range(0, 100)
      .select(col("id").as("key"), (col("id") * 10).as("v"))
      .repartitionByRange(2, col("key"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
  }

  private def vsum(dir: String): Long =
    spark.read.format("arrow-ipc").load(dir)
      .agg(sum(col("v"))).collect()(0).getLong(0)

  /** One upsert batch: add 1 to v for keys < 30, insert key 1000+ver. */
  private def mergeBatch(dir: String, ver: Long): Boolean =
    ArrowCdcApply.applyBatch(spark, dir, "cdc_spec", ver) {
      spark.conf.set("spark.graft.arrow.mergeMode", "mor")
      try {
        spark.range(0, 30).select(col("id").as("key"), lit(1L).as("d"))
          .union(spark.range(1000 + ver, 1001 + ver)
            .select(col("id").as("key"), lit(7L).as("d")))
          .createOrReplaceTempView("cdc_spec_src")
        ArrowDml.sql(spark, dir,
          s"""MERGE INTO graft.`$dir` t USING cdc_spec_src c ON t.key = c.key
              WHEN MATCHED THEN UPDATE SET v = t.v + c.d
              WHEN NOT MATCHED THEN INSERT (key, v) VALUES (c.key, c.d)""")
        ()
      } finally spark.conf.unset("spark.graft.arrow.mergeMode")
    }

  test("a replayed batch version is a no-op; later versions apply; ledger is monotone") {
    val dir = tmp("graft_cdc_replay")
    seed(dir)
    val base = vsum(dir)
    assert(ArrowCdcApply.appliedVersion(spark, dir, "cdc_spec") === None)

    assert(mergeBatch(dir, 0L))
    val after0 = vsum(dir)
    assert(after0 === base + 30 + 7)
    assert(ArrowCdcApply.appliedVersion(spark, dir, "cdc_spec") === Some(0L))

    // the at-least-once replay: same version re-runs after a "crash" —
    // the fast path skips without executing the body at all
    assert(!mergeBatch(dir, 0L))
    assert(vsum(dir) === after0, "a replayed batch DOUBLE-APPLIED")

    // the next version applies; the one after that replays as no-op too
    assert(mergeBatch(dir, 1L))
    assert(vsum(dir) === after0 + 30 + 7)
    assert(!mergeBatch(dir, 1L) && !mergeBatch(dir, 0L))
    assert(vsum(dir) === after0 + 30 + 7)
    assert(ArrowCdcApply.appliedVersion(spark, dir, "cdc_spec") === Some(1L))
    // independent apps have independent versions
    assert(ArrowCdcApply.appliedVersion(spark, dir, "other_app") === None)
  }

  test("the authoritative skip is under the commit lock: a tagged statement whose version already applied commits NOTHING even when the fast path is bypassed") {
    val dir = tmp("graft_cdc_lock")
    seed(dir)
    // apply version 3 via a tagged MOR delete (deleteMor reads the same
    // session tag through commitStaged)
    spark.conf.set("spark.graft.arrow.cdcTxn", "cdc_lock:3")
    try {
      val r1 = ArrowDeleteVectors.deleteMor(spark, dir, "key < 5")
      assert(r1.deletedRows === 5L)
      // replay the SAME version with a DIFFERENT predicate, bypassing
      // ArrowCdcApply's pre-check entirely: the under-lock ledger check
      // must refuse the commit (if only the mask made it a no-op, this
      // predicate would delete 5 new rows)
      val r2 = ArrowDeleteVectors.deleteMor(spark, dir, "key >= 5 AND key < 10")
      assert(r2.deletedRows === 0L,
        "the under-lock ledger check failed: a replayed version committed")
    } finally spark.conf.unset("spark.graft.arrow.cdcTxn")
    assert(spark.read.format("arrow-ipc").load(dir).count() === 95L)
    assert(ArrowCdcApply.appliedVersion(spark, dir, "cdc_lock") === Some(3L))
  }

  test("crash window: an intent carrying a txn replays merge + ledger together via recover()") {
    val dir = tmp("graft_cdc_crash")
    seed(dir)
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    val dataName = Option(fs.globStatus(new Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName).head

    // hand-stage the exact on-disk state of a crash after the tagged
    // intent landed but before any replay step ran
    val staged = s"${ArrowDeleteVectors.DvDir}/.mor-test-$dataName.g1.c5.dv"
    val finalRel = ArrowDeleteVectors.dvRel(dataName, 1, 5L)
    graft.sources.ArrowOcc.writeAtomic(fs, new Path(dirPath, staged),
      ArrowDeleteVectors.encode(Array(0L, 1L, 2L, 3L, 4L)))
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      kind = "mor-delete", txn = Some(("cdc_crash", 9L)),
      flips = Seq(ArrowMaintenance.DvFlip(staged, finalRel))))
    fs.delete(new Path(dirPath, "_SUCCESS"), false)

    assert(ArrowMaintenance.recover(spark, dir))
    assert(spark.read.format("arrow-ipc").load(dir).count() === 95L)
    // the ledger advanced IN THE SAME replay — the restarted batch's
    // re-run now skips
    assert(ArrowCdcApply.appliedVersion(spark, dir, "cdc_crash") === Some(9L))
    assert(!ArrowCdcApply.applyBatch(spark, dir, "cdc_crash", 9L) {
      fail("a replayed batch version re-ran after crash replay")
    })
    // and version 10 still runs (empty body → allowNoop, round 13's
    // loud post-check would otherwise refuse)
    assert(ArrowCdcApply.applyBatch(spark, dir, "cdc_crash", 10L,
      allowNoop = true) { () })
  }

  test("keyBounds renders the batch's static pruning predicate; bounded MERGE is semantically identical") {
    val dir = tmp("graft_cdc_bounds")
    seed(dir)
    val batch = spark.range(10, 20).select(col("id").as("key"), lit(2L).as("d"))
    val bounds = ArrowCdcApply.keyBounds(batch, "key", "t")
    assert(bounds === Some("t.key >= 10 AND t.key <= 19"))
    // string keys quote (and escape) correctly
    val sb = ArrowCdcApply.keyBounds(
      spark.sql("SELECT * FROM VALUES ('a'), ('o''k') AS v(key)"), "key", "t")
    assert(sb === Some("t.key >= 'a' AND t.key <= 'o''k'"))
    // an empty batch yields None — the caller skips the MERGE
    assert(ArrowCdcApply.keyBounds(
      spark.range(0).select(col("id").as("key")), "key", "t") === None)
    // the bounded MERGE applies the same rows as the unbounded shape
    spark.conf.set("spark.graft.arrow.mergeMode", "mor")
    try {
      batch.createOrReplaceTempView("cdc_bounds_src")
      assert(ArrowCdcApply.applyBatch(spark, dir, "cdc_bounds", 0L) {
        ArrowDml.sql(spark, dir,
          s"""MERGE INTO graft.`$dir` t USING cdc_bounds_src c
              ON t.key = c.key AND ${bounds.get}
              WHEN MATCHED THEN UPDATE SET v = t.v + c.d
              WHEN NOT MATCHED THEN INSERT (key, v) VALUES (c.key, c.d)""")
        ()
      })
    } finally spark.conf.unset("spark.graft.arrow.mergeMode")
    assert(vsum(dir) === (0 until 100).map(_ * 10L).sum + 10 * 2)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 100L)
  }

  test("keyBoundsMulti renders conjunctive per-column bounds; the composite-key bounded MERGE is semantically identical") {
    val dir = tmp("graft_cdc_bounds2")
    // composite-keyed table: (grp, sub) -> v, with sibling tuples that a
    // single-column prune would NOT separate
    spark.range(0, 100).select((col("id") % 10).as("grp"),
        expr("id div 10").as("sub"), (col("id") * 10).as("v"))
      .repartition(3)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")

    val batch = spark.sql(
      "SELECT * FROM VALUES (3L, 2L, 1L), (5L, 7L, 1L) AS c(grp, sub, d)")
    val bounds = ArrowCdcApply.keyBoundsMulti(batch, Seq("grp", "sub"), "t")
    assert(bounds === Some(
      "t.grp >= 3 AND t.grp <= 5 AND t.sub >= 2 AND t.sub <= 7"))
    // empty batch and an all-null key column both yield None
    assert(ArrowCdcApply.keyBoundsMulti(
      spark.range(0).select(col("id").as("grp"), col("id").as("sub")),
      Seq("grp", "sub"), "t") === None)
    assert(ArrowCdcApply.keyBoundsMulti(
      spark.sql("SELECT * FROM VALUES (1L, CAST(NULL AS BIGINT)) AS v(grp, sub)"),
      Seq("grp", "sub"), "t") === None)
    intercept[IllegalArgumentException] {
      ArrowCdcApply.keyBoundsMulti(batch, Seq("grp", "grp"), "t")
    }

    // the bounded composite MERGE applies the same rows as the unbounded
    // shape: exactly the two (grp, sub) tuples update, siblings survive
    spark.conf.set("spark.graft.arrow.mergeMode", "mor")
    try {
      batch.createOrReplaceTempView("cdc_bounds2_src")
      assert(ArrowCdcApply.applyBatch(spark, dir, "cdc_bounds2", 0L) {
        ArrowDml.sql(spark, dir,
          s"""MERGE INTO graft.`$dir` t USING cdc_bounds2_src c
              ON t.grp = c.grp AND t.sub = c.sub AND ${bounds.get}
              WHEN MATCHED THEN UPDATE SET v = t.v + c.d
              WHEN NOT MATCHED THEN INSERT (grp, sub, v)
                VALUES (c.grp, c.sub, c.d)""")
        ()
      })
    } finally spark.conf.unset("spark.graft.arrow.mergeMode")
    val t = spark.read.format("arrow-ipc").load(dir)
    assert(t.count() === 100L)
    // keys (3,2)=id 23 and (5,7)=id 75 got +1; everything else unchanged
    assert(t.agg(sum(col("v"))).head().getLong(0) ===
      (0 until 100).map(_ * 10L).sum + 2L)
  }

  test("an untagged statement never touches the ledger") {
    val dir = tmp("graft_cdc_untagged")
    seed(dir)
    ArrowDeleteVectors.deleteMor(spark, dir, "key < 3")
    assert(!fsOf(dir).exists(
      new Path(dir, ArrowDeleteVectors.CdcLedgerFile)))
  }

  // ── round 13: COW-routed statements honor the tag too ────────────────

  /** Same upsert batch as [[mergeBatch]] but through the DEFAULT cow
    * merge mode — round 12's hole: only the MOR commit consulted the
    * tag, so a cow-routed batch silently degraded to at-least-once. */
  private def cowMergeBatch(dir: String, ver: Long): Boolean =
    ArrowCdcApply.applyBatch(spark, dir, "cdc_cow", ver) {
      spark.range(0, 30).select(col("id").as("key"), lit(1L).as("d"))
        .union(spark.range(2000 + ver, 2001 + ver)
          .select(col("id").as("key"), lit(7L).as("d")))
        .createOrReplaceTempView("cdc_cow_src")
      ArrowDml.sql(spark, dir,
        s"""MERGE INTO graft.`$dir` t USING cdc_cow_src c ON t.key = c.key
            WHEN MATCHED THEN UPDATE SET v = t.v + c.d
            WHEN NOT MATCHED THEN INSERT (key, v) VALUES (c.key, c.d)""")
      ()
    }

  test("a COW-routed (default-mode) tagged MERGE folds the ledger and replays as a no-op") {
    val dir = tmp("graft_cdc_cow")
    seed(dir)
    val base = vsum(dir)
    assert(cowMergeBatch(dir, 0L))
    assert(vsum(dir) === base + 30 + 7)
    // THE round-12 hole: the cow commit now records the version
    assert(ArrowCdcApply.appliedVersion(spark, dir, "cdc_cow") === Some(0L))
    assert(!cowMergeBatch(dir, 0L))
    assert(vsum(dir) === base + 30 + 7, "a replayed COW batch DOUBLE-APPLIED")
    assert(cowMergeBatch(dir, 1L))
    assert(vsum(dir) === base + 2 * (30 + 7))
  }

  test("the COW under-lock skip: a tagged cow statement whose version already applied commits NOTHING even when the fast path is bypassed") {
    val dir = tmp("graft_cdc_cowlock")
    seed(dir)
    spark.conf.set("spark.graft.arrow.cdcTxn", "cow_lock:3")
    try {
      // cow UPDATE (ReplaceData route) applies and records version 3
      ArrowDml.update(spark, dir, "v = v + 1", Some("key < 5"))
      assert(vsum(dir) === (0 until 100).map(_ * 10L).sum + 5)
      assert(ArrowCdcApply.appliedVersion(spark, dir, "cow_lock") === Some(3L))
      // replay the SAME version with a DIFFERENT assignment, bypassing
      // the pre-check: the under-lock ledger check in commitSwap must
      // clean the staging and commit nothing
      ArrowDml.update(spark, dir, "v = v + 1000", Some("key < 50"))
      assert(vsum(dir) === (0 until 100).map(_ * 10L).sum + 5,
        "the COW under-lock ledger check failed: a replayed version committed")
    } finally spark.conf.unset("spark.graft.arrow.cdcTxn")
    // no stray staging left behind by the skipped commit
    val fs = fsOf(dir)
    assert(Option(fs.globStatus(new Path(dir, ".cow-*")))
      .getOrElse(Array.empty).isEmpty)
  }

  test("crash window: a COW intent carrying a txn replays swap + ledger together via recover()") {
    val dir = tmp("graft_cdc_cowcrash")
    seed(dir)
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    val victim = Option(fs.globStatus(new Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName).head

    // hand-stage the on-disk state of a crash after a tagged cow
    // intent landed but before any replay step ran (the ArrowCowSpec
    // recipe, plus the txn)
    val staging = ".cow-cdc00001"
    val replacement = spark.read.format("arrow-ipc").load(dir)
      .filter(col("_file").endsWith(victim))
      .select(col("key"), lit(-1L).as("v")).coalesce(1)
    graft.sources.ArrowInterchange.writeStream(replacement,
      new Path(dirPath, staging).toString)
    val staged = Option(fs.globStatus(new Path(
      new Path(dirPath, staging), "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName)
    assert(staged.length === 1)
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      Seq(victim), staging, staged.map(s => s -> s).toMap, "cow", Nil,
      txn = Some(("cdc_cow_crash", 9L))))
    fs.delete(new Path(dirPath, "_SUCCESS"), false)

    assert(ArrowMaintenance.recover(spark, dir))
    assert(spark.read.format("arrow-ipc").load(dir).count() === 100L)
    // the ledger advanced IN THE SAME replay — the restarted batch skips
    assert(ArrowCdcApply.appliedVersion(spark, dir, "cdc_cow_crash")
      === Some(9L))
    assert(!ArrowCdcApply.applyBatch(spark, dir, "cdc_cow_crash", 9L) {
      fail("a replayed batch version re-ran after COW crash replay")
    })
  }

  test("keyBounds renders typed literals for date/timestamp keys and refuses unsupported key types") {
    val d = spark.sql(
      "SELECT * FROM VALUES (DATE '2024-01-05'), (DATE '2024-03-01') AS v(key)")
    assert(ArrowCdcApply.keyBounds(d, "key", "t") ===
      Some("t.key >= DATE '2024-01-05' AND t.key <= DATE '2024-03-01'"))
    val ts = spark.sql(
      "SELECT * FROM VALUES (TIMESTAMP '2024-01-05 01:02:03'), " +
        "(TIMESTAMP '2024-03-01 00:00:00') AS v(key)")
    val tb = ArrowCdcApply.keyBounds(ts, "key", "t").get
    assert(tb.startsWith("t.key >= TIMESTAMP '2024-01-05 01:02:03"))
    // the rendered bounds PARSE and prune correctly (the round-12 bug:
    // a bare 2024-01-05 parsed as integer arithmetic = 2018)
    assert(spark.sql(s"SELECT DATE '2024-02-01' AS key").filter(
      ArrowCdcApply.keyBounds(d, "key", "key").get
        .replace("key.key", "key")).count() === 1L)
    // unsupported key type: loud refusal, not silently-wrong SQL
    val bad = spark.sql("SELECT array(1, 2) AS key")
    val e = intercept[IllegalArgumentException] {
      ArrowCdcApply.keyBounds(bad, "key", "t")
    }
    assert(e.getMessage.contains("only numeric, string, date and timestamp"))
  }

  test("applyBatch fails LOUDLY when the body's writes bypass the ledger (bare append), and allowNoop opts out for empty bodies") {
    val dir = tmp("graft_cdc_loud")
    seed(dir)
    // a bare INSERT-style append commits through the untagged append
    // path — exactly-once would silently degrade to at-least-once, so
    // applyBatch must refuse
    val e = intercept[IllegalStateException] {
      ArrowCdcApply.applyBatch(spark, dir, "cdc_loud", 0L) {
        spark.range(5000, 5003)
          .select(col("id").as("key"), lit(0L).as("v"))
          .write.format("arrow-ipc").mode("append").save(dir)
      }
    }
    assert(e.getMessage.contains("did not record its version"))
    // an intentionally-empty body is idempotent by vacuity: allowNoop
    assert(ArrowCdcApply.applyBatch(spark, dir, "cdc_loud", 1L,
      allowNoop = true) { () })
    assert(ArrowCdcApply.appliedVersion(spark, dir, "cdc_loud") === None)
  }
}
