package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowDeleteVectors, ArrowMaintenance, ArrowSnapshots}

/** Merge-on-read row-level DELETE via deletion vectors: a point delete
  * commits O(deleted rows) of sidecar metadata instead of rewriting any
  * data file; readers mask the positions at scan time; the next
  * compaction folds the vectors away and restores the zero-copy
  * columnar read. Versioned through the snapshot log (time travel sees
  * exactly the vectors in force at a snapshot), crash-safe through the
  * same intent/replay discipline as compaction. */
class ArrowMorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(dir: String): Set[String] = {
    val fs = fsOf(dir)
    Option(fs.globStatus(new Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSet
  }

  private def liveDvs(dir: String): Map[String, ArrowDeleteVectors.DvRef] =
    ArrowDeleteVectors.live(fsOf(dir), new Path(dir))

  // ── the position codec ────────────────────────────────────────────────

  test("codec: delta-varint roundtrip, strict-sort enforcement, bad magic refusal") {
    val cases = Seq(
      Array.empty[Long],
      Array(0L),
      Array(0L, 1L, 2L),
      Array(5L, 127L, 128L, 16383L, 16384L, Int.MaxValue.toLong),
      Array.iterate(3L, 1000)(p => p + 1 + (p % 7)))
    cases.foreach { ps =>
      assert(ArrowDeleteVectors.decode(ArrowDeleteVectors.encode(ps))
        .sameElements(ps), s"roundtrip failed for ${ps.take(5).mkString(",")}…")
    }
    intercept[IllegalArgumentException] {
      ArrowDeleteVectors.encode(Array(3L, 3L)) // not strictly sorted
    }
    // int-addressed masks downstream: a position past 2^31-1 must fail
    // LOUDLY at encode/commit time, never truncate to the wrong bit at
    // read time (a file cannot carry that many rows anyway)
    val e = intercept[IllegalArgumentException] {
      ArrowDeleteVectors.encode(Array(Int.MaxValue.toLong + 1))
    }
    assert(e.getMessage.contains("Int.MaxValue"))
    intercept[IllegalArgumentException] {
      ArrowDeleteVectors.decode("not a vector".getBytes)
    }
  }

  test("vector names carry (dataFile, gen, cardinality); foreign names refuse") {
    val rel = ArrowDeleteVectors.dvRel("part-00001-abc.arrows", 3, 42L)
    assert(rel === ".dv/part-00001-abc.arrows.g3.c42.dv")
    assert(ArrowDeleteVectors.parseName(new Path(rel).getName)
      === Some(("part-00001-abc.arrows", 3, 42L)))
    assert(ArrowDeleteVectors.parseName("part-00001.arrows") === None)
    assert(ArrowDeleteVectors.parseName("x.g1.dv") === None)
    assert(ArrowDeleteVectors.parseName("x.c1.dv") === None)
  }

  // ── the `_pos` metadata column ────────────────────────────────────────

  test("_pos projects each row's physical ordinal; composes with _file at any slot order") {
    val dir = tmp("graft_mor_pos")
    spark.range(0, 50).select(col("id"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val df = spark.read.format("arrow-ipc").load(dir)
    // per-file ordinals are dense 0..n-1
    val perFile = df.select(col("_file"), col("_pos"))
      .groupBy("_file")
      .agg(count(lit(1)).as("n"), min("_pos").as("lo"), max("_pos").as("hi"))
      .collect()
    assert(perFile.length === 2)
    perFile.foreach { r =>
      assert(r.getLong(2) === 0L, "_pos must start at 0")
      assert(r.getLong(3) === r.getLong(1) - 1, "_pos must be dense")
    }
    // slot math: every projection order of (_pos, _file, data) agrees
    val a = df.select(col("_pos"), col("_file"), col("id"))
    val b = df.select(col("_file"), col("id"), col("_pos"))
    val c = df.select(col("id"), col("_pos"), col("_file"))
    val canon = a.select("id", "_file", "_pos").collect().map(_.toSeq).toSet
    assert(b.select("id", "_file", "_pos").collect().map(_.toSeq).toSet === canon)
    assert(c.select("id", "_file", "_pos").collect().map(_.toSeq).toSet === canon)
    // _pos alone (no _file) also works
    assert(df.select(col("_pos")).where(col("_pos") === 0).count() === 2)
  }

  // ── the MOR delete statement ──────────────────────────────────────────

  test("deleteMor masks rows without touching any data file; re-run is a no-op") {
    val dir = tmp("graft_mor_basic")
    spark.range(0, 1000).select(col("id"), (col("id") % 10).as("k"))
      .repartitionByRange(4, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val before = dataFiles(dir)
    val fs = fsOf(dir)
    val mtimes = before.map(n =>
      n -> fs.getFileStatus(new Path(dir, n)).getModificationTime).toMap

    val r = ArrowDeleteVectors.deleteMor(spark, dir, "k = 3")
    assert(r.deletedRows === 100)
    assert(r.files === 4) // range-partitioned on id, k=3 hits every file

    // NO data file was rewritten, moved, or renamed
    assert(dataFiles(dir) === before)
    before.foreach(n => assert(
      fs.getFileStatus(new Path(dir, n)).getModificationTime === mtimes(n),
      s"$n was touched by a merge-on-read delete"))

    // reads mask
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 900)
    assert(df.where(col("k") === 3).count() === 0)
    assert(df.agg(sum("id")).head.getLong(0)
      === (0L until 1000L).filter(_ % 10 != 3).sum)

    // one live vector per affected file
    assert(liveDvs(dir).keySet === before)
    assert(liveDvs(dir).values.map(_.card).sum === 100L)

    // a re-run of the same predicate matches nothing (masked at the find
    // scan) and commits nothing
    val r2 = ArrowDeleteVectors.deleteMor(spark, dir, "k = 3")
    assert(r2.files === 0 && r2.deletedRows === 0L)
    assert(liveDvs(dir).values.map(_.gen).max === 1)
  }

  test("a second delete is CUMULATIVE: gen advances, positions union, history stays navigable") {
    val dir = tmp("graft_mor_cumulative")
    spark.range(0, 300).select(col("id"))
      .coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val tipBefore = ArrowSnapshots.currentTip(fs, new Path(dir))

    assert(ArrowDeleteVectors.deleteMor(spark, dir, "id < 10").deletedRows === 10)
    val afterFirst = ArrowSnapshots.currentTip(fs, new Path(dir))
    assert(ArrowDeleteVectors.deleteMor(spark, dir, "id >= 290").deletedRows === 10)

    val dvs = liveDvs(dir)
    assert(dvs.size === 1)
    assert(dvs.values.head.gen === 2)
    assert(dvs.values.head.card === 20L)
    // the live dir holds exactly ONE vector for the file (gen 1 retired)
    val dvDir = new Path(dir, ArrowDeleteVectors.DvDir)
    assert(fs.listStatus(dvDir).count(
      st => !st.getPath.getName.startsWith(".")) === 1)

    val read = spark.read.format("arrow-ipc").load(dir)
    assert(read.count() === 280)
    assert(read.agg(min("id"), max("id")).head().toSeq === Seq(10L, 289L))

    // TIME TRAVEL: each snapshot applies exactly the vectors in force AT it
    def asOf(id: Long) = spark.read.format("arrow-ipc")
      .option("asOfSnapshot", id).load(dir)
    assert(asOf(tipBefore).count() === 300)
    assert(asOf(afterFirst).count() === 290)
    assert(asOf(afterFirst).agg(min("id")).head.getLong(0) === 10L)
  }

  test("deleteMor on a hive layout masks through the partition-value splice") {
    val dir = tmp("graft_mor_hive")
    import spark.implicits._
    (0 until 400).map(i => (i, i % 4, s"r$i")).toDF("id", "bucket", "payload")
      .write.format("arrow-ipc").option("hivePartitionKeys", "bucket")
      .mode("overwrite").save(dir)

    val r = ArrowDeleteVectors.deleteMor(spark, dir, "bucket = 2 AND id < 200")
    assert(r.deletedRows === 50)
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 350)
    assert(df.where(col("bucket") === 2).count() === 50)
    assert(df.where(col("bucket") === 2).agg(min("id")).head.getInt(0) >= 200)
    // vectors land in the FLAT .dv dir even for nested layouts
    assert(liveDvs(dir).values.map(_.card).sum === 50L)
  }

  test("a no-match delete commits nothing (no snapshot, no vector)") {
    val dir = tmp("graft_mor_nomatch")
    spark.range(0, 10).write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val tip = ArrowSnapshots.currentTip(fs, new Path(dir))
    val r = ArrowDeleteVectors.deleteMor(spark, dir, "id > 1000")
    assert(r.files === 0)
    assert(ArrowSnapshots.currentTip(fs, new Path(dir)) === tip)
    assert(liveDvs(dir).isEmpty)
  }

  test("the bulk cap refuses and points at the COW path") {
    val dir = tmp("graft_mor_cap")
    spark.range(0, 1000).write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.graft.arrow.morMaxDeletedRows", "100")
    try {
      val e = intercept[IllegalArgumentException] {
        ArrowDeleteVectors.deleteMor(spark, dir, "id >= 0")
      }
      assert(e.getMessage.contains("COW"))
      // nothing committed, table intact
      assert(spark.read.format("arrow-ipc").load(dir).count() === 1000)
      assert(liveDvs(dir).isEmpty)
    } finally spark.conf.unset("spark.graft.arrow.morMaxDeletedRows")
  }

  // ── planning integration ──────────────────────────────────────────────

  test("a live vector disables metadata-only aggregate answers; the scan stays correct") {
    val dir = tmp("graft_mor_agg")
    spark.range(0, 500).select(col("id"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    // manifest-served COUNT before the delete
    val df0 = spark.read.format("arrow-ipc").load(dir).agg(count(lit(1)))
    assert(df0.queryExecution.executedPlan.toString.contains("PushedAggregation") ||
      df0.head.getLong(0) === 500) // plan shape is advisory; value is the gate
    ArrowDeleteVectors.deleteMor(spark, dir, "id % 100 = 7")
    val df1 = spark.read.format("arrow-ipc").load(dir).agg(count(lit(1)))
    // the push must NOT answer from physical manifest counts now
    assert(!df1.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(df1.head.getLong(0) === 495)
    // reported statistics subtract the masked cardinality
    val rel = spark.read.format("arrow-ipc").load(dir)
    assert(rel.count() === 495)
  }

  test("masked scans stay COLUMNAR: the row-remapping vector keeps zero-copy reads") {
    val dir = tmp("graft_mor_columnar")
    spark.range(0, 200).select(col("id"), (col("id") < 100).as("low"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    // delete only from the low file
    ArrowDeleteVectors.deleteMor(spark, dir, "id = 5")
    assert(liveDvs(dir).size === 1)
    val df = spark.read.format("arrow-ipc").load(dir)
    // the executed plan reads columnar even though one file carries a
    // vector (MaskedColumnVector remaps; Spark's per-scan uniformity
    // holds because EVERY partition claims columnar)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"masked scan fell off the columnar path:\n$plan")
    assert(df.count() === 199)
    assert(df.where(col("id") === 5).count() === 0)
    assert(df.where(col("id") === 105).count() === 1)
    // mask + evolution interplay: the remap wraps the widening shim
    assert(df.agg(sum("id")).head.getLong(0) === (0L until 200L).sum - 5L)
  }

  // ── maintenance interplay ─────────────────────────────────────────────

  test("compaction folds vectors away: files rewrite to survivors, vectors retire, pushdown returns") {
    val dir = tmp("graft_mor_fold")
    spark.range(0, 600).select(col("id"))
      .repartitionByRange(3, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowDeleteVectors.deleteMor(spark, dir, "id % 3 = 1")
    assert(spark.read.format("arrow-ipc").load(dir).count() === 400)

    val res = ArrowMaintenance.compact(spark, dir)
    assert(res.isDefined)
    // vectors are gone from the live dir (folded into the rewrite)
    assert(liveDvs(dir).isEmpty)
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 400)
    assert(df.where(col("id") % 3 === 1).count() === 0)
    // metadata-only answers are live again: the new manifest counts are real
    val agg = df.agg(count(lit(1)))
    assert(agg.head.getLong(0) === 400)
    // time travel to the pre-compaction snapshot still applies the vector
    val fs = fsOf(dir)
    val snaps = ArrowSnapshots.read(fs, new Path(dir))
    val preCompact = snaps(snaps.length - 2).id
    val tt = spark.read.format("arrow-ipc")
      .option("asOfSnapshot", preCompact).load(dir)
    assert(tt.count() === 400)
    assert(tt.where(col("id") % 3 === 1).count() === 0)
  }

  test("purgeDeletes folds ONLY vector-carrying files; clean files keep their bytes") {
    val dir = tmp("graft_mor_purge")
    spark.range(0, 900).select(col("id"))
      .repartitionByRange(3, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    // delete rows that live in ONE file only (ids 0..299 by range split)
    ArrowDeleteVectors.deleteMor(spark, dir, "id < 30")
    assert(liveDvs(dir).size === 1)
    val dvName = liveDvs(dir).keySet.head
    val untouched = dataFiles(dir) - dvName
    val mtimes = untouched.map(n =>
      n -> fs.getFileStatus(new Path(dir, n)).getModificationTime).toMap

    val res = ArrowMaintenance.purgeDeletes(spark, dir)
    assert(res.contains(ArrowMaintenance.CompactionResult(1, 1)))
    // the vector is gone, the clean files were never touched
    assert(liveDvs(dir).isEmpty)
    untouched.foreach(n => assert(
      fs.getFileStatus(new Path(dir, n)).getModificationTime === mtimes(n),
      s"purge touched clean file $n"))
    assert(!fs.exists(new Path(dir, dvName)), "the purged file survived")
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 870)
    assert(df.agg(min("id")).head.getLong(0) === 30L)
    // nothing to do on a vector-less table
    assert(ArrowMaintenance.purgeDeletes(spark, dir).isEmpty)
    // the SQL face
    ArrowDeleteVectors.deleteMor(spark, dir, "id >= 870")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.ArrowCatalog].getName)
    val r = spark.sql(s"CALL graft.system.purge('$dir')").head()
    assert(r.getInt(0) >= 1)
    assert(liveDvs(dir).isEmpty)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 840)
  }

  test("a vector that advances mid-staging fails the maintenance swap (no resurrection)") {
    val dir = tmp("graft_mor_race")
    spark.range(0, 400).select(col("id"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    // stage a compaction, then land a MOR delete in the window between
    // staging and commit — the swap must LOSE (else the rewrite, staged
    // from pre-delete masks, would resurrect the deleted rows), and the
    // bounded retry re-runs it against the new state.
    var fired = false
    ArrowMaintenance.beforeSwapHook = () => {
      if (!fired) {
        fired = true
        ArrowDeleteVectors.deleteMor(spark, dir, "id = 42")
      }
    }
    try {
      val res = ArrowMaintenance.compact(spark, dir)
      assert(res.isDefined)
    } finally ArrowMaintenance.beforeSwapHook = () => ()
    assert(fired)
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 399)
    assert(df.where(col("id") === 42).count() === 0, "compaction resurrected a deleted row")
    assert(liveDvs(dir).isEmpty) // the winning re-run folded the vector
  }

  test("COW UPDATE on a vector-carrying table folds the mask and retires the vector") {
    val dir = tmp("graft_mor_cow")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.ArrowCatalog].getName)
    spark.range(0, 200).select(col("id"), lit(0L).as("v"))
      .coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowDeleteVectors.deleteMor(spark, dir, "id < 20")
    spark.sql(s"UPDATE graft.`$dir` SET v = 1 WHERE id >= 190")
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 180, "COW rewrite resurrected MOR-deleted rows")
    assert(df.where(col("v") === 1).count() === 10)
    assert(df.where(col("id") < 20).count() === 0)
    // the rewrite folded the mask: no live vector remains for the old file
    assert(liveDvs(dir).isEmpty)
  }

  test("plain SQL DELETE rides SupportsDelta position deltas under deleteMode=mor") {
    val dir = tmp("graft_mor_sql")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.ArrowCatalog].getName)
    spark.range(0, 420).select(col("id"), (col("id") % 7).as("k"))
      .repartitionByRange(3, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val before = dataFiles(dir)
    val mtimes = before.map(n =>
      n -> fs.getFileStatus(new Path(dir, n)).getModificationTime).toMap

    spark.conf.set("spark.graft.arrow.deleteMode", "mor")
    try {
      // straddling predicate: the metadata path refuses, SupportsDelta
      // plans the position delta
      spark.sql(s"DELETE FROM graft.`$dir` WHERE k = 3")
      assert(dataFiles(dir) === before)
      before.foreach(n => assert(
        fs.getFileStatus(new Path(dir, n)).getModificationTime === mtimes(n),
        s"$n was rewritten by a merge-on-read SQL DELETE"))
      assert(liveDvs(dir).values.map(_.card).sum === 60L)
      val df = spark.read.format("arrow-ipc").load(dir)
      assert(df.count() === 360)
      assert(df.where(col("k") === 3).count() === 0)
      // a second statement is cumulative (gen 2 = union)
      spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 14")
      assert(liveDvs(dir).values.map(_.gen).max === 2)
      val df2 = spark.read.format("arrow-ipc").load(dir)
      assert(df2.count() === 348) // 360 - (14 ids minus the k=3 ids 3, 10)
      assert(df2.agg(min("id")).head.getLong(0) === 14L)
      // a provable whole-file predicate still takes the metadata path
      // (strictly better than any vector): files are key-ranged on id
      val dropped = ArrowMaintenance.canDeleteWhere(spark, dir,
        Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 280)))
      assert(dropped, "the metadata classifier lost precedence under mor mode")
    } finally spark.conf.unset("spark.graft.arrow.deleteMode")
    // default mode unchanged: COW rewrite still lands after the unset
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id % 97 = 5")
    assert(spark.read.format("arrow-ipc").load(dir)
      .where(col("id") % 97 === 5).count() === 0)
  }

  test("SQL UPDATE as a position delta (updateMode=mor): unchanged rows never rewrite") {
    val dir = tmp("graft_mor_upd")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.ArrowCatalog].getName)
    spark.range(0, 600).select(col("id"), (col("id") % 6).as("k"),
        lit(0L).as("v"))
      .repartitionByRange(3, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val before = dataFiles(dir)
    val mtimes = before.map(n =>
      n -> fs.getFileStatus(new Path(dir, n)).getModificationTime).toMap

    spark.conf.set("spark.graft.arrow.updateMode", "mor")
    try {
      spark.sql(s"UPDATE graft.`$dir` SET v = id * 10 WHERE k = 2")
    } finally spark.conf.unset("spark.graft.arrow.updateMode")

    // the ORIGINAL files were never rewritten — the statement's cost is
    // the 100 changed rows: vectors masking the old images + one small
    // appended file with the new images
    assert(before.subsetOf(dataFiles(dir)))
    before.foreach(n => assert(
      fs.getFileStatus(new Path(dir, n)).getModificationTime === mtimes(n),
      s"$n was rewritten by a merge-on-read UPDATE"))
    assert(liveDvs(dir).values.map(_.card).sum === 100L)
    assert((dataFiles(dir) -- before).nonEmpty, "no insert file appended")

    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 600, "duplicate or lost rows after MOR update")
    assert(df.where(col("k") === 2).count() === 100)
    assert(df.where(col("k") === 2 && col("v") =!= col("id") * 10).count() === 0)
    assert(df.where(col("k") =!= 2 && col("v") =!= 0).count() === 0)
    // stats landed for the appended file: manifest-exact counts resume
    // after a purge folds the vectors
    assert(ArrowMaintenance.purgeDeletes(spark, dir).isDefined)
    assert(liveDvs(dir).isEmpty)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 600)
  }

  test("SQL MERGE as a position delta (mergeMode=mor): matched rows mask+append, new rows insert") {
    val dir = tmp("graft_mor_merge")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.ArrowCatalog].getName)
    import spark.implicits._
    (0L until 200L).map(i => (i, i)).toDF("id", "v")
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val before = dataFiles(dir)
    val mtimes = before.map(n =>
      n -> fs.getFileStatus(new Path(dir, n)).getModificationTime).toMap
    (150L until 250L).map(i => (i, i + 1000)).toDF("id", "v")
      .createOrReplaceTempView("mor_merge_src")

    spark.conf.set("spark.graft.arrow.mergeMode", "mor")
    try {
      spark.sql(
        s"""MERGE INTO graft.`$dir` t USING mor_merge_src s ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""")
    } finally spark.conf.unset("spark.graft.arrow.mergeMode")

    before.foreach(n => assert(
      fs.getFileStatus(new Path(dir, n)).getModificationTime === mtimes(n),
      s"$n was rewritten by a merge-on-read MERGE"))
    assert(liveDvs(dir).values.map(_.card).sum === 50L) // matched 150..199
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 250)
    assert(df.where(col("id") >= 150).agg(min(col("v") - col("id")))
      .head.getLong(0) === 1000L)
    assert(df.where(col("id") < 150 && col("v") =!= col("id")).count() === 0)
  }

  test("MOR UPDATE on a hive layout: inserts route to value directories, masks splice") {
    val dir = tmp("graft_mor_upd_hive")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.ArrowCatalog].getName)
    import spark.implicits._
    (0 until 300).map(i => (i.toLong, i % 3, 0L)).toDF("id", "bucket", "v")
      .write.format("arrow-ipc").option("hivePartitionKeys", "bucket")
      .mode("overwrite").save(dir)
    val fs = fsOf(dir)
    def walk = graft.sources.ArrowSnapshots.listDataFiles(fs, new Path(dir)).toSet
    val before = walk
    spark.conf.set("spark.graft.arrow.updateMode", "mor")
    try spark.sql(s"UPDATE graft.`$dir` SET v = 9 WHERE bucket = 1 AND id < 60")
    finally spark.conf.unset("spark.graft.arrow.updateMode")
    assert(before.subsetOf(walk), "a hive MOR update removed a file")
    val fresh = walk -- before
    assert(fresh.nonEmpty && fresh.forall(_.startsWith("bucket=1/")),
      s"inserted rows did not route to their value directory: $fresh")
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 300)
    assert(df.where(col("v") === 9).count() === 20) // ids 1,4,...,58
    assert(df.where(col("bucket") === 1).count() === 100)
    // hive pruning still skips clean directories after the delta
    assert(df.where(col("bucket") === 2 && col("v") === 9).count() === 0)
  }

  test("the change feed of a MOR UPDATE window = old images out, new images in — changed rows only") {
    val dir = tmp("graft_mor_upd_cdc")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.ArrowCatalog].getName)
    spark.range(0, 200).select(col("id"), lit(0L).as("v")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val tip0 = ArrowSnapshots.currentTip(fs, new Path(dir))
    spark.conf.set("spark.graft.arrow.updateMode", "mor")
    try spark.sql(s"UPDATE graft.`$dir` SET v = 5 WHERE id >= 190")
    finally spark.conf.unset("spark.graft.arrow.updateMode")
    val tip1 = ArrowSnapshots.currentTip(fs, new Path(dir))
    val feed = graft.sources.ArrowChanges.changeFeed(spark, dir, tip0, tip1)
      .collect().groupBy(_.getAs[String]("_change_type"))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getAs[Long]("id"), r.getAs[Long]("v"))).toSet }
    // exactly the 10 changed rows, as delete(old image) + insert(new) —
    // the other 190 rows of the touched file never appear
    assert(feed("delete") === (190L until 200L).map(i => (i, 0L)).toSet)
    assert(feed("insert") === (190L until 200L).map(i => (i, 5L)).toSet)
  }

  test("a crash between a delta UPDATE's vector commit steps replays to completion") {
    val dir = tmp("graft_mor_upd_crash")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.ArrowCatalog].getName)
    spark.range(0, 100).select(col("id"), lit(0L).as("v")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.graft.arrow.updateMode", "mor")
    try spark.sql(s"UPDATE graft.`$dir` SET v = 7 WHERE id < 10")
    finally spark.conf.unset("spark.graft.arrow.updateMode")
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    // the committed intent is gone; REPLAY the same statement shape by
    // hand-restoring its on-disk midpoint: latch down + an intent whose
    // staged artifacts are already in place (the "crash after replay
    // moved everything but before the intent delete" state)
    val tip = ArrowSnapshots.currentTip(fs, dirPath)
    val (dvRel, dataNew) = {
      val dvs = liveDvs(dir)
      (dvs.values.head.rel, (dataFiles(dir) -- dataFiles(dir).filter(n =>
        ArrowDeleteVectors.parseName(n + ".g1.c1.dv").isEmpty)).toSeq)
    }
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      staging = ".mor-gone", kind = "mor-update",
      flips = Seq(ArrowMaintenance.DvFlip(".dv/.mor-x-gone.dv", dvRel))))
    fs.delete(new Path(dirPath, "_SUCCESS"), false)
    assert(ArrowMaintenance.recover(spark, dir))
    assert(fs.exists(new Path(dirPath, "_SUCCESS")))
    // converged: same tip (the fence saw the adds already recorded), same data
    assert(ArrowSnapshots.currentTip(fs, dirPath) === tip)
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.count() === 100)
    assert(df.where(col("v") === 7).count() === 10)
  }

  test("a metadata (whole-file) DELETE retires the dropped file's vector with it") {
    val dir = tmp("graft_mor_metadel")
    import spark.implicits._
    // key-grouped on k so `k = 'a'` classifies whole files from stats
    val df = (0 until 300).map(i => (i.toLong, if (i < 150) "a" else "b"))
      .toDF("id", "k")
    graft.sources.Sinks.writeKeyGrouped(df, dir, Seq("k"), partitions = 2)
    ArrowDeleteVectors.deleteMor(spark, dir, "id % 50 = 0") // both files
    assert(liveDvs(dir).size === 2)
    val res = ArrowMaintenance.deleteWhere(spark, dir,
      Array(org.apache.spark.sql.sources.EqualTo("k", "a")))
    assert(res.deleted >= 1)
    // the dropped file's vector left the live dir and the snapshot state
    val fs = fsOf(dir)
    assert(liveDvs(dir).size === 1)
    val snaps = ArrowSnapshots.read(fs, new Path(dir))
    val tipState = ArrowSnapshots.resolve(snaps, snaps.last.id).get
    assert(ArrowDeleteVectors.fromResolvedSet(tipState).size === 1,
      "the snapshot tip still references the dropped file's vector")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 147) // 150 'b' rows minus ids 150,200,250
    assert(back.where(col("id") % 50 === 0).count() === 0)
  }

  test("a metadata DELETE crashed between its trash moves and its log entry retires the vector on recover()") {
    val dir = tmp("graft_mor_metadel_crash")
    import spark.implicits._
    val df = (0 until 300).map(i => (i.toLong, if (i < 150) "a" else "b"))
      .toDF("id", "k")
    graft.sources.Sinks.writeKeyGrouped(df, dir, Seq("k"), partitions = 2)
    ArrowDeleteVectors.deleteMor(spark, dir, "id % 50 = 0") // both files
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    // the record deleteWhere(k = 'a') commits: the 'a' file, its vector
    val stats = graft.sources.ArrowFileStats.read(fs, dirPath)
    val doomed = dataFiles(dir).toSeq.sorted
      .filter(n => stats(n).cols("k").min.contains("a"))
    assert(doomed.size === 1)
    val dvs = doomed.map(n => liveDvs(dir)(n).rel)
    val tip0 = ArrowSnapshots.currentTip(fs, dirPath)
    // the crash: record written, latch down, the file and its vector
    // already in the trash, no log entry yet
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      olds = doomed, kind = "delete", dvs = dvs))
    fs.delete(new Path(dirPath, "_SUCCESS"), false)
    (doomed ++ dvs).foreach(r => ArrowSnapshots.moveToTrash(fs, dirPath, r))

    assert(ArrowMaintenance.recover(spark, dir))
    // the vector retired with its file, in exactly one log entry
    assert(liveDvs(dir).size === 1)
    assert(ArrowSnapshots.currentTip(fs, dirPath) === tip0 + 1)
    val snaps = ArrowSnapshots.read(fs, dirPath)
    assert(snaps.last.removes.toSet === (doomed ++ dvs).toSet)
    assert(ArrowDeleteVectors.fromResolvedSet(
      ArrowSnapshots.resolve(snaps, snaps.last.id).get).size === 1)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 147)
    assert(!ArrowMaintenance.recover(spark, dir))
  }

  test("expiry keeps trash vectors referenced by retained snapshots, collects the rest") {
    val dir = tmp("graft_mor_expire")
    spark.range(0, 200).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    ArrowDeleteVectors.deleteMor(spark, dir, "id < 25")
    val afterDelete = ArrowSnapshots.currentTip(fs, new Path(dir))
    assert(ArrowMaintenance.compact(spark, dir).isEmpty) // 1 file: no-op
    ArrowMaintenance.cluster(spark, dir, Seq("id"))      // folds the vector
    assert(liveDvs(dir).isEmpty)
    // the pre-fold snapshot still reads through the trash vector
    assert(spark.read.format("arrow-ipc")
      .option("asOfSnapshot", afterDelete).load(dir).count() === 175)
    // expire everything before the tip: the trash vector is unreferenced
    val tip = ArrowSnapshots.currentTip(fs, new Path(dir))
    ArrowMaintenance.expireSnapshots(spark, dir, tip)
    intercept[Exception] {
      spark.read.format("arrow-ipc")
        .option("asOfSnapshot", afterDelete).load(dir).count()
    }
    val trashDv = new Path(dir,
      s"${graft.sources.ArrowSnapshots.TrashDir}/${ArrowDeleteVectors.DvDir}")
    assert(!fs.exists(trashDv) ||
      fs.listStatus(trashDv).isEmpty, "expiry leaked an unreferenced vector")
    assert(spark.read.format("arrow-ipc").load(dir).count() === 175)
  }

  // ── change-feed integration ───────────────────────────────────────────

  test("batch change feed emits a MOR delete as exactly the newly-deleted rows") {
    val dir = tmp("graft_mor_cdc_batch")
    spark.range(0, 200).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val tip0 = ArrowSnapshots.currentTip(fs, new Path(dir))
    ArrowDeleteVectors.deleteMor(spark, dir, "id < 10")
    val tip1 = ArrowSnapshots.currentTip(fs, new Path(dir))
    ArrowDeleteVectors.deleteMor(spark, dir, "id >= 190 OR id < 15")
    val tip2 = ArrowSnapshots.currentTip(fs, new Path(dir))

    def feed(from: Long, to: Long): Map[String, Set[Long]] =
      graft.sources.ArrowChanges.changeFeed(spark, dir, from, to)
        .collect().groupBy(_.getAs[String]("_change_type"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("id")).toSet }

    // first window: only the 10 deleted rows, as deletes
    assert(feed(tip0, tip1) === Map("delete" -> (0L until 10L).toSet))
    // second window: only the NEWLY deleted (cumulative gen diffed)
    assert(feed(tip1, tip2) ===
      Map("delete" -> ((10L until 15L) ++ (190L until 200L)).toSet))
    // spanning window: the union, still no inserts
    assert(feed(tip0, tip2) ===
      Map("delete" -> ((0L until 15L) ++ (190L until 200L)).toSet))
    // from the beginning: net state at `to` as inserts only
    val boot = feed(0L, tip2)
    assert(boot.keySet === Set("insert"))
    assert(boot("insert") === (15L until 190L).toSet)
  }

  test("append-log stream over live vectors FAILS by default; ignoreDeletes opts in; folded vectors need no opt-in") {
    val base = java.nio.file.Files.createTempDirectory("graft_mor_stream_dv").toString
    val dir = s"$base/t"
    spark.range(0, 100).select(col("id"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowDeleteVectors.deleteMor(spark, dir, "id < 10")
    assert(liveDvs(dir).nonEmpty)
    // default: the poll observes live vectors and fails with the
    // Delta-shaped contract message (append-log over a mutated table
    // must be a conscious choice)
    val q1 = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("memory").queryName("mor_dv_default")
      .option("checkpointLocation", s"$base/ck1").start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
    }
    assert(Iterator.iterate[Throwable](failed)(_.getCause)
      .takeWhile(_ != null).exists(c => Option(c.getMessage)
        .exists(_.contains("ignoreDeletes"))))
    // explicit opt-in: masked rows flow (files as committed)
    val q2 = spark.readStream.format("arrow-ipc")
      .option("ignoreDeletes", true).load(dir)
      .writeStream.format("memory").queryName("mor_dv_optin")
      .option("checkpointLocation", s"$base/ck2").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("mor_dv_optin").count() === 100L)
    } finally q2.stop()
    // compaction folds the vectors → no live vectors → no opt-in needed
    assert(ArrowMaintenance.compact(spark, dir).isDefined)
    assert(liveDvs(dir).isEmpty)
    val q3 = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("memory").queryName("mor_dv_folded")
      .option("checkpointLocation", s"$base/ck3").start()
    try {
      q3.processAllAvailable()
      assert(spark.table("mor_dv_folded").count() === 90L)
    } finally q3.stop()
  }

  test("streaming change feed: a live MOR delete arrives as delete rows; a same-window compaction absorbs into the delta") {
    val base = java.nio.file.Files.createTempDirectory("graft_mor_cdc_stream").toString
    val dir = s"$base/t"
    spark.range(0, 100).select(col("id"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val q = spark.readStream.format("arrow-ipc")
      .option("changeFeed", true).load(dir)
      .writeStream.format("memory").queryName("mor_cdc")
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    def rows(): Map[String, Set[Long]] =
      spark.table("mor_cdc").collect()
        .groupBy(_.getAs[String]("_change_type"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("id")).toSet }
    try {
      q.processAllAvailable()
      assert(rows() === Map("insert" -> (0L until 100L).toSet))
      // a MOR delete lands → exactly the deleted rows stream out
      ArrowDeleteVectors.deleteMor(spark, dir, "id % 10 = 3")
      q.processAllAvailable()
      assert(rows()("delete") === (0L until 100L).filter(_ % 10 == 3).toSet)
      // MOR delete + compaction land within ONE polling window: the
      // rewrite is absorbed (lineage), the delta reads from the trash
      q.processAllAvailable() // drain first so the next window is clean
      ArrowDeleteVectors.deleteMor(spark, dir, "id = 50")
      assert(ArrowMaintenance.compact(spark, dir).isDefined)
      q.processAllAvailable()
      assert(rows()("delete") ===
        ((0L until 100L).filter(_ % 10 == 3) :+ 50L).toSet,
        "a compaction absorbed the MOR delta or re-emitted absorbed rows")
      assert(rows()("insert") === (0L until 100L).toSet,
        "an absorbed rewrite re-emitted its rows as inserts")
    } finally q.stop()
  }

  test("vacuum auto-purges files whose vectors mask >= theta; lightly-masked files keep their bytes") {
    val dir = tmp("graft_mor_vacuum_debt")
    // 4 range files over id 0..399: file ownership of ids is positional
    spark.range(0, 400).select(col("id"))
      .repartitionByRange(4, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    // mask 60% of the first file's rows (ids 0..59 of 0..99) and 5% of
    // the last file's (ids 300..304 of 300..399)
    ArrowDeleteVectors.deleteMor(spark, dir, "id < 60")
    ArrowDeleteVectors.deleteMor(spark, dir, "id >= 300 AND id < 305")
    assert(liveDvs(dir).size === 2)
    val byteSizes = Option(fs.globStatus(new Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty).map(st => st.getPath.getName -> st.getLen).toMap

    // threshold > 1.0 = disabled: both vectors survive
    val r0 = ArrowMaintenance.vacuum(spark, dir, purgeMaskedAbove = Some(2.0))
    assert(r0.purged.isEmpty && liveDvs(dir).size === 2)

    // default theta (0.5): exactly the 60%-masked file purges; the
    // 5%-masked file keeps its vector AND its bytes
    val r = ArrowMaintenance.vacuum(spark, dir)
    assert(r.purged.map(_.oldFiles) === Some(1),
      s"expected exactly one debtor purged, got ${r.purged}")
    val after = liveDvs(dir)
    assert(after.size === 1, "the light vector should survive")
    val (lightFile, lightRef) = after.head
    assert(lightRef.card === 5L)
    assert(byteSizes(lightFile) === Option(fs.globStatus(
        new Path(dir, "part-*.arrows"))).getOrElse(Array.empty)
      .collectFirst { case st if st.getPath.getName == lightFile => st.getLen }
      .get, "vacuum rewrote a file below the debt threshold")
    // content is unchanged throughout
    assert(spark.read.format("arrow-ipc").load(dir).count() === 335L)
    // SQL face: CALL vacuum reports the purge count
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    val row = spark.sql(
      s"CALL graft.system.vacuum('$dir', purge_masked_above => 0.01D)").head()
    assert(row.getAs[Int]("files_purged") === 1)
    assert(liveDvs(dir).isEmpty)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 335L)
  }

  // ── crash safety ──────────────────────────────────────────────────────

  test("a crash between intent and rename replays to completion via recover()") {
    val dir = tmp("graft_mor_crash")
    spark.range(0, 100).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    val dataName = dataFiles(dir).head

    // hand-stage the exact on-disk state a crash after intent+latch-down
    // leaves behind: staged vector present, final absent, latch down
    val staged = s"${ArrowDeleteVectors.DvDir}/.mor-test-$dataName.g1.c5.dv"
    val finalRel = ArrowDeleteVectors.dvRel(dataName, 1, 5L)
    graft.sources.ArrowOcc.writeAtomic(fs, new Path(dirPath, staged),
      ArrowDeleteVectors.encode(Array(0L, 1L, 2L, 3L, 4L)))
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      kind = "mor-delete", flips = Seq(ArrowMaintenance.DvFlip(staged, finalRel))))
    fs.delete(new Path(dirPath, "_SUCCESS"), false)

    // any maintenance caller converges the directory
    assert(ArrowMaintenance.recover(spark, dir))
    assert(fs.exists(new Path(dirPath, "_SUCCESS")))
    assert(!fs.exists(new Path(dirPath, ArrowMaintenance.IntentFile)))
    assert(liveDvs(dir).values.head.card === 5L)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 95)
    // and the replay is itself replayable (fixed point)
    assert(!ArrowMaintenance.recover(spark, dir))
  }

  // ── scan-to-commit write-write conflicts (round 12) ───────────────────
  // Two row-level statements touching the SAME row must conflict, not
  // silently compose: before the re-delete check, the loser's paired
  // INSERT (update path) landed a second image of the row — the 9-writer
  // stress probe surfaced exactly that as a duplicate id. The hook lands
  // the competing commit deterministically inside the window the probe
  // only hits probabilistically.

  test("a competing delete inside the scan-to-commit window CONFLICTS, never a silent no-op") {
    val dir = tmp("graft_mor_ww_delete")
    spark.range(0, 100).select(col("id"), (col("id") % 10).as("k"))
      .coalesce(1).write.format("arrow-ipc").mode("overwrite").save(dir)
    // fires AFTER the outer statement's find-scan collected its positions:
    // a competing delete of the same row commits fully inside the window
    var fired = false
    ArrowDeleteVectors.beforeStageHook = () => if (!fired) {
      fired = true
      assert(ArrowDeleteVectors.deleteMor(spark, dir, "id = 7").deletedRows === 1L)
    }
    val r =
      try ArrowDeleteVectors.deleteMor(spark, dir, "id = 7")
      finally ArrowDeleteVectors.beforeStageHook = () => ()
    // the loser CONFLICTED (not a silent no-op union) and its transparent
    // retry re-planned against the winner's state: nothing left to delete
    assert(r.retries === 1, "the first attempt must lose the window race")
    assert(r.deletedRows === 0L && r.files === 0)
    // the winner's delete stands alone: no torn vector, no double mask
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.where(col("id") === 7).count() === 0)
    assert(df.count() === 99)
    assert(liveDvs(dir).values.map(_.card).sum === 1L)
  }

  test("snapshot isolation: a pure DELETE folds a re-delete silently (liveness under churn)") {
    val dir = tmp("graft_mor_ww_snapshot")
    spark.range(0, 100).select(col("id"), (col("id") % 10).as("k"))
      .coalesce(1).write.format("arrow-ipc").mode("overwrite").save(dir)
    var fired = false
    ArrowDeleteVectors.beforeStageHook = () => if (!fired) {
      fired = true
      assert(ArrowDeleteVectors.deleteMor(spark, dir, "id = 7").deletedRows === 1L)
    }
    spark.conf.set("spark.graft.arrow.morDeleteIsolation", "snapshot")
    val r =
      try ArrowDeleteVectors.deleteMor(spark, dir, "id = 7")
      finally {
        spark.conf.unset("spark.graft.arrow.morDeleteIsolation")
        ArrowDeleteVectors.beforeStageHook = () => ()
      }
    // NO conflict, NO retry: the clash folds into the identical union —
    // the row this statement saw is deleted either way, and a delete-only
    // statement can never mint a duplicate
    assert(r.retries === 0)
    val df = spark.read.format("arrow-ipc").load(dir)
    assert(df.where(col("id") === 7).count() === 0)
    assert(df.count() === 99)
    assert(liveDvs(dir).values.map(_.card).sum === 1L)
  }

  test("MOR UPDATE losing the window race: conflict + transparent retry, never a duplicate") {
    val dir = tmp("graft_mor_ww_update")
    spark.range(0, 100).select(col("id"), (col("id") % 10).as("k"))
      .coalesce(1).write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    var fired = false
    ArrowDeleteVectors.beforeStageHook = () => if (!fired) {
      fired = true
      assert(ArrowDeleteVectors.deleteMor(spark, dir, "id = 7").deletedRows === 1L)
    }
    spark.conf.set("spark.graft.arrow.updateMode", "mor")
    val retries =
      try graft.sources.ArrowDml.update(spark, dir, "k = 99",
        Some("id >= 5 AND id < 10"))
      finally {
        spark.conf.unset("spark.graft.arrow.updateMode")
        ArrowDeleteVectors.beforeStageHook = () => ()
      }
    assert(retries === 1, "the first attempt must lose the window race")
    val df = spark.read.format("arrow-ipc").load(dir)
    // the retry re-planned against the winner's state: id=7 stays deleted,
    // ids 5,6,8,9 updated EXACTLY once — no second image of any row
    assert(df.where(col("id") === 7).count() === 0)
    assert(df.where(col("k") === 99).count() === 4)
    assert(df.count() === 99)
    assert(df.select("id").distinct().count() === 99)
  }
}
