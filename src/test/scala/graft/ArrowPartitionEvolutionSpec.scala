package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowHiveLayout, ArrowMaintenance}

/** Partition evolution (round 13): change the hive keys for FUTURE
  * writes metadata-only; existing files stay readable under their own
  * generation, each pruned by its own mechanism (flat files by real
  * manifest stats — the new keys are data columns there; hive files by
  * value-directory discovery). Iceberg's partition-spec-evolution
  * contract over this source's layout declaration. */
class ArrowPartitionEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(from: Long, to: Long) =
    spark.range(from, to).select(col("id"), (col("id") % 4).as("p"),
      sha2(col("id").cast("string"), 256).as("payload"))

  private def rootFiles(dir: String): Set[String] =
    Option(fsOf(dir).globStatus(new Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSet

  private def nestedFiles(dir: String): Set[String] =
    Option(fsOf(dir).globStatus(new Path(dir, "p=*/part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSet

  test("flat -> hive: metadata-only; new appends nest; mixed read exact; BOTH generations prune") {
    val dir = tmp("graft_pevo_fh")
    // flat generation, clustered on p so its per-file stats prune on p
    rows(0, 1000).repartitionByRange(4, col("p"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    val flatBefore = rootFiles(dir)
    assert(flatBefore.nonEmpty)

    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    // metadata-only: nothing moved
    assert(rootFiles(dir) === flatBefore && nestedFiles(dir).isEmpty)

    // new appends nest by the new keys (option-less append defaults to
    // the standing declaration)
    rows(1000, 1200).write.format("arrow-ipc").mode("append").save(dir)
    assert(rootFiles(dir) === flatBefore, "an append landed flat after evolve")
    assert(nestedFiles(dir).nonEmpty, "an append did not nest after evolve")

    val t = spark.read.format("arrow-ipc").load(dir)
    assert(t.count() === 1200L)
    val q = t.filter(col("p") === 2)
    assert(q.count() === 300L)
    // pruning on BOTH generations: the scan keeps 1 of 4 value dirs AND
    // drops flat files whose p-interval refutes (1 of 4 flat files)
    val desc = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(m.isDefined, s"no file-prune report in scan:\n$desc")
    val (keptF, totalF) = (m.get.group(1).toInt, m.get.group(2).toInt)
    assert(keptF < totalF,
      s"mixed-generation scan pruned nothing ($keptF/$totalF):\n$desc")
    val d = "dirs=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(d.isDefined && d.get.group(1).toInt < d.get.group(2).toInt,
      s"hive generation did not dir-prune:\n$desc")
    // the flat generation pruned too: kept = 1 flat file + hive files
    // of 1 value dir
    assert(keptF <= totalF - 3,
      s"flat generation did not stats-prune ($keptF/$totalF)")
    // correctness with the partition column PROJECTED AWAY (flat files
    // carry it in data, hive files on the path)
    assert(t.select(sum(col("id"))).head().getLong(0)
      === (0L until 1200L).sum)
  }

  test("metadata DELETE mid-evolution (flat -> hive) drops the matching files of BOTH generations") {
    val dir = tmp("graft_pevo_fh_delete")
    // the flat -> hive table above: 1000 flat rows clustered on p (each
    // flat file single-valued on p), then 200 nested rows
    rows(0, 1000).repartitionByRange(4, col("p"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows(1000, 1200).write.format("arrow-ipc").mode("append").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    val t = spark.read.format("arrow-ipc").load(dir)
    assert(t.filter(col("p") === 2).count() === 300L)

    spark.sql(s"DELETE FROM graft.`$dir` WHERE p = 2")
    assert(t.filter(col("p") === 2).count() === 0L,
      "the flat generation's p = 2 rows survived the delete")
    assert(t.count() === 900L)
    assert(t.select(sum(col("id"))).head().getLong(0) ===
      (0L until 1200L).filter(_ % 4 != 2).sum)
  }

  test("hive -> flat: new appends land at the root; mixed read exact") {
    val dir = tmp("graft_pevo_hf")
    rows(0, 800).write.format("arrow-ipc")
      .option("hivePartitionKeys", "p").mode("overwrite").save(dir)
    assert(rootFiles(dir).isEmpty)
    ArrowMaintenance.evolvePartitioning(spark, dir, Nil)
    rows(800, 1000).write.format("arrow-ipc").mode("append").save(dir)
    assert(rootFiles(dir).nonEmpty, "post-evolve append did not land flat")
    val t = spark.read.format("arrow-ipc").load(dir)
    assert(t.count() === 1000L)
    assert(t.filter(col("p") === 1).count() === 250L)
    assert(t.select(sum(col("id"))).head().getLong(0) === (0L until 1000L).sum)
  }

  test("hive -> different hive with standing value dirs: both generations read, each pruned by its own keys (round 14)") {
    val dir = tmp("graft_pevo_hh")
    rows(0, 400).withColumn("q", col("id") % 2)
      .write.format("arrow-ipc")
      .option("hivePartitionKeys", "p").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("q"))
    rows(400, 800).withColumn("q", col("id") % 2)
      .write.format("arrow-ipc").mode("append").save(dir)
    // old gen untouched; new appends nest by q
    assert(nestedFiles(dir).nonEmpty)
    assert(Option(fsOf(dir).globStatus(new Path(dir, "q=*/part-*.arrows")))
      .getOrElse(Array.empty).nonEmpty, "post-evolve append did not nest by q")
    val t = spark.read.format("arrow-ipc").load(dir)
    assert(t.count() === 800L)
    assert(t.select(sum(col("id"))).head().getLong(0) === (0L until 800L).sum)
    // a filter on q dir-prunes the q generation AND file-prunes the p
    // generation through its per-file data stats on q
    val qq = t.filter(col("q") === 1)
    assert(qq.count() === 400L)
    val desc = qq.queryExecution.executedPlan.toString
    val d = "dirs=(\\d+)/(\\d+)".r.findFirstMatchIn(desc)
    assert(d.isDefined && d.get.group(1).toInt < d.get.group(2).toInt,
      s"q generation did not dir-prune:\n$desc")
    // CALL face: hive -> flat still works
    spark.sql(s"CALL graft.system.evolve_partitioning('$dir', '')")
    assert(ArrowHiveLayout.read(fsOf(dir), new Path(dir)).isEmpty)
    rows(800, 900).withColumn("q", col("id") % 2)
      .write.format("arrow-ipc").mode("append").save(dir)
    // a manifest-only COUNT would miss a generation — the gate forces an
    // honest scan; the value must still be exact
    assert(spark.read.format("arrow-ipc").load(dir).count() === 900L)
  }

  test("three standing generations (flat, p-hive, q-hive): exact reads, per-generation pruning, MOR delete, cluster unifies (round 14)") {
    val dir = tmp("graft_pevo_3g")
    def rows3(from: Long, to: Long) =
      spark.range(from, to).select(col("id"), (col("id") % 4).as("p"),
        (col("id") % 2).as("q"),
        sha2(col("id").cast("string"), 256).as("payload"))
    // gen 1: FLAT, clustered on p so its per-file stats prune on p
    rows3(0, 400).repartitionByRange(4, col("p"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    // gen 2: p-hive
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows3(400, 800).write.format("arrow-ipc").mode("append").save(dir)
    // gen 3: q-hive — standing p dirs remain
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("q"))
    rows3(800, 1200).write.format("arrow-ipc").mode("append").save(dir)
    assert(ArrowHiveLayout.standingHiveGens(fsOf(dir), new Path(dir))
      === Seq(Seq("p"), Seq("q")))

    val t = spark.read.format("arrow-ipc").load(dir)
    assert(t.count() === 1200L)
    assert(t.select(sum(col("id"))).head().getLong(0) === (0L until 1200L).sum)
    // per-generation pruning, all three mechanisms in ONE scan:
    // filter on p → p-gen dir-prunes, flat gen stats-prunes, q-gen
    // file-prunes through its real data stats on p
    val fp = t.filter(col("p") === 2)
    assert(fp.count() === 300L)
    val descP = fp.queryExecution.executedPlan.toString
    val dP = "dirs=(\\d+)/(\\d+)".r.findFirstMatchIn(descP)
    assert(dP.isDefined && dP.get.group(1).toInt < dP.get.group(2).toInt,
      s"p generation did not dir-prune:\n$descP")
    val mP = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(descP)
    assert(mP.isDefined &&
      mP.get.group(1).toInt < mP.get.group(2).toInt,
      s"file pruning missing on the 3-generation scan:\n$descP")
    // filter on q → q-gen dir-prunes; the others file-prune on q stats
    val fq = t.filter(col("q") === 1)
    assert(fq.count() === 600L)
    val descQ = fq.queryExecution.executedPlan.toString
    val dQ = "dirs=(\\d+)/(\\d+)".r.findFirstMatchIn(descQ)
    assert(dQ.isDefined && dQ.get.group(1).toInt < dQ.get.group(2).toInt,
      s"q generation did not dir-prune:\n$descQ")
    // with the partition columns projected away, every generation still
    // serves its path-borne values
    assert(t.groupBy("p").count().collect().map(_.getLong(1)).sum === 1200L)

    // MOR delete works across generations (positions are per-file)
    val del = graft.sources.ArrowDeleteVectors.deleteMor(
      spark, dir, "id = 5 OR id = 500 OR id = 900")
    assert(del.deletedRows === 3L)
    assert(t.count() === 1197L)

    // streaming reads refuse until unified
    val ckpt = tmp("graft_pevo_3g_ckpt")
    val sq = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("noop").option("checkpointLocation", ckpt).start()
    val se = intercept[Exception] { sq.processAllAvailable() }
    try assert(se.getMessage.contains("unify") ||
      Option(se.getCause).exists(_.getMessage.contains("unify")))
    finally sq.stop()

    // whole-table cluster unifies into the CURRENT (q) layout and
    // collapses the history; content identical
    val before = spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq
    assert(ArrowMaintenance.cluster(spark, dir, Seq("id")).isDefined)
    assert(rootFiles(dir).isEmpty, "cluster left flat-generation files")
    assert(Option(fsOf(dir).globStatus(new Path(dir, "p=*")))
      .getOrElse(Array.empty).isEmpty, "cluster left p-generation dirs")
    assert(ArrowHiveLayout.readGenerations(fsOf(dir), new Path(dir))
      === Seq(Seq("q")))
    assert(spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq === before,
      "cluster unify changed the table's content")
  }

  test("incremental unify_generation: one generation per call, oldest first, reads green mid-drain, streaming resumes after the last (round 15)") {
    val dir = tmp("graft_pevo_unify_inc")
    def rows3(from: Long, to: Long) =
      spark.range(from, to).select(col("id"), (col("id") % 4).as("p"),
        (col("id") % 2).as("q"),
        sha2(col("id").cast("string"), 256).as("payload"))
    // gen 1: flat; gen 2: p-hive; gen 3 (current): q-hive
    rows3(0, 400).repartitionByRange(4, col("p"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows3(400, 800).write.format("arrow-ipc").mode("append").save(dir)
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("q"))
    rows3(800, 1200).write.format("arrow-ipc").mode("append").save(dir)
    // a MOR mask on the flat generation: the drain must FOLD it
    assert(graft.sources.ArrowDeleteVectors.deleteMor(spark, dir, "id = 5")
      .deletedRows === 1L)
    val before = spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq
    assert(before.size === 1199)

    // call 1 drains the OLDEST standing generation — the flat one —
    // into the current q layout; the p generation is NOT touched
    val pDirsBefore = Option(fsOf(dir).globStatus(new Path(dir, "p=*")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSet
    val u1 = ArrowMaintenance.unifyGeneration(spark, dir).get
    assert(u1.drained === Some(Nil) && u1.generationsRemaining === 2)
    assert(u1.oldFiles > 0 && u1.newFiles > 0)
    assert(rootFiles(dir).isEmpty, "flat files remain after their drain")
    assert(Option(fsOf(dir).globStatus(new Path(dir, "p=*")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSet === pDirsBefore,
      "the p generation moved during the flat drain")
    // reads stay green mid-drain: identical content (mask folded)
    assert(spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq === before)
    // still mid-evolution: streaming keeps refusing
    val ckpt1 = tmp("graft_pevo_ui_ck1")
    val sq1 = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("noop").option("checkpointLocation", ckpt1).start()
    val se = intercept[Exception] { sq1.processAllAvailable() }
    try assert(se.getMessage.contains("unify") ||
      Option(se.getCause).exists(_.getMessage.contains("unify")))
    finally sq1.stop()

    // call 2 (the CALL face) drains p-hive — the table is unified
    val r2 = spark.sql(s"CALL graft.system.unify_generation('$dir')").head()
    assert(r2.getString(0) === "p")
    assert(r2.getInt(3) === 1, "table not unified after the last drain")
    assert(Option(fsOf(dir).globStatus(new Path(dir, "p=*")))
      .getOrElse(Array.empty).isEmpty, "drained p value dirs remain")
    assert(ArrowHiveLayout.readGenerations(fsOf(dir), new Path(dir))
      === Seq(Seq("q")))
    assert(spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq === before,
      "incremental unify changed the table's content")
    // streaming resumes on the unified table
    val ckpt2 = tmp("graft_pevo_ui_ck2")
    val sq2 = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("memory").queryName("unify_inc_stream")
      .option("checkpointLocation", ckpt2).start()
    try {
      sq2.processAllAvailable()
      assert(spark.table("unify_inc_stream").count() === 1199L)
    } finally sq2.stop()
    // already unified: the next call is a no-op None
    assert(ArrowMaintenance.unifyGeneration(spark, dir).isEmpty)

    // a declared-but-never-written generation collapses metadata-only
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("q"))
    assert(ArrowHiveLayout.readGenerations(fsOf(dir), new Path(dir)).size === 3)
    val u3 = ArrowMaintenance.unifyGeneration(spark, dir).get
    assert(u3.drained.isEmpty && u3.oldFiles === 0 &&
      u3.generationsRemaining === 1)
  }

  test("byte-bounded partial drain: max_bytes slices a generation across calls; collapse waits for the last slice (round 15)") {
    val dir = tmp("graft_pevo_unify_slice")
    // 6 flat files; tiny max_bytes forces one-file-per-call drains
    rows(0, 600).repartition(6)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows(600, 700).write.format("arrow-ipc").mode("append").save(dir)
    val before = spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq
    val flatCount0 = rootFiles(dir).size
    assert(flatCount0 === 6)

    // slice 1 (API): one file drains, generation stands, content exact
    val u1 = ArrowMaintenance.unifyGeneration(spark, dir, maxBytes = Some(1L)).get
    assert(u1.drained.contains(Nil) && u1.oldFiles === 1 &&
      u1.generationsRemaining === 2, s"unexpected first slice: $u1")
    assert(rootFiles(dir).size === flatCount0 - 1)
    assert(spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq === before)
    // slice 2 (CALL face with max_bytes)
    val r2 = spark.sql(
      s"CALL graft.system.unify_generation('$dir', max_bytes => 1)").head()
    assert(r2.getString(0) === "(flat)" && r2.getInt(1) === 1 &&
      r2.getInt(3) === 2)
    // drain the rest unbounded: collapse happens with the LAST slice
    val uRest = ArrowMaintenance.unifyGeneration(spark, dir).get
    assert(uRest.oldFiles === flatCount0 - 2 &&
      uRest.generationsRemaining === 1)
    assert(rootFiles(dir).isEmpty)
    assert(ArrowHiveLayout.readGenerations(fsOf(dir), new Path(dir))
      === Seq(Seq("p")))
    assert(spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq === before,
      "sliced drain changed the table's content")
  }

  test("unify defers the history collapse while an append is pending (a late commit must find its layout declared)") {
    val dir = tmp("graft_pevo_unify_fence")
    rows(0, 300).repartition(3)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows(300, 400).write.format("arrow-ipc").mode("append").save(dir)
    val before = spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq
    // an append claims to be in flight: the drain proceeds (committed
    // files only) but the collapse is DEFERRED — a write that started
    // under the old layout may still commit into it
    val fs = fsOf(dir)
    graft.sources.ArrowOcc.markPending(fs, new Path(dir), "fence-test")
    try {
      val u = ArrowMaintenance.unifyGeneration(spark, dir).get
      assert(u.drained.contains(Nil) && u.oldFiles === 3)
      assert(u.generationsRemaining === 2,
        "collapse ran despite a pending append")
      assert(spark.read.format("arrow-ipc").load(dir)
        .orderBy("id").collect().toSeq === before)
    } finally graft.sources.ArrowOcc.clearPending(fs, new Path(dir), "fence-test")
    // marker gone: the next call collapses the (now empty) generation
    // metadata-only and the table unifies
    val u2 = ArrowMaintenance.unifyGeneration(spark, dir).get
    assert(u2.drained.isEmpty && u2.generationsRemaining === 1)
    assert(ArrowMaintenance.unifyGeneration(spark, dir).isEmpty)
  }

  test("vacuum's opt-in unify leg drains one generation per nightly run (round 15)") {
    val dir = tmp("graft_pevo_vac_unify")
    rows(0, 300).repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows(300, 500).write.format("arrow-ipc").mode("append").save(dir)
    val before = spark.read.format("arrow-ipc").load(dir)
      .orderBy("id").collect().toSeq
    // default OFF: vacuum leaves the generations alone
    assert(ArrowMaintenance.vacuum(spark, dir).unified.isEmpty)
    assert(ArrowHiveLayout.readGenerations(fsOf(dir), new Path(dir)).size === 2)
    // opted in: one nightly run drains the flat generation and unifies
    spark.conf.set("spark.graft.arrow.vacuumUnifyGenerations", "true")
    try {
      val v = ArrowMaintenance.vacuum(spark, dir)
      assert(v.unified.exists(u =>
        u.drained.contains(Nil) && u.generationsRemaining === 1))
      assert(ArrowHiveLayout.readGenerations(fsOf(dir), new Path(dir))
        === Seq(Seq("p")))
      assert(spark.read.format("arrow-ipc").load(dir)
        .orderBy("id").collect().toSeq === before)
      // already unified: the leg no-ops (None), the sweep still succeeds
      assert(ArrowMaintenance.vacuum(spark, dir).unified.isEmpty)
    } finally spark.conf.unset("spark.graft.arrow.vacuumUnifyGenerations")
  }

  test("whole-table cluster unifies the layout and collapses the generation history") {
    val dir = tmp("graft_pevo_unify")
    rows(0, 600).repartitionByRange(3, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows(600, 800).write.format("arrow-ipc").mode("append").save(dir)
    assert(ArrowHiveLayout.readGenerations(fsOf(dir), new Path(dir)).size === 2)

    assert(ArrowMaintenance.cluster(spark, dir, Seq("id")).isDefined)
    // every row nests now; the flat generation is gone, history collapsed
    assert(rootFiles(dir).isEmpty, "cluster left flat-generation files")
    assert(ArrowHiveLayout.readGenerations(fsOf(dir), new Path(dir))
      === Seq(Seq("p")))
    val t = spark.read.format("arrow-ipc").load(dir)
    assert(t.count() === 800L)
    assert(t.select(sum(col("id"))).head().getLong(0) === (0L until 800L).sum)
  }

  test("collapse fence is generation-targeted (round 16): traffic into the CURRENT generation never defers an old generation's collapse") {
    val dir = tmp("graft_pevo_fence_gen")
    rows(0, 300).repartition(3)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows(300, 400).write.format("arrow-ipc").mode("append").save(dir)
    val fs = fsOf(dir)
    // an append into the CURRENT generation is in flight — exactly the
    // continuous-ingest shape that starved the round-15 global fence
    // (generations_remaining stuck > 1 until the operator quiesced)
    graft.sources.ArrowOcc.markPending(fs, new Path(dir), "cur-traffic",
      Some(Seq("p")))
    try {
      val u = ArrowMaintenance.unifyGeneration(spark, dir).get
      assert(u.drained.contains(Nil) && u.generationsRemaining === 1,
        s"current-generation traffic deferred the collapse: $u")
      assert(ArrowHiveLayout.readGenerations(fs, new Path(dir))
        === Seq(Seq("p")))
    } finally {
      graft.sources.ArrowOcc.clearPending(fs, new Path(dir), "cur-traffic")
      // the simulated append never commits, so restore the read latch
      // it held down (what its commit tail would have done)
      graft.sources.ArrowOcc.withCommitLock(fs, new Path(dir)) {
        graft.sources.ArrowOcc.restoreLatch(fs, new Path(dir))
      }
    }
    assert(spark.read.format("arrow-ipc").load(dir).count() === 400L)
  }

  test("a marker targeting the DRAINED generation defers exactly its collapse; the recorded target round-trips (round 16)") {
    val dir = tmp("graft_pevo_fence_tgt")
    rows(0, 300).repartition(3)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows(300, 400).write.format("arrow-ipc").mode("append").save(dir)
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    // a write that STARTED under the old (flat) layout is still in
    // flight: its marker records flat as the target
    graft.sources.ArrowOcc.markPending(fs, dirPath, "old-writer", Some(Nil))
    assert(graft.sources.ArrowOcc.livePendingTargets(fs, dirPath)
      .contains(Some(Nil)), "the marker's recorded target did not round-trip")
    try {
      val u = ArrowMaintenance.unifyGeneration(spark, dir).get
      assert(u.drained.contains(Nil) && u.oldFiles === 3 &&
        u.generationsRemaining === 2,
        s"collapse ran despite a marker targeting the drained generation: $u")
    } finally graft.sources.ArrowOcc.clearPending(fs, dirPath, "old-writer")
    // marker gone: the next call collapses the emptied generation
    val u2 = ArrowMaintenance.unifyGeneration(spark, dir).get
    assert(u2.drained.isEmpty && u2.generationsRemaining === 1)
  }

  test("a legacy (target-less) marker defers every collapse while LIVE, and unblocks by aging alone (round 17)") {
    val dir = tmp("graft_pevo_fence_legacy")
    rows(0, 300).repartition(3)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    rows(300, 400).write.format("arrow-ipc").mode("append").save(dir)
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    // a crashed PRE-round-16 writer's marker: zero-length, no recorded
    // target — unknown destination, so the fence must block EVERY
    // generation's collapse while the marker counts as live
    graft.sources.ArrowOcc.markPending(fs, dirPath, "legacy-crashed")
    try {
      val u = ArrowMaintenance.unifyGeneration(spark, dir).get
      assert(u.drained.contains(Nil) && u.generationsRemaining === 2,
        s"collapse ran under a live legacy marker: $u")
      // the liveness BOUND: the marker is never cleared or swept here —
      // once its mtime ages past pendingStaleMs the fence's own filter
      // stops counting it, so a crashed legacy writer starves collapses
      // for at most one pending-liveness window
      spark.conf.set("spark.graft.arrow.pendingStaleMs", "400")
      Thread.sleep(500)
      val u2 = ArrowMaintenance.unifyGeneration(spark, dir).get
      assert(u2.drained.isEmpty && u2.generationsRemaining === 1,
        s"an AGED legacy marker still deferred the collapse: $u2")
      assert(fs.exists(new Path(dir, "_pending-legacy-crashed")),
        "the unblock must come from aging, not from a sweep")
    } finally {
      spark.conf.unset("spark.graft.arrow.pendingStaleMs")
      graft.sources.ArrowOcc.clearPending(fs, dirPath, "legacy-crashed")
      graft.sources.ArrowOcc.withCommitLock(fs, dirPath) {
        graft.sources.ArrowOcc.restoreLatch(fs, dirPath)
      }
    }
    assert(spark.read.format("arrow-ipc").load(dir).count() === 400L)
  }

  test("a streaming sink ADAPTS to a between-epoch evolve and REFUSES an intra-epoch one (round 16)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_pevo_sguard").toString
    val out = s"$base/out"
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("id", "p")
      .writeStream.format("arrow-ipc")
      .option("checkpointLocation", s"$base/ckpt")
      .start(out) // option-less: each epoch inherits the standing layout
    try {
      in.addData((1L, 1L), (2L, 2L))
      q.processAllAvailable()
      assert(spark.read.format("arrow-ipc").load(out).count() === 2L)
      // BETWEEN epochs: the per-batch write factory re-reads the
      // standing declaration, so the next epoch nests by the new keys —
      // the stream feeds the CURRENT generation, never the old one
      ArrowMaintenance.evolvePartitioning(spark, out, Seq("p"))
      in.addData((3L, 3L))
      q.processAllAvailable()
      assert(spark.read.format("arrow-ipc").load(out).count() === 3L)
      assert(nestedFiles(out).nonEmpty,
        "the post-evolve epoch did not nest by the new keys")
      // INSIDE an epoch (factory planned, commit not yet run — injected
      // via the test seam): the epoch targets a layout that is no longer
      // current; the commit guard must fail the batch loudly, never
      // record files under a non-current generation
      graft.sources.ArrowIpcStreamingWrite.beforeCommitHook = () =>
        ArrowMaintenance.evolvePartitioning(spark, out, Seq("id"))
      try {
        in.addData((4L, 4L))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        def messages(t: Throwable): Seq[String] =
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .flatMap(x => Option(x.getMessage)).toSeq
        assert(messages(e).exists(_.contains("evolved its hive layout")),
          s"unexpected failure: ${messages(e).mkString(" | ")}")
      } finally
        graft.sources.ArrowIpcStreamingWrite.beforeCommitHook = () => ()
    } finally q.stop()
    // the refused epoch's rows never became visible
    assert(spark.read.format("arrow-ipc").load(out).count() === 3L)
  }
}
