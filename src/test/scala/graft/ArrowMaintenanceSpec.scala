package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowFileStats, ArrowInterchange, ArrowMaintenance}

/** Compaction of arrow-ipc directories: small files merge into ~target-
  * sized ones under a crash-safe swap (the `_SUCCESS` latch + an
  * idempotent intent replay). */
class ArrowMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partFiles(dir: String): Seq[String] =
    Option(fsOf(dir).globStatus(new org.apache.hadoop.fs.Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSeq.sorted

  test("eight small appends compact to one file; data, stats, and pruning survive") {
    val dir = tmp("graft_compact")
    (0 until 8).foreach { i =>
      spark.range(i * 100, (i + 1) * 100)
        .select(col("id"), concat(lit("v"), col("id")).as("v"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    assert(partFiles(dir).size === 8)

    val res = ArrowMaintenance.compact(spark, dir).get
    assert(res.oldFiles === 8 && res.newFiles === 1)
    assert(partFiles(dir).size === 1)

    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 800)
    assert(back.agg(min("id"), max("id")).head() ===
      org.apache.spark.sql.Row(0L, 799L))

    // the merged manifest covers exactly the compacted file, and the
    // stats still prune: an impossible range reads zero files
    val stats = ArrowFileStats.read(fsOf(dir), new org.apache.hadoop.fs.Path(dir))
    assert(stats.keySet === partFiles(dir).toSet)
    val q0 = spark.read.format("arrow-ipc").load(dir).filter(col("id") > 100000)
    assert(q0.count() === 0)

    // nothing left to do: a second compact is a no-op
    assert(ArrowMaintenance.compact(spark, dir).isEmpty)
    // staging/intent artifacts are gone
    assert(!new java.io.File(dir, "_compaction.json").exists)
    assert(new java.io.File(dir).listFiles.forall(!_.getName.startsWith(".compact-")))
  }

  test("a crash mid-swap leaves the directory refusing reads; recover() completes it") {
    val dir = tmp("graft_compact_crash")
    (0 until 4).foreach { i =>
      spark.range(i * 50, (i + 1) * 50).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    val olds = partFiles(dir)

    // reproduce the state right after swap step (b): staged dataset ready,
    // intent recorded, live marker dropped — then the process "dies"
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val staging = ".compact-testcrash"
    ArrowInterchange.writeStream(
      spark.read.format("arrow-ipc").load(dir).coalesce(1),
      new org.apache.hadoop.fs.Path(dirPath, staging).toString)
    val staged = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dirPath, staging), "part-*.arrows")))
      .get.map(_.getPath.getName)
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      olds, staging,
      staged.map(s => s -> s.replace(".arrows", "-compact-testcrash.arrows")).toMap))
    fs.delete(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS"), false)

    // mid-swap: reads refuse loudly instead of serving old+new rows
    val e = intercept[Exception] {
      spark.read.format("arrow-ipc").load(dir).count()
    }
    assert(e.getMessage.contains("_SUCCESS") ||
      Option(e.getCause).exists(_.getMessage.contains("_SUCCESS")))

    // recovery replays the intent to completion
    assert(ArrowMaintenance.recover(spark, dir))
    assert(partFiles(dir) === Seq("part-00000-compact-testcrash.arrows"))
    assert(spark.read.format("arrow-ipc").load(dir).count() === 200)
    // replay is idempotent: a second recover finds nothing pending
    assert(!ArrowMaintenance.recover(spark, dir))
  }

  test("a commit never overwrites a pending commit record") {
    val dir = tmp("graft_compact_pending")
    spark.range(0, 100).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val intentPath = new org.apache.hadoop.fs.Path(dirPath, ArrowMaintenance.IntentFile)
    // a record whose replay refuses: its staged file is gone without
    // reaching its final name, so it stays for a human
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      staging = ".compact-lost",
      moves = Map("part-lost.arrows" -> "part-lost-compact-lost.arrows")))
    fs.delete(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS"), false)
    val pending = ArrowFileStats.readFully(fs, intentPath)
    intercept[IllegalStateException] { ArrowMaintenance.recover(spark, dir) }
    // a merge-on-read delete commits without recovering first: it loses,
    // and neither overwrites the record nor raises the latch
    val file = fs.makeQualified(new org.apache.hadoop.fs.Path(dir,
      partFiles(dir).head)).toString
    intercept[graft.sources.ArrowOcc.CommitConflictException] {
      graft.sources.ArrowDeleteVectors.commitDeletes(spark, dir,
        Array(file -> Array(0L)))
    }
    assert(ArrowFileStats.readFully(fs, intentPath) === pending)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS")))
  }

  test("lineage survives chained compactions; covered/touches resolve transitively") {
    val dir = tmp("graft_compact_lineage")
    (0 until 4).foreach { i =>
      spark.range(i * 10, (i + 1) * 10).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    val gen0 = partFiles(dir)
    ArrowMaintenance.compact(spark, dir)
    val gen1 = partFiles(dir)
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val l1 = ArrowMaintenance.readLineage(fs, dirPath)
    assert(l1.keySet === gen1.toSet)
    assert(l1.values.forall(_ === gen0.sorted))

    // chain a second generation: two more appends, compact again
    (4 until 6).foreach { i =>
      spark.range(i * 10, (i + 1) * 10).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    val appends = partFiles(dir).filterNot(gen1.toSet)
    ArrowMaintenance.compact(spark, dir)
    val gen2 = partFiles(dir)
    val l2 = ArrowMaintenance.readLineage(fs, dirPath)
    // append-only: generation-1 entries are still present
    assert(l1.toSet.subsetOf(l2.toSet))
    assert(l2(gen2.head).sorted === (gen1 ++ appends).sorted)

    // a consumer that saw all ORIGINAL leaves (gen0 + appends) covers gen2
    // through the gen1 hop it never observed directly
    val leafSeen = (gen0 ++ appends).toSet
    assert(ArrowMaintenance.covered(l2, leafSeen, gen2.head))
    // a consumer that saw only gen1's name (started between compactions)
    // also covers gen2 once the appends are seen…
    assert(ArrowMaintenance.covered(l2, gen1.toSet ++ appends, gen2.head))
    // …but NOT while an append is missing: that is the poisoned middle
    val partial = gen1.toSet ++ appends.drop(1)
    assert(!ArrowMaintenance.covered(l2, partial, gen2.head))
    assert(ArrowMaintenance.touches(l2, partial, gen2.head))
    // and a consumer that saw nothing neither covers nor touches
    assert(!ArrowMaintenance.touches(l2, Set.empty, gen2.head))

    assert(spark.read.format("arrow-ipc").load(dir).count() === 60)
  }

  private def nestedFiles(dir: String): Seq[String] =
    graft.sources.ArrowSnapshots.listDataFiles(
      fsOf(dir), new org.apache.hadoop.fs.Path(dir)).sorted

  test("a hive layout compacts per value directory; data, pruning, history survive") {
    val dir = tmp("graft_compact_hive")
    // three appends → three generations of small files per value dir
    (0 until 3).foreach { i =>
      spark.range(i * 90, (i + 1) * 90)
        .select((col("id") % 3).cast("string").as("k"), col("id"),
          concat(lit("v"), col("id")).as("v"))
        .coalesce(1).write.format("arrow-ipc").mode(
          if (i == 0) "overwrite" else "append")
        .option("hivePartitionKeys", "k").save(dir)
    }
    val before = nestedFiles(dir)
    assert(before.size === 9 && before.forall(_.startsWith("k=")))

    val res = ArrowMaintenance.compact(spark, dir).get
    assert(res.oldFiles === 9)
    val after = nestedFiles(dir)
    assert(after.size < before.size)
    // compacted files stay nested under their value dirs, one per dir here
    assert(after.forall(r => r.startsWith("k=") && r.contains("-compact-")))
    assert(after.map(_.split('/').head).distinct.sorted === Seq("k=0", "k=1", "k=2"))

    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 270)
    assert(back.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("0" -> 90L, "1" -> 90L, "2" -> 90L))
    // directory-grain pruning still works (one value dir read)
    assert(back.filter(col("k") === "1").count() === 90)
    // the manifest covers exactly the compacted files (bare names)
    val stats = ArrowFileStats.read(fsOf(dir), new org.apache.hadoop.fs.Path(dir))
    assert(stats.keySet === after.map(_.split('/').last).toSet)
    // time travel: the pre-compaction snapshot reads back from the trash
    val snaps = graft.sources.ArrowSnapshots.read(
      fsOf(dir), new org.apache.hadoop.fs.Path(dir))
    val preCompact = snaps(snaps.length - 2).id
    val old = spark.read.format("arrow-ipc")
      .option("asOfSnapshot", preCompact).load(dir)
    assert(old.count() === 270)
    // every value dir now holds one file: a second compact is a no-op
    assert(ArrowMaintenance.compact(spark, dir).isEmpty)
    assert(!new java.io.File(dir, "_compaction.json").exists)
  }

  test("hive compaction is incremental: single-file value dirs are untouched") {
    val dir = tmp("graft_compact_hive_incr")
    // dir a accumulates 3 files; dir b gets exactly 1
    Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .coalesce(1).write.format("arrow-ipc").mode("overwrite")
      .option("hivePartitionKeys", "k").save(dir)
    (0 until 2).foreach { i =>
      Seq(("a", 10L + i)).toDF("k", "v")
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    val before = nestedFiles(dir)
    assert(before.count(_.startsWith("k=a/")) === 3)
    val bFile = before.filter(_.startsWith("k=b/"))
    assert(bFile.size === 1)

    val res = ArrowMaintenance.compact(spark, dir).get
    // only dir a's files were rewritten
    assert(res.oldFiles === 3)
    val after = nestedFiles(dir)
    assert(after.filter(_.startsWith("k=b/")) === bFile) // byte-identical name
    assert(after.count(_.startsWith("k=a/")) === 1)
    assert(after.find(_.startsWith("k=a/")).get.contains("-compact-"))
    // b's file was neither trashed nor re-logged: the snapshot delta
    // names only dir a's files
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val last = graft.sources.ArrowSnapshots.read(fs, dirPath).last
    assert(last.removes.toSet === before.filter(_.startsWith("k=a/")).toSet)
    assert(!fs.exists(graft.sources.ArrowSnapshots.trashPath(dirPath, bFile.head)))
    // data intact
    assert(spark.read.format("arrow-ipc").load(dir)
      .groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("a" -> 3L, "b" -> 1L))
  }

  test("hive compaction absorbs into a drained stream; a partial drain poisons") {
    val dir = tmp("graft_compact_hive_stream")
    (0 until 2).foreach { i =>
      spark.range(i * 20, (i + 1) * 20)
        .select((col("id") % 2).cast("string").as("k"), col("id"))
        .coalesce(1).write.format("arrow-ipc").mode(
          if (i == 0) "overwrite" else "append")
        .option("hivePartitionKeys", "k").save(dir)
    }
    val ckpt = tmp("graft_compact_hive_stream_ckpt")
    def drain(name: String): Long = {
      val q = spark.readStream.format("arrow-ipc").load(dir)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name).count()
    }
    // the memory sink cannot recover a checkpoint, so seed the offset by
    // hand: drain once WITHOUT a checkpoint, then verify absorption via
    // the stream internals (the same covered() path the source runs)
    assert(drain("hive_absorb_seed") === 40)
    ArrowMaintenance.compact(spark, dir).get
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val lineage = ArrowMaintenance.readLineage(fs, dirPath)
    val compacted = nestedFiles(dir).map(_.split('/').last)
    // lineage is keyed by BARE names on both sides — the streaming
    // source's offset vocabulary
    assert(lineage.keySet === compacted.toSet)
    assert(lineage.values.flatten.toSet.forall(n => !n.contains("/")))
    val seenAll = lineage.values.flatten.toSet
    assert(compacted.forall(ArrowMaintenance.covered(lineage, seenAll, _)))
    // a consumer that saw only part of the olds is poisoned, not silent
    val partial = seenAll.drop(1)
    assert(compacted.exists(c => ArrowMaintenance.touches(lineage, partial, c)
      && !ArrowMaintenance.covered(lineage, partial, c)))
  }

  private def prunedFiles(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val desc = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.mkString("\n")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).getOrElse(
      sys.error(s"no file-pruning scan in plan:\n$desc"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("cluster: a hash-ordered flat layout turns range-prunable") {
    val dir = tmp("graft_cluster_flat")
    // hash layout: every file's id interval spans ~the whole domain
    spark.range(0, 4000).select(col("id"), (col("id") % 97).as("v"))
      .repartition(4, col("v"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    def narrow() = spark.read.format("arrow-ipc").load(dir)
      .filter(col("id") >= 100 && col("id") < 200)
    val (k0, n0) = prunedFiles(narrow())
    assert(n0 === 4 && k0 === 4) // nothing prunable before

    val res = ArrowMaintenance.cluster(spark, dir, Seq("id"), targetBytes = 16 << 10).get
    assert(res.oldFiles === 4 && res.newFiles > 1)
    val (k1, n1) = prunedFiles(narrow())
    assert(n1 === res.newFiles && k1 < n1,
      s"clustering must make the range prunable, got files=$k1/$n1")
    assert(narrow().count() === 100)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 4000)
    // rows only moved: lineage lets a drained stream absorb the rewrite
    val lineage = ArrowMaintenance.readLineage(fsOf(dir),
      new org.apache.hadoop.fs.Path(dir))
    assert(lineage.nonEmpty)
  }

  test("compact and cluster re-derive standing bloom filters (flat layout)") {
    val dir = tmp("graft_compact_bloom")
    (0 until 2).foreach { i =>
      spark.range(i * 100, (i + 1) * 100)
        .select(col("id"), concat(lit("d"), col("id")).as("digest"))
        .coalesce(1).write.format("arrow-ipc")
        .option("bloomColumns", "digest")
        .mode(if (i == 0) "overwrite" else "append").save(dir)
    }
    def bloomCols(): Set[String] =
      ArrowFileStats.read(fsOf(dir), new org.apache.hadoop.fs.Path(dir))
        .values.flatMap(_.cols.collect {
          case (c, s) if s.bloom.isDefined => c }).toSet
    assert(bloomCols() === Set("digest"))
    ArrowMaintenance.compact(spark, dir).get
    assert(bloomCols() === Set("digest"), "compaction dropped the bloom")
    ArrowMaintenance.cluster(spark, dir, Seq("id")).get
    assert(bloomCols() === Set("digest"), "clustering dropped the bloom")
  }

  test("cluster: hive layouts sort within value dirs; partition keys refuse") {
    val dir = tmp("graft_cluster_hive")
    spark.range(0, 1000)
      .select((col("id") % 2).cast("string").as("k"), col("id"),
        (col("id") * 37 % 1000).as("v"))
      .repartition(3)
      .write.format("arrow-ipc").mode("overwrite")
      .option("hivePartitionKeys", "k").save(dir)
    def narrow() = spark.read.format("arrow-ipc").load(dir)
      .filter(col("v") >= 100 && col("v") < 150)
    val (k0, n0) = prunedFiles(narrow())
    assert(k0 === n0) // v is scattered: nothing prunable

    // small target → several files per value dir, each a disjoint v-range
    val res = ArrowMaintenance.cluster(spark, dir, Seq("v"), targetBytes = 4 << 10).get
    val (k1, n1) = prunedFiles(narrow())
    assert(k1 < n1, s"expected v-range pruning after cluster, files=$k1/$n1")
    assert(spark.read.format("arrow-ipc").load(dir).count() === 1000)
    assert(narrow().count() ===
      spark.range(0, 1000).filter(col("id") * 37 % 1000 >= 100 &&
        col("id") * 37 % 1000 < 150).count())
    assert(nestedFiles(dir).forall(_.startsWith("k=")))
    // clustering by the partition key is meaningless and refuses
    val e = intercept[IllegalArgumentException] {
      ArrowMaintenance.cluster(spark, dir, Seq("k"))
    }
    assert(e.getMessage.contains("partition key"))
  }

  test("clusterZOrdered makes BOTH dimensions prunable; lexicographic only one") {
    val dir = tmp("graft_cluster_z")
    // a 64x64 grid, hash-scattered: neither dimension prunes
    spark.range(0, 4096)
      .select((col("id") % 64).as("a"), (col("id") / 64).as("b"),
        col("id").as("v"))
      .repartition(4, col("v"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    def onA() = spark.read.format("arrow-ipc").load(dir)
      .filter(col("a") < 8)
    def onB() = spark.read.format("arrow-ipc").load(dir)
      .filter(col("b") < 8)
    assert(prunedFiles(onA()) === ((4, 4)))
    assert(prunedFiles(onB()) === ((4, 4)))

    val res = ArrowMaintenance.clusterZOrdered(spark, dir, "a", "b",
      bits = 6, targetBytes = 8 << 10).get
    assert(res.newFiles > 4)
    val (ka, na) = prunedFiles(onA())
    val (kb, nb) = prunedFiles(onB())
    assert(ka < na, s"z-order must prune on a: files=$ka/$na")
    assert(kb < nb, s"z-order must prune on b: files=$kb/$nb")
    // data intact, synthetic column gone
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.columns.toSeq === Seq("a", "b", "v"))
    assert(back.count() === 4096)
    assert(onA().count() === 8 * 64)
    assert(onB().count() === 8 * 64)
    // refusals: non-numeric and colliding names
    val e = intercept[IllegalArgumentException] {
      ArrowMaintenance.clusterZOrdered(spark, dir, "a", "missing")
    }
    assert(e.getMessage.contains("missing"))
  }

  test("clusterZOrderedN interleaves date and timestamp dimensions by their ordinals") {
    val dir = tmp("graft_cluster_zdt")
    // 64 days × 64 hour-slots, hash-scattered: neither dimension prunes
    spark.range(0, 4096)
      .select(
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          (col("id") % 64).cast("int")).as("d"),
        (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("timestamp")
          + make_dt_interval(lit(0), (col("id") / 64).cast("int"))).as("ts"),
        col("id").as("v"))
      .repartition(4, col("v"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    def onD() = spark.read.format("arrow-ipc").load(dir)
      .filter(col("d") < lit(java.sql.Date.valueOf("2024-01-09")))
    def onT() = spark.read.format("arrow-ipc").load(dir)
      .filter(col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-01 08:00:00")))
    assert(prunedFiles(onD()) === ((4, 4)))
    assert(prunedFiles(onT()) === ((4, 4)))
    ArrowMaintenance.clusterZOrderedN(spark, dir, Seq("d", "ts"),
      bits = 6, targetBytes = 8 << 10).get
    val (kd, nd) = prunedFiles(onD())
    val (kt, nt) = prunedFiles(onT())
    assert(kd < nd, s"z-order must prune on the date dim: files=$kd/$nd")
    assert(kt < nt, s"z-order must prune on the timestamp dim: files=$kt/$nt")
    assert(onD().count() === 8 * 64)
    assert(onT().count() === 8 * 64)
    // a string dimension still refuses
    val e = intercept[IllegalArgumentException] {
      ArrowMaintenance.clusterZOrderedN(spark,
        { val d2 = tmp("graft_cluster_zs")
          spark.range(4).select(col("id"), col("id").cast("string").as("s"))
            .write.format("arrow-ipc").mode("overwrite").save(d2); d2 },
        Seq("id", "s"))
    }
    assert(e.getMessage.contains("needs numeric, date, or timestamp"))
  }

  test("vacuum: one pass finishes swaps, sweeps dead litter, expires history") {
    val dir = tmp("graft_vacuum")
    (0 until 3).foreach { i =>                       // snapshots 1..3
      spark.range(i * 50, (i + 1) * 50).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    ArrowMaintenance.compact(spark, dir).get         // snapshot 4
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    // litter: a dead staging dir, a dead stream orphan, a dead task temp
    fs.mkdirs(new org.apache.hadoop.fs.Path(dirPath, ".compact-deadrun"))
    val orphan = new org.apache.hadoop.fs.Path(dirPath,
      "part-00000-e9-99999999-9999-9999-9999-999999999999.arrows")
    fs.create(orphan, true).close()
    graft.sources.ArrowStreamCommits.ensure(fs, dirPath)
    fs.create(new org.apache.hadoop.fs.Path(dirPath,
      ".part-00001.arrows.task-7.tmp"), true).close()
    // young litter must SURVIVE a default-window vacuum...
    val r0 = ArrowMaintenance.vacuum(spark, dir)
    assert(r0.stagingSwept === 0 && r0.orphansSwept === 0 && r0.expired.isEmpty)
    // ...and die once stale (window collapsed), while history before
    // snapshot 4 expires in the same pass
    spark.conf.set("spark.graft.arrow.occStaleMs", "-1")
    val r = try ArrowMaintenance.vacuum(spark, dir, keepFrom = Some(4L))
      finally spark.conf.unset("spark.graft.arrow.occStaleMs")
    assert(r.stagingSwept === 1)
    // the stream orphan counts here; the task temp was claimed by the
    // atomic-write temp sweep that runs first (either way it is gone)
    assert(r.orphansSwept === 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dirPath,
      ".part-00001.arrows.task-7.tmp")))
    assert(r.expired.get.dropped === 3)
    assert(!fs.exists(orphan))
    // the directory still reads whole, expired travel refuses loudly
    assert(spark.read.format("arrow-ipc").load(dir).count() === 150)
    intercept[Exception] {
      spark.read.format("arrow-ipc").option("asOfSnapshot", 2).load(dir).count()
    }
  }

  test("vacuum auto-compacts small-file debt only when opted in; live eq tombstones skip the leg") {
    val dir = tmp("graft_vacuum_autocompact")
    (0 until 12).foreach { i => // 12 tiny appends = the ingest-loop debt
      spark.range(i * 50, (i + 1) * 50).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    // default: OFF — compaction rewrites data, so it is opt-in
    assert(ArrowMaintenance.vacuum(spark, dir).compacted.isEmpty)
    assert(partFiles(dir).size === 12)
    try {
      spark.conf.set("spark.graft.arrow.vacuumCompactMinSmallFiles", "10")
      // live tombstone (below the auto-fold count threshold... so force
      // the fold legs off) — the compact leg must SKIP, not refuse
      spark.conf.set("spark.graft.arrow.vacuumFoldEqAbove", "0")
      spark.conf.set("spark.graft.arrow.vacuumFoldEqKeysAbove", "0")
      graft.sources.ArrowEqualityDeletes.upsertBatch(spark, dir, "id",
        spark.range(5000, 5003).coalesce(1).select(col("id")))
      assert(ArrowMaintenance.vacuum(spark, dir).compacted.isEmpty)
      // fold the debt away; now the opted-in vacuum compacts
      graft.sources.ArrowEqualityDeletes.fold(spark, dir)
      val r = ArrowMaintenance.vacuum(spark, dir)
      assert(r.compacted.exists(_.oldFiles >= 10))
      assert(partFiles(dir).size < 12)
      assert(spark.read.format("arrow-ipc").load(dir).count() === 603L)
      // below the threshold afterwards: the leg no-ops
      assert(ArrowMaintenance.vacuum(spark, dir).compacted.isEmpty)
    } finally {
      spark.conf.unset("spark.graft.arrow.vacuumCompactMinSmallFiles")
      spark.conf.unset("spark.graft.arrow.vacuumFoldEqAbove")
      spark.conf.unset("spark.graft.arrow.vacuumFoldEqKeysAbove")
    }
  }

  test("a crash BEFORE the marker drop (intent recorded, marker up) also recovers") {
    val dir = tmp("graft_compact_crash2")
    (0 until 3).foreach { i =>
      spark.range(i * 50, (i + 1) * 50).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    val olds = partFiles(dir)
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val staging = ".compact-premark"
    ArrowInterchange.writeStream(
      spark.read.format("arrow-ipc").load(dir).coalesce(1),
      new org.apache.hadoop.fs.Path(dirPath, staging).toString)
    val staged = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dirPath, staging), "part-*.arrows")))
      .get.map(_.getPath.getName)
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      olds, staging,
      staged.map(s => s -> s.replace(".arrows", "-compact-premark.arrows")).toMap))
    // marker still present — the crash happened before the latch dropped;
    // recover must take the latch itself before moving anything
    assert(fs.exists(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS")))

    assert(ArrowMaintenance.recover(spark, dir))
    assert(partFiles(dir) === Seq("part-00000-compact-premark.arrows"))
    assert(spark.read.format("arrow-ipc").load(dir).count() === 150)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS")))
  }

  /** (SQL executions reported, jobs run outside any execution) while
    * `body` runs on this thread. */
  private def executionsOf(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    def settle(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(30000L))
    }
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val bare = new java.util.concurrent.atomic.AtomicInteger
    val group = s"staging-${java.util.UUID.randomUUID}"
    val onExec = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        execs.incrementAndGet()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = execs.incrementAndGet()
    }
    val onJob = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group &&
            e.properties.getProperty("spark.sql.execution.id") == null)
          bare.incrementAndGet()
    }
    settle()
    spark.listenerManager.register(onExec)
    sc.addSparkListener(onJob)
    sc.setJobGroup(group, "staging executions")
    try body
    finally {
      sc.clearJobGroup()
      settle()
      spark.listenerManager.unregister(onExec)
      sc.removeSparkListener(onJob)
    }
    (execs.get, bare.get)
  }

  test("flat and hive compactions stage under exactly one SQL execution") {
    val flat = tmp("graft_compact_exec_flat")
    val hive = tmp("graft_compact_exec_hive")
    (0 until 3).foreach { i =>
      val rows = spark.range(i * 60, (i + 1) * 60)
        .select((col("id") % 2).cast("string").as("k"), col("id"))
        .coalesce(1)
      val mode = if (i == 0) "overwrite" else "append"
      rows.write.format("arrow-ipc").mode(mode).save(flat)
      rows.write.format("arrow-ipc").mode(mode)
        .option("hivePartitionKeys", "k").save(hive)
    }
    Seq(flat, hive).foreach { dir =>
      val (execs, bare) = executionsOf {
        assert(ArrowMaintenance.compact(spark, dir).isDefined)
      }
      assert((execs, bare) === ((1, 0)), s"executions, bare jobs on $dir")
      assert(spark.read.format("arrow-ipc").load(dir).count() === 180)
    }
  }

  test("a directory torn by a crashed append is refused, never swapped in") {
    val dir = tmp("graft_compact_torn")
    (0 until 3).foreach { i =>
      spark.range(i * 50, (i + 1) * 50).toDF("id").coalesce(1)
        .write.format("arrow-ipc").mode("append").save(dir)
    }
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    // what a crashed batch append leaves: its files in place, the latch
    // down, no intent, and its pending marker gone stale (so it hides
    // nothing and the gate stays closed)
    fs.delete(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS"), false)
    graft.sources.ArrowOcc.markPending(fs, dirPath, "q-crashed")
    fs.setTimes(new org.apache.hadoop.fs.Path(dirPath, "_pending-q-crashed"),
      0L, -1L)
    val before = partFiles(dir)
    spark.conf.set("spark.graft.arrow.readGateWaitMs", "100")
    try {
      Seq[() => Any](
        () => ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20),
        () => ArrowMaintenance.cluster(spark, dir, Seq("id"))
      ).foreach { op =>
        val e = intercept[Exception](op())
        assert(e.getMessage.contains("refusing to read partial data"))
        assert(!fs.exists(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS")))
        assert(partFiles(dir) === before)
      }
    } finally spark.conf.unset("spark.graft.arrow.readGateWaitMs")
    // a gate that opens within the wait is waited out: the staging
    // re-lists and the compaction goes through
    val restorer = new Thread(() => {
      Thread.sleep(500)
      graft.sources.ArrowOcc.restoreLatch(fs, dirPath)
    })
    restorer.start()
    val res = ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
    restorer.join()
    assert(res.exists(_.oldFiles == 3))
    assert(spark.read.format("arrow-ipc").load(dir).count() === 150)
  }
}
