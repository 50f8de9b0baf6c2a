package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowMaintenance, ArrowOcc}

/** Optimistic concurrency for arrow-ipc directory commits: staging is
  * lock-free, commits serialize through the `_commit.lock` claim, and
  * remove-carrying commits validate their replaced files are still live
  * — losers retry (maintenance) or refuse (DML). The headline scenario
  * is the round-9 verdict's "done" criterion: a streaming sink racing a
  * concurrent compact() on one directory, both outcomes serializable,
  * zero lost rows, lineage intact. */
class ArrowOccSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ── the lock primitive ──────────────────────────────────────────────

  test("withCommitLock serializes a non-atomic read-modify-write across threads") {
    val dir = tmp("graft_occ_lock")
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    fs.mkdirs(dirPath)
    val counter = new Path(dirPath, "_counter")
    def readCount(): Int =
      if (!fs.exists(counter)) 0
      else {
        val in = fs.open(counter)
        try new String(in.readAllBytes()).trim.toInt finally in.close()
      }
    val threads = (0 until 8).map { _ =>
      new Thread(() => (0 until 25).foreach { _ =>
        ArrowOcc.withCommitLock(fs, dirPath) {
          val n = readCount()
          Thread.sleep(0, 100000) // widen the lost-update window
          val out = fs.create(counter, true)
          try out.write((n + 1).toString.getBytes) finally out.close()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(readCount() === 200) // any lost update would read < 200
    assert(!fs.exists(new Path(dirPath, ArrowOcc.LockFile)))
  }

  test("withCommitLock is reentrant within a thread") {
    val dir = tmp("graft_occ_reenter")
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    val got = ArrowOcc.withCommitLock(fs, dirPath) {
      ArrowOcc.withCommitLock(fs, dirPath) { 42 }
    }
    assert(got === 42)
    assert(!fs.exists(new Path(dirPath, ArrowOcc.LockFile)))
  }

  test("a dead holder's stale lock is broken; a fresh one is honored") {
    val dir = tmp("graft_occ_stale")
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    fs.mkdirs(dirPath)
    fs.create(new Path(dirPath, ArrowOcc.LockFile), true).close()
    // fresh lock + tiny timeout: acquisition must time out loudly
    spark.conf.set("spark.graft.arrow.occTimeoutMs", "300")
    try {
      intercept[java.io.IOException] {
        ArrowOcc.withCommitLock(fs, dirPath) { fail("must not acquire") }
      }
    } finally spark.conf.unset("spark.graft.arrow.occTimeoutMs")
    // stale window collapsed to zero: the same lock now breaks
    spark.conf.set("spark.graft.arrow.occStaleMs", "0")
    try {
      val got = ArrowOcc.withCommitLock(fs, dirPath) { 7 }
      assert(got === 7)
    } finally spark.conf.unset("spark.graft.arrow.occStaleMs")
  }

  test("N waiters racing to break one stale lock: one break, one holder at a time") {
    val dir = tmp("graft_occ_break_race")
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    fs.mkdirs(dirPath)
    val lock = new Path(dirPath, ArrowOcc.LockFile)
    spark.conf.set("spark.graft.arrow.occStaleMs", "60000")
    try {
      (0 until 5).foreach { _ =>
        // plant a dead holder's lock, mtime well past the staleness window
        fs.create(lock, true).close()
        fs.setTimes(lock, System.currentTimeMillis() - 120000, -1)
        val inside = new java.util.concurrent.atomic.AtomicInteger(0)
        val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
        val threads = (0 until 4).map(_ => new Thread(() =>
          ArrowOcc.withCommitLock(fs, dirPath) {
            val n = inside.incrementAndGet()
            maxInside.getAndUpdate(m => math.max(m, n))
            Thread.sleep(30)
            inside.decrementAndGet()
          }))
        threads.foreach(_.start()); threads.foreach(_.join(60000))
        // the read-check-delete break of earlier rounds could let waiter B
        // delete waiter A's freshly claimed lock → two simultaneous
        // holders; the tombstone rename admits exactly one breaker
        assert(maxInside.get() === 1,
          "two holders entered the critical section")
        assert(!fs.exists(lock))
      }
      // no breaker tombstones leaked (winners delete theirs on the spot)
      assert(new java.io.File(dir).listFiles.forall(f =>
        !f.getName.contains(".broken-")))
    } finally spark.conf.unset("spark.graft.arrow.occStaleMs")
  }

  test("pending-marker heartbeat keeps a marker live past the window; stop lets it expire") {
    val dir = tmp("graft_occ_hb")
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    spark.conf.set("spark.graft.arrow.pendingStaleMs", "500")
    try {
      ArrowOcc.markPending(fs, dirPath, "q-hb")
      val hb = ArrowOcc.heartbeatPending(fs, dirPath, "q-hb")
      try {
        Thread.sleep(1600) // three liveness windows deep into the "job"
        assert(ArrowOcc.pendingLive(fs, dirPath, "q-hb"),
          "heartbeat failed to keep the marker live")
        assert(ArrowOcc.appendsPending(fs, dirPath))
      } finally hb.stop()
      Thread.sleep(900)
      assert(!ArrowOcc.pendingLive(fs, dirPath, "q-hb"))
      assert(!ArrowOcc.appendsPending(fs, dirPath))
      ArrowOcc.sweepStalePending(fs, dirPath)
      ArrowOcc.clearPending(fs, dirPath, "q-hb")
    } finally spark.conf.unset("spark.graft.arrow.pendingStaleMs")
  }

  test("nameQueryId extracts the exact component; maintenance renames never match") {
    val qid = java.util.UUID.randomUUID().toString
    assert(ArrowOcc.nameQueryId(s"part-00001-$qid.arrows") === qid)
    assert(ArrowOcc.nameQueryId(s"part-00001-g0003-$qid.arrows") === qid)
    // a compaction-renamed output must never equal a live queryId
    assert(ArrowOcc.nameQueryId(s"part-00001-$qid-compact-ab12cd34.arrows")
      !== qid)
    assert(ArrowOcc.nameQueryId("foreign.arrows") === "")
  }

  test("a batch append outliving the pending window keeps in-flight protection (heartbeat)") {
    val dir = tmp("graft_occ_slow_append")
    spark.range(0, 100).toDF("id").coalesce(2)
      .write.format("arrow-ipc").mode("append").save(dir)
    spark.conf.set("spark.graft.arrow.pendingStaleMs", "500")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val appender = new Thread(() => try {
        spark.range(1000, 1100).as[Long].repartition(2)
          .mapPartitions { it => Thread.sleep(2500); it }
          .toDF("id")
          .write.format("arrow-ipc").mode("append").save(dir)
      } catch { case e: Throwable => errs.add(e) })
      appender.start()
      val fs = fsOf(dir)
      val dirPath = new Path(dir)
      val deadline = System.currentTimeMillis() + 30000
      while (!ArrowOcc.appendsPending(fs, dirPath) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(ArrowOcc.appendsPending(fs, dirPath), "append never marked pending")
      Thread.sleep(1200) // two+ liveness windows into the write stage
      // without the heartbeat the marker is now "dead": a concurrent
      // committer would restore the latch mid-append and maintenance
      // would treat the job's task-committed files as replaceable
      assert(ArrowOcc.appendsPending(fs, dirPath),
        "marker went stale mid-write — the heartbeat is not refreshing it")
      // concurrent maintenance mid-append must leave the in-flight files
      // alone (replaceableFilter excludes the live queryId)
      ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
      appender.join(120000)
      assert(errs.isEmpty, s"slow append failed: ${errs.peek()}")
      val back = spark.read.format("arrow-ipc").load(dir)
      assert(back.count() === 200)
      assert(back.select("id").distinct().count() === 200)
      assert(fs.exists(new Path(dirPath, "_SUCCESS")))
    } finally spark.conf.unset("spark.graft.arrow.pendingStaleMs")
  }

  test("CALL detail / list_files report the files a scan serves while an append is in flight") {
    val dir = tmp("graft_occ_inflight_detail")
    spark.range(0, 100).toDF("id").coalesce(2)
      .write.format("arrow-ipc").mode("append").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.conf.set("spark.graft.arrow.pendingStaleMs", "600000")
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      // partition 0 task-commits its file after ~1 s; partition 1 keeps
      // the append in flight for ~9 s
      val appender = new Thread(() => try {
        spark.range(1000, 1100).as[Long].repartition(2)
          .mapPartitions { it =>
            Thread.sleep(
              if (org.apache.spark.TaskContext.getPartitionId() == 0) 1000
              else 9000)
            it
          }
          .toDF("id")
          .write.format("arrow-ipc").mode("append").save(dir)
      } catch { case e: Throwable => errs.add(e) })
      appender.start()
      val fs = fsOf(dir)
      val dirPath = new Path(dir)
      def onDisk = graft.sources.ArrowSnapshots.listDataFiles(fs, dirPath).size
      val deadline = System.currentTimeMillis() + 30000
      while (onDisk < 3 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(onDisk === 3, "the fast partition's file never landed")
      assert(ArrowOcc.appendsPending(fs, dirPath), "append no longer in flight")
      val d = spark.sql(s"CALL graft.system.detail('$dir')").head()
      assert(d.getAs[Int]("files") === 2)
      assert(d.getAs[Long]("rows") === 100L)
      assert(spark.sql(s"CALL graft.system.list_files('$dir')").count() === 2L)
      assert(spark.read.format("arrow-ipc").load(dir).count() === 100L)
      assert(ArrowOcc.appendsPending(fs, dirPath),
        "the append finished before the in-flight checks ran")
      appender.join(120000)
      assert(errs.isEmpty, s"slow append failed: ${errs.peek()}")
      assert(spark.read.format("arrow-ipc").load(dir).count() === 200L)
      assert(spark.sql(s"CALL graft.system.list_files('$dir')").count() === 4L)
    } finally spark.conf.unset("spark.graft.arrow.pendingStaleMs")
  }

  // ── maintenance racing maintenance / appends ────────────────────────

  test("concurrent appends and compactions on one directory: zero lost, zero duplicated rows") {
    val dir = tmp("graft_occ_append_race")
    // seed so the first compact has work
    spark.range(0, 100).select(col("id"), (col("id") % 7).as("k"))
      .coalesce(2).write.format("arrow-ipc").mode("append").save(dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appenders = (0 until 3).map { t =>
      new Thread(() => try {
        (0 until 4).foreach { i =>
          val lo = 1000L * (t * 4 + i + 1)
          spark.range(lo, lo + 100)
            .select(col("id"), (col("id") % 7).as("k"))
            .coalesce(2).write.format("arrow-ipc").mode("append").save(dir)
        }
      } catch { case e: Throwable => errs.add(e) })
    }
    val compactor = new Thread(() => try {
      (0 until 5).foreach { _ =>
        ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
        Thread.sleep(30)
      }
    } catch { case e: Throwable => errs.add(e) })
    (appenders :+ compactor).foreach(_.start())
    (appenders :+ compactor).foreach(_.join(300000))
    assert(errs.isEmpty, s"concurrent run failed: ${errs.peek()}")
    // every appended id exactly once — any lost swap or double-stage
    // breaks one of these two
    val back = spark.read.format("arrow-ipc").load(dir)
    val expected = 100 + 3 * 4 * 100
    assert(back.count() === expected)
    assert(back.select("id").distinct().count() === expected)
    // directory is whole: latch up, no intent, no staging leftovers
    val fs = fsOf(dir)
    assert(fs.exists(new Path(dir, "_SUCCESS")))
    assert(!fs.exists(new Path(dir, "_compaction.json")))
    assert(new java.io.File(dir).listFiles.forall(f =>
      !f.getName.startsWith(".compact-") && !f.getName.startsWith("_pending-")))
  }

  test("a compaction that loses its race to a metadata DELETE retries and lands") {
    val dir = tmp("graft_occ_conflict")
    (0 until 4).foreach { i =>
      spark.range(i * 100, (i + 1) * 100).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    // deterministic interleave: after compact stages (4 files → 1), a
    // DELETE commits first and removes one of the staged-over files —
    // compact's validation must throw, and its retry must re-stage from
    // the 3 survivors and succeed
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    ArrowMaintenance.beforeSwapHook = () =>
      if (fired.getAndIncrement() == 0) {
        val res = ArrowMaintenance.deleteWhere(spark, dir,
          Array(org.apache.spark.sql.sources.LessThan("id", 100L)))
        assert(res.deleted === 1)
      }
    try {
      val res = ArrowMaintenance.compact(spark, dir).get
      // the retry compacted the three surviving files
      assert(res.oldFiles === 3 && res.newFiles === 1)
    } finally ArrowMaintenance.beforeSwapHook = () => ()
    assert(fired.get() >= 2, "the swap must have been attempted twice")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 300)
    assert(back.agg(min("id")).head().getLong(0) === 100L)
  }

  test("a COW UPDATE that loses its race surfaces a conflict instead of resurrecting rows") {
    val dir = tmp("graft_occ_cow_conflict")
    (0 until 3).foreach { i =>
      spark.range(i * 100, (i + 1) * 100)
        .select(col("id"), lit("old").as("v"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    // between the UPDATE's staging and its swap, a DELETE removes the
    // very file the UPDATE rewrites
    ArrowMaintenance.beforeSwapHook = () =>
      if (fired.getAndIncrement() == 0) {
        val res = ArrowMaintenance.deleteWhere(spark, dir,
          Array(org.apache.spark.sql.sources.LessThan("id", 100L)))
        assert(res.deleted === 1)
      }
    try {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE graft.`$dir` SET v = 'new' WHERE id < 50")
      }
      def conflict(t: Throwable): Boolean =
        t != null && (t.isInstanceOf[ArrowOcc.CommitConflictException] ||
          conflict(t.getCause))
      assert(conflict(e), s"expected a CommitConflictException chain, got $e")
    } finally ArrowMaintenance.beforeSwapHook = () => ()
    // the losing statement changed nothing: deleted rows stay deleted,
    // surviving rows keep their old values, and no staging leaked
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 200)
    assert(back.filter(col("v") === "new").count() === 0)
    assert(new java.io.File(dir).listFiles.forall(f =>
      !f.getName.startsWith(".cow-")))
  }

  test("a COW UPDATE that loses its race lands transparently via ArrowDml's bounded retry") {
    val dir = tmp("graft_occ_dml_retry")
    (0 until 3).foreach { i =>
      spark.range(i * 100, (i + 1) * 100)
        .select(col("id"), lit("old").as("v"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    // first swap attempt: a concurrent metadata DELETE removes one of the
    // files the UPDATE rewrites → validation conflict; the wrapper must
    // re-plan and re-execute the STATEMENT against the new snapshot and
    // land without user action (the Delta semantics the raw spark.sql
    // surface deliberately does not provide)
    ArrowMaintenance.beforeSwapHook = () =>
      if (fired.getAndIncrement() == 0) {
        val res = ArrowMaintenance.deleteWhere(spark, dir,
          Array(org.apache.spark.sql.sources.LessThan("id", 100L)))
        assert(res.deleted === 1)
      }
    val retried = try {
      graft.sources.ArrowDml.update(spark, dir, "v = 'new'",
        Some("id < 150"))
    } finally ArrowMaintenance.beforeSwapHook = () => ()
    assert(retried >= 1, "the statement must have been re-executed")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 200) // ids 100..299 (0..99 deleted)
    // the retry read the NEW snapshot: exactly ids 100..149 updated
    assert(back.filter(col("v") === "new").count() === 50)
    assert(back.filter(col("v") === "new").agg(max("id")).head.getLong(0) === 149L)
    // an UPDATE racing a live COMPACTION (not just a delete) also lands:
    // stage a small-files state, then race
    val fired2 = new java.util.concurrent.atomic.AtomicInteger(0)
    ArrowMaintenance.beforeSwapHook = () =>
      if (fired2.getAndIncrement() == 0)
        ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
    val retried2 = try {
      graft.sources.ArrowDml.update(spark, dir, "v = 'newer'",
        Some("id >= 200"))
    } finally ArrowMaintenance.beforeSwapHook = () => ()
    assert(retried2 >= 1)
    val back2 = spark.read.format("arrow-ipc").load(dir)
    assert(back2.count() === 200)
    assert(back2.filter(col("v") === "newer").count() === 100)
    assert(new java.io.File(dir).listFiles.forall(f =>
      !f.getName.startsWith(".cow-")))
  }

  test("hive layout: concurrent appends and incremental compactions, zero lost or duplicated rows") {
    val dir = tmp("graft_occ_hive_race")
    spark.range(0, 100).select(col("id"), (col("id") % 5).cast("string").as("p"))
      .write.format("arrow-ipc").mode("overwrite")
      .option("hivePartitionKeys", "p").save(dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appenders = (0 until 2).map { t =>
      new Thread(() => try {
        (0 until 5).foreach { i =>
          val lo = 1000L * (t * 5 + i + 1)
          spark.range(lo, lo + 100)
            .select(col("id"), (col("id") % 5).cast("string").as("p"))
            .write.format("arrow-ipc").mode("append")
            .option("hivePartitionKeys", "p").save(dir)
        }
      } catch { case e: Throwable => errs.add(e) })
    }
    val compactor = new Thread(() => try {
      (0 until 5).foreach { _ =>
        ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
        Thread.sleep(30)
      }
    } catch { case e: Throwable => errs.add(e) })
    (appenders :+ compactor).foreach(_.start())
    (appenders :+ compactor).foreach(_.join(300000))
    assert(errs.isEmpty, s"concurrent hive run failed: ${errs.peek()}")
    val back = spark.read.format("arrow-ipc").load(dir)
    val expected = 100 + 2 * 5 * 100
    assert(back.count() === expected)
    assert(back.select("id").distinct().count() === expected)
    // files stayed inside value directories; partition reconstruction holds
    val fs = fsOf(dir)
    val rels = graft.sources.ArrowSnapshots.listDataFiles(fs, new Path(dir))
    assert(rels.nonEmpty && rels.forall(_.startsWith("p=")))
    assert(back.groupBy("p").count().count() === 5)
    assert(fs.exists(new Path(dir, "_SUCCESS")))
    assert(!fs.exists(new Path(dir, "_compaction.json")))
  }

  // ── the flagship: streaming sink racing compact ─────────────────────

  test("a streaming sink racing concurrent compact(): serializable, zero lost rows, lineage intact") {
    val dir = tmp("graft_occ_stream_race")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_occ_ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = mem.toDF().select(col("value").as("id"),
        (col("value") % 5).as("k"))
      .writeStream.format("arrow-ipc")
      .option("checkpointLocation", ckpt)
      .start(dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val compactor = new Thread(() => try {
      (0 until 6).foreach { _ =>
        ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
        Thread.sleep(20)
      }
    } catch { case e: Throwable => errs.add(e) })
    try {
      mem.addData(0L until 200L); q.processAllAvailable()
      compactor.start()
      (1 to 5).foreach { i =>
        mem.addData((i * 1000L) until (i * 1000L + 200L))
        q.processAllAvailable()
      }
      compactor.join(300000)
      // one more epoch AFTER the last compact — the ledger must still
      // accept commits
      mem.addData(9000L until 9200L); q.processAllAvailable()
    } finally q.stop()
    assert(errs.isEmpty, s"concurrent compact failed: ${errs.peek()}")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 7 * 200)
    assert(back.select("id").distinct().count() === 7 * 200)
    // lineage intact: a fresh streaming READER over the directory emits
    // every row exactly once even though compactions rewrote files
    val outCkpt = java.nio.file.Files.createTempDirectory("graft_occ_ckpt2").toString
    val echo = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("memory").queryName("occ_echo")
      .option("checkpointLocation", outCkpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    echo.awaitTermination(120000)
    val echoed = spark.table("occ_echo")
    assert(echoed.count() === 7 * 200)
    assert(echoed.select("id").distinct().count() === 7 * 200)
    // directory is whole
    val fs = fsOf(dir)
    assert(fs.exists(new Path(dir, "_SUCCESS")))
    assert(!fs.exists(new Path(dir, ArrowOcc.LockFile)))
  }

  // ── planned reads race maintenance: the .trash/ fallback ────────────

  test("openPlanned: a planned file retired to .trash answers until expiry") {
    import graft.sources.ArrowSnapshots
    val root = new Path(tmp("graft_occ_planned"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(rel: String, bytes: Array[Byte]): Path = {
      val p = new Path(root, rel)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true); out.write(bytes); out.close(); p
    }
    def slurp(in: java.io.InputStream): Array[Byte] =
      try Iterator.continually(in.read()).takeWhile(_ >= 0).map(_.toByte).toArray
      finally in.close()

    // flat layout: live path gone, trash copy answers byte-identically
    val flat = put("part-a.arrows", "flat-bytes".getBytes)
    ArrowSnapshots.moveToTrash(fs, root, "part-a.arrows")
    assert(!fs.exists(flat))
    assert(new String(slurp(ArrowSnapshots.openPlanned(fs, flat))) === "flat-bytes")

    // hive layout: the rel path nests under the root — the ancestor walk
    // must find root/.trash/k=1/... from the live k=1/... path
    val hive = put("k=1/part-b.arrows", "hive-bytes".getBytes)
    ArrowSnapshots.moveToTrash(fs, root, "k=1/part-b.arrows")
    assert(new String(slurp(ArrowSnapshots.openPlanned(fs, hive))) === "hive-bytes")

    // expired from BOTH live and trash: the original FNF surfaces
    fs.delete(ArrowSnapshots.trashPath(root, "part-a.arrows"), false)
    intercept[java.io.FileNotFoundException] {
      ArrowSnapshots.openPlanned(fs, flat)
    }
  }

  test("a read planned BEFORE a compaction still scans after it retires the files") {
    val dir = tmp("graft_occ_planrace")
    (0 until 4).foreach { i =>
      spark.range(i * 25, (i + 1) * 25).toDF("id")
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    }
    val df = spark.read.format("arrow-ipc").load(dir)
    // force physical planning NOW: the scan's partitions pin the
    // pre-compaction file paths
    val planned = df.queryExecution.toRdd
    assert(ArrowMaintenance.compact(spark, dir).get.newFiles === 1)
    // the planned paths are now in .trash/ — without openPlanned every
    // task dies with FileNotFoundException
    assert(planned.count() === 100)
  }

  test("a read landing inside a swap's latch-down window WAITS it out; a crashed state still refuses") {
    val dir = tmp("graft_occ_gatewait")
    spark.range(0, 50).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    val fs = fsOf(dir)
    val dirPath = new Path(dir)
    // simulate the mid-swap window: latch down + a (contentless) intent;
    // a restorer thread lifts it after ~200 ms, like a real swap's replay
    ArrowMaintenance.writeIntent(fs, dirPath,
      ArrowMaintenance.Intent(Nil, ".compact-gate", Map.empty))
    fs.delete(new Path(dirPath, "_SUCCESS"), false)
    val restorer = new Thread(() => {
      Thread.sleep(200)
      fs.delete(new Path(dirPath, "_compaction.json"), false)
      ArrowOcc.restoreLatch(fs, dirPath)
    })
    restorer.start()
    // the read waits out the window instead of refusing spuriously
    assert(spark.read.format("arrow-ipc").load(dir).count() === 50)
    restorer.join()
    // a state still torn past the bounded wait refuses loudly
    fs.delete(new Path(dirPath, "_SUCCESS"), false)
    spark.conf.set("spark.graft.arrow.readGateWaitMs", "100")
    try {
      val e = intercept[Exception] {
        spark.read.format("arrow-ipc").load(dir).count()
      }
      assert(e.getMessage.contains("refusing to read partial data"))
    } finally {
      spark.conf.unset("spark.graft.arrow.readGateWaitMs")
      ArrowOcc.restoreLatch(fs, dirPath)
    }
  }
}
