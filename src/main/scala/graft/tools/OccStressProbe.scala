package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.ArrowMaintenance

/** Dev-only probe: a sustained randomized-interleaving stress of the OCC
  * commit protocol — the belt-and-braces companion to ArrowOccSpec's
  * deterministic races. NINE uncoordinated writers hammer ONE directory
  * for a fixed wall-clock budget:
  *
  *   - two batch appenders (disjoint id ranges, variable batch sizes),
  *   - a streaming sink draining a MemoryStream (a third id range),
  *   - a compactor loop,
  *   - a clusterer loop (range-sort on id — a whole-table remove-carrying
  *     rewrite, the op most likely to lose validation races and retry),
  *   - a SQL DML loop (value-identity UPDATE, randomly routed
  *     copy-on-write or merge-on-read — the statement-level writer,
  *     which must lose cleanly or win cleanly),
  *   - a MERGE-ON-READ delete loop (round 11: deletion vectors racing
  *     every rewrite — a compaction staged against gen N must lose to a
  *     gen N+1 that lands mid-staging, never resurrect its rows),
  *   - a CDC-apply loop (round 12: versioned MERGE batches routed MOR —
  *     the tagged combined commit racing everything, ledger monotone),
  *   - a vacuum loop (round 12: recover + staleness sweeps + the auto
  *     vector-debt purge running CONTINUOUSLY beside live writers).
  *
  * This probe is what surfaced the scan-to-commit write-write race the
  * re-delete conflict check closes (ArrowDeleteVectors.stageVectors):
  * two concurrent row-level statements touching the SAME row — e.g. the
  * CDC MERGE and a MOR-routed UPDATE — would otherwise both insert a new
  * image of it (the second's find-scan planned before the first's commit
  * landed), one no-op'd delete later = a silent duplicate row.
  *
  * No sleeps are tuned and no outcome is scripted: whatever interleaving
  * the scheduler produces must satisfy the invariants at the end —
  *   1. every id exactly once, minus exactly the deterministically
  *      MOR-deleted set (no lost swap, no double-stage, no resurrection),
  *   2. the directory healed (latch up; no lock, intent, or staging),
  *   3. a fresh checkpointed streaming reader emits every row exactly
  *      once (lineage intact through however many rewrites landed).
  *
  * PARAMETERIZED OVER THE COMMIT STORE (round 12): `args(1)` picks the
  * [[graft.sources.ArrowCommitStore]] the whole run commits through —
  * `posix` (default: O_EXCL claims, rename tombstone breaks) or
  * `conditional` ([[graft.sources.ConditionalPutCommitStore]] over the
  * simulated If-None-Match/If-Match [[graft.sources.SimulatedObjectStore]]
  * — the store class a real object-store deployment runs on, previously
  * proven only by unit spec). Same writers, same invariants: the
  * randomized interleavings must hold on BOTH stores.
  */
object OccStressProbe {
  def main(args: Array[String]): Unit = {
    val seconds = args.headOption.map(_.toInt).getOrElse(60)
    val storeName = args.drop(1).headOption.getOrElse("posix")
    val spark = graft.Engine.session("OccStressProbe", "local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = s"/tmp/graft_scale/occ_stress_${System.nanoTime()}/out"
    storeName match {
      case "posix" => ()
      case "conditional" =>
        val fs0 = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val key = fs0.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
        graft.sources.ArrowOcc.storeOverrides.put(key,
          new graft.sources.ConditionalPutCommitStore(
            new graft.sources.SimulatedObjectStore))
      case other => sys.error(
        s"unknown commit store '$other' (expected posix | conditional)")
    }
    // round 15: the OPT-IN auto-compaction leg races the mix like every
    // other mutation path — vacuum's trigger counts committed small
    // files (threshold low enough that the appenders' 1-2-file batches
    // cross it continuously) and its compact rides the same staged swap
    // invariants the maintainer thread already stresses
    spark.conf.set("spark.graft.arrow.vacuumCompactMinSmallFiles", "6")
    println(s"hammering $dir for ${seconds}s with 9 uncoordinated writers " +
      s"(commit store: $storeName, vacuum auto-compact ENABLED)...")

    val deadline = System.nanoTime() + seconds * 1000000000L
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appended = new java.util.concurrent.atomic.AtomicLong(0) // ids 0..
    val appended2 = new java.util.concurrent.atomic.AtomicLong(0) // 10^9..
    val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
    val clusterings = new java.util.concurrent.atomic.AtomicInteger(0)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val rnd = new java.util.Random(42)

    def appender(base: Long, ctr: java.util.concurrent.atomic.AtomicLong) =
      new Thread(() => try {
        while (System.nanoTime() < deadline) {
          val n = 50 + rnd.nextInt(150)
          val lo = base + ctr.getAndAdd(n)
          spark.range(lo, lo + n).select(col("id"), (col("id") % 13).as("k"))
            .coalesce(1 + rnd.nextInt(2))
            .write.format("arrow-ipc").mode("append").save(dir)
        }
      } catch { case e: Throwable => errs.add(e) })

    // a maintenance run CAN exhaust its bounded lost-race retries under
    // sustained pressure — the documented contract is "refuse loudly,
    // caller re-runs", not a correctness failure. Both conflict shapes
    // count: the commit-time validation exception and the mid-staging
    // file-vanished SparkException chain.
    def refusedLoudly(t: Throwable): Boolean = {
      var c: Throwable = t
      while (c != null) {
        if (c.isInstanceOf[graft.sources.ArrowOcc.CommitConflictException] ||
            c.isInstanceOf[java.io.FileNotFoundException] ||
            Option(c.getMessage).exists(m =>
              m.contains("FileNotFoundException") ||
                m.contains("refusing to read partial data")))
          return true
        c = c.getCause
      }
      false
    }

    val maintainer = new Thread(() => try {
      while (System.nanoTime() < deadline) {
        try {
          ArrowMaintenance.compact(spark, dir, targetBytes = 4L << 20)
          compactions.incrementAndGet()
        } catch {
          case e: Throwable if refusedLoudly(e) => conflicts.incrementAndGet()
        }
        Thread.sleep(50)
      }
    } catch { case e: Throwable => errs.add(e) })

    val clusterer = new Thread(() => try {
      while (System.nanoTime() < deadline) {
        try {
          ArrowMaintenance.cluster(spark, dir, Seq("id"),
            targetBytes = 4L << 20)
          clusterings.incrementAndGet()
        } catch {
          case e: Throwable if refusedLoudly(e) => conflicts.incrementAndGet()
        }
        Thread.sleep(100)
      }
    } catch { case e: Throwable => errs.add(e) })

    // SQL DML leg: a copy-on-write UPDATE racing everything else. The
    // update is VALUE-IDENTITY (`k = k`) so the id multiset — and thus
    // every end invariant — is unchanged no matter how many statements
    // win; what it exercises is the COW staging + swap losing/winning
    // races against appends, compactions, clusterings and epochs.
    // Round 11: the leg rides ArrowDml's bounded transparent retry — a
    // lost race re-plans and re-executes the statement, so at default
    // settings the loop must complete with ZERO surfaced conflicts.
    val updates = new java.util.concurrent.atomic.AtomicInteger(0)
    val dmlRetries = new java.util.concurrent.atomic.AtomicInteger(0)
    val dmlSurfaced = new java.util.concurrent.atomic.AtomicInteger(0)
    val dmler = new Thread(() => try {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
      var flip = false
      while (System.nanoTime() < deadline) {
        try {
          // alternate the UPDATE's physical protocol: COW rewrite one
          // statement, MOR position delta (vectors + append) the next —
          // both value-identity, both racing every other writer. The id
          // multiset is unchanged either way; what this stresses is the
          // COMBINED delta commit (vectors + staged inserts in one
          // intent) losing/winning against compactions and clusterings.
          flip = !flip
          spark.conf.set("spark.graft.arrow.updateMode",
            if (flip) "mor" else "cow")
          dmlRetries.addAndGet(graft.sources.ArrowDml.update(spark, dir,
            "k = k", Some("id % 997 = 7")))
          updates.incrementAndGet()
        } catch {
          case e: Throwable if refusedLoudly(e) => dmlSurfaced.incrementAndGet()
          // the DML loop can outrace the table's very existence (first
          // append not committed yet) — not a conflict, just early
          case e: Throwable if Option(e.getMessage).exists(
            _.contains("TABLE_OR_VIEW_NOT_FOUND")) => ()
        }
        Thread.sleep(150)
      }
    } catch { case e: Throwable => errs.add(e) })

    // MERGE-ON-READ delete leg: deletion vectors racing every rewrite.
    // The predicate is DETERMINISTIC over appender 1's ids (k = 5, i.e.
    // id % 13 = 5, ids < 1e9), so the end state is computable: a final
    // delete after the writers stop catches rows appended after the last
    // in-flight one, and `expected` subtracts exactly that id set. A
    // statement can exhaust its bounded retries under this pressure —
    // refused loudly, atomically, by the same contract as maintenance.
    val morDeletes = new java.util.concurrent.atomic.AtomicInteger(0)
    val morRefused = new java.util.concurrent.atomic.AtomicInteger(0)
    val MorPredicate = "k = 5 AND id < 500000000"
    val morrer = new Thread(() => try {
      while (System.nanoTime() < deadline) {
        try {
          graft.sources.ArrowDeleteVectors.deleteMor(spark, dir, MorPredicate)
          morDeletes.incrementAndGet()
        } catch {
          case e: Throwable if refusedLoudly(e) => morRefused.incrementAndGet()
          // the leg can outrace the table's very existence (first append
          // not committed yet) — not a conflict, just early
          case e: Throwable if Option(e.getMessage).exists(m =>
            m.contains("PATH_NOT_FOUND") || m.contains("does not exist") ||
              m.contains("no .arrows files")) => ()
        }
        Thread.sleep(200)
      }
    } catch { case e: Throwable => errs.add(e) })

    // CDC-APPLY leg (round 12): the stream_upsert_mor shape under
    // randomized concurrency — per-"batch" MERGE through
    // ArrowCdcApply.applyBatch with monotone versions, routed MOR.
    // VALUE-IDENTITY (SET k = k) and MATCHED-only (an id not yet
    // appended is ignored, never inserted), so the id multiset is
    // unchanged no matter how many batches land; what this stresses is
    // the tagged combined commit (vectors + ledger in one intent)
    // losing/winning against every other writer, and the ledger's
    // monotonicity through retries. Rides ArrowDml.sql (bounded
    // transparent retry), so surfaced conflicts must be ZERO.
    val cdcApplied = new java.util.concurrent.atomic.AtomicInteger(0)
    val cdcSurfaced = new java.util.concurrent.atomic.AtomicInteger(0)
    var cdcVersion = -1L
    val cdcer = new Thread(() => try {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
      var v = 0L
      while (System.nanoTime() < deadline) {
        try {
          spark.conf.set("spark.graft.arrow.mergeMode", "mor")
          try {
            spark.range(v * 37 % 1000, v * 37 % 1000 + 50)
              .selectExpr("id", "id % 13 AS k")
              .createOrReplaceTempView("occ_cdc_src")
            if (java.lang.Boolean.getBoolean("graft.debug.scan"))
              System.err.println(s"[cdc-debug] ${System.nanoTime()} batch=$v begin")
            val ran = graft.sources.ArrowCdcApply.applyBatch(
                spark, dir, "occ_stress", v) {
              graft.sources.ArrowDml.sql(spark, dir,
                s"MERGE INTO graft.`$dir` t USING occ_cdc_src c " +
                  "ON t.id = c.id WHEN MATCHED THEN UPDATE SET k = c.k")
              ()
            }
            if (java.lang.Boolean.getBoolean("graft.debug.scan"))
              System.err.println(s"[cdc-debug] ${System.nanoTime()} batch=$v end ran=$ran")
            if (ran) { cdcApplied.incrementAndGet(); cdcVersion = v; v += 1 }
          } finally spark.conf.unset("spark.graft.arrow.mergeMode")
        } catch {
          case e: Throwable if refusedLoudly(e) => cdcSurfaced.incrementAndGet()
          case e: Throwable if Option(e.getMessage).exists(m =>
            m.contains("TABLE_OR_VIEW_NOT_FOUND") ||
              m.contains("PATH_NOT_FOUND") || m.contains("does not exist") ||
              m.contains("no .arrows files")) => ()
        }
        Thread.sleep(250)
      }
    } catch { case e: Throwable => errs.add(e) })

    // VACUUM leg (round 12): the nightly entry point runs CONTINUOUSLY
    // beside the live writers — recover, staleness-gated sweeps, and the
    // auto vector-debt purge (θ=0.25, so MOR-delete debt actually
    // crosses it mid-run). Purge is a maintenance rewrite: it rides
    // retryOnConflict and must lose cleanly or win cleanly.
    val vacuums = new java.util.concurrent.atomic.AtomicInteger(0)
    val vacuumPurged = new java.util.concurrent.atomic.AtomicInteger(0)
    val vacuumCompacted = new java.util.concurrent.atomic.AtomicInteger(0)
    val vacuumer = new Thread(() => try {
      while (System.nanoTime() < deadline) {
        try {
          val v = ArrowMaintenance.vacuum(spark, dir,
            purgeMaskedAbove = Some(0.25))
          vacuums.incrementAndGet()
          vacuumPurged.addAndGet(v.purged.map(_.oldFiles).getOrElse(0))
          vacuumCompacted.addAndGet(v.compacted.map(_.oldFiles).getOrElse(0))
        } catch {
          case e: Throwable if refusedLoudly(e) => conflicts.incrementAndGet()
          case e: Throwable if Option(e.getMessage).exists(m =>
            m.contains("PATH_NOT_FOUND") || m.contains("does not exist") ||
              m.contains("no .arrows files")) => ()
        }
        Thread.sleep(400)
      }
    } catch { case e: Throwable => errs.add(e) })

    // streaming leg: ids 2e9.., one epoch per addData
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("occ_stress_ck").toString
    val sq = mem.toDF().select(col("value").as("id"), (col("value") % 13).as("k"))
      .writeStream.format("arrow-ipc")
      .option("checkpointLocation", ckpt).start(dir)
    var streamed = 0L
    val streamer = new Thread(() => try {
      while (System.nanoTime() < deadline) {
        val n = 100 + rnd.nextInt(100)
        mem.addData(2000000000L + streamed until 2000000000L + streamed + n)
        streamed += n
        sq.processAllAvailable()
      }
    } catch { case e: Throwable => errs.add(e) })

    val threads = Seq(appender(0L, appended),
      appender(1000000000L, appended2), maintainer, clusterer, dmler,
      morrer, streamer, cdcer, vacuumer)
    threads.foreach(_.start()); threads.foreach(_.join())
    sq.processAllAvailable(); sq.stop()

    // the deterministic tail: one final MOR delete catches ids appended
    // after the last in-flight one, then one compaction folds every
    // vector so the batch read, the manifest counts, and a fresh
    // streaming reader all describe the same physical rows
    graft.sources.ArrowDeleteVectors.deleteMor(spark, dir, MorPredicate)
    ArrowMaintenance.compact(spark, dir)
    val morDeleted = (0L until appended.get).count(_ % 13 == 5).toLong
    val fs0 = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // compact() no-ops on a ≤1-file table; a cluster rewrite folds too
    if (graft.sources.ArrowDeleteVectors.live(fs0,
        new org.apache.hadoop.fs.Path(dir)).nonEmpty)
      ArrowMaintenance.cluster(spark, dir, Seq("id"))
    require(graft.sources.ArrowDeleteVectors.live(fs0,
        new org.apache.hadoop.fs.Path(dir)).isEmpty,
      "the final rewrite did not fold every deletion vector")

    val expected = appended.get + appended2.get + streamed - morDeleted
    println(f"  writers done: ${appended.get + appended2.get}%d batch ids, " +
      f"$streamed%d streamed ids, ${compactions.get}%d compactions, " +
      f"${clusterings.get}%d clusterings, ${updates.get}%d COW updates " +
      f"(${dmlRetries.get}%d transparent retries, ${dmlSurfaced.get}%d " +
      f"surfaced), ${morDeletes.get}%d MOR deletes (${morRefused.get}%d " +
      f"refused, $morDeleted%d ids masked), ${cdcApplied.get}%d CDC-apply " +
      f"batches (${cdcSurfaced.get}%d surfaced), ${vacuums.get}%d vacuums " +
      f"(${vacuumPurged.get}%d files auto-purged, ${vacuumCompacted.get}%d " +
      f"auto-compacted), ${conflicts.get}%d " +
      "maintenance retry-exhaustions (refused loudly, by contract)")
    require(errs.isEmpty, s"writer failed: ${errs.peek()}")
    require(dmlSurfaced.get == 0,
      "a DML statement surfaced a conflict despite bounded retry at " +
        "default settings")
    require(cdcSurfaced.get == 0,
      "a CDC-apply batch surfaced a conflict despite bounded retry at " +
        "default settings")
    // the CDC ledger advanced exactly with the applied batches — no
    // version lost to a race, none double-counted
    if (cdcVersion >= 0) {
      val led = graft.sources.ArrowCdcApply
        .appliedVersion(spark, dir, "occ_stress")
      require(led.contains(cdcVersion),
        s"CDC ledger ${led} != last applied version $cdcVersion")
      require(cdcVersion + 1 == cdcApplied.get.toLong,
        s"CDC versions not dense: ${cdcApplied.get} applied, last $cdcVersion")
    }

    val back = spark.read.format("arrow-ipc").load(dir)
    val (cnt, dst) = (back.count(), back.select("id").distinct().count())
    println(s"  invariant 1 — every id exactly once minus the MOR-deleted set: " +
      s"count=$cnt distinct=$dst expected=$expected")
    if (cnt != expected || dst != expected) {
      // diagnostics before the loud failure: WHICH ids, in WHICH files
      val dups = back.groupBy("id").count().filter(col("count") > 1)
        .select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().sorted.take(20)
      println(s"  duplicated ids (${dups.length} shown): ${dups.mkString(", ")}")
      if (dups.nonEmpty)
        spark.read.format("arrow-ipc").load(dir)
          .filter(col("id").isin(dups.map(Long.box): _*))
          .select(col("id"), col("k"), col(graft.sources.ArrowRowLevel.FileColumn),
            col(graft.sources.ArrowRowLevel.PosColumn))
          .orderBy("id").show(40, false)
    }
    require(cnt == expected && dst == expected, "LOST OR DUPLICATED ROWS")
    require(back.filter(col("id") < 500000000L)
        .filter(col("id") % 13 === 5).count() == 0,
      "a rewrite RESURRECTED merge-on-read-deleted rows")

    // a run that lost its race MID-STAGING leaves its staging dir to the
    // stale sweep by design — collapse the window and vacuum, then the
    // directory must be spotless
    spark.conf.set("spark.graft.arrow.occStaleMs", "-1")
    val v = try ArrowMaintenance.vacuum(spark, dir)
      finally spark.conf.unset("spark.graft.arrow.occStaleMs")
    println(s"  vacuum: recovered=${v.recovered} staging=${v.stagingSwept} " +
      s"orphans=${v.orphansSwept}")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gone(n: String) = !fs.exists(new org.apache.hadoop.fs.Path(dir, n))
    require(fs.exists(new org.apache.hadoop.fs.Path(dir, "_SUCCESS")) &&
      gone("_commit.lock") && gone("_compaction.json"),
      "directory did not heal")
    require(Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, ".compact-*")))
      .getOrElse(Array.empty).isEmpty, "staging leaked")
    println("  invariant 2 — directory healed: latch up, no lock/intent/staging")

    val ck2 = java.nio.file.Files.createTempDirectory("occ_stress_ck2").toString
    val echo = spark.readStream.format("arrow-ipc").load(dir)
      .writeStream.format("memory").queryName("occ_stress_echo")
      .option("checkpointLocation", ck2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    echo.awaitTermination(300000)
    val e2 = spark.table("occ_stress_echo")
    println(s"  invariant 3 — fresh streaming reader exactly-once: " +
      s"count=${e2.count()} distinct=${e2.select("id").distinct().count()}")
    require(e2.count() == expected &&
      e2.select("id").distinct().count() == expected,
      "streaming reader lost or duplicated rows")
    println("ALL INVARIANTS HELD")
    spark.stop()
  }
}
