package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{ArrowDeleteVectors, ArrowDml, ArrowMaintenance}

/** Dev-only probe: quantifies the MERGE-ON-READ delete's claims on the
  * shape it exists for — a POINT DELETE (GDPR erasure: a handful of rows
  * scattered across large files):
  *
  *   1. statement cost: wall time + bytes written, MOR (deletion
  *      vectors) vs COW (file rewrite) for the same point predicate on
  *      identical copies of one table — MOR must be O(deleted rows)
  *      metadata, COW pays O(affected file bytes);
  *   2. read tax: the same full-scan aggregate on the clean table, on
  *      the vector-carrying table (masking forces the row path — the
  *      honest cost), and after compaction folds the vectors (zero-copy
  *      columnar restored, bit-identical result);
  *   3. codec density: delta-varint bytes per deleted position at three
  *      cardinalities.
  *
  * The numbers justify the routing default: vectors for point deletes,
  * COW for bulk (the cap's rationale), compaction as the tax collector.
  */
object MorScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("MorScaleProbe", "local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    val rows = args.headOption.map(_.toLong).getOrElse(4000000L)
    val base = s"/tmp/graft_scale/mor_probe_$rows"
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)

    def build(dir: String): Unit =
      spark.range(0, rows)
        .select(col("id"), (col("id") % 1000).as("k"),
          sha2(col("id").cast("string"), 256).as("payload"))
        .repartitionByRange(8, col("id"))
        .write.format("arrow-ipc").mode("overwrite").save(dir)

    def dataBytes(dir: String): Long =
      Option(fs.globStatus(new Path(dir, "part-*.arrows")))
        .getOrElse(Array.empty).map(_.getLen).sum
    def dvBytes(dir: String): Long =
      Option(fs.globStatus(new Path(dir, ".dv/*.dv")))
        .getOrElse(Array.empty).map(_.getLen).sum

    def timed[T](body: => T): (T, Double) = {
      val t = System.nanoTime(); val r = body
      (r, (System.nanoTime() - t) / 1e6)
    }

    // ── 1. the point delete, at 1x and 2x data: the SAME ~0.1% predicate
    // must cost MOR ~flat (O(deleted rows) metadata) while COW pays
    // O(affected file bytes) — the asymptote, not one wall number ─────────
    val predicate = "k = 777" // 0.1% of rows, scattered across every file
    case class Leg(scale: Int, morMs: Double, morBytes: Long,
      cowMs: Double, cowBytes: Long)
    val morDir = s"$base/mor" // the 1x MOR table survives for phase 2
    val legs = Seq(1, 2).map { m =>
      val rs = rows * m
      val mDir = if (m == 1) morDir else s"$base/mor$m"
      val cDir = s"$base/cow$m"
      println(s"building two identical ${rs}-row tables (8 files)...")
      spark.range(0, rs)
        .select(col("id"), (col("id") % 1000).as("k"),
          sha2(col("id").cast("string"), 256).as("payload"))
        .repartitionByRange(8, col("id"))
        .write.format("arrow-ipc").mode("overwrite").save(mDir)
      spark.read.format("arrow-ipc").load(mDir)
        .write.format("arrow-ipc").mode("overwrite").save(cDir)
      println(f"  table: ${dataBytes(mDir) / 1e6}%.0f MB data")
      val (morRes, morMs) = timed(
        ArrowDeleteVectors.deleteMor(spark, mDir, predicate))
      val cowBefore = Option(fs.globStatus(new Path(cDir, "part-*.arrows")))
        .getOrElse(Array.empty).map(_.getPath.getName).toSet
      val (_, cowMs) = timed(ArrowDml.delete(spark, cDir, Some(predicate)))
      val cowRewritten = Option(fs.globStatus(new Path(cDir, "part-*.arrows")))
        .getOrElse(Array.empty).filter(st => !cowBefore(st.getPath.getName))
        .map(_.getLen).sum
      println(f"  MOR: ${morRes.deletedRows} rows in $morMs%.0f ms, " +
        f"${dvBytes(mDir)} B written | COW: $cowMs%.0f ms, " +
        f"$cowRewritten B rewritten " +
        f"(${cowRewritten.toDouble / math.max(1L, dvBytes(mDir))}%.0fx more)")
      Leg(m, morMs, dvBytes(mDir), cowMs, cowRewritten)
    }
    val (l1, l2) = (legs.head, legs.last)
    // BYTES are the asymptote (a local NVMe page cache absorbs the COW
    // rewrite, so wall time under ~1 GB is Spark fixed overhead for both
    // paths; on an object store the write bytes ARE the statement cost):
    // MOR bytes track DELETED ROWS, COW bytes track FILE SIZES.
    println(f"  2x data growth: MOR ${l2.morBytes.toDouble / l1.morBytes}%.2fx " +
      f"bytes (tracks deleted rows), COW ${l2.cowBytes.toDouble / l1.cowBytes}%.2fx " +
      f"bytes (tracks file bytes), absolute gap " +
      f"${l2.cowBytes.toDouble / l2.morBytes}%.0fx; wall (cache-noisy locally): " +
      f"MOR ${l2.morMs / l1.morMs}%.2fx, COW ${l2.cowMs / l1.cowMs}%.2fx")

    // ── 1b. the point UPDATE: same asymmetry through SupportsDelta ──────
    // (vectors mask the old images + ONE small appended file carries the
    // new ones vs a COW rewrite of every affected file)
    {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
      val uM = s"$base/updm"; val uC = s"$base/updc"
      spark.read.format("arrow-ipc").load(morDir) // post-delete content
      spark.range(0, rows)
        .select(col("id"), (col("id") % 1000).as("k"),
          sha2(col("id").cast("string"), 256).as("payload"))
        .repartitionByRange(8, col("id"))
        .write.format("arrow-ipc").mode("overwrite").save(uM)
      spark.read.format("arrow-ipc").load(uM)
        .write.format("arrow-ipc").mode("overwrite").save(uC)
      def files(d: String) = Option(fs.globStatus(new Path(d, "part-*.arrows")))
        .getOrElse(Array.empty).map(st => st.getPath.getName -> st.getLen).toMap
      val beforeM = files(uM); val beforeC = files(uC)
      spark.conf.set("spark.graft.arrow.updateMode", "mor")
      val (_, umMs) = try timed(spark.sql(
          s"UPDATE graft.`$uM` SET payload = 'redacted' WHERE k = 777"))
        finally spark.conf.unset("spark.graft.arrow.updateMode")
      val morNew = files(uM).view.filterKeys(!beforeM.contains(_)).values.sum +
        dvBytes(uM)
      val (_, ucMs) = timed(spark.sql(
        s"UPDATE graft.`$uC` SET payload = 'redacted' WHERE k = 777"))
      val cowNew = files(uC).view.filterKeys(!beforeC.contains(_)).values.sum
      println(f"  MOR point UPDATE (0.1%% of rows): $umMs%.0f ms, $morNew B " +
        f"written (vectors + one appended file) | COW: $ucMs%.0f ms, " +
        f"$cowNew B rewritten (${cowNew.toDouble / math.max(1L, morNew)}%.0fx more)")
    }

    // ── 1c. streaming CDC-apply per-batch cost vs FILE COUNT (round 12:
    // the stream_upsert_mor shape — each micro-batch's MERGE pays one
    // find-scan over the candidate files; a keyed join prunes nothing
    // statically, so the scan is O(live files). Measured at 300 vs 3000
    // files, same rows: if the per-batch cost scales with file count and
    // dominates, that is the case for equality deletes — this leg is the
    // evidence either way.) ──────────────────────────────────────────────
    {
      val cdcRows = math.min(rows, 3000000L)
      val perBatch = Seq(300, 3000).map { nf =>
        val d = s"$base/cdc$nf"
        spark.range(0, cdcRows)
          .select(col("id").as("key"), (col("id") % 1000).as("k"),
            sha2(col("id").cast("string"), 256).as("payload"))
          .repartition(nf, col("key"))
          .write.format("arrow-ipc").mode("overwrite").save(d)
        spark.conf.set("spark.graft.arrow.mergeMode", "mor")
        val times = try {
          (0 until 3).map { b =>
            spark.range(b * 200L, b * 200L + 200L)
              .select(col("id").as("key"), lit(1L).as("d"))
              .createOrReplaceTempView("cdc_probe_src")
            val (_, ms) = timed {
              graft.sources.ArrowCdcApply.applyBatch(spark, d,
                  "cdc_probe", b.toLong) {
                ArrowDml.sql(spark, d,
                  s"MERGE INTO graft.`$d` t USING cdc_probe_src c " +
                    "ON t.key = c.key " +
                    "WHEN MATCHED THEN UPDATE SET payload = 'redacted' " +
                    "WHEN NOT MATCHED THEN INSERT (key, k, payload) " +
                    "VALUES (c.key, -1, 'new')")
                ()
              }
            }
            ms
          }
        } finally spark.conf.unset("spark.graft.arrow.mergeMode")
        println(f"  CDC-apply (200-key MERGE mor batch) at $nf%5d files: " +
          times.map(t => f"$t%.0f ms").mkString(", ") +
          f" (median ${times.sorted.apply(1)}%.0f ms/batch)")
        times.sorted.apply(1)
      }
      println(f"  per-batch cost 300->3000 files (10x): " +
        f"${perBatch.last / perBatch.head}%.2fx")

      // the mitigation, measured: a key-CLUSTERED table + the batch's
      // static key bounds ANDed into the ON clause
      // (ArrowCdcApply.keyBounds) — the pushed bounds reach the target
      // scan's file-stats pruning, so the find-scan opens only the
      // files overlapping the batch's key range instead of every live
      // file. Same 3000 files, same batches.
      {
        val d = s"$base/cdck"
        spark.range(0, cdcRows)
          .select(col("id").as("key"), (col("id") % 1000).as("k"),
            sha2(col("id").cast("string"), 256).as("payload"))
          .repartitionByRange(3000, col("key"))
          .write.format("arrow-ipc").mode("overwrite").save(d)
        spark.conf.set("spark.graft.arrow.mergeMode", "mor")
        val times = try {
          (0 until 3).map { b =>
            val batch = spark.range(b * 200L, b * 200L + 200L)
              .select(col("id").as("key"), lit(1L).as("d"))
            batch.createOrReplaceTempView("cdc_probe_src")
            val bounds = graft.sources.ArrowCdcApply
              .keyBounds(batch, "key", "t").get
            val (_, ms) = timed {
              graft.sources.ArrowCdcApply.applyBatch(spark, d,
                  "cdc_probe_k", b.toLong) {
                ArrowDml.sql(spark, d,
                  s"MERGE INTO graft.`$d` t USING cdc_probe_src c " +
                    s"ON t.key = c.key AND $bounds " +
                    "WHEN MATCHED THEN UPDATE SET payload = 'redacted' " +
                    "WHEN NOT MATCHED THEN INSERT (key, k, payload) " +
                    "VALUES (c.key, -1, 'new')")
                ()
              }
            }
            ms
          }
        } finally spark.conf.unset("spark.graft.arrow.mergeMode")
        println(f"  CDC-apply CLUSTERED + keyBounds at  3000 files: " +
          times.map(t => f"$t%.0f ms").mkString(", ") +
          f" (median ${times.sorted.apply(1)}%.0f ms/batch, " +
          f"${perBatch.last / times.sorted.apply(1)}%.1fx cheaper than " +
          "unclustered-unbounded at the same file count)")
      }

      // ── 1d. EQUALITY DELETES (round 13): the UNCLUSTERED answer — the
      // upsert commits its key set as one tombstone + its rows as data
      // files WITHOUT reading the target, so the per-batch cost must be
      // FLAT in the table's file count (the MERGE legs above are the
      // O(live files) baseline this path exists to beat). Same 200-key
      // batches, same unclustered 300- and 3000-file tables. ─────────────
      {
        val eqBatch = Seq(300, 3000).map { nf =>
          val d = s"$base/eq$nf"
          spark.range(0, cdcRows)
            .select(col("id").as("key"), (col("id") % 1000).as("k"),
              sha2(col("id").cast("string"), 256).as("payload"))
            .repartition(nf, col("key"))
            .write.format("arrow-ipc").mode("overwrite").save(d)
          val times = (0 until 3).map { b =>
            val batch = spark.range(b * 200L, b * 200L + 200L)
              .select(col("id").as("key"), lit(-1L).as("k"),
                lit("new").as("payload"))
            val (_, ms) = timed {
              graft.sources.ArrowCdcApply.applyBatch(spark, d,
                  "eq_probe", b.toLong) {
                graft.sources.ArrowEqualityDeletes.upsertBatch(
                  spark, d, "key", batch)
                ()
              }
            }
            ms
          }
          println(f"  eq-upsert  (200-key tombstone batch) at $nf%5d files: " +
            times.map(t => f"$t%.0f ms").mkString(", ") +
            f" (median ${times.sorted.apply(1)}%.0f ms/batch)")
          (d, times.sorted.apply(1))
        }
        val ratio = eqBatch.last._2 / eqBatch.head._2
        println(f"  eq per-batch cost 300->3000 files (10x): $ratio%.2fx " +
          f"(vs MERGE's ${perBatch.last / perBatch.head}%.2fx); at 3000 " +
          f"files eq is ${perBatch.last / eqBatch.last._2}%.1fx cheaper " +
          "than the unclustered MERGE")
        // correctness sanity + the READ TAX while tombstones live + the
        // fold's cost on the 3000-file table
        val d = eqBatch.last._1
        def scanAgg(): (Long, Double) = {
          val q = spark.read.format("arrow-ipc").load(d)
            .agg(sum(col("key")), count(lit(1)))
          q.collect() // warm plan/codegen
          val runs = (0 until 3).map(_ => timed(q.collect()))
          (runs.head._1.head.getLong(1), runs.map(_._2).sorted.apply(1))
        }
        val (cnt, tombMs) = scanAgg()
        require(cnt == cdcRows,
          s"eq probe: count $cnt != $cdcRows after 3 upsert waves")
        val (f, foldMs) = timed(
          graft.sources.ArrowEqualityDeletes.fold(spark, d))
        val (cnt2, foldedMs) = scanAgg()
        require(cnt2 == cdcRows, s"eq probe: fold changed count to $cnt2")
        println(f"  fold of ${f.tombstones} tombstones " +
          f"(${f.rows} masked rows, ${f.filesMasked} files): $foldMs%.0f ms")
        println(f"  eq read tax: full-scan agg (median-of-3) $tombMs%.0f ms " +
          f"with live tombstones vs $foldedMs%.0f ms after the fold " +
          f"(${tombMs / foldedMs}%.2fx — the per-row key probe is O(1) " +
          "per row; at this tombstone count it sits in run-to-run noise)")

        // ── 1e. FOLD KEY-PRUNING (round 14): planning intersects each
        // tombstone's keys with the per-file stats interval (small
        // tombstones enumerate keys; large ones use the range sidecar),
        // so the eqEmit=deleted scan reads candidate files only — fold
        // cost ∝ masked files, not table files. Proven structurally
        // (planned partitions) and by wall time on a 600-file
        // key-clustered table with the same 3 x 200-key batches. ────────
        {
          val dc = s"$base/eqclustered"
          spark.range(0, cdcRows)
            .select(col("id").as("key"), (col("id") % 1000).as("k"),
              sha2(col("id").cast("string"), 256).as("payload"))
            .repartitionByRange(600, col("key"))
            .write.format("arrow-ipc").mode("overwrite").save(dc)
          (0 until 3).foreach { b =>
            graft.sources.ArrowEqualityDeletes.upsertBatch(spark, dc, "key",
              spark.range(b * 200L, b * 200L + 200L)
                .select(col("id").as("key"), lit(-1L).as("k"),
                  lit("new").as("payload")))
          }
          val totalFiles = Option(fs.globStatus(new Path(dc, "part-*.arrows")))
            .getOrElse(Array.empty).length
          val planned = spark.read.format("arrow-ipc")
            .option("eqEmit", "deleted").load(dc)
            .select(col(graft.sources.ArrowRowLevel.FileColumn),
              col(graft.sources.ArrowRowLevel.PosColumn))
            .rdd.getNumPartitions
          val (fc, foldClMs) = timed(
            graft.sources.ArrowEqualityDeletes.fold(spark, dc))
          // disjoint 200-key ranges: each tombstone masks exactly its
          // keys' seed images — 600 masked rows total
          require(fc.rows == 600L,
            s"eq clustered fold masked ${fc.rows} rows, expected 600")
          println(f"  fold KEY-PRUNED (clustered, $totalFiles files, 600 " +
            f"keys in 3 tombstones): planned $planned candidate files " +
            f"(of $totalFiles), ${fc.filesMasked} actually masked, " +
            f"$foldClMs%.0f ms (vs $foldMs%.0f ms for the ${f.filesMasked}" +
            f"-file unclustered fold above)")
        }
      }
    }

    // ── 2. the read tax ──────────────────────────────────────────────────
    def scanMs(dir: String, label: String): (Double, Long) = {
      val q = spark.read.format("arrow-ipc").load(dir)
        .agg(sum(col("id")), count(lit(1)))
      q.collect() // warm plan/codegen
      val (r, ms) = timed(q.collect())
      println(f"  $label%-46s $ms%8.0f ms (cnt=${r.head.getLong(1)})")
      (ms, r.head.getLong(1))
    }
    println("full-scan aggregate (sum+count), median-of-1 after warm:")
    val clean = s"$base/clean"; build(clean)
    val (cleanMs, _) = scanMs(clean, "clean table (zero-copy columnar)")
    val (maskedMs, maskedCnt) = scanMs(morDir, "vector-carrying table (columnar + remap)")
    ArrowMaintenance.compact(spark, morDir)
    require(ArrowDeleteVectors.live(fs, new Path(morDir)).isEmpty)
    val (foldedMs, foldedCnt) = scanMs(morDir, "after compaction folds (columnar again)")
    require(maskedCnt == foldedCnt, "fold changed the result")
    println(f"  read tax while vectors live: ${maskedMs / cleanMs}%.1fx; " +
      f"after fold: ${foldedMs / cleanMs}%.2fx")

    // ── 2b. AUTO VECTOR-DEBT under sustained churn (round 12): waves of
    // point deletes with ONLY a nightly vacuum(θ=0.2) between them — no
    // manual CALL purge anywhere. The policy must hold the masked
    // fraction (and with it the read tax) bounded: debt grows ~3% per
    // wave, vacuum collects any file past θ, so the fraction sawtooths
    // under θ+wave instead of growing without bound. ───────────────────
    {
      val d = s"$base/churn"; build(d)
      val dPath = new Path(d)
      def maskedFrac: Double = {
        val dvs = ArrowDeleteVectors.live(fs, dPath)
        if (dvs.isEmpty) return 0.0
        val stats = graft.sources.ArrowFileStats.read(fs, dPath)
        dvs.map { case (n, ref) =>
          ref.card.toDouble / math.max(1L, stats.get(n).map(_.rows).getOrElse(1L))
        }.max
      }
      val q = spark.read.format("arrow-ipc").load(d).agg(sum(col("id")), count(lit(1)))
      q.collect() // warm
      val (_, cleanChurnMs) = timed(q.collect())
      var maxFrac = 0.0; var purgedFiles = 0
      val waveMs = (0 until 12).map { w =>
        ArrowDeleteVectors.deleteMor(spark, d,
          s"k >= ${w * 30} AND k < ${w * 30 + 30}") // a fresh 3% slice
        maxFrac = math.max(maxFrac, maskedFrac)
        val v = ArrowMaintenance.vacuum(spark, d,
          purgeMaskedAbove = Some(0.2))
        purgedFiles += v.purged.map(_.oldFiles).getOrElse(0)
        require(maskedFrac < 0.2, "vacuum left a file past the threshold")
        val (_, ms) = timed(q.collect())
        ms
      }
      println(f"  churn: 12 delete waves (3%%/wave) + nightly vacuum(0.2), " +
        f"NO manual purge: max masked fraction $maxFrac%.2f (bounded), " +
        f"$purgedFiles files auto-purged, scan ${waveMs.max / cleanChurnMs}%.1fx " +
        f"worst / ${waveMs.last / cleanChurnMs}%.1fx final vs clean " +
        f"($cleanChurnMs%.0f ms)")
    }

    // ── 3. codec density ─────────────────────────────────────────────────
    println("codec density (delta-varint over sorted positions):")
    Seq(1000, 100000, 1000000).foreach { n =>
      val rnd = new java.util.Random(7)
      val ps = Array.fill(n)(math.abs(rnd.nextLong()) % (n * 20L))
        .distinct.sorted
      val bytes = ArrowDeleteVectors.encode(ps).length
      println(f"  ${ps.length}%8d positions -> $bytes%9d bytes " +
        f"(${bytes.toDouble / ps.length}%.2f B/position)")
    }
    println("MOR PROBE DONE")
    spark.stop()
  }
}
