package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{ArrowEqualityDeletes, ArrowMaintenance}

/** Dev-only probe: randomized concurrency stress for the EQUALITY-DELETE
  * commit surface (round 13) — the pieces the deterministic specs pin
  * one interleaving of:
  *
  *  - U upsert writers hammer ONE table with overlapping key batches;
  *    the sequence returned by each commit (assigned under the commit
  *    lock) is the ground truth's total order, so "last writer per key
  *    wins" is checkable EXACTLY;
  *  - an appender adds fresh keys through the plain append path (its
  *    files must be stamped with the current sequence — a standing
  *    tombstone must never mask them);
  *  - a folder runs ArrowEqualityDeletes.fold in a loop (tombstones →
  *    positional vectors mid-flight, racing the writers);
  *  - a reader asserts, against live committed states, that NO upsert
  *    key ever has two live images (the masking invariant under every
  *    interleaving of upserts, appends and folds).
  *
  * Final gate: fold everything, then every key's surviving value must
  * equal the value of the HIGHEST-sequence batch that carried it, the
  * row count must be exact, and no duplicates may exist anywhere.
  *
  * Run: `sbt "runMain graft.tools.EqStressProbe 60"`; log appended to
  * tools/eq_stress_probe.log by hand after a run.
  *
  * COMPOSITE mode (round 14): `runMain graft.tools.EqStressProbe 60
  * composite` runs the identical invariant set over a TWO-COLUMN
  * equality key — every contested scalar key k maps bijectively to the
  * tuple (grp = k % 50, sub = k / 50), upserts commit through
  * `upsertBatchKeys(Seq("grp", "sub"))`, and masking/last-writer-wins
  * must hold per TUPLE (tuple-sibling rows share a grp, so a
  * component-wise — rather than full-tuple — match would fail the
  * duplicate checks immediately). */
object EqStressProbe {
  def main(args: Array[String]): Unit = {
    val secs = args.headOption.map(_.toInt).getOrElse(60)
    val composite = args.contains("composite")
    val spark = graft.Engine.session("EqStressProbe", "local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    val dir = s"/tmp/graft_scale/eq_stress_${System.currentTimeMillis()}"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(dir), true)

    val K = 2000L // the contested upsert key space
    // composite mode: scalar key k <-> tuple (grp = k % 50, sub = k / 50)
    // — a bijection, so the scalar ground truth adjudicates both modes.
    // Contested subs are < K/50; the appender's (base >= 1e6) subs are
    // >= 20000, so the spaces stay disjoint in both encodings.
    def widen(df: org.apache.spark.sql.DataFrame) =
      if (!composite) df
      else df.select((col("key") % 50).as("grp"),
        expr("key div 50").as("sub"), col("v"))
    def narrowed(df: org.apache.spark.sql.DataFrame) =
      if (!composite) df.select(col("key"), col("v"))
      else df.select((col("sub") * 50 + col("grp")).as("key"), col("v"))
    val keyCols = if (composite) Seq("grp", "sub") else Seq("key")
    widen(spark.range(0, K).select(col("id").as("key"), lit(0L).as("v")))
      .repartition(4)
      .write.format("arrow-ipc").mode("overwrite").save(dir)

    // ground truth: key -> (sequence, value) of the winning batch,
    // merged by max sequence (the commit lock totally orders sequences)
    val truth = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val appended = new java.util.concurrent.atomic.AtomicLong(0)
    val upserts = new java.util.concurrent.atomic.AtomicLong(0)
    val folds = new java.util.concurrent.atomic.AtomicLong(0)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val deadline = System.nanoTime() + secs * 1000000000L
    @volatile var stop = false

    def guard(what: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          failures.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
          stop = true
      }

    // a maintenance rewrite racing ANOTHER maintenance rewrite (two
    // folders — manual + vacuum's auto-fold — or a fold vs the
    // auto-compactor) can exhaust its bounded retries: the documented
    // contract is "refuse loudly, the re-run converges" (fold is
    // idempotent; masking is idempotent), not a correctness failure.
    // The FINAL gate below still checks every invariant exactly.
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
    val maintRefused = new java.util.concurrent.atomic.AtomicLong(0)

    val threads = scala.collection.mutable.ArrayBuffer.empty[Thread]

    // U upsert writers: overlapping random key batches, value = a
    // writer-unique stamp recorded against the COMMIT's sequence
    for (w <- 0 until 3) {
      threads += new Thread(() => {
        val rnd = new java.util.Random(7701 + w)
        var n = 0L
        while (System.nanoTime() < deadline && !stop) guard(s"upserter-$w") {
          n += 1
          val stamp = (w + 1) * 1000000000000L + n
          val keys = (0 until (20 + rnd.nextInt(60)))
            .map(_ => rnd.nextLong(K)).distinct
          val batch = spark.createDataFrame(
            spark.sparkContext.parallelize(
              keys.map(k => org.apache.spark.sql.Row(k, stamp)), 2),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("key",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("v",
                org.apache.spark.sql.types.LongType))))
          val r = ArrowEqualityDeletes.upsertBatchKeys(
            spark, dir, keyCols, widen(batch))
          if (r.applied) {
            upserts.incrementAndGet()
            keys.foreach { k =>
              truth.merge(k, (r.seq, stamp),
                (a, b) => if (a._1 >= b._1) a else b)
            }
          }
        }
      }, s"upserter-$w")
    }

    // appender: fresh keys through the PLAIN append path (sequence
    // stamping under the append's own commit)
    threads += new Thread(() => {
      var base = 1000000L
      while (System.nanoTime() < deadline && !stop) guard("appender") {
        val n = 25L
        widen(spark.range(base, base + n)
            .select(col("id").as("key"), lit(-9L).as("v")))
          .coalesce(1)
          .write.format("arrow-ipc").mode("append").save(dir)
        appended.addAndGet(n)
        base += n
        Thread.sleep(400)
      }
    }, "appender")

    // folder: tombstones → positional vectors, racing everything
    // (including, round 15, vacuum's auto-fold — fold-vs-fold conflicts
    // refuse loudly and the next iteration converges)
    threads += new Thread(() => {
      while (System.nanoTime() < deadline && !stop) guard("folder") {
        Thread.sleep(3000)
        try {
          val f = ArrowEqualityDeletes.fold(spark, dir)
          if (f.tombstones > 0) folds.incrementAndGet()
        } catch {
          case e: Throwable if refusedLoudly(e) =>
            maintRefused.incrementAndGet()
        }
      }
    }, "folder")

    // vacuumer (round 15): the nightly entry point with the OPT-IN
    // auto-compaction leg ENABLED races the upserters, appender, folder
    // and reader — the compactor fires in the windows where a fold just
    // cleared the tombstones (the leg skips while they live, and
    // degrades when one lands between its pre-check and the swap), and
    // its auto-fold leg adds a second racing folder. A retry-exhausted
    // maintenance rewrite refuses loudly by contract — counted, not a
    // failure.
    val vacuums = new java.util.concurrent.atomic.AtomicLong(0)
    val vacuumCompacted = new java.util.concurrent.atomic.AtomicLong(0)
    val vacuumRefused = new java.util.concurrent.atomic.AtomicLong(0)
    spark.conf.set("spark.graft.arrow.vacuumCompactMinSmallFiles", "6")
    threads += new Thread(() => {
      while (System.nanoTime() < deadline && !stop) guard("vacuumer") {
        Thread.sleep(1200)
        try {
          val v = ArrowMaintenance.vacuum(spark, dir)
          vacuums.incrementAndGet()
          v.compacted.foreach(c => vacuumCompacted.addAndGet(c.oldFiles))
          v.eqFolded.foreach(f =>
            if (f.tombstones > 0) folds.incrementAndGet())
        } catch {
          case e: Throwable if refusedLoudly(e) =>
            vacuumRefused.incrementAndGet()
        }
      }
    }, "vacuumer")

    // reader: every committed state must satisfy "one live image per
    // contested key"
    threads += new Thread(() => {
      while (System.nanoTime() < deadline && !stop) guard("reader") {
        Thread.sleep(1500)
        val dups = narrowed(spark.read.format("arrow-ipc").load(dir))
          .filter(col("key") < K)
          .groupBy("key").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).count()
        if (dups > 0) {
          failures.add(s"reader: $dups contested keys with DUPLICATE " +
            "live images")
          stop = true
        }
        reads.incrementAndGet()
      }
    }, "reader")

    threads.foreach(_.start())
    threads.foreach(_.join())

    println(s"probe phase done: upserts=${upserts.get} folds=${folds.get} " +
      s"appends=${appended.get} reads=${reads.get} " +
      s"vacuums=${vacuums.get} (files auto-compacted=${vacuumCompacted.get}, " +
      s"refused=${vacuumRefused.get}, fold conflicts=${maintRefused.get}) " +
      s"failures=${failures.size}")
    failures.forEach(f => println(s"  FAILURE: $f"))

    // ── final gate ───────────────────────────────────────────────────
    var ok = failures.isEmpty
    if (ok) {
      ArrowEqualityDeletes.fold(spark, dir)
      ArrowMaintenance.recover(spark, dir)
      val t = narrowed(spark.read.format("arrow-ipc").load(dir))
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val total = t.count()
        val expect = K + appended.get
        if (total != expect) {
          println(s"FINAL: count $total != expected $expect"); ok = false
        }
        val dupAny = t.groupBy("key").agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).count()
        if (dupAny != 0) {
          println(s"FINAL: $dupAny keys with duplicate images"); ok = false
        }
        // last-writer-wins, checked exactly against the sequence order
        val got = t.filter(col("key") < K)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        var wrong = 0
        truth.forEach { (k, sv) =>
          if (got.get(k) != Some(sv._2)) wrong += 1
        }
        val untouched = (0L until K).count(k =>
          !truth.containsKey(k) && got.get(k) != Some(0L))
        if (wrong > 0 || untouched > 0) {
          println(s"FINAL: $wrong keys lost their winning batch, " +
            s"$untouched untouched keys mutated"); ok = false
        }
        val appendedSurvived = t.filter(col("key") >= 1000000L).count()
        if (appendedSurvived != appended.get) {
          println(s"FINAL: appended rows $appendedSurvived != " +
            s"${appended.get} (sequence stamping failed?)"); ok = false
        }
      } finally t.unpersist(blocking = false)
    }
    println(if (ok) "ALL INVARIANTS HELD" else "INVARIANTS VIOLATED")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
