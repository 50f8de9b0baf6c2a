package graft.tools

import org.apache.hadoop.fs.Path

import graft.sources.ArrowSnapshots

/** Dev-only probe: quantifies the snapshot-log TIP POINTER on the
  * deep-history shape (a long-lived streaming ingest: one log entry per
  * epoch, thousands of entries between expiries). Builds a log of N
  * delta entries, then times the per-commit id-assignment path
  * ([[ArrowSnapshots.currentTip]]):
  *
  *   1. WITH the `_tip` pointer — read one small file + one existence
  *      probe, O(1) regardless of history depth;
  *   2. WITHOUT it (pointer deleted — the pre-round-10 shape): one full
  *      `_snapshots/` directory listing per commit, O(history);
  *
  * plus the change-feed idle poll (tip fast path vs the listing). The
  * point is the 100 TB ingest loop: an epoch commit's metadata cost must
  * not grow with how long the table has lived.
  */
object SnapshotScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("SnapshotScaleProbe", "local[4]")
    val n = args.headOption.map(_.toInt).getOrElse(5000)
    val dirPath = new Path(s"/tmp/graft_scale/snapshot_probe_$n")
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(dirPath, true)
    fs.mkdirs(dirPath)

    println(s"building a $n-entry snapshot log (one delta per 'epoch')...")
    val t0 = System.nanoTime()
    (1 to n).foreach(i => ArrowSnapshots.append(fs, dirPath, Seq(s"f$i"), Nil))
    println(f"  built in ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      f"(${(System.nanoTime() - t0) / 1e6 / n}%.2f ms/append, tip-assisted)")

    def time(what: String, reps: Int)(body: => Long): Double = {
      val t = System.nanoTime()
      var last = 0L
      (0 until reps).foreach(_ => last = body)
      val ms = (System.nanoTime() - t) / 1e6 / reps
      println(f"  $what%-42s $ms%8.2f ms/op (tip=$last)")
      ms
    }

    println(s"per-commit id assignment at history depth $n:")
    val withTip = time("currentTip WITH the pointer", 50) {
      ArrowSnapshots.currentTip(fs, dirPath)
    }
    val tip = new Path(dirPath, "_snapshots/_tip")
    val noTip = time("currentTip WITHOUT it (full listing)", 10) {
      fs.delete(tip, false)
      ArrowSnapshots.currentTip(fs, dirPath)
    }
    println(f"  ratio: ${noTip / withTip}%.0fx — and the listing cost " +
      "grows with history while the pointer stays flat")
    // restore for the id-listing measurement below
    ArrowSnapshots.append(fs, dirPath, Seq("restore"), Nil)

    println("admission-control poll shapes:")
    val listing = time("listIds (filenames only, no parse)", 10) {
      ArrowSnapshots.listIds(fs, dirPath).size.toLong
    }
    time("read (full entry parse — batch planning)", 3) {
      ArrowSnapshots.read(fs, dirPath).size.toLong
    }

    // round 11: the DATA-PENDING poll — the tip moved, a steady-state
    // stream admits the (from, tip] window. Must be flat in history
    // depth (O(delta) direct construction), where the round-10 shape
    // paid the full listing above on every data-carrying trigger.
    println("data-pending poll (tip moved; admit a 3-snapshot window):")
    val tipNow = ArrowSnapshots.currentTip(fs, dirPath)
    val pending = time(s"idsAfter at history depth ${n + 1}", 200) {
      ArrowSnapshots.idsAfter(fs, dirPath, tipNow - 3, tipNow)
        .map(_.size.toLong).getOrElse(-1L)
    }
    val planning = time("readRange (plan the same window)", 200) {
      ArrowSnapshots.readRange(fs, dirPath, tipNow - 3, tipNow, "probe")
        .size.toLong
    }
    println(f"  vs the full listing: ${listing / pending}%.0fx (admission) " +
      f"/ ${listing / planning}%.0fx (planning) — both flat in depth")

    // round 12: the read-only DIAGNOSTICS at depth. An unlimited CALL
    // history must parse every retained entry it reports — honestly
    // O(history); `limit` bounds the parse to the newest N (listIds
    // names + N entry reads). CALL detail walks files + manifest, not
    // the log (its only log touch is the O(1) tip read) — flat in depth.
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    println(s"read-only diagnostics at history depth ${n + 1}:")
    val histFull = time("CALL history (unlimited — O(history))", 3) {
      spark.sql(s"CALL graft.system.history('$dirPath')").count()
    }
    val histLim = time("CALL history(limit => 10)", 10) {
      spark.sql(s"CALL graft.system.history('$dirPath', limit => 10)").count()
    }
    val det = time("CALL detail (files+manifest, not log)", 10) {
      spark.sql(s"CALL graft.system.detail('$dirPath')").count()
    }
    println(f"  limited history is ${histFull / histLim}%.0fx cheaper than " +
      f"the full parse; detail ${histFull / det}%.0fx cheaper — both flat " +
      "in depth (the full parse is the documented cost of asking for " +
      "everything)")
    spark.stop()
  }
}
