package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only probe: quantifies N-GENERATION partition-evolution reads at
  * the many-partitions shape (round 14 removed the one-standing-hive-
  * generation bound). Builds ONE table that evolved twice without ever
  * rewriting data —
  *   gen A: flat, range-clustered on `a` (64 files);
  *   gen B: hive on `a` (P value dirs), via evolvePartitioning + append;
  *   gen C: hive on `b` (P value dirs, b correlated with a), same way —
  * then times, for each filter shape, planning (discovery + pruning +
  * describe) and execution, and prints the scan's own admission counts:
  *
  *   1. filter on `a`: gen B prunes by DISCOVERY (1/P dirs listed in),
  *      gens A and C prune by per-file DATA stats (a is clustered in A;
  *      b≡a makes C's dirs a-constant) — admitted files must be O(1)
  *      out of ~2P+64 while only gen C pays an O(P) dir listing;
  *   2. filter on `b`: the mirror image (C discovers, A+B stats-prune);
  *   3. unfiltered count: all generations, manifest-only aggregate push.
  *
  * The single-generation hive table of the same row count is the
  * baseline — the delta is the true cost of carrying history as
  * metadata instead of rewriting 100 TB on every partition-key change.
  * Run: sbt "runMain graft.tools.EvolutionScaleProbe [dirsPerGen]"
  * (log: tools/evolution_scale_probe.log) */
object EvolutionScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("EvolutionScaleProbe", "local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    if (args.contains("race")) {
      unifyRace(spark,
        args.filter(_ != "race").headOption.map(_.toInt).getOrElse(45))
      spark.stop(); return
    }
    if (args.contains("stream-race")) {
      streamRace(spark,
        args.filter(_ != "stream-race").headOption.map(_.toInt).getOrElse(60))
      spark.stop(); return
    }

    val partitions = args.headOption.map(_.toInt).getOrElse(300)
    val rowsPer = 2000
    val base = "/tmp/graft_scale/evolution_probe"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val dir = s"$base/t"

    def gen(lo: Long) = spark.range(lo, lo + partitions.toLong * rowsPer)
      .select(
        concat(lit("p"), format_string("%04d",
          (col("id") % partitions).cast("int"))).as("a"),
        concat(lit("q"), format_string("%04d",
          (col("id") % partitions).cast("int"))).as("b"),
        col("id").as("v"))

    def timed[T](what: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[evo-probe] $what%-52s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    timed(s"gen A: flat write, range-clustered on a (64 files)") {
      gen(0).repartitionByRange(64, col("a"))
        .write.format("arrow-ipc").mode("overwrite").save(dir)
    }
    timed(s"evolve to hive(a) + gen B append ($partitions dirs)") {
      graft.sources.ArrowMaintenance.evolvePartitioning(spark, dir, Seq("a"))
      gen(1000000).write.format("arrow-ipc").mode("append").save(dir)
    }
    timed(s"evolve to hive(b) + gen C append ($partitions dirs)") {
      graft.sources.ArrowMaintenance.evolvePartitioning(spark, dir, Seq("b"))
      gen(2000000).write.format("arrow-ipc").mode("append").save(dir)
    }
    timed(s"baseline: single-generation hive(a), same total rows") {
      gen(0).unionAll(gen(1000000)).unionAll(gen(2000000))
        .write.format("arrow-ipc").option("hivePartitionKeys", "a")
        .mode("overwrite").save(s"$base/single")
    }

    def desc(q: org.apache.spark.sql.DataFrame): String =
      q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.description()
      }.mkString(" ")
    def admission(d: String): String =
      ("files=\\S+|dirs=\\S+|hive=\\[[^\\]]*\\]".r
        .findAllIn(d)).mkString(" ")

    // each key value appears once per generation: 3 * rowsPer rows
    for ((c, label) <- Seq(("a", "discovery(B) + stats(A,C)"),
        ("b", "discovery(C) + stats(A,B)"))) {
      val sel = spark.read.format("arrow-ipc").load(dir)
        .filter(col(c) === (if (c == "a") "p0007" else "q0007"))
      val d = timed(s"3-gen: filter $c plan — $label") { desc(sel) }
      println(s"[evo-probe]   scan: ${admission(d)}")
      timed(s"3-gen: filter $c execute") {
        assert(sel.agg(count(lit(1))).head().getLong(0) == 3L * rowsPer)
      }
    }
    timed("3-gen: unfiltered count (manifest-only push)") {
      assert(spark.read.format("arrow-ipc").load(dir)
        .agg(count(lit(1))).head().getLong(0) == 3L * partitions * rowsPer)
    }
    val selS = spark.read.format("arrow-ipc").load(s"$base/single")
      .filter(col("a") === "p0007")
    val dS = timed("baseline: filter a plan (single generation)") { desc(selS) }
    println(s"[evo-probe]   scan: ${admission(dS)}")
    timed("baseline: filter a execute") {
      assert(selS.agg(count(lit(1))).head().getLong(0) == 3L * rowsPer)
    }

    // ── incremental unification (round 15): drain one generation per
    // call — per-call cost tracks the DRAINED generation's bytes (the
    // whole-table cluster below, on an identical twin, is the old price:
    // one rewrite of everything), reads stay green mid-drain, and the
    // streaming refusal lifts after the last drain ──
    val total = 3L * partitions * rowsPer
    def checksum(): Long = spark.read.format("arrow-ipc").load(dir)
      .agg(sum(col("v"))).head().getLong(0)
    val sumBefore = checksum()
    val twin = s"$base/twin"
    timed("twin: rebuild the same 3-generation table") {
      gen(0).repartitionByRange(64, col("a"))
        .write.format("arrow-ipc").mode("overwrite").save(twin)
      graft.sources.ArrowMaintenance.evolvePartitioning(spark, twin, Seq("a"))
      gen(1000000).write.format("arrow-ipc").mode("append").save(twin)
      graft.sources.ArrowMaintenance.evolvePartitioning(spark, twin, Seq("b"))
      gen(2000000).write.format("arrow-ipc").mode("append").save(twin)
    }
    timed("twin: WHOLE-TABLE cluster unify (the old price)") {
      assert(graft.sources.ArrowMaintenance.cluster(spark, twin, Seq("v"))
        .isDefined)
    }
    val u1 = timed("unify 1: drain flat gen A (64 files)") {
      graft.sources.ArrowMaintenance.unifyGeneration(spark, dir).get
    }
    println(s"[evo-probe]   drained=${u1.drained.map(g =>
      if (g.isEmpty) "(flat)" else g.mkString(","))
      .getOrElse("(none)")} files ${u1.oldFiles}->${u1.newFiles} " +
      s"gens_remaining=${u1.generationsRemaining}")
    timed("mid-drain: unfiltered count + checksum (reads green)") {
      assert(spark.read.format("arrow-ipc").load(dir)
        .agg(count(lit(1))).head().getLong(0) == total)
      assert(checksum() == sumBefore)
    }
    val u2 = timed(s"unify 2: drain hive(a) gen B ($partitions dirs)") {
      graft.sources.ArrowMaintenance.unifyGeneration(spark, dir).get
    }
    println(s"[evo-probe]   drained=${u2.drained.map(g =>
      if (g.isEmpty) "(flat)" else g.mkString(","))
      .getOrElse("(none)")} files ${u2.oldFiles}->${u2.newFiles} " +
      s"gens_remaining=${u2.generationsRemaining}")
    assert(u2.generationsRemaining == 1, "table not unified after drain 2")
    timed("post-unify: count + checksum + streaming resumes") {
      assert(spark.read.format("arrow-ipc").load(dir)
        .agg(count(lit(1))).head().getLong(0) == total)
      assert(checksum() == sumBefore)
      val sq = spark.readStream.format("arrow-ipc").load(dir)
        .writeStream.format("memory").queryName("evo_unify_stream")
        .option("checkpointLocation", s"$base/ckpt_unify").start()
      try {
        sq.processAllAvailable()
        assert(spark.table("evo_unify_stream").count() == total)
      } finally sq.stop()
    }
    // cost ∝ the DRAINED generation, not the table: a tiny old
    // generation drains in ~constant time while a 100×-bigger current
    // generation stands untouched
    val skew = s"$base/skew"
    timed(s"skew table: tiny flat gen (4k rows) + big hive(a) current " +
        s"(${partitions.toLong * rowsPer} rows)") {
      gen(0).limit(4000).repartition(4)
        .write.format("arrow-ipc").mode("overwrite").save(skew)
      graft.sources.ArrowMaintenance.evolvePartitioning(spark, skew, Seq("a"))
      gen(1000000).write.format("arrow-ipc").mode("append").save(skew)
    }
    val u3 = timed("unify skew: drain the 4k-row flat gen only") {
      graft.sources.ArrowMaintenance.unifyGeneration(spark, skew).get
    }
    println(s"[evo-probe]   drained=(flat) files ${u3.oldFiles}->${u3.newFiles} " +
      s"gens_remaining=${u3.generationsRemaining}")
    assert(u3.generationsRemaining == 1)
    spark.stop()
  }

  /** RACE mode (round 15): `runMain graft.tools.EvolutionScaleProbe race
    * [secs]` — unifyGeneration drains the old generations of a table a
    * live appender keeps writing to (current generation) while a reader
    * asserts, against every committed state, that the seed rows are
    * exactly-once and the total never shrinks. The drain's swap validates
    * its olds under the commit lock like every maintenance rewrite —
    * concurrent appends land NEW files (never in the drained set), and a
    * lost race refuses loudly and is retried by contract. Final gate:
    * every id exactly once, single generation, fresh streaming read
    * agrees. */
  private def unifyRace(spark: SparkSession, secs: Int): Unit = {
    val dir = s"/tmp/graft_scale/evolution_race_${System.nanoTime()}/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seedN = 200000L
    // seed: a fat flat generation + a p-hive generation, then evolve to
    // q-hive so BOTH stand old while the appender feeds the current gen
    def shaped(df: org.apache.spark.sql.Dataset[java.lang.Long]) =
      df.select(col("id"), (col("id") % 7).as("p"), (col("id") % 3).as("q"))
    shaped(spark.range(0, seedN)).repartition(16)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    graft.sources.ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    shaped(spark.range(seedN, 2 * seedN))
      .write.format("arrow-ipc").mode("append").save(dir)
    graft.sources.ArrowMaintenance.evolvePartitioning(spark, dir, Seq("q"))
    println(s"[evo-race] hammering $dir for ${secs}s: appender vs " +
      "unifyGeneration vs reader")
    val deadline = System.nanoTime() + secs * 1000000000L
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appended = new java.util.concurrent.atomic.AtomicLong(0)
    val unified = new java.util.concurrent.atomic.AtomicLong(0)
    val refused = new java.util.concurrent.atomic.AtomicLong(0)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var gensLeft = 3
    def guard(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        errs.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val appender = new Thread(() => {
      var base = 1000000000L
      while (System.nanoTime() < deadline && errs.isEmpty) guard("appender") {
        val n = 2000L
        shaped(spark.range(base, base + n)).coalesce(2)
          .write.format("arrow-ipc").mode("append").save(dir)
        appended.addAndGet(n); base += n
        Thread.sleep(150)
      }
    }, "appender")
    val unifier = new Thread(() => {
      while (System.nanoTime() < deadline && errs.isEmpty && gensLeft > 1)
        guard("unifier") {
          Thread.sleep(500)
          try graft.sources.ArrowMaintenance.unifyGeneration(spark, dir)
            .foreach { u => unified.incrementAndGet()
              gensLeft = u.generationsRemaining }
          catch {
            case _: graft.sources.ArrowOcc.CommitConflictException =>
              refused.incrementAndGet()
          }
        }
    }, "unifier")
    val reader = new Thread(() => {
      var lastTotal = 0L
      while (System.nanoTime() < deadline && errs.isEmpty) guard("reader") {
        Thread.sleep(700)
        val t = spark.read.format("arrow-ipc").load(dir)
        val seeds = t.filter(col("id") < 2 * seedN).count()
        val total = t.count()
        if (seeds != 2 * seedN)
          errs.add(s"reader: seed rows $seeds != ${2 * seedN}")
        if (total < lastTotal)
          errs.add(s"reader: total shrank $lastTotal -> $total")
        lastTotal = total; reads.incrementAndGet()
      }
    }, "reader")
    val threads = Seq(appender, unifier, reader)
    threads.foreach(_.start()); threads.foreach(_.join())
    // finish the drain if the clock beat it, then the exact final gate
    while (graft.sources.ArrowMaintenance.unifyGeneration(spark, dir)
      .exists(_.generationsRemaining > 1)) ()
    val t = spark.read.format("arrow-ipc").load(dir)
    val total = t.count()
    val distinct = t.select("id").distinct().count()
    val expect = 2 * seedN + appended.get
    val gens = graft.sources.ArrowHiveLayout.readGenerations(
      fs, new org.apache.hadoop.fs.Path(dir))
    println(s"[evo-race] appended=${appended.get} drains=${unified.get} " +
      s"refused=${refused.get} reads=${reads.get} count=$total " +
      s"distinct=$distinct expected=$expect gens=${gens.size}")
    var ok = errs.isEmpty
    errs.forEach(e => println(s"[evo-race]   FAILURE: $e"))
    if (total != expect || distinct != expect) {
      println(s"[evo-race] FINAL: count/distinct mismatch"); ok = false }
    if (gens.size != 1) {
      println(s"[evo-race] FINAL: not unified: $gens"); ok = false }
    if (ok) {
      val sq = spark.readStream.format("arrow-ipc").load(dir)
        .writeStream.format("memory").queryName("evo_race_stream")
        .option("checkpointLocation",
          s"/tmp/graft_scale/evolution_race_ck_${System.nanoTime()}").start()
      try {
        sq.processAllAvailable()
        val sc = spark.table("evo_race_stream").count()
        if (sc != expect) {
          println(s"[evo-race] FINAL: streaming read $sc != $expect")
          ok = false
        }
      } finally sq.stop()
    }
    println(if (ok) "[evo-race] ALL INVARIANTS HELD"
      else "[evo-race] INVARIANTS VIOLATED")
    if (!ok) { spark.stop(); sys.exit(1) }
  }

  /** STREAM-RACE mode (round 16): `runMain graft.tools.EvolutionScaleProbe
    * stream-race [secs]` — a LIVE Structured Streaming sink commits
    * epochs into the CURRENT generation continuously (rate source, no
    * pauses) while `unifyGeneration` drains the old generations and a
    * reader checks every committed state. This is the probe for the
    * generation-targeted collapse fence's LIVENESS claim: the table must
    * reach generations_remaining == 1 WITHOUT quiescing ingest (round
    * 15's global fence deferred every collapse while ANY write was in
    * flight anywhere — under continuous epochs the bookkeeping starved).
    * It also exercises the fence's stream-epoch soundness side: epoch
    * files are hidden until their ledger flip, and the collapse must
    * never strand one (final gate: every seed row and every streamed
    * rate value exactly once — streamed ids must form a contiguous
    * range, the rate source's exactly-once signature). */
  private def streamRace(spark: SparkSession, secs: Int): Unit = {
    val base = s"/tmp/graft_scale/evolution_stream_race_${System.nanoTime()}"
    val dir = s"$base/t"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seedN = 600000L // fat enough that each drain races dozens of epochs
    def shaped(df: org.apache.spark.sql.Dataset[java.lang.Long]) =
      df.select(col("id"), (col("id") % 7).as("p"), (col("id") % 3).as("q"))
    // seed: fat flat generation + p-hive generation, then evolve to
    // q-hive — TWO old generations stand while the stream feeds the
    // current one
    shaped(spark.range(0, seedN)).repartition(16)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    graft.sources.ArrowMaintenance.evolvePartitioning(spark, dir, Seq("p"))
    shaped(spark.range(seedN, 2 * seedN))
      .write.format("arrow-ipc").mode("append").save(dir)
    graft.sources.ArrowMaintenance.evolvePartitioning(spark, dir, Seq("q"))
    val streamBase = 1000000000L
    val sq = spark.readStream.format("rate")
      .option("rowsPerSecond", 4000).load()
      // coalesce pins id non-nullable, matching the seed's schema (the
      // sink requires identical schemas, nullability included)
      .select(coalesce(col("value") + streamBase, lit(0L)).as("id"),
        (col("value") % 7).as("p"), (col("value") % 3).as("q"))
      .writeStream.format("arrow-ipc")
      .option("checkpointLocation", s"$base/ckpt")
      .start(dir) // option-less: each epoch inherits the CURRENT keys (q)
    println(s"[evo-sstream] hammering $dir for up to ${secs}s: live " +
      "streaming sink (4000 rows/s into the current generation) vs " +
      "unifyGeneration vs reader — NO quiescing")
    val deadline = System.nanoTime() + secs * 1000000000L
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    @volatile var unifiedAtNs = -1L
    val reader = new Thread(() => {
      var lastTotal = 0L
      while (System.nanoTime() < deadline && errs.isEmpty &&
          unifiedAtNs < 0) {
        try {
          Thread.sleep(700)
          val t = spark.read.format("arrow-ipc").load(dir)
          val seeds = t.filter(col("id") < 2 * seedN).count()
          val total = t.count()
          if (seeds != 2 * seedN)
            errs.add(s"reader: seed rows $seeds != ${2 * seedN}")
          if (total < lastTotal)
            errs.add(s"reader: total shrank $lastTotal -> $total")
          lastTotal = total; reads.incrementAndGet()
        } catch { case e: Throwable =>
          errs.add(s"reader: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
    }, "sstream-reader")
    reader.start()
    val t0 = System.nanoTime()
    var drains = 0
    var refused = 0
    var gens = 3
    try {
      while (gens > 1 && System.nanoTime() < deadline && errs.isEmpty) {
        try graft.sources.ArrowMaintenance.unifyGeneration(spark, dir)
          .foreach { u => drains += 1; gens = u.generationsRemaining }
        catch {
          case _: graft.sources.ArrowOcc.CommitConflictException =>
            refused += 1
        }
        Thread.sleep(200)
      }
      if (gens == 1) unifiedAtNs = System.nanoTime()
      // the LIVENESS gate: unified while the stream never stopped
      if (gens != 1)
        errs.add(s"liveness: still $gens generations after ${secs}s of " +
          "draining under continuous ingest — the collapse starved")
      // let the stream keep committing POST-unify epochs before stopping
      Thread.sleep(2000)
    } finally {
      reader.join(5000)
      sq.processAllAvailable()
      sq.stop()
    }
    val unifiedIn = (unifiedAtNs - t0) / 1e9
    val t = spark.read.format("arrow-ipc").load(dir)
    val total = t.count()
    val distinct = t.select("id").distinct().count()
    val streamed = t.filter(col("id") >= streamBase)
      .agg(count(lit(1)), min(col("id")), max(col("id")))
      .head()
    val (sCount, sMin, sMax) =
      (streamed.getLong(0), streamed.getLong(1), streamed.getLong(2))
    val gensFinal = graft.sources.ArrowHiveLayout.readGenerations(
      fs, new org.apache.hadoop.fs.Path(dir)).size
    println(f"[evo-sstream] unified_in=$unifiedIn%.1fs (stream live " +
      s"throughout) drains=$drains refused=$refused reads=${reads.get} " +
      s"count=$total distinct=$distinct streamed=$sCount gens=$gensFinal")
    if (total != distinct)
      errs.add(s"final: $total rows but $distinct distinct ids")
    if (total != 2 * seedN + sCount)
      errs.add(s"final: seeds lost ($total != ${2 * seedN} + $sCount)")
    // rate values are contiguous: exactly-once means the streamed ids
    // form the unbroken range [streamBase, streamBase + sCount)
    if (sCount == 0)
      errs.add("final: the stream committed nothing")
    else if (sMin != streamBase || sMax - sMin + 1 != sCount)
      errs.add(s"final: streamed ids not contiguous " +
        s"($sMin..$sMax, count=$sCount) — an epoch was lost or doubled")
    if (gensFinal != 1)
      errs.add(s"final: $gensFinal generations declared")
    errs.forEach(e => println(s"[evo-sstream]   FAILURE: $e"))
    println(if (errs.isEmpty) "[evo-sstream] ALL INVARIANTS HELD"
      else "[evo-sstream] INVARIANTS VIOLATED")
    if (!errs.isEmpty) { spark.stop(); sys.exit(1) }
  }
}
