package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only probe: randomized stress over the STORED IVF index's mutating
  * faces — the same earn-it-under-race discipline every lake-layer
  * mutation path gets (eq/occ/evolution probes). Threads race on ONE
  * index directory:
  *
  *   - 2 appenders: disjoint id blocks through [[graft.ops.Similarity
  *     .ivfAppend]] (assign to frozen centroids, keyed cell append,
  *     locked generation-checked manifest commit with retry);
  *   - 2 searchers: [[graft.ops.Similarity.ivfTopKStored]] in a loop,
  *     asserting every result set is WELL-FORMED (|queries|·k rows, rk
  *     dense 1..k per query, scores non-increasing, ids from the known
  *     universe) — a torn manifest/generation read would surface here as
  *     a refusal, a missing-file error, or a malformed frame;
  *   - 1 rebuilder: periodic [[graft.ops.Similarity.ivfBuild]] over the
  *     ledger of appends completed at snapshot time — each build flips
  *     the manifest to a fresh generation mid-race.
  *
  * Post-race gates (the ledger makes visibility EXACT, not sampled):
  *   1. the manifest generation is the LAST rebuild's — no append
  *      reverted a flip (the round-16 lock/retry fix's claim);
  *   2. must-visible ⊆ visible ⊆ may-visible, where must-visible is the
  *      last rebuild's corpus ∪ blocks appended entirely after its flip,
  *      and may-visible adds only the gray blocks that raced the
  *      rebuild window (a rebuild replaces the index with exactly the
  *      corpus it was given — that contract defines the gray zone);
  *   3. exactly-once: distinct ids == rows in the final generation's
  *      cells (no block landed twice through the retry path);
  *   4. the inverted-list layout survived: every cell file single-valued
  *      on cid (the runtime-pruning claim appends must not break);
  *   5. a post-race sentinel append is immediately searchable;
  *   6. (dual mode) at most one compact flip per predecessor
  *      generation: with TWO uncoordinated compactors (the cron-overlap
  *      accident) both staging full rewrites of the same tip, exactly
  *      one may flip it — the loser must abandon its staged generation,
  *      never double-flip or double-fold. Verified from the published
  *      fold lineage (`_folded_from.json`): no two surviving links may
  *      name the same predecessor.
  *
  * Run: sbt "runMain graft.tools.AnnStressProbe [secs] [quantized] [dual]"
  * (log: tools/ann_stress_probe.log) */
object AnnStressProbe {
  private val dim = 16
  private val centers: IndexedSeq[Array[Float]] = IndexedSeq(
    Array.fill(dim)(5.0f), Array.fill(dim)(-5.0f),
    Array.tabulate(dim)(i => if (i < dim / 2) 5.0f else -5.0f),
    Array.tabulate(dim)(i => if (i < dim / 2) -5.0f else 5.0f))

  /** Deterministic vector for an id — appenders and the rebuilder must
    * regenerate IDENTICAL rows for the same id, or visibility checks
    * would chase phantom diffs. */
  private def vec(i: Long): Array[Float] = {
    val c = centers((i % 4).toInt)
    // jitter must be a NONLINEAR mix of (id, dim): an additive pattern
    // makes same-cluster vectors near-parallel (differing by a constant
    // shift), cosines tie at 9-decimal rounding, and retrieval gates
    // degenerate to the id tiebreak
    c.zipWithIndex.map { case (v, d) =>
      var h = i * 0x9E3779B97F4A7C15L ^ (d * 0xC2B2AE3D27D4EB4FL)
      h = java.lang.Long.rotateLeft(h * 0xD6E8FEB86659FD93L, 29)
      v + (((h >>> 11) % 1000L) / 2000.0f - 0.25f)
    }
  }

  def main(args: Array[String]): Unit = {
    val secs = args.filter(_.forall(_.isDigit)).headOption.map(_.toInt)
      .getOrElse(45)
    val quantized = args.contains("quantized")
    val dual = args.contains("dual")
    val spark = graft.Engine.session("AnnStressProbe", "local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.ops.Similarity

    def mk(lo: Long, hi: Long): DataFrame =
      (lo until hi).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    def mkIds(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")

    val dir = s"/tmp/graft_scale/ann_stress_${System.nanoTime()}/ix"
    val initialN = 4000L
    val blockSz = 500L
    Similarity.ivfBuild(mk(0, initialN), "vec_id", "embedding",
      nlist = 16, dir = dir, quantized = quantized)
    println(s"[ann-stress] hammering $dir for ${secs}s " +
      s"(quantized=$quantized): 2 appenders vs 2 searchers vs rebuilder" +
      (if (dual) " vs a SECOND uncoordinated compactor" else ""))

    // ── ledger ──
    // endNs is read concurrently by the rebuilder's snapshot — volatile,
    // so a completed block is never snapshotted as in-flight longer than
    // the race the invariants already tolerate
    final case class Block(lo: Long, hi: Long, startNs: Long) {
      @volatile var endNs: Long = -1L
    }
    final case class Rebuild(corpusIds: Set[Long], gen: String,
        flipDoneNs: Long)
    val blocks = new java.util.concurrent.ConcurrentLinkedQueue[Block]()
    val rebuilds = new java.util.concurrent.ConcurrentLinkedQueue[Rebuild]()
    val nextBase = new java.util.concurrent.atomic.AtomicLong(1000000L)
    val searches = new java.util.concurrent.atomic.AtomicLong(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val deadline = System.nanoTime() + secs * 1000000000L
    def guard(what: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        errs.add(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }

    def completedIds(): Set[Long] = {
      val b = scala.collection.mutable.Set.empty[Long]
      blocks.forEach(blk =>
        if (blk.endNs > 0) (blk.lo until blk.hi).foreach(b += _))
      (0L until initialN).foreach(b += _)
      b.toSet
    }

    val appenders = (1 to 2).map(n => new Thread(() => {
      while (System.nanoTime() < deadline && errs.isEmpty)
        guard(s"appender$n") {
          val lo = nextBase.getAndAdd(blockSz)
          val blk = Block(lo, lo + blockSz, System.nanoTime())
          blocks.add(blk)
          Similarity.ivfAppend(spark, dir, mk(blk.lo, blk.hi),
            "vec_id", "embedding")
          blk.endNs = System.nanoTime()
          // a small gap between blocks: back-to-back appends starve the
          // compactor's tip check on every attempt — realistic ingest has
          // lulls, and the contended path still triggers several times a
          // run at this cadence
          Thread.sleep(900)
        }
    }, s"ann-appender$n"))

    val queries = (0 until 8)
      .map(i => (i.toLong, vec(i * 37L + 3)))
      .toDF("qid", "qe")
    val k = 5
    val searchers = (1 to 2).map(n => new Thread(() => {
      while (System.nanoTime() < deadline && errs.isEmpty)
        guard(s"searcher$n") {
          val known = nextBase.get() // ids above this cannot exist yet
          val rows = Similarity.ivfTopKStored(spark, dir, queries,
            "vec_id", "embedding", "qid", "qe", k = k, nprobe = 4)
            .collect()
          if (rows.length != 8 * k)
            errs.add(s"searcher$n: ${rows.length} rows != ${8 * k}")
          rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
            val byRk = rs.sortBy(_.getAs[Int]("rk"))
            if (byRk.map(_.getAs[Int]("rk")).toSeq != (1 to k))
              errs.add(s"searcher$n: qid=$qid rk not dense 1..$k")
            val scores = byRk.map(_.getDouble(2))
            if (scores.zip(scores.tail).exists { case (a, b) => a < b })
              errs.add(s"searcher$n: qid=$qid scores not non-increasing")
            val bad = byRk.map(_.getAs[Long]("vec_id"))
              .filter(id => id >= initialN &&
                (id < 1000000L || id >= known))
            if (bad.nonEmpty)
              errs.add(s"searcher$n: ids outside the universe: " +
                bad.mkString(","))
          }
          searches.incrementAndGet()
        }
    }, s"ann-searcher$n"))

    // the maintenance thread alternates REBUILD (manifest flips to a
    // fresh corpus — visibility-eclipsing) and COMPACT (manifest flips
    // to a contents-identical regrouped generation — visibility-neutral;
    // refuses when contended by a racing append, counted, never an error)
    @volatile var lastFlipGen = ""
    val flippedGens =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val compacts = new java.util.concurrent.atomic.AtomicLong(0)
    val compactContended = new java.util.concurrent.atomic.AtomicLong(0)
    // the fold links successful compacts published — gate6's substrate.
    // A SET of (newGen, predecessor) pairs: under the dual race the two
    // threads can both observe (and record) the SAME flip's link, which
    // must not read as a double-flip
    val foldLinks =
      java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    def compactOnce(who: String): Unit =
      Similarity.ivfCompact(spark, dir, attempts = 6) match {
        case Some((o, n)) =>
          val gen = Similarity.ivfGenerationDir(spark, dir)
            .split('/').last
          lastFlipGen = gen
          flippedGens.add(gen)
          // the flip just published its lineage; record (newGen -> from)
          val link = java.nio.file.Paths.get(dir, gen, "_folded_from.json")
          if (java.nio.file.Files.exists(link)) {
            val body = new String(java.nio.file.Files.readAllBytes(link),
              java.nio.charset.StandardCharsets.UTF_8)
            "\"gen\":\"([^\"]+)\"".r.findFirstMatchIn(body)
              .foreach(m => foldLinks.add((gen, m.group(1))))
          }
          compacts.incrementAndGet()
          println(s"[ann-stress]   $who compact -> $gen ($o -> $n files)")
        case None => compactContended.incrementAndGet()
      }
    val rebuilder = new Thread(() => {
      var turn = 0
      while (System.nanoTime() < deadline && errs.isEmpty)
        guard("rebuilder") {
          Thread.sleep(8000)
          if (System.nanoTime() < deadline) {
            if (turn % 2 == 0) {
              val ids = completedIds()
              Similarity.ivfBuild(mkIds(ids.toSeq.sorted), "vec_id",
                "embedding", nlist = 16, dir = dir, quantized = quantized)
              val gen = Similarity.ivfGenerationDir(spark, dir)
                .split('/').last
              rebuilds.add(Rebuild(ids, gen, System.nanoTime()))
              lastFlipGen = gen
              flippedGens.add(gen)
              println(s"[ann-stress]   rebuild -> $gen over ${ids.size} ids")
            } else compactOnce("rebuilder")
            turn += 1
          }
        }
    }, "ann-rebuilder")
    // dual mode: a SECOND compactor on an offset cadence — the two
    // compactors regularly stage full rewrites of the same generation
    // and race the same flip (the cron-overlap accident); exactly one
    // may win, the loser abandons (counted as contended)
    val compactor2 = new Thread(() => {
      while (System.nanoTime() < deadline && errs.isEmpty)
        guard("compactor2") {
          Thread.sleep(5500)
          if (System.nanoTime() < deadline) compactOnce("compactor2")
        }
    }, "ann-compactor2")

    val threads = appenders ++ searchers ++
      (if (dual) Seq(rebuilder, compactor2) else Seq(rebuilder))
    threads.foreach(_.start()); threads.foreach(_.join())

    // ── post-race gates ──
    val lastRebuild = {
      var r: Rebuild = null
      rebuilds.forEach(x => r = x)
      Option(r)
    }
    val genFinal = Similarity.ivfGenerationDir(spark, dir)
    if (dual) {
      // two flippers race the probe's own lastFlipGen bookkeeping (the
      // flip order is the lock's, the assignment order the scheduler's),
      // so the dual gate is set-membership: the final generation must be
      // one SOME flip produced — an append reverting a flip would leave
      // the initial build's or a never-flipped generation current
      if (!flippedGens.isEmpty &&
          !flippedGens.contains(genFinal.split('/').last))
        errs.add(s"gate1: manifest generation ${genFinal.split('/').last} " +
          "is not one any rebuild/compact flip produced — an append " +
          "reverted a flip")
    } else if (lastFlipGen.nonEmpty && !genFinal.endsWith(lastFlipGen))
      errs.add(s"gate1: manifest generation ${genFinal.split('/').last} " +
        s"!= the last flip's $lastFlipGen — an append reverted a " +
        "rebuild/compact flip")
    // gate6: at most one compact flip per predecessor generation — two
    // compactors staging the same tip must resolve to one flip + one
    // abandon, never a double-flip (each flip publishes its lineage)
    locally {
      val byPred = scala.jdk.CollectionConverters
        .SetHasAsScala(foldLinks).asScala.toSeq.groupBy(_._2)
        .filter(_._2.size > 1)
      if (byPred.nonEmpty)
        errs.add(s"gate6: ${byPred.size} generation(s) were compact-" +
          s"flipped TWICE: ${byPred.map { case (p, ls) =>
            s"$p -> [${ls.map(_._1).mkString(",")}]" }.mkString("; ")}")
    }
    val cells = spark.read.format("arrow-ipc").load(s"$genFinal/cells")
    val visible = cells.select("vec_id").as[Long].collect().toSet
    val rowCount = cells.count()
    if (rowCount != visible.size)
      errs.add(s"gate3: $rowCount rows but ${visible.size} distinct ids " +
        "in the final generation — a block landed twice")
    val allBlocks = { val b = scala.collection.mutable.ArrayBuffer.empty[Block]
      blocks.forEach(b += _); b.toSeq }
    val completed = allBlocks.filter(_.endNs > 0)
    val (must, gray) = lastRebuild match {
      case Some(r) =>
        val after = completed.filter(_.startNs > r.flipDoneNs)
        val inCorpus = completed.filter(b => r.corpusIds.contains(b.lo))
        val grayB = completed.filterNot(b => b.startNs > r.flipDoneNs ||
          r.corpusIds.contains(b.lo))
        (r.corpusIds ++ after.flatMap(b => b.lo until b.hi), grayB)
      case None =>
        ((0L until initialN).toSet ++
          completed.flatMap(b => b.lo until b.hi), Seq.empty[Block])
    }
    val may = must ++ gray.flatMap(b => b.lo until b.hi)
    val missing = must.diff(visible)
    val phantom = visible.diff(may)
    if (missing.nonEmpty)
      errs.add(s"gate2: ${missing.size} must-visible ids missing " +
        s"(first: ${missing.toSeq.sorted.take(3).mkString(",")})")
    if (phantom.nonEmpty)
      errs.add(s"gate2: ${phantom.size} ids visible that no committed " +
        s"state explains (first: ${phantom.toSeq.sorted.take(3).mkString(",")})")
    // gate4: inverted-list layout — every cell file single-valued on cid
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = graft.sources.ArrowFileStats.read(
      fs, new org.apache.hadoop.fs.Path(s"$genFinal/cells"))
    if (!stats.values.forall { s =>
      val c = s.cols("cid"); c.nulls == 0 && c.min.isDefined && c.min == c.max })
      errs.add("gate4: a cell file is no longer single-valued on cid")
    // gate5: the append path is live post-race and immediately searchable
    guard("gate5") {
      val lo = nextBase.getAndAdd(blockSz)
      // 3× norm sentinels: the quantized path ranks by INNER PRODUCT
      // (MIPS), where an exact match with a middling norm legitimately
      // loses to larger-norm neighbors — an outsized sentinel wins under
      // both dot and cosine ranking, so one gate covers both legs
      val big = (lo until lo + 4)
        .map(i => (i, vec(i).map(_ * 3.0f))).toDF("vec_id", "embedding")
      Similarity.ivfAppend(spark, dir, big, "vec_id", "embedding")
      val genNow = Similarity.ivfGenerationDir(spark, dir)
      val direct = spark.read.format("arrow-ipc").load(s"$genNow/cells")
        .filter($"vec_id" >= lo).select("vec_id", "cid").collect()
      println(s"[ann-stress]   gate5 diag: gen=${genNow.split('/').last} " +
        s"(final was ${genFinal.split('/').last}) sentinel rows " +
        s"direct-read=${direct.map(r => s"${r.getLong(0)}@c${r.get(1)}")
          .mkString(",")}")
      val probeQ = Seq((99L, vec(lo).map(_ * 3.0f))).toDF("qid", "qe")
      val got = Similarity.ivfTopKStored(spark, dir, probeQ,
        "vec_id", "embedding", "qid", "qe", k = 3, nprobe = 16)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getDouble(2)))
      println(s"[ann-stress]   gate5 diag: search got " +
        got.map { case (i, s) => f"$i@$s%.6f" }.mkString(","))
      if (!got.map(_._1).toSet.contains(lo))
        errs.add(s"gate5: sentinel id $lo not retrieved post-append")
    }
    println(s"[ann-stress] appends=${completed.size} blocks " +
      s"(${completed.size * blockSz} rows, gray=${gray.size}) " +
      s"rebuilds=${rebuilds.size} compacts=${compacts.get} " +
      s"(contended=${compactContended.get}, catch-up rounds=" +
      s"${Similarity.ivfCatchUpRounds.get}) searches=${searches.get} " +
      s"visible=${visible.size} must=${must.size} may=${may.size} " +
      s"quantized=$quantized dual=$dual")
    if (gray.nonEmpty)
      println(s"[ann-stress]   note: must < visible is expected here — " +
        s"the ${gray.size} gray block(s) raced the last rebuild's corpus " +
        "snapshot and are may-visible, not must-visible; gate2 bounds " +
        "them from both sides")
    errs.forEach(e => println(s"[ann-stress]   FAILURE: $e"))
    println(if (errs.isEmpty) "[ann-stress] ALL INVARIANTS HELD"
      else "[ann-stress] INVARIANTS VIOLATED")
    spark.stop()
    if (!errs.isEmpty) sys.exit(1)
  }
}
