package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]) — beyond-reference
  * surface for training-data pipelines.
  *
  * All scalar math is column expressions (zip_with / aggregate higher-order
  * functions) computed in double with left-to-right summation, so results are
  * bit-deterministic and reproducible by the SQL oracle.
  */
object Similarity {

  /** Dot product of two array columns, accumulated left-to-right in double.
    * Backed by the codegen [[graft.functions.VectorDot]] expression — same
    * fold order as the higher-order-function formulation (bit-identical,
    * oracle-reproducible), ~4× faster. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecDot(a, b)

  /** HOF formulation kept for cross-checking the codegen path in tests. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe only insofar as null arrays yield null. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** A side of a scoring join with the features its score reads: float
    * `(keys…, v, <p>n)` with the vector's norm, or quantized
    * `(keys…, <p>s, <p>q)`, the [[quantScale]] and the [[quantVec]]
    * int8 vector. `p` is "c" for the corpus side and "q" for the query
    * side — the column names [[rank]] scores. The one frame quantizer:
    * every stored and inline int8 frame comes from here. */
  private[graft] def features(df: DataFrame, keys: Seq[String], v: String,
      p: String, quantized: Boolean): DataFrame = {
    val ks = keys.map(col)
    if (!quantized) df.select(ks :+ col(v) :+ norm(col(v)).as(s"${p}n"): _*)
    else df.select(ks :+ quantScale(col(v)).as(s"${p}s") :+ col(v): _*)
      .select(ks :+ col(s"${p}s") :+ quantVec(col(v), col(s"${p}s")).as(s"${p}q"): _*)
  }

  /** The one scoring and top-k tail over candidate pairs carrying both
    * sides' [[features]]: float `round(cos, 9)` as `cos`, or quantized
    * `round(vec_dot(int8, int8) · qs · cs, 9)` as `qdot`, then each
    * query's k best by (score desc, id asc) as `(qid, id, score, rk)`.
    * The int8 product sum is ≤ 127²·dim, exact in double, so both scores
    * are bit-deterministic and the SQL oracle replays them; round(·, 9)
    * absorbs cross-engine f.p. noise and makes ties deterministic. */
  private def rank(pairs: DataFrame, idCol: String, vecCol: String,
      qidCol: String, qvecCol: String, k: Int, quantized: Boolean): DataFrame = {
    val (score, name) =
      if (!quantized) (dot(col(qvecCol), col(vecCol)) / (col("qn") * col("cn")), "cos")
      else (dot(col("qq"), col("cq")) * col("qs") * col("cs"), "qdot")
    val scored = pairs.select(col(qidCol), col(idCol), round(score, 9).as(name))
    val w = Window.partitionBy(col(qidCol)).orderBy(col(name).desc, col(idCol).asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col(qidCol), col(idCol), col(name), col("rk"))
  }

  /** Brute-force exact top-k cosine neighbors of each query vector against
    * the corpus. The query set is broadcast (it is the small side by
    * construction), so the corpus streams partition-local with no shuffle
    * until the per-query top-k selection.
    *
    * Ranking is deterministic: ties and cross-engine f.p. noise are handled
    * by ranking on round(cos, 9) desc then corpus id asc.
    *
    * Scale: cost is |queries|·|corpus| multiplies, embarrassingly parallel
    * over corpus partitions. The window partitions by query id — fine for
    * thousands of queries; for huge query sets switch to [[lshTopK]]. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int): DataFrame =
    brute(corpus, queries, idCol, vecCol, qidCol, qvecCol, k, quantized = false)

  // ── int8 quantization (round 14) ─────────────────────────────────────

  /** Per-vector symmetric int8 scale: `amax / 127` (0.0 for an all-zero
    * vector). `array_max` over |x| is order-independent, so any engine
    * reproduces it exactly. */
  def quantScale(v: Column): Column =
    array_max(transform(v, x => abs(x.cast("double")))) / lit(127.0)

  /** The vector quantized against [[quantScale]]: `floor(x/s + 0.5)` per
    * element (round-half-up in plain IEEE ops — both engines' floor), as
    * `array<tinyint>`. Values land in [-127, 127] by construction (the
    * max element maps to exactly ±127), so no clamp. A zero-scale vector
    * quantizes to zeros. */
  def quantVec(v: Column, scale: Column): Column =
    when(scale === 0.0,
      transform(v, _ => lit(0).cast("tinyint")))
      .otherwise(
        transform(v, x => floor(x.cast("double") / scale + lit(0.5))
          .cast("tinyint")))

  /** Brute-force top-k by QUANTIZED inner product — the 100 TB memory
    * lever (4× smaller than float32, int-friendly kernels; the Faiss
    * SQ8 stance). Scores are `vec_dot(int8, int8) · qs · cs` (see
    * [[rank]]); the dot rides the same codegen [[graft.functions.VectorDot]]
    * as the float path (extended to tinyint arrays). Ties and f.p. noise
    * handled like [[bruteForceTopK]]: round(score, 9) desc, id asc. */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int): DataFrame =
    brute(corpus, queries, idCol, vecCol, qidCol, qvecCol, k, quantized = true)

  private def brute(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, quantized: Boolean): DataFrame = {
    // norms (or int8 vectors) once per vector, not per pair
    val c = features(corpus, Seq(idCol), vecCol, "c", quantized)
    val q = features(queries, Seq(qidCol), qvecCol, "q", quantized)
    rank(c.crossJoin(broadcast(q)), idCol, vecCol, qidCol, qvecCol, k, quantized)
  }

  /** Deterministic pseudo-random hyperplanes: plane j is seeded Random
    * (seed 1000+j) uniform components in [-1, 1]. Generated at PLAN time and
    * embedded as literals — no per-row hashing, and any engine (the SQL
    * oracle included) can reproduce buckets from the same constants. */
  def planes(nPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until nPlanes).map { j =>
      val r = new scala.util.Random(1000L + j)
      Array.fill(dim)(r.nextDouble() * 2 - 1)
    }

  /** Sign-LSH bucket id: bit j = sign of <v, plane_j>, packed into an int.
    * Vectors in the same bucket are cosine-close with high probability. */
  def hyperplaneBucket(v: Column, nPlanes: Int, dim: Int): Column = {
    require(nPlanes > 0 && nPlanes <= 30, "nPlanes in 1..30")
    val bits = planes(nPlanes, dim).zipWithIndex.map { case (p, j) =>
      val s = dot(v, typedLit(p))
      when(s > 0, lit(1 << j)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** IVF (inverted-file) approximate top-k — the classic ANN scale path:
    * partition the corpus into `nlist` Voronoi cells around centroids; a
    * query scores only the cells of its `nprobe` nearest centroids, so the
    * scan cost drops from |corpus| to ≈ |corpus|·nprobe/nlist per query.
    *
    * Index build (deterministic, no RNG state): seed centroids = the nlist
    * corpus vectors with smallest md5-derived 32-bit id hash (a
    * pseudo-random but reproducible sample any engine can recompute),
    * refined by one Lloyd step (assign → per-cell elementwise mean). All
    * distributed: assignment is a broadcast cross join against the tiny
    * centroid set; the mean is a posexplode + per-(cell,dim) reduction — no
    * driver-side collect.
    *
    * EVERY arithmetic step is order-deterministic (md5 seeds; cell means
    * are exact fixed-point DECIMAL sums of round(v·2⁴⁰) — integer addition
    * commutes, so the value is independent of partitioning AND keeps
    * map-side partial aggregation: the centroid shuffle carries cells×dim
    * partials, not corpus×dim rows, and a hot cell costs one accumulator).
    * The whole index — and thus the result — is bit-reproducible by the
    * SQL oracle.
    *
    * Cell assignment maximizes cosine (normalized dot). Returned `cos` is
    * the same rounded cosine as [[bruteForceTopK]], so results are directly
    * comparable for recall measurement. The query set must be small: see
    * the broadcast contract on [[ivfProbes]]. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nlist: Int, nprobe: Int): DataFrame =
    ivfInline(corpus, queries, idCol, vecCol, qidCol, qvecCol, k, nlist,
      nprobe, quantized = false)

  /** IVF top-k with QUANTIZED candidate scoring (round 14): cell
    * construction and probing stay float (the centroid set is tiny —
    * quantizing it saves nothing), but every CANDIDATE comparison — the
    * O(corpus/nlist · nprobe) term that dominates at scale — runs over
    * int8 vectors: 4× less candidate data moved and scanned, same
    * bit-reproducible ranking contract as [[quantizedTopK]] (int8
    * product sums are exact in double). The Faiss IVF-SQ8 shape: the
    * index, the int8 cell projection [[ivfBuild]] stores, and the query
    * tail a stored index runs. The query set must be small: see
    * [[ivfProbes]]. */
  def ivfTopKQuantized(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nlist: Int, nprobe: Int): DataFrame =
    ivfInline(corpus, queries, idCol, vecCol, qidCol, qvecCol, k, nlist,
      nprobe, quantized = true)

  private def ivfInline(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nlist: Int, nprobe: Int, quantized: Boolean): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    val (centroids, cells) = ivfIndex(corpus, idCol, vecCol, nlist, quantized)
    ivfQuery(centroids, cells, queries, idCol, vecCol, qidCol, qvecCol,
      k, nprobe, quantized)
  }

  /** FLOAT-REFINE re-rank (round 15) — the standard SQ8 recall-recovery
    * lever: stage 1 (quantized scoring) selects each query's top
    * k·`refineFactor` candidates cheaply; stage 2 re-scores exactly those
    * with the FLOAT vectors (still in the corpus frame) and keeps the
    * float-exact top k. Output schema and semantics match the float IVF
    * ranking ((qid, id, cos, rk), round(cos, 9) desc / id asc), so the
    * refined family is directly comparable to — and at refineFactor·k ≥
    * probed-candidate count, identical to — the float path.
    *
    * Scale shape: the candidate set is |queries|·k·refineFactor rows
    * (tiny by construction) and is BROADCAST against the corpus, so the
    * refine tax is one corpus-side broadcast-hash semi-join plus
    * |candidates| exact dots — never a corpus shuffle. The quantized
    * stage keeps the 4× memory/scan win where the volume is
    * (candidate generation); the float stage pays full precision only
    * where it matters (the kept ranking). Faiss calls this
    * `IndexRefineFlat` over an SQ8 base. */
  def refineTopK(
      candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val c = features(corpus, Seq(idCol), vecCol, "c", quantized = false)
    val q = features(queries, Seq(qidCol), qvecCol, "q", quantized = false)
    val pairs = c
      .join(broadcast(candidates.select(col(qidCol), col(idCol))), idCol)
      .join(broadcast(q), qidCol)
    rank(pairs, idCol, vecCol, qidCol, qvecCol, k, quantized = false)
  }

  /** [[ivfTopKQuantized]] + [[refineTopK]]: IVF-SQ8 candidate generation,
    * float-exact final ranking. `refineFactor` ≥ 1 widens the quantized
    * short-list (k·factor) the float stage re-ranks — the recall lever
    * (factor 4 pins ≥ 0.95 recall@5 vs float brute in SimilaritySpec).
    * The query set must be small: see [[ivfProbes]]. */
  def ivfTopKQuantizedRefined(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nlist: Int, nprobe: Int, refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, "refineFactor must be >= 1")
    val cand = ivfTopKQuantized(corpus, queries, idCol, vecCol, qidCol,
      qvecCol, k * refineFactor, nlist, nprobe)
    refineTopK(cand, corpus, queries, idCol, vecCol, qidCol, qvecCol, k)
  }

  /** BUILD-ONCE, QUERY-MANY IVF index persistence (round 10): the index
    * is just two frames, so it stores as two arrow-ipc directories —
    * `dir/centroids` (nlist rows) and `dir/cells`, the cell-assigned
    * corpus written KEY-GROUPED on `cid` ([[graft.sources.Sinks
    * .writeKeyGrouped]]): every cell's rows live in files single-valued
    * on the cell id, the storage analog of an IVF inverted list. A
    * stored query's `probes ⋈ cells` broadcast join then prunes cell
    * FILES by the probed-cid runtime set (the arrow source's runtime
    * filtering), so query cost is ∝ the ~nprobe probed cells — never a
    * corpus scan — and the index amortizes across sessions instead of
    * being rebuilt per query like [[ivfTopK]]'s inline construction.
    * Precomputed row norms ride along (`cn`), so a stored query does no
    * per-corpus-row arithmetic beyond the candidate dots. */
  /** INDEX/TABLE CONSISTENCY (round 11): the index spans two datasets
    * (centroids + cells) with no cross-directory atomicity, so each
    * build stages BOTH into a fresh generation subdir
    * (`$dir/g-<id>/{centroids,cells}`) and a versioned manifest
    * (`$dir/_index.json`) flips ATOMICALLY to the new generation LAST.
    * A crash anywhere mid-build leaves the manifest on the previous
    * generation — the index is old-and-queryable or new-and-queryable,
    * never torn halves — and readers REFUSE a manifest-less index
    * rather than guess. Superseded/orphaned generation dirs are swept by
    * the next build once provably dead (staleness-gated, same discipline
    * as maintenance staging). */
  private val IndexManifest = "_index.json"

  /** FOLD LINEAGE (round 17): a compaction's flip preserves the old
    * generation's rows (base rewrite pinned at a snapshot + delta
    * catch-up = the whole committed corpus), while a rebuild's flip
    * deliberately drops them. An [[ivfAppend]] whose locked manifest
    * check finds the generation flipped out from under it must tell
    * these apart EXACTLY — a blind retry after a compact's fold would
    * re-append rows the catch-up already carried over (duplicate ids in
    * one cell, the advisor-found round-16 bug). So [[ivfCompact]] writes
    * `$dir/$gen/_folded_from.json` = {"gen": <old>, "tip": <the old
    * cells tip its staged generation covers>} BEFORE the manifest flip,
    * under the same commit-lock hold; a retrying append walks the link
    * chain from the current generation back to the one it wrote to and
    * compares its OWN cell-commit snapshot id (exact, via the write's
    * `commitToken` — [[graft.sources.ArrowSnapshots.CommitTokens]])
    * against the fold tip. Covered → the rows are already live, commit
    * is a no-op; not covered (or a rebuild in the chain) → retry is
    * safe. A broken chain (an intermediate generation dir aged out mid-
    * append — requires the append to stall past the sweep's double
    * staleness grace) refuses loudly rather than guess either way. */
  private val FoldedFromMarker = "_folded_from.json"

  private def writeFoldedFrom(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, gen: String, fromGen: String, tip: Long): Unit = {
    def esc(s: String) = graft.sources.ArrowFileStats.esc(s)
    graft.sources.ArrowOcc.writeAtomic(fs,
      new org.apache.hadoop.fs.Path(s"$dir/$gen", FoldedFromMarker),
      s"""{"gen":"${esc(fromGen)}","tip":$tip}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readFoldedFrom(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, gen: String): Option[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$gen", FoldedFromMarker)
    if (!fs.exists(p)) None
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(
        graft.sources.ArrowFileStats.readFully(fs, p)) match {
        case o: JObject =>
          val g = (o \ "gen") match {
            case JString(s) => s
            case other => throw new IllegalStateException(
              s"ivf: bad $FoldedFromMarker in $dir/$gen: gen = $other")
          }
          val t = (o \ "tip") match {
            case JInt(n) => n.toLong
            case JLong(n) => n
            case other => throw new IllegalStateException(
              s"ivf: bad $FoldedFromMarker in $dir/$gen: tip = $other")
          }
          Some((g, t))
        case other => throw new IllegalStateException(
          s"ivf: bad $FoldedFromMarker in $dir/$gen: $other")
      }
    }
  }

  /** Whether generation `at`'s corpus provably CONTAINS the rows of cell
    * commit `snap` made against generation `from` — by walking fold
    * links back from `at`. Call under the index commit lock (the links
    * and the manifest must be mutually settled). */
  private def foldCovers(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      at: String, from: String, snap: Long): Boolean = {
    var g = at
    while (true) {
      readFoldedFrom(fs, dir, g) match {
        case Some((pg, tip)) =>
          if (pg == from) return snap <= tip
          g = pg
        case None =>
          // no link: `g` was created by a rebuild — foreign rows were
          // dropped by design, a retry re-adds them correctly. Unless
          // the dir itself is GONE (a swept intermediate hop): then the
          // lineage cannot be reconstructed and neither retrying (may
          // duplicate) nor skipping (may lose) is provably safe.
          if (g != at && !fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$g")))
            throw new IllegalStateException(
              s"ivfAppend: $dir was compacted/rebuilt repeatedly during " +
                s"one append and the fold lineage through $g aged out — " +
                "cannot prove whether the appended rows survived; verify " +
                "against the settled index before re-running")
          return false
      }
    }
    false // unreachable
  }

  /** Test seam: fires between the two dataset writes of a build — the
    * crash window the manifest protocol exists for. */
  private[graft] var afterIvfCentroidsHook: () => Unit = () => ()

  private case class IvfManifest(generation: String, nlist: Int,
      idCol: String, vecCol: String, cellsTip: Long,
      quantized: Boolean = false)

  private def writeManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String, m: IvfManifest): Unit = {
    def esc(s: String) = graft.sources.ArrowFileStats.esc(s)
    val body = s"""{"version":1,"generation":"${esc(m.generation)}",""" +
      s""""nlist":${m.nlist},"idCol":"${esc(m.idCol)}",""" +
      s""""vecCol":"${esc(m.vecCol)}","cellsTip":${m.cellsTip},""" +
      s""""quantized":${m.quantized}}"""
    val p = new org.apache.hadoop.fs.Path(dir, IndexManifest)
    graft.sources.ArrowOcc.writeAtomic(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def readManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfManifest = {
    val p = new org.apache.hadoop.fs.Path(dir, IndexManifest)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"ivf: $dir has no $IndexManifest — the index is torn (a build " +
        "crashed before its manifest landed) or predates the manifest " +
        "protocol; re-run ivfBuild")
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(
      graft.sources.ArrowFileStats.readFully(fs, p)) match {
      case o: JObject =>
        def str(k: String) = (o \ k) match {
          case JString(s) => s
          case other => throw new IllegalStateException(
            s"ivf: bad $IndexManifest at $dir: $k = $other")
        }
        def num(k: String): Long = (o \ k) match {
          case JInt(n) => n.toLong
          case JLong(n) => n
          case other => throw new IllegalStateException(
            s"ivf: bad $IndexManifest at $dir: $k = $other")
        }
        // pre-round-14 manifests carry no "quantized" key → float cells
        val quant = (o \ "quantized") match {
          case JBool(b) => b
          case _ => false
        }
        IvfManifest(str("generation"), num("nlist").toInt,
          str("idCol"), str("vecCol"), num("cellsTip"), quant)
      case other => throw new IllegalStateException(
        s"ivf: bad $IndexManifest at $dir: $other")
    }
  }

  /** The current generation's subdir (`$dir/g-<id>`) — introspection for
    * specs and ops tooling; refuses like every manifest read. */
  private[graft] def ivfGenerationDir(
      spark: org.apache.spark.sql.SparkSession, dir: String): String =
    s"$dir/${readManifest(spark, dir).generation}"

  /** The (idCol, vecCol, quantized) the index was built with — from the
    * manifest, so SQL faces need not re-state what the build recorded. */
  private[graft] def ivfColumns(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String, Boolean) = {
    val m = readManifest(spark, dir)
    (m.idCol, m.vecCol, m.quantized)
  }

  def ivfBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, dir: String, quantized: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    // quantized = true stores int8 cells (IVF-SQ8): centroids stay
    // float (tiny — probing precision is free), but the cell files —
    // the index's mass — hold (scale, array<tinyint>) instead of
    // (array<float>, norm), measured 2.99× smaller on disk
    // (tools/quant_scale_probe.log). Queries dispatch on the manifest.
    val (centroids, cells) = ivfIndex(corpus, idCol, vecCol, nlist, quantized)
    val gen = "g-" + java.util.UUID.randomUUID.toString.take(8)
    centroids.coalesce(1).write.format("arrow-ipc").mode("overwrite")
      .save(s"$dir/$gen/centroids")
    afterIvfCentroidsHook()
    graft.sources.Sinks.writeKeyGrouped(
      cells, s"$dir/$gen/cells", Seq("cid"), partitions = math.min(nlist, 32))
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tip = graft.sources.ArrowSnapshots.currentTip(
      fs, new org.apache.hadoop.fs.Path(s"$dir/$gen/cells"))
    // the COMMIT: one atomic flip — readers see the old generation or the
    // new one, never a mix. The flip holds the index directory's commit
    // lock so it serializes against [[ivfAppend]]'s manifest commit: an
    // append racing this build either lands its tip BEFORE the flip (its
    // rows go down with the superseded generation — a rebuild replaces
    // the index with exactly the corpus it was given) or observes the new
    // generation under the lock and retries onto it. Without the lock the
    // append's unconditional trailing manifest write could silently
    // REVERT the flip, orphaning the fresh build for the next sweep.
    graft.sources.ArrowOcc.withCommitLock(fs, dirPath) {
      writeManifest(spark, dir,
        IvfManifest(gen, nlist, idCol, vecCol, tip, quantized))
      // a sweep that raced this staging may have graced-marked the dir
      // while it was still foreign; the marker must not ride into the
      // now-live generation (a later supersession would skip the grace)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$gen/_superseded"), false)
    }
    sweepDeadGenerations(fs, dir, gen)
  }

  /** INCREMENTAL index growth: assign `fresh` vectors to the STORED
    * centroids and append them to the cell files — O(new · nlist) work,
    * never a rebuild, the same new-only cost shape as
    * [[Dedup]]'s incremental signature store. Appended rows ride the
    * keyed write path, so the inverted-list layout (files single-valued
    * on `cid`) and the runtime cell pruning survive. Centroids stay
    * FROZEN — the standard IVF ingestion contract (recall drifts only as
    * far as the data does; re-run [[ivfBuild]] to re-center, the analog
    * of a clustering maintenance pass).
    *
    * MEASURED drift tolerance (tools/ann_drift_probe.log, round 17):
    * under the worst realistic drift — clusters migrating THROUGH the
    * cloud, queries chasing the fresh distribution — the frozen index
    * gives up to 13 recall@5 points vs a re-center (first crossing 5
    * points at ~20% appended-drifted fraction) and drags up to 1.57×
    * the candidate rows per probe; base-distribution queries hold flat
    * at any probed fraction, and OUTWARD drift (new clusters away from
    * the cloud) held recall 1.000 to 60% appended. Rule of thumb:
    * re-center by ~20% appended fraction when the workload queries
    * drifted data, otherwise appends alone are fine. */
  /** Test seam: fires after an append's cell write, before its locked
    * manifest commit — the window where a concurrent [[ivfBuild]] flip
    * forces the append to retry onto the new generation. */
  private[graft] var beforeIvfAppendCommitHook: () => Unit = () => ()

  def ivfAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      fresh: DataFrame, idCol: String, vecCol: String): Unit = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RETRY against rebuilds, FOLD-AWARENESS against compacts: the cell
    // write targets the generation the manifest named at the START of
    // the attempt, but a concurrent [[ivfBuild]] or [[ivfCompact]] may
    // flip to a fresh generation mid-append. The manifest commit
    // re-reads the manifest UNDER the index directory's commit lock; if
    // the generation moved, the fold-link chain decides (round 17 — the
    // advisor-found duplicate window): a COMPACT's flip already folded
    // every cell commit ≤ its recorded tip into the new generation, so
    // an append whose own commit id (exact, via the write's commitToken)
    // is covered must NOT re-append — its rows are live; an uncovered
    // commit or a REBUILD in the chain means the rows died with the dead
    // generation (swept by the staleness gate) and the whole
    // assign-and-append re-runs against the new centroids — fresh rows
    // are never lost, never doubled, and a rebuild's flip is never
    // reverted.
    val maxAttempts = 5
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      val m = readManifest(spark, dir) // refuses a torn/manifest-less index
      val centroids = spark.read.format("arrow-ipc")
        .load(s"$dir/${m.generation}/centroids")
      // the build's own assignment and cell projection, against the
      // frozen centroids
      val freshCells = ivfCells(ivfAssign(
        features(fresh, Seq(idCol), vecCol, "c", quantized = false),
        idCol, vecCol, centroids), idCol, vecCol, m.quantized)
      val tok = java.util.UUID.randomUUID.toString
      freshCells
        .write.format("arrow-ipc").mode("append")
        .option("partitionKeys", "cid")
        .option("commitToken", tok)
        .save(s"$dir/${m.generation}/cells")
      val myCommit = graft.sources.ArrowSnapshots.CommitTokens.take(tok)
        .getOrElse(throw new IllegalStateException(
          "ivfAppend: the cell write recorded no commit id for its " +
            "token — write-path plumbing bug"))
      beforeIvfAppendCommitHook()
      // advance the manifest: same generation, new cells tip — bookkeeping
      // for consumers pinning reproducible reads, and the signal that the
      // append landed (the cell append itself is atomic under the arrow
      // source's own commit protocol)
      val cellsPath =
        new org.apache.hadoop.fs.Path(s"$dir/${m.generation}/cells")
      committed = graft.sources.ArrowOcc.withCommitLock(fs, dirPath) {
        val m2 = readManifest(spark, dir)
        if (m2.generation == m.generation) {
          // tip computed under the lock: reflects every cell commit that
          // landed before this manifest write, so tips stay monotonic
          // across concurrent appends to the same generation
          val tip = graft.sources.ArrowSnapshots.currentTip(fs, cellsPath)
          writeManifest(spark, dir, m2.copy(cellsTip = tip))
          true
        } else
          // flipped out from under us: done IFF a compact chain folded
          // this attempt's cell commit into the live generation (the
          // manifest tip there already covers the folded rows — the
          // flip computed it after the catch-up)
          foldCovers(fs, dir, m2.generation, m.generation, myCommit)
      }
      if (!committed && attempt >= maxAttempts)
        throw new IllegalStateException(
          s"ivfAppend: $dir was rebuilt $maxAttempts times during one " +
            "append — giving up; re-run against the settled index")
    }
  }

  /** Test seam: fires after a compact's staged rewrite, before its locked
    * manifest flip — the window where a concurrent append or rebuild
    * forces the compact to refuse and retry. */
  private[graft] var beforeIvfCompactCommitHook: () => Unit = () => ()

  /** Test seam: fires after a compact samples tip0, before the staged
    * base rewrite — the window where an unpinned base read would also
    * see a racing append's rows and the catch-up would fold them twice. */
  private[graft] var beforeIvfCompactStageHook: () => Unit = () => ()

  /** Catch-up rounds [[ivfCompact]] has run in this JVM (a flip that
    * lost its tip race and folded the window's appends before retrying)
    * — read by the stress probe to show its race reached the catch-up. */
  private[graft] val ivfCatchUpRounds = new java.util.concurrent.atomic.AtomicLong

  /** COMPACT the stored index's cell files. An incrementally grown index
    * adds one key-grouped file set per [[ivfAppend]] — thousands of
    * appends mean thousands of small cell files per posting list, and
    * every search pays the open/footer tax on all of them. The compact
    * rewrites the CURRENT generation's cells key-grouped on cid into a
    * fresh generation (centroids copied — floats round-trip the
    * interchange exactly), so search results are BIT-IDENTICAL before
    * and after: contents never change, only the file count.
    *
    * CONCURRENCY — the index's own generation-flip protocol, made
    * CONVERGENT under steady ingest by delta catch-up. The staged
    * rewrite reads the cells at a snapshot tip; the manifest flip holds
    * the commit lock and re-checks the generation (a racing rebuild
    * wins — flipping over it would resurrect its superseded corpus) and
    * the cells tip. A moved tip does NOT restart the rewrite: appends
    * only ever ADD key-grouped cell files, so the catch-up folds exactly
    * the rows of the snapshots committed since the last tip into the
    * staged generation (an O(delta) keyed append of the [[graft.sources
    * .ArrowSnapshots.readRange]] window's files, never a re-listing) and re-takes
    * the lock; each round's delta is bounded by the append traffic of
    * the previous round's fold, so the loop converges unless ingest
    * outruns a sub-second append indefinitely.
    *
    * EXACTLY-ONCE vs racing appends (round 17, advisor-found): the base
    * rewrite is PINNED at tip0 (`asOfSnapshot`) — a cell commit landing
    * between the tip sample and the rewrite scan is folded once by the
    * catch-up window (tip0, tip1], never twice. And the flip PUBLISHES
    * its fold lineage (`_folded_from.json`: old generation + the old
    * cells tip the staged generation covers, written under the same
    * lock hold as the manifest) so an append whose cell commit the
    * catch-up folded but whose own manifest commit lost the flip race
    * can see its rows are already live and must NOT re-append
    * ([[ivfAppend]]'s fold-aware retry); an append whose cell commit
    * landed after the flip's tip is not covered and re-runs onto the
    * new generation. Returns None when a rebuild won, when the catch-up
    * budget ran out, or when there is nothing to compact (file count
    * already at the key-grouped floor: one file per occupied cell).
    *
    * The returned (oldFiles, newFiles) usually shrinks, but under heavy
    * mid-compact append traffic the new count can transiently EXCEED
    * the pre-sample count (each catch-up round lands as a keyed append
    * — the probe recorded a 32→48 flip under full cadence): the flip is
    * still correct (contents-identical, exactly-once) and the next
    * quiet compact takes the layout to the floor. */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession, dir: String,
      attempts: Int = 5): Option[(Int, Int)] = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = readManifest(spark, dir) // refuses a torn/manifest-less index
    val cellsPath =
      new org.apache.hadoop.fs.Path(s"$dir/${m.generation}/cells")
    var tip0 = graft.sources.ArrowSnapshots.currentTip(fs, cellsPath)
    val oldCount =
      graft.sources.ArrowSnapshots.listDataFiles(fs, cellsPath).size
    // the key-grouped floor: a file is single-valued on cid, so the
    // layout cannot go below one file per occupied cell — nothing to do
    // until appends have pushed the count past the build's own shape
    if (oldCount <= m.nlist) return None
    beforeIvfCompactStageHook()
    val gen = "g-" + java.util.UUID.randomUUID.toString.take(8)
    val newCellsDir = s"$dir/$gen/cells"
    def abandon(): Option[(Int, Int)] = {
      // never became current — safe to delete immediately, no reader can
      // have resolved it through the manifest
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$gen"), true)
      None
    }
    spark.read.format("arrow-ipc").load(s"$dir/${m.generation}/centroids")
      .coalesce(1).write.format("arrow-ipc").mode("overwrite")
      .save(s"$dir/$gen/centroids")
    // the base rewrite is PINNED at tip0: a live read here would also
    // include any append committed between the tip sample and the scan's
    // planning — rows the catch-up over (tip0, tip1] then folds AGAIN
    // (duplicate ids in one cell). tip0 == 0 means a log-less cells
    // table: no snapshot to pin or catch up from, the live read IS the
    // only state and the flip's tip re-check still guards it.
    val baseCells =
      if (tip0 == 0L) spark.read.format("arrow-ipc").load(cellsPath.toString)
      else spark.read.format("arrow-ipc")
        .option("asOfSnapshot", tip0.toString).load(cellsPath.toString)
    graft.sources.Sinks.writeKeyGrouped(
      baseCells, newCellsDir, Seq("cid"), partitions = math.min(m.nlist, 32))
    beforeIvfCompactCommitHook()
    val newCells = new org.apache.hadoop.fs.Path(newCellsDir)
    var attempt = 0
    while (attempt < attempts) {
      attempt += 1
      // 0 = flipped; -1 = rebuild won; >0 = the tip the catch-up must
      // reach before the next flip attempt
      val verdict = graft.sources.ArrowOcc.withCommitLock(fs, dirPath) {
        val m2 = readManifest(spark, dir)
        if (m2.generation != m.generation) -1L
        else {
          val tip1 = graft.sources.ArrowSnapshots.currentTip(fs, cellsPath)
          if (tip1 == tip0) {
            // fold lineage FIRST, manifest flip second — both under this
            // lock hold, so no reader/append ever resolves the flipped
            // manifest without the link that explains it
            writeFoldedFrom(fs, dir, gen, m.generation, tip0)
            writeManifest(spark, dir, m2.copy(generation = gen,
              cellsTip =
                graft.sources.ArrowSnapshots.currentTip(fs, newCells)))
            // a racing sweep's grace marker must not ride into the
            // now-live generation (see ivfBuild's flip)
            fs.delete(
              new org.apache.hadoop.fs.Path(s"$dir/$gen/_superseded"), false)
            0L
          } else tip1
        }
      }
      if (verdict == 0L) {
        sweepDeadGenerations(fs, dir, gen)
        return Some((oldCount,
          graft.sources.ArrowSnapshots.listDataFiles(fs, newCells).size))
      }
      if (verdict < 0L) return abandon()
      // CATCH-UP, outside the lock: fold the rows of snapshots
      // (tip0, tip1] into the staged generation. Appends are the only
      // writer of a live cells table — a remove in the window means a
      // foreign rewrite this compact must not paper over
      val window = graft.sources.ArrowSnapshots.readRange(
        fs, cellsPath, tip0, verdict, "ivf_compact")
      if (window.exists(_.removes.nonEmpty)) return abandon()
      val (deltaRels, _) = graft.sources.ArrowDeleteVectors.splitResolved(
        window.flatMap(_.adds).toSet)
      if (deltaRels.nonEmpty)
        graft.sources.ArrowMaintenance.filesAsOf(spark, cellsPath.toString,
          verdict, deltaRels)
          .write.format("arrow-ipc").mode("append")
          .option("partitionKeys", "cid").save(newCellsDir)
      ivfCatchUpRounds.incrementAndGet()
      tip0 = verdict
    }
    abandon()
  }

  /** Sweep superseded/orphaned generation dirs once provably dead (a
    * young foreign dir may be a concurrent build mid-stage or a reader's
    * in-flight old generation) — shared by [[ivfBuild]] and
    * [[ivfCompact]].
    *
    * The staleness clock must start at SUPERSESSION, not at the
    * generation's last write (round 16 self-review): a QUIET generation
    * — no appends for longer than the staleness window — would otherwise
    * be sweepable the instant a flip dethrones it, yanking files from
    * under a reader that resolved the manifest just before the flip. The
    * first sweep that finds a dead generation therefore only DROPS a
    * `_superseded` grace marker into it (which resets its newestMTime);
    * deletion happens on a later sweep, at least a full staleness window
    * after the marker — an in-flight reader gets the same grace a live
    * writer's staging does.
    *
    * The marker itself is QUIET-GATED (round 17, advisor-found): a
    * young foreign dir may be a concurrent build's or compact's
    * mid-stage generation, and a marker dropped into it would ride
    * through that writer's flip into the LIVE generation — where a
    * later supersession would skip the grace step and delete
    * immediately (the exact yank-under-reader window the marker
    * exists to close). So a dir is only marked once its newest write
    * is a full staleness window old; flips also clear any marker from
    * the generation they keep, as a belt against a sweep racing the
    * flip itself. */
  private def sweepDeadGenerations(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, keep: String): Unit = {
    val now = System.currentTimeMillis()
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, "g-*")))
      .getOrElse(Array.empty)
      .filter(_.getPath.getName != keep)
      .foreach { st =>
        val marker = new org.apache.hadoop.fs.Path(st.getPath, "_superseded")
        val quiet = now - graft.sources.ArrowOcc.newestMTime(fs, st.getPath) >
          graft.sources.ArrowOcc.staleMs
        if (!fs.exists(marker)) {
          if (quiet) fs.create(marker, true).close() // grace clock starts now
        } else if (quiet)
          fs.delete(st.getPath, true)
      }
  }

  /** Query a [[ivfBuild]]-persisted index — bit-identical to running
    * [[ivfTopK]] (or [[ivfTopKQuantized]] for a `quantized` index) with
    * the same parameters: the probe head and the scoring tail are the
    * same code over the same stored values (floats, doubles, int8 and
    * norms round-trip the arrow interchange exactly). Resolves through
    * the index manifest, so a torn (mid-build-crashed) index either
    * serves its previous consistent generation or refuses loudly —
    * never mismatched centroid/cell halves. The query set must be small:
    * see the broadcast contract on [[ivfProbes]], which is also what
    * lets the cells scan read only the probed cells' files. */
  def ivfTopKStored(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, idCol: String, vecCol: String,
      qidCol: String, qvecCol: String, k: Int, nprobe: Int): DataFrame = {
    val m = readManifest(spark, dir)
    def part(name: String) =
      spark.read.format("arrow-ipc").load(s"$dir/${m.generation}/$name")
    ivfQuery(part("centroids"), part("cells"), queries, idCol, vecCol,
      qidCol, qvecCol, k, nprobe, m.quantized)
  }

  /** [[ivfTopKStored]] + [[refineTopK]] for a QUANTIZED stored index: the
    * int8 cell files generate candidates (4× less index data scanned),
    * the float vectors — which live in the source CORPUS table, not the
    * index — re-rank the short-list exactly. The corpus frame must be
    * the one the index was built from (same ids); candidate ids the
    * corpus no longer holds simply drop out of the refined ranking. The
    * query set must be small: see [[ivfProbes]]. */
  def ivfTopKStoredRefined(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, refineFactor: Int = 4): DataFrame = {
    require(refineFactor >= 1, "refineFactor must be >= 1")
    val cand = ivfTopKStored(spark, dir, queries, idCol, vecCol, qidCol,
      qvecCol, k * refineFactor, nprobe)
    refineTopK(cand, corpus, queries, idCol, vecCol, qidCol, qvecCol, k)
  }

  /** The IVF index as data: (centroids (cid, cvec), the cell frame of
    * [[ivfCells]]) — the inline queries consume it; [[ivfBuild]]
    * persists it. */
  private def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, quantized: Boolean): (DataFrame, DataFrame) = {
    // Corpus norms computed ONCE and reused by assignment and scoring.
    val corpusN = features(corpus, Seq(idCol), vecCol, "c", quantized = false)
    // one Lloyd step from the md5 seeds; the refined centroid frame is
    // tiny (nlist×dim) but closes over the full seed assignment pass —
    // eagerly checkpointed (see centroidMeans) so the two consumers
    // (corpus re-assignment + query probes) don't each recompute it
    val centroids = centroidMeans(
      ivfAssign(corpusN, idCol, vecCol, seeds(corpusN, idCol, vecCol, nlist)),
      vecCol)
    (centroids,
      ivfCells(ivfAssign(corpusN, idCol, vecCol, centroids), idCol, vecCol,
        quantized))
  }

  /** Seeds: the n vectors with smallest (md5-hash, id) as (cid, cvec) —
    * the id tie-break keeps the selection deterministic even when two ids
    * share a 32-bit hash (expected ~n·N/2³² ties at corpus scale), and the
    * cell id is the seed's CORPUS id: unique by construction (hash values
    * as cids could collide and silently merge two cells). No
    * single-partition Window.orderBy — TakeOrdered only. */
  private def seeds(df: DataFrame, idCol: String, vecCol: String,
      n: Int): DataFrame =
    df.withColumn("__h", Dedup.shingleBase(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol)).limit(n)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))

  /** One Lloyd update: the per-cell elementwise mean of (cid, vec) rows.
    * Deterministic WITHOUT an order-dependent fold: each component is
    * quantized to fixed-point (round(v·2⁴⁰) — the ·2⁴⁰ product is exact,
    * it only shifts the exponent), summed exactly as DECIMAL (integer sum
    * ⇒ order-independent, mergeable ⇒ map-side partial aggregation works,
    * decimal(20,0) input sum widens to decimal(30,0) ⇒ no overflow until
    * ~1e18 members/cell), then divided back in double. Any engine
    * reproduces it bit-for-bit, and a hot cell costs one accumulator, not
    * one buffered array of every member value. The result (cid, cvec) is
    * tiny and eagerly checkpointed, so its lineage stays flat. */
  private def centroidMeans(assigned: DataFrame, vecCol: String): DataFrame = {
    val fix = 1099511627776.0 // 2^40
    assigned
      .select(col("cid"), posexplode(col(vecCol)))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(round(col("col").cast("double") * fix).cast("decimal(20,0)"))
        .cast("double") / count(lit(1)).cast("double") / fix).as("m"))
      .groupBy(col("cid"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), expr("transform(pm, x -> x.m)").as("cvec"))
      .localCheckpoint(true)
  }

  /** Cosine of `v` (norm column `n`) against a centroid's `cvec`. */
  private def centroidCos(v: String, n: String): Column =
    dot(col(v), col("cvec")) / (col(n) * norm(col("cvec")))

  /** Cell assignment of (id, vec, cn) rows: (id, cid, vec, cn), the
    * centroid of maximum cosine; ties break to the larger cid via the
    * struct max (deterministic, overflow-safe). `cn` is reused — the only
    * per-pair work is the dot against the tiny broadcast centroid set.
    * The row payload (vec, cn) rides THROUGH the argmax aggregate
    * (first() over the per-id group, whose rows all replicate the same
    * row — ids are unique per the corpus contract), so the assignment
    * costs ONE exchange, not an agg exchange plus an id re-join
    * (round-17 optimization pass). [[ivfIndex]] and [[ivfAppend]] both
    * assign here. */
  private def ivfAssign(rows: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    rows.crossJoin(broadcast(centroids))
      .withColumn("__sim", centroidCos(vecCol, "cn"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__sim"), col("cid"))).getField("cid").as("cid"),
        first(col(vecCol)).as(vecCol), first(col("cn")).as("cn"))

  /** The cell frame of assigned rows, as stored and as scored: float
    * (cid, id, vec, cn) or the int8 projection (cid, id, cs, cq). */
  private def ivfCells(assigned: DataFrame, idCol: String, vecCol: String,
      quantized: Boolean): DataFrame =
    if (!quantized) assigned.select(col("cid"), col(idCol), col(vecCol), col("cn"))
    else features(assigned, Seq("cid", idCol), vecCol, "c", quantized = true)

  /** THE IVF PROBE HEAD: each query's `nprobe` nearest centroids by
    * (cosine desc, cid asc), as (qid, cid) — a window partitioned by
    * query id over queries × broadcast(centroids), never a global sort.
    *
    * SMALL-QUERY BROADCAST CONTRACT (every `ivf*` query): the probe side
    * — the query set joined to its nprobe cids, |queries|·nprobe rows
    * carrying the query vectors — is BROADCAST against the corpus-sized
    * cells, unconditionally, with no row-count check. So the query set
    * must fit a broadcast (thousands of vectors, not millions); batch a
    * larger one. In return the cells are neither shuffled nor sorted.
    * On a STORED index the broadcast also carries the arrow source's
    * runtime FILE pruning: Spark plans a dynamic-pruning filter that
    * reuses the broadcast and hands the probed-cid set to the cells
    * scan (SupportsRuntimeFiltering), so a stored query reads ~nprobe
    * cell files per query instead of every one. Not when, under AQE,
    * the query set reads a cached (persisted) frame: AQE plans that scan
    * as a TableCacheQueryStage in the main plan, the broadcast-reuse
    * check fails, and the scan reads every cell file (same answer).
    *
    * The rank is a running `count` over the window, not `row_number`,
    * and the two are equal row for row (same order, ROWS frame, cid
    * unique per query). Spark's `InferWindowGroupLimit` rewrites a
    * `row_number() <= n` filter into a WindowGroupLimit in the main plan
    * only, after `PartitionPruning` has captured the broadcast side for
    * the dynamic-pruning subquery; the two plans then differ, the
    * broadcast cannot be reused, and Spark drops the runtime filter
    * (the cells scan then shows `dynamicpruningexpression(true)` and
    * reads every file). A running count is not a rank-like function, so
    * the rule leaves it alone and the filter fires (SimilaritySpec pins
    * the files read). */
  private[graft] def ivfProbes(centroids: DataFrame, queries: DataFrame,
      qidCol: String, qvecCol: String, nprobe: Int): DataFrame = {
    val nearest = Window.partitionBy(col(qidCol))
      .orderBy(col("__sim").desc, col("cid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    features(queries, Seq(qidCol), qvecCol, "q", quantized = false)
      .crossJoin(broadcast(centroids))
      .withColumn("__sim", centroidCos(qvecCol, "qn"))
      .withColumn("__pr", count(lit(1)).over(nearest))
      .filter(col("__pr") <= nprobe)
      .select(col(qidCol), col("cid"))
  }

  /** The IVF query tail over an index frame pair — shared verbatim by the
    * inline and the STORED paths, float and int8, so a persisted index
    * answers bit-identically to a same-session build: [[ivfProbes]], the
    * broadcast probe side joined to the cells on cid, then [[rank]]. */
  private def ivfQuery(
      centroids: DataFrame, cells: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, quantized: Boolean): DataFrame = {
    require(nprobe >= 1, "ivf: nprobe must be >= 1")
    val probes = ivfProbes(centroids, queries, qidCol, qvecCol, nprobe)
    val probeSide = features(queries, Seq(qidCol), qvecCol, "q", quantized)
      .join(probes, qidCol)
    rank(cells.join(broadcast(probeSide), "cid"), idCol, vecCol, qidCol,
      qvecCol, k, quantized)
  }

  /** Distributed Lloyd k-means over an embedding column — the clustering
    * primitive behind corpus bucketing / diversity sampling / IVF index
    * builds (this generalizes [[ivfTopK]]'s single refinement step to
    * `iters` full Lloyd iterations).
    *
    * Fully deterministic, no RNG state, no driver-side numerics:
    *  - seeds = the k corpus vectors with smallest (md5-derived id hash,
    *    id) — a reproducible pseudo-random sample (TakeOrdered, no global
    *    sort);
    *  - assignment = min squared EUCLIDEAN distance, computed as
    *    |x|² − 2·x·c + |c|² from cached norms (one dot per (row,
    *    centroid) against a BROADCAST centroid frame — never a shuffle of
    *    the corpus); ties break to the smaller centroid id via an
    *    order-deterministic struct min;
    *  - update = per-(cluster, dim) mean as exact fixed-point DECIMAL sums
    *    (round(v·2⁴⁰) — order-independent integer addition, mergeable, so
    *    map-side partial aggregation holds and a hot cluster costs one
    *    accumulator, not a buffered value list).
    *
    * Each iteration's centroid frame is k×dim — localCheckpoint'd so the
    * lineage stays flat across iterations. The (id, vec, |x|²) corpus
    * projection is PERSISTED (MEMORY_AND_DISK): each Lloyd iteration reads
    * it for its assignment and the final assignment once more — caching
    * caps source-scan work at 1× regardless of `iters`. LIFECYCLE as
    * elsewhere: CacheManager dedupes identical plans; release with
    * unpersist()/clearCache() in long-lived sessions.
    *
    * EMPTY-CLUSTER contract: the update step recomputes centroids from
    * ASSIGNED rows only, so a centroid that captures zero points drops out
    * of the next iteration — the result can have FEWER than k clusters
    * (deterministically so; the oracle replicates the shrink). Carrying
    * unassigned centroids forward would preserve k but keep dead centers;
    * callers needing exactly k should re-seed with larger k.
    *
    * @return (idCol, cluster, dist2) — final assignment and its squared
    *         distance (round(·, 9) for cross-engine comparability). */
  def kmeans(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters >= 0)
    // |x|² once per row; reused by every assignment pass.
    val corpusN = df.select(col(idCol), col(vecCol),
        dot(col(vecCol), col(vecCol)).as("__n2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Assignment against a broadcast centroid frame: d² fold is
    // left-to-right double arithmetic — bit-reproducible by the oracle.
    // The vector rides THROUGH the argmin aggregate via first() (all rows
    // of an id group replicate the same corpus row; ids unique per the
    // seeds contract) for the update step, so an iteration costs one
    // exchange, not two plus an id re-join's sorts (round-17 optimization
    // pass); the final assignment's projection prunes it.
    def assign(cents: DataFrame): DataFrame =
      corpusN.crossJoin(broadcast(cents))
        .withColumn("__d2",
          col("__n2") - lit(2.0) * dot(col(vecCol), col("cvec"))
            + dot(col("cvec"), col("cvec")))
        .groupBy(col(idCol))
        .agg(min(struct(col("__d2"), col("cid"))).as("__best"),
          first(col(vecCol)).as(vecCol))
        .select(col(idCol), col("__best.cid").as("cid"),
          col("__best.__d2").as("dist2"), col(vecCol))
    var centroids = seeds(corpusN, idCol, vecCol, k).localCheckpoint(true)
    var it = 0
    while (it < iters) {
      centroids = centroidMeans(assign(centroids), vecCol)
      it += 1
    }
    assign(centroids)
      .select(col(idCol), col("cid").as("cluster"), round(col("dist2"), 9).as("dist2"))
  }

  /** LSH-bucketed approximate top-k: queries and corpus are bucketed by
    * [[hyperplaneBucket]]; each query only scores its own bucket — or, with
    * `multiProbe`, its own bucket PLUS every single-bit-flip neighbor
    * bucket (the planes whose sign was closest to flipping are where the
    * missed neighbors live, so probing Hamming-1 buckets recovers most of
    * the recall lost to bucketing at (nPlanes+1)× the candidate volume —
    * still |corpus|·(nPlanes+1)/2^nPlanes per query, sub-linear).
    *
    * The bucket join shuffles on the bucket id. A corpus vector lives in
    * exactly one bucket and the probe buckets are distinct values, so
    * multi-probe candidates need no dedup. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, qidCol: String, qvecCol: String,
      k: Int, nPlanes: Int, dim: Int, multiProbe: Boolean = false): DataFrame = {
    val cb = corpus.withColumn("bucket", hyperplaneBucket(col(vecCol), nPlanes, dim))
      .withColumn("cn", norm(col(vecCol)))
    val qb0 = queries.withColumn("qbucket", hyperplaneBucket(col(qvecCol), nPlanes, dim))
      .withColumn("qn", norm(col(qvecCol)))
    val qb =
      if (!multiProbe) qb0.withColumn("pbucket", col("qbucket"))
      else qb0.withColumn("pbucket", explode(array(
        col("qbucket") +:
          (0 until nPlanes).map(j => col("qbucket").bitwiseXOR(lit(1 << j))): _*)))
    rank(cb.join(qb, col("bucket") === col("pbucket")), idCol, vecCol,
      qidCol, qvecCol, k, quantized = false)
  }
}
