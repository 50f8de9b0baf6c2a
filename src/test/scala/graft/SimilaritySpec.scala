package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** Similarity search: codegen kernel vs HOF bit-equality, top-k semantics. */
class SimilaritySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("codegen VectorDot is bit-identical to the HOF formulation") {
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
    val out = vecs.select(
      Similarity.dot(col("a"), col("b")).as("fast"),
      Similarity.dotHof(col("a"), col("b")).as("ref")).collect()
    out.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))  // exact, not approx
  }

  test("int8 quantization: tinyint VectorDot bit-matches the HOF, bounds hold, quantized top-k recall vs brute force") {
    val rnd = new scala.util.Random(43)
    val frame = (0 until 300).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    // quantized values land in [-127, 127]; the codegen tinyint dot is
    // bit-identical to the HOF over the same arrays
    val q = frame.select(col("vec_id"),
      Similarity.quantVec(col("embedding"),
        Similarity.quantScale(col("embedding"))).as("qv"))
    val bounds = q.select(
      array_max(col("qv")).as("hi"), array_min(col("qv")).as("lo")).collect()
    assert(bounds.forall(r =>
      r.getAs[Byte]("hi") <= 127 && r.getAs[Byte]("lo") >= -127))
    val paired = q.as("a").crossJoin(q.as("b"))
      .filter(col("a.vec_id") < 5 && col("b.vec_id") < 30)
      .select(Similarity.dot(col("a.qv"), col("b.qv")).as("fast"),
        Similarity.dotHof(col("a.qv"), col("b.qv")).as("ref")).collect()
    assert(paired.nonEmpty)
    paired.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // recall@5 of the quantized ranking vs exact-dot brute force ≥ 0.8
    // (int8 keeps ~2 decimal digits per component — neighbors survive)
    val queries = frame.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val quant = Similarity.quantizedTopK(frame, queries,
      "vec_id", "embedding", "qid", "qe", k = 5)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact inner-product ranking (same metric as the quantized path)
    val c = frame.select(col("vec_id"), col("embedding"))
    val exact = c.crossJoin(broadcast(queries))
      .select(col("qid"), col("vec_id"),
        Similarity.dot(col("qe"), col("embedding")).as("ip"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("ip").desc, col("vec_id").asc)
    val exactTop = exact.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (quant & exactTop).size.toDouble / exactTop.size
    assert(recall >= 0.8, s"quantized recall@5 = $recall")

    // IVF-quantized recall vs the brute quantized ranking (the SAME int8
    // inner-product metric — the standard IVF recall check): probing 3/8
    // cells must recover most of the brute top-k
    val ivfQ = Similarity.ivfTopKQuantized(frame, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nlist = 8, nprobe = 3)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfRecall = (ivfQ & quant).size.toDouble / quant.size
    assert(ivfRecall >= 0.5, s"ivf-quantized recall@5 vs brute quantized = $ivfRecall")

    // STORED quantized index (IVF-SQ8 persisted): bit-identical to the
    // inline quantized query (int8 + double round-trip exactly), and an
    // append through the quantized layout keeps serving
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_q8").toString + "/idx"
    Similarity.ivfBuild(frame, "vec_id", "embedding", nlist = 8, dir = dir,
      quantized = true)
    val stored = Similarity.ivfTopKStored(spark, dir, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nprobe = 3)
      .orderBy("qid", "rk").collect().toSeq
    val inline = Similarity.ivfTopKQuantized(frame, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nlist = 8, nprobe = 3)
      .orderBy("qid", "rk").collect().toSeq
    assert(stored === inline, "stored quantized != inline quantized")
    val freshRows = (300 until 320).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    Similarity.ivfAppend(spark, dir, freshRows, "vec_id", "embedding")
    val afterAppend = Similarity.ivfTopKStored(spark, dir,
      freshRows.filter(col("vec_id") === 300L)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      "vec_id", "embedding", "qid", "qe", k = 1, nprobe = 8)
    // a fresh vector's nearest neighbor is itself (self-dot dominates)
    assert(afterAppend.head().getLong(1) === 300L)
  }

  test("float-refine recovers quantization loss: recall ≥ 0.95 vs float IVF, exact at exhaustive factor, stored ≡ inline") {
    val rnd = new scala.util.Random(44)
    val frame = (0 until 300).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val queries = frame.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("qid"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // the float IVF at the same cells/probes is the refine ceiling: the
    // quantized stage can only lose candidates INSIDE the probed cells,
    // and a 4·k short-list recovers ≥ 0.95 of them
    val floatIvf = Similarity.ivfTopK(frame, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nlist = 8, nprobe = 3)
    val refined = Similarity.ivfTopKQuantizedRefined(frame, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nlist = 8, nprobe = 3,
      refineFactor = 4)
    val ceiling = pairs(floatIvf)
    val recall = (pairs(refined) & ceiling).size.toDouble / ceiling.size
    assert(recall >= 0.95, s"refined recall@5 vs float IVF = $recall")
    // ...and strictly dominates the unrefined quantized ranking
    val unrefined = pairs(Similarity.ivfTopKQuantized(frame, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nlist = 8, nprobe = 3))
    assert((unrefined & ceiling).size <= (pairs(refined) & ceiling).size)

    // EXHAUSTIVE factor (k·64 ≥ corpus): the short-list holds every
    // probed candidate, so the refined ranking IS the float IVF ranking
    // — bit-identical rows, same rounding, same tie-break
    val exhaustive = Similarity.ivfTopKQuantizedRefined(frame, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nlist = 8, nprobe = 3,
      refineFactor = 64).orderBy("qid", "rk").collect().toSeq
    assert(exhaustive === floatIvf.orderBy("qid", "rk").collect().toSeq)

    // STORED refined ≡ inline refined (the int8 index generates the same
    // short-list; the float corpus re-ranks it identically)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_q8r").toString + "/idx"
    Similarity.ivfBuild(frame, "vec_id", "embedding", nlist = 8, dir = dir,
      quantized = true)
    val storedRefined = Similarity.ivfTopKStoredRefined(spark, dir, queries,
      frame, "vec_id", "embedding", "qid", "qe", k = 5, nprobe = 3,
      refineFactor = 4).orderBy("qid", "rk").collect().toSeq
    assert(storedRefined === refined.orderBy("qid", "rk").collect().toSeq)
  }

  test("cosine: self similarity is 1, orthogonal is 0") {
    val df = Seq(
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 5.0f))).toDF("a", "b")
    val out = df.select(round(Similarity.cosine(col("a"), col("b")), 9)).collect()
    assert(out(0).getDouble(0) === 1.0)
    assert(out(1).getDouble(0) === 0.0)
  }

  test("brute-force top-k returns nearest first with deterministic tiebreak") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.9f, 0.1f)),
      (12L, Array(0.0f, 1.0f)),
      (13L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("qid", "qe")
    val out = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qe", k = 3)
      .orderBy("rk").collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rk")))
    assert(out.toSeq === Seq((10L, 1), (11L, 2), (12L, 3)))
  }

  test("IVF top-k: high recall vs brute force on clustered data") {
    // 4 well-separated clusters of 25 vectors each; queries from 2 clusters.
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    val corpus = (0 until 100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val brute = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qe", k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nlist = 8, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall $recall < 0.8 (ivf=$ivf brute=$brute)")
  }

  test("stored IVF index answers bit-identically and runtime-prunes cell files") {
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    val corpus = (0 until 100).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val inline = Similarity.ivfTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nlist = 8, nprobe = 2)
      .orderBy("qid", "rk").collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString + "/ix"
    Similarity.ivfBuild(corpus, "vec_id", "embedding", nlist = 8, dir = dir)
    val storedDf = Similarity.ivfTopKStored(spark, dir, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nprobe = 2)
      .orderBy("qid", "rk")
    assert(storedDf.collect().toSeq === inline,
      "a persisted index must answer bit-identically to the inline build")
    // the probes ⋈ cells join must plan a runtime (dynamic) pruning
    // subquery on the cells scan — the 100 TB shape: a query opens the
    // ~nprobe probed cells' files, never the corpus
    val plan = storedDf.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected runtime pruning on the stored cells scan:\n$plan")
    // the cells directory is key-grouped on cid: every file single-valued
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = graft.sources.ArrowFileStats.read(
      fs, new org.apache.hadoop.fs.Path(
        Similarity.ivfGenerationDir(spark, dir) + "/cells"))
    assert(stats.nonEmpty && stats.values.forall { s =>
      val c = s.cols("cid")
      c.nulls == 0 && c.min.isDefined && c.min == c.max
    })

    // ...and the runtime filter must FIRE, not just be planned: a dropped
    // filter still prints as dynamicpruningexpression(true). Eight exact
    // cells (six identical copies of one direction each, ids chosen so
    // each direction holds exactly one md5 seed, so every centroid is its
    // direction bit-for-bit). The query e0 is nearest d0, then TIES
    // between d1 = (1, 1, 0…) and d2 = (1, -1, 0…) (both dots are 1.0,
    // both norms √2): at nprobe = 2 the head must take the smaller cid.
    val dirs = Seq(
      Array(4f, 1f), Array(1f, 1f), Array(1f, -1f), Array(0f, 0f, 1f),
      Array(0f, 0f, 0f, 1f), Array(-1f, 0f, 0f, 0f, 0f, 1f),
      Array(0f, 0f, 0f, 0f, 0f, 0f, 1f), Array(-1f))
      .map(a => a.padTo(16, 0f))
    def md5Base(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      (0 until 4).foldLeft(0L)((h, i) => (h << 8) | (d(i) & 0xff))
    }
    val byHash = (0L until 48L).sortBy(id => (md5Base(id), id))
    val dirOf = byHash.zipWithIndex.map { case (id, i) => id -> i % 8 }.toMap
    val exact = (0L until 48L).map(id => (id, dirs(dirOf(id))))
      .toDF("vec_id", "embedding")
    val tieCid = Seq(byHash(1), byHash(2)).min
    val want = (0L until 48L)
      .filter(id => dirOf(id) == 0 || dirOf(id) == dirOf(tieCid))
      .toSet
    val q1 = Seq((0L, Array(1f).padTo(16, 0f))).toDF("qid", "qe")
    // (ids answered, files the cells scan read, files it had)
    def run(df: org.apache.spark.sql.DataFrame): (Set[Long], Int, Int) = {
      val ids = df.collect().map(_.getAs[Long]("vec_id")).toSet
      val descs = collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec if b.scan.description().contains("/cells") =>
          b.scan.description()
      }
      assert(descs.size == 1, s"one cells scan expected: $descs")
      val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(descs.head)
        .getOrElse(fail(s"no files=k/n on the cells scan: ${descs.head}"))
      (ids, m.group(1).toInt, m.group(2).toInt)
    }
    for (quantized <- Seq(false, true)) {
      val ix = java.nio.file.Files.createTempDirectory("graft_ivf_prune")
        .toString + "/ix"
      Similarity.ivfBuild(exact, "vec_id", "embedding", nlist = 8, dir = ix,
        quantized = quantized)
      val df = Similarity.ivfTopKStored(spark, ix, q1,
        "vec_id", "embedding", "qid", "qe", k = 20, nprobe = 2)
      val (ids, read, total) = run(df)
      assert(read <= 2 && 2 < total,
        s"quantized=$quantized: the cells scan read $read/$total files, " +
          s"expected at most nprobe x queries = 2:\n" +
          df.queryExecution.executedPlan)
      assert(ids === want,
        s"quantized=$quantized: the tied probe must take the smaller cid")
    }
  }

  test("incremental IVF append: new vectors join the stored cells, recall holds, layout survives") {
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val gen1 = mk(0 until 80)
    val gen2 = mk(80 until 100)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString + "/ix"
    Similarity.ivfBuild(gen1, "vec_id", "embedding", nlist = 8, dir = dir)
    Similarity.ivfAppend(spark, dir, gen2, "vec_id", "embedding")
    val cells = spark.read.format("arrow-ipc")
      .load(Similarity.ivfGenerationDir(spark, dir) + "/cells")
    assert(cells.count() === 100)
    assert(cells.select("vec_id").distinct().count() === 100)
    // appended files kept the inverted-list claim: still single-valued
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = graft.sources.ArrowFileStats.read(
      fs, new org.apache.hadoop.fs.Path(
        Similarity.ivfGenerationDir(spark, dir) + "/cells"))
    assert(stats.values.forall { s =>
      val c = s.cols("cid"); c.nulls == 0 && c.min.isDefined && c.min == c.max
    })
    // queries near gen-2 vectors FIND them through the frozen centroids
    val queries = gen2.filter($"vec_id" < 84)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val full = gen1.unionAll(gen2)
    val brute = Similarity.bruteForceTopK(full, queries,
      "vec_id", "embedding", "qid", "qe", k = 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val stored = Similarity.ivfTopKStored(spark, dir, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nprobe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val recall = brute.intersect(stored).size.toDouble / brute.size
    assert(recall >= 0.8, s"post-append recall $recall < 0.8")
    assert(stored.exists(_._2 >= 80L), "appended vectors must be retrievable")
  }

  test("a build crash between centroids and cells leaves the index old-or-new, never torn") {
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val gen1 = mk(0 until 80)
    val full = mk(0 until 100)
    val queries = gen1.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_crash").toString + "/ix"
    def topk() = Similarity.ivfTopKStored(spark, dir, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nprobe = 4)
      .orderBy("qid", "rk").collect().toSeq
    // a FIRST build that crashes between the two dataset writes leaves
    // NO manifest: queries and appends refuse loudly, never guess
    Similarity.afterIvfCentroidsHook = () => sys.error("crash mid-build")
    try intercept[RuntimeException] {
      Similarity.ivfBuild(gen1, "vec_id", "embedding", nlist = 8, dir = dir)
    } finally Similarity.afterIvfCentroidsHook = () => ()
    val e = intercept[IllegalArgumentException] { topk() }
    assert(e.getMessage.contains("_index.json"))
    intercept[IllegalArgumentException] {
      Similarity.ivfAppend(spark, dir, full, "vec_id", "embedding")
    }
    // a completed build answers; a crashed REBUILD must not change them
    Similarity.ivfBuild(gen1, "vec_id", "embedding", nlist = 8, dir = dir)
    val before = topk()
    Similarity.afterIvfCentroidsHook = () => sys.error("crash mid-rebuild")
    try intercept[RuntimeException] {
      Similarity.ivfBuild(full, "vec_id", "embedding", nlist = 8, dir = dir)
    } finally Similarity.afterIvfCentroidsHook = () => ()
    assert(topk() === before,
      "a crashed rebuild must leave the previous generation answering")
    // the flip: a completed rebuild serves the new corpus
    Similarity.ivfBuild(full, "vec_id", "embedding", nlist = 8, dir = dir)
    val cells = spark.read.format("arrow-ipc")
      .load(Similarity.ivfGenerationDir(spark, dir) + "/cells")
    assert(cells.count() === 100)
  }

  test("an append racing a rebuild's flip retries onto the new generation, never reverts it") {
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_race").toString + "/ix"
    Similarity.ivfBuild(mk(0 until 80), "vec_id", "embedding",
      nlist = 8, dir = dir)
    val gen0 = Similarity.ivfGenerationDir(spark, dir)
    // the hook fires between the append's cell write and its locked
    // manifest commit — exactly where a concurrent rebuild can flip the
    // generation out from under it; fire once, rebuild over a 90-row
    // corpus so the flipped generation is distinguishable
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    var gen1 = ""
    Similarity.beforeIvfAppendCommitHook = () =>
      if (fired.getAndIncrement() == 0) {
        Similarity.ivfBuild(mk(0 until 90), "vec_id", "embedding",
          nlist = 8, dir = dir)
        gen1 = Similarity.ivfGenerationDir(spark, dir)
      }
    try Similarity.ivfAppend(spark, dir, mk(100 until 110),
      "vec_id", "embedding")
    finally Similarity.beforeIvfAppendCommitHook = () => ()
    assert(fired.get() === 2, "the append must have retried exactly once")
    // the rebuild's flip survived (the old unconditional manifest write
    // would have reverted it to gen0), and the retried append landed in
    // the NEW generation: 90 rebuilt + 10 fresh rows, every id once
    val genFinal = Similarity.ivfGenerationDir(spark, dir)
    assert(genFinal === gen1 && genFinal != gen0,
      s"manifest must stay on the rebuild's generation ($gen0 / $gen1 / $genFinal)")
    val cells = spark.read.format("arrow-ipc").load(genFinal + "/cells")
    assert(cells.count() === 100)
    assert(cells.select("vec_id").distinct().count() === 100)
    val queries = mk(100 until 104)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val got = Similarity.ivfTopKStored(spark, dir, queries,
      "vec_id", "embedding", "qid", "qe", k = 3, nprobe = 4)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(got.exists(_ >= 100L),
      "fresh vectors appended through the retry must be retrievable")
  }

  test("ivfCompact: fewer files, bit-identical results, layout and racing appends preserved") {
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_cmp").toString + "/ix"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Similarity.ivfBuild(mk(0 until 80), "vec_id", "embedding",
      nlist = 8, dir = dir)
    // a fresh build is already at the key-grouped floor: nothing to do
    assert(Similarity.ivfCompact(spark, dir).isEmpty)
    // grow it: each append lands its own key-grouped file set
    Similarity.ivfAppend(spark, dir, mk(80 until 100), "vec_id", "embedding")
    Similarity.ivfAppend(spark, dir, mk(100 until 120), "vec_id", "embedding")
    val gen0 = Similarity.ivfGenerationDir(spark, dir)
    def cellFiles(gen: String) = graft.sources.ArrowSnapshots.listDataFiles(
      fs, new org.apache.hadoop.fs.Path(s"$gen/cells")).size
    val grown = cellFiles(gen0)
    val queries = mk(0 until 6)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    def topk() = Similarity.ivfTopKStored(spark, dir, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nprobe = 4)
      .orderBy("qid", "rk").collect().toSeq
    val before = topk()
    val res = Similarity.ivfCompact(spark, dir)
    assert(res.isDefined && res.get._1 == grown && res.get._2 < grown,
      s"compact must shrink $grown files (got $res)")
    val gen1 = Similarity.ivfGenerationDir(spark, dir)
    assert(gen1 != gen0, "compact must flip to a fresh generation")
    // BIT-identical: contents never change, only the file count
    assert(topk() === before)
    // the inverted-list claim survives: every cell file single-valued
    val stats = graft.sources.ArrowFileStats.read(
      fs, new org.apache.hadoop.fs.Path(s"$gen1/cells"))
    assert(stats.values.forall { st =>
      val c = st.cols("cid"); c.nulls == 0 && c.min.isDefined && c.min == c.max
    })
    // a racing append between the staged rewrite and the flip moves the
    // cells tip: the flip refuses (the staged rewrite lacks those rows)
    // and the CATCH-UP folds exactly the delta snapshots into the staged
    // generation before re-taking the lock — nothing lost, no restage
    Similarity.ivfAppend(spark, dir, mk(120 until 140), "vec_id", "embedding")
    Similarity.ivfAppend(spark, dir, mk(140 until 160), "vec_id", "embedding")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    Similarity.beforeIvfCompactCommitHook = () =>
      if (fired.getAndIncrement() == 0)
        Similarity.ivfAppend(spark, dir, mk(160 until 170),
          "vec_id", "embedding")
    val res2 =
      try Similarity.ivfCompact(spark, dir)
      finally Similarity.beforeIvfCompactCommitHook = () => ()
    assert(fired.get() == 1)
    assert(res2.isDefined)
    val cells = spark.read.format("arrow-ipc")
      .load(Similarity.ivfGenerationDir(spark, dir) + "/cells")
    assert(cells.count() === 170,
      "the catch-up must fold the racing append's rows into the flip")
    assert(cells.select("vec_id").distinct().count() === 170)
    // the folded rows kept the inverted-list claim too
    val stats2 = graft.sources.ArrowFileStats.read(
      fs, new org.apache.hadoop.fs.Path(
        Similarity.ivfGenerationDir(spark, dir) + "/cells"))
    assert(stats2.values.forall { st =>
      val c = st.cols("cid"); c.nulls == 0 && c.min.isDefined && c.min == c.max
    })
  }

  test("an append folded by a racing compact's flip does NOT re-append (exactly-once across the flip)") {
    // the advisor-found round-16 window: the append's cell write commits,
    // a compact then folds it (its tip0 covers the commit) and flips; the
    // append's locked manifest check finds a foreign generation. A blind
    // retry would re-append rows the fold already carried — the fold-link
    // chain must tell it the rows are live.
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_fold").toString + "/ix"
    Similarity.ivfBuild(mk(0 until 80), "vec_id", "embedding",
      nlist = 8, dir = dir)
    Similarity.ivfAppend(spark, dir, mk(80 until 100), "vec_id", "embedding")
    val gen0 = Similarity.ivfGenerationDir(spark, dir)
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    Similarity.beforeIvfAppendCommitHook = () =>
      if (fired.getAndIncrement() == 0)
        assert(Similarity.ivfCompact(spark, dir).isDefined,
          "the racing compact must flip")
    try Similarity.ivfAppend(spark, dir, mk(100 until 110),
      "vec_id", "embedding")
    finally Similarity.beforeIvfAppendCommitHook = () => ()
    assert(fired.get() === 1,
      "the fold-covered append must NOT retry its cell write")
    val gen1 = Similarity.ivfGenerationDir(spark, dir)
    assert(gen1 != gen0, "the compact's flip must survive the append")
    val cells = spark.read.format("arrow-ipc").load(gen1 + "/cells")
    assert(cells.count() === 110,
      "the folded append's rows must appear exactly once")
    assert(cells.select("vec_id").distinct().count() === 110)
  }

  test("an append folded across TWO compact flips is still covered by the fold-link chain") {
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_fold2").toString + "/ix"
    Similarity.ivfBuild(mk(0 until 80), "vec_id", "embedding",
      nlist = 8, dir = dir)
    Similarity.ivfAppend(spark, dir, mk(80 until 100), "vec_id", "embedding")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    Similarity.beforeIvfAppendCommitHook = () =>
      if (fired.getAndIncrement() == 0) {
        // flip 1 folds the stalled append's cell commit; a further append
        // re-grows the file count so flip 2 has something to compact —
        // the stalled append's rows must survive BOTH hops exactly once
        assert(Similarity.ivfCompact(spark, dir).isDefined)
        Similarity.ivfAppend(spark, dir, mk(200 until 220),
          "vec_id", "embedding")
        assert(Similarity.ivfCompact(spark, dir).isDefined)
      }
    try Similarity.ivfAppend(spark, dir, mk(100 until 110),
      "vec_id", "embedding")
    finally Similarity.beforeIvfAppendCommitHook = () => ()
    // 2 = the stalled outer append once + the hook's own inner append
    // once; a retry of the outer would make it 3
    assert(fired.get() === 2,
      "the chain-covered append must NOT retry its cell write")
    val cells = spark.read.format("arrow-ipc")
      .load(Similarity.ivfGenerationDir(spark, dir) + "/cells")
    assert(cells.count() === 130)
    assert(cells.select("vec_id").distinct().count() === 130)
  }

  test("an append landing between a compact's tip sample and its staged rewrite folds exactly once") {
    // the advisor-found unpinned-base window: the staged rewrite must
    // read the cells AS OF tip0, or rows committed after the sample are
    // carried by both the base and the catch-up
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_pin").toString + "/ix"
    Similarity.ivfBuild(mk(0 until 80), "vec_id", "embedding",
      nlist = 8, dir = dir)
    Similarity.ivfAppend(spark, dir, mk(80 until 100), "vec_id", "embedding")
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    Similarity.beforeIvfCompactStageHook = () =>
      if (fired.getAndIncrement() == 0)
        Similarity.ivfAppend(spark, dir, mk(100 until 120),
          "vec_id", "embedding")
    val res =
      try Similarity.ivfCompact(spark, dir)
      finally Similarity.beforeIvfCompactStageHook = () => ()
    assert(fired.get() === 1 && res.isDefined)
    val cells = spark.read.format("arrow-ipc")
      .load(Similarity.ivfGenerationDir(spark, dir) + "/cells")
    assert(cells.count() === 120,
      "the mid-sample append must be folded exactly once (catch-up only)")
    assert(cells.select("vec_id").distinct().count() === 120)
  }

  test("the sweep never grace-marks a YOUNG foreign generation, and flips clear a raced marker") {
    val rnd = new scala.util.Random(7)
    def mk(ids: Range) = ids.map { i =>
      (i.toLong, Array.fill(8)(5.0f + rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_young").toString + "/ix"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a wide window for the "young" leg (builds take seconds — the dir
    // must still count as young at sweep time), narrowed for the aging leg
    spark.conf.set("spark.graft.arrow.occStaleMs", "60000")
    try {
      Similarity.ivfBuild(mk(0 until 40), "vec_id", "embedding",
        nlist = 4, dir = dir)
      // a YOUNG foreign dir stands in for a concurrent build's mid-stage
      // generation: the sweep must not drop a grace marker into it — the
      // marker would ride through that build's flip into the live
      // generation, where a later supersession would skip the grace
      val young = new org.apache.hadoop.fs.Path(s"$dir/g-midstage")
      fs.mkdirs(young)
      Similarity.ivfBuild(mk(0 until 50), "vec_id", "embedding",
        nlist = 4, dir = dir)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(young, "_superseded")),
        "a young foreign dir must not be grace-marked")
      // aged past a NARROWED window, the next sweep marks it like any
      // dead dir (the dir is already older than 600ms by now)
      spark.conf.set("spark.graft.arrow.occStaleMs", "600")
      Thread.sleep(700)
      Similarity.ivfBuild(mk(0 until 60), "vec_id", "embedding",
        nlist = 4, dir = dir)
      assert(fs.exists(new org.apache.hadoop.fs.Path(young, "_superseded")),
        "an aged foreign dir must enter the grace protocol")
      // belt: a marker raced into the flip's own generation is cleared
      // at the flip, so the kept generation never carries one
      var marked = ""
      Similarity.afterIvfCentroidsHook = () => {
        val g = Option(fs.globStatus(
          new org.apache.hadoop.fs.Path(dir, "g-*"))).getOrElse(Array.empty)
          .map(_.getPath).find(p =>
            fs.exists(new org.apache.hadoop.fs.Path(p, "centroids")) &&
              !fs.exists(new org.apache.hadoop.fs.Path(p, "cells"))).get
        marked = g.getName
        fs.create(new org.apache.hadoop.fs.Path(g, "_superseded"), true).close()
      }
      try Similarity.ivfBuild(mk(0 until 70), "vec_id", "embedding",
        nlist = 4, dir = dir)
      finally Similarity.afterIvfCentroidsHook = () => ()
      val kept = Similarity.ivfGenerationDir(spark, dir)
      assert(kept.endsWith(marked), "the hook must have marked the kept gen")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(kept, "_superseded")),
        "the flip must clear a marker raced into its own generation")
    } finally spark.conf.unset("spark.graft.arrow.occStaleMs")
  }

  test("a superseded generation gets a full staleness window of grace before the sweep") {
    val rnd = new scala.util.Random(7)
    def mk(ids: Range) = ids.map { i =>
      (i.toLong, Array.fill(8)(5.0f + rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_grace").toString + "/ix"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens() = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(dir, "g-*")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSet
    spark.conf.set("spark.graft.arrow.occStaleMs", "400")
    try {
      Similarity.ivfBuild(mk(0 until 40), "vec_id", "embedding",
        nlist = 4, dir = dir)
      val genA = gens().head
      // generation A goes QUIET for longer than the staleness window —
      // the pre-fix sweep would have deleted it the instant a rebuild
      // dethroned it, under any reader that resolved the manifest first
      Thread.sleep(500)
      Similarity.ivfBuild(mk(0 until 50), "vec_id", "embedding",
        nlist = 4, dir = dir)
      assert(gens().contains(genA),
        "a just-superseded generation must survive the flip's sweep")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$genA/_superseded")))
      // after a full window FROM SUPERSESSION it is fair game
      Thread.sleep(500)
      Similarity.ivfBuild(mk(0 until 60), "vec_id", "embedding",
        nlist = 4, dir = dir)
      assert(!gens().contains(genA),
        "a generation dead for a full window must be swept")
    } finally spark.conf.unset("spark.graft.arrow.occStaleMs")
  }

  test("LSH top-k: same-bucket neighbors are exact-ranked; buckets deterministic") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 100L).map(i => (i, Array.fill(16)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 3).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val out = Similarity.lshTopK(corpus, queries, "vec_id", "embedding", "qid", "qe",
      k = 5, nPlanes = 2, dim = 16)
    // every query finds at least itself (cos=1, same bucket by construction)
    val byQ = out.collect().groupBy(_.getAs[Long]("qid"))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("vec_id")).contains(q))
      val sims = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("cos"))
      assert(sims.sameElements(sims.sortBy(-(_: Double))), "ranked by cos desc")
    }
  }

  test("kmeans matches an exact driver-side Lloyd reference, bit-for-bit") {
    val rnd = new scala.util.Random(31)
    val data = (0L until 60L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toMap
    val df = data.toSeq.toDF("vec_id", "embedding")
    val k = 3
    val iters = 2
    val fix = 1099511627776.0 // 2^40

    // Reference: the same deterministic construction in plain Scala —
    // md5-seeded init, left-to-right double dots, fixed-point means.
    def baseHash(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val vecs = data.map { case (id, v) => id -> v.map(_.toDouble) }
    val n2 = vecs.map { case (id, v) => id -> dot(v, v) }
    def assign(cents: Seq[(Long, Array[Double])]): Map[Long, (Long, Double)] =
      vecs.map { case (id, v) =>
        val best = cents.map { case (cid, c) =>
          (n2(id) - 2.0 * dot(v, c) + dot(c, c), cid)
        }.min  // (d2, cid) tuple order = min d2, tie → min cid
        id -> (best._2, best._1)
      }
    var cents: Seq[(Long, Array[Double])] =
      data.keys.toSeq.sortBy(id => (baseHash(id.toString), id)).take(k)
        .map(id => id -> vecs(id))
    for (_ <- 0 until iters) {
      val a = assign(cents)
      cents = a.groupBy(_._2._1).toSeq.map { case (cid, members) =>
        val ids = members.keys.toSeq
        val dim = 8
        val m = Array.tabulate(dim) { p =>
          val s = ids.map(id => BigDecimal(vecs(id)(p) * fix)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt).sum
          BigDecimal(s).toDouble / ids.size.toDouble / fix
        }
        cid -> m
      }.sortBy(_._1)
    }
    val expect = assign(cents).map { case (id, (cid, d2)) =>
      (id, cid, BigDecimal(d2).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(_._1)

    val got = Similarity.kmeans(df, "vec_id", "embedding", k, iters)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster"), r.getAs[Double]("dist2")))
      .toSeq
    assert(got === expect)
  }

  test("kmeans is repartition-invariant and Lloyd objective is non-increasing") {
    val rnd = new scala.util.Random(47)
    val df = (0L until 80L).map(i => (i, Array.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    def run(d: org.apache.spark.sql.DataFrame, iters: Int) =
      Similarity.kmeans(d, "vec_id", "embedding", k = 4, iters = iters)
    val a = run(df, 2).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = run(df.repartition(7), 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b)
    def objective(iters: Int): Double =
      run(df, iters).agg(sum($"dist2")).head().getDouble(0)
    val objs = Seq(objective(0), objective(1), objective(3))
    assert(objs(1) <= objs(0) + 1e-9 && objs(2) <= objs(1) + 1e-9,
      s"Lloyd objective increased: $objs")
  }

  test("multi-probe LSH: recall >= 0.9 vs brute force, bounded candidate fan-out") {
    // Noisy clusters: genuine neighbors exist (same cluster, high cosine)
    // but the noise pushes some across a hyperplane — exactly the neighbors
    // single-bucket probing loses and Hamming-1 probing recovers.
    val rnd = new scala.util.Random(23)
    val centers = Seq(
      Array.fill(16)(5.0f), Array.fill(16)(-5.0f),
      Array.tabulate(16)(i => if (i < 8) 5.0f else -5.0f),
      Array.tabulate(16)(i => if (i < 8) -5.0f else 5.0f))
    val corpus = (0L until 200L)
      .map(i => (i, centers((i % 4).toInt).map(v => v + rnd.nextFloat() * 6f - 3f)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qe", k = 5))
    val single = pairs(Similarity.lshTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nPlanes = 4, dim = 16))
    val multi = pairs(Similarity.lshTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qe", k = 5, nPlanes = 4, dim = 16,
      multiProbe = true))
    val singleRecall = brute.intersect(single).size.toDouble / brute.size
    val multiRecall = brute.intersect(multi).size.toDouble / brute.size
    assert(multiRecall >= 0.9, s"multi-probe recall $multiRecall < 0.9")
    assert(multiRecall >= singleRecall,
      s"multi-probe $multiRecall regressed below single-probe $singleRecall")
    // Fan-out stays bounded: nPlanes+1 probes of 2^4 buckets ≈ 5/16 of the
    // corpus per query on uniform data — nowhere near exhaustive scan.
    assert(multi.size <= queries.count() * 5)
  }

  test("unique-id contract: a replicated append batch collapses to the dedup'd append (first()-payload argmax)") {
    // The round-17 assignment optimization carries (vec, cn) through the
    // per-id argmax via first() — sound because every row of an id group
    // replicates ONE corpus row (ids unique per the documented corpus
    // contract). Pin the one duplicate-id shape that IS well-defined:
    // exact replication (the retry / at-least-once ingest case), against
    // FROZEN centroids (ivfAppend), where the whole-build seed selection
    // — which is honestly duplicate-SENSITIVE (orderBy(h, id).limit(n)
    // can take one id twice) — is out of the picture. An appended batch
    // with replicated (id, vec) rows must land each id ONCE with the
    // replicated payload, answering exactly like the dedup'd batch; if
    // first() ever pulled a different payload than the argmax row, this
    // diverges.
    val rnd = new scala.util.Random(7)
    val base = (0L until 100L)
      .map(i => (i, Array.fill(32)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val freshRows = (100L until 140L)
      .map(i => (i, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    val fresh = freshRows.toDF("vec_id", "embedding")
    val freshDup = (freshRows ++ freshRows.filter(_._1 % 3 == 0))
      .toDF("vec_id", "embedding")
    val queries = base.filter($"vec_id" < 6)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
      df.orderBy("qid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    def buildAppendQuery(batch: org.apache.spark.sql.DataFrame, tag: String) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"ivf_dupid_$tag").toString
      Similarity.ivfBuild(base, "vec_id", "embedding", nlist = 8, dir = dir)
      Similarity.ivfAppend(spark, dir, batch, "vec_id", "embedding")
      val out = rows(Similarity.ivfTopKStored(spark, dir, queries,
        "vec_id", "embedding", "qid", "qe", k = 6, nprobe = 8))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      out
    }
    val a = buildAppendQuery(fresh, "clean")
    val b = buildAppendQuery(freshDup, "dup")
    assert(a == b, "a replicated append batch changed the stored IVF result")
  }
}
