package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Dedup operator semantics on crafted corpora (beyond-reference surface). */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"),   // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "")).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts duplicates") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_count")).toMap
    assert(out(1L) === 2L)       // docs 1+2 collapse, min id 1 kept
    assert(!out.contains(2L))
    assert(out(3L) === 1L && out(4L) === 1L && out(5L) === 1L)
  }

  test("minhash: identical docs get identical signatures; different docs differ") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text", width = 4, k = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (0 until 8).map(i => r.getAs[Long](s"mh_$i"))).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(4L))
    // near-dup shares most minhashes with its original
    val shared = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(shared >= 4, s"near-dup docs shared only $shared/8 minhashes")
  }

  test("LSH candidate pairs contain the exact-dup pair, not the unrelated one") {
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text",
      width = 4, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)))
  }

  test("LSH-verified jaccard: exact dup scores 1.0; verified against definition") {
    val out = Dedup.jaccardPairsLsh(docs, "doc_id", "text",
      width = 4, threshold = 0.2, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(out((1L, 2L)) === 1.0)
    // independent recomputation of jaccard(1,3) from shingle sets
    def shingles(s: String) = s.sliding(4).toSet
    val (a, b) = (shingles(docs.collect()(0).getString(1)), shingles(docs.collect()(2).getString(1)))
    val expected = a.intersect(b).size.toDouble / a.union(b).size.toDouble
    out.get((1L, 3L)).foreach(j => assert(math.abs(j - expected) < 1e-12))
  }

  test("sorted-merge intersect kernel agrees with array_intersect") {
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "d", "e")),
      (Seq("x"), Seq("y")),
      (Seq[String](), Seq("a"))).toDF("l", "r")
    val out = df.select(
      graft.functions.VectorExpressions.sortedIntersectSize(
        array_sort(col("l")), array_sort(col("r"))).as("k"),
      size(array_intersect(col("l"), col("r"))).cast("long").as("ref"))
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("simhash: identical docs identical; near-dups closer than unrelated") {
    val fp = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash")).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L).length === 16)
    def hamming(x: String, y: String): Int =
      x.zip(y).map { case (a, b) =>
        Integer.bitCount(Integer.parseInt(a.toString, 16) ^ Integer.parseInt(b.toString, 16))
      }.sum
    assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L)),
      s"near-dup ${hamming(fp(1L), fp(3L))} !< unrelated ${hamming(fp(1L), fp(4L))}")
  }

  test("SimHash64 kernel is bit-identical to the exploded construction") {
    val tricky = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "  leading and   multiple   spaces\tand\ttabs "),
      (3L, "единственный unicode täxt"),
      (4L, "x"),
      (5L, ""),                          // no tokens → absent
      (6L, "   \t  "),                   // whitespace only → absent
      (7L, null.asInstanceOf[String])    // null → absent
    ).toDF("doc_id", "text")
    val kernel = Dedup.simhash(tricky, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    // Legacy exploded construction, inlined (what simhash used to do).
    val tokens = tricky
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("doc_id"), md5(col("tok")).as("h"))
    val digits = tokens
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), lit(15)),
        j => conv(col("h").substr(j + 1, lit(1)), 16, 10).cast("int"))))
      .toDF("doc_id", "pos", "dig")
    val sums = digits.groupBy(col("doc_id"), col("pos")).agg(
      count(lit(1)).as("n"),
      sum(floor(col("dig") / 8) % 2).as("c3"),
      sum(floor(col("dig") / 4) % 2).as("c2"),
      sum(floor(col("dig") / 2) % 2).as("c1"),
      sum(col("dig") % 2).as("c0"))
    def bit(c: String) = when(col(c) * 2 > col("n"), 1).otherwise(0)
    val nibbles = sums.select(col("doc_id"), col("pos"),
      (bit("c3") * 8 + bit("c2") * 4 + bit("c1") * 2 + bit("c0")).as("nib"))
    val legacy = nibbles.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("nib")))).as("ps"))
      .select(col("doc_id"), lower(concat((0 until 16).map(j =>
        conv(col("ps").getItem(j).getField("nib").cast("string"), 10, 16)): _*))
        .as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    assert(kernel === legacy)
    assert(!kernel.contains(5L) && !kernel.contains(6L) && !kernel.contains(7L))
  }

  test("connected components: every chain node takes its chain's min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (10L, 11L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: reliable-checkpoint path (cluster mode) gives same labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-chk").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs, "doc_id", checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // The reliable path actually wrote RDD checkpoint files under the dir.
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)), s"no checkpoint files under $dir")
  }

  test("hot-bucket cap drops super-frequent buckets, keeps normal pairs") {
    // 30 identical docs share every band bucket (bucket size 30); one
    // distinct near-dup pair sits in its own buckets of size 2.
    val many = (0L until 30L).map(i => (i, "common text shared by everyone"))
    val pair = Seq((100L, "a unique document body"), (101L, "a unique document bodX"))
    val df = (many ++ pair).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(df, "doc_id", "text", width = 4, k = 8)
    val unc = Dedup.minhashCandidatePairsFromSig(sig, "doc_id", k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.minhashCandidatePairsFromSig(sig, "doc_id", k = 8, bands = 4,
      maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unc.contains((0L, 1L)) && unc.contains((100L, 101L)))
    assert(!capped.exists { case (x, y) => x < 30L && y < 30L },
      "capped run must drop the hot 30-doc bucket's pairs")
    assert(capped.contains((100L, 101L)), "normal buckets must survive the cap")
  }

  test("containment catches an excerpt that symmetric Jaccard misses") {
    val small = "the quick brown fox jumps over the lazy dog"
    val big = small + " and then continues with much more unique content afterwards"
    val df = Seq((1L, small), (2L, big),
      (3L, "completely unrelated text about engines")).toDF("doc_id", "text")
    // bands = k (r = 1): band collision P ≈ 1-(1-j)^k — catches even the
    // low-jaccard excerpt pair deterministically at this k
    val docs = Dedup.jaccardDocs(df, "doc_id", "text", width = 4, k = 8, persist = false)
    val out = Dedup.containmentPairsFromDocs(docs, "doc_id",
      threshold = 0.9, k = 8, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("jaccard")))
    assert(out.length === 1)
    val (a, b, cont, jac) = out.head
    assert((a, b) === ((1L, 2L)))
    assert(cont === 1.0, "prefix excerpt: every small-doc shingle is in the big doc")
    assert(jac < 0.9, s"jaccard $jac must be below the containment threshold (asymmetry)")
  }

  test("componentRepresentatives: max score wins, ties to min id, NULL never represents") {
    val df = Seq(
      (1L, 100L, Some(5L)), (2L, 100L, Some(9L)), (3L, 100L, Some(9L)), // tie 2 vs 3 → 2
      (4L, 200L, Some(7L)),                                             // singleton cluster
      (5L, 300L, None), (6L, 300L, Some(1L)),                           // null loses
      (7L, 400L, None)                                                  // all-null → dropped
    ).toDF("doc_id", "component", "score")
    val out = Dedup.componentRepresentatives(df, "doc_id", "component", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out === Set((100L, 2L, 9L), (200L, 4L, 7L), (300L, 6L, 1L)))
  }

  test("capped exact Jaccard: sizes use the capped universe (identical docs score 1.0)") {
    // 3 identical docs share every shingle (df = 3 > cap 2): with the cap
    // those shingles leave BOTH numerator and denominator, so the pair
    // similarity is computed over the remaining universe — for fully
    // identical docs the capped set is empty and no pair is emitted, while
    // docs sharing a sub-cap shingle set still score exactly 1.0.
    val df = Seq(
      (1L, "abcd wxyz"), (2L, "abcd wxyz"),      // identical pair, df=2 shingles
      (3L, "hot hot"), (4L, "hot hot"), (5L, "hot hot")  // df=3 → fully capped away
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", width = 4,
      threshold = 0.99, maxShingleDf = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    assert(out.keySet === Set((1L, 2L)))
    assert(out((1L, 2L)) === 1.0,
      "identical docs must score 1.0 — denominator must use the capped universe")
  }

  test("NULL-text docs never band-collide (no empty-band-hash all-pairs)") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidatePairs(df, "doc_id", "text", 4, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)),
      s"NULL-text docs must produce no candidates, got $pairs")
    val incr = Dedup.incrementalCandidatePairs(
      df.filter(col("doc_id") <= 3), df.filter(col("doc_id") > 3),
      "doc_id", "text", 4, 8, 4).collect()
    assert(incr.isEmpty, "null-text new docs must not pair with null-text old docs")
  }

  test("incremental candidates: new×new and new×old pairs, never old×old") {
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),   // old dup of 1 — must NOT pair
      (3L, "completely different content about spark engines")).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // dup of old 1 and 2
      (11L, "the quick brown fox jumps over the lazy dog"),  // dup of 10 (new×new)
      (12L, "unrelated fresh text with no duplicates at all")).toDF("doc_id", "text")
    val out = Dedup.incrementalCandidatePairs(old, fresh, "doc_id", "text",
      width = 4, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out.contains((1L, 10L, "new_old")) && out.contains((2L, 10L, "new_old")))
    assert(out.contains((10L, 11L, "new_new")))
    assert(!out.exists { case (a, b, _) => a < 10L && b < 10L }, s"old×old pair leaked: $out")
  }

  test("incremental pairs + prior-batch pairs = full-corpus pairs (no loss, no dupes)") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a completely different document about engines",
      "the quick brown fox jumps over the lazy cat",
      "yet another unrelated piece of text entirely")
    val old = (0L until 6L).map(i => (i, texts((i % 4).toInt))).toDF("doc_id", "text")
    val fresh = (10L until 14L).map(i => (i, texts((i % 4).toInt))).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oldPairs = pairSet(Dedup.minhashCandidatePairs(old, "doc_id", "text", 4, 8, 4))
    val incr = pairSet(Dedup.incrementalCandidatePairs(old, fresh, "doc_id", "text", 4, 8, 4)
      .select("id_a", "id_b"))
    val full = pairSet(Dedup.minhashCandidatePairs(
      old.unionByName(fresh), "doc_id", "text", 4, 8, 4))
    assert(oldPairs.intersect(incr).isEmpty, "incremental must not re-emit old pairs")
    assert(oldPairs ++ incr === full, "old-batch + incremental must cover the full pairing")
  }

  test("dupNgramStats counts exactly the shingle hashes shared across docs") {
    val df = Seq(
      (1L, "abcdef"),   // w=3 shingles: abc bcd cde def
      (2L, "abcxyz"),   // shares only "abc" with doc 1
      (3L, "zzzzz"),    // all shingles identical → 1 distinct, shared with nobody
      (4L, ""),         // empty text = one empty shingle (whole-text rule)
      (5L, "")).toDF("doc_id", "text")
    val out = Dedup.dupNgramStats(df, "doc_id", "text", width = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_dup_shingles"),
          r.getAs[Double]("dup_ratio")))).toMap
    assert(out(1L) === ((4L, 1L, 0.25)))
    assert(out(2L) === ((4L, 1L, 0.25)))
    assert(out(3L) === ((1L, 0L, 0.0)))
    // the two empty docs share their single empty shingle
    assert(out(4L) === ((1L, 1L, 1.0)) && out(5L) === ((1L, 1L, 1.0)))
  }

  test("ShingleMinhash kernel is bit-identical to the exploded construction") {
    // The doc-local kernel must reproduce the explode → collect_set/min
    // construction EXACTLY (the DuckDB oracles replicate that construction):
    // same base hashes, same sorted distinct set, same minhash values —
    // including short texts (whole text = single shingle), empty text (one
    // "" shingle), non-ASCII (character shingling, not bytes), and NULL
    // text (empty set, NULL minhashes).
    val tricky = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "abc"),                       // shorter than width
      (3L, ""),                          // empty: md5("") shingle
      (4L, "naïve café über straße — ß"), // non-ASCII chars
      (5L, null.asInstanceOf[String]),
      (6L, "aaaaaaaaaa"),                // one distinct shingle, many positions
      (7L, "a😀b𝒳c d") // supplementary chars (4-byte UTF-8,
                                            // 2 UTF-16 units = ONE shingling char)
    ).toDF("doc_id", "text")
    val k = 8; val w = 4
    val kernel = Dedup.jaccardDocs(tricky, "doc_id", "text", w, k, persist = false)

    // Legacy exploded construction, inlined (what jaccardDocs used to do).
    val coeffs = Dedup.minhashCoeffs(k)
    val sh = Dedup.shingleRowsRaw(tricky, "doc_id", "text", w)
      .select(col("doc_id"), Dedup.shingleBase(col("shingle")).as("__mhb"))
    val aggs = array_sort(collect_set(col("__mhb"))).as("shset") +:
      coeffs.zipWithIndex.map { case (c, i) =>
        min(Dedup.derivedHash(col("__mhb"), c)).as(s"mh_$i") }
    val legacy = sh.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("sz", size(col("shset")).cast("long"))

    assert(kernel.columns.toSeq === legacy.columns.toSeq)
    val kRows = kernel.orderBy("doc_id").collect()
    val lRows = legacy.orderBy("doc_id").collect()
    assert(kRows.length === lRows.length)
    kRows.zip(lRows).foreach { case (a, b) =>
      assert(a.getAs[scala.collection.Seq[Long]]("shset").toSeq ===
          b.getAs[scala.collection.Seq[Long]]("shset").toSeq,
        s"shset mismatch for doc ${a.getLong(0)}")
      (0 until k).foreach { i =>
        assert(a.getAs[Any](s"mh_$i") === b.getAs[Any](s"mh_$i"),
          s"mh_$i mismatch for doc ${a.getLong(0)}")
      }
      assert(a.getAs[Long]("sz") === b.getAs[Long]("sz"))
    }
  }

  test("jaccardDocs plan is map-only: no exchange before the docs frame") {
    val docsF = Dedup.jaccardDocs(docs, "doc_id", "text", 4, 8, persist = false)
    val plan = docsF.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"doc-local signature must not shuffle:\n$plan")
  }

  test("one jaccardDocs frame serves multiple thresholds (shared-stage composition)") {
    val docs6 = Dedup.jaccardDocs(docs, "doc_id", "text", width = 4, k = 8)
    val loose = Dedup.jaccardPairsFromDocs(docs6, "doc_id", threshold = 0.2, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tight = Dedup.jaccardPairsFromDocs(docs6, "doc_id", threshold = 0.99, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(loose), "tighter threshold must be a subset")
    assert(tight.contains((1L, 2L)), "exact dup survives any threshold")
    val direct = Dedup.jaccardPairsLsh(docs, "doc_id", "text",
      width = 4, threshold = 0.2, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(direct === loose, "composed path must equal the one-shot path")
  }

  test("connected components agree with a union-find over a random graph") {
    val rnd = new scala.util.Random(31)
    // random graph: 120 nodes, 150 random edges + isolated-pair + self-loop
    val edges = (0 until 150).map { _ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
    } :+ (500L, 501L) :+ (600L, 600L)
    val pairs = edges.toDF("id_a", "id_b")
    // Reference: union-find over the same edges, linking every root to the
    // smaller root so each root is its component's min id.
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.toList.map(n => n -> find(n)).toMap
    val comp = Dedup.connectedComponents(pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === expected)
  }

  test("connected components collapse a 300-edge chain") {
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(chain, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 301)
    assert(comp.values.toSet === Set(0L), "all chain nodes must reach component 0")
  }

  test("connected components fail loudly when maxIter ends before the fixpoint") {
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "doc_id", maxIter = 1)
    }
    assert(e.getMessage.contains("maxIter=1"))
  }

  test("embedding near-dup pairs by cosine threshold (exact mode)") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.14f, 0.0f)),   // ~cos 0.990 with 1
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.9, nTables = 0, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("banded sign-LSH near-dup: subset of exact, high recall on planted dups") {
    val r = new scala.util.Random(7)
    def vec() = Array.fill(64)(r.nextGaussian().toFloat)
    val base = (1 to 40).map(i => (i.toLong, vec()))
    val dups = base.take(20).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.3f * r.nextGaussian().toFloat)) // cos ≈ 0.95
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    def pairsOf(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact = pairsOf(Dedup.embeddingNearDupPairs(
      df, "vec_id", "embedding", threshold = 0.8, nTables = 0, dim = 64))
    val lsh = pairsOf(Dedup.embeddingNearDupPairs(
      df, "vec_id", "embedding", threshold = 0.8,
      planesPerTable = 4, nTables = 8, dim = 64))
    assert(exact.size >= 20, s"expected the 20 planted pairs, got ${exact.size}")
    assert(lsh.subsetOf(exact), "LSH emitted a pair the exact path rejected")
    assert(lsh.size.toDouble / exact.size >= 0.9,
      s"LSH recall ${lsh.size}/${exact.size} below 0.9")
  }

  test("semanticDedup: near-dups drop within a cluster (min id kept); distinct vectors and cross-cluster pairs survive") {
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f)),       // cluster A anchor
      (2L, Seq(0.999f, 0.01f)),    // ~A: cos ≈ 1 with id 1 → dropped
      (3L, Seq(0.998f, 0.02f)),    // ~A: near both → dropped
      (10L, Seq(0.0f, 1.0f)),      // cluster B anchor
      (11L, Seq(0.6f, 0.8f))       // B but cos(10,11)=0.8 < θ → kept
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(rows, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) && !out(2L) && !out(3L),
      s"cluster-A neighborhood wrong: $out")
    assert(out(10L) && out(11L),
      s"sub-threshold pair was dropped: $out")
  }

  test("substringDedup: owner keeps the span, every non-owner loses exactly its cover; overlapping grams merge; within-doc repeats untouched") {
    // a 12-token span copied into docs 1, 2 and 3; unique filler around it
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"one two three $span four"),
      (3L, s"$span tail1 tail2 tail3 tail4 tail5"),
      // doc 4: repeats ITS OWN 8-gram twice but shares nothing cross-doc
      (4L, ((1 to 8).map(i => s"r$i") ++ (1 to 8).map(i => s"r$i")).mkString(" ")),
      (5L, "entirely unique text with no duplication at all here")
    ).toDF("doc_id", "text")
    val res = Dedup.substringDedup(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1 owns every duplicated gram (min id) — keeps everything
    assert(res(1L) === ((16L, 0L)), s"owner lost tokens: ${res(1L)}")
    // docs 2 and 3 lose exactly the 12-token span: the 5 duplicated
    // 8-gram anchors (positions 0..4 of the span) cover all 12 tokens —
    // overlapping grams merged into ONE maximal span, no double count
    assert(res(2L) === ((16L, 12L)), s"non-owner cover wrong: ${res(2L)}")
    assert(res(3L) === ((17L, 12L)), s"non-owner cover wrong: ${res(3L)}")
    // within-doc repetition alone is NOT cross-document evidence
    assert(res(4L) === ((16L, 0L)), s"self-repeat was masked: ${res(4L)}")
    assert(res(5L) === ((9L, 0L)))
  }
}
