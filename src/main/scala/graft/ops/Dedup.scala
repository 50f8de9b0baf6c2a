package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus cleaning (beyond-reference
  * surface — the reference's only dedup is the replace-key merge, which
  * [[Sorts.replaceDedup]] covers).
  *
  * Algorithms follow the published constructions: MinHash resemblance
  * (Broder, "On the resemblance and containment of documents", 1997),
  * banded LSH (Indyk & Motwani 1998; Leskovec/Rajaraman/Ullman, MMDS ch.3),
  * SimHash (Charikar, "Similarity estimation techniques from rounding
  * algorithms", 2002; Manku et al., WWW 2007 for near-dup detection).
  *
  * Scale design: every operator here is a pure DataFrame pipeline — shingle
  * explode, hash-shuffle on content keys, band-bucket joins — no driver-side
  * loops, no collect. Pairwise work is always bounded by bucketing (LSH
  * bands / shingle joins), never by a cross join, so the cost at 100 TB is
  * O(candidate pairs), not O(n²).
  */
object Dedup {

  /** Exact dedup: keep one representative (min of `idCol`) per distinct
    * value of `textCol`, plus the duplicate count. Grouping on md5(text)
    * instead of the full text keeps shuffle rows small for large docs;
    * a single hash-shuffle. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Character n-gram shingles: one (id, shingle) row per distinct shingle
    * per doc. The explode distributes; no driver state. Texts shorter than
    * `width` contribute the whole text as their single shingle. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, width: Int): DataFrame =
    shingleRowsRaw(df, idCol, textCol, width).distinct()

  /** Non-distinct shingles — enough for MinHash (min ignores multiplicity);
    * Jaccard sizes/sets need the distinct variant. Bounds use character
    * `length` to match `substr`'s character semantics (octet_length would
    * mis-bound any non-ASCII text and diverge from the char-based oracle). */
  def shingleRowsRaw(df: DataFrame, idCol: String, textCol: String, width: Int): DataFrame =
    df.select(
        col(idCol),
        explode(
          transform(
            sequence(lit(1), greatest(length(col(textCol)) - (width - 1), lit(1))),
            i => col(textCol).substr(i, lit(width)))
        ).as("shingle"))

  /** Smallest prime > 2^32 — modulus of the derived MinHash family. */
  val MinhashP: Long = graft.functions.MinhashFamily.P

  /** Deterministic (a, b) coefficients for the k derived hash functions
    * h_i(x) = (a_i·x + b_i) mod P over the 32-bit base hash. a_i < 2^20 keeps
    * a_i·x < 2^52 — exact in a long (and in DuckDB's BIGINT), no wrapping, so
    * the SQL oracle reproduces values bit-for-bit from the same constants.
    * (Defined in [[graft.functions.MinhashFamily]], shared with the
    * doc-local [[graft.functions.ShingleMinhash]] kernel.) */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    graft.functions.MinhashFamily.coeffs(k)

  /** 32-bit base hash of a shingle: first 8 hex chars of its md5. ONE md5
    * per shingle; the k MinHash functions are then cheap affine transforms —
    * the standard construction (MMDS ch.3), k× cheaper than k full hashes. */
  def shingleBase(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 8), 16, 10).cast("long")

  /** Derived hash i over a base-hash column. */
  def derivedHash(base: Column, coeff: (Long, Long)): Column =
    (lit(coeff._1) * base + lit(coeff._2)) % lit(MinhashP)

  /** MinHash signature: for each of `k` derived hash functions, the minimum
    * over the document's shingle set. Output: one row per doc, long columns
    * mh_0 … mh_{k-1}.
    *
    * Computed SCAN-LOCAL by the doc-level [[graft.functions.ShingleMinhash]]
    * kernel — map-only, no shuffle at all (the former explode + groupBy
    * construction shuffled O(docs·k) partial-min rows and pushed
    * O(corpus-characters) rows through a hash aggregate; same values,
    * [[minhashSignatureFromShingles]] keeps that path for callers holding
    * pre-computed shingle rows). */
  def minhashSignature(
      df: DataFrame, idCol: String, textCol: String, width: Int, k: Int): DataFrame = {
    val sm = graft.functions.ShingleExpressions.shingleMinhash(col(textCol), width, k)
    graft.Engine.rebalanceForCompute(df).select(col(idCol), sm.as("__sm"))
      .select(col(idCol) +:
        (0 until k).map(i => col("__sm.mh").getItem(i).as(s"mh_$i")): _*)
  }

  /** Signature from pre-computed (id, shingle) rows — lets pipelines share
    * one shingle set between signature and verification stages. */
  def minhashSignatureFromShingles(sh: DataFrame, idCol: String, k: Int): DataFrame = {
    // Base hash projected once per row so the 64 min-aggregates run on plain
    // long arithmetic, not 64 md5 evaluations.
    val based = sh.select(col(idCol), shingleBase(col("shingle")).as("__mhb"))
    val aggs = minhashCoeffs(k).zipWithIndex.map { case (c, i) =>
      min(derivedHash(col("__mhb"), c)).as(s"mh_$i")
    }
    based.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH candidate pairs: signatures are cut into `bands` bands of
    * k/bands values; docs sharing any band hash become a candidate pair.
    * The band-bucket self-join shuffles on the band hash — the classic LSH
    * trick that keeps the join linear in bucket sizes instead of n².
    * Output: (id_a, id_b) with id_a < id_b, distinct. */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      width: Int, k: Int, bands: Int): DataFrame =
    minhashCandidatePairsFromSig(
      minhashSignature(df, idCol, textCol, width, k), idCol, k, bands)

  /** The `bands` LSH band arms over mh_0…mh_{k-1}: struct(band, bh) with
    * bh = the '|'-joined r-tuple (exact equality, no hash collisions). */
  private def bandArms(k: Int, bands: Int): Seq[Column] = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    (0 until bands).map { bnd =>
      val parts = (0 until r).map(i => col(s"mh_${bnd * r + i}"))
      struct(lit(bnd).as("band"), concat_ws("|", parts: _*).as("bh"))
    }
  }

  /** LSH band-bucket candidate pairs from a signature frame. The band key is
    * the plain '|'-joined r-tuple (exact equality — no hash, no collisions;
    * string concat is reproduced verbatim by the SQL oracle).
    *
    * Rows with a NULL signature (NULL text: every mh slot NULL) are
    * EXCLUDED before banding — `concat_ws` skips NULLs, so they would all
    * share the "" band hash and pair all-against-all.
    *
    * `maxBucketSize` (default unlimited — no behavior change) is the skew
    * guard for adversarial corpora: a bucket of m docs contributes m²/2
    * pairs, so one boilerplate-heavy bucket can dominate the whole job.
    * Production dedup pipelines cap or drop super-frequent buckets and
    * accept the bounded recall loss on exactly the documents that are
    * near-duplicates of thousands of others (which downstream clustering
    * would collapse anyway). Docs in a capped bucket usually still meet
    * through their other bands. */
  def minhashCandidatePairsFromSig(
      sig: DataFrame, idCol: String, k: Int, bands: Int,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    // mh slots are all-null or none-null per row, so mh_0 decides.
    val bucketsAll = sig.filter(col("mh_0").isNotNull)
      .select(col(idCol), explode(array(bandArms(k, bands): _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val buckets =
      if (maxBucketSize == Long.MaxValue) bucketsAll
      else {
        // One extra aggregation on the (band, bh) key — map-side combined,
        // so the shuffle carries one row per distinct bucket per partition.
        val keep = bucketsAll.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") <= maxBucketSize)
          .select(col("band"), col("bh"))
        bucketsAll.join(keep, Seq("band", "bh"))
      }
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Incremental dedup candidates: LSH pairs for a NEW document batch
    * against itself and an EXISTING corpus — never old×old (that work was
    * done when the old batch arrived). This is the production shape of
    * continuous-ingest dedup: per-batch cost is O(new·bands) bucket rows
    * joined against the (pre-computable, storable) corpus signature side,
    * not a full-corpus re-pairing.
    *
    * Returns (id_a, id_b, pair_type) with id_a < id_b and pair_type ∈
    * {new_new, new_old}. This text-level entry point hashes BOTH sides —
    * convenient for one-shots, but a continuous-ingest pipeline should
    * compute each batch's signatures ONCE ([[minhashSignature]]), store
    * them next to the corpus, and call
    * [[incrementalCandidatePairsFromSigs]] with the stored old-side
    * frame — that is what makes batch N cost O(new), not O(corpus). */
  def incrementalCandidatePairs(
      oldDocs: DataFrame, newDocs: DataFrame, idCol: String, textCol: String,
      width: Int, k: Int, bands: Int): DataFrame =
    incrementalCandidatePairsFromSigs(
      minhashSignature(oldDocs, idCol, textCol, width, k),
      minhashSignature(newDocs, idCol, textCol, width, k),
      idCol, k, bands)

  /** Signature-level incremental candidates: both sides already carry
    * mh_0…mh_{k-1} per [[minhashSignature]]'s contract (the old side
    * typically loaded from a stored signature table — no re-hashing).
    * NULL-signature rows are excluded before banding, as in
    * [[minhashCandidatePairsFromSig]]. */
  def incrementalCandidatePairsFromSigs(
      oldSig: DataFrame, newSig: DataFrame, idCol: String,
      k: Int, bands: Int): DataFrame = {
    val sig = oldSig.withColumn("__new", lit(false))
      .unionByName(newSig.withColumn("__new", lit(true)))
    val buckets = sig.filter(col("mh_0").isNotNull)
      .select(col(idCol), col("__new"), explode(array(bandArms(k, bands): _*)).as("bk"))
      .select(col(idCol), col("__new"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col(s"a.$idCol") < col(s"b.$idCol") &&
        (col("a.__new") || col("b.__new")))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        when(col("a.__new") && col("b.__new"), lit("new_new"))
          .otherwise(lit("new_old")).as("pair_type"))
      .distinct()
  }

  /** Scalable n-gram Jaccard: MinHash-LSH candidate generation, then exact
    * Jaccard verification ON THE CANDIDATES ONLY — the canonical two-stage
    * dedup pipeline. Cost is O(shingles) for signatures + O(candidates ·
    * shingles/doc) for verification, never the all-pairs shingle self-join
    * (which blows up quadratically on hot shingles from a small vocab —
    * measured 263 s vs <10 s at sf0.1). */
  /** One-shot wrapper over [[jaccardDocs]] + [[jaccardPairsFromDocs]].
    * LIFECYCLE: the docs frame it builds is persisted (MEMORY_AND_DISK) and the
    * handle is hidden — CacheManager dedupes identical plans so repeated
    * calls over the same input share ONE evictable entry, but sessions
    * issuing MANY independent dedup jobs should either use the explicit
    * two-call form (and unpersist the handle) or pass
    * `persistDocs = false` to trade repeated shingling for zero cache
    * footprint. */
  def jaccardPairsLsh(
      df: DataFrame, idCol: String, textCol: String,
      width: Int, threshold: Double, k: Int, bands: Int,
      persistDocs: Boolean = true,
      maxBucketSize: Long = Long.MaxValue): DataFrame =
    jaccardPairsFromDocs(jaccardDocs(df, idCol, textCol, width, k, persistDocs),
      idCol, threshold, k, bands, maxBucketSize)

  /** The per-doc frame both LSH stages share: the sorted set of 32-bit
    * shingle hashes (for exact-on-hashes verification), its size, and the k
    * MinHash values — computed SCAN-LOCAL in one pass per document by the
    * [[graft.functions.ShingleMinhash]] kernel. Map-only: no explode, no
    * shuffle, fully deterministic. (The former construction exploded
    * O(corpus-characters) shingle rows through collect_set + k min-aggs —
    * at 100 TB that explode-shuffle dominates the whole dedup pipeline;
    * scan-local signatures are how production MinHash dedup is shaped.)
    *
    * Verification operates on the HASHED shingle sets, not the strings:
    * identical Jaccard up to 32-bit collisions (P[in-doc collision] ≈
    * m²/2³³ per doc — negligible, and the SQL oracle replicates the same
    * construction so checks stay exact). The payoff is a fully FIXED-WIDTH
    * frame (id + array<long> + longs): it caches and shuffles at a fraction
    * of the cost of string sets — hashing the shingles is also what
    * production-scale dedup pipelines do.
    *
    * The frame is persisted by default (MEMORY_AND_DISK, lazy). Round-17
    * optimization note: this was DISK_ONLY "to leave execution memory to
    * the joins", but executor stack sampling showed the cache block file
    * writes/mmaps dominating the dedup queries' I/O — and the unified
    * memory manager already evicts storage blocks under execution
    * pressure, so MEMORY_AND_DISK degrades to the same disk behavior
    * exactly when memory is short and skips the file round-trip when it
    * is not (the common case; at 100 TB the frame spills gracefully
    * per-block). Since the kernel is deterministic this
    * is purely an economy: without it each consumer (candidate generation
    * plus BOTH verify sides, and every further composition) re-hashes the
    * corpus; one cached copy caps that at 1×, block-evictable. Callers
    * composing several dedup stages can call this directly and pass the
    * frame to [[jaccardPairsFromDocs]] to share it across stages.
    *
    * LIFECYCLE: the returned frame IS the cache handle — long-lived
    * sessions should `unpersist()` it (or `spark.catalog.clearCache()`)
    * when a pipeline finishes; the one-shot [[jaccardPairsLsh]] wrapper
    * hides the handle, so sessions issuing MANY independent dedup jobs
    * should prefer the explicit two-call form. */
  def jaccardDocs(
      df: DataFrame, idCol: String, textCol: String, width: Int, k: Int,
      persist: Boolean = true): DataFrame = {
    val sm = graft.functions.ShingleExpressions.shingleMinhash(col(textCol), width, k)
    // Kernel work (one md5 per shingle) dwarfs scan I/O — widen first when
    // the bytes-based split count under-parallelizes (no-op at scale).
    val docs = graft.Engine.rebalanceForCompute(df).select(col(idCol), sm.as("__sm"))
      .select(col(idCol) +:
        (col("__sm.shset").as("shset") +:
          (0 until k).map(i => col("__sm.mh").getItem(i).as(s"mh_$i")) :+
          col("__sm.sz").as("sz")): _*)
    if (persist) docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else docs
  }

  /** LSH candidates + exact Jaccard verification over a pre-built (and
    * ideally persisted) [[jaccardDocs]] frame. `maxBucketSize` is the
    * hot-bucket skew guard threaded to
    * [[minhashCandidatePairsFromSig]] — default off (no behavior
    * change). */
  def jaccardPairsFromDocs(
      docs: DataFrame, idCol: String, threshold: Double, k: Int, bands: Int,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    val sig = docs.select(col(idCol) +: (0 until k).map(i => col(s"mh_$i")): _*)
    val cand = minhashCandidatePairsFromSig(sig, idCol, k, bands, maxBucketSize)
    // Verification via the codegen linear-merge intersection kernel over the
    // sorted sets. Alternatives measured at sf0.1: re-joining candidates
    // against exploded shingle rows shuffles |candidates|·shingles/doc rows;
    // array_intersect allocates a hash set per row; the sorted merge is
    // allocation-free. The set frames join on id_a/id_b as plain shuffle
    // hash joins — no corpus-wide broadcast (a driver OOM at scale); with
    // tight banding the candidate side is small, so the shuffled array
    // payload volume is bounded by the docs frame itself.
    val setsA = docs.select(col(idCol).as("id_a"),
      col("shset").as("set_a"), col("sz").as("sz_a"))
    val setsB = docs.select(col(idCol).as("id_b"),
      col("shset").as("set_b"), col("sz").as("sz_b"))
    cand.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("common",
        graft.functions.VectorExpressions.sortedIntersectSize(col("set_a"), col("set_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric containment pairs over a [[jaccardDocs]] frame:
    * C(A⊆B) = |A∩B| / |A| — the "this doc is a quote/excerpt of that doc"
    * signal that symmetric Jaccard misses (a 100-shingle doc fully inside
    * a 10 000-shingle doc has Jaccard ≈ 0.01 but containment 1.0). Emits
    * both directions plus the Jaccard for every candidate pair where
    * either direction crosses `threshold`.
    *
    * RECALL CAVEAT (part of the contract): candidates still come from
    * symmetric MinHash-LSH bands, whose collision probability tracks
    * JACCARD — a tiny excerpt of a huge doc may never band-collide. That
    * is the standard trade-off at scale; pipelines needing full containment
    * recall bucket by the smaller doc's shingles (more candidates) or cap
    * size ratios upstream. */
  def containmentPairsFromDocs(
      docs: DataFrame, idCol: String, threshold: Double, k: Int, bands: Int): DataFrame = {
    val sig = docs.select(col(idCol) +: (0 until k).map(i => col(s"mh_$i")): _*)
    val cand = minhashCandidatePairsFromSig(sig, idCol, k, bands)
    val setsA = docs.select(col(idCol).as("id_a"),
      col("shset").as("set_a"), col("sz").as("sz_a"))
    val setsB = docs.select(col(idCol).as("id_b"),
      col("shset").as("set_b"), col("sz").as("sz_b"))
    cand.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("common",
        graft.functions.VectorExpressions.sortedIntersectSize(col("set_a"), col("set_b")))
      .withColumn("cont_a_in_b", col("common").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b_in_a", col("common").cast("double") / col("sz_b").cast("double"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select(col("id_a"), col("id_b"),
        col("cont_a_in_b"), col("cont_b_in_a"), col("jaccard"))
  }

  /** Exact all-pairs n-gram Jaccard: |A∩B| / |A∪B| ≥ threshold.
    * Shuffle on shingle for intersection counts; docs sharing no shingle
    * never meet (no cross join). Prefer [[jaccardPairsLsh]] at scale; cap
    * hot shingles by document frequency (`maxShingleDf`) if using this so
    * stop-shingles don't quadratically blow up the self-join. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      width: Int, threshold: Double, maxShingleDf: Long = Long.MaxValue): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, width)
    val filtered =
      if (maxShingleDf == Long.MaxValue) sh
      else {
        val keep = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df_cnt"))
          .filter(col("df_cnt") <= maxShingleDf).select("shingle")
        sh.join(keep, "shingle")
      }
    // Sizes over the SAME (capped) shingle universe as the intersections:
    // computing them from the uncapped set would put shingles in the
    // denominator that the numerator can never count, systematically
    // underestimating similarity whenever the cap drops a hot shingle
    // (two identical docs sharing a capped shingle would score below 1.0).
    val sizes = filtered.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = filtered.as("a")
    val b = filtered.as("b")
    val common = a.join(b, col("a.shingle") === col("b.shingle") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash fingerprint: 64-bit signature from token hashes. Each token
    * hashes to 64 bits (the first 16 hex chars of its md5); fingerprint bit
    * k is the sign of Σ_tokens (2·bit_k − 1). Near-dups differ in few bits
    * (compare via hamming distance on the returned hex string).
    *
    * Computed SCAN-LOCAL by the doc-level [[graft.functions.SimHash64]]
    * kernel — map-only, no shuffle (the former construction exploded
    * O(corpus-tokens × 16) rows through two aggregations). Docs with no
    * tokens (empty / all-whitespace / NULL text) are absent from the
    * output, exactly as they dropped out of the exploded groupBy. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Engine.rebalanceForCompute(df)
      .select(col(idCol),
        graft.functions.ShingleExpressions.simhash64(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Per-document duplicated n-gram statistics — the "how much of this doc
    * is boilerplate shared with other docs" signal (the n-gram flavor of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", 2022: exact duplicated spans, approximated here at shingle
    * granularity). For each doc: its distinct shingle-hash count, how many
    * of those hashes occur in ≥2 documents, and the ratio — curation
    * pipelines drop or down-weight high-ratio docs.
    *
    * Scale shape: shingle sets come SCAN-LOCAL from the
    * [[graft.functions.ShingleMinhash]] kernel (no corpus-wide string
    * explode); the document-frequency aggregation shuffles fixed-width
    * (hash, count) rows with map-side combine, and the flag-back join is a
    * plain shuffle hash join on the 8-byte hash — O(corpus shingles)
    * total, never pairwise. Docs with no shingle set (NULL text) are
    * dropped (no answerable ratio), mirroring [[ngramContamination]];
    * empty text carries its single whole-text shingle per the shingling
    * rule, so two empty docs count as sharing it. */
  def dupNgramStats(
      df: DataFrame, idCol: String, textCol: String, width: Int,
      persistSets: Boolean = true): DataFrame = {
    val sm = graft.functions.ShingleExpressions.shingleMinhash(col(textCol), width, 1)
    val sets0 = graft.Engine.rebalanceForCompute(df)
      .select(col(idCol), sm.as("__sm"))
      .select(col(idCol), col("__sm.shset").as("__hs"), col("__sm.sz").as("n_shingles"))
      .filter(col("n_shingles") > 0)
    // The sets frame feeds THREE consumers (df-count, flag-back join,
    // final join) — persisted so the hashing kernel runs once, not 3×.
    // LIFECYCLE as in [[jaccardDocs]]: CacheManager dedupes identical
    // plans; long-lived sessions unpersist via clearCache(), or pass
    // persistSets = false to trade re-hashing for zero cache footprint.
    val sets =
      if (persistSets) sets0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sets0
    val ex = sets.select(col(idCol), explode(col("__hs")).as("__h"))
    // Shingles are distinct per doc, so COUNT(*) per hash IS document
    // frequency; hashes kept only when shared (df ≥ 2).
    val shared = ex.groupBy(col("__h"))
      .agg(count(lit(1)).as("__df")).filter(col("__df") >= 2)
      .select(col("__h"))
    val dup = ex.join(shared, "__h")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__ndup"))
    sets.join(dup, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("__ndup"), lit(0L)).as("n_dup_shingles"))
      .withColumn("dup_ratio",
        col("n_dup_shingles").cast("double") / col("n_shingles").cast("double"))
  }

  /** SEMANTIC dedup, SemDeDup-shaped (Abbas et al. 2023: "SemDeDup —
    * Data-efficient learning at web-scale through semantic
    * deduplication"): k-means clusters the embedding space, then
    * near-duplicate pairs are sought ONLY within a cluster — the
    * clustering bounds the candidate set harder than one global LSH
    * when the corpus is diverse (cross-cluster pairs are below
    * threshold by construction of the clustering; global LSH still
    * hashes every vector against every table). Composition of the two
    * standing kernels: [[graft.ops.Similarity.kmeans]] (deterministic
    * seeds, fixed-point centroid means — the SQL oracle replays it
    * bit-for-bit) and the exact-cosine verify of
    * [[embeddingNearDupPairs]].
    *
    * Dedup rule (SemDeDup's, with min-id determinism): within a
    * cluster, an embedding is DROPPED iff some SMALLER-id embedding in
    * the same cluster has cosine ≥ `threshold` with it — "keep the
    * first of every near-dup neighborhood", no transitive-closure pass
    * needed (a chain a~b~c with a<b<c drops b and c iff each has a
    * smaller neighbor; use [[connectedComponents]] downstream when
    * full-closure groups are wanted).
    *
    * Scale shape: the within-cluster self-join is O(Σ cᵢ²) pairs — the
    * paper's own cost, tamed by k (clusters of ~corpus/k). A skewed
    * giant cluster is the known failure mode: raise k, or run the
    * banded-LSH [[embeddingNearDupPairs]] INSIDE the offending cluster
    * (same composition, one more level).
    *
    * @return one row per input embedding: (idCol, cluster, kept) */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val base = df.select(col(idCol), col(vecCol))
    val assigned = graft.ops.Similarity.kmeans(base, idCol, vecCol, k, iters)
      .select(col(idCol), col("cluster"))
    val v = base.join(assigned, Seq(idCol))
    val a = v.select(col("cluster"), col(idCol).as("__ida"), col(vecCol).as("__va"))
    val b = v.select(col("cluster"), col(idCol).as("__idb"), col(vecCol).as("__vb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("__ida") < col("__idb"))
      .filter(graft.ops.Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("__idb").as(idCol)).distinct()
      .withColumn("__drop", lit(true))
    v.select(col(idCol), col("cluster"))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(!col("__drop"), lit(true)).as("kept"))
  }

  /** EXACT-SUBSTRING dedup at span granularity — the strongest-evidence
    * dedup signal for pretraining corpora (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better":
    * duplicated spans ≥ k tokens are memorization fuel even when the
    * documents around them differ). Their reference implementation
    * builds a corpus-wide suffix array — inherently single-machine.
    * This is the DISTRIBUTED re-expression: every k-token gram is an
    * ANCHOR; a gram whose exact text occurs in ≥ 2 documents marks its
    * k token positions for removal in every document except the gram's
    * canonical OWNER (min doc id among carriers — a deterministic
    * "keep one occurrence" policy). Overlapping duplicated grams merge
    * naturally into maximal spans through the position-set union, so a
    * 200-token copied paragraph is removed wholesale from every
    * non-owner (anchored at every offset), while the owner keeps it.
    *
    * Scale shape — NO suffix array, NO driver state, never pairwise:
    *  1. tokenize + gram via doc-local window functions (`lead`, one
    *     partition per doc — no cross-doc shuffle);
    *  2. shuffle fixed-width (hash64, doc, pos) rows, map-side combined,
    *     to find hashes with document frequency ≥ 2 — the ONLY
    *     corpus-wide pass, O(corpus grams) of 24-byte rows;
    *  3. re-join gram TEXT only for the candidate hashes and confirm
    *     groups on the exact string — hash collisions can only cost
    *     work, never a wrong removal (exactness is Lee et al.'s point);
    *  4. union the masked anchors' k-position covers per doc.
    * Within-document repeats are NOT masked (cross-document evidence
    * only) — self-repetition is [[dupNgramStats]]' signal.
    *
    * @return (idCol, n_tokens, removed_tokens) — one row per doc with
    *   non-null text; removed_tokens = 0 when nothing duplicated. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int, persistGrams: Boolean = true): DataFrame = {
    val (toks, cover) = substringCover(df, idCol, textCol, k, persistGrams)
    val removed = cover
      .groupBy(col(idCol)).agg(count(lit(1)).as("removed_tokens"))
    val perDoc = toks.groupBy(col(idCol)).agg(count(lit(1)).as("n_tokens"))
    perDoc.join(removed, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"))
  }

  /** The shared spine of [[substringDedup]]/[[substringDedupApply]]:
    * (tokens frame `(id, pos, tok)`, removal cover `(id, tp)` — the
    * DISTINCT token positions to drop per non-owner doc). */
  private def substringCover(df: DataFrame, idCol: String, textCol: String,
      k: Int, persistGrams: Boolean): (DataFrame, DataFrame) = {
    require(k >= 2, s"substringDedup: need k >= 2 tokens, got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = graft.Engine.rebalanceForCompute(df)
      .filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    // grams via lead(): exactly ordered, codegen-friendly; the trailing
    // (k-1) positions of each doc anchor no gram. Boundary test = "the
    // gram's last token exists": positions are contiguous 0..n-1 per doc
    // (posexplode), so lead(tok, k-1) IS NULL ⟺ pos > n-k — equivalent to
    // the former `count(*) over (partition by id)` bound WITHOUT the
    // second (unbounded) window pass over every token row (round-17
    // optimization pass; tokens themselves are never null — split() of a
    // non-null string yields only non-null strings).
    val gramCols = (0 until k).map(i => lead(col("tok"), i).over(wOrd))
    val grams0 = toks
      .withColumn("__gl", gramCols.last)
      .withColumn("g", concat_ws(" ", gramCols: _*))
      .filter(col("__gl").isNotNull)
      .select(col(idCol), col("pos"), col("g"),
        xxhash64(col("g")).as("gh"))
    val grams =
      if (persistGrams)
        grams0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else grams0
    // pass 2: candidate hashes by document frequency — fixed-width rows
    val sharedHashes = grams.groupBy(col("gh"))
      .agg(countDistinct(col(idCol)).as("__df")).filter(col("__df") >= 2)
      .select(col("gh"))
    // pass 3: exact-text confirmation + canonical owner, candidates only
    val cand = grams.join(sharedHashes, "gh")
    val dupOwn = cand.groupBy(col("gh"), col("g"))
      .agg(countDistinct(col(idCol)).as("__dn"), min(col(idCol)).as("__own"))
      .filter(col("__dn") >= 2)
      .select(col("gh"), col("g"), col("__own"))
    // pass 4: anchors in non-owner docs → k-position covers → union
    val cover = cand.join(dupOwn, Seq("gh", "g"))
      .filter(col(idCol) =!= col("__own"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("tp"))
      .distinct()
    (toks, cover)
  }

  /** The REMOVAL FACE of [[substringDedup]] (round 14): reconstruct
    * each document's KEPT text — tokens outside the duplicated-span
    * cover, re-joined in position order. What a pretraining pipeline
    * actually feeds downstream (Lee et al. 2022 emit the cleaned
    * corpus, not a report). Reconstruction is one anti-join (kept
    * positions) plus a per-doc sorted collect of the kept tokens —
    * driver-free, and the per-doc list is bounded by the document's
    * own token count (the same bound the tokenize pass already set).
    *
    * @return (idCol, n_tokens, kept_tokens, text_clean) — one row per
    *   doc with non-null text; a fully-duplicated doc keeps 0 tokens
    *   and reconstructs the empty string. */
  def substringDedupApply(df: DataFrame, idCol: String, textCol: String,
      k: Int, persistGrams: Boolean = true): DataFrame = {
    val (toks, cover) = substringCover(df, idCol, textCol, k, persistGrams)
    val kept = toks.join(cover,
      toks(idCol) === cover(idCol) && toks("pos") === cover("tp"),
      "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("kept_tokens"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        x => x.getField("tok"))).as("text_clean"))
    val perDoc = toks.groupBy(col(idCol)).agg(count(lit(1)).as("n_tokens"))
    perDoc.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Benchmark decontamination: flag corpus documents whose character
    * n-gram overlap with a BENCHMARK document set crosses `threshold` —
    * the "remove test-set contamination before pretraining" step (n-gram
    * collision flagging as popularized by the GPT-3/PaLM decontamination
    * appendices).
    *
    * Scale shape: the benchmark side is tiny by construction (test sets),
    * so its distinct shingle set is BROADCAST — the corpus streams
    * scan-local through explode → broadcast-semi-join → per-doc count, with
    * map-side partial aggregation and no corpus shuffle beyond the final
    * per-doc count. Returns (idCol, overlap_ngrams, total_ngrams,
    * contamination) for flagged docs.
    */
  def ngramContamination(
      corpus: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
      width: Int, threshold: Double): DataFrame = {
    // Both sides on the HASHED shingle sets from the doc-local
    // ShingleMinhash kernel (k = 1: only the set is consumed) — the same
    // 32-bit md5 sets the jaccard pipeline verifies on, and the oracle
    // replicates the same construction. Corpus side is fully SCAN-LOCAL
    // (no explode, no shuffle); the benchmark side (tiny by construction —
    // test sets) collapses to ONE row holding its sorted distinct hash
    // set, broadcast to every corpus partition; overlap is the codegen
    // sorted-merge intersect per doc. Nothing corpus-sized is ever
    // shuffled — the right shape at 100 TB.
    //
    // Counting is at the hash level (distinct-hash set sizes), identical
    // to distinct-string counts up to 32-bit collisions. Docs with NO
    // shingle set (NULL text) are dropped — an unanswerable ratio (the
    // former explode kept a NULL-shingle row and scored such docs 0).
    val sm = graft.functions.ShingleExpressions
      .shingleMinhash(col(textCol), width, 1)
    // Two-step select: the kernel struct is bound once and fields are
    // extracted across a projection boundary (CollapseProject keeps a
    // non-cheap producer referenced twice un-inlined — one eval per row).
    val corpusSets = graft.Engine.rebalanceForCompute(corpus)
      .select(col(idCol), sm.as("__sm"))
      .select(col(idCol), col("__sm.shset").as("__cs"),
        col("__sm.sz").as("total_ngrams"))
      .filter(col("total_ngrams") > 0)
    val benchSet = benchmark
      .select(explode(sm.getField("shset")).as("__h"))
      .agg(array_sort(collect_set(col("__h"))).as("__bs"))
    corpusSets.crossJoin(broadcast(benchSet))
      .select(col(idCol),
        graft.functions.VectorExpressions
          .sortedIntersectSize(col("__cs"), col("__bs")).as("overlap_ngrams"),
        col("total_ngrams"))
      .withColumn("contamination",
        col("overlap_ngrams").cast("double") / col("total_ngrams").cast("double"))
      .filter(col("contamination") >= threshold)
  }

  /** Connected components over a similarity-pair graph — the clustering
    * step that turns pairwise near-dup hits into dedup groups (keep one
    * representative per component). Alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", 2014): each round is two grouped aggregations + joins, state
    * is only the edge list, which shrinks every round, and convergence is
    * O(log² n) rounds on ANY graph shape.
    *
    *  - large-star: every node connects its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: edges directed large→small; every node connects its
    *    smaller neighbors and itself to the neighborhood minimum.
    *
    * Both preserve connectivity and strictly shrink star height; at
    * fixpoint the edge set IS the (node → component-min) star.
    *
    * @param pairs (id_a, id_b) undirected edges
    * @param checkpointDir when set, per-round materialization uses RELIABLE
    *   `checkpoint()` under this directory (survives executor loss — the
    *   cluster-mode path); default keeps zero-I/O localCheckpoint.
    * @return (idCol, component) — component = min node id reachable
    * @throws IllegalStateException when `maxIter` rounds end before the
    *   fixpoint (the edges are not yet stars, so no labels are returned)
    */
  def connectedComponents(
      pairs: DataFrame, idCol: String = "doc_id", maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    val chk: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        val sc = pairs.sparkSession.sparkContext
        if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
        df => df.checkpoint(true)
      case None => df => df.localCheckpoint(true)
    }
    // In-loop variant: LAZY checkpoint, so the round's stats probe is the
    // action that materializes it — ONE driver-paced job per round instead
    // of eager-checkpoint + probe. (localCheckpoint persists its blocks, so
    // nothing is computed twice; the reliable path keeps its own write job,
    // the price of surviving executor loss.)
    val chkLazy: DataFrame => DataFrame = checkpointDir match {
      case Some(_) => df => df.checkpoint(false)
      case None    => df => df.localCheckpoint(false)
    }
    def largeStar(e: DataFrame): DataFrame = {
      val both = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = both.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      // NO trailing distinct (round-18 pass): this output only ever feeds
      // smallStar, whose min-aggregate ignores duplicates and whose own
      // trailing distinct restores set semantics for the fixpoint probe —
      // the dedup here was one whole exchange per round spent removing
      // duplicates bounded by |edges| that the next operator absorbs for
      // free (guide §2.4: a `distinct` on data whose consumer doesn't
      // need it). Duplicate volume is bounded: each `both` row emits at
      // most one (v, m) pair.
      both.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.filter(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = directed.groupBy(col("u")).agg(min(col("v")).as("m"))
      val joined = directed.join(mins, "u")
      joined.select(col("v").as("n"), col("m"))
        .unionAll(mins.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v")).distinct()
    }
    // ONE materialization of the (possibly expensive) upstream pair
    // pipeline; nodes and the working edge list both derive from the
    // checkpointed base — the former separate nodes/edges checkpoints each
    // re-executed the full candidate-generation plan.
    val base = chk(pairs.select(col("id_a").as("u"), col("id_b").as("v")).distinct())
    val nodes = base.select(col("u").as("n"))
      .unionAll(base.select(col("v").as("n"))).distinct()
    var edges = base.filter(col("u") =!= col("v"))
    // Fixpoint probe in ONE job per round: (count, order-independent XOR of
    // per-edge hashes). XOR instead of sum: it cannot overflow, so the probe
    // is safe under spark.sql.ansi.enabled=true (a long SUM of full-range
    // xxhash64 values throws ARITHMETIC_OVERFLOW there). Edges are distinct,
    // so no self-cancellation within a set; equal (count, xor) on distinct
    // edge SETS would need a colliding symmetric difference — vanishingly
    // unlikely, and the worst case is one spare round, not a wrong answer
    // (the star transforms are idempotent at the fixpoint). This halves the
    // driver-paced actions per round vs a count + except probe — the loop on
    // a shrunken edge list is scheduling-bound, not data-bound.
    def stats(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var cur = stats(edges)
    var iter = 0
    var converged = cur._1 == 0L
    while (!converged && iter < maxIter) {
      val next = chkLazy(smallStar(largeStar(edges)))
      val nstats = stats(next)
      iter += 1
      converged = nstats == cur
      edges = next
      cur = nstats
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after maxIter=$maxIter rounds")
    // At fixpoint edges = (node, component-min) stars; singletons and
    // component roots label themselves.
    nodes.join(edges, col("n") === col("u"), "left")
      .select(col("n").as(idCol), coalesce(col("v"), col("n")).as("component"))
  }

  /** One representative per near-dup cluster: given a frame carrying
    * (id, component, score), keep per component the row with the MAXIMUM
    * score, ties broken to the smallest id — "keep the best/longest doc of
    * each duplicate cluster", the selection step that turns component
    * labels into a kept-set.
    *
    * Plan shape: two grouped aggregations (map-side combinable) + one
    * shuffle join on the component key — no per-group sort, no window over
    * corpus rows. Rows with NULL score never represent their cluster (an
    * all-NULL cluster is dropped, like SQL MAX semantics). Callers label
    * singletons component = own id before calling (components output only
    * covers paired nodes). */
  def componentRepresentatives(
      df: DataFrame, idCol: String, componentCol: String, scoreCol: String): DataFrame = {
    val best = df.groupBy(col(componentCol)).agg(max(col(scoreCol)).as("__best"))
    df.join(best, componentCol)
      .filter(col(scoreCol) === col("__best"))
      .groupBy(col(componentCol), col("__best"))
      .agg(min(col(idCol)).as(s"rep_$idCol"))
      .select(col(componentCol), col(s"rep_$idCol"), col("__best").as(scoreCol))
  }

  /** Embedding near-duplicate pairs by cosine ≥ threshold, via banded
    * multi-table sign-LSH (Charikar 2002 + the AND-OR amplification of MMDS
    * ch.3): each of `nTables` tables buckets a vector by the signs of
    * `planesPerTable` hyperplane dots; docs sharing a bucket in ANY table
    * become candidates, which are then verified with the EXACT cosine — so
    * precision is always 1.0 and only recall is approximate
    * (P(candidate) = 1−(1−p^r)^b, p = 1−θ/π). The bucket join shuffles on
    * (table, bucket) — never an all-pairs cross join.
    *
    * Candidate volume scales with the threshold: sign-LSH separates cleanly
    * for tight thresholds (cos ≥ 0.9 ⇒ p≈0.86); for loose thresholds raise
    * `planesPerTable` (and tables, to hold recall). `nTables = 0` is the
    * exact all-pairs mode for tests/oracles at toy scale. */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      planesPerTable: Int = 4, nTables: Int = 8, dim: Int = 64): DataFrame = {
    // Guard: VectorDot folds to the shorter operand, so a vector whose
    // length differs from `dim` would silently hash against truncated
    // hyperplanes (degraded recall, no error). Fail loudly per bad row
    // instead — a cheap scan-local predicate.
    val checked =
      if (nTables <= 0) df
      else df.filter(
        when(size(col(vecCol)) === dim, lit(true))
          .otherwise(raise_error(concat(
            lit(s"embeddingNearDupPairs: expected $vecCol of dim=$dim, got "),
            size(col(vecCol)).cast("string"))).cast("boolean")))
    // Norm is computed ONCE per vector, not per pair.
    val withNorm = checked.select(col(idCol), col(vecCol),
      Similarity.norm(col(vecCol)).as("nrm"))
    val cand =
      if (nTables <= 0) {
        val a = withNorm.select(col(idCol).as("id_a"))
        val b = withNorm.select(col(idCol).as("id_b"))
        a.join(b, col("id_a") < col("id_b"))
      } else {
        // Hyperplanes are plan-time literal constants (Similarity.planes),
        // so the SQL oracle reproduces identical buckets.
        val all = Similarity.planes(planesPerTable * nTables, dim)
        val arms = (0 until nTables).map { t =>
          val bits = (0 until planesPerTable).map { j =>
            when(Similarity.dot(col(vecCol), typedLit(all(t * planesPerTable + j))) > 0,
              lit(1L << j)).otherwise(lit(0L))
          }
          struct(lit(t).as("tbl"), bits.reduce(_ + _).as("bucket"))
        }
        val buckets = checked.select(col(idCol), explode(array(arms: _*)).as("tb"))
          .select(col(idCol), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
        val a = buckets.as("a")
        val b = buckets.as("b")
        a.join(b, col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
          .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
          .distinct()
      }
    // Exact verification: shuffle joins on the id keys (no corpus
    // broadcast); cosine computed once per surviving candidate.
    val va = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("__va"), col("nrm").as("__na"))
    val vb = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("__vb"), col("nrm").as("__nb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        (Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
