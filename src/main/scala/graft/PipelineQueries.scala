package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Packing, Sampling, Similarity, TextAnalysis}

/** Training-data pipeline surface: dedup (exact / MinHash-LSH / SimHash /
  * n-gram Jaccard / embedding), similarity search, text analysis, and
  * multimodal-column plumbing — over the `documents` and `embeddings`
  * tables. See graft.ops.* for the scale rationale of each operator.
  *
  * Oracle notes: md5-based constructions are chosen precisely so DuckDB can
  * reproduce signatures bit-for-bit; xxhash64-based ops (LSH planes, stub
  * decode) have no DuckDB twin and get rows-only checks.
  */
object PipelineQueries {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Engine.table(s, dir, n)

  /** DuckDB CTE producing (doc_id, shingle) — mirrors Dedup.shingleRows.
    * `src` parameterizes the source relation so composed pipelines can run
    * the same construction over a filtered CTE. */
  private def shingleCte(w: Int, src: String = "documents"): String =
    s"""sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), $w) AS shingle
       |  FROM $src,
       |  LATERAL (SELECT unnest(generate_series(1, GREATEST(length(text) - ${w - 1}, 1)))) t(i))""".stripMargin

  // LSH parameters: k=64 MinHash values in 16 bands of r=4 — the S-curve
  // P(candidate) = 1-(1-s⁴)¹⁶ crosses 50% at s≈0.5 and admits <0.2% of
  // s=0.1 pairs (vs ~4% with the round-1 k=8/r=2 family, which
  // over-generated candidates near-quadratically; MMDS ch.3).
  private val minhashK = 64
  private val minhashBands = 16
  private val minhashR = minhashK / minhashBands
  private val minhashW = 8

  // refined-ANN parameters: ONE definition feeds the Scala query AND the
  // DuckDB oracle (round-16 advisor) — the final top-k and the quantized
  // short-list width k·refineFactor cannot silently desync
  private val annRefineK = 5
  private val annRefineFactor = 4

  /** The `ann_*` queries' frame pair over `embeddings`: the corpus
    * (vec_id, embedding) and its first ten vectors as the query set
    * (qid, qe) — the same pair every ANN oracle reads. */
  private def annFrames(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = T(s, d, "embeddings")
    (e.select(col("vec_id"), col("embedding")),
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
  }

  // embed_neardup LSH family: 8 tables × 4 planes. At the loose 0.45
  // threshold (p≈0.65/plane) this holds ~80% recall; tight thresholds
  // (the production near-dup case) prune far harder with the same operator.
  // (Declared BEFORE `defs`, which eagerly forces the oracle builders.)
  private val embedLshR = 4
  private val embedLshTables = 8

  /** 32-bit base hash in DuckDB — identical to [[Dedup.shingleBase]]. */
  private def duckBase(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 8)) AS BIGINT)"

  /** The k derived-hash MIN aggregates over the base-hash column `mhb` —
    * the same (a, b, P) constants as [[Dedup.minhashCoeffs]]. */
  private def sigSelect: String =
    graft.ops.Dedup.minhashCoeffs(minhashK).zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * mhb + $b) % ${graft.ops.Dedup.MinhashP}) AS mh_$i"
    }.mkString(", ")

  /** The 16 LSH band arms (band id + '|'-joined r-tuple). */
  private def bandArms: String =
    (0 until minhashBands).map { bnd =>
      val parts = (0 until minhashR).map(i => s"mh_${bnd * minhashR + i}").mkString(", ")
      if (bnd == 0) s"SELECT doc_id, 0 AS band, concat_ws('|', $parts) AS bh FROM sig"
      else s"UNION ALL SELECT doc_id, $bnd, concat_ws('|', $parts) FROM sig"
    }.mkString("\n                 ")

  /** CTE chain: shingles → DISTINCT (doc, 32-bit hash) rows → signature →
    * bands → candidate pairs. `bases` is distinct at the HASH level — the
    * same hashed shingle sets the engine verifies on (Dedup.jaccardDocs);
    * MINs are unaffected by the distinct. */
  private def candCtes(w: Int, src: String = "documents"): String =
    s"""${shingleCte(w, src)},
       bases AS (SELECT DISTINCT doc_id, ${duckBase("shingle")} AS mhb FROM sh),
       sig AS (SELECT doc_id, $sigSelect FROM bases GROUP BY doc_id),
       bands AS (
                 $bandArms),
       cand AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""

  /** Cosine in DuckDB with the same left-to-right double fold as
    * graft.ops.Similarity.cosine (list_reduce starts from the first
    * element; +0.0 init is an IEEE no-op, so the folds agree exactly). */
  private def duckCos(a: String, b: String): String =
    s"round(\n${duckCosRaw(a, b)}, 9)"

  /** Unrounded cosine — used where the ENGINE filters on the raw value
    * (rounding only for display), so the oracle's threshold boundary
    * matches the engine's exactly. */
  private def duckCosRaw(a: String, b: String): String =
    s"""  list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
       |  / (sqrt(list_reduce(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))
       |   * sqrt(list_reduce(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x)))""".stripMargin

  type QFn = (SparkSession, String) => DataFrame

  val defs: Seq[(String, QFn, Option[String])] = Seq(

    // ── exact dedup ──────────────────────────────────────────────────────
    ("dedup_exact", (s, d) =>
      Dedup.exact(T(s, d, "documents"), "doc_id", "text").orderBy("text_hash"),
      Some("""SELECT md5(text) AS text_hash, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
              FROM documents GROUP BY md5(text) ORDER BY text_hash""")),

    // ── MinHash signatures + LSH candidate pairs ─────────────────────────
    ("dedup_minhash_sig", (s, d) =>
      Dedup.minhashSignature(T(s, d, "documents"), "doc_id", "text", minhashW, minhashK)
        .orderBy("doc_id"),
      Some(s"""WITH ${shingleCte(minhashW)},
               bases AS (SELECT doc_id, ${duckBase("shingle")} AS mhb FROM sh)
               SELECT doc_id, $sigSelect FROM bases GROUP BY doc_id ORDER BY doc_id""")),

    ("dedup_minhash_pairs", (s, d) =>
      Dedup.minhashCandidatePairs(T(s, d, "documents"), "doc_id", "text",
        minhashW, minhashK, bands = minhashBands).orderBy("id_a", "id_b"),
      Some(s"""WITH ${candCtes(minhashW)}
               SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""")),

    // ── n-gram Jaccard pairs: LSH candidates → exact verification ────────
    ("dedup_jaccard_pairs", (s, d) =>
      Dedup.jaccardPairsLsh(T(s, d, "documents"), "doc_id", "text",
        width = 6, threshold = 0.5, k = minhashK, bands = minhashBands)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${candCtes(6)},
               sizes AS (SELECT doc_id, COUNT(*) AS sz FROM bases GROUP BY doc_id),
               common AS (
                 SELECT cd.id_a, cd.id_b, COUNT(*) AS nc
                 FROM cand cd
                 JOIN bases a ON a.doc_id = cd.id_a
                 JOIN bases b ON b.doc_id = cd.id_b AND b.mhb = a.mhb
                 GROUP BY cd.id_a, cd.id_b)
               SELECT id_a, id_b,
                      CAST(nc AS DOUBLE) / CAST(sa.sz + sb.sz - nc AS DOUBLE) AS jaccard
               FROM common
               JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
               WHERE CAST(nc AS DOUBLE) / CAST(sa.sz + sb.sz - nc AS DOUBLE) >= 0.5
               ORDER BY id_a, id_b""")),

    // ── SimHash (md5-bit construction, oracle-reproducible) ──────────────
    ("dedup_simhash", (s, d) =>
      Dedup.simhash(T(s, d, "documents"), "doc_id", "text").orderBy("doc_id"),
      Some(raw"""WITH tok AS (
                 SELECT doc_id, md5(t) AS h FROM (
                   SELECT doc_id,
                          unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS t
                   FROM documents)),
               digits AS (
                 SELECT doc_id, i AS pos,
                        strpos('0123456789abcdef', substr(h, CAST(i + 1 AS INT), 1)) - 1 AS dig
                 FROM tok, LATERAL (SELECT unnest(generate_series(0, 15))) t(i)),
               sums AS (
                 SELECT doc_id, pos, COUNT(*) AS n,
                        SUM((dig // 8) % 2) AS c3, SUM((dig // 4) % 2) AS c2,
                        SUM((dig // 2) % 2) AS c1, SUM(dig % 2) AS c0
                 FROM digits GROUP BY doc_id, pos),
               nibs AS (
                 SELECT doc_id, pos,
                        (CASE WHEN 2 * c3 > n THEN 8 ELSE 0 END) +
                        (CASE WHEN 2 * c2 > n THEN 4 ELSE 0 END) +
                        (CASE WHEN 2 * c1 > n THEN 2 ELSE 0 END) +
                        (CASE WHEN 2 * c0 > n THEN 1 ELSE 0 END) AS nib
                 FROM sums)
               SELECT doc_id,
                      string_agg(substr('0123456789abcdef', CAST(nib + 1 AS INT), 1), '' ORDER BY pos) AS simhash
               FROM nibs GROUP BY doc_id ORDER BY doc_id""")),

    // Asymmetric containment (excerpt/quote detection): either direction of
    // |A∩B|/|A| over the shared docs frame — catches small-in-big overlap
    // that symmetric Jaccard scores near zero.
    ("dedup_containment", (s, d) =>
      Dedup.containmentPairsFromDocs(
        // persisted: the docs frame feeds sig + both verify sides — the
        // 1×-kernel shape every other jaccard-family query uses
        Dedup.jaccardDocs(T(s, d, "documents"), "doc_id", "text",
          width = 6, k = minhashK),
        "doc_id", threshold = 0.6, k = minhashK, bands = minhashBands)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH ${jaccardPairsCtes(0.0)}
               SELECT cm.id_a, cm.id_b,
                      CAST(nc AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cont_a_in_b,
                      CAST(nc AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS cont_b_in_a,
                      CAST(nc AS DOUBLE) / CAST(sa.sz + sb.sz - nc AS DOUBLE) AS jaccard
               FROM common cm
               JOIN sizes sa ON sa.doc_id = cm.id_a
               JOIN sizes sb ON sb.doc_id = cm.id_b
               WHERE GREATEST(CAST(nc AS DOUBLE) / CAST(sa.sz AS DOUBLE),
                              CAST(nc AS DOUBLE) / CAST(sb.sz AS DOUBLE)) >= 0.6
               ORDER BY id_a, id_b""")),

    // Per-doc duplicated n-gram share (Lee et al. 2022 at shingle
    // granularity): how many of a doc's distinct 8-gram hashes appear in
    // ≥2 documents. Scan-local shingle sets → one df-aggregation on the
    // hash → flag-back join; the oracle replays the same hashed sets.
    ("dup_ngram_stats", (s, d) =>
      Dedup.dupNgramStats(T(s, d, "documents"), "doc_id", "text", width = minhashW)
        .orderBy("doc_id"),
      Some(s"""WITH ${shingleCte(minhashW)},
               bases AS (SELECT DISTINCT doc_id, ${duckBase("shingle")} AS h FROM sh),
               szs AS (SELECT doc_id, COUNT(*) AS n_shingles FROM bases GROUP BY doc_id),
               dfc AS (SELECT h FROM bases GROUP BY h HAVING COUNT(*) >= 2),
               dup AS (SELECT b.doc_id, COUNT(*) AS n_dup FROM bases b JOIN dfc USING (h)
                       GROUP BY b.doc_id)
               SELECT s.doc_id, s.n_shingles,
                      CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup_shingles,
                      CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / CAST(s.n_shingles AS DOUBLE) AS dup_ratio
               FROM szs s LEFT JOIN dup d ON s.doc_id = d.doc_id
               WHERE s.n_shingles > 0
               ORDER BY s.doc_id""")),

    // EXACT-SUBSTRING dedup at SPAN granularity (round 13 — Lee et al.
    // 2022's actual dedup target, not just the dup-share signal above):
    // every token inside an 8-token gram whose exact text occurs in ≥2
    // documents is removed from every doc but the gram's canonical
    // owner (min doc id). Distributed shape: doc-local gram windows →
    // one fixed-width (hash, doc, pos) df-aggregation → exact-text
    // confirmation on the candidate hashes only → per-doc position-set
    // union (overlapping grams merge into maximal spans). No suffix
    // array, no driver state — the suffix-array reference algorithm is
    // single-machine by construction.
    ("dedup_substring", (s, d) => {
      val docs = T(s, d, "documents")
      Dedup.substringDedup(docs, "doc_id", "text", k = 8)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(when(col("removed_tokens") > 0, 1L).otherwise(0L))
            .as("docs_trimmed"),
          sum(col("n_tokens")).as("tokens"),
          sum(col("removed_tokens")).as("tokens_removed"))
        .orderBy("lang")
    },
      Some("""WITH toks AS (
                SELECT doc_id, u.tok, u.pos
                FROM documents d,
                LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tok,
                         generate_subscripts(string_split(d.text, ' '), 1) AS pos) u
                WHERE d.text IS NOT NULL
              ), grams AS (
                SELECT doc_id, pos,
                       string_agg(tok, ' ') OVER w AS g,
                       count(*) OVER w AS gn
                FROM toks
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
              ), anchors AS (
                SELECT doc_id, pos, g FROM grams WHERE gn = 8
              ), own AS (
                SELECT g, MIN(doc_id) AS owner FROM anchors
                GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
              ), cover AS (
                SELECT DISTINCT a.doc_id, a.pos + i.i AS tp
                FROM anchors a JOIN own o ON a.g = o.g AND a.doc_id <> o.owner
                CROSS JOIN (SELECT unnest(range(8)) AS i) i
              ), removed AS (
                SELECT doc_id, COUNT(*) AS removed_tokens FROM cover GROUP BY doc_id
              ), per AS (
                SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id
              )
              SELECT d.lang, COUNT(*) AS docs,
                     CAST(SUM(CASE WHEN COALESCE(r.removed_tokens, 0) > 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS docs_trimmed,
                     CAST(SUM(p.n_tokens) AS BIGINT) AS tokens,
                     CAST(SUM(COALESCE(r.removed_tokens, 0)) AS BIGINT) AS tokens_removed
              FROM per p JOIN documents d USING (doc_id)
              LEFT JOIN removed r ON p.doc_id = r.doc_id
              GROUP BY 1 ORDER BY lang""")),

    // THE REMOVAL FACE of exact-substring dedup (round 14): emit the
    // cleaned TEXT — kept tokens re-joined in position order — for
    // every trimmed document. The report above says how much would go;
    // this is what a pipeline actually feeds downstream. One anti-join
    // against the duplicated-span cover + a per-doc sorted collect of
    // kept tokens (bounded by the doc's own length). DuckDB reproduces
    // the reconstructed text verbatim (string_agg ORDER BY pos).
    ("dedup_substring_apply", (s, d) => {
      Dedup.substringDedupApply(T(s, d, "documents"), "doc_id", "text", k = 8)
        .filter(col("kept_tokens") < col("n_tokens"))
        .orderBy("doc_id")
    },
      Some("""WITH toks AS (
                SELECT doc_id, u.tok, u.pos
                FROM documents d,
                LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tok,
                         generate_subscripts(string_split(d.text, ' '), 1) AS pos) u
                WHERE d.text IS NOT NULL
              ), grams AS (
                SELECT doc_id, pos,
                       string_agg(tok, ' ') OVER w AS g,
                       count(*) OVER w AS gn
                FROM toks
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
              ), anchors AS (
                SELECT doc_id, pos, g FROM grams WHERE gn = 8
              ), own AS (
                SELECT g, MIN(doc_id) AS owner FROM anchors
                GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
              ), cover AS (
                SELECT DISTINCT a.doc_id, a.pos + i.i AS tp
                FROM anchors a JOIN own o ON a.g = o.g AND a.doc_id <> o.owner
                CROSS JOIN (SELECT unnest(range(8)) AS i) i
              ), kept AS (
                SELECT t.doc_id, t.pos, t.tok
                FROM toks t LEFT JOIN cover c
                  ON t.doc_id = c.doc_id AND t.pos = c.tp
                WHERE c.tp IS NULL
              ), per AS (
                SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id
              ), reb AS (
                SELECT doc_id, COUNT(*) AS kept_tokens,
                       string_agg(tok, ' ' ORDER BY pos) AS text_clean
                FROM kept GROUP BY doc_id
              )
              SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens,
                     CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
                     COALESCE(r.text_clean, '') AS text_clean
              FROM per p
              JOIN (SELECT DISTINCT doc_id FROM cover) t USING (doc_id)
              LEFT JOIN reb r ON p.doc_id = r.doc_id
              ORDER BY doc_id""")),

    // Incremental (continuous-ingest) dedup: LSH candidates for a new doc
    // batch against itself and the existing corpus — never old×old. The
    // per-batch cost is what makes dedup sustainable on a growing corpus.
    ("dedup_incremental", (s, d) => {
      val docs = T(s, d, "documents")
      Dedup.incrementalCandidatePairs(
        docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
        "doc_id", "text", minhashW, minhashK, minhashBands)
        .orderBy("id_a", "id_b")
    }, Some(incrementalOracle)),

    // The stored-signature path a real ingest pipeline runs: the corpus
    // side's signatures are written to (and read back from) a parquet
    // signature store — batch cost is O(new batch), the corpus text is
    // never re-hashed, and the storage round-trip proves the signature
    // schema is a durable contract. Same oracle as dedup_incremental.
    ("dedup_incremental_stored", (s, d) => {
      val docs = T(s, d, "documents")
      // Scratch contract: SPARK_GRAFT_SCRATCH / spark.graft.scratch picks a
      // cluster-shared base; fresh UUID dir per invocation (a fixed shared
      // name races concurrent sessions), cleaned up at JVM exit.
      val store = graft.sources.Scratch.dir(s, "graft_sig_store")
      Dedup.minhashSignature(docs.filter(col("doc_id") < 400),
          "doc_id", "text", minhashW, minhashK)
        .write.mode("overwrite").parquet(store)
      Dedup.incrementalCandidatePairsFromSigs(
        s.read.parquet(store),
        Dedup.minhashSignature(docs.filter(col("doc_id") >= 400),
          "doc_id", "text", minhashW, minhashK),
        "doc_id", minhashK, minhashBands)
        .orderBy("id_a", "id_b")
    }, Some(incrementalOracle)),

    // ── embedding near-dup + similarity search ───────────────────────────
    // Banded multi-table sign-LSH bucketing (the scale path — bucket join,
    // no O(n²) self-join) + exact cosine verification; the oracle replicates
    // the same literal hyperplanes, so candidates match bit-for-bit.
    ("embed_neardup", (s, d) =>
      Dedup.embeddingNearDupPairs(T(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, planesPerTable = embedLshR, nTables = embedLshTables, dim = 64)
        .withColumn("cos", round(col("cos"), 9))
        .orderBy("id_a", "id_b"),
      Some(embedNeardupOracle)),

    ("ann_brute_topk", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      Similarity.bruteForceTopK(
        corpus = corpus,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5).orderBy("qid", "rk")
    },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
               p AS (SELECT q.qid, e.vec_id, ${duckCos("q.qe", "e.embedding")} AS cos
                     FROM embeddings e, q)
               SELECT qid, vec_id, cos, rk FROM (
                 SELECT qid, vec_id, cos,
                        row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
                 FROM p) WHERE rk <= 5
               ORDER BY qid, rk""")),

    // INT8-QUANTIZED ANN (round 14): per-vector symmetric quantization
    // (scale = amax/127, round-half-up via floor(x/s + 0.5)) and top-k by
    // quantized inner product — the Faiss-SQ8-shaped memory lever (4×
    // smaller than float32) a 100 TB embedding store actually runs. The
    // int8 product sum is exact in double, the scale is an
    // order-independent array_max, and round(·,9) absorbs the one
    // association-sensitive multiply — so the whole quantize→score→rank
    // pipeline is bit-reproducible and DuckDB replays it (full hash
    // match, not a recall claim). The dot rides the same codegen
    // VectorDot as the float path, extended to tinyint arrays.
    ("ann_quantized_topk", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      Similarity.quantizedTopK(
        corpus = corpus,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5).orderBy("qid", "rk")
    },
      Some(s"""WITH qv AS (
                 SELECT vec_id, s,
                        CASE WHEN s = 0
                             THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
                             ELSE list_transform(embedding,
                               x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS TINYINT))
                        END AS qq
                 FROM (SELECT vec_id, embedding,
                              list_aggregate(list_transform(embedding,
                                x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS s
                       FROM embeddings)),
               q AS (SELECT vec_id AS qid, s AS qs, qq FROM qv WHERE vec_id < 10),
               p AS (SELECT q.qid, c.vec_id,
                            round(list_reduce(list_transform(list_zip(q.qq, c.qq),
                                    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                                  (acc, x) -> acc + x) * q.qs * c.s, 9) AS qdot
                     FROM qv c, q)
               SELECT qid, vec_id, qdot, rk FROM (
                 SELECT qid, vec_id, qdot,
                        row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, vec_id) AS rk
                 FROM p) WHERE rk <= 5
               ORDER BY qid, rk""")),

    // IVF ANN. The whole index build is order-deterministic (md5-based
    // seeds, exact fixed-point centroid-mean sums), so the oracle replays
    // it bit-for-bit: full hash check (recall vs brute force is also
    // unit-tested).
    ("ann_ivf_topk", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      Similarity.ivfTopK(
        corpus = corpus,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5, nlist = 16, nprobe = 4).orderBy("qid", "rk")
    }, Some(ivfOracle)),

    // QUANTIZED IVF (round 14, the Faiss IVF-SQ8 shape): the same cell
    // construction and float probes as ann_ivf_topk — the oracle shares
    // the identical CTE core, so both variants rank over the SAME
    // candidate sets — but candidate scoring runs over int8 vectors:
    // the O(corpus/nlist · nprobe) term that dominates at scale moves
    // and scans 4× less data. Full hash match (int8 sums exact in
    // double), not a recall claim.
    ("ann_ivf_quantized", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      Similarity.ivfTopKQuantized(
        corpus = corpus,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5, nlist = 16, nprobe = 4).orderBy("qid", "rk")
    }, Some(ivfQuantizedOracle)),

    // STORED IVF index (round 10): build-once (centroids + key-grouped
    // cell files — the inverted-list layout on disk), query-many. The
    // stored query is bit-identical to the inline construction, so the
    // SAME oracle hash-checks it; its 100 TB shape is what changes — the
    // probes⋈cells broadcast join runtime-prunes cell FILES by the
    // probed cids, so a query reads ~nprobe cells, never the corpus, and
    // the index amortizes across sessions instead of rebuilding per
    // query.
    ("ann_ivf_stored", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      // Scratch contract: see json_roundtrip.
      val path = graft.sources.Scratch.dir(s, "graft_rt_ivf_index")
      Similarity.ivfBuild(corpus,
        idCol = "vec_id", vecCol = "embedding", nlist = 16, dir = path)
      Similarity.ivfTopKStored(s, path,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5, nprobe = 4).orderBy("qid", "rk")
    }, Some(ivfOracle)),

    // STORED quantized IVF (round 14 — IVF-SQ8 persisted): ivfBuild with
    // quantized = true stores int8 cells (2.99× smaller on disk, measured
    // in tools/quant_scale_probe.log); the query dispatches on the index
    // manifest and is BIT-IDENTICAL to the inline ivfTopKQuantized (int8
    // and double round-trip the interchange exactly) — the SAME oracle
    // hash-checks both.
    ("ann_ivf_stored_q8", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      // Scratch contract: see json_roundtrip.
      val path = graft.sources.Scratch.dir(s, "graft_rt_ivf_q8")
      Similarity.ivfBuild(corpus,
        idCol = "vec_id", vecCol = "embedding", nlist = 16, dir = path,
        quantized = true)
      Similarity.ivfTopKStored(s, path,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5, nprobe = 4).orderBy("qid", "rk")
    }, Some(ivfQuantizedOracle)),

    // COMPACTED stored IVF (round 16): the index GROW loop at scale —
    // build over 80% of the corpus, ivfAppend the remaining 20% in two
    // waves (each append lands its own key-grouped file set — a
    // long-lived index accumulates one per ingest batch), then
    // ivfCompact rewrites the accumulated small cell files key-grouped
    // into a fresh generation and flips the manifest (search results
    // BIT-IDENTICAL — contents never change, only the file count; the
    // flip re-checks generation + cells tip under the commit lock so a
    // racing append or rebuild is never lost). The oracle replays
    // build-subset kmeans + FULL-corpus assignment, so the hash proves
    // both the append assignment (frozen centroids, the exact build
    // formula) and the compact's contents-preserving claim.
    ("ann_ivf_compacted", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      // Scratch contract: see json_roundtrip.
      val path = graft.sources.Scratch.dir(s, "graft_rt_ivf_compacted")
      Similarity.ivfBuild(corpus.filter(col("vec_id") % 5 < 4),
        idCol = "vec_id", vecCol = "embedding", nlist = 16, dir = path)
      Similarity.ivfAppend(s, path,
        corpus.filter(col("vec_id") % 10 === 4), "vec_id", "embedding")
      Similarity.ivfAppend(s, path,
        corpus.filter(col("vec_id") % 10 === 9), "vec_id", "embedding")
      val res = Similarity.ivfCompact(s, path)
      require(res.exists(r => r._2 < r._1),
        s"ann_ivf_compacted: compact must shrink the grown cell layout " +
          s"(got $res)")
      Similarity.ivfTopKStored(s, path,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5, nprobe = 4).orderBy("qid", "rk")
    }, Some(ivfCompactedOracle)),

    // FLOAT-REFINED quantized IVF (round 15 — Faiss IndexRefineFlat over
    // an SQ8 base): the int8 stage selects each query's top k·4
    // candidates (all the memory/scan savings of ann_ivf_quantized at
    // candidate-generation volume), then the FLOAT vectors — still in
    // the corpus — re-score exactly those and keep the float-exact top
    // k. The refine tax is one broadcast semi-join + |queries|·k·4
    // exact dots, never a corpus shuffle; the payoff is ≥ 0.95 recall@5
    // vs float brute (pinned in SimilaritySpec) from a 4×-smaller index.
    // The oracle replays BOTH stages, so this is a full hash match.
    ("ann_ivf_q8_refined", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      Similarity.ivfTopKQuantizedRefined(
        corpus = corpus,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = annRefineK, nlist = 16, nprobe = 4,
        refineFactor = annRefineFactor).orderBy("qid", "rk")
    }, Some(ivfQuantizedRefinedOracle)),

    // LSH-bucketed ANN. The hyperplanes are plan-time literal constants, so
    // the oracle recomputes the same buckets from the same values (doubles
    // serialized via exact decimal expansion).
    ("ann_lsh_topk", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      Similarity.lshTopK(
        corpus = corpus,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5, nPlanes = 4, dim = 64).orderBy("qid", "rk")
    }, Some(lshOracle(multiProbe = false))),

    // Multi-probe variant: query bucket + all Hamming-1 neighbor buckets —
    // the recall upgrade at (nPlanes+1)× candidate volume, still sub-linear.
    ("ann_lsh_multiprobe", (s, d) => {
      val (corpus, queries) = annFrames(s, d)
      Similarity.lshTopK(
        corpus = corpus,
        queries = queries,
        idCol = "vec_id", vecCol = "embedding", qidCol = "qid", qvecCol = "qe",
        k = 5, nPlanes = 4, dim = 64, multiProbe = true).orderBy("qid", "rk")
    }, Some(lshOracle(multiProbe = true))),

    // Full Lloyd k-means (generalizes the IVF index build to arbitrary
    // iterations): md5-seeded deterministic init, broadcast-centroid
    // euclidean assignment, exact fixed-point means — the whole iteration
    // is bit-reproducible, so the oracle unrolls it and hash-checks the
    // final clustering.
    ("embed_kmeans", (s, d) =>
      Similarity.kmeans(T(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 8, iters = 2).orderBy("vec_id"),
      Some(kmeansOracle(k = 8, iters = 2))),

    // SEMANTIC dedup (round 13, SemDeDup-shaped): k-means clusters the
    // embedding space, near-dup candidates are scoped to WITHIN a
    // cluster (exact cosine ≥ θ), and each neighborhood keeps its
    // smallest id. Composition of the two standing kernels — the
    // deterministic kmeans (the oracle replays it bit-for-bit, same CTE
    // as embed_kmeans) and the exact-cosine verify — so the whole
    // pipeline is a full hash-match, not a rows-only claim.
    ("dedup_semantic", (s, d) =>
      Dedup.semanticDedup(
        T(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 8, iters = 2, threshold = 0.45)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
        .orderBy("cluster"),
      Some(s"""WITH assigned AS (
                 SELECT vec_id, cluster FROM (${kmeansOracle(k = 8, iters = 2)}) t
               ), v AS (
                 SELECT e.vec_id, e.embedding, a.cluster
                 FROM embeddings e JOIN assigned a USING (vec_id)
               ), drp AS (
                 SELECT DISTINCT y.vec_id
                 FROM v x JOIN v y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                 WHERE ${duckCosRaw("x.embedding", "y.embedding")} >= 0.45
               )
               SELECT v.cluster, COUNT(*) AS n_vectors,
                      CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END)
                           AS BIGINT) AS n_dropped
               FROM v LEFT JOIN drp d ON v.vec_id = d.vec_id
               GROUP BY 1 ORDER BY cluster""")),

    // ── text analysis ────────────────────────────────────────────────────
    ("text_stats", (s, d) =>
      T(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"),
        TextAnalysis.subwordTokenCount(col("text")).as("n_subtok"),
        TextAnalysis.meanTokenLen(col("text")).as("mean_tok_len"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some(raw"""SELECT doc_id,
                 CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS INT) AS n_tok,
                 CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_subtok,
                 CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) > 0
                      THEN CAST(list_sum(list_transform(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0), x -> len(x))) AS DOUBLE)
                           / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE)
                      ELSE 0.0 END AS mean_tok_len,
                 CASE WHEN len(text) > 0
                      THEN CAST(len(text) - len(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE)
                      ELSE 0.0 END AS punct_ratio,
                 CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) > 0
                      THEN CAST(len(list_filter(string_split_regex(text, '\s+'), x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], lower(x)))) AS DOUBLE)
                           / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE)
                      ELSE 0.0 END AS stopword_ratio,
                 round(
                   (CASE WHEN len(text) BETWEEN 20 AND 5000 THEN 0.25 ELSE 0.0 END) +
                   (CASE WHEN (CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) > 0
                               THEN CAST(list_sum(list_transform(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0), x -> len(x))) AS DOUBLE)
                                    / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE)
                               ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
                   (CASE WHEN (CASE WHEN len(text) > 0
                               THEN CAST(len(text) - len(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE)
                               ELSE 0.0 END) <= 0.2 THEN 0.25 ELSE 0.0 END) +
                   (CASE WHEN (CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) > 0
                               THEN CAST(len(list_filter(string_split_regex(text, '\s+'), x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], lower(x)))) AS DOUBLE)
                                    / CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS DOUBLE)
                               ELSE 0.0 END) BETWEEN 0.01 AND 0.6 THEN 0.25 ELSE 0.0 END), 2) AS quality
               FROM documents ORDER BY doc_id""")),

    // Repetition quality signals (Gopher-rule family): duplicate-line
    // fraction + most-frequent-bigram share per doc.
    // Duplicate-line REMOVAL (round 14) — the apply face of rep_stats'
    // dup_line_frac: repeated non-blank lines after their first
    // occurrence drop, blank lines survive (paragraph structure), text
    // rebuilt in position order. Gopher/C4 boilerplate removal; exact,
    // so DuckDB reproduces the cleaned text VERBATIM. The synthetic
    // corpus has no naturally repeated lines, so the query first wraps
    // every document in the crawl-page shape the operator exists for —
    // a banner line repeated top-and-bottom plus a doubled footer —
    // deterministically (both engines build the identical input), then
    // strips it: every doc must come back with the banner ONCE, the
    // footer ONCE, and its own text intact.
    ("text_dedup_lines", (s, d) => {
      val wrapped = T(s, d, "documents").select(col("doc_id"),
        concat(lit("NAV MENU\n"), col("text"),
          lit("\nNAV MENU\nfooter (c) example\nfooter (c) example"))
          .as("text"))
      TextAnalysis.removeDuplicateLines(wrapped, "doc_id", "text")
        .filter(col("kept_lines") < col("n_lines"))
        .orderBy("doc_id")
    },
      Some("""WITH w AS (
                SELECT doc_id,
                       'NAV MENU' || chr(10) || text || chr(10) ||
                       'NAV MENU' || chr(10) || 'footer (c) example' ||
                       chr(10) || 'footer (c) example' AS text
                FROM documents WHERE text IS NOT NULL
              ), l AS (
                SELECT doc_id, u.line, u.pos
                FROM w d,
                LATERAL (SELECT unnest(string_split(d.text, chr(10))) AS line,
                         generate_subscripts(string_split(d.text, chr(10)), 1) AS pos) u
              ), m AS (
                SELECT doc_id, pos, line,
                       row_number() OVER (PARTITION BY doc_id, line
                                          ORDER BY pos) AS rn
                FROM l
              ), k AS (
                SELECT doc_id, pos, line FROM m WHERE rn = 1 OR trim(line) = ''
              ), per AS (
                SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id
              ), reb AS (
                SELECT doc_id, COUNT(*) AS kept_lines,
                       string_agg(line, chr(10) ORDER BY pos) AS text_clean
                FROM k GROUP BY doc_id
              )
              SELECT p.doc_id, CAST(p.n_lines AS BIGINT) AS n_lines,
                     CAST(r.kept_lines AS BIGINT) AS kept_lines,
                     r.text_clean
              FROM per p JOIN reb r USING (doc_id)
              WHERE r.kept_lines < p.n_lines
              ORDER BY doc_id""")),

    ("rep_stats", (s, d) =>
      TextAnalysis.repetitionStats(T(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some(raw"""WITH lines AS (
                   SELECT doc_id,
                          list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                                      x -> len(x) > 0) AS ls
                   FROM documents),
                 lstats AS (
                   SELECT doc_id,
                          CASE WHEN len(ls) > 0
                               THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE)
                               ELSE 0.0 END AS dup_line_frac
                   FROM lines),
                 tk AS (
                   SELECT doc_id,
                          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
                   FROM documents),
                 bg AS (
                   SELECT doc_id, concat_ws(' ', tk[CAST(i AS INT)], tk[CAST(i + 1 AS INT)]) AS bg
                   FROM tk, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1))) t(i)
                   WHERE len(tk) >= 2),
                 cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
                 share AS (
                   SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_bigram_share
                   FROM cnt GROUP BY doc_id)
                 SELECT l.doc_id, l.dup_line_frac,
                        COALESCE(s.top_bigram_share, 0.0) AS top_bigram_share
                 FROM lstats l LEFT JOIN share s ON l.doc_id = s.doc_id
                 ORDER BY l.doc_id""")),

    ("lang_id", (s, d) =>
      T(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(langIdOracle)),

    ("doc_fingerprint", (s, d) =>
      T(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g'))) AS fp
              FROM documents ORDER BY doc_id""")),

    // Context-window chunking: fixed-size character chunks with overlap,
    // scan-local sequence + explode (chunk_id is a pure function of text
    // length — reproducible anywhere; boundary rules in the op's contract).
    ("chunk_docs", (s, d) =>
      TextAnalysis.chunkDocs(T(s, d, "documents"), "doc_id", "text",
        chunkChars = 200, overlap = 40)
        .withColumn("chunk_md5", md5(col("chunk_text"))).drop("chunk_text")
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH st AS (
                SELECT doc_id, text, CAST(i AS BIGINT) AS s
                FROM documents,
                LATERAL (SELECT unnest(generate_series(1, GREATEST(length(text), 1), 160))) t(i))
              SELECT doc_id,
                     CAST((s - 1) // 160 AS BIGINT) AS chunk_id,
                     md5(substr(text, CAST(s AS INT), 200)) AS chunk_md5
              FROM st
              WHERE s = 1 OR s <= length(text) - 40
              ORDER BY doc_id, chunk_id""")),

    // PII redaction (emails → <EMAIL>, IPv4 → <IP>, phones → <PHONE>) with
    // per-category counts. The synthetic corpus contains no organic PII, so
    // the query plants a deterministic doc_id-derived contact line on every
    // row (both engines apply the same concat) — each row then exercises
    // all three patterns; matches are non-trivial by construction. Patterns
    // live in the Java∩RE2 regex subset, so Spark and DuckDB agree exactly.
    ("pii_redact", (s, d) => {
      val planted = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-1234."))
      val counts = TextAnalysis.piiCounts(planted).map { case (n, c) => c.as(n) }
      T(s, d, "documents")
        .select(col("doc_id") +: counts :+
          md5(TextAnalysis.redactPii(planted)).as("redacted_md5"): _*)
        .orderBy("doc_id")
    },
      Some(raw"""WITH p AS (
                   SELECT doc_id,
                          concat(text, ' Contact user', CAST(doc_id AS VARCHAR),
                                 '@example.com or 10.0.', CAST(doc_id % 256 AS VARCHAR),
                                 '.7 or 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
                                 '-1234.') AS t
                   FROM documents),
                 r AS (
                   SELECT doc_id, t,
                          regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
                   FROM p),
                 r2 AS (
                   SELECT doc_id, t, t1,
                          regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t2
                   FROM r)
                 SELECT doc_id,
                        CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
                        CAST(len(regexp_extract_all(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
                        CAST(len(regexp_extract_all(t2, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b')) AS INT) AS n_phones,
                        md5(regexp_replace(t2, '\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b', '<PHONE>', 'g')) AS redacted_md5
                 FROM r2 ORDER BY doc_id""")),

    // ── multimodal plumbing (payload = utf8 bytes of text; stub decode) ──
    ("multimodal_stats", (s, d) =>
      Multimodal.payloadStats(
        T(s, d, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload").orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS payload_bytes,
                md5(text) AS payload_md5
              FROM documents ORDER BY doc_id""")),

    // Stub feature extraction (md5-derived doubles). The array stays inside
    // the plan; the query emits scalar feature columns so the driver's
    // sorter/hasher handles them — and the md5 construction gives the stub
    // path a full DuckDB hash check.
    ("multimodal_features", (s, d) => {
      val feats = Multimodal.featurize(
        T(s, d, "documents").select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload", dim = 8)
      feats.select(col("doc_id") +: col("payload_bytes") +:
        (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f_$i")): _*)
        .orderBy("doc_id")
    }, Some(multimodalOracle("doc_id"))),

    // mapPartitions batch-decode path (per-partition decoder lifecycle);
    // same md5 stub kernel as the column path → same full oracle.
    ("multimodal_partitions", (s, d) => {
      import s.implicits._
      val ds = T(s, d, "documents")
        .select(col("doc_id").as("id"), col("text").cast("binary").as("payload"))
        .as[Multimodal.MediaRecord]
      val feats = Multimodal.featurizePartitions(ds, dim = 8).toDF()
      feats.select(col("id") +: col("payload_bytes") +:
        (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f_$i")): _*)
        .orderBy("id")
    }, Some(multimodalOracle("id"))),

    // REAL header decode (not the stub): payloads are synthesized as valid
    // PNG / WAV / JPEG / MP4 containers (doc_id % 4 picks the format)
    // whose header fields encode known functions of doc_id, then
    // probeMediaHeader recovers kind/width/height/sample_rate/channels/
    // duration_ms by ACTUAL byte parsing — fixed-offset BE/LE fields for
    // PNG/WAV, an SOF segment walk for JPEG and the moov/mvhd box walk
    // for MP4 (MediaKernels codegen kernels). The oracle recomputes the
    // expected fields from doc_id alone — a build→parse inversion check:
    // any off-by-one in an offset, endianness flip, or a walk that stops
    // one segment short hash-fails.
    ("multimodal_decode", (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("text"))
      val payload = when(col("doc_id") % 4 === 0,
          Multimodal.pngHeaderPayload(
            col("doc_id") % 640 + 1, col("doc_id") % 480 + 1))
        .when(col("doc_id") % 4 === 1,
          Multimodal.wavHeaderPayload(
            lit(8000) + (col("doc_id") % 6) * 4000, col("doc_id") % 3 + 1))
        .when(col("doc_id") % 4 === 2,
          Multimodal.jpegHeaderPayload(
            col("doc_id") % 1920 + 1, col("doc_id") % 1080 + 1))
        .otherwise(Multimodal.mp4HeaderPayload(col("doc_id") % 100000 + 40))
      docs
        // body bytes appended so the probe sees a payload, not a bare header
        .withColumn("payload", concat(payload, unhex(md5(col("text")))))
        .withColumn("m", Multimodal.probeMediaHeader(col("payload")))
        .select(col("doc_id"), col("m.kind").as("kind"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.sample_rate").as("sample_rate"), col("m.channels").as("channels"),
          col("m.duration_ms").as("duration_ms"))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id,
                CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                                WHEN 2 THEN 'jpeg' ELSE 'mp4' END AS kind,
                CASE doc_id % 4 WHEN 0 THEN doc_id % 640 + 1
                                WHEN 2 THEN doc_id % 1920 + 1 END AS width,
                CASE doc_id % 4 WHEN 0 THEN doc_id % 480 + 1
                                WHEN 2 THEN doc_id % 1080 + 1 END AS height,
                CASE WHEN doc_id % 4 = 1 THEN 8000 + (doc_id % 6) * 4000 END AS sample_rate,
                CASE WHEN doc_id % 4 = 1 THEN doc_id % 3 + 1 END AS channels,
                CASE WHEN doc_id % 4 = 3 THEN doc_id % 100000 + 40 END AS duration_ms
              FROM documents ORDER BY doc_id""")),

    // ── as-of (point-in-time) join: for each 'view' event, the most
    //    recent same-user 'click' value at or before it. Spark has no
    //    native ASOF JOIN; graft.ops.AsOfJoin composes it as union + one
    //    keyed window (single shuffle, gap-independent). DuckDB's native
    //    ASOF JOIN is the oracle. ─────────────────────────────────────────
    ("asof_join", (s, d) => {
      val ev = T(s, d, "events")
      val probes = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val quotes = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("qv"))
      graft.ops.AsOfJoin.asOf(probes, quotes, "user_id", "ts", "qv")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("asof_ts_us"),
          col("asof_val"))
        .orderBy("event_id")
    },
      Some("""WITH probes AS (
                SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
              quotes AS (
                SELECT user_id, ts, MAX(value) AS qv FROM events
                WHERE event_type = 'click' GROUP BY user_id, ts)
              SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
                     epoch_us(q.ts) AS asof_ts_us, q.qv AS asof_val
              FROM probes p ASOF LEFT JOIN quotes q
                ON p.user_id = q.user_id AND p.ts >= q.ts
              ORDER BY p.event_id""")),

    // ── per-group deterministic k-sample via the mergeable bottom-k-by-
    //    hash UDAF: partial/final hash aggregation, no per-group sort
    //    shuffle (the window formulation sorts every group's full
    //    contents). Oracle replays the same md5-hash ranking. ────────────
    ("agg_bottom_k", (s, d) => {
      // SparkEntry callers may pass a session not built by Engine.session.
      graft.ops.Aggregates.registerHouseFunctions(s)
      T(s, d, "documents")
        .groupBy(col("lang")).agg(expr("graft_bottom_k(doc_id)").as("smp"))
        .select(col("lang"), posexplode(col("smp")))
        .toDF("lang", "pos", "doc_id")
        .orderBy("lang", "pos")
    },
      Some(s"""SELECT lang, CAST(rn - 1 AS INT) AS pos, doc_id FROM (
                 SELECT lang, doc_id,
                        row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
                 FROM (SELECT lang, doc_id,
                              ${duckBase("concat('bk', CAST(doc_id AS VARCHAR))")} AS h
                       FROM documents))
               WHERE rn <= 3 ORDER BY lang, pos""")),

    // ── bucketed range join: click events falling inside the hour after
    //    any same-user purchase. A raw BETWEEN predicate plans as a
    //    nested-loop join; bucketing turns it into a shuffle hash join on
    //    (user, hour-bucket) + exact re-check. ────────────────────────────
    ("range_join", (s, d) => {
      val ev = T(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pt"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("w_start"),
          (unix_micros(col("ts")) + 3600000000L).as("w_end"))
      graft.ops.RangeJoin.pointInInterval(clicks, purchases, "user_id",
        "pt", "w_start", "w_end", bucketWidth = 3600000000L)
        .select(col("event_id"), col("user_id"), col("pt"), col("w_start"))
        .orderBy("event_id", "w_start")
    },
      Some("""WITH clicks AS (
                SELECT event_id, user_id, epoch_us(ts) AS pt FROM events
                WHERE event_type = 'click'),
              purchases AS (
                SELECT user_id, epoch_us(ts) AS w_start,
                       epoch_us(ts) + 3600000000 AS w_end
                FROM events WHERE event_type = 'purchase')
              SELECT c.event_id, c.user_id, c.pt, p.w_start
              FROM clicks c JOIN purchases p
                ON c.user_id = p.user_id AND c.pt BETWEEN p.w_start AND p.w_end
              ORDER BY c.event_id, p.w_start""")),

    // ── corpus statistics: top-k vocabulary with doc frequency ───────────
    // One explode + map-side partial aggregation + TakeOrdered(k) — the
    // vocabulary shuffle carries distinct tokens per partition, never
    // per-occurrence rows, and no global sort.
    ("vocab_topk", (s, d) =>
      TextAnalysis.vocabulary(T(s, d, "documents"), "doc_id", "text", k = 100)
        .orderBy(col("cnt").desc, col("token").asc),
      Some(raw"""SELECT token, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
                 FROM (SELECT doc_id,
                              unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
                       FROM documents)
                 GROUP BY token
                 ORDER BY cnt DESC, token ASC LIMIT 100""")),

    // ── BM25 relevance scoring against a literal query-term set ──────────
    // Scan-local tf/dl (no corpus explode, no shuffle of document data);
    // ONE 1-row global stats aggregation broadcast back to the scan. The
    // oracle reproduces the identical double fold (fixed term order,
    // verified-safe literal constants, round 6).
    ("text_bm25", (s, d) =>
      TextAnalysis.bm25(T(s, d, "documents"), "doc_id", "text",
        queryTerms = Seq("hash", "join", "merge", "vector")),
      Some(raw"""WITH base AS (
                   SELECT doc_id,
                          len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS dl,
                          len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'hash')) AS tf_hash,
                          len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'join')) AS tf_join,
                          len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'merge')) AS tf_merge,
                          len(list_filter(string_split_regex(lower(text), '\s+'), x -> x = 'vector')) AS tf_vector
                   FROM documents),
                 stats AS (
                   SELECT CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(dl) AS BIGINT) AS sum_dl,
                          CAST(SUM(CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
                          CAST(SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
                          CAST(SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_merge,
                          CAST(SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
                   FROM base)
                 SELECT doc_id, dl,
                        ((CASE WHEN tf_hash > 0 THEN 1 ELSE 0 END)
                         + (CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)
                         + (CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END)
                         + (CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END)) AS n_match,
                        ROUND(
                          (CASE WHEN tf_hash > 0 THEN
                             ln((CAST(n AS DOUBLE) - df_hash + 0.5) / (df_hash + 0.5) + 1.0)
                               * CAST(tf_hash AS DOUBLE) * CAST(2.2 AS DOUBLE)
                               / (CAST(tf_hash AS DOUBLE) + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE))))
                           ELSE 0.0 END)
                          + (CASE WHEN tf_join > 0 THEN
                               ln((CAST(n AS DOUBLE) - df_join + 0.5) / (df_join + 0.5) + 1.0)
                                 * CAST(tf_join AS DOUBLE) * CAST(2.2 AS DOUBLE)
                                 / (CAST(tf_join AS DOUBLE) + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE))))
                             ELSE 0.0 END)
                          + (CASE WHEN tf_merge > 0 THEN
                               ln((CAST(n AS DOUBLE) - df_merge + 0.5) / (df_merge + 0.5) + 1.0)
                                 * CAST(tf_merge AS DOUBLE) * CAST(2.2 AS DOUBLE)
                                 / (CAST(tf_merge AS DOUBLE) + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE))))
                             ELSE 0.0 END)
                          + (CASE WHEN tf_vector > 0 THEN
                               ln((CAST(n AS DOUBLE) - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
                                 * CAST(tf_vector AS DOUBLE) * CAST(2.2 AS DOUBLE)
                                 / (CAST(tf_vector AS DOUBLE) + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n AS DOUBLE))))
                             ELSE 0.0 END), 6) AS bm25
                 FROM base, stats
                 WHERE tf_hash > 0 OR tf_join > 0 OR tf_merge > 0 OR tf_vector > 0
                 ORDER BY bm25 DESC, doc_id""")),

    // ── winsorization: per-group nearest-rank percentile clipping ────────
    // One window sort per group for the cutoffs, broadcast back onto the
    // raw scan; integer rank arithmetic keeps cutoffs engine-exact.
    ("winsorize", (s, d) =>
      graft.ops.Outliers.winsorize(
        T(s, d, "lineitem").select("l_orderkey", "l_linenumber",
          "l_returnflag", "l_extendedprice"),
        groupCols = Seq("l_returnflag"), valueCol = "l_extendedprice",
        tieCols = Seq("l_orderkey", "l_linenumber"), pLo = 0.01, pHi = 0.99)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"), col("lo_cut"), col("hi_cut"),
          col("clipped"), col("is_lo"), col("is_hi"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""WITH ranked AS (
                SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
                       row_number() OVER (PARTITION BY l_returnflag
                         ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
                       COUNT(*) OVER (PARTITION BY l_returnflag) AS n
                FROM lineitem),
              cuts AS (
                SELECT l_returnflag,
                       MIN(CASE WHEN rn = GREATEST(CAST(CEIL(CAST(0.01 AS DOUBLE) * n) AS BIGINT), 1) THEN l_extendedprice END) AS lo_cut,
                       MIN(CASE WHEN rn = CAST(CEIL(CAST(0.99 AS DOUBLE) * n) AS BIGINT) THEN l_extendedprice END) AS hi_cut
                FROM ranked GROUP BY l_returnflag)
              SELECT r.l_orderkey, r.l_linenumber, r.l_returnflag,
                     r.l_extendedprice, c.lo_cut, c.hi_cut,
                     LEAST(GREATEST(r.l_extendedprice, c.lo_cut), c.hi_cut) AS clipped,
                     r.l_extendedprice < c.lo_cut AS is_lo,
                     r.l_extendedprice > c.hi_cut AS is_hi
              FROM (SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
                    FROM lineitem) r
              JOIN cuts c USING (l_returnflag)
              ORDER BY l_orderkey, l_linenumber""")),

    // ── benchmark decontamination: n-gram collision flagging ─────────────
    // Benchmark = docs 0..9 (stand-in test set, broadcast side); corpus =
    // the rest, flagged when ≥20% of its 8-gram set collides.
    ("contamination", (s, d) => {
      val docs = T(s, d, "documents")
      Dedup.ngramContamination(
        corpus = docs.filter(col("doc_id") >= 10),
        benchmark = docs.filter(col("doc_id") < 10),
        idCol = "doc_id", textCol = "text", width = 8, threshold = 0.2)
        .orderBy("doc_id")
    },
      // Oracle mirrors the engine's hashed-set construction (distinct
      // 32-bit md5 shingle hashes on BOTH sides — the same sets the
      // jaccard pipeline verifies on).
      Some(s"""WITH bs AS (
                SELECT DISTINCT ${duckBase("shingle")} AS h FROM (
                  SELECT substr(text, CAST(i AS INT), 8) AS shingle
                  FROM documents,
                  LATERAL (SELECT unnest(generate_series(1, GREATEST(length(text) - 7, 1)))) t(i)
                  WHERE doc_id < 10)),
              cs AS (
                SELECT DISTINCT doc_id, ${duckBase("shingle")} AS h FROM (
                  SELECT doc_id, substr(text, CAST(i AS INT), 8) AS shingle
                  FROM documents,
                  LATERAL (SELECT unnest(generate_series(1, GREATEST(length(text) - 7, 1)))) t(i)
                  WHERE doc_id >= 10)),
              sizes AS (SELECT doc_id, COUNT(*) AS total_ngrams FROM cs GROUP BY doc_id),
              hits AS (SELECT cs.doc_id, COUNT(*) AS overlap_ngrams
                       FROM cs JOIN bs USING (h) GROUP BY cs.doc_id)
              SELECT s.doc_id,
                     CAST(COALESCE(h.overlap_ngrams, 0) AS BIGINT) AS overlap_ngrams,
                     s.total_ngrams,
                     CAST(COALESCE(h.overlap_ngrams, 0) AS DOUBLE) / CAST(s.total_ngrams AS DOUBLE) AS contamination
              FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
              WHERE CAST(COALESCE(h.overlap_ngrams, 0) AS DOUBLE) / CAST(s.total_ngrams AS DOUBLE) >= 0.2
              ORDER BY s.doc_id""")),

    // ── dataset curation: deterministic sampling / splits / packing ──────
    // Content-addressed Bernoulli sampling: keep iff md5-hash(salt++key)
    // < rate·2³² — reproducible across engines/runs/partitionings,
    // scan-local (no shuffle). The oracle replays the identical hash.
    ("sample_hash", (s, d) =>
      Sampling.hashSample(T(s, d, "documents"), col("doc_id"), rate = 0.1, salt = "s1")
        .select(col("doc_id")).orderBy("doc_id"),
      Some(s"""SELECT doc_id FROM documents
               WHERE ${duckBase("concat('s1', CAST(doc_id AS VARCHAR))")} < ${(0.1 * 4294967296.0).toLong}
               ORDER BY doc_id""")),

    // Per-stratum rates in one scan-local CASE (downsample dominant strata),
    // plus the deterministic train/holdout split column.
    ("sample_stratified", (s, d) =>
      Sampling.stratifiedHashSample(T(s, d, "documents"), col("doc_id"), col("lang"),
        rates = Map("en" -> 0.3, "zh" -> 1.0), defaultRate = 0.6, salt = "s2")
        .select(col("doc_id"), col("lang"),
          Sampling.splitColumn(col("doc_id"), holdoutRate = 0.2, salt = "s3").as("split"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang,
                      CASE WHEN ${duckBase("concat('s3', CAST(doc_id AS VARCHAR))")} < ${(0.2 * 4294967296.0).toLong}
                           THEN 'holdout' ELSE 'train' END AS split
               FROM documents
               WHERE ${duckBase("concat('s2', CAST(doc_id AS VARCHAR))")} <
                     CASE WHEN lang = 'zh' THEN ${4294967296L}
                          WHEN lang = 'en' THEN ${(0.3 * 4294967296.0).toLong}
                          ELSE ${(0.6 * 4294967296.0).toLong} END
               ORDER BY doc_id""")),

    // Weighted data mixture with epochs: integer part = full copies,
    // fractional part = epoch-salted hash sample — one scan, no shuffle.
    ("sample_mixture", (s, d) =>
      Sampling.weightedEpochMix(T(s, d, "documents"), col("doc_id"), col("lang"),
        weights = Map("en" -> 1.5, "zh" -> 3.0), defaultWeight = 0.5, salt = "mx")
        .select(col("doc_id"), col("lang"), col("epoch"))
        .orderBy("doc_id", "epoch"),
      Some(s"""WITH w AS (
                 SELECT doc_id, lang,
                        CASE WHEN lang = 'en' THEN 1.5
                             WHEN lang = 'zh' THEN 3.0
                             ELSE 0.5 END AS w
                 FROM documents),
               e AS (
                 SELECT doc_id, lang, w, CAST(i AS INT) AS epoch
                 FROM w, LATERAL (SELECT unnest(generate_series(0, CAST(ceil(w) AS INT) - 1))) t(i)
                 WHERE w > 0)
               SELECT doc_id, lang, epoch FROM e
               WHERE epoch < floor(w)
                  OR ${duckBase("concat('mx', CAST(epoch AS VARCHAR), ':', CAST(doc_id AS VARCHAR))")}
                     < CAST(trunc((w - floor(w)) * 4294967296.0) AS BIGINT)
               ORDER BY doc_id, epoch""")),

    // Per-row weighted Bernoulli keep: acceptance probability is a column
    // (here a length-proportional score), still one scan-local predicate.
    ("sample_weighted", (s, d) => {
      val docs = T(s, d, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      Sampling.weightedSample(docs, col("doc_id"),
        least(col("n_tok").cast("double") / lit(100.0), lit(1.0)), salt = "w:")
        .orderBy("doc_id")
    },
      Some(raw"""WITH d AS (
                   SELECT doc_id, lang,
                          CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tok
                   FROM documents)
                 SELECT doc_id, lang, n_tok FROM d
                 WHERE ${duckBase("concat('w:', CAST(doc_id AS VARCHAR))")}
                       < CAST(trunc(least(greatest(least(CAST(n_tok AS DOUBLE) / 100.0, 1.0), 0.0), 1.0) * 4294967296.0) AS BIGINT)
                 ORDER BY doc_id""")),

    // Deterministic epoch shuffle: reproducible global permutation per
    // epoch (epoch-salted content hash), executed as the scalable
    // range-partitioned sort; pos_hash is exposed for downstream reuse.
    ("shuffle_epoch", (s, d) =>
      Sampling.epochShuffle(
        T(s, d, "documents").select("doc_id", "lang"), col("doc_id"), epoch = 1),
      Some(s"""SELECT doc_id, lang,
                      ${duckBase("concat('1:', CAST(doc_id AS VARCHAR))")} AS pos_hash
               FROM documents
               ORDER BY pos_hash, doc_id""")),

    // Group-stable train/holdout split: the split key is the SOURCE, not
    // the doc — every document of a source lands in the same split, the
    // leakage-safe discipline when near-dups cluster within sources (a
    // doc-level split would put one copy in train and its twin in test).
    // Same content-addressed hash as sample_stratified, keyed coarser.
    ("split_by_source", (s, d) =>
      T(s, d, "documents").select(col("doc_id"), col("source"),
        Sampling.splitColumn(col("source"), holdoutRate = 0.25, salt = "gs").as("split"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, source,
                      CASE WHEN ${duckBase("concat('gs', source)")} < ${(0.25 * 4294967296.0).toLong}
                           THEN 'holdout' ELSE 'train' END AS split
               FROM documents ORDER BY doc_id""")),

    // Deterministic per-group cap (domain capping): ≤ 40 docs per `source`,
    // selected by content-addressed hash order — run-stable, engine-stable.
    ("cap_per_source", (s, d) =>
      Sampling.capPerGroup(
        T(s, d, "documents").select("doc_id", "source"),
        col("source"), col("doc_id"), n = 40, salt = "cap")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, source FROM (
                 SELECT doc_id, source,
                        row_number() OVER (PARTITION BY source
                          ORDER BY ${duckBase("concat('cap', CAST(doc_id AS VARCHAR))")} ASC,
                                   doc_id ASC) AS rn
                 FROM documents) WHERE rn <= 40
               ORDER BY doc_id""")),

    // CLUSTER-BALANCED sampling (round 14, the D4-shaped diversification
    // step — Tirumala et al. 2023: cluster the embedding space, then
    // rebalance by capping each cluster's mass): the deterministic
    // kmeans assigns topics, capPerGroup keeps each cluster's
    // content-hash top-n — over-represented topics shrink to the cap,
    // rare topics survive whole. Both kernels are bit-reproducible, so
    // the oracle replays the ENTIRE pipeline (kmeans CTE + the same
    // hash order) and the output is the exact kept SET, not a count
    // claim. 100 TB shape: kmeans is broadcast-centroid (no corpus
    // shuffle beyond one per iteration's partial means), the cap is one
    // window per cluster with the salted two-stage escape hatch for a
    // giant cluster (capPerGroupSalted, property-tested identical).
    ("sample_cluster_balance", (s, d) => {
      val e = T(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val assigned = Similarity.kmeans(e, "vec_id", "embedding",
        k = 8, iters = 2).select(col("vec_id"), col("cluster"))
      Sampling.capPerGroup(assigned, col("cluster"), col("vec_id"),
        n = 40, salt = "bal").orderBy("vec_id")
    },
      Some(s"""SELECT vec_id, cluster FROM (
                 SELECT vec_id, cluster,
                        row_number() OVER (PARTITION BY cluster
                          ORDER BY ${duckBase("concat('bal', CAST(vec_id AS VARCHAR))")} ASC,
                                   vec_id ASC) AS rn
                 FROM (${kmeansOracle(k = 8, iters = 2)}) t) ranked
               WHERE rn <= 40
               ORDER BY vec_id""")),

    // One-pass numeric column profiling: single Expand-based aggregation
    // for all per-column stats, unpivoted to a tidy row per column.
    ("profile", (s, d) =>
      graft.ops.Profiling.numericProfile(T(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      Some("""SELECT col_name, n_rows, n_nonnull, n_distinct, min_v, max_v FROM (
                SELECT 'l_discount' AS col_name, COUNT(*) AS n_rows,
                       COUNT(l_discount) AS n_nonnull,
                       COUNT(DISTINCT l_discount) AS n_distinct,
                       CAST(MIN(l_discount) AS DOUBLE) AS min_v,
                       CAST(MAX(l_discount) AS DOUBLE) AS max_v
                FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice', COUNT(*), COUNT(l_extendedprice),
                       COUNT(DISTINCT l_extendedprice),
                       CAST(MIN(l_extendedprice) AS DOUBLE),
                       CAST(MAX(l_extendedprice) AS DOUBLE) FROM lineitem
                UNION ALL
                SELECT 'l_quantity', COUNT(*), COUNT(l_quantity),
                       COUNT(DISTINCT l_quantity),
                       CAST(MIN(l_quantity) AS DOUBLE),
                       CAST(MAX(l_quantity) AS DOUBLE) FROM lineitem)
              ORDER BY col_name""")),

    // Sequence packing: token-budget bins in doc_id order via the two-phase
    // distributed prefix sum (no corpus-wide single-partition window); the
    // oracle replays it with a plain global SUM OVER — bit-exact integers.
    ("pack_sequences", (s, d) => {
      val docs = T(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.packBins(docs, "doc_id", "n_tok", budget = 2048)
        .select(col("doc_id"), col("n_tok"), col("cum_tokens"), col("bin"))
        .orderBy("doc_id")
    },
      Some(raw"""WITH t AS (
                   SELECT doc_id,
                          CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tok
                   FROM documents)
                 SELECT doc_id, n_tok,
                        CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
                        CAST((SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 2048 AS BIGINT) AS bin
                 FROM t ORDER BY doc_id""")),

    // ── near-dup clusters: connected components over jaccard pairs
    //    (alternating large-star/small-star). ─────────────────────────────
    ("dedup_components", (s, d) => {
      val pairs = Dedup.jaccardPairsLsh(T(s, d, "documents"), "doc_id", "text",
        width = 6, threshold = 0.6, k = minhashK, bands = minhashBands)
      Dedup.connectedComponents(pairs, "doc_id").orderBy("doc_id")
    }, Some(componentsOracle)),

    // Same query as dedup_components; kept so the 199-query surface and the Bench key do not change.
    ("dedup_components_star", (s, d) => {
      val pairs = Dedup.jaccardPairsLsh(T(s, d, "documents"), "doc_id", "text",
        width = 6, threshold = 0.6, k = minhashK, bands = minhashBands)
      Dedup.connectedComponents(pairs, "doc_id").orderBy("doc_id")
    }, Some(componentsOracle)),

    // Same query as dedup_components; kept so the 199-query surface does not change.
    ("dedup_components_labelprop", (s, d) => {
      val pairs = Dedup.jaccardPairsLsh(T(s, d, "documents"), "doc_id", "text",
        width = 6, threshold = 0.6, k = minhashK, bands = minhashBands)
      Dedup.connectedComponents(pairs, "doc_id").orderBy("doc_id")
    }, Some(componentsOracle)),

    // Cluster-representative selection: components over jaccard pairs,
    // singletons self-labeled, then keep the LONGEST doc per cluster (tie →
    // smallest id) — the step that turns labels into a kept-set.
    ("dedup_representatives", (s, d) => {
      val docs = T(s, d, "documents")
      val pairs = Dedup.jaccardPairsLsh(docs, "doc_id", "text",
        width = 6, threshold = 0.6, k = minhashK, bands = minhashBands)
      val labels = Dedup.connectedComponents(pairs, "doc_id")
      val full = docs.select(col("doc_id"), col("n_chars"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      Dedup.componentRepresentatives(full, "doc_id", "component", "n_chars")
        .orderBy("component")
    },
      Some(s"""WITH RECURSIVE ${jaccardPairsCtes(0.6)},
               edges AS (SELECT id_a AS u, id_b AS v FROM jp
                         UNION SELECT id_b, id_a FROM jp),
               reach(u, v) AS (
                 SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                 UNION
                 SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
               comp AS (SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u),
               f AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
                     FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
               b AS (SELECT component, MAX(n_chars) AS mx FROM f GROUP BY component)
               SELECT f.component, MIN(f.doc_id) AS rep_doc_id, b.mx AS n_chars
               FROM f JOIN b ON f.component = b.component AND f.n_chars = b.mx
               GROUP BY f.component, b.mx ORDER BY f.component""")),

    // ── flagship corpus-cleaning pipeline: quality gate → language tag →
    //    greedy near-dup removal (drop the larger id of each similar pair),
    //    all composed into one plan — the end-to-end shape of a
    //    training-data curation job, oracle-checked. ─────────────────────
    ("pipeline_clean", (s, d) => {
      val docs = T(s, d, "documents")
      val scored = docs.select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val dupIds = Dedup.jaccardPairsLsh(docs, "doc_id", "text",
        width = 6, threshold = 0.6, k = minhashK, bands = minhashBands)
        .select(col("id_b").as("doc_id")).distinct()
      scored.filter(col("quality") >= 0.5)
        .join(dupIds, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }, Some(pipelineCleanOracle)),

    // ── the FULL curation flagship: deterministic subsample → quality +
    //    language gate → near-dup removal (over the sample) → token-budget
    //    sequence packing, one composed plan — every stage an operator
    //    verified above, the composition oracle-checked end to end. ──────
    ("pipeline_curate", (s, d) => {
      val sampled = Sampling.hashSample(
        T(s, d, "documents"), col("doc_id"), rate = 0.8, salt = "cur")
      val scored = sampled.select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      val dupIds = Dedup.jaccardPairsLsh(sampled, "doc_id", "text",
        width = 6, threshold = 0.6, k = minhashK, bands = minhashBands)
        .select(col("id_b").as("doc_id")).distinct()
      val kept = scored.filter(col("quality") >= 0.5)
        .join(dupIds, Seq("doc_id"), "left_anti")
      Packing.packBins(kept, "doc_id", "n_tok", budget = 2048)
        .select(col("doc_id"), col("lang_pred"), col("quality"),
          col("n_tok"), col("cum_tokens"), col("bin"))
        .orderBy("doc_id")
    }, Some(pipelineCurateOracle)),

    // ── warm shared-stage composition: ONE persisted jaccardDocs frame
    //    serves BOTH a loose and a tight near-dup pass — the cache-handle
    //    design the two-call Dedup API exists for (signature+sets computed
    //    once, reused by candidates and both verify sides of both tiers).
    //    Benched as its own headline: its delta vs 2× dedup_jaccard_pairs
    //    quantifies the reuse. ──────────────────────────────────────────
    ("pipeline_warm", (s, d) => {
      val docs = Dedup.jaccardDocs(T(s, d, "documents"), "doc_id", "text",
        width = 6, k = minhashK)
      val loose = Dedup.jaccardPairsFromDocs(docs, "doc_id",
          threshold = 0.5, k = minhashK, bands = minhashBands)
        .select(lit("loose").as("tier"), col("id_a"), col("id_b"))
      val tight = Dedup.jaccardPairsFromDocs(docs, "doc_id",
          threshold = 0.8, k = minhashK, bands = minhashBands)
        .select(lit("tight").as("tier"), col("id_a"), col("id_b"))
      loose.unionAll(tight).orderBy("tier", "id_a", "id_b")
    },
      Some(s"""WITH ${candCtes(6)},
               sizes AS (SELECT doc_id, COUNT(*) AS sz FROM bases GROUP BY doc_id),
               common AS (
                 SELECT cd.id_a, cd.id_b, COUNT(*) AS nc
                 FROM cand cd
                 JOIN bases a ON a.doc_id = cd.id_a
                 JOIN bases b ON b.doc_id = cd.id_b AND b.mhb = a.mhb
                 GROUP BY cd.id_a, cd.id_b),
               jv AS (
                 SELECT cm.id_a, cm.id_b,
                        CAST(nc AS DOUBLE) / CAST(sa.sz + sb.sz - nc AS DOUBLE) AS j
                 FROM common cm
                 JOIN sizes sa ON sa.doc_id = cm.id_a
                 JOIN sizes sb ON sb.doc_id = cm.id_b)
               SELECT 'loose' AS tier, id_a, id_b FROM jv WHERE j >= 0.5
               UNION ALL
               SELECT 'tight', id_a, id_b FROM jv WHERE j >= 0.8
               ORDER BY tier, id_a, id_b""")))

  /** Shared CTE chain producing jaccard pairs at a threshold. */
  private def jaccardPairsCtes(threshold: Double, src: String = "documents"): String =
    s"""${candCtes(6, src)},
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM bases GROUP BY doc_id),
       common AS (
         SELECT cd.id_a, cd.id_b, COUNT(*) AS nc
         FROM cand cd
         JOIN bases a ON a.doc_id = cd.id_a
         JOIN bases b ON b.doc_id = cd.id_b AND b.mhb = a.mhb
         GROUP BY cd.id_a, cd.id_b),
       jp AS (
         SELECT cm.id_a, cm.id_b
         FROM common cm
         JOIN sizes sa ON sa.doc_id = cm.id_a
         JOIN sizes sb ON sb.doc_id = cm.id_b
         WHERE CAST(nc AS DOUBLE) / CAST(sa.sz + sb.sz - nc AS DOUBLE) >= $threshold)"""

  /** Recursive-CTE oracle for connected components over jaccard pairs. */
  private lazy val componentsOracle: String =
    s"""WITH RECURSIVE ${jaccardPairsCtes(0.6)},
       edges AS (SELECT id_a AS u, id_b AS v FROM jp
                 UNION SELECT id_b, id_a FROM jp),
       reach(u, v) AS (
         SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         UNION
         SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
       ORDER BY doc_id"""

  /** Composed oracle for pipeline_clean: jaccard-pair CTEs + lang scoring +
    * quality expression, assembled from the same verified constructions the
    * individual queries use. */
  private lazy val pipelineCleanOracle: String = {
    val marks = TextAnalysis.langMarkers.toSeq.sortBy(_._1)
    def ratio(markers: Seq[String]): String = {
      val lst = markers.map(m => s"'$m'").mkString("[", ",", "]")
      s"""CAST(len(list_filter(toks, x -> list_contains($lst, lower(x)))) AS DOUBLE)
         | / CAST(GREATEST(len(toks), 1) AS DOUBLE)""".stripMargin
    }
    val scoreCols = marks.map { case (lang, m) => s"(${ratio(m)}) AS s_$lang" }.mkString(", ")
    raw"""WITH ${jaccardPairsCtes(0.6)},
       dup AS (SELECT DISTINCT id_b AS doc_id FROM jp),
       tok AS (
         SELECT doc_id, text,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
       scored AS (SELECT doc_id, text, toks, $scoreCols FROM tok),
       q AS (
         SELECT doc_id,
           CASE WHEN len(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) * 3 > len(text) THEN 'zh'
                WHEN GREATEST(s_de, s_en, s_es, s_fr) > 0 THEN
                  CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                       WHEN s_en >= s_de THEN 'en'
                       ELSE 'de' END
                ELSE 'und' END AS lang_pred,
           round(
             (CASE WHEN len(text) BETWEEN 20 AND 5000 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) > 0
                         THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                         ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(text) > 0
                         THEN CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE)
                         ELSE 0.0 END) <= 0.2 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) > 0
                         THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], lower(x)))) AS DOUBLE)
                              / CAST(len(toks) AS DOUBLE)
                         ELSE 0.0 END) BETWEEN 0.01 AND 0.6 THEN 0.25 ELSE 0.0 END), 2) AS quality
         FROM scored)
       SELECT doc_id, lang_pred, quality FROM q
       WHERE quality >= 0.5 AND doc_id NOT IN (SELECT doc_id FROM dup)
       ORDER BY doc_id"""
  }

  /** End-to-end oracle for pipeline_curate: deterministic sample CTE →
    * the jaccard-pair CTEs over the SAMPLE → the lang/quality expressions →
    * the packing prefix-sum window — each block the verified construction
    * from the corresponding standalone query. */
  private lazy val pipelineCurateOracle: String = {
    val marks = TextAnalysis.langMarkers.toSeq.sortBy(_._1)
    def ratio(markers: Seq[String]): String = {
      val lst = markers.map(m => s"'$m'").mkString("[", ",", "]")
      s"""CAST(len(list_filter(toks, x -> list_contains($lst, lower(x)))) AS DOUBLE)
         | / CAST(GREATEST(len(toks), 1) AS DOUBLE)""".stripMargin
    }
    val scoreCols = marks.map { case (lang, m) => s"(${ratio(m)}) AS s_$lang" }.mkString(", ")
    val sampleCond =
      s"${duckBase("concat('cur', CAST(doc_id AS VARCHAR))")} < ${(0.8 * 4294967296.0).toLong}"
    raw"""WITH samp AS (SELECT * FROM documents WHERE $sampleCond),
       ${jaccardPairsCtes(0.6, "samp")},
       dup AS (SELECT DISTINCT id_b AS doc_id FROM jp),
       tok AS (
         SELECT doc_id, text,
                list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
         FROM samp),
       scored AS (SELECT doc_id, text, toks, $scoreCols FROM tok),
       q AS (
         SELECT doc_id,
           CASE WHEN len(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) * 3 > len(text) THEN 'zh'
                WHEN GREATEST(s_de, s_en, s_es, s_fr) > 0 THEN
                  CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                       WHEN s_en >= s_de THEN 'en'
                       ELSE 'de' END
                ELSE 'und' END AS lang_pred,
           round(
             (CASE WHEN len(text) BETWEEN 20 AND 5000 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) > 0
                         THEN CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                         ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(text) > 0
                         THEN CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE)
                         ELSE 0.0 END) <= 0.2 THEN 0.25 ELSE 0.0 END) +
             (CASE WHEN (CASE WHEN len(toks) > 0
                         THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be','are'], lower(x)))) AS DOUBLE)
                              / CAST(len(toks) AS DOUBLE)
                         ELSE 0.0 END) BETWEEN 0.01 AND 0.6 THEN 0.25 ELSE 0.0 END), 2) AS quality,
           CAST(len(toks) AS BIGINT) AS n_tok
         FROM scored),
       kept AS (
         SELECT doc_id, lang_pred, quality, n_tok FROM q
         WHERE quality >= 0.5 AND doc_id NOT IN (SELECT doc_id FROM dup))
       SELECT doc_id, lang_pred, quality, n_tok,
              CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
              CAST((SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 2048 AS BIGINT) AS bin
       FROM kept ORDER BY doc_id"""
  }

  /** DuckDB replica of Multimodal.fakeDecodeFeatures over utf8-text
    * payloads: f_d = (first-8-hex-chars-of-md5(payload ++ d) % 2000001)
    * / 1e6 − 1. Exact integer ops then identical double ops — bit-equal. */
  private def multimodalOracle(idAlias: String): String = {
    val fCols = (0 until 8).map { d =>
      s"CAST(${duckBase(s"text || '$d'")} % 2000001 AS DOUBLE) / 1000000.0 - 1.0 AS f_$d"
    }.mkString(",\n               ")
    s"""SELECT doc_id AS $idAlias,
               CAST(octet_length(CAST(text AS BLOB)) AS INT) AS payload_bytes,
               $fCols
        FROM documents ORDER BY $idAlias"""
  }

  /** DuckDB replica of Dedup.embeddingNearDupPairs: identical literal
    * hyperplanes (exact decimal expansion), same (table, bucket) candidate
    * join, same exact-cosine verification. */
  private lazy val embedNeardupOracle: String = {
    def exact(x: Double): String = new java.math.BigDecimal(x).toPlainString
    def planeDot(vec: String, p: Array[Double]): String = {
      val arr = p.map(exact).mkString("[", ", ", "]")
      s"list_reduce(list_transform(list_zip($vec, $arr), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)"
    }
    val all = Similarity.planes(embedLshR * embedLshTables, 64)
    val arms = (0 until embedLshTables).map { t =>
      val bucket = (0 until embedLshR).map { j =>
        s"(CASE WHEN ${planeDot("embedding", all(t * embedLshR + j))} > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bucket AS bucket FROM embeddings"
    }.mkString("\n        UNION ALL ")
    s"""WITH cb AS ($arms),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM cb a JOIN cb b
                   ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, ${duckCos("ea.embedding", "eb.embedding")} AS cos
        FROM cand
        JOIN embeddings ea ON ea.vec_id = id_a
        JOIN embeddings eb ON eb.vec_id = id_b
        WHERE ${duckCosRaw("ea.embedding", "eb.embedding")} >= 0.45
        ORDER BY id_a, id_b"""
  }

  /** DuckDB replica of Similarity.lshTopK with the SAME literal hyperplanes
    * (exact decimal expansion of each double → DuckDB parses back the
    * identical binary value; the dot fold matches VectorDot's order). The
    * multi-probe variant unnests the query bucket plus its Hamming-1
    * neighbors, exactly like the engine's explode. */
  private def lshOracle(multiProbe: Boolean): String = {
    def exact(x: Double): String = new java.math.BigDecimal(x).toPlainString
    def planeDot(vec: String, p: Array[Double]): String = {
      val arr = p.map(exact).mkString("[", ", ", "]")
      s"""list_reduce(list_transform(list_zip($vec, $arr), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)"""
    }
    def bucket(vec: String): String =
      Similarity.planes(4, 64).zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN ${planeDot(vec, p)} > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
    def norm2(vec: String): String =
      s"sqrt(list_reduce(list_transform($vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
    val probeList =
      if (!multiProbe) "[qbucket]"
      else (0 until 4).map(j => s"xor(qbucket, ${1 << j})")
        .mkString("[qbucket, ", ", ", "]")
    s"""WITH cb AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bucket,
                           ${norm2("embedding")} AS cn
                    FROM embeddings),
        qb AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket, cn AS qn
               FROM cb WHERE vec_id < 10),
        qp AS (SELECT qid, qe, qn, unnest($probeList) AS pbucket FROM qb),
        p AS (SELECT qp.qid, cb.vec_id,
                     round(list_reduce(list_transform(list_zip(qp.qe, cb.embedding), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)
                           / (qp.qn * cb.cn), 9) AS cos
              FROM cb JOIN qp ON cb.bucket = qp.pbucket)
        SELECT qid, vec_id, cos, rk FROM (
          SELECT qid, vec_id, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
          FROM p) WHERE rk <= 5
        ORDER BY qid, rk"""
  }

  /** DuckDB replica of Similarity.ivfTopK (k=5, nlist=16, nprobe=4, queries
    * = vec_id < 10): same md5-derived seed ids, same assign→mean→assign
    * Lloyd step with exact fixed-point mean sums (round(v·2⁴⁰) summed as
    * HUGEINT — order-independent integer addition, mirroring Spark's
    * DECIMAL sum), same probe and scoring windows — every float op in the
    * same order ⇒ identical bits.
    * Tie rules mirrored exactly: cell assignment breaks ties to the LARGER
    * cid (Spark's max(struct(sim, cid))), probe selection to the SMALLER. */
  /** The shared IVF construction CTEs (seeds → one Lloyd refinement →
    * cell assignment → per-query probes) — everything up to scoring, so
    * the exact-cosine and the quantized-dot tails rank over the SAME
    * candidate sets. */
  private lazy val ivfOracleCore: String = ivfOracleCoreBuiltOver("TRUE")

  /** The shared IVF CTE core, with the index-CONSTRUCTION stages (seed
    * selection, the Lloyd refinement, the centroid means) computed over
    * `embeddings WHERE $buildPred` while the CELLS (s1) cover the FULL
    * table — the stored index's grow path: `ivfBuild` over a subset,
    * then `ivfAppend` of the rest assigns appended rows to the FROZEN
    * build centroids with the exact formula s1 applies (max cosine,
    * ties to the larger cid). `"TRUE"` degenerates to the
    * build-everything core every inline variant shares. */
  private def ivfOracleCoreBuiltOver(buildPred: String): String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)"
    def norm2(v: String): String =
      s"sqrt(list_reduce(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
    s"""WITH c AS (SELECT vec_id, embedding, ${norm2("embedding")} AS cn FROM embeddings),
        b AS (SELECT vec_id, embedding, cn FROM c WHERE $buildPred),
        seeds AS (
          SELECT vec_id AS cid, embedding AS cvec
          FROM embeddings WHERE $buildPred
          ORDER BY ${duckBase("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT 16),
        s0 AS (
          SELECT c.vec_id, s.cid,
                 row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY ${dot("c.embedding", "s.cvec")} / (c.cn * ${norm2("s.cvec")}) DESC,
                            s.cid DESC) AS rn
          FROM b c CROSS JOIN seeds s),
        a0 AS (SELECT vec_id, cid FROM s0 WHERE rn = 1),
        el AS (
          SELECT a0.cid, c.vec_id, i AS pos,
                 CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) AS v
          FROM a0 JOIN b c ON a0.vec_id = c.vec_id,
          LATERAL (SELECT unnest(generate_series(1, len(c.embedding)))) t(i)),
        cm AS (
          SELECT cid, pos,
                 CAST(SUM(CAST(round(v * 1099511627776.0) AS HUGEINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) / 1099511627776.0 AS m
          FROM el GROUP BY cid, pos),
        centroids AS (
          SELECT cid, list(m ORDER BY pos) AS cvec FROM cm GROUP BY cid),
        s1 AS (
          SELECT c.vec_id, ct.cid,
                 row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY ${dot("c.embedding", "ct.cvec")} / (c.cn * ${norm2("ct.cvec")}) DESC,
                            ct.cid DESC) AS rn
          FROM c CROSS JOIN centroids ct),
        cells AS (SELECT vec_id, cid FROM s1 WHERE rn = 1),
        pr AS (
          SELECT q.vec_id AS qid, ct.cid,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${dot("q.embedding", "ct.cvec")} / (q.cn * ${norm2("ct.cvec")}) DESC,
                            ct.cid ASC) AS rn
          FROM c q CROSS JOIN centroids ct WHERE q.vec_id < 10),
        probes AS (SELECT qid, cid FROM pr WHERE rn <= 4)"""
  }

  private lazy val ivfOracle: String = ivfFloatTail(ivfOracleCore)

  /** The compacted-index oracle: construction stages over the 80% build
    * subset (`vec_id % 5 < 4` — the split `ann_ivf_compacted` grows the
    * index with), cells over the full table. `ivfCompact` itself must be
    * invisible here — it rewrites files, never contents. */
  private lazy val ivfCompactedOracle: String =
    ivfFloatTail(ivfOracleCoreBuiltOver("vec_id % 5 < 4"))

  /** The float scoring tail over a core's probes/cells: exact cosine on
    * the probed cells, top-5 per query. */
  private def ivfFloatTail(core: String): String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)"
    s"""$core,
        scored AS (
          SELECT p.qid, ce.vec_id,
                 round(${dot("q.embedding", "ce.embedding")} / (q.cn * ce.cn), 9) AS cos
          FROM probes p
          JOIN cells m ON m.cid = p.cid
          JOIN c ce ON ce.vec_id = m.vec_id
          JOIN c q ON q.vec_id = p.qid)
        SELECT qid, vec_id, cos, rk FROM (
          SELECT qid, vec_id, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
          FROM scored) WHERE rk <= 5
        ORDER BY qid, rk"""
  }

  /** The quantized tail over the same core: candidates from the float
    * probes, ranked by int8 inner product (exact in double). */
  private lazy val ivfQuantizedOracle: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)"
    s"""$ivfOracleCore,
        qv AS (
          SELECT vec_id, s,
                 CASE WHEN s = 0
                      THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
                      ELSE list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS TINYINT))
                 END AS qq
          FROM (SELECT vec_id, embedding,
                       list_aggregate(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS s
                FROM embeddings)),
        scored AS (
          SELECT p.qid, m.vec_id,
                 round(${dot("cq.qq", "qq2.qq")} * qq2.s * cq.s, 9) AS qdot
          FROM probes p
          JOIN cells m ON m.cid = p.cid
          JOIN qv cq ON cq.vec_id = m.vec_id
          JOIN qv qq2 ON qq2.vec_id = p.qid)
        SELECT qid, vec_id, qdot, rk FROM (
          SELECT qid, vec_id, qdot,
                 row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, vec_id) AS rk
          FROM scored) WHERE rk <= 5
        ORDER BY qid, rk"""
  }

  /** The refined tail (round 15): the quantized ranking SHORT-LISTS the
    * top k·refineFactor (= [[annRefineK]]·[[annRefineFactor]], shared
    * with the Scala query) candidates per query, the float cosine
    * re-ranks exactly those — both stages replayed, so the refined
    * result hash-matches regardless of the quantized stage's recall. */
  private lazy val ivfQuantizedRefinedOracle: String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)"
    s"""$ivfOracleCore,
        qv AS (
          SELECT vec_id, s,
                 CASE WHEN s = 0
                      THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
                      ELSE list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS TINYINT))
                 END AS qq
          FROM (SELECT vec_id, embedding,
                       list_aggregate(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS s
                FROM embeddings)),
        qscored AS (
          SELECT p.qid, m.vec_id,
                 row_number() OVER (PARTITION BY p.qid
                   ORDER BY round(${dot("cq.qq", "qq2.qq")} * qq2.s * cq.s, 9) DESC,
                            m.vec_id ASC) AS qrk
          FROM probes p
          JOIN cells m ON m.cid = p.cid
          JOIN qv cq ON cq.vec_id = m.vec_id
          JOIN qv qq2 ON qq2.vec_id = p.qid),
        cand AS (SELECT qid, vec_id FROM qscored
                 WHERE qrk <= ${annRefineK * annRefineFactor}),
        refined AS (
          SELECT cand.qid, cand.vec_id,
                 round(${dot("q.embedding", "ce.embedding")} / (q.cn * ce.cn), 9) AS cos
          FROM cand
          JOIN c ce ON ce.vec_id = cand.vec_id
          JOIN c q ON q.vec_id = cand.qid)
        SELECT qid, vec_id, cos, rk FROM (
          SELECT qid, vec_id, cos,
                 row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
          FROM refined) WHERE rk <= $annRefineK
        ORDER BY qid, rk"""
  }

  /** Oracle shared by both incremental-dedup queries (text-level and
    * stored-signature — identical result contract: candidates where at
    * least one side is the new batch, doc_id ≥ 400). */
  private lazy val incrementalOracle: String =
    s"""WITH ${shingleCte(minhashW)},
        bases AS (SELECT DISTINCT doc_id, ${duckBase("shingle")} AS mhb FROM sh),
        sig AS (SELECT doc_id, $sigSelect FROM bases GROUP BY doc_id),
        bands AS (
          $bandArms),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CASE WHEN a.doc_id >= 400 AND b.doc_id >= 400 THEN 'new_new'
                      ELSE 'new_old' END AS pair_type
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           AND (a.doc_id >= 400 OR b.doc_id >= 400))
        SELECT id_a, id_b, pair_type FROM cand ORDER BY id_a, id_b"""

  /** DuckDB replica of [[graft.ops.Similarity.kmeans]]: the seed CTE plus
    * `iters` unrolled (assign → fixed-point mean) rounds, ending in a final
    * assignment. Same fold order, same tie-breaks, same 2⁴⁰ fixed-point
    * sums as the engine — the clustering hash-matches bit-for-bit. */
  private def kmeansOracle(k: Int, iters: Int): String = {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (acc, x) -> acc + x)"
    def d2(vec: String, n2: String, cvec: String): String =
      s"$n2 - 2.0 * ${dot(vec, cvec)} + ${dot(cvec, cvec)}"
    val rounds = (0 until iters).map { i =>
      s"""s$i AS (
            SELECT c.vec_id, ct.cid,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY ${d2("c.embedding", "c.n2", "ct.cvec")} ASC, ct.cid ASC) AS rn
            FROM c CROSS JOIN ct$i ct),
          a$i AS (SELECT vec_id, cid FROM s$i WHERE rn = 1),
          el$i AS (
            SELECT a$i.cid, c.vec_id, i AS pos,
                   CAST(c.embedding[CAST(i AS INT)] AS DOUBLE) AS v
            FROM a$i JOIN c ON a$i.vec_id = c.vec_id,
            LATERAL (SELECT unnest(generate_series(1, len(c.embedding)))) t(i)),
          cm$i AS (
            SELECT cid, pos,
                   CAST(SUM(CAST(round(v * 1099511627776.0) AS HUGEINT)) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) / 1099511627776.0 AS m
            FROM el$i GROUP BY cid, pos),
          ct${i + 1} AS (
            SELECT cid, list(m ORDER BY pos) AS cvec FROM cm$i GROUP BY cid)"""
    }.mkString(",\n        ")
    val roundsSql = if (iters == 0) "" else s",\n        $rounds"
    s"""WITH c AS (SELECT vec_id, embedding, ${dot("embedding", "embedding")} AS n2 FROM embeddings),
        ct0 AS (
          SELECT vec_id AS cid, embedding AS cvec
          FROM embeddings
          ORDER BY ${duckBase("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT $k)$roundsSql,
        fin AS (
          SELECT c.vec_id, ct.cid,
                 ${d2("c.embedding", "c.n2", "ct.cvec")} AS dist2,
                 row_number() OVER (PARTITION BY c.vec_id
                   ORDER BY ${d2("c.embedding", "c.n2", "ct.cvec")} ASC, ct.cid ASC) AS rn
          FROM c CROSS JOIN ct$iters ct)
        SELECT vec_id, cid AS cluster, round(dist2, 9) AS dist2
        FROM fin WHERE rn = 1 ORDER BY vec_id"""
  }

  /** DuckDB replica of TextAnalysis.langId: marker-ratio argmax with
    * greatest-struct tie semantics (score first, then lang desc), CJK share
    * shortcut, "und" when no marker hits. */
  private lazy val langIdOracle: String = {
    def ratio(markers: Seq[String]): String = {
      val lst = markers.map(m => s"'$m'").mkString("[", ",", "]")
      s"""CAST(len(list_filter(toks, x -> list_contains($lst, lower(x)))) AS DOUBLE)
         | / CAST(GREATEST(len(toks), 1) AS DOUBLE)""".stripMargin
    }
    val marks = TextAnalysis.langMarkers.toSeq.sortBy(_._1)
    val scoreCols = marks.map { case (lang, m) => s"(${ratio(m)}) AS s_$lang" }.mkString(", ")
    // greatest(struct(score, lang)): max score, ties → lexicographically
    // larger lang code. Languages sorted: de < en < es < fr.
    raw"""WITH tok AS (
       |  SELECT doc_id, text,
       |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |scored AS (SELECT doc_id, text, $scoreCols FROM tok)
       |SELECT doc_id,
       |  CASE WHEN len(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) * 3 > len(text) THEN 'zh'
       |       WHEN GREATEST(s_de, s_en, s_es, s_fr) > 0 THEN
       |         CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
       |              WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
       |              WHEN s_en >= s_de THEN 'en'
       |              ELSE 'de' END
       |       ELSE 'und' END AS lang_pred
       |FROM scored ORDER BY doc_id""".stripMargin
  }
}
