package graft.sources

import graft.functions.RefHash

/** Per-file Bloom filters for the arrow-ipc stats manifest — the pruning
  * shape min/max intervals cannot serve: POINT LOOKUPS on high-cardinality
  * columns (document ids, content digests, join keys). After a hash
  * repartition every file's interval spans nearly the whole key domain, so
  * `digest = X` keeps every file at 100 TB even though exactly one holds
  * the row; a 10-bits-per-distinct Bloom filter skips ~99% of them. The
  * same idea as parquet's optional column bloom filters (and Iceberg's
  * `write.bloom-filter-enabled` properties), re-expressed for this
  * source's commit-time JSON manifest. The reference's only scan is the
  * plain parquet block reader (ParquetBlockInputStream.cpp:20-54) with no
  * file-skipping index of any kind — this is a beyond-reference scale
  * feature.
  *
  * Soundness discipline (same as the interval stats — "invalid ⇒ never
  * prune"):
  *  - a Bloom filter is emitted only when EVERY non-null value of the
  *    column in the file was recorded — a saturated builder (distinct
  *    count past [[ArrowBloom.MaxDistinct]]) emits nothing rather than
  *    risk a false negative;
  *  - doubles are refused entirely: `-0.0 == 0.0` numerically but their
  *    canonical strings differ, so a bit-pattern membership test could
  *    wrongly skip;
  *  - decimals canonicalize through `stripTrailingZeros` on BOTH sides,
  *    so a `9.50` literal probes the same bits a stored `9.5` set;
  *  - two values agreeing on both 64-bit hashes set identical bit
  *    positions (every probe derives from the pair), so builder dedup on
  *    the (h1,h2) pair is lossless BY CONSTRUCTION — not "negligibly
  *    unlikely to lose", structurally unable to;
  *  - false POSITIVES only cost a kept file (the readers' exact filter
  *    or Spark's post-scan filter keeps exact semantics — the advisory
  *    contract every pruning path here shares).
  */
private[graft] case class BloomStats(k: Int, bits: Array[Long]) {
  /** Bit count; always a power of two (masking, not modulo). */
  def m: Int = bits.length * 64
}

private[graft] object ArrowBloom {
  /** Sizing target: ~10 bits per distinct value, k=7 → ~0.8% fpp. */
  val BitsPerKey = 10
  /** Cap: 2^22 bits = 512 KiB raw (≈700 KiB base64) per column per file.
    * Past the cap fpp degrades gracefully (k re-derived from the real
    * ratio) — degraded fpp keeps more files, never skips wrong. */
  val MaxBits: Int = 1 << 22
  /** Builder saturation: past this many distinct values the bloom would
    * both blow the manifest budget and approach useless fpp — refuse
    * (exact-or-invalid), the interval stats still stand. */
  val MaxDistinct: Int = 1 << 20

  private final val Seed1 = 0x9747b28c9747b28cL
  private final val Seed2 = 0x3c6ef372fe94f82aL

  /** Canonical Bloom key for a column kind and a [[ArrowFileStats.norm]]ed
    * value. None = kind not bloom-eligible (doubles) — callers must treat
    * None as "cannot refute". NOTE this canonical is for EXACT EQUALITY
    * and differs from the interval canonical where scale is significant
    * (interval decimals keep the column scale so min==max detects
    * single-valued files; equality must not care how many zeros a literal
    * carries). */
  def keyOf(kind: String, normed: Any): Option[String] = kind match {
    case "long" => Some(normed.asInstanceOf[Long].toString)
    case "string" => Some(normed.asInstanceOf[String])
    case "binary" => Some(normed.asInstanceOf[String]) // canonical hex
    case "decimal" => Some(normed.asInstanceOf[java.math.BigDecimal]
      .stripTrailingZeros.toPlainString)
    case _ => None // double: -0.0/0.0 bit-pattern hazard
  }

  @inline def hashPair(key: String): (Long, Long) = {
    val b = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    (RefHash.xxh64(b, Seed1), RefHash.xxh64(b, Seed2))
  }

  /** Kirsch–Mitzenmacher double hashing: probe i at (h1 + i*h2) & (m-1),
    * h2 forced odd so every probe stream cycles the full power-of-two
    * space. */
  def mightContain(bf: BloomStats, key: String): Boolean = {
    val (h1, h2o) = hashPair(key)
    val h2 = h2o | 1L
    val mask = (bf.m - 1).toLong
    var i = 0
    while (i < bf.k) {
      val pos = ((h1 + i * h2) & mask).toInt
      if ((bf.bits(pos >>> 6) & (1L << (pos & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** One column's streaming builder: an open-addressed set of (h1,h2)
    * pairs (lossless dedup, see object doc), sized at result time from
    * the real distinct count. */
  final class Builder {
    private var cap = 1 << 10 // slots; power of two
    private var h1s = new Array[Long](cap)
    private var h2s = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var count = 0
    private var saturated = false

    def add(key: String): Unit = if (!saturated) {
      val (a, b) = hashPair(key)
      insert(a, b)
      if (count > MaxDistinct) saturated = true
    }

    private def insert(a: Long, b: Long): Unit = {
      var i = (java.lang.Long.rotateLeft(a, 17) ^ b).toInt & (cap - 1)
      while (used(i)) {
        if (h1s(i) == a && h2s(i) == b) return
        i = (i + 1) & (cap - 1)
      }
      used(i) = true; h1s(i) = a; h2s(i) = b; count += 1
      if (count * 4 > cap * 3) grow()
    }

    private def grow(): Unit = {
      val (oh1, oh2, ou, ocap) = (h1s, h2s, used, cap)
      cap = cap << 1
      h1s = new Array[Long](cap); h2s = new Array[Long](cap)
      used = new Array[Boolean](cap)
      count = 0
      var i = 0
      while (i < ocap) {
        if (ou(i)) insert(oh1(i), oh2(i))
        i += 1
      }
    }

    def distinct: Int = count

    /** None when saturated (refuse rather than false-negative) or empty
      * (an all-null column needs no bloom — null counts already rule). */
    def result(): Option[BloomStats] =
      if (saturated || count == 0) None
      else {
        val want = math.max(64L, count.toLong * BitsPerKey)
        var m = 64
        while (m < want && m < MaxBits) m <<= 1
        // k is a function of the SIZING TARGET, not the exact count —
        // files in the same power-of-two bucket then share (m, k) and the
        // commit envelope can merge them; only a capped filter (m hit
        // MaxBits) re-derives k from the real, degraded ratio
        val k =
          if (m >= MaxBits && m < want)
            math.max(1, math.round(m.toDouble / count * math.log(2)).toInt)
          else math.max(1, math.round(BitsPerKey * math.log(2)).toInt) // 7
        val bits = new Array[Long](m >>> 6)
        val mask = (m - 1).toLong
        var i = 0
        while (i < cap) {
          if (used(i)) {
            val h2 = h2s(i) | 1L
            var j = 0
            while (j < k) {
              val pos = ((h1s(i) + j * h2) & mask).toInt
              bits(pos >>> 6) |= (1L << (pos & 63))
              j += 1
            }
          }
          i += 1
        }
        Some(BloomStats(k, bits))
      }
  }

  /** Commit-envelope merge: a valid union needs identical geometry (m, k)
    * across every contributing bloom AND a bloom present wherever the
    * column had non-null rows — anything else drops the envelope bloom
    * (per-file blooms still stand; only the commit-level point skip is
    * lost). Per-file sizing tracks distinct counts, so this mostly fires
    * for uniformly-sized commits — which is exactly the streaming-ingest
    * shape that has many shards to skip. */
  def merge(blooms: Seq[BloomStats]): Option[BloomStats] =
    blooms.headOption.flatMap { h =>
      if (blooms.exists(b => b.k != h.k || b.bits.length != h.bits.length)) None
      else {
        val out = new Array[Long](h.bits.length)
        blooms.foreach { b =>
          var i = 0
          while (i < out.length) { out(i) |= b.bits(i); i += 1 }
        }
        Some(BloomStats(h.k, out))
      }
    }

  // ── manifest serialization (little-endian longs, base64) ──────────────

  def toB64(bf: BloomStats): String = {
    val bb = java.nio.ByteBuffer.allocate(bf.bits.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bf.bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** None on any malformed payload — a corrupt bloom degrades to "cannot
    * refute", the manifest-wide advisory rule. */
  def fromB64(k: Int, s: String): Option[BloomStats] =
    try {
      val bytes = java.util.Base64.getDecoder.decode(s)
      if (bytes.length == 0 || bytes.length % 8 != 0 || k < 1 || k > 64) None
      else {
        val n = bytes.length / 8
        // power-of-two bit count only (the probe mask depends on it)
        if ((n & (n - 1)) != 0) None
        else {
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          Some(BloomStats(k, Array.fill(n)(bb.getLong)))
        }
      }
    } catch { case _: IllegalArgumentException => None }
}
