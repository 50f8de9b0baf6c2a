package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RefHash

/** Bit-exactness of the reference hash family (FunctionsHashing.h:42-116).
  *
  * The PAT/STR vectors were generated from the upstream C libraries — the
  * reference's vendored CityHash v1.0.2 (contrib/cityhash102) and xxhash
  * ≥0.8 (XXH32/XXH64/XXH3_64bits, seed 0, default secret) — over byte
  * patterns s[i] = (i·131+7) & 0xFF at every length-branch boundary of each
  * algorithm. wyhash (final 3) is checked against the test vectors published
  * in its repository (seed = vector index). xxh32/xxh64 are additionally
  * cross-checked against lz4-java's independent implementation on random
  * inputs.
  */
class RefHashSpec extends AnyFunSuite {

  private def pat(len: Int): Array[Byte] =
    Array.tabulate(len)(i => ((i * 131 + 7) & 0xFF).toByte)

  private def u(s: String): Long = java.lang.Long.parseUnsignedLong(s)

  // (len, cityHash64, xxh32, xxh64, xxh3_64) from the C generators.
  private val patVectors: Seq[(Int, String, Long, String, String)] = Seq(
    (0, "11160318154034397263", 46947589L, "17241709254077376921", "3244421341483603138"),
    (1, "16166381634050148869", 3018034L, "12208272383309036471", "5502495245947142431"),
    (2, "544436126825079523", 101119060L, "13991675174510312358", "3010103725172346478"),
    (3, "6364913932381277911", 2106779867L, "13750676314285879995", "7943829059066201772"),
    (4, "4079987124836061262", 4052348055L, "18023734343716549181", "6650799683851767871"),
    (5, "8561822100461092791", 1140895554L, "15220439174416852854", "5329424330036611939"),
    (7, "12624382319853285601", 2026293832L, "2829463491142079168", "5090693914820600895"),
    (8, "9813560363119002425", 3347752397L, "11046036222224798941", "18013639643258255605"),
    (9, "14102836851044737945", 221499904L, "6281260072103852792", "8944394699905593055"),
    (12, "10291024207141975896", 895209078L, "13343981583118399598", "1644623058608254533"),
    (15, "12021530103034572008", 1459970022L, "713333589676100381", "12917915490898912629"),
    (16, "2851911280713872884", 1680374928L, "10713219732412769493", "9704121104262105176"),
    (17, "16678443089554295987", 476315077L, "1469566490804707297", "13081819869213806705"),
    (24, "4861762401707747033", 1754072936L, "737184703260385464", "634487098728751616"),
    (31, "6019511970201634017", 716434289L, "7426951861026643343", "5207339628089618566"),
    (32, "2046368685727049628", 505151363L, "574130765770354213", "16388932025501132398"),
    (33, "12960740447276433099", 691338563L, "718428505286426271", "11880189719134216051"),
    (47, "13620054116622778705", 1744309262L, "8772340744301139312", "8580111231527302742"),
    (48, "15440471762093119139", 3446634584L, "2974590575189884622", "15623491413930286745"),
    (49, "12076899980821309365", 116806011L, "4895948824110502611", "4154339170559667441"),
    (63, "13980059873235826547", 4287618749L, "13243281707407029925", "3515624616226464315"),
    (64, "552118647788991626", 3758695833L, "5824303969334289198", "1338082372350062813"),
    (65, "2740400107408553708", 1864413365L, "15165616022809362172", "10936639315039379145"),
    (96, "16026244557830192263", 2825251864L, "1785944858434949953", "9307085733980681061"),
    (127, "2226941947724341995", 858663348L, "6111234178624517799", "17099312506880527797"),
    (128, "13793526629150434456", 3891339738L, "301992085808146263", "1211889905577015873"),
    (129, "2338030388222971948", 2528902413L, "2276297918984362234", "1605741916052902306"),
    (160, "9509511724092421942", 320983779L, "3835045155828024236", "7303868565341031498"),
    (192, "14627255527512080893", 604836294L, "3695531381113589148", "15777885634858671670"),
    (239, "3532593504204124451", 3076051788L, "794398281750172604", "17352743754860795597"),
    (240, "11187624125333675441", 1678671357L, "14558842148883094695", "13172940074023354854"),
    (241, "4158150712321250441", 2290660338L, "1152637890678185204", "10767172507156293534"),
    (255, "9696130796269765835", 3168245345L, "1560175139023764980", "7252492153302776105"),
    (256, "8186648053014713560", 3797807362L, "11735229524379588348", "12780746281945784236"),
    (384, "11238441232862010450", 3216686235L, "5294234374387218009", "5951200991512302815"),
    (512, "17227867188133895860", 3891124596L, "1623281359194814113", "11594931819786113239"),
    (768, "9664523291952503745", 3118836481L, "1172488836061272549", "14031083444195728496"),
    (1024, "5627404316794502107", 3548643270L, "6440339934864396215", "8123710315364152507"),
    (2048, "7792288475052514002", 1734499105L, "12671104034622313510", "10035931636063484464"))

  private val strVectors: Seq[(String, String, Long, String, String)] = Seq(
    ("", "11160318154034397263", 46947589L, "17241709254077376921", "3244421341483603138"),
    ("a", "2603192927274642682", 1426945110L, "15154266338359012955", "16629034431890738719"),
    ("abc", "4220206313085259313", 852579327L, "4952883123889572249", "8696274497037089104"),
    ("test", "17703940110308125106", 1042293711L, "5754696928334414137", "11441948532827618368"),
    ("message digest", "2490476439371436544", 2090108052L, "463544382707905470", "1589083006243345657"),
    ("abcdefghijklmnopqrstuvwxyz", "15358950491435023419", 1671515487L, "14979520437024293724", "9299823968296614156"),
    ("hello world", "12386028635079221413", 3468387874L, "5020219685658847592", "15296390279056496779"),
    ("The quick brown fox jumps over the lazy dog", "16697807905646383735", 3898516702L, "802816344064684476", "14879076941462221669"))

  test("cityHash64 matches CityHash v1.0.2 on all length branches") {
    for ((len, city, _, _, _) <- patVectors)
      assert(RefHash.cityHash64(pat(len)) === u(city), s"len=$len")
    for ((s, city, _, _, _) <- strVectors)
      assert(RefHash.cityHash64(s.getBytes("UTF-8")) === u(city), s"str=$s")
  }

  test("xxh32 matches XXH32(seed=0) on all length branches") {
    for ((len, _, x32, _, _) <- patVectors)
      assert((RefHash.xxh32(pat(len), 0) & 0xFFFFFFFFL) === x32, s"len=$len")
    for ((s, _, x32, _, _) <- strVectors)
      assert((RefHash.xxh32(s.getBytes("UTF-8"), 0) & 0xFFFFFFFFL) === x32, s"str=$s")
  }

  test("xxh64 matches XXH64(seed=0) on all length branches") {
    for ((len, _, _, x64, _) <- patVectors)
      assert(RefHash.xxh64(pat(len), 0L) === u(x64), s"len=$len")
    for ((s, _, _, x64, _) <- strVectors)
      assert(RefHash.xxh64(s.getBytes("UTF-8"), 0L) === u(x64), s"str=$s")
  }

  test("xxh3_64 matches XXH3_64bits on all length branches") {
    for ((len, _, _, _, x3) <- patVectors)
      assert(RefHash.xxh3_64(pat(len)) === u(x3), s"len=$len")
    for ((s, _, _, _, x3) <- strVectors)
      assert(RefHash.xxh3_64(s.getBytes("UTF-8")) === u(x3), s"str=$s")
  }

  test("wyHash64 matches the wyhash final-3 published vectors (seed = index)") {
    val vecs = Seq(
      ("", 0L, "42bc986dc5eec4d3"),
      ("a", 1L, "84508dc903c31551"),
      ("abc", 2L, "0bc54887cfc9ecb1"),
      ("message digest", 3L, "6e2ff3298208a67c"),
      ("abcdefghijklmnopqrstuvwxyz", 4L, "9a64e42e897195b9"),
      ("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789", 5L, "9199383239c32554"),
      ("12345678901234567890123456789012345678901234567890123456789012345678901234567890", 6L, "7c1ccf6bba30f5a5"))
    for ((s, seed, exp) <- vecs)
      assert(RefHash.wyHash64(s.getBytes("UTF-8"), seed) ===
        java.lang.Long.parseUnsignedLong(exp, 16), s"str=$s")
  }

  test("multi-argument combines match the reference's combineHashes") {
    // Vectors generated from the reference formulas (Hash128to64 via the
    // vendored CityHash v1.0.2; intHash32 per Common/HashTable/Hash.h with
    // the FunctionsHashing.h salt) over hashes of "test"/"abc"/"hello world".
    def b(s: String) = s.getBytes("UTF-8")
    val c1 = RefHash.cityHash64(b("test")); val c2 = RefHash.cityHash64(b("abc"))
    val c3 = RefHash.cityHash64(b("hello world"))
    assert(RefHash.combine64(c1, c2) === u("4139438780241656725"))
    assert(RefHash.combine64(RefHash.combine64(c1, c2), c3) === u("12132115318316117957"))
    assert(RefHash.combine64(RefHash.xxh64(b("test"), 0), RefHash.xxh64(b("abc"), 0)) ===
      u("566260159747981348"))
    assert(RefHash.combine64(RefHash.xxh3_64(b("test")), RefHash.xxh3_64(b("abc"))) ===
      u("4032979463894093984"))
    assert((RefHash.intHash32(0L) & 0xFFFFFFFFL) === 4249604106L)
    assert((RefHash.intHash32(12345L) & 0xFFFFFFFFL) === 3551676541L)
    assert(RefHash.intHash64(0L) === u("4761183170873013810"))
    assert(RefHash.intHash64(1L) === u("10577349846663553072"))
    assert(RefHash.intHash64(12345L) === u("16722121143744093920"))
    assert(RefHash.intHash64(u("16045690984503098046")) === u("13842648653615943194"))
    assert(RefHash.combineXxh32(
      RefHash.xxh32(b("test"), 0) & 0xFFFFFFFFL,
      RefHash.xxh32(b("abc"), 0) & 0xFFFFFFFFL) === 1256583994L)
    // wyhash combine == wyhash of the 16 LE bytes of (h1, h2); cross-check
    // against an explicitly packed buffer through the vector-verified kernel.
    val (h1, h2) = (0x0123456789ABCDEFL, 0xFEDCBA9876543210L)
    val packed = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(h1).putLong(h2).array()
    assert(RefHash.combineWy(h1, h2) === RefHash.wyHash64(packed, 0L))
  }

  test("multi-argument column expressions fold columns like the reference") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.functions.Hashes
    val r = Seq(("test", "abc")).toDF("a", "b")
      .select(
        Hashes.cityHash64($"a", $"b").as("c2"),
        Hashes.xxHash32Exact($"a", $"b").as("x32"),
        Hashes.xxHash64Exact($"a", $"b").as("x64"),
        Hashes.xxh3($"a", $"b").as("x3"),
        Hashes.wyHash64($"a", $"b").as("wy")).head()
    assert(r.getLong(0) === u("4139438780241656725"))
    assert(r.getLong(1) === 1256583994L)
    assert(r.getLong(2) === u("566260159747981348"))
    assert(r.getLong(3) === u("4032979463894093984"))
    def wb(s: String) = RefHash.wyHash64(s.getBytes("UTF-8"), 0L)
    assert(r.getLong(4) === RefHash.combineWy(wb("test"), wb("abc")))
  }

  test("codegen expressions: column path equals kernels, handles binary and null") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.functions.Hashes
    val df = Seq(Option("test"), Option("The quick brown fox jumps over the lazy dog"),
      Option(""), None).toDF("s")
      .withColumn("b", org.apache.spark.sql.functions.col("s")
        .cast(org.apache.spark.sql.types.BinaryType))
    val rows = df.select(
      Hashes.cityHash64($"s").as("c_s"), Hashes.cityHash64($"b").as("c_b"),
      Hashes.xxHash32Exact($"s").as("x32"), Hashes.xxHash64Exact($"s").as("x64"),
      Hashes.xxh3($"s").as("x3"), Hashes.wyHash64($"s").as("wy")).collect()
    def bytes(s: String) = s.getBytes("UTF-8")
    assert(rows(0).getLong(0) === RefHash.cityHash64(bytes("test")))
    assert(rows(0).getLong(1) === RefHash.cityHash64(bytes("test")))    // binary input
    assert(rows(0).getLong(2) === (RefHash.xxh32(bytes("test"), 0) & 0xFFFFFFFFL))
    assert(rows(0).getLong(3) === RefHash.xxh64(bytes("test"), 0L))
    assert(rows(0).getLong(4) === RefHash.xxh3_64(bytes("test")))
    assert(rows(0).getLong(5) === RefHash.wyHash64(bytes("test"), 0L))
    assert(rows(1).getLong(0) === RefHash.cityHash64(bytes("The quick brown fox jumps over the lazy dog")))
    assert(rows(2).getLong(0) === RefHash.cityHash64(Array.emptyByteArray))
    assert(rows(3).isNullAt(0) && rows(3).isNullAt(2) && rows(3).isNullAt(5))
  }

  test("SQL registration via GraftExtensions exposes the hash family") {
    val r = TestSpark.spark.sql(
      "SELECT city_hash64('test') AS c, xx_hash32('test') AS x32, " +
        "xx_hash64_raw('test') AS x64, xxh3_64('test') AS x3, wy_hash64('test') AS wy")
      .head()
    assert(r.getLong(0) === RefHash.cityHash64("test".getBytes("UTF-8")))
    assert(r.getLong(1) === (RefHash.xxh32("test".getBytes("UTF-8"), 0) & 0xFFFFFFFFL))
    assert(r.getLong(2) === RefHash.xxh64("test".getBytes("UTF-8"), 0L))
    assert(r.getLong(3) === RefHash.xxh3_64("test".getBytes("UTF-8")))
    assert(r.getLong(4) === RefHash.wyHash64("test".getBytes("UTF-8"), 0L))
  }

  test("xxh32/xxh64 agree with lz4-java's independent implementation on random inputs") {
    val f = net.jpountz.xxhash.XXHashFactory.safeInstance()
    val h32 = f.hash32(); val h64 = f.hash64()
    val rnd = new scala.util.Random(42)
    for (len <- Seq(0, 1, 3, 5, 13, 17, 40, 100, 1000, 4096); trial <- 0 until 3) {
      val b = Array.fill(len)(rnd.nextInt().toByte)
      assert(RefHash.xxh32(b, trial) === h32.hash(b, 0, len, trial), s"xxh32 len=$len seed=$trial")
      assert(RefHash.xxh64(b, trial.toLong) === h64.hash(b, 0, len, trial.toLong), s"xxh64 len=$len seed=$trial")
    }
  }
}
