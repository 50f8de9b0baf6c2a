package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ArrowInterchange

/** Arrow IPC interchange: exact write→read roundtrips across the whole
  * supported type surface (incl. µs timestamps and nulls), schema
  * derivation from the stream, batch chunking, empty frames, and the
  * loud-failure contract for unsupported types. The full-table roundtrip
  * is oracle-checked as `arrow_roundtrip`. */
class ArrowInterchangeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/out"

  private val fullSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType),
    StructField("b", BooleanType),
    StructField("f", FloatType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("bin", BinaryType),
    StructField("ts", TimestampType),
    StructField("dt", DateType)))

  private def fullRows = Seq(
    Row(1L, 42, true, 1.5f, math.Pi, "héllo — ünïcode",
      Array[Byte](0, 1, -1, 127), Timestamp.valueOf("2024-03-01 12:34:56.123456"),
      Date.valueOf("2024-03-01")),
    Row(2L, null, null, null, null, null, null, null, null),
    Row(3L, -7, false, -0.25f, -1e300, "", Array.empty[Byte],
      new Timestamp(-1000L), Date.valueOf("1969-12-31")))

  test("roundtrip preserves every supported type exactly, including nulls") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(fullRows, 2), fullSchema)
    val dir = tmp("graft_arrow_full")
    ArrowInterchange.writeStream(df, dir)
    val back = spark.read.format("arrow-ipc").load(dir)
    // Arrow fields carry nullability, so even non-null flags round-trip
    assert(back.schema === fullSchema)
    val (a, b) = (df.orderBy("id").collect(), back.orderBy("id").collect())
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      (0 until x.length).foreach { c =>
        (x.get(c), y.get(c)) match {
          case (p: Array[Byte], q: Array[Byte]) => assert(p.sameElements(q), s"col $c")
          case (p, q) => assert(p === q, s"col $c")
        }
      }
    }
  }

  test("µs timestamp precision survives (not truncated to ms)") {
    val ts = Timestamp.valueOf("2024-01-02 03:04:05.000007") // 7 µs past the ms
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, ts)), 1),
      StructType(Seq(StructField("id", LongType), StructField("ts", TimestampType))))
    val dir = tmp("graft_arrow_us")
    ArrowInterchange.writeStream(df, dir)
    val got = spark.read.format("arrow-ipc").load(dir)
      .select(unix_micros(col("ts"))).as[Long].head()
    assert(got === df.select(unix_micros(col("ts"))).as[Long].head())
    assert(got % 1000 === 7) // the sub-ms digits are really there
  }

  /** Record batches in one IPC stream file. */
  private def batchesIn(file: java.io.File): Int = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(new java.io.FileInputStream(file), alloc)
    try {
      var k = 0
      while (reader.loadNextBatch()) k += 1
      k
    } finally { reader.close(); alloc.close() }
  }

  test("batch chunking: 12k rows in 2 partitions span several record batches") {
    val n = 12000L
    val df = spark.range(n).select(col("id"), concat(lit("v"), col("id")).as("v"))
    val dir = tmp("graft_arrow_chunk")
    ArrowInterchange.writeStream(df.repartition(2), dir)
    val back = spark.read.format("arrow-ipc").load(dir)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq === (0L until n).map(i => (i, s"v$i")))
    // ~6000 rows per file against the writer's 4096-row batches: the
    // rows really crossed a batch boundary, not one batch per file
    val files = new java.io.File(dir).listFiles
      .filter(f => f.getName.startsWith("part-")).toSeq
    assert(files.size === 2)
    assert(files.map(batchesIn).max >= 2, files.map(f => f.getName -> batchesIn(f)))
  }

  test("empty frame roundtrips via the schema sentinel") {
    val df = spark.range(0).select(col("id"), lit("x").as("s")).filter(lit(false))
    val dir = tmp("graft_arrow_empty")
    ArrowInterchange.writeStream(df, dir)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 0)
    assert(back.schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("schema derives from data files when no sentinel exists (external writer)") {
    val df = spark.range(5).select(col("id"), (col("id") * 2).as("twice"))
    val dir = tmp("graft_arrow_ext")
    ArrowInterchange.writeStream(df.coalesce(1), dir)
    // simulate a foreign-written directory: delete our sentinel
    val p = new org.apache.hadoop.fs.Path(dir, "_schema.arrows")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.schema.fieldNames.toSeq === Seq("id", "twice"))
    assert(back.as[(Long, Long)].collect().sortBy(_._1).toSeq ===
      (0L until 5L).map(i => (i, i * 2)))
  }

  test("array<scalar> columns roundtrip, including null / empty lists and null elements") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = true)),
      StructField("tags", ArrayType(StringType, containsNull = false))))
    val rows = Seq(
      Row(1L, Seq(1.5f, -2.25f, 0f), Seq("a", "b")),
      Row(2L, null, Seq.empty[String]),              // null list + empty list
      Row(3L, Seq(null, 7.75f), Seq("céç")),         // null ELEMENT survives
      Row(4L, Seq.empty[Float], Seq("x")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp("graft_arrow_list")
    ArrowInterchange.writeStream(df, dir)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.schema === schema)
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getSeq[Any](1),
        r.getSeq[String](2))).toSeq
    assert(got === Seq(
      (1L, Seq(1.5f, -2.25f, 0f), Seq("a", "b")),
      (2L, null, Seq.empty[String]),
      (3L, Seq(null, 7.75f), Seq("céç")),
      (4L, Seq.empty[Float], Seq("x"))))
  }

  test("tinyint/smallint columns and arrays roundtrip (the quantized-embedding store shape)") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("b", ByteType),
      StructField("s", ShortType),
      StructField("qv", ArrayType(ByteType, containsNull = false))))
    val rows = Seq(
      Row(1L, 127.toByte, 32767.toShort, Seq(127.toByte, (-127).toByte, 0.toByte)),
      Row(2L, null, null, Seq((-1).toByte)),
      Row(3L, (-128).toByte, (-32768).toShort, Seq.empty[Byte]))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp("graft_arrow_int8")
    ArrowInterchange.writeStream(df, dir)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.schema === schema)
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getByte(1),
        if (r.isNullAt(2)) null else r.getShort(2),
        r.getSeq[Byte](3))).toSeq
    assert(got === Seq(
      (1L, 127.toByte, 32767.toShort, Seq(127.toByte, (-127).toByte, 0.toByte)),
      (2L, null, null, Seq((-1).toByte)),
      (3L, (-128).toByte, (-32768).toShort, Seq.empty[Byte])))
    // the DSv2 read path serves them too, and tinyint stats prune
    val v2 = spark.read.format("arrow-ipc").load(dir)
    assert(v2.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(v2.filter(col("b") === 127.toByte).count() === 1L)
  }

  test("lz4 and zstd compressed streams roundtrip exactly and actually shrink") {
    // highly repetitive payload so compression has something to do
    val df = spark.range(2000).select(col("id"),
      concat(lit("the quick brown fox jumps over the lazy dog "), col("id")).as("s"))
    def dirSize(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getLen).sum
    }
    val plain = tmp("graft_arrow_plain")
    ArrowInterchange.writeStream(df.coalesce(1), plain)
    val expected = df.as[(Long, String)].collect().sortBy(_._1).toSeq
    for (codec <- Seq("lz4", "zstd")) {
      val dir = tmp(s"graft_arrow_$codec")
      ArrowInterchange.writeStream(df.coalesce(1), dir, codec = Some(codec))
      val back = spark.read.format("arrow-ipc").load(dir)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(back === expected, s"codec=$codec")
      assert(dirSize(dir) < dirSize(plain), s"$codec produced no size win")
    }
    intercept[IllegalArgumentException] {
      ArrowInterchange.writeStream(df, tmp("graft_arrow_badcodec"), codec = Some("snappy"))
    }
  }

  test("a partial write (sentinel without _SUCCESS) is refused, not silently read") {
    val df = spark.range(5).toDF("id")
    val dir = tmp("graft_arrow_partial")
    ArrowInterchange.writeStream(df, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a job that died mid-write: schema sentinel present, no marker
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    val e = intercept[IllegalArgumentException] {
      spark.read.format("arrow-ipc").load(dir).collect()
    }
    assert(e.getMessage.contains("_SUCCESS"))
  }

  test("readStream reads a hive table with partition values spliced in") {
    val dir = tmp("graft_arrow_rs_hive")
    spark.range(400).select(col("id"), (col("id") % 4).as("p"))
      .write.format("arrow-ipc").option("hivePartitionKeys", "p")
      .mode("overwrite").save(dir)
    val back = ArrowInterchange.readStream(spark, dir, Seq("id", "p"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(back === (0L until 400L).map(i => (i, i % 4)))
    // a projection that leaves the partition key out reads every row too
    assert(ArrowInterchange.readStream(spark, dir, Seq("id"))
      .as[Long].collect().sorted.toSeq === (0L until 400L))
  }

  test("readStream masks rows deleted by live deletion vectors") {
    val dir = tmp("graft_arrow_rs_dv")
    spark.range(400).toDF("id").coalesce(2)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    graft.sources.ArrowDeleteVectors.deleteMor(spark, dir, "id < 10")
    val ids = ArrowInterchange.readStream(spark, dir, Seq("id"))
      .as[Long].collect().sorted.toSeq
    assert(ids === (10L until 400L))
  }

  test("readStream serves upserted rows over live equality tombstones") {
    val dir = tmp("graft_arrow_rs_eq")
    spark.range(400).select(col("id"), lit("a").as("v")).coalesce(2)
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    // replaces ids 0..9 in place: 400 live rows, 10 of them masked copies
    graft.sources.ArrowEqualityDeletes.upsertBatch(spark, dir, "id",
      spark.range(10).select(col("id"), lit("b").as("v")))
    val back = ArrowInterchange.readStream(spark, dir, Seq("id", "v"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(back === (0L until 400L).map(i => (i, if (i < 10) "b" else "a")))
    // a projection that leaves the equality key out is masked too
    assert(ArrowInterchange.readStream(spark, dir, Seq("v"))
      .filter(col("v") === "b").count() === 10L)
  }

  test("unsupported column type fails loudly at write time") {
    // maps became supported in round 9 — CalendarInterval remains outside
    // the surface (no Arrow µs-exact analog for its month component)
    val df = spark.range(3)
      .select(make_ym_interval(lit(1), lit(2)).as("ym"))
    val e = intercept[IllegalArgumentException] {
      ArrowInterchange.writeStream(df, tmp("graft_arrow_bad"))
    }
    assert(e.getMessage.contains("unsupported type"))
    assert(e.getMessage.contains("'ym'"))
  }

  test("column-pruned read decodes only the requested columns, in requested order") {
    val df = spark.range(6).select(col("id"),
      concat(lit("s"), col("id")).as("s"),
      array(col("id").cast("float"), lit(0f)).as("vec"))
    val dir = tmp("graft_arrow_prune")
    ArrowInterchange.writeStream(df.repartition(2), dir)
    val back = ArrowInterchange.readStream(spark, dir, Seq("vec", "id"))
    assert(back.schema.fieldNames.toSeq === Seq("vec", "id"))
    val got = back.orderBy("id").as[(Seq[Float], Long)].collect().toSeq
    assert(got === (0L until 6L).map(i => (Seq(i.toFloat, 0f), i)))
    val e = intercept[IllegalArgumentException] {
      ArrowInterchange.readStream(spark, dir, Seq("nope"))
    }
    assert(e.getMessage.contains("'nope'"))
  }

  test("pruned read skips an unsupported-typed column a full read trips on") {
    // foreign-written file with a uint8 column — outside the interchange's
    // type surface. The projection that avoids it must still read.
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{UInt1Vector, BigIntVector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import scala.jdk.CollectionConverters._
    val dir = tmp("graft_arrow_foreign_u8")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    val schema = new Schema(Seq(
      new Field("id", FieldType.nullable(new ArrowType.Int(64, true)), null),
      new Field("weird", FieldType.nullable(new ArrowType.Int(8, false)), null)).asJava)
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(schema, alloc)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "part-00000.arrows"), true)
    val w = new ArrowStreamWriter(root, null, java.nio.channels.Channels.newChannel(out))
    w.start()
    root.allocateNew()
    val idv = root.getVector(0).asInstanceOf[BigIntVector]
    val uv = root.getVector(1).asInstanceOf[UInt1Vector]
    (0 until 4).foreach { i => idv.setSafe(i, i.toLong * 10); uv.setSafe(i, i) }
    root.setRowCount(4)
    w.writeBatch(); w.end(); w.close(); root.close(); alloc.close()
    val full = intercept[IllegalArgumentException] {
      spark.read.format("arrow-ipc").load(dir).count()
    }
    assert(full.getMessage.contains("unsupported Arrow type"))
    val pruned = ArrowInterchange.readStream(spark, dir, Seq("id"))
    assert(pruned.as[Long].collect().sorted.toSeq === Seq(0L, 10L, 20L, 30L))
  }

  test("a heterogeneous data file fails with its path, never mislabels columns") {
    val dirA = tmp("graft_arrow_het_a")
    val dirB = tmp("graft_arrow_het_b")
    ArrowInterchange.writeStream(
      spark.range(3).select(col("id"), concat(lit("a"), col("id")).as("a")).coalesce(1), dirA)
    ArrowInterchange.writeStream(
      spark.range(3).select(col("id"), concat(lit("b"), col("id")).as("b")).coalesce(1), dirB)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dirA).getFileSystem(conf)
    // drop B's data file (same types, different column name) next to A's
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(dirB, "part-00000.arrows"),
      fs, new org.apache.hadoop.fs.Path(dirA, "part-00001.arrows"), false, conf)
    // the foreign file fails on its first unresolvable expected column,
    // whether the read counts (decoding no column) or collects
    val reads: Seq[() => Any] = Seq(
      () => spark.read.format("arrow-ipc").load(dirA).count(),
      () => spark.read.format("arrow-ipc").load(dirA).collect(),
      () => ArrowInterchange.readStream(spark, dirA, Seq("id", "a")).count())
    reads.foreach { read =>
      val e = intercept[org.apache.spark.SparkException](read())
      val msg = e.getCause.getMessage
      assert(msg.contains("part-00001.arrows") && msg.contains("has no column"))
    }
  }

  test("columns resolve by name: a reordered data file reads correctly") {
    val dirA = tmp("graft_arrow_reord_a")
    val dirB = tmp("graft_arrow_reord_b")
    val df = spark.range(3).select(col("id"), concat(lit("v"), col("id")).as("v"))
    ArrowInterchange.writeStream(df.coalesce(1), dirA)
    ArrowInterchange.writeStream(df.select("v", "id").coalesce(1), dirB)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dirA).getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(dirA, "part-00000.arrows"), false)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(dirB, "part-00000.arrows"),
      fs, new org.apache.hadoop.fs.Path(dirA, "part-00000.arrows"), false, conf)
    // sentinel says (id, v); the data file is (v, id) — values must land
    // under the right names, not the file's positions
    val back = spark.read.format("arrow-ipc").load(dirA)
    assert(back.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(back.as[(Long, String)].collect().sortBy(_._1).toSeq ===
      (0L until 3L).map(i => (i, s"v$i")))
  }

  test("decimal(12,2) roundtrips exactly through Arrow Decimal128") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("price", DecimalType(12, 2))))
    val rows = Seq(
      Row(1L, new java.math.BigDecimal("1234567890.12")),
      Row(2L, new java.math.BigDecimal("-0.01")),
      Row(3L, null),
      Row(4L, new java.math.BigDecimal("7.00")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp("graft_arrow_dec")
    ArrowInterchange.writeStream(df, dir)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.schema("price").dataType === DecimalType(12, 2))
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).orNull)).toSeq
    assert(got === Seq((1L, "1234567890.12"), (2L, "-0.01"), (3L, null), (4L, "7.00")))
  }

  test("fixed-size binary roundtrips via field metadata, wrong width fails") {
    val meta = new MetadataBuilder()
      .putLong(ArrowInterchange.FixedSizeKey, 4L).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("h", BinaryType, nullable = true, meta)))
    val rows = Seq(Row(1L, Array[Byte](1, 2, 3, 4)), Row(2L, null),
      Row(3L, Array[Byte](-1, 0, 0, 9)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val dir = tmp("graft_arrow_fsb")
    ArrowInterchange.writeStream(df, dir)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.schema("h").metadata.getLong(ArrowInterchange.FixedSizeKey) === 4L)
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getAs[Array[Byte]](1)).map(_.toSeq).orNull)).toSeq
    assert(got === Seq((1L, Seq[Byte](1, 2, 3, 4)), (2L, null), (3L, Seq[Byte](-1, 0, 0, 9))))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, Array[Byte](1, 2))), 1), schema)
    val e = intercept[org.apache.spark.SparkException] {
      ArrowInterchange.writeStream(bad, tmp("graft_arrow_fsb_bad"))
    }
    assert(e.getCause.getMessage.contains("expects 4 bytes"))
  }

  test("struct columns roundtrip exactly through BOTH write paths, nulls included") {
    // multimodal row shape: payload + caption + features in one column,
    // with a NESTED struct and null-at-every-level coverage
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("media", StructType(Seq(
        StructField("payload", BinaryType),
        StructField("caption", StringType),
        StructField("features", ArrayType(FloatType)),
        StructField("meta", StructType(Seq(
          StructField("w", IntegerType),
          StructField("h", IntegerType)))))))))
    val rows = Seq(
      Row(1L, Row(Array[Byte](1, 2, 3), "a cat", Seq(0.5f, -1.0f), Row(640, 480))),
      Row(2L, Row(null, null, null, null)),          // null FIELDS
      Row(3L, null),                                 // null STRUCT
      Row(4L, Row(Array.empty[Byte], "", Seq.empty[Float], Row(null, 7))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    // function-style writer → DSv2 scan
    val d1 = tmp("graft_struct_fn")
    ArrowInterchange.writeStream(df, d1)
    val b1 = spark.read.format("arrow-ipc").load(d1).orderBy("id").collect()
    assert(b1.map(r => (r.getLong(0), r.get(1))).toSeq ===
      rows.map(r => (r.getLong(0), r.get(1))))

    // DSv2 writer → DSv2 scan (internal-row path on both sides)
    val d2 = tmp("graft_struct_dsv2")
    df.write.format("arrow-ipc").mode("overwrite").save(d2)
    val back = spark.read.format("arrow-ipc").load(d2)
    assert(back.schema === schema)
    val b2 = back.orderBy("id").collect()
    assert(b2.map(r => (r.getLong(0), r.get(1))).toSeq ===
      rows.map(r => (r.getLong(0), r.get(1))))
    // field access composes with the scan (columnar read path)
    assert(back.select(col("media.meta.w")).as[java.lang.Integer]
      .collect().toSet === Set[java.lang.Integer](640, null, null, null))

    // and the streaming SOURCE carries struct rows too
    val q = spark.readStream.format("arrow-ipc").load(d2)
      .select(col("id"), col("media.caption").as("cap"))
      .writeStream.format("memory").queryName("graft_struct_stream").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("graft_struct_stream").count() === 4)
  }

  test("map columns roundtrip exactly through BOTH write paths, nulls included") {
    // tag/attribute shape: string→long counters, plus a map with struct
    // values (feature name → (score, rank)) to prove nesting composes
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", MapType(StringType, LongType)),
      StructField("scores", MapType(StringType, StructType(Seq(
        StructField("score", DoubleType),
        StructField("rank", IntegerType)))))))
    val rows = Seq(
      Row(1L, Map("en" -> 3L, "fr" -> 1L), Map("q" -> Row(0.5, 1))),
      Row(2L, Map.empty[String, Long], Map("a" -> Row(1.0, 2), "b" -> null)),
      Row(3L, null, null),                               // null MAPS
      Row(4L, Map("only" -> 0L), Map.empty[String, Row]))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    // function-style writer → DSv2 scan
    val d1 = tmp("graft_map_fn")
    ArrowInterchange.writeStream(df, d1)
    val b1 = spark.read.format("arrow-ipc").load(d1).orderBy("id").collect()
    assert(b1.map(r => (r.getLong(0), r.get(1), r.get(2))).toSeq ===
      rows.map(r => (r.getLong(0), r.get(1), r.get(2))))

    // DSv2 writer → DSv2 scan (internal-row path on both sides)
    val d2 = tmp("graft_map_dsv2")
    df.write.format("arrow-ipc").mode("overwrite").save(d2)
    val back = spark.read.format("arrow-ipc").load(d2)
    assert(back.schema === schema)
    val b2 = back.orderBy("id").collect()
    assert(b2.map(r => (r.getLong(0), r.get(1), r.get(2))).toSeq ===
      rows.map(r => (r.getLong(0), r.get(1), r.get(2))))
    // map functions compose with the scan (columnar read path wraps
    // MapVector through Spark's own ArrowColumnVector)
    assert(back.select(element_at(col("tags"), "en")).as[java.lang.Long]
      .collect().toSet === Set[java.lang.Long](3L, null, null, null))
    assert(back.select(map_keys(col("scores"))).where(col("id") === 2)
      .collect().head.getSeq[String](0).sorted === Seq("a", "b"))

    // and the streaming SOURCE carries map rows too
    val q = spark.readStream.format("arrow-ipc").load(d2)
      .select(col("id"), map_keys(col("tags")).as("ks"))
      .writeStream.format("memory").queryName("graft_map_stream").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("graft_map_stream").count() === 4)

    // a map column can never prune or key a layout (stats kind 0)
    val fs = new org.apache.hadoop.fs.Path(d2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = graft.sources.ArrowFileStats.read(fs, new org.apache.hadoop.fs.Path(d2))
    assert(stats.nonEmpty && stats.values.forall(!_.cols.contains("tags")))
  }

  test("a struct column can never prune, key, or push an aggregate") {
    val df = spark.range(0, 10).select(col("id"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"))
    val dir = tmp("graft_struct_nostats")
    df.write.format("arrow-ipc").mode("overwrite").save(dir)
    // stats manifest: kind 0 → the struct column is absent from stats
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = graft.sources.ArrowFileStats.read(fs, new org.apache.hadoop.fs.Path(dir))
    assert(stats.nonEmpty && stats.values.forall(!_.cols.contains("st")))
    // min/max over the struct refuses the manifest-only push (full scan)
    val agg = spark.read.format("arrow-ipc").load(dir).agg(min(col("st")))
    assert(!agg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(agg.collect().head.getStruct(0).getLong(0) === 0L)
    // a struct partition key is rejected loudly at write time
    val e = intercept[Exception] {
      df.write.format("arrow-ipc").option("partitionKeys", "st")
        .mode("overwrite").save(tmp("graft_struct_badkey"))
    }
    assert(e.getMessage.contains("stats-bearing") ||
      Option(e.getCause).exists(_.getMessage.contains("stats-bearing")))
  }

  /** Values made comparable: byte arrays by content, rows and maps
    * recursively. */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) -> canon(x) }.toMap
    case xs: scala.collection.Seq[_] => xs.map(canon)
    case x => x
  }

  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[Any] =
    df.orderBy("id").collect().toSeq.map(canon)

  test("java8 datetime API: writeStream/readStream, compact and eq-upsert keep timestamp, timestamp_ntz and date columns") {
    import graft.sources.{ArrowEqualityDeletes, ArrowMaintenance}
    val key = "spark.sql.datetime.java8API.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      // built AFTER the conf is set: its external rows carry Instant,
      // LocalDateTime and LocalDate
      val df = spark.range(8).select(col("id"),
        when(col("id") =!= 3,
          expr("timestamp_micros(1709296496123456 + id * 86400000007)")).as("ts"),
        when(col("id") =!= 4,
          expr("make_timestamp_ntz(2024, 3, 1, 12, 34, 56.123456) + make_dt_interval(cast(id as int))")).as("ntz"),
        when(col("id") =!= 5, expr("date_add(date'1969-12-25', cast(id as int))")).as("dt"),
        concat(lit("v"), col("id")).as("v"))
      val want = df.orderBy("id").collect().toSeq
      assert(want.head.get(1).isInstanceOf[java.time.Instant])

      // function-style round trip is exact
      val dir = tmp("graft_arrow_java8")
      ArrowInterchange.writeStream(df.repartition(2), dir)
      val back = ArrowInterchange.readStream(spark, dir, df.columns.toSeq)
      assert(back.schema === df.schema)
      assert(back.orderBy("id").collect().toSeq === want)

      // a table of four small appends compacts to the same rows
      val table = tmp("graft_arrow_java8_table")
      (0 until 4).foreach { i =>
        df.filter(col("id") >= i * 2 && col("id") < i * 2 + 2).coalesce(1)
          .write.format("arrow-ipc").mode("append").save(table)
      }
      val res = ArrowMaintenance.compact(spark, table)
      assert(res.exists(r => r.oldFiles === 4 && r.newFiles === 1), res)
      def read() = spark.read.format("arrow-ipc").load(table).orderBy("id")
      assert(read().collect().toSeq === want)

      // an equality upsert replaces ids 1 and 2 and inserts id 100
      val batch = df.filter(col("id").isin(1, 2))
        .withColumn("v", concat(lit("u"), col("id")))
        .unionByName(df.filter(col("id") === 0).withColumn("id", lit(100L)))
      val upsert = ArrowEqualityDeletes.upsertBatch(spark, table, "id", batch)
      assert(upsert.applied)
      val expected = (want.filterNot(r => Set(1L, 2L).contains(r.getLong(0))) ++
        batch.collect().toSeq).sortBy(_.getLong(0))
      assert(read().collect().toSeq === expected)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("interchange value identity: writeStream and the DSv2 save agree on values and stats") {
    import graft.sources.ArrowFileStats
    val fsb = new MetadataBuilder().putLong(ArrowInterchange.FixedSizeKey, 4L).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("t", ByteType),
      StructField("sm", ShortType),
      StructField("dec", DecimalType(12, 2)),
      StructField("fsb", BinaryType, nullable = true, fsb),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("m", MapType(StringType, LongType)),
      StructField("arr", ArrayType(DoubleType)),
      StructField("tags", ArrayType(StringType, containsNull = false)),
      StructField("dur", DayTimeIntervalType()),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("dt", DateType)))
    val rows = Seq(
      Row(1L, 127.toByte, (-32768).toShort, new java.math.BigDecimal("1234567890.12"),
        Array[Byte](1, 2, 3, 4), Row(7, "héllo"),
        Map("a" -> 1L, "b" -> 2L, "c" -> 3L, "d" -> 4L, "e" -> 5L),
        Seq(1.5, -0.0, Double.MaxValue), Seq("x", "y"),
        java.time.Duration.ofSeconds(-3, 7000), Timestamp.valueOf("2024-03-01 12:34:56.123456"),
        java.time.LocalDateTime.of(2024, 3, 1, 12, 34, 56, 123456000),
        Date.valueOf("2024-03-01")),
      Row(2L, null, null, null, null, null, null, null, Seq.empty[String],
        null, null, null, null),
      Row(3L, (-128).toByte, 32767.toShort, new java.math.BigDecimal("-0.01"),
        Array[Byte](-1, 0, -1, 0), Row(null, null), Map.empty[String, Long],
        Seq(null, 2.0), Seq("z"), java.time.Duration.ZERO,
        new Timestamp(-1000L), java.time.LocalDateTime.of(1969, 12, 31, 23, 59, 59),
        Date.valueOf("1969-12-31")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val want = canonRows(df)

    val viaFn = tmp("graft_identity_fn")
    ArrowInterchange.writeStream(df, viaFn)
    val viaDs = tmp("graft_identity_ds")
    df.write.format("arrow-ipc").mode("overwrite").save(viaDs)
    for (d <- Seq(viaFn, viaDs)) {
      // the scan's row reader and its columnar reader agree
      assert(ArrowRowPath.rows(ArrowRowPath.read(spark, d).orderBy("id"))
        .map(canon) === want, d)
      val ds = spark.read.format("arrow-ipc").load(d)
      assert(ds.schema === schema, d)
      assert(canonRows(ds) === want, d)
    }

    // one file each; their manifest entries agree column by column
    def statsOf(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      val all = ArrowFileStats.read(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      assert(all.size === 1, all.keys)
      all.values.head
    }
    val (a, b) = (statsOf(viaFn), statsOf(viaDs))
    assert(a.rows === 3L && b.rows === 3L)
    assert(a.cols.keySet === b.cols.keySet)
    a.cols.foreach { case (c, st) => assert(b.cols(c) === st, c) }

    // file names per layout: a plain save keeps one un-numbered file per
    // task; key-grouped, hive and size-rolled saves number theirs
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def names(d: String): Seq[String] = {
      val root = new java.io.File(d)
      def walk(f: java.io.File, rel: String): Seq[String] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(c =>
          walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
        else if (f.getName.startsWith("part-")) Seq(rel) else Nil
      walk(root, "").sorted
    }
    val keyed = df.withColumn("k", (col("id") % 2).cast("int"))
      .orderBy("k", "id").coalesce(1)
    assert(names(viaFn) === Seq("part-00000.arrows"))
    assert(names(viaDs).map(_.replaceAll(uuid, "Q")) === Seq("part-00000-Q.arrows"))
    val grouped = tmp("graft_identity_keyed")
    keyed.write.format("arrow-ipc").option("partitionKeys", "k")
      .mode("overwrite").save(grouped)
    assert(names(grouped).map(_.replaceAll(uuid, "Q")) ===
      Seq("part-00000-g0000-Q.arrows", "part-00000-g0001-Q.arrows"))
    val rolled = tmp("graft_identity_rolled")
    df.write.format("arrow-ipc").option("maxRecordsPerFile", "2")
      .mode("overwrite").save(rolled)
    assert(names(rolled).map(_.replaceAll(uuid, "Q")) ===
      Seq("part-00000-g0000-Q.arrows", "part-00000-g0001-Q.arrows"))
    val hive = tmp("graft_identity_hive")
    keyed.write.format("arrow-ipc").option("hivePartitionKeys", "k")
      .mode("overwrite").save(hive)
    val hiveNames = names(hive)
    // (the write's own clustering picks the tasks, hence P and S)
    assert(hiveNames.map(_.replaceAll(uuid, "Q")
      .replaceAll("part-\\d{5}-g\\d{4}-", "part-P-gS-")) ===
      Seq("k=0/part-P-gS-Q.arrows", "k=1/part-P-gS-Q.arrows"), hiveNames)
    // hive data files drop the key column, and so do their stats
    val hs = ArrowFileStats.read(new org.apache.hadoop.fs.Path(hive)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), new org.apache.hadoop.fs.Path(hive))
    assert(hs.size === 2 && hs.values.forall(st => !st.cols.contains("k") && st.cols.contains("id")))
    assert(canonRows(spark.read.format("arrow-ipc").load(hive).drop("k")) === want)
  }
}
