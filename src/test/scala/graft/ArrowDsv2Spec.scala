package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ArrowInterchange

/** DSv2 face of the Arrow interchange: `format("arrow-ipc")` is the one
  * reader of arrow-ipc directories, with column pruning driven by the
  * PLAN (SupportsPushDownRequiredColumns), not by a cooperative API
  * argument. Its row and columnar readers are cross-checked here. */
class ArrowDsv2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/out"

  test("full DSv2 read: row reader matches columnar reader across the type surface") {
    val df = spark.range(20).select(col("id"),
      concat(lit("s"), col("id")).as("s"),
      (col("id") % 3 === 0).as("b"),
      col("id").cast(DecimalType(12, 2)).as("price"),
      array(col("id").cast("float"), lit(0.5f)).as("vec"))
    val dir = tmp("graft_dsv2_full")
    ArrowInterchange.writeStream(df.repartition(3), dir, codec = Some("zstd"))
    val viaRows = ArrowRowPath.read(spark, dir)
    val viaDs = spark.read.format("arrow-ipc").load(dir)
    assert(ArrowRowPath.columnar(viaDs), "a plain read must take the columnar reader")
    assert(!ArrowRowPath.columnar(viaRows), "a `_pos` read must take the row reader")
    assert(StructType(viaRows.schema.fields.init) === viaDs.schema)
    assert(viaDs.orderBy("id").collect().map(_.toString).toSeq ===
      ArrowRowPath.rows(viaRows.orderBy("id")).map(_.toString))
  }

  test("a downstream select prunes the scan (plan-driven, no API argument)") {
    val df = spark.range(10).select(col("id"),
      concat(lit("payload"), col("id")).as("wide"))
    val dir = tmp("graft_dsv2_prune")
    ArrowInterchange.writeStream(df, dir)
    val pruned = spark.read.format("arrow-ipc").load(dir).select("id")
    // the scan itself must carry only the projected column
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty, "expected a BatchScanExec in the plan")
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("id"))
    assert(pruned.as[Long].collect().sorted.toSeq === (0L until 10L))
  }

  test("pruning lets a projection skip a column the full schema can't even map") {
    // foreign file with an unsupported uint8 column (same fixture shape as
    // ArrowInterchangeSpec): with an explicit schema for the supported
    // subset, the DSv2 path reads it — decoding 'weird' would throw, so a
    // green read PROVES the pruned column is never touched.
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, UInt1Vector, VectorSchemaRoot}
    import org.apache.arrow.vector.ipc.ArrowStreamWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
    import scala.jdk.CollectionConverters._
    val dir = tmp("graft_dsv2_foreign")
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
    w.start(); root.allocateNew()
    val idv = root.getVector(0).asInstanceOf[BigIntVector]
    val uv = root.getVector(1).asInstanceOf[UInt1Vector]
    (0 until 3).foreach { i => idv.setSafe(i, i.toLong + 5); uv.setSafe(i, i) }
    root.setRowCount(3)
    w.writeBatch(); w.end(); w.close(); root.close(); alloc.close()
    val got = spark.read.format("arrow-ipc")
      .schema(StructType(Seq(StructField("id", LongType))))
      .load(dir)
      .as[Long].collect().sorted.toSeq
    assert(got === Seq(5L, 6L, 7L))
  }

  test("scan is COLUMNAR for the whole surface, including fixed-size binary") {
    val df = spark.range(8).select(col("id"),
      array(col("id").cast("float")).as("vec"),
      col("id").cast(DecimalType(10, 2)).as("d"))
    val dir = tmp("graft_dsv2_columnar")
    ArrowInterchange.writeStream(df, dir)
    val read = spark.read.format("arrow-ipc").load(dir)
    val scan = read.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    assert(scan.supportsColumnar, "Arrow vectors must wrap as a ColumnarBatch")
    assert(read.orderBy("id").collect().map(_.toString).toSeq ===
      df.orderBy("id").collect().map(_.toString).toSeq)

    // fixed-size binary: Spark ships no ArrowColumnVector accessor —
    // [[graft.sources.FixedSizeBinaryColumnVector]] keeps it columnar
    val meta = new MetadataBuilder()
      .putLong(ArrowInterchange.FixedSizeKey, 2L).build()
    val fsbSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("h", BinaryType, nullable = true, meta)))
    val fsb = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, Array[Byte](7, 8)),
        org.apache.spark.sql.Row(2L, null)), 1), fsbSchema)
    val fsbDir = tmp("graft_dsv2_fsb")
    ArrowInterchange.writeStream(fsb, fsbDir)
    val fsbRead = spark.read.format("arrow-ipc").load(fsbDir)
    val fsbScan = fsbRead.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    assert(fsbScan.supportsColumnar,
      "fixed-size binary must stay on the columnar path")
    val got = fsbRead.orderBy("id").collect()
    assert(got(0).getLong(0) === 1L &&
      got(0).getAs[Array[Byte]](1).toSeq === Seq[Byte](7, 8))
    assert(got(1).getLong(0) === 2L && got(1).isNullAt(1))
    // metadata survives, so a re-write keeps the fixed width
    assert(fsbRead.schema("h").metadata.getLong(ArrowInterchange.FixedSizeKey) === 2L)
  }

  private def scanDesc(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head.scan.description()

  test("stats-pruning: a range filter skips files whose interval can't match") {
    // fixed-width string payload so string intervals are disjoint too
    val df = spark.range(40000).select(col("id"),
      concat(lit("v"), lpad(col("id").cast("string"), 5, "0")).as("v"))
    val dir = tmp("graft_dsv2_stats")
    df.repartitionByRange(4, col("id")).write.format("arrow-ipc").mode("overwrite").save(dir)
    // _stats.json landed with per-file intervals
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "_stats.json")))
    // range-partitioned by id → 4 disjoint intervals; id < 5000 hits one
    val q = spark.read.format("arrow-ipc").load(dir).filter(col("id") < 5000)
    assert(q.count() === 5000)
    val desc = scanDesc(q)
    assert(desc.contains("files=1/4"), desc)
    // equality on the string column prunes too (same file ordering as id)
    val qs = spark.read.format("arrow-ipc").load(dir)
      .filter(col("v") === "v39999")
    assert(qs.count() === 1)
    assert(scanDesc(qs).contains("files=1/4"), scanDesc(qs))
    // prefix match prunes to the one file whose interval covers "v0..."
    val qp = spark.read.format("arrow-ipc").load(dir)
      .filter(col("v").startsWith("v00"))
    assert(qp.count() === 1000)
    assert(scanDesc(qp).contains("files=1/4"), scanDesc(qp))
    // a filter no file satisfies reads zero files (and zero rows)
    val q0 = spark.read.format("arrow-ipc").load(dir).filter(col("id") < 0)
    assert(q0.count() === 0)
    assert(scanDesc(q0).contains("files=0/4"), scanDesc(q0))
  }

  test("maxRecordsPerFile rolls one task into size-bounded files with own stats") {
    val dir = tmp("graft_dsv2_roll")
    spark.range(10000).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("overwrite")
      .option("maxRecordsPerFile", 3000).save(dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(dir, "part-*.arrows"))
      .map(_.getPath.getName).sorted
    assert(files.length === 4) // 3000+3000+3000+1000
    assert(files.forall(_.contains("-g00")))
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 10000)
    assert(back.agg(min("id"), max("id")).head() ===
      org.apache.spark.sql.Row(0L, 9999L))
    // each rolled file carries its own stats entry; the ordered input
    // makes intervals disjoint, so a narrow filter opens one file
    val stats = graft.sources.ArrowFileStats.read(
      fs, new org.apache.hadoop.fs.Path(dir))
    assert(stats.keySet === files.toSet)
    val q = back.filter(col("id") < 1000)
    assert(q.count() === 1000)
    assert(scanDesc(q).contains("files=1/4"), scanDesc(q))
    // layouts COMPOSE with the roll (round 10): a hive write rolls within
    // each value directory — key runs and the row bound both cap files
    // (ArrowHiveSpec covers the full hive-roll contract)
    val hiveDir = tmp("graft_roll_hive")
    spark.range(20).selectExpr("id", "cast(id % 2 as string) k")
      .coalesce(1).sortWithinPartitions("k", "id")
      .write.format("arrow-ipc").mode("overwrite")
      .option("maxRecordsPerFile", 5)
      .option("hivePartitionKeys", "k").save(hiveDir)
    val hiveRels = graft.sources.ArrowSnapshots.listDataFiles(
      fs, new org.apache.hadoop.fs.Path(hiveDir))
    assert(hiveRels.groupBy(_.split("/").head).forall(_._2.size === 2),
      s"10 rows per value dir / 5 per file = 2 files each, got $hiveRels")
    assert(spark.read.format("arrow-ipc").load(hiveDir).count() === 20)
  }

  test("stats-pruning: IsNull/IsNotNull prune on null counts; append merges stats") {
    val dir = tmp("graft_dsv2_statsnull")
    // file 1: no nulls anywhere
    // when() keeps the column NULLABLE (matching the appended file's
    // schema) while never actually producing a null in this file
    spark.range(100).select(col("id"), when(col("id") >= 0, "x").as("s"))
      .coalesce(1).write.format("arrow-ipc").mode("overwrite").save(dir)
    // file 2 (append): s entirely null
    spark.range(100, 200).select(col("id"), lit(null).cast("string").as("s"))
      .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
    val base = spark.read.format("arrow-ipc").load(dir)
    assert(base.count() === 200)
    val qNull = base.filter(col("s").isNull)
    assert(qNull.count() === 100)
    assert(scanDesc(qNull).contains("files=1/2"), scanDesc(qNull))
    // IsNotNull proves the all-null file irrelevant
    val qVal = base.filter(col("s") === "x")
    assert(qVal.count() === 100)
    assert(scanDesc(qVal).contains("files=1/2"), scanDesc(qVal))
  }

  test("stats-pruning: function-style writes carry stats; foreign dirs keep every file") {
    val dir = tmp("graft_dsv2_nostats")
    val df = spark.range(1000).select(col("id"))
    ArrowInterchange.writeStream(df.repartitionByRange(2, col("id")), dir)
    // the accumulator-fed manifest prunes function-style directories too
    val q = spark.read.format("arrow-ipc").load(dir).filter(col("id") < 10)
    assert(q.count() === 10)
    assert(scanDesc(q).contains("files=1/2"), scanDesc(q))
    // a foreign directory (no _stats.json) must keep every file
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_stats.json"), false)
    val q2 = spark.read.format("arrow-ipc").load(dir).filter(col("id") < 10)
    assert(q2.count() === 10)
    assert(scanDesc(q2).contains("files=2/2"), scanDesc(q2))
  }

  test("stats soundness: NaN and supplementary-plane strings invalidate intervals") {
    import graft.sources.{ArrowFileStats, ArrowStatsCollector}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("d", DoubleType), StructField("s", StringType)))
    val coll = new ArrowStatsCollector(schema)
    coll.update(InternalRow(1.0, UTF8String.fromString("a")))
    coll.update(InternalRow(Double.NaN, UTF8String.fromString("😀"))) // 😀
    val st = coll.result()
    assert(st.cols("d").min.isEmpty, "NaN must invalidate the double interval")
    assert(st.cols("s").min.isEmpty, "non-BMP must invalidate the string interval")
    // invalid intervals never prune
    import org.apache.spark.sql.sources._
    assert(ArrowFileStats.canMatch(EqualTo("d", 99.0), st))
    assert(ArrowFileStats.canMatch(EqualTo("s", "zzz"), st))
    // JSON roundtrip preserves everything
    val m = Map("f.arrows" -> st)
    assert(ArrowFileStats.parse(ArrowFileStats.toJson(m)) === m)
    // interval logic on a healthy file
    val ok = graft.sources.FileStats(10,
      Map("x" -> graft.sources.ColStats("long", Some("5"), Some("9"), 0),
          "s" -> graft.sources.ColStats("string", Some("apple"), Some("pear"), 2)))
    assert(!ArrowFileStats.canMatch(EqualTo("x", 4L), ok))
    assert(ArrowFileStats.canMatch(EqualTo("x", 7L), ok))
    assert(!ArrowFileStats.canMatch(GreaterThan("x", 9L), ok))
    assert(ArrowFileStats.canMatch(GreaterThanOrEqual("x", 9L), ok))
    assert(!ArrowFileStats.canMatch(In("x", Array(1L, 2L, 3L)), ok))
    assert(ArrowFileStats.canMatch(In("x", Array(1L, 6L)), ok))
    assert(!ArrowFileStats.canMatch(StringStartsWith("s", "z"), ok))
    assert(ArrowFileStats.canMatch(StringStartsWith("s", "b"), ok))
    assert(!ArrowFileStats.canMatch(IsNull("x"), ok))
    assert(ArrowFileStats.canMatch(IsNull("s"), ok))
    assert(!ArrowFileStats.canMatch(
      And(EqualTo("x", 4L), EqualTo("s", "b")), ok))
    assert(ArrowFileStats.canMatch(
      Or(EqualTo("x", 4L), EqualTo("s", "b")), ok))
  }

  test("duration (day-time interval) roundtrips both paths, reads columnar") {
    // negative and fractional-second durations, exact to the microsecond
    val df = spark.range(10).select(col("id"),
      expr("make_dt_interval(0, 0, 0, (id - 5) * 1.502501)").as("dur"))
    val want = df.orderBy("id").collect().map(_.toString).toSeq
    val dir = tmp("graft_dsv2_dur")
    ArrowInterchange.writeStream(df, dir)
    val viaRows = ArrowRowPath.read(spark, dir).orderBy("id")
    assert(ArrowRowPath.rows(viaRows).map(_.toString) === want)
    val viaDs = spark.read.format("arrow-ipc").load(dir)
    assert(viaDs.orderBy("id").collect().map(_.toString).toSeq === want)
    // Spark ships a DurationAccessor → the zero-copy columnar path holds
    val scan = viaDs.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    assert(scan.supportsColumnar, "durations must stay on the columnar path")
    // DSv2 write side (internal-row setter) roundtrips too
    val dir2 = tmp("graft_dsv2_dur_w")
    df.write.format("arrow-ipc").mode("overwrite").save(dir2)
    assert(spark.read.format("arrow-ipc").load(dir2)
      .orderBy("id").collect().map(_.toString).toSeq === want)
  }

  test("limit pushes into the scan; statistics report directory bytes") {
    val df = spark.range(100000).select(col("id"), concat(lit("v"), col("id")).as("v"))
    val dir = tmp("graft_dsv2_limit")
    ArrowInterchange.writeStream(df.repartition(4), dir)
    val limited = spark.read.format("arrow-ipc").load(dir).limit(10)
    assert(limited.collect().length === 10)
    // the pushed limit reaches the scan (visible in its description)
    val scan = limited.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head
    assert(scan.scan.description().contains("limit=10"))
    // stats: the relation sizes like a file source (directory bytes), so
    // the broadcast threshold can see it
    val rel = spark.read.format("arrow-ipc").load(dir)
      .queryExecution.optimizedPlan
    val bytes = rel.stats.sizeInBytes
    assert(bytes > 0 && bytes < BigInt(Long.MaxValue), s"got $bytes")
    // exact row count from the manifest (function-style writer commits
    // stats too) — a real number for AQE/join planning, not a size guess
    assert(rel.stats.rowCount.contains(BigInt(100000)),
      s"expected exact manifest row count, got ${rel.stats.rowCount}")
  }

  test("DSv2 write roundtrips the type surface; function-style reader interops") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType),
      StructField("ts", TimestampType),
      StructField("price", DecimalType(12, 2)),
      StructField("vec", ArrayType(FloatType, containsNull = true))))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "héllo", java.sql.Timestamp.valueOf("2024-01-02 03:04:05.000007"),
        new java.math.BigDecimal("12.34"), Seq(1.5f, null, -2f)),
      org.apache.spark.sql.Row(2L, null, null, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmp("graft_dsv2_write")
    df.write.format("arrow-ipc").mode("overwrite").save(dir)
    // interop: the function-style reader consumes DSv2-written directories
    val viaFn = ArrowInterchange.readStream(spark, dir, schema.fieldNames.toSeq)
    val viaDs = spark.read.format("arrow-ipc").load(dir)
    assert(viaFn.schema === schema && viaDs.schema === schema)
    for (back <- Seq(viaFn, viaDs)) {
      val got = back.orderBy("id").collect()
      assert(got.map(_.toString).toSeq === df.orderBy("id").collect().map(_.toString).toSeq)
      // µs precision survives the internal-row write path
      assert(back.where(col("id") === 1)
        .select(unix_micros(col("ts"))).head().getLong(0) % 1000 === 7)
    }
  }

  test("DSv2 append accumulates; mismatched append schema is refused") {
    val dir = tmp("graft_dsv2_append")
    spark.range(5).select(col("id"), lit("a").as("tag"))
      .write.format("arrow-ipc").mode("append").save(dir)
    spark.range(5, 8).select(col("id"), lit("b").as("tag"))
      .write.format("arrow-ipc").mode("append").save(dir)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 8)
    assert(back.agg(countDistinct(col("tag"))).head().getLong(0) === 2)
    val e = intercept[Exception] {
      spark.range(3).select(col("id"), col("id").as("other"))
        .write.format("arrow-ipc").mode("append").save(dir)
    }
    assert(e.getMessage.contains("identical names") ||
      Option(e.getCause).exists(_.getMessage.contains("identical names")))
  }

  test("DSv2 write honors the codec option") {
    val df = spark.range(2000).select(col("id"),
      concat(lit("the quick brown fox jumps over the lazy dog "), col("id")).as("s"))
    def dirSize(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getLen).sum
    }
    val plain = tmp("graft_dsv2_plain"); val zstd = tmp("graft_dsv2_zstd")
    df.coalesce(1).write.format("arrow-ipc").mode("overwrite").save(plain)
    df.coalesce(1).write.format("arrow-ipc").mode("overwrite")
      .option("codec", "zstd").save(zstd)
    assert(dirSize(zstd) < dirSize(plain))
    assert(spark.read.format("arrow-ipc").load(zstd).count() === 2000)
  }

  test("count(*) works through an empty projection; partial writes refused") {
    val df = spark.range(17).select(col("id"), lit("x").as("s"))
    val dir = tmp("graft_dsv2_count")
    ArrowInterchange.writeStream(df.repartition(2), dir)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 17L)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    val e = intercept[Exception] {
      spark.read.format("arrow-ipc").load(dir).count()
    }
    assert(e.getMessage.contains("_SUCCESS") ||
      Option(e.getCause).exists(_.getMessage.contains("_SUCCESS")))
  }

  test("global count/min/max answer from the manifest ALONE — data files never opened") {
    val df = spark.range(0, 1000).select(col("id"),
      concat(lit("v"), col("id")).as("s"),
      (col("id") * 2).cast("double").as("d"))
    val dir = tmp("graft_dsv2_aggpush")
    df.repartition(4).write.format("arrow-ipc").mode("overwrite").save(dir)

    // Overwrite every data file with garbage: any scan that opens one now
    // throws, so a correct aggregate PROVES the metadata-only path ran.
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
      val out = new java.io.FileOutputStream(f)
      out.write(Array.fill(16)(0x7f.toByte)); out.close()
    }

    val agg = spark.read.format("arrow-ipc").load(dir)
      .agg(expr("count(*)").as("n"), count(col("s")).as("ns"),
        min(col("id")).as("mn"), max(col("id")).as("mx"),
        min(col("d")).as("dmn"), max(col("s")).as("smx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), s"aggregation not pushed:\n$plan")
    val r = agg.collect().head
    assert(r.getLong(0) === 1000L && r.getLong(1) === 1000L)
    assert(r.getLong(2) === 0L && r.getLong(3) === 999L)
    assert(r.getDouble(4) === 0.0)
    assert(r.getString(5) === "v999") // lexicographic max — stats order, not numeric

    // Grouping on a column with no per-file single-value proof (s varies
    // within every file) refuses the push; the resulting real scan must
    // now FAIL on the corrupted files — the refusal path genuinely reads
    // data.
    intercept[Throwable] {
      spark.read.format("arrow-ipc").load(dir).groupBy("s").count().collect()
    }
    // A filter also refuses it (stats are whole-file): fails likewise.
    intercept[Throwable] {
      spark.read.format("arrow-ipc").load(dir)
        .filter(col("id") >= 0).agg(count(lit(1))).collect()
    }
  }

  test("group-by aggregate pushdown: keyed layout answers from the manifest alone") {
    // key-grouped write → every file provably single-valued on k → a
    // groupBy(k) count/min/max is per-file manifest arithmetic. Null keys
    // land in their own file and group under NULL. Same proof style as the
    // global test: corrupt every data file, so a right answer = no reads.
    val df = spark.range(0, 1000).select(
      when(col("id") < 104, null).otherwise(col("id") % 8).as("k"),
      col("id"), concat(lit("v"), col("id")).as("s"))
    val dir = tmp("graft_dsv2_gbypush")
    graft.sources.Sinks.writeKeyGrouped(df, dir, Seq("k"), partitions = 4)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).foreach { f =>
        val out = new java.io.FileOutputStream(f)
        out.write(Array.fill(16)(0x7f.toByte)); out.close()
      }

    val agg = spark.read.format("arrow-ipc").load(dir)
      .groupBy("k").agg(expr("count(*)").as("n"), count(col("s")).as("ns"),
        min(col("id")).as("mn"), max(col("id")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), s"group-by aggregation not pushed:\n$plan")
    val rows = agg.collect()
    assert(rows.length === 9) // 8 key groups + the NULL group
    val nullRow = rows.find(_.isNullAt(0)).get
    assert(nullRow.getLong(1) === 104L && nullRow.getLong(2) === 104L)
    assert(nullRow.getLong(3) === 0L && nullRow.getLong(4) === 103L)
    rows.filterNot(_.isNullAt(0)).foreach { r =>
      val k = r.getLong(0)
      val ids = (104L until 1000L).filter(_ % 8 == k)
      assert(r.getLong(1) === ids.size.toLong && r.getLong(2) === ids.size.toLong)
      assert(r.getLong(3) === ids.min && r.getLong(4) === ids.max)
    }
  }

  test("manifest SUM pushdown: exact kinds answer with zero reads, doubles refuse") {
    // long + decimal sums ride the manifest (wrapping-long / BigDecimal
    // partials, both associative-exact); the double column must refuse.
    // Same no-read proof: corrupt every data file after the write.
    val df = spark.range(0, 1000).select(col("id"),
      when(col("id") % 5 === 0, null).otherwise(col("id") * 3).as("v"),
      (col("id").cast(DecimalType(10, 2)) * 25).cast(DecimalType(10, 2)).as("price"),
      (col("id") / 7.0).as("dbl"))
    val dir = tmp("graft_dsv2_sumpush")
    df.repartition(4).write.format("arrow-ipc").mode("overwrite").save(dir)
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).foreach { f =>
        val out = new java.io.FileOutputStream(f)
        out.write(Array.fill(16)(0x7f.toByte)); out.close()
      }

    val expectedV = (0L until 1000L).filter(_ % 5 != 0).map(_ * 3).sum
    val expectedPrice =
      new java.math.BigDecimal((0L until 1000L).map(_ * 25).sum).setScale(2)
    val agg = spark.read.format("arrow-ipc").load(dir)
      .agg(sum(col("id")).as("sid"), sum(col("v")).as("sv"),
        sum(col("price")).as("sp"), expr("count(*)").as("n"))
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "sum must push to the manifest")
    val r = agg.collect().head
    assert(r.getLong(0) === (0L until 1000L).sum)
    assert(r.getLong(1) === expectedV)
    assert(r.getDecimal(2) === expectedPrice.setScale(2))
    assert(r.getLong(3) === 1000L)

    // a double sum is order-dependent → the push refuses (all-or-nothing,
    // so the whole aggregation hits the — corrupted — files and throws)
    val dblAgg = spark.read.format("arrow-ipc").load(dir).agg(sum(col("dbl")))
    assert(!dblAgg.queryExecution.executedPlan.toString.contains("PushedAggregation"))

    // grouped sums from a keyed layout: per-file partials, Spark merges
    val keyedDf = spark.range(0, 400).select((col("id") % 4).as("k"),
      col("id"), (col("id").cast(DecimalType(10, 2))).as("p"))
    val keyedDir = tmp("graft_dsv2_sumpush_keyed")
    graft.sources.Sinks.writeKeyGrouped(keyedDf, keyedDir, Seq("k"), partitions = 4)
    new java.io.File(keyedDir).listFiles()
      .filter(_.getName.startsWith("part-")).foreach { f =>
        val out = new java.io.FileOutputStream(f)
        out.write(Array.fill(16)(0x7f.toByte)); out.close()
      }
    val gAgg = spark.read.format("arrow-ipc").load(keyedDir)
      .groupBy("k").agg(sum(col("id")).as("sid"), sum(col("p")).as("sp"))
    assert(gAgg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    gAgg.collect().foreach { row =>
      val k = row.getLong(0)
      val ids = (0L until 400L).filter(_ % 4 == k)
      assert(row.getLong(1) === ids.sum)
      assert(row.getDecimal(2) === new java.math.BigDecimal(ids.sum).setScale(2))
    }

    // a pre-sum manifest (sum fields stripped) must REFUSE the push, not
    // silently answer: rewrite _stats.json without any "sum" entries
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val statsPath = new org.apache.hadoop.fs.Path(dir, "_stats.json")
    val stripped = graft.sources.ArrowFileStats
      .read(fs, new org.apache.hadoop.fs.Path(dir)).map { case (f, st) =>
        f -> st.copy(cols = st.cols.map { case (c, cs) => c -> cs.copy(sum = None) })
      }
    graft.sources.ArrowFileStats.write(fs, new org.apache.hadoop.fs.Path(dir), stripped)
    val legacy = spark.read.format("arrow-ipc").load(dir).agg(sum(col("id")))
    assert(!legacy.queryExecution.executedPlan.toString.contains("PushedAggregation"),
      "sum over a pre-sum manifest must refuse the push")
  }

  test("runtime filtering: a broadcast join's key range prunes files dynamically") {
    val dir = tmp("graft_dsv2_runtime")
    spark.range(40000).select(col("id"), concat(lit("p"), col("id")).as("pay"))
      .repartitionByRange(4, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)

    // find the one file whose interval covers the dim's keys (0..99) and
    // corrupt the other three: a scan that opens any of them throws, so a
    // green join PROVES the runtime filter pruned them before task launch
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = graft.sources.ArrowFileStats.read(fs, new org.apache.hadoop.fs.Path(dir))
    assert(stats.size === 4)
    val low = stats.minBy(_._2.cols("id").min.get.toLong)._1
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName != low)
      .foreach { f =>
        val out = new java.io.FileOutputStream(f)
        out.write(Array.fill(16)(0x7f.toByte)); out.close()
      }

    val dim = spark.range(0, 1000).filter(col("id") < 100).select(col("id").as("k"))
    val joined = spark.read.format("arrow-ipc").load(dir)
      .join(broadcast(dim), col("id") === col("k"))
    assert(joined.count() === 100L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"expected a dynamic pruning subquery on the arrow scan:\n$plan")
  }

  test("aggregate pushdown is refused when a file misses stats or an interval is invalid") {
    // function-style writer BEFORE stats existed → simulate by deleting the
    // manifest: push must refuse and the (healthy) files scan normally
    val df = spark.range(50).select(col("id"), lit(Double.NaN).as("nan"))
    val dir = tmp("graft_dsv2_aggrefuse")
    df.repartition(2).write.format("arrow-ipc").mode("overwrite").save(dir)

    // NaN invalidates the double interval: min/max on it must refuse the
    // push (scan still computes the right NaN answer from real data)
    val viaScan = spark.read.format("arrow-ipc").load(dir).agg(max(col("nan")))
    assert(!viaScan.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(viaScan.collect().head.getDouble(0).isNaN)
    // count(*) alongside is still pushable in isolation, but Spark pushes
    // all-or-nothing; id min/max alone pushes fine
    val pushed = spark.read.format("arrow-ipc").load(dir)
      .agg(min(col("id")), max(col("id")))
    assert(pushed.queryExecution.executedPlan.toString.contains("PushedAggregation"))

    new java.io.File(dir, "_stats.json").delete()
    val noStats = spark.read.format("arrow-ipc").load(dir)
      .agg(expr("count(*)").as("n"), min(col("id")).as("mn"))
    assert(!noStats.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    val r = noStats.collect().head
    assert(r.getLong(0) === 50L && r.getLong(1) === 0L)
  }

  test("decimal and binary columns carry stats: pruning + min/max pushdown") {
    // price = id/100 as DECIMAL(12,2); bin = 3-byte big-endian id, so both
    // columns are monotone in id and range-partitioning by id makes their
    // per-file intervals disjoint
    val df = spark.range(40000).select(col("id"),
      (col("id").cast(DecimalType(12, 2)) / 100).cast(DecimalType(12, 2)).as("price"),
      expr("unhex(lpad(hex(id), 6, '0'))").as("bin"))
    val dir = tmp("graft_dsv2_decbin")
    df.repartitionByRange(4, col("id")).write.format("arrow-ipc")
      .mode("overwrite").save(dir)

    // decimal range filter prunes to the one file whose interval reaches
    // under 50.00 (others' minima are ≥ their range starts)
    val qd = spark.read.format("arrow-ipc").load(dir)
      .filter(col("price") < lit(new java.math.BigDecimal("50.00")))
    assert(qd.count() === 5000)
    assert(scanDesc(qd).contains("files=1/4"), scanDesc(qd))

    // decimal scale mismatch in the literal still compares numerically
    val qd2 = spark.read.format("arrow-ipc").load(dir)
      .filter(col("price") >= lit(new java.math.BigDecimal("399.5")))
    assert(qd2.count() === 50)
    assert(scanDesc(qd2).contains("files=1/4"), scanDesc(qd2))

    // binary equality prunes on the hex-canonical interval (unsigned
    // byte order; 0x009c3f = 39999 lives in the last file)
    val qb = spark.read.format("arrow-ipc").load(dir)
      .filter(col("bin") === lit(Array[Byte](0x00, 0x9c.toByte, 0x3f)))
    assert(qb.count() === 1)
    assert(scanDesc(qb).contains("files=1/4"), scanDesc(qb))

    // a decimal value beyond every interval reads zero files
    val q0 = spark.read.format("arrow-ipc").load(dir)
      .filter(col("price") > lit(new java.math.BigDecimal("400.00")))
    assert(q0.count() === 0)
    assert(scanDesc(q0).contains("files=0/4"), scanDesc(q0))

    // min/max aggregate pushdown answers DECIMAL extremes from the
    // manifest alone — numeric canonical order, not text order (the
    // text-max "99.99" > "399.99" trap)
    val agg = spark.read.format("arrow-ipc").load(dir)
      .agg(min(col("price")).as("mn"), max(col("price")).as("mx"))
    assert(agg.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    val row = agg.collect().head
    assert(row.getDecimal(0) === new java.math.BigDecimal("0.00"))
    assert(row.getDecimal(1) === new java.math.BigDecimal("399.99"))
  }
}
