package graft.sources

import java.io.{InputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex.ListVector
import org.apache.arrow.vector.compression.CompressionUtil
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.ipc.message.IpcOption
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit => ArrowTimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Arrow IPC stream interchange — the reference's NATIVE data format: its
  * `Block` IS an `arrow::RecordBatch` (arrow_clickhouse_types.h:40-61) and
  * its streams read/write Arrow memory end to end. Spark ships the Arrow
  * Java libraries (it uses them for pandas interchange) but exposes no IPC
  * file source, so a user bringing Arrow stream files from the reference
  * had no entry point — this closes that gap with public Arrow APIs only.
  *
  * Layout contract: one IPC *stream* file per partition
  * (`part-NNNNN.arrows`, schema header + record batches + EOS — readable
  * by any Arrow implementation) plus a zero-row `_schema.arrows` sentinel
  * written by the driver so readers can derive the schema without poking
  * data files (partitions can be empty). Files written elsewhere are also
  * readable: absent a sentinel, the schema comes from the first data file.
  *
  * Scale shape: the writer runs as a `foreachPartition` action (no `.rdd`
  * plan materialization, no driver collect) through the Hadoop FileSystem
  * API, so the same code targets `file:`, `hdfs:` or `s3a:`; memory per
  * task is bounded by `maxRecordsPerBatch`. The reader parallelizes per
  * file via `binaryFiles` and streams batch-by-batch — a file is never
  * loaded whole.
  *
  * Type surface (both directions): boolean, int, bigint, float, double,
  * string, binary, timestamp (µs — Spark's native precision, written with
  * UTC zone; zoneless µs timestamps read as UTC instants), date, decimal
  * (p ≤ 38 ↔ Arrow Decimal128 — the reference's Decimal128 in
  * arrow_clickhouse_types.h:74-139), fixed-size binary (Arrow
  * FixedSizeBinary(n) ↔ Spark binary carrying `arrow.fixed_size` field
  * metadata, round-trip stable), and arrays of those scalars (the
  * embeddings shape — Arrow List vectors). An unsupported column type
  * fails loudly at write/read time, never silently.
  *
  * Column pruning: `readStream(spark, dir, columns)` decodes ONLY the
  * requested vectors — the analog of the reference's `column_indices`
  * pushdown (DataStreams/ParquetBlockInputStream.cpp:33-38) — so a
  * 3-column projection over a wide embedding table never boxes the other
  * columns' values, and files may even carry unsupported-typed columns as
  * long as the projection avoids them. Columns resolve by NAME against
  * each file's own header (never by position), and every file's schema is
  * validated against the expected one with the offending path in the
  * error — a foreign directory of heterogeneous files can not silently
  * read wrong columns under wrong names.
  */
object ArrowInterchange {

  // ── schema mapping ─────────────────────────────────────────────────────

  def toArrowSchema(schema: StructType): ArrowSchema =
    new ArrowSchema(schema.fields.map(toArrowField).toSeq.asJava)

  /** Spark binary columns carrying this field-metadata key (a positive int
    * byte width) map to Arrow FixedSizeBinary(n) instead of variable-width
    * Binary — and FixedSizeBinary columns read back with the key set, so
    * the mapping round-trips. */
  val FixedSizeKey = "arrow.fixed_size"

  // ── schema-evolution metadata (round 11): field ids + rename history ──
  //
  // FIELD-ID INDIRECTION, the Iceberg resolution model re-expressed over
  // arrow field metadata: every sentinel field carries a STABLE id
  // (`graft.field.id`, assigned at table creation / first ALTER and never
  // reused), appends stamp the ids into their data files' headers, and
  // readers resolve a required column by ID first — names become labels,
  // which is what makes `ALTER COLUMN RENAME` a sentinel-only rewrite.
  // Files that predate ids (or maintenance rewrites, which deliberately
  // stay id-less — a staging job must never mint ids) resolve by the
  // current name or any PRIOR name recorded in the sentinel's rename
  // history (`graft.prior.names`), with an id GUARD: a name hit whose
  // file field carries a DIFFERENT id is a reused label, never this
  // column. The metadata is invisible to users — [[readSchema]] strips
  // it — and travels to executors on the required schema's StructField
  // metadata ([[attachResolutionMeta]]).

  val FieldIdKey = "graft.field.id"
  val PriorNamesKey = "graft.prior.names"
  // unit separator — refused inside column names at rename time, so the
  // encoded prior-name list is unambiguous
  private[sources] val PriorSep = '\u001F'

  /** (field id, prior names) of an arrow field. */
  private[sources] def evolutionMeta(f: Field): (Option[Long], Seq[String]) = {
    val m = Option(f.getMetadata).map(_.asScala).getOrElse(
      scala.collection.mutable.Map.empty[String, String])
    (m.get(FieldIdKey).flatMap(s => scala.util.Try(s.toLong).toOption),
      m.get(PriorNamesKey)
        .map(_.split(PriorSep).toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  private def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(FieldIdKey))
      scala.util.Try(f.metadata.getLong(FieldIdKey)).toOption
    else None

  private[sources] def priorNames(f: StructField): Seq[String] =
    if (f.metadata.contains(PriorNamesKey))
      f.metadata.getStringArray(PriorNamesKey).toSeq
    else Nil

  /** The arrow-side encoding of a field's evolution metadata; null when
    * the field carries none (the legacy shape, byte-identical headers). */
  private def evolutionMetaMap(f: StructField): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    fieldId(f).foreach(id => m.put(FieldIdKey, id.toString))
    val priors = priorNames(f)
    if (priors.nonEmpty) m.put(PriorNamesKey, priors.mkString(PriorSep.toString))
    if (m.isEmpty) null else m
  }

  /** Assign stable field ids where missing: existing ids are preserved,
    * new fields take max+1.. in field order. The sentinel-creation and
    * ALTER tail — ids are minted HERE and nowhere else. */
  private[sources] def withFieldIds(schema: StructType): StructType = {
    var next = schema.fields.flatMap(fieldId).foldLeft(0L)(math.max) + 1
    StructType(schema.fields.map { f =>
      if (fieldId(f).isDefined) f
      else {
        val b = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(FieldIdKey, next)
        next += 1
        f.copy(metadata = b.build())
      }
    })
  }

  /** Strip the evolution metadata — the user-facing schema shows names
    * and types, not the resolution machinery. */
  private[sources] def stripEvolution(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(FieldIdKey) &&
          !f.metadata.contains(PriorNamesKey)) f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .remove(FieldIdKey).remove(PriorNamesKey).build())
    })

  /** Attach the SENTINEL's evolution metadata to the matching required
    * fields — the scan-side transport: required schemas arrive stripped,
    * and executors resolve by id/alias from StructField metadata (which
    * serializes with the reader factory). Fields the sentinel doesn't
    * know (metadata columns, foreign dirs) and sentinel-less directories
    * pass through untouched. */
  private[sources] def attachResolutionMeta(required: StructType,
      dir: String, conf: org.apache.hadoop.conf.Configuration): StructType = {
    val sentinel = new Path(dir, "_schema.arrows")
    val fs = sentinel.getFileSystem(conf)
    val raw = scala.util.Try(readArrowSchemaFrom(fs, sentinel)).toOption
      .getOrElse(return required)
    val byName = raw.getFields.asScala.map(f => f.getName -> f).toMap
    StructType(required.fields.map { rf =>
      byName.get(rf.name).map { ff =>
        val (id, priors) = evolutionMeta(ff)
        if (id.isEmpty && priors.isEmpty) rf
        else {
          val b = new MetadataBuilder().withMetadata(rf.metadata)
          id.foreach(b.putLong(FieldIdKey, _))
          if (priors.nonEmpty) b.putStringArray(PriorNamesKey, priors.toArray)
          rf.copy(metadata = b.build())
        }
      }.getOrElse(rf)
    })
  }

  private def toArrowField(f: StructField): Field = {
    val t: ArrowType = f.dataType match {
      case BooleanType   => ArrowType.Bool.INSTANCE
      // int8/int16 (round 14): the quantized-embedding store's element
      // type — an int8 lake representation is what realizes the 4×
      // saving on disk, not just in memory
      case ByteType      => new ArrowType.Int(8, true)
      case ShortType     => new ArrowType.Int(16, true)
      case IntegerType   => new ArrowType.Int(32, true)
      case LongType      => new ArrowType.Int(64, true)
      case FloatType     => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case DoubleType    => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case StringType    => ArrowType.Utf8.INSTANCE
      case BinaryType if f.metadata.contains(FixedSizeKey) =>
        val w = f.metadata.getLong(FixedSizeKey)
        require(w >= 1 && w <= Int.MaxValue,
          s"Arrow interchange: bad $FixedSizeKey=$w on column '${f.name}'")
        new ArrowType.FixedSizeBinary(w.toInt)
      case BinaryType    => ArrowType.Binary.INSTANCE
      case TimestampType => new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, "UTC")
      case TimestampNTZType =>
        // naive µs timestamp — the reference's own event-time shape
        // (timestamp(MICRO) with no zone, YdbModes/tests/ut_modes.cpp:66-93)
        new ArrowType.Timestamp(ArrowTimeUnit.MICROSECOND, null)
      case DateType      => new ArrowType.Date(DateUnit.DAY)
      case _: DayTimeIntervalType =>
        // the reference's Duration (arrow_clickhouse_types.h:74-139):
        // Spark's day-time interval is a µs count, exactly Duration[µs]
        new ArrowType.Duration(ArrowTimeUnit.MICROSECOND)
      case d: DecimalType if d.precision <= 38 =>
        // the reference's Decimal128 (arrow_clickhouse_types.h:74-139)
        new ArrowType.Decimal(d.precision, d.scale, 128)
      case ArrayType(et, containsNull) =>
        // one level of list nesting (the embeddings shape); the element
        // field recurses through the scalar mapping above
        return new Field(f.name,
          new FieldType(f.nullable, ArrowType.List.INSTANCE, null,
            evolutionMetaMap(f)),
          java.util.Collections.singletonList(
            toArrowField(StructField("item", et, containsNull))))
      case st: StructType =>
        // struct columns — the multimodal row shape (image bytes + caption
        // + features in ONE column). The reference excludes nested types
        // from its comparable/filterable surface (switch_type.h:78-91) and
        // so does this source's stats layer (kindOf = 0: never pruned,
        // never a partition key) — but the DATA round-trips first-class.
        return new Field(f.name,
          new FieldType(f.nullable, ArrowType.Struct.INSTANCE, null,
            evolutionMetaMap(f)),
          st.fields.map(toArrowField).toSeq.asJava)
      case MapType(kt, vt, valueContainsNull) =>
        // map columns — Arrow's canonical map layout: list<entries:
        // struct<key, value>> with non-null entries and non-null keys
        // (Spark's own map contract). Same stats stance as struct:
        // kindOf = 0, data-only.
        return new Field(f.name,
          new FieldType(f.nullable, new ArrowType.Map(false), null,
            evolutionMetaMap(f)),
          java.util.Collections.singletonList(new Field("entries",
            new FieldType(false, ArrowType.Struct.INSTANCE, null),
            Seq(toArrowField(StructField("key", kt, nullable = false)),
              toArrowField(StructField("value", vt, valueContainsNull))).asJava)))
      case dt => throw new IllegalArgumentException(
        s"Arrow interchange: unsupported type $dt for column '${f.name}' " +
          "(supported: boolean, tinyint, smallint, int, bigint, float, " +
          "double, string, binary, " +
          "timestamp[us], date, interval day-second, decimal(<=38), " +
          "array<scalar>, struct<...>, map<k,v>)")
    }
    new Field(f.name, new FieldType(f.nullable, t, null, evolutionMetaMap(f)),
      java.util.Collections.emptyList[Field]())
  }

  def fromArrowSchema(schema: ArrowSchema): StructType =
    StructType(schema.getFields.asScala.map(fromArrowField).toSeq)

  /** The Spark type a file's Arrow field reads back as — the columnar
    * widening shim compares it against the table schema's (possibly
    * wider) type. */
  private[sources] def sparkTypeOf(f: Field): DataType =
    fromArrowField(f).dataType

  /** Re-attach the evolution metadata an arrow field carries (surfaced on
    * the WithMeta read paths; [[readSchema]]/function reads strip it). */
  private def withEvolutionMeta(f: Field, base: MetadataBuilder): Metadata = {
    val (id, priors) = evolutionMeta(f)
    id.foreach(base.putLong(FieldIdKey, _))
    if (priors.nonEmpty) base.putStringArray(PriorNamesKey, priors.toArray)
    base.build()
  }

  private def fromArrowField(f: Field): StructField = {
    f.getType match {
      case t: ArrowType.FixedSizeBinary =>
        return StructField(f.getName, BinaryType, f.isNullable,
          withEvolutionMeta(f, new MetadataBuilder()
            .putLong(FixedSizeKey, t.getByteWidth.toLong)))
      case _ => ()
    }
    val dt = f.getType match {
      case t: ArrowType.Int if t.getBitWidth == 8 && t.getIsSigned => ByteType
      case t: ArrowType.Int if t.getBitWidth == 16 && t.getIsSigned => ShortType
      case t: ArrowType.Int if t.getBitWidth == 32 && t.getIsSigned => IntegerType
      case t: ArrowType.Int if t.getBitWidth == 64 && t.getIsSigned => LongType
      case t: ArrowType.FloatingPoint if t.getPrecision == FloatingPointPrecision.SINGLE => FloatType
      case t: ArrowType.FloatingPoint if t.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
      case _: ArrowType.Bool   => BooleanType
      case _: ArrowType.Utf8   => StringType
      case _: ArrowType.Binary => BinaryType
      case t: ArrowType.Timestamp
          if t.getUnit == ArrowTimeUnit.MICROSECOND && t.getTimezone != null => TimestampType
      case t: ArrowType.Timestamp if t.getUnit == ArrowTimeUnit.MICROSECOND =>
        TimestampNTZType // zoneless µs — bijective with the write side
      case t: ArrowType.Date if t.getUnit == DateUnit.DAY => DateType
      case t: ArrowType.Duration if t.getUnit == ArrowTimeUnit.MICROSECOND =>
        DayTimeIntervalType()
      case t: ArrowType.Decimal if t.getBitWidth == 128 =>
        DecimalType(t.getPrecision, t.getScale)
      case _: ArrowType.Map =>
        // MUST precede List (ArrowType.Map is not a List subtype, but
        // MapVector extends ListVector on the vector side — keep the
        // schema dispatch explicit regardless)
        val entries = f.getChildren.get(0)
        val key = fromArrowField(entries.getChildren.get(0))
        val value = fromArrowField(entries.getChildren.get(1))
        MapType(key.dataType, value.dataType, value.nullable)
      case _: ArrowType.List =>
        val elem = fromArrowField(f.getChildren.get(0))
        ArrayType(elem.dataType, elem.nullable)
      case _: ArrowType.Struct =>
        StructType(f.getChildren.asScala.map(fromArrowField).toSeq)
      case t => throw new IllegalArgumentException(
        s"Arrow interchange: unsupported Arrow type $t for field '${f.getName}'")
    }
    StructField(f.getName, dt, f.isNullable,
      withEvolutionMeta(f, new MetadataBuilder()))
  }

  // ── write ──────────────────────────────────────────────────────────────

  /** Write `df` as a directory of Arrow IPC stream files (overwrite
    * semantics, one file per non-empty partition + schema sentinel).
    * `codec`: optional IPC buffer compression, `"lz4"` or `"zstd"` — the
    * standard Arrow body-buffer compression any modern Arrow reader
    * decodes transparently (readers here always accept both plus
    * uncompressed). At 100 TB the tradeoff is the usual one: lz4 for
    * hot interchange, zstd for colder/denser storage. */
  def writeStream(df: DataFrame, dir: String, maxRecordsPerBatch: Int = 4096,
      codec: Option[String] = None,
      bloomCols: Set[String] = Set.empty): Unit = {
    require(maxRecordsPerBatch >= 1, "maxRecordsPerBatch must be >= 1")
    codecType(codec) // validate the codec name eagerly, on the driver
    val schema = df.schema
    toArrowSchema(schema) // validate the type surface eagerly, on the driver
    val sc = df.sparkSession.sparkContext
    val conf = new SerializableHadoopConf(sc.hadoopConfiguration)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(sc.hadoopConfiguration)
    fs.delete(dirPath, true)
    fs.mkdirs(dirPath)
    writeSentinelAtomic(fs, dirPath, schema)
    // Per-file column stats ride an accumulator to the driver's
    // `_stats.json` (same pruning substrate as the DSv2 write path).
    // Duplicate task attempts write identical deterministic content, so
    // last-one-wins dedup by file name is exact, not a race.
    val statsAcc = sc.collectionAccumulator[(String, FileStats)]("arrowFileStats")
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        // Commit protocol: write to an ATTEMPT-SCOPED temp name, then
        // rename to the final deterministic per-partition name. Two
        // speculative attempts of one partition never write the same path
        // concurrently (interleaved-create corruption / HDFS lease clash);
        // whichever rename lands first wins and the loser discards its
        // temp file. Rename is atomic on HDFS-like stores; on object
        // stores it is copy+delete but still attempt-isolated.
        val tc = TaskContext.get()
        val finalP = new Path(dir, f"part-${tc.partitionId()}%05d.arrows")
        val tmpP = new Path(dir,
          f".part-${tc.partitionId()}%05d.arrows.attempt-${tc.taskAttemptId()}.tmp")
        val pfs = finalP.getFileSystem(conf.value)
        val collector = new ArrowStatsCollector(schema, bloomCols)
        writeOneFile(pfs.create(tmpP, true), schema, rows, maxRecordsPerBatch,
          codec, Some(collector))
        if (!pfs.rename(tmpP, finalP)) {
          val lost = pfs.exists(finalP) // a sibling attempt already committed
          pfs.delete(tmpP, false)
          if (!lost) throw new java.io.IOException(
            s"Arrow interchange: rename $tmpP -> $finalP failed")
        }
        statsAcc.add(finalP.getName -> collector.result())
      }
    }
    // stats manifest BEFORE the completeness marker: a reader that sees
    // _SUCCESS must also see every committed file's stats
    val fileStats = statsAcc.value.asScala.toMap
    if (fileStats.nonEmpty) ArrowFileStats.write(fs, dirPath, fileStats)
    // Job-level completeness marker: without it a mid-job failure leaves a
    // partial directory with a valid schema sentinel that a later read
    // would silently treat as the complete dataset.
    fs.create(new Path(dirPath, "_SUCCESS"), true).close()
  }

  private[sources] def codecType(codec: Option[String]): Option[CompressionUtil.CodecType] =
    codec.map {
      case "lz4"  => CompressionUtil.CodecType.LZ4_FRAME
      case "zstd" => CompressionUtil.CodecType.ZSTD
      case other => throw new IllegalArgumentException(
        s"Arrow interchange: unknown codec '$other' (supported: lz4, zstd)")
    }

  /** IPC stream writer over `root`, optionally body-compressed. */
  private[sources] def newStreamWriter(root: VectorSchemaRoot,
      out: java.io.OutputStream, codec: Option[String]): ArrowStreamWriter =
    codecType(codec) match {
      case Some(ct) => new ArrowStreamWriter(root, null, Channels.newChannel(out),
        IpcOption.DEFAULT, CommonsCompressionFactory.INSTANCE, ct)
      case None => new ArrowStreamWriter(root, null, Channels.newChannel(out))
    }

  /** Zero-row schema-sentinel stream file. */
  private[sources] def writeSentinel(out: java.io.OutputStream,
      schema: StructType): Unit =
    writeOneFile(out, schema, Iterator.empty, 1, None)

  /** The ONLY way a sentinel reaches its live path: serialized to bytes,
    * then flipped in with ArrowOcc.writeAtomic. Reads are deliberately
    * lock-free, so an in-place `fs.create(sentinel)` is a torn-read race
    * — a concurrent reader can catch the file existing but half-written
    * ("Unexpected end of input. Missing schema"), which the OCC stress
    * probe reproduced against the old direct-create sites. */
  private[sources] def writeSentinelAtomic(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: Path, schema: StructType): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    writeSentinel(bos, schema)
    ArrowOcc.writeAtomic(fs, new Path(dirPath, "_schema.arrows"), bos.toByteArray)
  }

  private def writeOneFile(out: java.io.OutputStream, schema: StructType,
      rows: Iterator[Row], maxRecordsPerBatch: Int,
      codec: Option[String], stats: Option[ArrowStatsCollector] = None): Unit = {
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(toArrowSchema(schema), alloc)
    val writer = newStreamWriter(root, out, codec)
    try {
      writer.start()
      val types = schema.fields.map(_.dataType)
      while (rows.hasNext) {
        root.allocateNew()
        var n = 0
        while (rows.hasNext && n < maxRecordsPerBatch) {
          val row = rows.next()
          var i = 0
          while (i < types.length) {
            setValue(root.getVector(i), types(i), n, row, i)
            i += 1
          }
          stats.foreach(_.updateExternal(row))
          n += 1
        }
        root.setRowCount(n)
        writer.writeBatch()
      }
      writer.end()
    } finally {
      writer.close() // also closes the channel/stream
      root.close()
      alloc.close()
    }
  }

  private def setValue(v: FieldVector, dt: DataType, idx: Int, row: Row, col: Int): Unit =
    setRaw(v, dt, idx, if (row.isNullAt(col)) null else row.get(col))

  /** Write one value straight from Catalyst INTERNAL form (UTF8String
    * bytes, micros long, days int, Decimal, ArrayData) — the DSv2 write
    * path, skipping the external boxing the [[setRaw]] path pays.
    * `SpecializedGetters` covers both InternalRow and ArrayData, so list
    * elements recurse through the same dispatch. */
  private[sources] def setInternalValue(v: FieldVector, dt: DataType, idx: Int,
      row: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      col: Int): Unit =
    if (row.isNullAt(col)) {
      v match {
        case x: ListVector => x.setNull(idx) // fills offset holes, keeps lastSet
        case x: org.apache.arrow.vector.complex.StructVector => x.setNull(idx)
        case x: BaseFixedWidthVector => x.setNull(idx)
        case x: BaseVariableWidthVector => x.setNull(idx)
        case other => throw new IllegalArgumentException(
          s"Arrow interchange: cannot null vector ${other.getClass.getSimpleName}")
      }
    } else (v, dt) match {
      case (x: BitVector, BooleanType) =>
        x.setSafe(idx, if (row.getBoolean(col)) 1 else 0)
      case (x: TinyIntVector, ByteType)  => x.setSafe(idx, row.getByte(col))
      case (x: SmallIntVector, ShortType) => x.setSafe(idx, row.getShort(col))
      case (x: IntVector, IntegerType)   => x.setSafe(idx, row.getInt(col))
      case (x: BigIntVector, LongType)   => x.setSafe(idx, row.getLong(col))
      case (x: Float4Vector, FloatType)  => x.setSafe(idx, row.getFloat(col))
      case (x: Float8Vector, DoubleType) => x.setSafe(idx, row.getDouble(col))
      case (x: VarCharVector, StringType) =>
        x.setSafe(idx, row.getUTF8String(col).getBytes)
      case (x: VarBinaryVector, BinaryType) => x.setSafe(idx, row.getBinary(col))
      case (x: FixedSizeBinaryVector, BinaryType) =>
        val bytes = row.getBinary(col)
        require(bytes.length == x.getByteWidth, "Arrow interchange: " +
          s"fixed-size binary column expects ${x.getByteWidth} bytes, got ${bytes.length}")
        x.setSafe(idx, bytes)
      case (x: DecimalVector, d: DecimalType) =>
        x.setSafe(idx,
          row.getDecimal(col, d.precision, d.scale).toJavaBigDecimal.setScale(d.scale))
      case (x: TimeStampVector, TimestampType | TimestampNTZType) =>
        x.setSafe(idx, row.getLong(col)) // both are µs-long internally
      case (x: DateDayVector, DateType)        => x.setSafe(idx, row.getInt(col))
      case (x: DurationVector, _: DayTimeIntervalType) =>
        x.setSafe(idx, row.getLong(col)) // both sides store µs
      case (x: org.apache.arrow.vector.complex.MapVector, MapType(kt, vt, _)) =>
        // BEFORE ListVector: MapVector IS a ListVector. Entries land as a
        // run of defined structs; Spark's map contract keeps keys non-null.
        val map = row.getMap(col)
        val offset = x.startNewValue(idx)
        val entries = x.getDataVector
          .asInstanceOf[org.apache.arrow.vector.complex.StructVector]
        val (keys, vals) = (map.keyArray(), map.valueArray())
        var i = 0
        while (i < map.numElements()) {
          entries.setIndexDefined(offset + i)
          setInternalValue(entries.getChildByOrdinal(0).asInstanceOf[FieldVector],
            kt, offset + i, keys, i)
          setInternalValue(entries.getChildByOrdinal(1).asInstanceOf[FieldVector],
            vt, offset + i, vals, i)
          i += 1
        }
        x.endValue(idx, map.numElements())
      case (x: ListVector, ArrayType(et, _)) =>
        val arr = row.getArray(col)
        val offset = x.startNewValue(idx)
        var i = 0
        while (i < arr.numElements()) {
          setInternalValue(x.getDataVector, et, offset + i, arr, i); i += 1
        }
        x.endValue(idx, arr.numElements())
      case (x: org.apache.arrow.vector.complex.StructVector, st: StructType) =>
        val struct = row.getStruct(col, st.length)
        x.setIndexDefined(idx)
        var i = 0
        while (i < st.length) {
          setInternalValue(x.getChildByOrdinal(i).asInstanceOf[FieldVector], st.fields(i).dataType,
            idx, struct, i)
          i += 1
        }
      case (other, t) => throw new IllegalArgumentException(
        s"Arrow interchange: vector ${other.getClass.getSimpleName} / type $t mismatch")
    }

  /** Write one (possibly null) value; recursive through list elements. */
  private def setRaw(v: FieldVector, dt: DataType, idx: Int, value: Any): Unit =
    (v, dt) match {
      case (x: BitVector, BooleanType) =>
        if (value == null) x.setNull(idx)
        else x.setSafe(idx, if (value.asInstanceOf[Boolean]) 1 else 0)
      case (x: TinyIntVector, ByteType) =>
        if (value == null) x.setNull(idx) else x.setSafe(idx, value.asInstanceOf[Byte])
      case (x: SmallIntVector, ShortType) =>
        if (value == null) x.setNull(idx) else x.setSafe(idx, value.asInstanceOf[Short])
      case (x: IntVector, IntegerType) =>
        if (value == null) x.setNull(idx) else x.setSafe(idx, value.asInstanceOf[Int])
      case (x: BigIntVector, LongType) =>
        if (value == null) x.setNull(idx) else x.setSafe(idx, value.asInstanceOf[Long])
      case (x: Float4Vector, FloatType) =>
        if (value == null) x.setNull(idx) else x.setSafe(idx, value.asInstanceOf[Float])
      case (x: Float8Vector, DoubleType) =>
        if (value == null) x.setNull(idx) else x.setSafe(idx, value.asInstanceOf[Double])
      case (x: VarCharVector, StringType) =>
        if (value == null) x.setNull(idx)
        else x.setSafe(idx, value.asInstanceOf[String].getBytes(UTF_8))
      case (x: VarBinaryVector, BinaryType) =>
        if (value == null) x.setNull(idx)
        else x.setSafe(idx, value.asInstanceOf[Array[Byte]])
      case (x: FixedSizeBinaryVector, BinaryType) =>
        if (value == null) x.setNull(idx)
        else {
          val bytes = value.asInstanceOf[Array[Byte]]
          require(bytes.length == x.getByteWidth, "Arrow interchange: " +
            s"fixed-size binary column expects ${x.getByteWidth} bytes, got ${bytes.length}")
          x.setSafe(idx, bytes)
        }
      case (x: DecimalVector, d: DecimalType) =>
        if (value == null) x.setNull(idx)
        // setScale never loses digits here: the row's decimal already has
        // scale <= d.scale by Spark's own type contract
        else x.setSafe(idx, value.asInstanceOf[java.math.BigDecimal].setScale(d.scale))
      case (x: TimeStampVector, TimestampType) => // µs instant
        if (value == null) x.setNull(idx)
        else x.setSafe(idx, micros(value.asInstanceOf[Timestamp]))
      case (x: TimeStampVector, TimestampNTZType) => // naive µs (LocalDateTime)
        if (value == null) x.setNull(idx)
        else x.setSafe(idx, ldtMicros(value.asInstanceOf[java.time.LocalDateTime]))
      case (x: DateDayVector, DateType) =>
        if (value == null) x.setNull(idx)
        else x.setSafe(idx,
          value.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt)
      case (x: DurationVector, _: DayTimeIntervalType) =>
        if (value == null) x.setNull(idx)
        else {
          val d = value.asInstanceOf[java.time.Duration]
          x.setSafe(idx, Math.addExact(
            Math.multiplyExact(d.getSeconds, 1000000L), (d.getNano / 1000).toLong))
        }
      case (x: org.apache.arrow.vector.complex.MapVector, MapType(kt, vt, _)) =>
        if (value == null) x.setNull(idx)
        else {
          val m = value.asInstanceOf[scala.collection.Map[Any, Any]]
          val offset = x.startNewValue(idx)
          val entries = x.getDataVector
            .asInstanceOf[org.apache.arrow.vector.complex.StructVector]
          var i = 0
          m.foreach { case (k, v2) =>
            entries.setIndexDefined(offset + i)
            setRaw(entries.getChildByOrdinal(0).asInstanceOf[FieldVector], kt,
              offset + i, k)
            setRaw(entries.getChildByOrdinal(1).asInstanceOf[FieldVector], vt,
              offset + i, v2)
            i += 1
          }
          x.endValue(idx, m.size)
        }
      case (x: ListVector, ArrayType(et, _)) =>
        if (value == null) x.setNull(idx) // fills offset holes, keeps lastSet
        else {
          val elems = value.asInstanceOf[scala.collection.Seq[Any]]
          val offset = x.startNewValue(idx)
          var i = 0
          while (i < elems.length) {
            setRaw(x.getDataVector, et, offset + i, elems(i)); i += 1
          }
          x.endValue(idx, elems.length)
        }
      case (x: org.apache.arrow.vector.complex.StructVector, st: StructType) =>
        if (value == null) x.setNull(idx)
        else {
          val r = value.asInstanceOf[Row]
          x.setIndexDefined(idx)
          var i = 0
          while (i < st.length) {
            setRaw(x.getChildByOrdinal(i).asInstanceOf[FieldVector], st.fields(i).dataType, idx, r.get(i))
            i += 1
          }
        }
      case (other, t) => throw new IllegalArgumentException(
        s"Arrow interchange: vector ${other.getClass.getSimpleName} / type $t mismatch")
    }

  // ── read ───────────────────────────────────────────────────────────────

  /** Read a directory of Arrow IPC stream files written by [[writeStream]]
    * (or any Arrow writer using the supported type surface). Schema comes
    * from the `_schema.arrows` sentinel when present, else the first data
    * file; every data file's header is validated against it (name + type,
    * resolved by NAME, with the offending file path in the error). */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    readStream(spark, dir, None)

  /** Column-pruned read — the `column_indices` pushdown of the reference's
    * scan (DataStreams/ParquetBlockInputStream.cpp:33-38): only the
    * requested columns are decoded into rows; unselected vectors (however
    * wide — embedding lists, media payloads) are never boxed, and columns
    * OUTSIDE the projection may even carry Arrow types this interchange
    * doesn't support. Output columns follow the requested order. */
  def readStream(spark: SparkSession, dir: String, columns: Seq[String]): DataFrame =
    readStream(spark, dir, Some(columns))

  private def readStream(spark: SparkSession, dir: String,
      columns: Option[Seq[String]]): DataFrame = {
    val fileSchema = readArrowSchema(spark, dir)
    val schema = columns match {
      case None => fromArrowSchema(fileSchema)
      case Some(names) =>
        val byName = fileSchema.getFields.asScala.map(f => f.getName -> f).toMap
        StructType(names.map { n =>
          fromArrowField(byName.getOrElse(n, throw new IllegalArgumentException(
            s"Arrow interchange: requested column '$n' not in $dir schema " +
              s"(${fileSchema.getFields.asScala.map(_.getName).mkString(", ")})")))
        })
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    // A directory carrying OUR schema sentinel must also carry the job
    // completeness marker — reading a partially-written directory as if it
    // were the full dataset is the silent failure mode. Foreign-written
    // directories (no sentinel) are read as-is.
    require(!fs.exists(new Path(dirPath, "_schema.arrows")) ||
      fs.exists(new Path(dirPath, "_SUCCESS")),
      s"Arrow interchange: $dir has a schema sentinel but no _SUCCESS marker " +
        "— the writing job did not complete; refusing to read partial data")
    val glob = new Path(dir, "part-*.arrows")
    // streaming-sink visibility: same rule as the DSv2 scan — a
    // stream-named file without a committed ledger entry does not exist
    val visible = ArrowStreamCommits.visibleFilter(fs, dirPath)
    val dataPaths = (glob.getFileSystem(conf).globStatus(glob) match {
      case null => Array.empty[org.apache.hadoop.fs.FileStatus]
      case st   => st
    }).map(_.getPath).filter(p => visible(p.getName))
    // the DataFrame surfaces the STRIPPED schema; the enriched one (field
    // ids, rename history) rides only into the per-file resolution
    if (dataPaths.isEmpty) // all partitions were empty — sentinel carries the schema
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        stripEvolution(schema))
    // Pruned reads tolerate extra (even unsupported-typed) columns in the
    // file; full reads require the exact schema — a stray column would
    // otherwise be silently dropped.
    val exact = columns.isEmpty
    val rdd = spark.sparkContext.binaryFiles(dataPaths.map(_.toString).mkString(","))
      .flatMap { case (path, pds) => rowsFromStream(pds.open(), path, schema, exact) }
    spark.createDataFrame(rdd, stripEvolution(schema))
  }

  /** Driver-side schema derivation from the sentinel or first data file —
    * the USER-FACING schema: evolution metadata stripped. */
  def readSchema(spark: SparkSession, dir: String): StructType =
    stripEvolution(readSchemaWithMeta(spark, dir))

  /** As [[readSchema]] but carrying the evolution metadata (field ids,
    * rename history) — the ALTER/resolution-side twin. */
  private[sources] def readSchemaWithMeta(spark: SparkSession,
      dir: String): StructType =
    fromArrowSchema(readArrowSchema(spark, dir))

  private def readArrowSchema(spark: SparkSession, dir: String): ArrowSchema = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sentinel = new Path(dir, "_schema.arrows")
    val fs = sentinel.getFileSystem(conf)
    val src =
      if (fs.exists(sentinel)) sentinel
      else {
        val glob = new Path(dir, "part-*.arrows")
        val st = Option(glob.getFileSystem(conf).globStatus(glob)).getOrElse(Array.empty)
        require(st.nonEmpty, s"Arrow interchange: no .arrows files under $dir")
        st.map(_.getPath).minBy(_.getName.toString)
      }
    readArrowSchemaFrom(src.getFileSystem(conf), src)
  }

  /** The arrow schema of one IPC file (header only). */
  private[sources] def readArrowSchemaFrom(
      fs: org.apache.hadoop.fs.FileSystem, src: Path): ArrowSchema = {
    val in = fs.open(src)
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(in, alloc, CommonsCompressionFactory.INSTANCE)
    try reader.getVectorSchemaRoot.getSchema
    finally { reader.close(); alloc.close() }
  }

  /** Lazy batch-at-a-time row iterator over one IPC stream; closes its
    * allocator at exhaustion AND at task completion (early-terminating
    * consumers like `limit` never exhaust the iterator). The file's header
    * is validated against `expected` before any row is produced — columns
    * resolve by NAME (a reordered file reads correctly; a same-typed
    * different-named file fails with this file's path, never silently
    * mislabels values), and `exact` additionally rejects extra columns. */
  private def rowsFromStream(in: InputStream, path: String,
      expected: StructType, exact: Boolean): Iterator[Row] = {
    val alloc = new RootAllocator()
    // the compression factory also handles uncompressed streams, so every
    // read path accepts plain, lz4 and zstd files alike
    val reader = new ArrowStreamReader(in, alloc, CommonsCompressionFactory.INSTANCE)
    val root = reader.getVectorSchemaRoot
    var closed = false
    def closeAll(): Unit = if (!closed) {
      closed = true
      try { reader.close(); alloc.close() } catch { case _: Throwable => () }
    }
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => closeAll()))
    val cols: Array[Int] =
      try resolveColumns(root.getSchema, expected, path, exact)
      catch { case e: Throwable => closeAll(); throw e }
    val types = expected.fields.map(_.dataType)
    new Iterator[Row] {
      private var i = 0
      private var n = 0
      private var done = false
      private def advance(): Unit =
        while (!done && i >= n) {
          if (reader.loadNextBatch()) { n = root.getRowCount; i = 0 }
          else { done = true; closeAll() }
        }
      override def hasNext: Boolean = { advance(); !done }
      override def next(): Row = {
        advance()
        if (done) throw new NoSuchElementException("exhausted Arrow stream")
        val vals = new Array[Any](types.length)
        var c = 0
        while (c < types.length) {
          vals(c) =
            if (cols(c) < 0) null // evolved column absent from this file
            else getValue(root.getVector(cols(c)), types(c), i)
          c += 1
        }
        i += 1
        Row.fromSeq(vals.toIndexedSeq)
      }
    }
  }

  /** Validate one file's header against the expected schema and return,
    * for each expected column, its vector index in THIS file — by NAME
    * (a reordered file resolves correctly; a missing/mistyped column
    * fails with the file's path), `exact` additionally rejecting extra
    * columns. Shared by the function-style reader and the DSv2 scan. */
  /** TYPE-WIDENING evolution (file type → table type) this source reads
    * through without rewriting data: int32→int64, float→double, and
    * decimal(p,s)→decimal(p+k,s). Exactly the pairs whose STATS
    * CANONICALS are already identical — integral stats store longs,
    * float stats store the exact `toDouble` widening, decimal stats
    * store scale-preserving plain strings — so standing manifest entries
    * (min/max/sum and the long/decimal blooms) prune the widened column
    * soundly with zero migration. Everything else (narrowing, scale
    * changes, string↔binary, nested edits) still refuses loudly. */
  private[sources] def isWidening(actual: DataType, expected: DataType): Boolean =
    (actual, expected) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, e: DecimalType) =>
        a.scale == e.scale && e.precision > a.precision && e.precision <= 38
      case _ => false
    }

  private[graft] def resolveColumns(fileSchema: ArrowSchema,
      expected: StructType, path: String, exact: Boolean): Array[Int] = {
    val fileFields = fileSchema.getFields.asScala
    val fileIds: IndexedSeq[Option[Long]] =
      fileFields.map(f => evolutionMeta(f)._1).toIndexedSeq
    val indexByName =
      fileFields.zipWithIndex.map { case (f, i) => f.getName -> i }.toMap
    val indexById =
      fileIds.zipWithIndex.collect { case (Some(id), i) => id -> i }.toMap
    val claimed = new Array[Boolean](fileFields.size)
    val out = expected.fields.map { ef =>
      val efId = fieldId(ef)
      // FIELD-ID INDIRECTION: the id is the identity, names are labels —
      // id match first, then the current name, then any PRIOR name from
      // the rename history (id-less legacy/maintenance files across
      // renames). A name hit whose file field carries a DIFFERENT id is
      // a reused label, never this column.
      def idOk(i: Int): Boolean = (fileIds(i), efId) match {
        case (Some(a), Some(b)) => a == b
        case _ => true
      }
      val hit: Option[Int] = efId.flatMap(indexById.get)
        .orElse(indexByName.get(ef.name).filter(idOk))
        .orElse(priorNames(ef).collectFirst(
          scala.Function.unlift(p => indexByName.get(p).filter(idOk))))
      hit match {
        case Some(i) =>
          claimed(i) = true
          val actual = fromArrowField(fileFields(i))
          if (actual.dataType != ef.dataType &&
              !isWidening(actual.dataType, ef.dataType))
            throw new IllegalArgumentException(
              s"Arrow interchange: $path column '${ef.name}' has type " +
                s"${actual.dataType} but the dataset schema says ${ef.dataType}")
          i
        // SCHEMA EVOLUTION (ALTER TABLE … ADD COLUMN through the
        // catalog): a file written before a nullable column existed
        // serves it as all-NULL — the readers map the -1 sentinel to a
        // null column. A NON-nullable expectation still fails loudly:
        // nulls there would be silent corruption, not evolution.
        case None if ef.nullable => -1
        case None =>
          throw new IllegalArgumentException(
            s"Arrow interchange: $path has no column '${ef.name}' " +
              s"(found: ${fileFields.map(_.getName).mkString(", ")})")
      }
    }
    // exact mode (function-style FULL reads): every file column must have
    // been claimed by some expected field — by id, name, or rename
    // history — else the file carries columns outside the dataset schema
    if (exact && !claimed.forall(identity))
      throw new IllegalArgumentException(
        s"Arrow interchange: $path has columns " +
          s"(${fileFields.zipWithIndex.collect {
            case (f, i) if !claimed(i) => f.getName }.mkString(", ")}) " +
          s"outside the dataset schema (${expected.fieldNames.mkString(", ")}) " +
          "— 'data files must share it'")
    out
  }

  /** One value in Catalyst INTERNAL form (UTF8String, micros long, days
    * int, Decimal, GenericArrayData) — the DSv2 scan's decode path, which
    * skips the external boxing ([[getValue]]'s Timestamp/Date/Seq) that
    * `createDataFrame` would just convert straight back. */
  private[sources] def getInternalValue(v: FieldVector, dt: DataType, idx: Int): Any =
    if (v.isNull(idx)) null
    else (v, dt) match {
      case (x: BitVector, BooleanType)      => x.get(idx) == 1
      case (x: TinyIntVector, ByteType)     => x.get(idx)
      case (x: SmallIntVector, ShortType)   => x.get(idx)
      case (x: IntVector, IntegerType)      => x.get(idx)
      case (x: BigIntVector, LongType)      => x.get(idx)
      case (x: Float4Vector, FloatType)     => x.get(idx)
      case (x: Float8Vector, DoubleType)    => x.get(idx)
      // widened reads of pre-evolution files (see [[isWidening]]); the
      // decimal case below already serves any precision the caller asks
      case (x: IntVector, LongType)         => x.get(idx).toLong
      case (x: Float4Vector, DoubleType)    => x.get(idx).toDouble
      case (x: VarCharVector, StringType)   =>
        org.apache.spark.unsafe.types.UTF8String.fromBytes(x.get(idx))
      case (x: VarBinaryVector, BinaryType) => x.get(idx)
      case (x: FixedSizeBinaryVector, BinaryType) => x.get(idx)
      case (x: DecimalVector, d: DecimalType) =>
        org.apache.spark.sql.types.Decimal(x.getObject(idx), d.precision, d.scale)
      case (x: TimeStampVector, TimestampType | TimestampNTZType) =>
        x.get(idx)                                           // already µs
      case (x: DateDayVector, DateType)     => x.get(idx)    // already days
      case (x: DurationVector, _: DayTimeIntervalType) =>
        DurationVector.get(x.getDataBuffer, idx)             // already µs
      case (x: org.apache.arrow.vector.complex.MapVector, MapType(kt, vt, _)) =>
        // BEFORE ListVector (subtype)
        val (start, end) = (x.getElementStartIndex(idx), x.getElementEndIndex(idx))
        val entries = x.getDataVector
          .asInstanceOf[org.apache.arrow.vector.complex.StructVector]
        val kv = entries.getChildByOrdinal(0).asInstanceOf[FieldVector]
        val vv = entries.getChildByOrdinal(1).asInstanceOf[FieldVector]
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            (start until end).map(i => getInternalValue(kv, kt, i)).toArray),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            (start until end).map(i => getInternalValue(vv, vt, i)).toArray))
      case (x: ListVector, ArrayType(et, _)) =>
        val (start, end) = (x.getElementStartIndex(idx), x.getElementEndIndex(idx))
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          (start until end).map(i => getInternalValue(x.getDataVector, et, i)).toArray)
      case (x: org.apache.arrow.vector.complex.StructVector, st: StructType) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array.tabulate[Any](st.length)(i =>
            getInternalValue(x.getChildByOrdinal(i).asInstanceOf[FieldVector], st.fields(i).dataType, idx)))
      case (other, t) => throw new IllegalArgumentException(
        s"Arrow interchange: vector ${other.getClass.getSimpleName} / type $t mismatch")
    }

  private def getValue(v: FieldVector, dt: DataType, idx: Int): Any =
    if (v.isNull(idx)) null
    else (v, dt) match {
      case (x: BitVector, BooleanType)      => x.get(idx) == 1
      case (x: TinyIntVector, ByteType)     => x.get(idx)
      case (x: SmallIntVector, ShortType)   => x.get(idx)
      case (x: IntVector, IntegerType)      => x.get(idx)
      case (x: BigIntVector, LongType)      => x.get(idx)
      case (x: Float4Vector, FloatType)     => x.get(idx)
      case (x: Float8Vector, DoubleType)    => x.get(idx)
      // widened reads of pre-evolution files (see [[isWidening]])
      case (x: IntVector, LongType)         => x.get(idx).toLong
      case (x: Float4Vector, DoubleType)    => x.get(idx).toDouble
      case (x: VarCharVector, StringType)   => new String(x.get(idx), UTF_8)
      case (x: VarBinaryVector, BinaryType) => x.get(idx)
      case (x: FixedSizeBinaryVector, BinaryType) => x.get(idx)
      case (x: DecimalVector, _: DecimalType) => x.getObject(idx)
      case (x: TimeStampVector, TimestampType) => tsFromMicros(x.get(idx))
      case (x: TimeStampVector, TimestampNTZType) => ldtFromMicros(x.get(idx))
      case (x: DateDayVector, DateType) =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.get(idx).toLong))
      case (x: DurationVector, _: DayTimeIntervalType) => x.getObject(idx)
      case (x: org.apache.arrow.vector.complex.MapVector, MapType(kt, vt, _)) =>
        // BEFORE ListVector (subtype). Insertion-ordered so the external
        // form round-trips deterministically.
        val (start, end) = (x.getElementStartIndex(idx), x.getElementEndIndex(idx))
        val entries = x.getDataVector
          .asInstanceOf[org.apache.arrow.vector.complex.StructVector]
        val kv = entries.getChildByOrdinal(0).asInstanceOf[FieldVector]
        val vv = entries.getChildByOrdinal(1).asInstanceOf[FieldVector]
        scala.collection.immutable.ListMap(
          (start until end).map(i => getValue(kv, kt, i) -> getValue(vv, vt, i)): _*)
      case (x: ListVector, ArrayType(et, _)) =>
        val (start, end) = (x.getElementStartIndex(idx), x.getElementEndIndex(idx))
        (start until end).map(i => getValue(x.getDataVector, et, i))
      case (x: org.apache.arrow.vector.complex.StructVector, st: StructType) =>
        Row.fromSeq((0 until st.length).map(i =>
          getValue(x.getChildByOrdinal(i).asInstanceOf[FieldVector], st.fields(i).dataType, idx)))
      case (other, t) => throw new IllegalArgumentException(
        s"Arrow interchange: vector ${other.getClass.getSimpleName} / type $t mismatch")
    }

  // ── µs-exact timestamp conversion (never through a double or ms) ───────

  private def micros(ts: Timestamp): Long = {
    val i = ts.toInstant
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)
  }

  private def tsFromMicros(us: Long): Timestamp =
    Timestamp.from(Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  // TIMESTAMP_NTZ's external type is LocalDateTime; its µs count is the
  // naive wall-clock value, i.e. the instant math at a fixed UTC offset.
  private def ldtMicros(ldt: java.time.LocalDateTime): Long = {
    val s = ldt.toEpochSecond(java.time.ZoneOffset.UTC)
    Math.addExact(Math.multiplyExact(s, 1000000L), (ldt.getNano / 1000).toLong)
  }

  private def ldtFromMicros(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
}

/** Minimal serializable Hadoop `Configuration` carrier so executor-side
  * file IO sees the driver's filesystem config (fs.defaultFS, s3a creds,
  * …) — `Configuration` itself is Writable but not Serializable.
  *
  * Encoded as its entries only: a count, then each key and value as
  * length-prefixed UTF-8 (`Text.writeString`, which has no 64 KiB cap),
  * rebuilt with one `set` per entry as `Configuration.readFields` does.
  * Not `Configuration.write`: it also gzips every property's list of
  * source names, which executors never read, and the lineage holding this
  * carrier is serialized on the driver per job (closure cleaning, then
  * the task binary) and deserialized per task — with a session conf's ~1k
  * properties that gzip costs several ms per job. */
private[sources] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val entries = value.iterator().asScala.toArray
    out.writeInt(entries.length)
    entries.foreach { e =>
      Text.writeString(out, e.getKey)
      Text.writeString(out, e.getValue)
    }
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      value.set(Text.readString(in), Text.readString(in))
      i += 1
    }
  }
}
