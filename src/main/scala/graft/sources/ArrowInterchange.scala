package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.channels.Channels

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
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
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
  * One value form: the Catalyst internal row is the only form this layer
  * encodes or decodes. [[setInternalValue]] writes a value into its
  * vector for [[writeStream]] and the DSv2 writers alike, and
  * [[getInternalValue]] reads it back for the DSv2 scan's row reader, so
  * a value written by either path reads back identically whatever the
  * session's external-type settings (`spark.sql.datetime.java8API.enabled`
  * included).
  *
  * One decoder: the DSv2 scan (`spark.read.format("arrow-ipc")`,
  * [[ArrowIpcSource]]) is the only reader of data files. [[readStream]]
  * is a column-pruned entry onto that scan.
  *
  * Scale shape: the writer runs the per-file [[ArrowFileWriter]] over the
  * plan's internal rows (`queryExecution.toRdd`, no driver collect)
  * through the Hadoop FileSystem API, so the same code targets `file:`,
  * `hdfs:` or `s3a:`; memory per task is bounded by one 4096-row record
  * batch.
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
  def writeStream(df: DataFrame, dir: String,
      codec: Option[String] = None,
      bloomCols: Set[String] = Set.empty): Unit = {
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
    // one SQL execution per write, as a Dataset action runs: listeners and
    // the SQL UI see the write's plan, planning phases and jobs
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("writeStream")) {
      qe.toRdd.foreachPartition { (rows: Iterator[InternalRow]) =>
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
          val file = new ArrowFileWriter(schema, pfs.create(tmpP, true), codec,
            bloomCols)
          val stats =
            try { rows.foreach(file.write); file.finish() }
            catch { case e: Throwable => file.abort(); throw e }
          if (!pfs.rename(tmpP, finalP)) {
            val lost = pfs.exists(finalP) // a sibling attempt already committed
            pfs.delete(tmpP, false)
            if (!lost) throw new java.io.IOException(
              s"Arrow interchange: rename $tmpP -> $finalP failed")
          }
          statsAcc.add(finalP.getName -> stats)
        }
      }
    }
    // stats manifest BEFORE the completeness marker: a reader that sees
    // _SUCCESS must also see every committed file's stats
    val fileStats = statsAcc.value.asScala.toMap
    if (fileStats.nonEmpty) ArrowFileStats.write(fs, dirPath, fileStats)
    // Job-level completeness marker: without it a mid-job failure leaves a
    // partial directory with a valid schema sentinel that a later read
    // would silently treat as the complete dataset.
    ArrowOcc.createMarker(fs, new Path(dirPath, "_SUCCESS"))
  }

  private[sources] def codecType(codec: Option[String]): Option[CompressionUtil.CodecType] =
    codec.map {
      case "lz4"  => CompressionUtil.CodecType.LZ4_FRAME
      case "zstd" => CompressionUtil.CodecType.ZSTD
      case other => throw new IllegalArgumentException(
        s"Arrow interchange: unknown codec '$other' (supported: lz4, zstd)")
    }

  /** Zero-row schema-sentinel stream file: schema header + EOS. */
  private[sources] def writeSentinel(out: java.io.OutputStream,
      schema: StructType): Unit =
    new ArrowFileWriter(schema, out, None).finish()

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

  /** Write one value from Catalyst INTERNAL form (UTF8String bytes,
    * micros long, days int, Decimal, ArrayData) — the encode half of the
    * interchange's one value form, run by every file writer.
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

  // ── read ───────────────────────────────────────────────────────────────

  /** Column-pruned read through the DSv2 scan, in the requested column
    * order — the `column_indices` pushdown of the reference's scan
    * (DataStreams/ParquetBlockInputStream.cpp:33-38). Its one job beyond
    * `spark.read.format("arrow-ipc").load(dir)`: the requested columns
    * are typed from the header by NAME and handed over as a user schema,
    * so columns OUTSIDE the projection may carry Arrow types this
    * interchange doesn't support (schema inference refuses them). */
  def readStream(spark: SparkSession, dir: String, columns: Seq[String]): DataFrame = {
    val fields = readArrowSchema(spark, dir).getFields.asScala.toSeq
    val byName = fields.map(f => f.getName -> f).toMap
    val pruned = StructType(columns.distinct.map(n => fromArrowField(
      byName.getOrElse(n, throw new IllegalArgumentException(
        s"Arrow interchange: requested column '$n' not in $dir schema " +
          s"(${fields.map(_.getName).mkString(", ")})")))))
    val df = spark.read.format("arrow-ipc").schema(stripEvolution(pruned))
      .load(dir)
    df.select(columns.map(n => df.col(s"`${n.replace("`", "``")}`")): _*)
  }

  /** The sentinel's column `name`, typed — where a hive or equality key
    * resolves when a user schema leaves it out. */
  private[sources] def sentinelField(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: Path, name: String): Option[StructField] =
    scala.util.Try(readArrowSchemaFrom(fs, new Path(dirPath, "_schema.arrows")))
      .toOption.flatMap(_.getFields.asScala.find(_.getName == name))
      .map(f => stripEvolution(StructType(Seq(fromArrowField(f)))).head)

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

  /** Validate one file's header against the expected schema and return,
    * for each expected column, its vector index in THIS file — by field
    * id, then NAME, then rename history (a reordered file resolves
    * correctly; a missing non-nullable or mistyped column fails with the
    * file's path). File columns outside the expected schema are ignored
    * by name, as after a DROP COLUMN. Used by both DSv2 readers. */
  private[graft] def resolveColumns(fileSchema: ArrowSchema,
      expected: StructType, path: String): Array[Int] = {
    val fileFields = fileSchema.getFields.asScala
    val fileIds: IndexedSeq[Option[Long]] =
      fileFields.map(f => evolutionMeta(f)._1).toIndexedSeq
    val indexByName =
      fileFields.zipWithIndex.map { case (f, i) => f.getName -> i }.toMap
    val indexById =
      fileIds.zipWithIndex.collect { case (Some(id), i) => id -> i }.toMap
    expected.fields.map { ef =>
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
  }

  /** [[resolveColumns]] for a DSv2 reader's projection. An empty one (a
    * bare count) decodes no column, yet the file must still resolve every
    * column of `table` when given — so a foreign file fails with its path
    * whether the query counts or collects. */
  private[sources] def resolveHeader(fileSchema: ArrowSchema,
      required: StructType, table: StructType, path: String): Array[Int] = {
    if (required.isEmpty && table != null)
      resolveColumns(fileSchema, table, path)
    resolveColumns(fileSchema, required, path)
  }

  /** One value in Catalyst INTERNAL form (UTF8String, micros long, days
    * int, Decimal, GenericArrayData) — the decode half of the interchange's
    * one value form, read by the DSv2 scan's row reader
    * ([[ArrowIpcPartitionReader]]). */
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
}

/** The one writer of an arrow-ipc stream file — data files of every
  * layout, and the zero-row schema sentinel. It owns the file's
  * allocator, `VectorSchemaRoot`, IPC stream writer and stats collector.
  * Rows arrive in Catalyst internal form; each lands in the vectors
  * through [[ArrowInterchange.setInternalValue]] and folds into the
  * file's [[ArrowStatsCollector]]. A record batch goes out every
  * `BatchRows` rows, so memory per open file stays bounded by one batch.
  * `finish` writes the tail batch and EOS (over zero rows: schema header
  * plus EOS), closes the stream and returns the file's stats; `abort`
  * releases everything without finishing the file. */
private[sources] final class ArrowFileWriter(schema: StructType,
    out: java.io.OutputStream, codec: Option[String],
    bloomCols: Set[String] = Set.empty) {
  private val BatchRows = 4096
  private val types = schema.fields.map(_.dataType)
  private val alloc = new RootAllocator()
  private val root =
    VectorSchemaRoot.create(ArrowInterchange.toArrowSchema(schema), alloc)
  private val writer = ArrowInterchange.codecType(codec) match {
    case Some(ct) => new ArrowStreamWriter(root, null, Channels.newChannel(out),
      IpcOption.DEFAULT, CommonsCompressionFactory.INSTANCE, ct)
    case None => new ArrowStreamWriter(root, null, Channels.newChannel(out))
  }
  // per-file min/max/null-count fold; rides to the driver's _stats.json
  // so a scan can skip this file on a pushed filter
  private val stats = new ArrowStatsCollector(schema, bloomCols)
  private var n = 0       // rows in the open batch
  private var total = 0L  // rows in the file
  private var closed = false

  try { writer.start(); root.allocateNew() }
  catch { case e: Throwable => abort(); throw e }

  def rows: Long = total

  def write(row: InternalRow): Unit = {
    var c = 0
    while (c < types.length) {
      ArrowInterchange.setInternalValue(root.getVector(c), types(c), n, row, c)
      c += 1
    }
    stats.update(row)
    n += 1
    total += 1
    if (n >= BatchRows) flush()
  }

  private def flush(): Unit = {
    root.setRowCount(n)
    writer.writeBatch()
    root.allocateNew()
    n = 0
  }

  def finish(): FileStats = {
    if (n > 0) flush()
    writer.end()
    writer.close() // also closes the stream: a failed close fails the file
    release()
    stats.result()
  }

  def abort(): Unit = {
    try writer.close() catch { case _: Throwable => () }
    release()
  }

  private def release(): Unit = if (!closed) {
    closed = true
    try { root.close(); alloc.close() } catch { case _: Throwable => () }
  }
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
