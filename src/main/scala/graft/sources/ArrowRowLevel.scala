package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Row-level SQL DML for arrow-ipc directories — `UPDATE`, `MERGE INTO`,
  * and arbitrary-predicate `DELETE` — via Spark's group-based
  * COPY-ON-WRITE protocol (`SupportsRowLevelOperations`), the same public
  * API Iceberg's COW mode rides. The reference's mutation story is
  * replace-key MVCC dedup on read (YdbModes/SsaProgram replace keys);
  * this is the write-side dual a lakehouse needs: rewrite the affected
  * files, leave every other file untouched.
  *
  * Protocol per command (all three share one path):
  *
  *  1. Spark rewrites the command into a ReplaceData plan over this
  *     operation's scan: all surviving rows of AFFECTED files, with the
  *     modification applied (plus, for MERGE, not-matched inserts).
  *  2. GROUP selection: statically, the command condition is pushed to
  *     the scan and prunes provably-unaffected files by stats interval /
  *     bloom; dynamically, RowLevelOperationRuntimeGroupFiltering runs
  *     the condition as a subquery projecting the `_file` metadata
  *     column and hands the matching paths back (`_file IN (…)`), so
  *     only files that truly CONTAIN a match are rewritten.
  *  3. The replacement rows are staged as a complete hidden dataset
  *     (`.cow-<id>/`, own sentinel + stats + layout), clustered on the
  *     standing layout keys so a keyed or hive-partitioned dataset keeps
  *     its layout through the rewrite.
  *  4. Commit = [[ArrowMaintenance.cowSwap]]: the one commit record
  *     (kind "cow") and its replay under the `_SUCCESS` latch — replaced
  *     files out, staged files in, manifests rebuilt; a crash anywhere
  *     leaves the latch down and recover() replays to completion. No
  *     lineage is recorded
  *     (rows CHANGED — a streaming consumer must see the rewritten files
  *     as new data, never skip them as "covered").
  *
  * Provable whole-file DELETEs never reach this path: Spark's
  * OptimizeMetadataOnlyDeleteFromTable asks `canDeleteWhere` first and
  * the metadata-level delete wins. 100 TB shape: the rewrite cost is
  * O(affected files), the group filter is one scan of the condition's
  * statically-kept files, and everything else is metadata.
  */
private[graft] object ArrowRowLevel {
  /** Name of the file-provenance metadata column. */
  val FileColumn = "_file"

  private[sources] val fileField: StructField =
    StructField(FileColumn, StringType, nullable = false)

  private[sources] object FileMetadataColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileColumn
    override def dataType(): org.apache.spark.sql.types.DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "source file path of the row"
  }

  /** Name of the row-position metadata column: the row's PHYSICAL
    * ordinal within its source file (Iceberg's `_pos`), stable across
    * re-reads because data files are immutable. The merge-on-read
    * DELETE's substrate ([[ArrowDeleteVectors]]) and a queryable
    * provenance surface in its own right. Projection takes the row
    * path — positions are per-row values, not per-partition constants. */
  val PosColumn = "_pos"

  private[sources] val posField: StructField =
    StructField(PosColumn, org.apache.spark.sql.types.LongType, nullable = false)

  private[sources] object PosMetadataColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = PosColumn
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String = "physical row ordinal within the source file"
  }
}

/** Wraps a reader factory to splice the `_file` metadata column in as a
  * per-partition constant at `slot` (the readers' data schema omits it —
  * the value is the partition's own path, never stored). Key-grouped
  * partitions never appear here: `_file` projection disables grouping. */
private[sources] class ArrowFileColReaderFactory(
    inner: PartitionReaderFactory, dataSchema: StructType, slot: Int)
    extends PartitionReaderFactory {

  private def fileOf(p: InputPartition): String = p match {
    case p: ArrowFilePartition => p.file
    case h: ArrowHiveFilePartition => h.file
    case other => throw new IllegalStateException(
      s"arrow-ipc: _file projection over unexpected partition $other")
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val in = inner.createReader(p)
    val const = UTF8String.fromString(fileOf(p))
    val types = dataSchema.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = in.next()
      override def get(): InternalRow = {
        val row = in.get()
        val vals = new Array[Any](types.length + 1)
        var i = 0
        while (i < types.length + 1) {
          vals(i) =
            if (i == slot) const
            else if (i < slot) row.get(i, types(i))
            else row.get(i - 1, types(i - 1))
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      }
      override def close(): Unit = in.close()
    }
  }

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
    import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
    val in = inner.createColumnarReader(p)
    val const = UTF8String.fromString(fileOf(p))
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = in.next()
      override def get(): ColumnarBatch = {
        val b = in.get()
        val vecs = new Array[ColumnVector](b.numCols() + 1)
        var i = 0
        while (i < vecs.length) {
          vecs(i) =
            if (i == slot) {
              val v = new ConstantColumnVector(b.numRows(), StringType)
              v.setUtf8String(const)
              v
            } else if (i < slot) b.column(i)
            else b.column(i - 1)
          i += 1
        }
        new ColumnarBatch(vecs, b.numRows())
      }
      override def close(): Unit = in.close()
    }
  }
}

/** One UPDATE/MERGE/DELETE command's shared state: the scan built for the
  * ReplaceData plan is recorded here so the write's commit can ask it
  * which files the executed plan actually read — the exact set the swap
  * must replace. */
private[sources] class ArrowCowOperation(
    schema: StructType, dir: String, info: RowLevelOperationInfo)
    extends RowLevelOperation {
  @volatile private[sources] var scan: ArrowIpcScan = _

  override def command(): RowLevelOperation.Command = info.command
  override def description(): String = s"arrow-ipc COW ${info.command} $dir"

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    // group-based: the rewrite reads every row of an affected file, so
    // the command's condition only prunes files here
    new ArrowIpcScanBuilder(schema, dir, onBuild = s => scan = s,
      exactRows = false)

  override def newWriteBuilder(writeInfo: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new ArrowCowWrite(ArrowCowOperation.this, schema, dir, writeInfo)
    }

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(ArrowRowLevel.FileColumn))
}

/** The ReplaceData write: stages the replacement rows as a complete
  * hidden dataset via the ordinary batch write (pointed at `.cow-<id>/`,
  * clustered on the standing layout keys, standing bloom columns
  * preserved), then commits with the crash-safe [[ArrowMaintenance
  * .cowSwap]] — serialized and validated under [[ArrowOcc]]: a
  * concurrent commit that removed any file this statement rewrites wins,
  * and the statement fails with a CommitConflictException (its staged
  * rows came from an executed plan over a snapshot that no longer
  * exists — only the user can re-run it). */
private[sources] class ArrowCowWrite(
    op: ArrowCowOperation, schema: StructType, dir: String,
    writeInfo: LogicalWriteInfo)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  require(writeInfo.schema().fieldNames.sameElements(schema.fieldNames),
    s"arrow-ipc COW: replacement schema ${writeInfo.schema()} does not " +
      s"match table schema $schema")

  private val dirPath = new Path(dir)

  // EARLY refusal on live equality tombstones (the commit-time guard in
  // commitSwap is authoritative; this one fails the statement before it
  // pays the rewrite): a COW output's reset sequence would let standing
  // tombstones re-mask the rewritten rows.
  require(!ArrowEqualityDeletes.any(
      dirPath.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration), dirPath),
    s"arrow-ipc: $dir has live equality-delete tombstones — row-level " +
      "DML is deferred until they fold (ArrowEqualityDeletes.fold / " +
      "CALL graft.system.purge_eq)")
  private def fs = dirPath.getFileSystem(
    SparkSession.active.sparkContext.hadoopConfiguration)

  private val stagingName =
    ".cow-" + java.util.UUID.randomUUID.toString.take(8)

  /** Standing layout + bloom declarations, read once at write planning:
    * the rewrite clusters on the same keys (keyed files stay
    * single-valued, hive files stay in value directories) and re-derives
    * blooms for every column any live file carries one for, so pruning
    * capability survives the rewrite. */
  private val (standingKeys, standingHive, standingBlooms) = {
    val f = fs
    val keys = ArrowLayout.read(f, dirPath)
    val hive = ArrowHiveLayout.read(f, dirPath)
    // a standing bloom on a since-DROPped column must not wedge DML:
    // only columns still in the schema re-derive their blooms
    val blooms = ArrowFileStats.read(f, dirPath).values
      .flatMap(_.cols.collect { case (n, c) if c.bloom.isDefined => n })
      .toSet.intersect(schema.fieldNames.toSet)
    (keys, hive, blooms)
  }

  private val inner = new ArrowIpcWrite(writeInfo.schema(),
    new Path(dirPath, stagingName).toString, None, writeInfo.queryId(),
    false, standingKeys, standingHive, standingBlooms)

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"arrow-ipc COW ${op.command()} $dir staging=$stagingName"

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    inner.requiredDistribution()
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    inner.requiredOrdering()

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val f = fs
    // finish any dead swap, then clear staging dirs of runs that
    // PROVABLY died before recording intent (a younger `.cow-*` may be a
    // concurrent DML mid-stage — the commit-time validation, not the
    // sweep, arbitrates between us) — BEFORE creating this run's staging
    ArrowMaintenance.recover(SparkSession.active, dir)
    ArrowOcc.sweepStaleStaging(f, dirPath, ".cow-*")
    inner.createBatchWriterFactory(info)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // staging becomes a complete dataset (sentinel, stats, _SUCCESS) —
    // the live directory is untouched and readable until the swap
    inner.commit(messages)
    val scan = op.scan
    if (scan == null) throw new IllegalStateException(
      s"arrow-ipc COW on $dir: no scan was planned for the rewrite")
    val olds = scan.replacedFiles
    val f = fs
    val stagingPath = new Path(dirPath, stagingName)
    // staged data files, relative to the staging root (nested for hive);
    // names embed this write's fresh queryId so they cannot collide with
    // any live name — moves are identity on the relative path
    val staged = ArrowSnapshots.listDataFiles(f, stagingPath)
    ArrowMaintenance.cowSwap(f, dirPath, olds, stagingName,
      staged.map(s => s -> s).toMap, standingKeys,
      dvs = scan.plannedDvRels(olds))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    inner.abort(messages)
    fs.delete(new Path(dirPath, stagingName), true)
  }
}
