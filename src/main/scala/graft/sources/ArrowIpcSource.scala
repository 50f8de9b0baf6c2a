package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face of [[ArrowInterchange]] — `spark.read
  * .format("arrow-ipc").load(dir)`, the one reader of arrow-ipc data
  * files. Column pruning comes FROM THE PLAN. A `select`/projection
  * anywhere downstream reaches this scan as `SupportsPushDownRequiredColumns
  * .pruneColumns`, so the reader decodes exactly the projected vectors with
  * no API cooperation from the caller — the DSv2 analog of the reference
  * scan's `column_indices` pushdown (DataStreams/ParquetBlockInputStream
  * .cpp:33-38), and the same mechanism Spark's own parquet source uses.
  *
  * Scale shape: one `InputPartition` per IPC file (the natural parallel
  * unit — each file streams batch-by-batch, never loaded whole), executor-
  * side file opens through the Hadoop FS API (`file:`/`hdfs:`/`s3a:`),
  * decode straight to Catalyst internal values (no `Row` boxing →
  * `createDataFrame` round-trip). Every file header is validated by NAME
  * against the dataset schema with the offending path in the error; the
  * `_schema.arrows` sentinel + `_SUCCESS` completeness gate is the
  * table's live view ([[ArrowLiveView]]).
  */
class ArrowIpcSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrow-ipc"
  override def supportsExternalMetadata(): Boolean = true

  private def dir(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).orElse(Option(options.get("paths")))
    require(p.isDefined && p.get.nonEmpty,
      "arrow-ipc: a directory path is required — spark.read.format(\"arrow-ipc\").load(dir)")
    // .load(dir) passes a JSON array through "paths" for multi-path loads;
    // this source reads ONE dataset directory (one schema contract)
    val raw = p.get
    if (raw.startsWith("[")) {
      val inner = raw.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      require(inner.length == 1, s"arrow-ipc: exactly one directory, got ${inner.length}")
      inner.head
    } else raw
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val base = ArrowInterchange.readSchema(SparkSession.active, dir(options))
    // the change feed serves the table schema plus the change-type column
    if (options.getBoolean("changeFeed", false)) {
      // a data column claiming the name would mis-wire the appended
      // constant (duplicate field, shifted slots) — refuse loudly
      require(!base.fieldNames.contains(ArrowChangesStream.ChangeTypeColumn),
        s"arrow-ipc: changeFeed appends a " +
          s"`${ArrowChangesStream.ChangeTypeColumn}` column, but this " +
          "dataset's schema already claims that name — rename the data " +
          "column to read its change feed")
      StructType(base.fields :+
        StructField(ArrowChangesStream.ChangeTypeColumn, StringType, nullable = false))
    } else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ArrowIpcTable(schema,
      dir(new CaseInsensitiveStringMap(properties)))
}

/** `asOf`: a TIME-TRAVEL pin ([[ArrowCatalog.loadTable]] `VERSION AS OF`
  * / `TIMESTAMP AS OF`) — scans read the pinned snapshot's file set and
  * every mutation refuses. The read option `asOfSnapshot` pins a single
  * DataFrame read the same way. `view`: a view the caller already loaded
  * — any chosen set of the table's files, live or pinned at `asOf`
  * ([[ArrowMaintenance.stagingFrame]]) — scans read exactly its files
  * and list nothing. */
private[sources] class ArrowIpcTable(tableSchema: StructType, dir: String,
    asOf: Option[Long] = None, view: Option[ArrowLiveView] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String =
    s"arrow-ipc `$dir`" + asOf.fold("")(v => s" VERSION AS OF $v")
  override def schema(): StructType = tableSchema

  private def refuseIfPinned(op: String): Unit =
    require(asOf.isEmpty,
      s"arrow-ipc: $op on a time-travel read (VERSION AS OF ${asOf.get}) " +
        "is not allowed — address the live table instead")

  /** `_file` — each row's source file path. Queryable provenance
    * (`SELECT _file, * FROM …`) and the substrate of copy-on-write
    * row-level operations (runtime GROUP filtering selects affected
    * files by it). Suppressed if a data column claims the name. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    val names = tableSchema.fieldNames
    Array[org.apache.spark.sql.connector.catalog.MetadataColumn](
      ArrowRowLevel.FileMetadataColumn, ArrowRowLevel.PosMetadataColumn)
      .filter(c => !names.contains(c.name))
  }

  /** SQL `UPDATE` / `MERGE INTO` / non-provable `DELETE` via group-based
    * COPY-ON-WRITE: scan the affected files (runtime group filtering on
    * `_file` narrows to files that truly contain matches), write the
    * modified survivor rows to a hidden staging dataset, and swap old
    * files for new under the `_SUCCESS` latch with compaction's
    * crash-safe intent/replay. Provable DELETEs still take the
    * metadata-only path above (Spark's OptimizeMetadataOnlyDeleteFromTable
    * asks [[canDeleteWhere]] first). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    refuseIfPinned(info.command.toString)
    // the rewrite protocol NEEDS the `_file` metadata column (it selects
    // the replaced files and anchors Spark's row projections); a schema
    // that shadows the name suppresses it, so DML must refuse loudly
    // here rather than mis-route rows downstream
    require(!tableSchema.fieldNames.contains(ArrowRowLevel.FileColumn),
      s"arrow-ipc: ${info.command} needs the `${ArrowRowLevel.FileColumn}` " +
        "metadata column, but this dataset's schema claims that name — " +
        "rename the data column to use row-level DML")
    // Each command routes by its mode conf (`spark.graft.arrow
    // .deleteMode` / `updateMode` / `mergeMode`): `cow` (default)
    // rewrites affected files; `mor` ships position deltas through the
    // SupportsDelta protocol (ArrowMorRowLevel) — deletion vectors for
    // the old images, an ordinary append for UPDATE/MERGE's new rows;
    // O(changed rows), unchanged rows never rewrite. Provable whole-file
    // deletes are intercepted by canDeleteWhere BEFORE either.
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val modeKey = info.command match {
      case Command.DELETE => "spark.graft.arrow.deleteMode"
      case Command.UPDATE => "spark.graft.arrow.updateMode"
      case _ => "spark.graft.arrow.mergeMode"
    }
    val mor = scala.util.Try(SparkSession.active.conf
      .get(modeKey, "cow")).getOrElse("cow") == "mor"
    if (mor) {
      require(!tableSchema.fieldNames.contains(ArrowRowLevel.PosColumn),
        s"arrow-ipc: merge-on-read ${info.command} needs the " +
          s"`${ArrowRowLevel.PosColumn}` metadata column, but this " +
          "dataset's schema claims that name — rename the data column " +
          s"or use $modeKey=cow")
      () => new ArrowMorOperation(tableSchema, dir, info)
    } else
      () => new ArrowCowOperation(tableSchema, dir, info)
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** METADATA-LEVEL DELETE (`DELETE FROM graft.\`dir\` WHERE …` through
    * [[ArrowCatalog]]): whole files whose stats PROVE every row matches
    * are dropped, files that provably contain no match stay untouched,
    * anything in between refuses — Spark then reports the predicate as
    * non-deletable instead of this source guessing. The Iceberg
    * metadata-delete contract over this source's own manifest; see
    * [[ArrowMaintenance.deleteWhere]] for the crash-safe swap. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf.isEmpty &&
      ArrowMaintenance.canDeleteWhere(SparkSession.active, dir, filters)
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    refuseIfPinned("DELETE")
    ArrowMaintenance.deleteWhere(SparkSession.active, dir, filters)
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // ambiguous time travel refuses LOUDLY (round 15, house style —
    // matching restore's exactly-one-of contract) instead of resolving
    // by silent precedence: a reader passing both a snapshot id and a
    // tag almost certainly believes they agree, and serving one of them
    // unchecked hides the disagreement
    require(options.get("asOfSnapshot") == null || options.get("tag") == null,
      "arrow-ipc: asOfSnapshot and tag are mutually exclusive — pass " +
        "exactly one time-travel pin")
    require(Seq("startingSnapshot", "startingTag", "startingTimestamp")
        .count(options.get(_) != null) <= 1,
      "arrow-ipc: startingSnapshot/startingTag/startingTimestamp are " +
        "mutually exclusive — pass exactly one change-feed start")
    new ArrowIpcScanBuilder(tableSchema, dir,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("partitionKeys"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      asOf = asOf.orElse(Option(options.get("asOfSnapshot")).map(_.toLong))
        // option("tag", name): time travel by named ref (ArrowTags) —
        // resolves once at plan time to the same asOf pin as a numeric id
        .orElse(Option(options.get("tag")).map { t =>
          val p = new Path(dir)
          ArrowTags.resolveRequired(
            p.getFileSystem(
              SparkSession.active.sparkContext.hadoopConfiguration), p, t)
        }),
      changeFeed = options.getBoolean("changeFeed", false),
      startingSnapshot = Option(options.get("startingSnapshot")).map(_.toLong)
        // option("startingTag", name): start the feed after the tagged
        // snapshot — "everything since release v1.0", resolved at plan time
        .orElse(Option(options.get("startingTag")).map { t =>
          val p = new Path(dir)
          ArrowTags.resolveRequired(
            p.getFileSystem(
              SparkSession.active.sparkContext.hadoopConfiguration), p, t)
        }),
      startingTimestamp = Option(options.get("startingTimestamp")),
      maxSnapshotsPerTrigger =
        Option(options.get("maxSnapshotsPerTrigger")).map(_.toInt),
      ignoreDeletes = options.getBoolean("ignoreDeletes", false),
      ignoreRestores = options.getBoolean("ignoreRestores", false),
      eqEmitDeleted = "deleted".equalsIgnoreCase(options.get("eqEmit")),
      handed = view)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    refuseIfPinned("writing")
    // WAP: option("branch", name) redirects the write to the table's
    // `.branch/<name>/` staging dataset — invisible to main readers
    // until CALL publish_branch (ArrowBranch). Spark already validated
    // the frame against THIS table's schema, so the staged batch is
    // publish-compatible by construction.
    val targetDir = Option(info.options.get("branch")).fold(dir) { b =>
      require(b.matches("[A-Za-z0-9_-]+"),
        s"arrow-ipc: invalid branch name '$b' ([A-Za-z0-9_-] only)")
      // mirror ArrowBranch.write's flat-only refusal: a branch staged on
      // a hive table would publish flat part files into the table root
      // where a pure-hive read never lists them (silently invisible rows)
      val dp = new Path(dir)
      require(ArrowHiveLayout.read(
          dp.getFileSystem(SparkSession.active.sparkContext
            .hadoopConfiguration), dp).isEmpty,
        s"arrow-ipc branch: $dir is hive-partitioned — branches are " +
          "flat-layout only")
      new Path(dir, s"${ArrowBranch.BranchRoot}/$b").toString
    }
    new ArrowIpcWriteBuilder(info.schema(), targetDir,
      Option(info.options.get("codec")), info.queryId(),
      Option(info.options.get("partitionKeys"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      Option(info.options.get("hivePartitionKeys"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      Option(info.options.get("bloomColumns"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty),
      Option(info.options.get("maxRecordsPerFile")).map(_.toLong),
      Option(info.options.get("autoCompactEvery")).map(_.toInt),
      Option(info.options.get("autoCompactTargetBytes")).map(_.toLong),
      Option(info.options.get("commitToken")))
  }
}

private[sources] class ArrowIpcScanBuilder(full: StructType, dir: String,
    maxFilesPerTrigger: Option[Int] = None,
    partitionKeys: Option[Seq[String]] = None,
    onBuild: ArrowIpcScan => Unit = null,
    asOf: Option[Long] = None,
    changeFeed: Boolean = false,
    startingSnapshot: Option[Long] = None,
    startingTimestamp: Option[String] = None,
    maxSnapshotsPerTrigger: Option[Int] = None,
    ignoreDeletes: Boolean = false,
    ignoreRestores: Boolean = false,
    eqEmitDeleted: Boolean = false,
    handed: Option[ArrowLiveView] = None,
    exactRows: Boolean = true)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = full
  private var limit: Int = -1
  private var fileSlot: Int = -1
  private var posSlot: Int = -1
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  /** The pushed filters the readers evaluate exactly (none returned as
    * residual). */
  private var evaluated: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var agg: Option[(StructType, Array[Array[Any]])] = None
  /** The live view [[pushAggregation]] listed or was handed, if any. */
  private var listed: Option[ArrowLiveView] = handed

  /** COUNT(*)/COUNT(col)/MIN/MAX answered from `_stats.json` ALONE — no
    * data file is opened (the reader factory emits precomputed rows). The
    * 100 TB shape this serves: "how many rows / what's the key range of
    * this interchange directory" costs one manifest read instead of a
    * full scan — the same trick Spark's parquet source plays with footer
    * stats, carried by this source's own commit-time manifest.
    *
    * GROUP BY pushes too, when every grouping column is PROVABLY
    * single-valued in every file per [[ArrowFileStats.singleValue]]
    * (exact-or-invalid intervals; all-null files group under NULL) — the
    * key-grouped layout `Sinks.writeKeyGrouped` produces. The scan then
    * emits one row per FILE (group values + that file's partial
    * aggregates) and Spark's final aggregate merges same-key files, so
    * `keyed.groupBy(k).agg(count, min, max)` over a 100 TB directory is a
    * manifest read, not a scan.
    *
    * Refused (→ full scan) unless provably exact: any pushed filter
    * (stats are whole-file; Spark asks even when the readers evaluate
    * every filter exactly, as no post-scan Filter remains) or limit,
    * DISTINCT, a grouping column without a
    * per-file single-value proof, a file missing from the manifest
    * (function-style writers predate stats), or a min/max column whose
    * interval is invalid in any file that has non-null rows (NaN,
    * supplementary-plane strings, unsupported type). Partial push
    * (`supportCompletePushDown` stays false): Spark still runs its final
    * aggregate over the emitted rows, so a wrong-footed merge cannot
    * change results — only skip the scan.
    *
    * `spark.graft.arrow.aggPushdown=false` disables the push entirely (the
    * parquet-source knob's analog) — the escape hatch when the raw keyed
    * scan is wanted instead, e.g. to group exchange-free via
    * `KeyGroupedPartitioning` (a pushed-agg scan cannot report
    * partitioning: Spark resolves the reported keys against the
    * pre-pushdown relation but requires them among the rewritten scan
    * output's exprIds, so the report is always dropped — the pushed path
    * instead pays one exchange over #files partial rows, metadata volume). */
  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (pushed.nonEmpty || limit >= 0)
      return false
    // a time-travel read must never answer from the manifest: stats
    // describe the LIVE file set, not the pinned snapshot's
    if (asOf.isDefined)
      return false

    val spark = SparkSession.active
    if (!spark.conf.get("spark.graft.arrow.aggPushdown", "true").toBoolean)
      return false
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dirPath)) return false
    // manifest rows are PHYSICAL counts: a live deletion vector means
    // some of them are masked, and a metadata-only answer would count
    // deleted rows — refuse the push, scan honestly (the next compaction
    // folds the vectors away and re-enables it)
    if (ArrowDeleteVectors.any(fs, dirPath)) return false
    // same refusal for live equality tombstones (masked rows are only
    // knowable by probing keys — no metadata answer exists until a fold)
    if (ArrowEqualityDeletes.any(fs, dirPath)) return false
    // a closed gate declines (the scan then waits it out); an open view
    // is handed to the scan this builder builds, so a declined push
    // costs no second listing. Every generation of an evolving table is
    // in the view: hive files splice their directory values into their
    // stats entries (exact single-value stats), so the same manifest
    // arithmetic answers aggregates over partition keys too (GROUP BY a
    // hive key = one partial row per file, no file opened)
    val view = handed.getOrElse(ArrowLiveView.load(spark, dir, full))
    if (!view.open) return false
    listed = Some(view)
    val files = view.files.map(_.name).toArray

    /** Per-file stats for every data file — the GROUP-BY-push substrate
      * (one emitted row per file needs per-file values). O(shards) parses.
      * Hive files splice their directory values in as single-value cols. */
    def fullStats(): Option[Array[graft.sources.FileStats]] = {
      val stats = ArrowFileStats.read(fs, dirPath)
      if (!files.forall(stats.contains)) None
      else Some(files.map(view.withPartitionStats(stats)))
    }

    /** GLOBAL aggregates answer from the base manifest + the commit
      * ENVELOPES in `_stats_index.json` — count/min/max/sum all merge
      * commit-wide, so planning reads the small index instead of parsing
      * every shard (the O(all files) driver cost the index exists to
      * remove). An envelope is trusted only while its shard file still
      * exists, which filters the documented stale-index-row race under
      * the single-writer maintenance contract. */
    def envelopeStats(): Option[Array[graft.sources.FileStats]] = {
      val base = ArrowFileStats.readBase(fs, dirPath)
      val nonBase = files.filterNot(base.contains)
      if (nonBase.isEmpty) return Some(files.flatMap(base.get))
      val index = ArrowFileStats.readIndex(fs, dirPath)
      val live = ArrowFileStats.shardIds(fs, dirPath).toSet
      val envIds = index.keysIterator
        .filter(q => live(q) && nonBase.exists(_.endsWith(s"-$q.arrows")))
        .toSeq.sorted
      if (!nonBase.forall(f => envIds.exists(q => f.endsWith(s"-$q.arrows")))) None
      else Some(files.flatMap(base.get) ++ envIds.map(index))
    }

    def col(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          full.fields.find(_.name == r.fieldNames.head)
        case _ => None
      }

    /** Build the pushed answer from a resolved stats array — per-file
      * rows, or base+envelope rows for the global case (both merge
      * identically: count/min/max/sum are commit-associative). Rejects by
      * `return false` or by NoSuchElementException (the dispatcher below
      * may then retry with full per-file stats). */
    def answer(perFile: Array[graft.sources.FileStats]): Boolean = {

    /** (canonical-string extreme, its ColStats kind) over all files, via
      * the same comparison the pruner uses; None = no non-null rows
      * anywhere. Throws to reject when any file's interval is invalid
      * yet holds non-null rows. */
    def extreme(name: String, wantMin: Boolean): Option[String] = {
      val vals = perFile.flatMap { st =>
        val c = st.cols.getOrElse(name, throw new NoSuchElementException)
        (c.min, c.max) match {
          case (Some(mn), Some(mx)) => Some(((if (wantMin) mn else mx), c.kind))
          case _ if c.nulls >= st.rows => None // all-null file: contributes nothing
          case _ => throw new NoSuchElementException // invalid interval: refuse
        }
      }
      if (vals.isEmpty) None
      else {
        val kind = vals.head._2
        // shared canonical order: numeric for long/double/decimal, text
        // for string and hex-binary (where text order IS byte order)
        Some(vals.map(_._1).reduce((a, b) =>
          if (ArrowFileStats.ltCanonical(kind, a, b) == wantMin) a else b))
      }
    }

    def internal(dt: org.apache.spark.sql.types.DataType, s: String): Any =
      ArrowFileStats.internalFromCanonical(dt, s)

    /** Spark's sum result type for a pushable column, and whether the
      * column is manifest-summable at all (exact kinds only — doubles are
      * refused because rounding is order-dependent). Integral sums are
      * additionally refused under ANSI mode: the stored partials wrap
      * (matching non-ANSI scan semantics exactly), but an ANSI scan
      * THROWS on overflow — a pushed answer that can silently differ
      * from the scan is worse than a scan. Decimal partials are exact
      * (no wrapping to hide), so Spark's final merge keeps whichever
      * overflow semantics the session runs. */
    def sumResultType(dt: org.apache.spark.sql.types.DataType):
        Option[org.apache.spark.sql.types.DataType] = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        if (spark.conf.get("spark.sql.ansi.enabled", "false").toBoolean) None
        else Some(org.apache.spark.sql.types.LongType)
      case d: DecimalType =>
        Some(DecimalType(math.min(38, d.precision + 10), d.scale))
      case _ => None
    }

    /** One file's exact sum contribution: None = no non-null rows
      * (contributes nothing / NULL). Throws to reject when the file has
      * non-null rows but no recorded sum (pre-sum manifest, invalidated
      * column) — a partial answer would be silently wrong. */
    def fileSum(st: graft.sources.FileStats, name: String): Option[String] = {
      val c = st.cols.getOrElse(name, throw new NoSuchElementException)
      if (c.nulls >= st.rows) None
      else c.sum match {
        case s @ Some(_) => s
        case None => throw new NoSuchElementException
      }
    }

    /** Sum canonical → internal value of `resType`. Wrapping long for the
      * integral family; exact BigDecimal (precision-checked) for decimal. */
    def sumInternal(resType: org.apache.spark.sql.types.DataType, s: String): Any =
      resType match {
        case org.apache.spark.sql.types.LongType => s.toLong
        case d: DecimalType =>
          val dec = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(s))
          if (!dec.changePrecision(d.precision, d.scale))
            throw new NoSuchElementException // partial wider than sum type: refuse
          dec
        case _ => throw new NoSuchElementException
      }

    /** Merge per-file sum canonicals the way Spark's final Sum would:
      * wrapping 64-bit add (associative) or exact BigDecimal add. */
    def mergeSums(resType: org.apache.spark.sql.types.DataType,
        vals: Array[String]): Option[String] = resType match {
      case org.apache.spark.sql.types.LongType =>
        if (vals.isEmpty) None else Some(vals.map(_.toLong).sum.toString)
      case _: DecimalType =>
        if (vals.isEmpty) None
        else Some(vals.map(new java.math.BigDecimal(_))
          .reduce(_.add(_)).toPlainString)
      case _ => None
    }

    /** One file's contribution to a min/max: its exact interval endpoint,
      * None when the file holds no non-null rows. Throws to reject when
      * the interval is invalid yet non-null rows exist. */
    def fileExtreme(st: graft.sources.FileStats, name: String,
        wantMin: Boolean): Option[String] = {
      val c = st.cols.getOrElse(name, throw new NoSuchElementException)
      (c.min, c.max) match {
        case (Some(mn), Some(mx)) => Some(if (wantMin) mn else mx)
        case _ if c.nulls >= st.rows => None
        case _ => throw new NoSuchElementException
      }
    }

      if (aggregation.groupByExpressions.isEmpty) {
        val out = aggregation.aggregateExpressions.map {
          case _: CountStar =>
            (StructField("count(*)", org.apache.spark.sql.types.LongType, nullable = false),
              perFile.map(_.rows).sum: Any)
          case c: Count if !c.isDistinct =>
            val f = col(c.column).getOrElse(return false)
            if (ArrowFileStats.kindOf(f.dataType) == 0) return false
            val cnt = perFile.map { st =>
              st.cols.get(f.name).fold(return false)(cs => st.rows - cs.nulls)
            }.sum
            (StructField(s"count(${f.name})", org.apache.spark.sql.types.LongType,
              nullable = false), cnt: Any)
          case m: Min =>
            val f = col(m.column).getOrElse(return false)
            if (ArrowFileStats.kindOf(f.dataType) == 0) return false
            (StructField(s"min(${f.name})", f.dataType),
              extreme(f.name, wantMin = true).map(internal(f.dataType, _)).orNull: Any)
          case m: Max =>
            val f = col(m.column).getOrElse(return false)
            if (ArrowFileStats.kindOf(f.dataType) == 0) return false
            (StructField(s"max(${f.name})", f.dataType),
              extreme(f.name, wantMin = false).map(internal(f.dataType, _)).orNull: Any)
          case s: Sum if !s.isDistinct =>
            val f = col(s.column).getOrElse(return false)
            val resType = sumResultType(f.dataType).getOrElse(return false)
            val partials = perFile.flatMap(fileSum(_, f.name))
            (StructField(s"sum(${f.name})", resType),
              mergeSums(resType, partials).map(sumInternal(resType, _)).orNull: Any)
          case _ => return false
        }
        agg = Some((StructType(out.map(_._1)), Array(out.map(_._2))))
      } else {
        // GROUP BY push: V2ScanRelationPushDown expects the scan schema as
        // grouping columns FIRST, aggregate columns after, bound by
        // position — one emitted row per file, merged by Spark's final
        // aggregate (count→sum, min→min, max→max over same-key files)
        val groupFields = aggregation.groupByExpressions.map(col(_).getOrElse(return false))
        if (groupFields.exists(f => ArrowFileStats.kindOf(f.dataType) == 0)) return false
        // canonical key strings kept alongside the internal values: they
        // give a deterministic emission order (files sorted by key) and
        // the per-file HasPartitionKey grouping downstream
        val groupCanon: Array[Array[Option[String]]] = perFile.map { st =>
          groupFields.map { f =>
            ArrowFileStats.singleValue(st, f.name) match {
              case Some(v) => v
              case None => return false // not provably single-valued: full scan
            }
          }
        }
        val groupVals: Array[Array[Any]] = groupCanon.map(
          _.zip(groupFields).map { case (v, f) =>
            v.map(internal(f.dataType, _)).orNull: Any
          })
        val aggPerFile: Array[(StructField, graft.sources.FileStats => Any)] =
          aggregation.aggregateExpressions.map {
            case _: CountStar =>
              (StructField("count(*)", org.apache.spark.sql.types.LongType, nullable = false),
                (st: graft.sources.FileStats) => st.rows: Any)
            case c: Count if !c.isDistinct =>
              val f = col(c.column).getOrElse(return false)
              if (ArrowFileStats.kindOf(f.dataType) == 0) return false
              if (perFile.exists(st => !st.cols.contains(f.name))) return false
              (StructField(s"count(${f.name})", org.apache.spark.sql.types.LongType,
                nullable = false),
                (st: graft.sources.FileStats) =>
                  st.rows - st.cols(f.name).nulls: Any)
            case m: Min =>
              val f = col(m.column).getOrElse(return false)
              if (ArrowFileStats.kindOf(f.dataType) == 0) return false
              (StructField(s"min(${f.name})", f.dataType),
                (st: graft.sources.FileStats) =>
                  fileExtreme(st, f.name, wantMin = true)
                    .map(internal(f.dataType, _)).orNull: Any)
            case m: Max =>
              val f = col(m.column).getOrElse(return false)
              if (ArrowFileStats.kindOf(f.dataType) == 0) return false
              (StructField(s"max(${f.name})", f.dataType),
                (st: graft.sources.FileStats) =>
                  fileExtreme(st, f.name, wantMin = false)
                    .map(internal(f.dataType, _)).orNull: Any)
            case s: Sum if !s.isDistinct =>
              val f = col(s.column).getOrElse(return false)
              val resType = sumResultType(f.dataType).getOrElse(return false)
              // probe every file NOW so an unanswerable one rejects the
              // whole push (the per-row closures run after `true` returns)
              perFile.foreach(fileSum(_, f.name))
              (StructField(s"sum(${f.name})", resType),
                (st: graft.sources.FileStats) =>
                  fileSum(st, f.name).map(sumInternal(resType, _)).orNull: Any)
            case _ => return false
          }
        val rows = perFile.indices.toArray
          .sortBy(i => groupCanon(i).map(_.fold("\u0000")("v" + _)).mkString("\u0001"))
          .map(i => groupVals(i) ++ aggPerFile.map(_._2(perFile(i))))
        agg = Some((StructType(
          groupFields.map(f => StructField(f.name, f.dataType)) ++ aggPerFile.map(_._1)),
          rows))
      }
      true
    } // answer

    try {
      // a handed view may hold part of a commit, whose envelope also
      // covers files outside it: only per-file stats answer for it
      if (aggregation.groupByExpressions.isEmpty && handed.isEmpty)
        // a corrupt index degrades to the per-file path, like a missing one
        scala.util.Try(envelopeStats()).toOption.flatten match {
          case Some(pf) =>
            try answer(pf) catch {
              // pre-sum envelope (older index): retry with per-file stats
              case _: NoSuchElementException => fullStats().exists(answer)
            }
          case None => fullStats().exists(answer)
        }
      else fullStats().exists(answer)
    } catch {
      case _: NoSuchElementException => false
      // a corrupt manifest/shard/index refuses the push (→ full scan,
      // which provably tolerates corrupt shards) instead of failing the
      // whole planning — json4s parse errors land here
      case scala.util.control.NonFatal(_) => false
    }
  }
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Catalyst hands back a subset of `full` in table-schema order; empty
    // (count(*)-style) is legal — the reader then just counts rows.
    // NESTED prunes (a sub-struct of a struct column) are widened back to
    // the full column type: the readers resolve and decode whole columns
    // (a pruned-subset struct would mis-ordinal the columnar child
    // vectors), and Spark projects the subfields post-scan. Top-level
    // column pruning — the one that matters for scan volume — is kept.
    // The `_file` METADATA column (provenance; the copy-on-write
    // substrate) is never in the data files: its slot is recorded and
    // the readers splice the partition's path back in as a constant.
    // `_pos` (row provenance; the merge-on-read delete substrate) is
    // likewise spliced — per-row from the reader's position counter.
    // A column only an exactly-evaluated filter reads may be pruned here:
    // the readers resolve the filter's columns in each file on their own
    // ([[ArrowRowFilter]]), so it stays readable without being emitted.
    def isMeta(f: StructField, name: String): Boolean =
      f.name == name && !full.fieldNames.contains(name)
    fileSlot = requiredSchema.fields.indexWhere(isMeta(_, ArrowRowLevel.FileColumn))
    posSlot = requiredSchema.fields.indexWhere(isMeta(_, ArrowRowLevel.PosColumn))
    required = StructType(requiredSchema.fields
      .filter(f => !isMeta(f, ArrowRowLevel.FileColumn) &&
        !isMeta(f, ArrowRowLevel.PosColumn))
      .map { f =>
        full.fields.find(_.name == f.name).getOrElse(f)
      })
  }
  override def pushLimit(n: Int): Boolean = {
    // PARTIAL push (return false → Spark keeps its own Limit): each file
    // reader stops loading IPC batches once it has produced n rows, so a
    // `limit 10` over a TB directory reads ~one batch per file instead of
    // every batch of every file.
    limit = n
    false
  }
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    // Every prunable filter skips files by stats; the ones in
    // [[ArrowFileStats.exact]]'s set are also evaluated row by row inside
    // the readers and are not returned, so Spark plans no post-scan Filter
    // for them (and inlines no literal into generated code). Hive keys of
    // any generation stay residual: their values live in directory names,
    // not in the data the readers test. A group-based rewrite
    // (`exactRows = false`) must read whole files, so its filters only
    // prune.
    pushed = filters.filter(ArrowFileStats.prunable)
    evaluated =
      if (!exactRows || pushed.isEmpty) Array.empty
      else {
        val dirPath = new Path(dir)
        val hiveKeys = ArrowHiveLayout.readGenerations(
          dirPath.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration),
          dirPath).flatten.toSet
        pushed.filter(f => !f.references.exists(hiveKeys) &&
          ArrowFileStats.exact(f, full).isDefined)
      }
    filters.filterNot(evaluated.contains)
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def build(): Scan = {
    // the pushdown listing carried no filters: it is the scan's view only
    // while none were pushed; a handed view always is (filters still
    // prune its files by stats)
    val scan = new ArrowIpcScan(required, dir, limit, pushed, agg,
      maxFilesPerTrigger, partitionKeys, full, fileSlot, asOf,
      changeFeed, startingSnapshot, startingTimestamp, maxSnapshotsPerTrigger,
      posSlot, ignoreDeletes, ignoreRestores, eqEmitDeleted,
      handed.orElse(listed.filter(_ => pushed.isEmpty)), evaluated)
    if (onBuild != null) onBuild(scan)
    scan
  }
}

private[sources] class ArrowIpcScan(required: StructType, dir: String,
    limit: Int, filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    agg: Option[(StructType, Array[Array[Any]])] = None,
    maxFilesPerTrigger: Option[Int] = None,
    partitionKeys: Option[Seq[String]] = None,
    full: StructType = null,
    fileSlot: Int = -1,
    asOf: Option[Long] = None,
    changeFeed: Boolean = false,
    startingSnapshot: Option[Long] = None,
    startingTimestamp: Option[String] = None,
    maxSnapshotsPerTrigger: Option[Int] = None,
    posSlot: Int = -1,
    ignoreDeletes: Boolean = false,
    ignoreRestores: Boolean = false,
    eqEmitDeleted: Boolean = false,
    listed: Option[ArrowLiveView] = None,
    evaluated: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {
  override def readSchema(): StructType = agg.fold {
    // re-insert the metadata columns (`_pos`, `_file`) at the slots
    // Catalyst asked for — the readers splice them back in (a per-row
    // position, a per-partition path constant). Ascending-slot inserts:
    // the earlier insert shifts nothing at or after the later slot.
    var fields = required.fields.toVector
    Seq(posSlot -> ArrowRowLevel.posField, fileSlot -> ArrowRowLevel.fileField)
      .filter(_._1 >= 0).sortBy(_._1)
      .foreach { case (slot, f) => fields = fields.patch(slot, Seq(f), 0) }
    StructType(fields)
  }(_._1)
  override def toBatch: Batch = {
    require(!changeFeed,
      "arrow-ipc: option changeFeed is streaming-only (readStream) — for " +
        "a batch window use ArrowChanges.changeFeed(spark, dir, from, to)")
    this
  }
  override def description(): String =
    s"arrow-ipc $dir [${required.fieldNames.mkString(", ")}]" +
      (if (limit >= 0) s" limit=$limit" else "") +
      (if (filters.nonEmpty)
        s" pushed=[${filters.mkString(", ")}] files=${kept.length}/$totalFiles"
      else "") +
      agg.fold("")(a => s" PushedAggregation=[${a._1.fieldNames.mkString(", ")}] (manifest-only)") +
      grouping.fold("") { case (fields, parts) =>
        s" KeyGrouped=[${fields.map(_.name).mkString(", ")}]" +
          s" groups=${parts.map(_.key).distinct.length} files=${parts.length}"
      } +
      (if (view.hiveFields.nonEmpty)
        s" hive=[${view.hiveFields.map(_.name).mkString(", ")}]" +
          s" dirs=${view.dirCounts._1}/${view.dirCounts._2}"
      else "") +
      (if (fileSlot >= 0) " file-col" else "") +
      (if (posSlot >= 0) " pos-col" else "") +
      (if (dvPaths.nonEmpty) s" dvs=${dvPaths.size}" else "") +
      (if (eqTombs.nonEmpty) s" eqTombs=${eqTombs.length}" else "") +
      asOf.fold("")(v => s" asOf=$v")

  /** The table's live view for this batch read ([[ArrowLiveView]] states
    * the gate, visibility and generation rules): the one the table was
    * handed or the builder listed for aggregate pushdown, else loaded
    * here — waiting a closed gate out, then refusing. Hive value
    * directories the STATIC filters refute are never listed; a
    * time-travel read takes the pinned snapshot's file set. Keys resolve
    * against the FULL dataset schema (a projection may prune a partition
    * column the directories still nest by), then the sentinel (a user
    * schema may leave a key out). */
  private lazy val view: ArrowLiveView = listed.getOrElse(
    ArrowLiveView.forRead(SparkSession.active, dir,
      Option(full).getOrElse(required), filters, asOf))

  /** Manifest read + shard refutation, shared by planning, statistics,
    * explain, and runtime re-pruning. Stats-based skipping: files whose
    * `_stats.json` interval PROVES no row matches the pushed (or runtime)
    * filters are dropped before any task launches — the Arrow analog of
    * the reference's row-group pruning (ParquetBlockInputStream.cpp:33-38),
    * with parquet-style advisory semantics (a kept file's rows are still
    * filtered exactly: by the readers for `evaluated`, by Spark post-scan
    * for the rest). Missing stats (foreign or
    * function-style-written directories) keep every file. Stats-based
    * pruning stays SOUND for time travel: data files are immutable, so
    * the entries the manifest still holds describe them exactly. */
  private lazy val (manifest, refutedShards) =
    if (view.files.isEmpty) (Map.empty[String, FileStats], Set.empty[String])
    else {
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      // shard-level skipping: a commit whose ENVELOPE refutes the pushed
      // filters prunes every one of its files without its per-file stats
      // ever being loaded — planning cost stays O(index + matching
      // commits), not O(files), on a directory of thousands of commits.
      // A shard with NO index row (lost to the index's last-writer-wins
      // concurrency, or a deleted/stale index) degrades to a full shard
      // load — per-file pruning survives, only the commit-level skip is
      // lost; never a wrong skip, never an unpruned scan.
      // Stats are ADVISORY: any unparseable metadata file degrades (no
      // index → no commit-level skip; no shard/base stats → its files are
      // always kept) — a corrupt manifest must never fail the read itself.
      val index = scala.util.Try(ArrowFileStats.readIndex(fs, dirPath))
        .getOrElse(Map.empty[String, FileStats])
      // commit-level (envelope) skipping is LIVE-state only: a COW/delete
      // rewrites a shard's envelope to its surviving files, so an
      // envelope can refute values that exist ONLY in that commit's
      // trashed files — a time-travel read must not consult it. Per-FILE
      // entries below stay sound at any snapshot: files are immutable
      // and their entries are removed with them, never modified.
      val (refuted, liveIndexed) = index.keys.partition { qid =>
        filters.nonEmpty && asOf.isEmpty &&
          !filters.forall(f => ArrowFileStats.canMatch(f, index(qid)))
      }
      val unindexed = ArrowFileStats.shardIds(fs, dirPath)
        .filterNot(index.contains)
      val stats = scala.util.Try(ArrowFileStats.readBase(fs, dirPath))
        .getOrElse(Map.empty[String, FileStats]) ++
        (liveIndexed ++ unindexed).flatMap(q =>
          scala.util.Try(ArrowFileStats.readShard(fs, dirPath, q))
            .getOrElse(Map.empty[String, FileStats]))
      // hive files splice their directory-derived partition values in as
      // exact single-value columns — pushed and RUNTIME (DPP) filters on
      // partition keys then prune through the same canMatch machinery as
      // data-column stats (a manifest-less foreign file simply stays
      // unpruned, never wrongly skipped)
      (view.withPartitionStats(stats), refuted.toSet)
    }

  private def totalFiles = view.files.length

  /** Live deletion vectors keyed by data-file name, resolved ONCE per
    * scan: one listing of the (small) `.dv/` dir for live reads; for a
    * pinned snapshot, the vectors its view resolved with its files.
    * Values are absolute paths the readers open directly. Empty for the
    * un-deleted common case — zero per-file cost. */
  private lazy val dvPaths: Map[String, String] =
    if (asOf.isDefined) view.dvs
    else {
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      ArrowDeleteVectors.live(fs, dirPath).map { case (name, ref) =>
        name -> fs.makeQualified(new Path(dirPath, ref.rel)).toString
      }
    }

  private def dvFor(fileName: String): Option[String] =
    if (dvPaths.isEmpty) None else dvPaths.get(fileName)

  /** Live equality-delete tombstones (abs path, sequence), resolved once
    * per scan — one `.eq/` listing, empty for the ordinary table (zero
    * per-file cost). Time travel across equality commits refuses: a
    * trashed file's sequence left the manifest with it, so the masking
    * rule cannot be reconstructed as-of — fold first (the same
    * restriction Iceberg documents for equality deletes). */
  private lazy val eqTombs: Array[(String, Long)] = asOf match {
    case None =>
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      ArrowEqualityDeletes.liveTombs(fs, dirPath).map { case (rel, s) =>
        (fs.makeQualified(new Path(dirPath, rel)).toString, s)
      }.toArray
    case Some(v) =>
      require(!view.eqInForce,
        s"arrow-ipc: snapshot $v of $dir has equality-delete tombstones " +
          "in force — time travel across equality commits is not " +
          "supported (a retired file's sequence is gone); fold them " +
          "first (CALL graft.system.purge_eq), then travel to later " +
          "snapshots")
      Array.empty
  }

  private lazy val eqKeyCols: Seq[String] =
    if (eqTombs.isEmpty) Nil
    else {
      val dirPath = new Path(dir)
      ArrowEqualityDeletes.keyColsOf(
        dirPath.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration), dirPath)
    }

  /** The key column(s) as a schema with resolution metadata (field ids
    * / rename history) — pre-rename files resolve each key under its
    * old physical name, exactly like the projection does. A key a user
    * schema leaves out is typed from the sentinel. */
  private lazy val eqKeySchema: Option[StructType] =
    if (eqKeyCols.isEmpty) None
    else {
      val hconf = SparkSession.active.sparkContext.hadoopConfiguration
      val dirPath = new Path(dir)
      val schemaForKey = Option(full).getOrElse(required)
      val fields = eqKeyCols.map(k =>
        schemaForKey.fields.find(_.name == k).orElse(
          ArrowInterchange.sentinelField(
            dirPath.getFileSystem(hconf), dirPath, k)).getOrElse(
          throw new IllegalStateException(
            s"arrow-ipc: equality key '$k' of $dir is not in the schema")))
      Some(ArrowInterchange.attachResolutionMeta(
        StructType(fields), dir, hconf))
    }

  /** Per-tombstone key-prune metadata, resolved once per scan:
    * small tombstones (key count ≤ `spark.graft.arrow.eqPruneKeysMax`,
    * the count rides the name) enumerate their keys for exact
    * interval+bloom point probes; larger ones fall back to the range
    * sidecar's (kind, min, max). Both ADVISORY — absence keeps the
    * tombstone applicable, never a wrong skip. */
  private lazy val eqPrune: Map[String,
      Either[Array[Array[Any]], Seq[(String, String, String, String)]]] = {
    if (eqTombs.isEmpty) Map.empty
    else {
      val spark = SparkSession.active
      val conf = spark.sparkContext.hadoopConfiguration
      val cap = scala.util.Try(spark.conf
        .get("spark.graft.arrow.eqPruneKeysMax", "4096").toLong)
        .getOrElse(4096L)
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(conf)
      eqTombs.flatMap { case (abs, _) =>
        val name = new Path(abs).getName
        val count = ArrowEqualityDeletes.parseName(name).map(_._2)
        if (count.exists(c => c > 0 && c <= cap))
          scala.util.Try(ArrowEqualityDeletes.keysOf(abs, conf)).toOption
            .map(ks => abs -> Left(ks))
        else {
          val r = ArrowEqualityDeletes.rangeOf(fs, dirPath,
            s"${ArrowEqualityDeletes.EqDir}/$name")
          if (r.isEmpty) None else Some(abs -> Right(r))
        }
      }.toMap
    }
  }

  /** Could `tombPath` mask ANY row of a file with these stats? True on
    * any doubt (no stats, no prune metadata, kind mismatch, pre-rename
    * physical name — the stats key misses and the lookup stays
    * advisory-true). Small tombstones reuse [[ArrowFileStats.canMatch]]
    * per key TUPLE (an AND of per-column equalities — interval AND
    * bloom each); large ones intersect the sidecar's per-column key
    * ranges with the file's. */
  private def eqMayHit(tombPath: String, st: Option[FileStats]): Boolean =
    st match {
      case None => true
      case Some(s) => eqPrune.get(tombPath) match {
        case Some(Left(keys)) if eqKeyCols.nonEmpty =>
          keys.exists { t =>
            if (t.length != eqKeyCols.size) true // foreign shape: no prune
            else eqKeyCols.zip(t).forall { case (c, v) =>
              ArrowFileStats.canMatch(
                org.apache.spark.sql.sources.EqualTo(c, v), s)
            }
          }
        case Some(Right(ranges)) =>
          ranges.forall { case (c, kind, tmin, tmax) =>
            s.cols.get(c) match {
              case Some(cs) if cs.nulls >= s.rows && s.rows > 0 => false
              case Some(cs) if cs.kind == kind &&
                  cs.min.isDefined && cs.max.isDefined =>
                scala.util.Try(
                  !(ArrowFileStats.ltCanonical(kind, cs.max.get, tmin) ||
                    ArrowFileStats.ltCanonical(kind, tmax, cs.min.get)))
                  .getOrElse(true)
              case _ => true
            }
          }
        case _ => true
      }
    }

  /** The equality-mask spec for one data file: only tombstones with a
    * STRICTLY GREATER sequence apply (the file's own batch — and
    * anything after it — is never masked by it), and — round 14 — only
    * tombstones whose KEYS could live in the file per its stats
    * interval/bloom (exact CDC-shape pruning: a 200-key batch's fold
    * scans candidate files, not the table); a file no surviving
    * tombstone outranks reads mask-free. `eqEmitDeleted` inverts the
    * polarity ([[ArrowEqualityDeletes.fold]]'s position-finding read). */
  private def eqFor(fileName: String): Option[ArrowEqualityDeletes.EqPart] = {
    if (eqTombs.isEmpty || eqKeyCols.isEmpty) return None
    val st = manifest.get(fileName)
    val fileSeq = st.map(_.seq).getOrElse(0L)
    val applicable = eqTombs.filter(t => t._2 > fileSeq && eqMayHit(t._1, st))
    if (applicable.isEmpty) None
    else Some(ArrowEqualityDeletes.EqPart(eqKeyCols, fileSeq,
      applicable.map(_._1), applicable.map(_._2), eqEmitDeleted,
      keySchema = eqKeySchema))
  }

  /** Runtime (join-produced) filters, applied on top of the pushed ones:
    * Spark's dynamic pruning hands the build side's key set here AFTER
    * planning; `BatchScanExec` then re-invokes [[planInputPartitions]],
    * so a broadcast join over a stats-bearing directory reads only the
    * files whose interval can hold a matching key — dynamic FILE pruning,
    * the reference has no analog (its scans are single-query). */
  private var runtime: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  /** Runtime file-identity filter (`_file IN (…)`), the row-level
    * operations' GROUP filtering channel: Spark's
    * RowLevelOperationRuntimeGroupFiltering runs the command condition as
    * a subquery projecting `_file` and hands the matching paths here, so
    * a copy-on-write UPDATE/MERGE/DELETE rewrites ONLY the files that
    * actually contain affected rows. None = no file filter received. */
  private var fileKeep: Option[Set[String]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // `_file` projected (a row-level rewrite scan): offer ONLY the file
    // identity — the group-filtering rule builds one combined IN over
    // every offered attribute, and a multi-column struct-IN cannot
    // translate to a source filter, which would silently lose the group
    // filter entirely (Iceberg's COW scan makes the same restriction)
    (if (fileSlot >= 0) Array(ArrowRowLevel.FileColumn)
    else required.fields.filter(f => ArrowFileStats.kindOf(f.dataType) != 0)
      .map(_.name))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  /** Exact file-identity keep-set from `_file` filters: only In/EqualTo
    * with string values narrow; anything else — including a value of
    * unexpected runtime type — is ignored (keep all files — never a
    * wrong skip). An In with an EMPTY value list is exact too: no row
    * matched anywhere, keep nothing. */
  /** True iff `_file` means the METADATA column here — a dataset whose
    * own schema claims the name keeps its filters on the ordinary
    * data-column path (the metadata column is suppressed for it, so a
    * filter on it must never be read as file identity). */
  private val fileIsMeta: Boolean =
    full == null || !full.fieldNames.contains(ArrowRowLevel.FileColumn)

  private def fileKeepFrom(fs: Array[org.apache.spark.sql.sources.Filter])
      : Option[Set[String]] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    if (!fileIsMeta) return None
    def str(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    val sets = fs.filter(_.references.contains(ArrowRowLevel.FileColumn))
      .flatMap {
        case In(_, vs) =>
          val ss = vs.flatMap(str(_))
          if (ss.length == vs.length) Some(ss.toSet) else None
        case EqualTo(_, v) => str(v).map(Set(_))
        case _ => None
      }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** STATIC `_file` pruning: a pushed `_file IN (…)` or `_file = …` (a
    * user's provenance point-read) drops non-matching files at planning
    * — exact by identity, since the values are this scan's own emitted
    * paths. */
  private lazy val staticFileKeep: Option[Set[String]] = fileKeepFrom(filters)

  override def filter(runtimeFilters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val (onFile, onData) =
      if (fileIsMeta) runtimeFilters.partition(
        _.references.contains(ArrowRowLevel.FileColumn))
      else (Array.empty[org.apache.spark.sql.sources.Filter], runtimeFilters)
    runtime = onData.filter(ArrowFileStats.prunable)
    fileKeep = fileKeepFrom(onFile)
  }

  /** The commit queryId a data file's name carries — the shared
    * [[ArrowOcc.nameQueryId]] convention. A non-conforming (foreign)
    * name yields a non-matching token and the file is simply kept —
    * extraction makes the refuted-shard test O(1) per file instead of
    * O(refuted shards) string scans, which matters at exactly the
    * million-file scale the shard index serves. */
  private def shardIdOf(name: String): String = ArrowOcc.nameQueryId(name)

  private def keptWith(active: Array[org.apache.spark.sql.sources.Filter])
      : Seq[LiveFile] = {
    val base =
      if (active.isEmpty) view.files
      else view.files.filter { f =>
        // whole-commit skip first (static filters refuted the envelope; the
        // shard's per-file stats were never loaded), then per-file interval
        !refutedShards.contains(shardIdOf(f.name)) &&
        manifest.get(f.name)
          .forall(s => active.forall(ArrowFileStats.canMatch(_, s)))
      }
    // file-identity filters (static pushed + runtime): exact by
    // construction — the values ARE this scan's own emitted paths
    val afterStatic = staticFileKeep.fold(base)(keep =>
      base.filter(f => keep(f.path)))
    fileKeep.fold(afterStatic)(keep => afterStatic.filter(f => keep(f.path)))
  }

  private def kept: Seq[LiveFile] = keptWith(filters ++ runtime)

  /** Key grouping for STORAGE-PARTITIONED JOINS. `Some` iff: the v2
    * bucketing conf is on, keys are declared (read option `partitionKeys`
    * overrides the directory's `_layout.json`), every key survives the
    * projection with a stats-bearing type, and EVERY statically-kept file
    * is PROVABLY single-valued on the keys per [[ArrowFileStats
    * .singleValue]] (exact-or-invalid stats — no proof, no claim). The
    * payoff: a join of two directories keyed the same way plans with zero
    * shuffle (`KeyGroupedPartitioning`) and — because a single-valued
    * partition is trivially sorted on its keys — zero sort. A foreign
    * append or stale declaration degrades to a plain shuffled read, never
    * wrong co-location.
    *
    * Built from the STATIC filters only: runtime (DPP) filters may arrive
    * after Spark has fixed the partition-key set, so they prune files
    * WITHIN a group (see [[planInputPartitions]]) but never a group. */
  private lazy val grouping: Option[(Seq[StructField], Array[ArrowKeyedPartition])] = {
    val enabled = SparkSession.active.conf
      .get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    // `_file` projection disables key grouping: a grouped partition chains
    // several files, and the per-row provenance constant is per-FILE (a
    // row-level rewrite — the projection's only plan-level consumer —
    // wants the file split visible anyway). Time-travel reads never claim
    // grouping either: trash files have no manifest proof.
    if (!enabled || agg.isDefined || fileSlot >= 0 || posSlot >= 0 ||
        asOf.isDefined) None
    // live equality tombstones: the first eq-upsert dropped the layout
    // claim anyway (its batch files are unclustered); degrade to a plain
    // shuffled read rather than threading per-file masks through the
    // keyed chain
    else if (eqTombs.nonEmpty) None
    // mid-evolution mixed layouts: a flat- or old-generation file
    // inside a keyed chain would feed the hive splicing reader values
    // it does not have — degrade to a plain shuffled read until
    // unification
    else if (view.mixed) None
    else {
      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      // a hive-partitioned directory defaults its grouping keys to the
      // hive keys themselves: every file is single-valued on them BY
      // CONSTRUCTION (the directory value), which the merged manifest
      // carries as exact single-value stats — so two hive-partitioned
      // datasets (or a hive and a flat key-grouped one; the canonical key
      // encoding is shared) join on the partition key with ZERO shuffle
      val keys = partitionKeys.getOrElse {
        if (view.hiveFields.nonEmpty) view.hiveFields.map(_.name)
        else ArrowLayout.read(fs, dirPath)
      }
      val fields = keys.flatMap(k => required.fields.find(_.name == k))
      if (keys.isEmpty || fields.length != keys.length ||
          fields.exists(f => ArrowFileStats.kindOf(f.dataType) == 0)) None
      else {
        val files = keptWith(filters)
        val proofs = files.map { f =>
          manifest.get(f.name).flatMap { fstats =>
            val vals = keys.map(k => ArrowFileStats.singleValue(fstats, k))
            if (vals.exists(_.isEmpty)) None
            else Some((f.path, vals.map(_.get), f.values))
          }
        }
        if (files.isEmpty || proofs.exists(_.isEmpty)) None
        else {
          val dts = fields.map(_.dataType)
          // ONE partition per FILE (duplicate keys allowed): Spark groups
          // same-key partitions into one task itself, and keeping the
          // file-level split visible lets
          // spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
          // keep a skewed key's files split instead of funneling them
          // through one task
          val parts = proofs.map(_.get).toArray
            .sortBy { case (path, key, _) =>
              (key.map(_.getOrElse("")).mkString("\u0001"), path) }
            .map { case (path, key, hv) =>
              ArrowKeyedPartition(Seq(path), key, dts,
                if (view.hiveFields.isEmpty) Nil else Seq(hv),
                Seq(dvFor(new Path(path).getName))) }
          Some((fields, parts))
        }
      }
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    grouping match {
      case Some((fields, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          fields.map(f => org.apache.spark.sql.connector.expressions.Expressions
            .identity(f.name): org.apache.spark.sql.connector.expressions.Expression)
            .toArray,
          groups.length)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Within a key group every row carries the SAME key tuple, so any row
    * order satisfies an ordering on the key columns — reported so a
    * storage-partitioned sort-merge join skips its sorts too. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    grouping match {
      case Some((fields, _)) =>
        fields.map(f => org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.identity(f.name),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray
      case None => Array.empty
    }

  /** Byte size of the files actually scanned (post-prune, and nothing
    * invented beyond it) so the optimizer's broadcast-threshold and AQE
    * decisions see this source like any file source instead of assuming
    * the unknown-stats default (which forecloses broadcast joins over
    * small Arrow dims). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    // a pushed aggregation emits only precomputed rows (one, or one per
    // file under GROUP BY) — reporting the directory's bytes/rows here
    // would make the planner refuse to broadcast the cheapest scan this
    // source has (and would also force the listing this scan otherwise
    // never needs)
    val (bytes, rows): (Long, Option[Long]) = agg match {
      case Some((schema, vals)) =>
        ((schema.defaultSize.toLong * vals.length).max(1L), Some(vals.length.toLong))
      case None =>
        val files = kept
        // exact row count when the manifest covers every kept file — a
        // real number beats Spark's size-based row guess for AQE/joins
        val sts = files.map(f => manifest.get(f.name))
        // manifest rows are PHYSICAL counts; live rows subtract each
        // file's deletion-vector cardinality (carried in the dv name —
        // nothing is opened here)
        val masked =
          if (dvPaths.isEmpty) 0L
          else files.iterator.map { f =>
            dvFor(f.name)
              .flatMap(p => ArrowDeleteVectors.parseName(new Path(p).getName))
              .fold(0L)(_._3)
          }.sum
        (files.map(_.status.getLen).sum,
          // live equality tombstones: the masked count is unknowable
          // without probing keys — report no row count rather than an
          // overcount that misleads AQE/join sizing
          if (eqTombs.nonEmpty) None
          else if (sts.forall(_.isDefined))
            Some(sts.map(_.get.rows).sum - masked)
          else None)
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (agg.isDefined) Array(ArrowAggPartition)
    else grouping match {
      case Some((_, groups)) =>
        // runtime (DPP) filters prune FILES inside a group, never the
        // group: Spark requires the partition-key set reported at
        // planning to survive runtime filtering, so a fully-refuted
        // group stays as an empty partition (reads nothing)
        if (runtime.isEmpty) groups.map(g => g: InputPartition)
        else groups.map { g =>
          val keep = g.files.indices.filter { i =>
            manifest.get(new Path(g.files(i)).getName)
              .forall(s => runtime.forall(f => ArrowFileStats.canMatch(f, s)))
          }
          g.copy(files = keep.map(g.files),
            hiveValues =
              if (g.hiveValues.isEmpty) Nil else keep.map(g.hiveValues),
            dvs = keep.map(g.dvOrNone)): InputPartition
        }
      case None =>
        // eqEmit=deleted (the fold's position-finding read): only files
        // some tombstone outranks can hold masked rows — everything else
        // is dropped at planning, so a mostly-folded table re-reads only
        // its fresh debt
        val files =
          if (eqEmitDeleted) kept.filter(f => eqFor(f.name).isDefined)
          else kept
        files.map { f =>
          if (f.fields.isEmpty)
            // a flat file — on an evolved table too: every column
            // (including the new partition keys) is in its data
            ArrowFilePartition(f.path, dvFor(f.name),
              eq = eqFor(f.name)): InputPartition
          else ArrowHiveFilePartition(f.path, f.values, dvFor(f.name),
            // an OLD-generation file is spliced by ITS OWN keys
            fields =
              if (f.fields == view.hiveFields) Nil else f.fields.map(_.name))
        }.toArray
    }

  /** The files this scan's final plan reads, as paths RELATIVE to the
    * dataset root — the copy-on-write commit's replacement set. Reflects
    * both the pushed (static) pruning and any runtime group filter, i.e.
    * exactly the files whose rows the executed ReplaceData plan carried. */
  private[sources] def replacedFiles: Seq[String] = kept.map(_.rel)

  /** The deletion-vector rels THIS scan masked for `olds` — the COW
    * commit records plan-time state, so a vector that advances between
    * the statement's read and its swap fails validation (a commit-time
    * re-list would miss exactly that window and resurrect the rows). */
  private[sources] def plannedDvRels(olds: Seq[String]): Seq[String] =
    olds.flatMap { o =>
      dvPaths.get(new Path(o).getName)
        .map(p => s"${ArrowDeleteVectors.DvDir}/${new Path(p).getName}")
    }.distinct.sorted

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(asOf.isEmpty,
      "arrow-ipc: a time-travel read (asOfSnapshot) is batch-only")
    require(fileSlot < 0,
      s"arrow-ipc: the _file metadata column is batch-only — a streaming " +
        "read cannot project it")
    require(posSlot < 0,
      s"arrow-ipc: the _pos metadata column is batch-only — a streaming " +
        "read cannot project it")
    // Spark pushes no filter into a stream; its readers evaluate none, so
    // a filter kept from Spark's post-scan Filter would be lost
    require(evaluated.isEmpty,
      "arrow-ipc: a streaming read cannot evaluate pushed filters")
    // this view supplies the layout; the stream polls views of its own,
    // holding its offset (never waiting or refusing) on a closed gate
    val layout = ArrowLiveView.load(SparkSession.active, dir,
      Option(full).getOrElse(required))
    require(layout.oldHiveGens.isEmpty,
      s"arrow-ipc: $dir holds files under ${layout.oldHiveGens.size + 1} hive " +
        "partition generations — streaming reads serve one; rewrite " +
        "(CALL cluster) to unify first (batch reads union all generations)")
    if (changeFeed)
      new ArrowChangesMicroBatchStream(required, dir, layout.hiveFields,
        startingSnapshot, startingTimestamp, maxSnapshotsPerTrigger)
    else
      new ArrowIpcMicroBatchStream(required, dir, filters, maxFilesPerTrigger,
        layout.hiveFields, ignoreDeletes, ignoreRestores)
  }

  /** The readers' exact predicate over `evaluated`, its columns typed by
    * `table` (the schema with evolution metadata). A hive key of the
    * view's generations must never reach it (the builder returned those
    * as residual): a layout that evolved between filter push and
    * planning refuses. */
  private def rowFilter(v: ArrowLiveView, table: StructType)
      : Option[ArrowRowFilter] =
    if (evaluated.isEmpty) None
    else {
      val keys = (v.hiveFields +: v.oldHiveGens).flatten.map(_.name).toSet
      require(!evaluated.exists(_.references.exists(keys)),
        s"arrow-ipc: $dir changed its hive partition keys while this " +
          "query was planned — re-run it")
      Some(ArrowRowFilter(evaluated, table))
    }

  override def createReaderFactory(): PartitionReaderFactory =
    agg.fold {
      val hconf = SparkSession.active.sparkContext.hadoopConfiguration
      val conf = new SerializableHadoopConf(hconf)
      // the sentinel's evolution metadata (field ids, rename history)
      // rides the table and required schemas to the executors — renamed
      // columns resolve across mixed-generation files. The table schema
      // travels for an empty projection (a bare count), whose files still
      // resolve every table column.
      val table = ArrowInterchange.attachResolutionMeta(
        Option(full).getOrElse(required), dir, hconf)
      val req = StructType(required.fields.map(f =>
        table.fields.find(_.name == f.name).getOrElse(f)))
      // `fileSlot`/`posSlot` index the FINAL schema (both metadata
      // columns present). The inner factories splice `_pos` first, so
      // their slot must not count a `_file` column inserted BEFORE it;
      // the `_file` wrapper then splices over the pos-included schema.
      val innerPos =
        if (posSlot < 0) posSlot
        else if (fileSlot >= 0 && fileSlot < posSlot) posSlot - 1
        else posSlot
      val rows = rowFilter(view, table)
      val base =
        if (view.hiveFields.isEmpty)
          new ArrowIpcReaderFactory(req, conf, limit, innerPos, table, rows)
            : PartitionReaderFactory
        else
          new ArrowIpcHiveReaderFactory(req, view.hiveFields, conf, limit,
            innerPos, extraGens = view.oldHiveGens, table = table,
            rows = rows)
            : PartitionReaderFactory
      if (fileSlot < 0) base
      else {
        val withPos =
          if (innerPos < 0) req
          else StructType(req.fields.toVector
            .patch(innerPos, Seq(ArrowRowLevel.posField), 0).toArray)
        new ArrowFileColReaderFactory(base, withPos, fileSlot)
      }
    } { case (schema, rows) =>
      new ArrowAggReaderFactory(schema, rows)
    }
}

/** One data file; `dv` = absolute path of a deletion vector whose
  * positions the readers SKIP (None for the untouched common case);
  * `keep` = a vector whose positions are the ONLY ones emitted (the
  * change feed's "rows deleted in this window" = keep new gen, skip old
  * gen). */
private[sources] case class ArrowFilePartition(file: String,
    dv: Option[String] = None,
    keep: Option[String] = None,
    eq: Option[ArrowEqualityDeletes.EqPart] = None) extends InputPartition

private[sources] case object ArrowAggPartition extends InputPartition

/** Emits the rows a pushed-down aggregation reduced the directory to (one
  * globally, or one per file under GROUP BY) — values precomputed on the
  * driver from `_stats.json`; strings travel as java.lang.String
  * (UTF8String is not serialization-stable across all paths), converted at
  * read time. */
private[sources] class ArrowAggReaderFactory(schema: StructType, rows: Array[Array[Any]])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          rows(i).map {
            case s: String =>
              org.apache.spark.unsafe.types.UTF8String.fromString(s): Any
            case v => v
          })
      override def close(): Unit = ()
    }
}

/** The scan's exact filters ([[ArrowFileStats.exact]]) as the readers run
  * them: `cols` are the table columns they read — resolved in each file
  * like a projection (field id, name, rename history; widened and added
  * columns too), whether or not the projection keeps them — and `tests`
  * their conjuncts over those columns, compiled on the driver. A row
  * survives when every test is TRUE. */
private[sources] final case class ArrowRowFilter(cols: StructType,
    tests: Array[ArrowFileStats.RowTest]) {
  /** The filter columns' vector ordinals in one file (-1 = absent). */
  def resolve(root: org.apache.arrow.vector.VectorSchemaRoot,
      file: String): Array[Int] =
    ArrowInterchange.resolveColumns(root.getSchema, cols, file)

  /** The filter columns of the batch loaded in `root`. */
  def vectors(root: org.apache.arrow.vector.VectorSchemaRoot, at: Array[Int])
      : Array[org.apache.spark.sql.vectorized.ColumnVector] =
    ArrowIpcColumnarReader.vectors(root, at, cols)

  def keeps(v: Array[org.apache.spark.sql.vectorized.ColumnVector],
      row: Int): Boolean = {
    var t = 0
    while (t < tests.length) {
      if (tests(t)(v, row) != 1) return false
      t += 1
    }
    true
  }
}

private[sources] object ArrowRowFilter {
  /** Compile `filters` (every one in the exact set) over the columns of
    * `table` they reference. */
  def apply(filters: Array[org.apache.spark.sql.sources.Filter],
      table: StructType): ArrowRowFilter = {
    val refs = filters.flatMap(_.references).toSet
    val cols = StructType(table.fields.filter(f => refs(f.name)))
    ArrowRowFilter(cols, filters.map(f => ArrowFileStats.exact(f, cols)
      .getOrElse(throw new IllegalStateException(
        s"arrow-ipc: filter $f is not exactly evaluable"))))
  }
}

/** `table`: the dataset's file columns, which a file must resolve when
  * `required` is empty (null = no such check). `rows`: the exact
  * filters every reader applies. */
private[sources] class ArrowIpcReaderFactory(
    required: StructType, conf: SerializableHadoopConf, limit: Int = -1,
    posSlot: Int = -1, table: StructType = null,
    rows: Option[ArrowRowFilter] = None)
    extends PartitionReaderFactory {

  /** The deletion-vector mask of a partition's file, loaded task-side
    * (one tiny read per dv-carrying partition; None for the common
    * un-deleted case). */
  private def maskOf(dv: Option[String]): java.util.BitSet =
    dv.fold(null: java.util.BitSet) { p =>
      val path = new Path(p)
      ArrowDeleteVectors.readBitSet(path.getFileSystem(conf.value), path)
    }

  private def core(file: String, dv: Option[String],
      keep: Option[String] = None,
      eq: Option[ArrowEqualityDeletes.EqPart] = None): ArrowIpcPartitionReader =
    new ArrowIpcPartitionReader(file, required, conf, limit,
      skip = maskOf(dv), keepOnly = maskOf(keep), eq = eq.orNull,
      table = table, rows = rows.orNull)

  /** Splice the row's physical position at `posSlot` (the `_pos`
    * metadata column) — per-row, so it rides the core reader's own
    * position counter rather than a constant vector. */
  private def withPos(in: ArrowIpcPartitionReader): PartitionReader[InternalRow] = {
    val types = required.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = in.next()
      override def get(): InternalRow = {
        val row = in.get()
        val vals = new Array[Any](types.length + 1)
        var i = 0
        while (i < vals.length) {
          vals(i) =
            if (i == posSlot) java.lang.Long.valueOf(in.lastPos)
            else if (i < posSlot) row.get(i, types(i))
            else row.get(i - 1, types(i - 1))
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
      }
      override def close(): Unit = in.close()
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: ArrowFilePartition =>
        if (posSlot < 0) core(p.file, p.dv, p.keep, p.eq)
        else withPos(core(p.file, p.dv, p.keep, p.eq))
      case k: ArrowKeyedPartition =>
        // `_pos` projection disables key grouping at the scan, so a keyed
        // partition never splices positions; per-file dv masks chain
        new ChainedPartitionReader[(String, Option[String]), InternalRow](
          k.files.zip(k.dvOrNone), fd => core(fd._1, fd._2))
    }

  // COLUMNAR path: Arrow IPC is already columnar, so the fastest read is
  // no decode at all — wrap the loaded Arrow vectors as a Spark
  // ColumnarBatch (`ArrowColumnVector`; [[FixedSizeBinaryColumnVector]]
  // for the one vector type Spark ships no accessor for) and let the
  // columnar scan consume them in place. The whole type surface wraps
  // zero-copy — except a FixedSizeBinary NESTED inside a struct, where
  // the shim can't be interposed (ArrowColumnVector wraps children
  // itself); that one shape takes the row path below. DELETION VECTORS
  // do NOT disqualify columnar: a masked file reads through the
  // row-remapping [[MaskedColumnVector]] (one int per surviving row,
  // zero column bytes copied), so clean files keep the zero-copy path
  // and the whole scan stays uniformly columnar — Spark requires every
  // partition of one scan to agree on columnar-vs-row.
  override def supportColumnarReads(partition: InputPartition): Boolean =
    posSlot < 0 &&
    !required.fields.exists(f => hasNestedFsb(f.dataType))

  private def hasNestedFsb(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType, StructType}
    dt match {
      case s: StructType => s.fields.exists(g =>
        (g.dataType == BinaryType &&
          g.metadata.contains(ArrowInterchange.FixedSizeKey)) ||
        hasNestedFsb(g.dataType))
      case ArrayType(et, _) => hasNestedFsb(et)
      case MapType(kt, vt, _) => hasNestedFsb(kt) || hasNestedFsb(vt)
      case _ => false
    }
  }
  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    partition match {
      case p: ArrowFilePartition =>
        new ArrowIpcColumnarReader(p.file, required, conf, limit,
          skip = maskOf(p.dv), keepOnly = maskOf(p.keep), eq = p.eq.orNull,
          table = table, rows = rows.orNull)
      case k: ArrowKeyedPartition =>
        new ChainedPartitionReader[(String, Option[String]),
            org.apache.spark.sql.vectorized.ColumnarBatch](
          k.files.zip(k.dvOrNone),
          fd => new ArrowIpcColumnarReader(fd._1, required, conf, limit,
            skip = maskOf(fd._2), table = table, rows = rows.orNull))
    }
}

/** Columnar twin of [[ArrowIpcPartitionReader]]: each loaded IPC batch is
  * handed to Spark as a ColumnarBatch of [[org.apache.spark.sql.vectorized
  * .ArrowColumnVector]] wrappers over the live Arrow vectors — zero
  * per-value decode, pruning by wrapping only the resolved columns. The
  * root's vectors are reused across batches (the standard vectorized-
  * reader contract: a batch is consumed before the next `next()`). */
private[sources] class ArrowIpcColumnarReader(
    file: String, required: StructType, conf: SerializableHadoopConf,
    limit: Int = -1,
    skip: java.util.BitSet = null,
    keepOnly: java.util.BitSet = null,
    eq: ArrowEqualityDeletes.EqPart = null,
    table: StructType = null,
    rows: ArrowRowFilter = null)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  private val alloc = new RootAllocator()
  private val reader = {
    val p = new Path(file)
    // openPlanned: a concurrent compaction may retire the planned file to
    // `.trash/` mid-query — the trash copy is bit-identical until expiry
    new ArrowStreamReader(
      ArrowSnapshots.openPlanned(p.getFileSystem(conf.value), p), alloc,
      CommonsCompressionFactory.INSTANCE)
  }
  private val root = reader.getVectorSchemaRoot
  private val cols: Array[Int] =
    try ArrowInterchange.resolveHeader(root.getSchema, required, table, file)
    catch { case e: Throwable => close(); throw e }
  private val rowCols: Array[Int] =
    try if (rows == null) null else rows.resolve(root, file)
    catch { case e: Throwable => close(); throw e }

  private var current: ColumnarBatch = _
  private var produced = 0L
  private var physBase = 0L

  /** Deletion-vector masking, columnar face: same semantics as the row
    * reader's (`skip` drops positions, `keepOnly` keeps exactly those). */
  private def masked(pos: Long): Boolean =
    (skip != null && pos <= Int.MaxValue && skip.get(pos.toInt)) ||
      (keepOnly != null && (pos > Int.MaxValue || !keepOnly.get(pos.toInt)))

  // equality-delete masking, columnar face: rides the SAME survivor-map
  // remap as deletion vectors (MaskedColumnVector) — the key column is
  // probed per batch, zero column bytes are copied, clean batches stay
  // zero-copy, and the scan stays uniformly columnar.
  private val eqLookup =
    if (eq == null) null else ArrowEqualityDeletes.lookupFor(eq, conf.value)

  override def next(): Boolean = {
    // pushed limit: a batch may overshoot (Spark's own Limit trims), but
    // no FURTHER batch is loaded once n rows are out — a limit 10 over a
    // TB directory reads ~one batch per file. With masks, `produced`
    // counts SURVIVORS, so the limit contract is over emitted rows.
    if (limit >= 0 && produced >= limit) return false
    while (true) {
      if (!reader.loadNextBatch()) return false
      val n = root.getRowCount
      val base = physBase
      physBase += n
      val eqDrop: Array[Boolean] =
        if (eqLookup == null) null
        else ArrowEqualityDeletes.batchMask(eq, eqLookup, root)
      val emitDel = eq != null && eq.emitDeleted
      val rowVecs = if (rows == null) null else rows.vectors(root, rowCols)
      // survivor map for this batch — deletion vectors, equality
      // tombstones and the exact filters in one pass: null = untouched
      // (the common case — also when THIS batch drops no row)
      val map: Array[Int] =
        if (skip == null && keepOnly == null && eqDrop == null && !emitDel &&
            rowVecs == null) null
        else {
          val b = Array.newBuilder[Int]
          var i = 0
          while (i < n) {
            val eqHit = eqDrop != null && eqDrop(i)
            val keep =
              !masked(base + i) && (if (emitDel) eqHit else !eqHit) &&
                (rowVecs == null || rows.keeps(rowVecs, i))
            if (keep) b += i
            i += 1
          }
          val m = b.result()
          if (m.length == n) null else m
        }
      if (map != null && map.isEmpty) () // nothing survives: load next
      else {
        val vecs = ArrowIpcColumnarReader.vectors(root, cols, required)
        val (out, survivors) =
          if (map == null) (vecs, n)
          else (vecs.map(new MaskedColumnVector(_, map): ColumnVector),
            map.length)
        current = new ColumnarBatch(out, survivors)
        produced += survivors
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit =
    try { reader.close(); alloc.close() } catch { case _: Throwable => () }
}

private[sources] object ArrowIpcColumnarReader {
  import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnVector}

  /** Spark vectors over the batch loaded in `root`: for each field of
    * `schema`, its vector at ordinal `at(c)`, wrapped zero-copy, or an
    * all-NULL constant where the file lacks the column (-1, an evolved
    * column). */
  def vectors(root: org.apache.arrow.vector.VectorSchemaRoot,
      at: Array[Int], schema: StructType): Array[ColumnVector] =
    at.zipWithIndex.map {
      case (-1, c) =>
        val v = new org.apache.spark.sql.execution.vectorized
          .ConstantColumnVector(root.getRowCount, schema.fields(c).dataType)
        v.setNull()
        v: ColumnVector
      case (i, c) => root.getVector(i) match {
        case f: org.apache.arrow.vector.FixedSizeBinaryVector =>
          new FixedSizeBinaryColumnVector(f): ColumnVector
        case v =>
          // a pre-evolution file's narrow vector answers the table's
          // widened getters through the shim; same-generation files
          // wrap zero-cost
          WideningColumnVector.maybe(new ArrowColumnVector(v),
            ArrowInterchange.sparkTypeOf(v.getField),
            schema.fields(c).dataType)
      }
    }
}

// ── write path ───────────────────────────────────────────────────────────

/** `partitionKeysOpt`/`hiveKeysOpt`: None = the caller passed no layout
  * option. An option-less APPEND then defaults to the directory's
  * standing declarations — above all so SQL `INSERT INTO` through the
  * catalog lands in the directory's own layout instead of refusing
  * (hive) or degrading the keyed claim (flat). An option-less TRUNCATE
  * (`mode("overwrite")`) defaults to NO layout: overwrite resets the
  * table definition. An explicit option always wins. */
private[sources] class ArrowIpcWriteBuilder(
    schema: StructType, dir: String, codec: Option[String], queryId: String,
    partitionKeysOpt: Option[Seq[String]] = None,
    hiveKeysOpt: Option[Seq[String]] = None,
    bloomCols: Set[String] = Set.empty,
    maxRecordsPerFile: Option[Long] = None,
    autoCompactEvery: Option[Int] = None,
    autoCompactTargetBytes: Option[Long] = None,
    commitToken: Option[String] = None)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    val (partitionKeys, hiveKeys) =
      if (partitionKeysOpt.isDefined || hiveKeysOpt.isDefined || doTruncate)
        (partitionKeysOpt.getOrElse(Nil), hiveKeysOpt.getOrElse(Nil))
      else {
        val p = new Path(dir)
        val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
        (ArrowLayout.read(fs, p), ArrowHiveLayout.read(fs, p))
      }
    new ArrowIpcWrite(schema, dir, codec, queryId, doTruncate, partitionKeys,
      hiveKeys, bloomCols, maxRecordsPerFile, autoCompactEvery,
      autoCompactTargetBytes, commitToken)
  }
}

/** DSv2 batch write: Spark's commit coordinator guarantees exactly one
  * committed attempt per task, each writing an attempt-scoped temp file
  * renamed to its final name at task commit; the job-level `_SUCCESS`
  * lands only in [[commit]], after every task message arrived — the same
  * completeness contract as [[ArrowInterchange.writeStream]], now with
  * the coordination Spark already provides instead of hand-rolled rename
  * races. Append mode names files by (partition, queryId) so two jobs
  * never collide; overwrite (mode("overwrite") → TRUNCATE) clears the
  * directory and rewrites the schema sentinel. */
private[sources] class ArrowIpcWrite(
    schema: StructType, dir: String, codec: Option[String], queryId: String,
    truncate: Boolean, partitionKeys: Seq[String] = Nil,
    hiveKeys: Seq[String] = Nil, bloomCols: Set[String] = Set.empty,
    maxRecordsPerFile: Option[Long] = None,
    autoCompactEvery: Option[Int] = None,
    autoCompactTargetBytes: Option[Long] = None,
    commitToken: Option[String] = None)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write._

  require(partitionKeys.isEmpty || hiveKeys.isEmpty,
    "arrow-ipc: partitionKeys (flat key-grouped layout) and " +
      "hivePartitionKeys (key=value directories) are mutually exclusive")
  maxRecordsPerFile.foreach { m =>
    require(m >= 1, s"arrow-ipc: maxRecordsPerFile must be >= 1, got $m")
  }

  /** Keys the plan must cluster+sort by — shared by both layout flavors. */
  private def clusterKeys: Seq[String] =
    if (hiveKeys.nonEmpty) hiveKeys else partitionKeys

  // driver-side refresh of this append's `_pending-<queryId>` marker for
  // the whole write stage — a multi-hour job must never cross the
  // pending-liveness window mid-write (round 11; created at factory time,
  // stopped at commit/abort)
  @volatile private var heartbeat: Option[ArrowOcc.PendingHeartbeat] = None

  override def toBatch: BatchWrite = this
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate, "arrow-ipc stream sink is append-only — " +
      "OutputMode.Complete (epoch truncation) is not supported")
    require(maxRecordsPerFile.isEmpty,
      "arrow-ipc: maxRecordsPerFile is batch-only — streaming epochs are " +
        "already bounded by the trigger")
    new ArrowIpcStreamingWrite(schema, dir, codec, queryId, partitionKeys,
      bloomCols, hiveKeys, autoCompactEvery, autoCompactTargetBytes)
  }
  override def description(): String = s"arrow-ipc $dir" +
    (if (partitionKeys.nonEmpty) s" keyed=[${partitionKeys.mkString(", ")}]" else "") +
    (if (hiveKeys.nonEmpty) s" hive=[${hiveKeys.mkString(", ")}]" else "")

  /** A keyed write DECLARES the clustering + in-partition order the
    * rolling writer needs to produce single-valued files (the
    * `KeyGroupedPartitioning` substrate) — Catalyst inserts the exchange/
    * sort only when the child doesn't already satisfy it, so
    * `Sinks.writeKeyGrouped`'s explicit repartition+sort costs nothing
    * extra, while a keyed STREAMING write (which has no Sinks helper in
    * front of it) gets the right shape from the plan itself. */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    if (clusterKeys.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        clusterKeys.map(k => org.apache.spark.sql.connector.expressions
          .Expressions.identity(k): org.apache.spark.sql.connector.expressions
          .Expression).toArray)
  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    if (clusterKeys.isEmpty) Array.empty
    else clusterKeys.map(k =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.identity(k),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side, before any task launches: validate the surface loudly
    // and prepare the directory + schema sentinel
    require(autoCompactEvery.isEmpty && autoCompactTargetBytes.isEmpty,
      "arrow-ipc: autoCompactEvery is a streaming-sink option — for " +
        "batch tables run ArrowMaintenance.compact or " +
        "CALL graft.system.compact")
    ArrowInterchange.codecType(codec)
    ArrowInterchange.toArrowSchema(schema)
    partitionKeys.foreach { k =>
      val f = schema.fields.find(_.name == k).getOrElse(throw new IllegalArgumentException(
        s"arrow-ipc: partitionKeys column '$k' not in schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
      require(ArrowFileStats.kindOf(f.dataType) != 0,
        s"arrow-ipc: partitionKeys column '$k' has type ${f.dataType} — only " +
          "stats-bearing types (integral/date/timestamp/float/string/" +
          "decimal/binary) can key a layout")
    }
    hiveKeys.foreach { k =>
      val f = schema.fields.find(_.name == k).getOrElse(throw new IllegalArgumentException(
        s"arrow-ipc: hivePartitionKeys column '$k' not in schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
      require(ArrowHiveLayout.supported(f.dataType),
        s"arrow-ipc: hivePartitionKeys column '$k' has type ${f.dataType} — " +
          "only string/byte/short/int/long/boolean/date round-trip a " +
          "directory name unambiguously")
    }
    require(hiveKeys.isEmpty || hiveKeys.size < schema.size,
      "arrow-ipc: a hive-partitioned dataset needs at least one non-key column")
    bloomCols.foreach { k =>
      val f = schema.fields.find(_.name == k).getOrElse(throw new IllegalArgumentException(
        s"arrow-ipc: bloomColumns column '$k' not in schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
      val kind = ArrowFileStats.kindOf(f.dataType)
      require(kind != 0 && kind != 2,
        s"arrow-ipc: bloomColumns column '$k' has type ${f.dataType} — " +
          "doubles (-0.0/0.0 bit-pattern equality hazard) and nested types " +
          "cannot carry a Bloom filter")
      require(!hiveKeys.contains(k),
        s"arrow-ipc: bloomColumns column '$k' is a hive partition key — " +
          "its value lives in the directory path and already prunes exactly")
    }
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    // truncate is destructive-exclusive by nature; taking the lock for
    // the delete at least serializes it against in-flight COMMITS (a
    // truncate racing a long STAGING job remains the caller's decision —
    // overwrite means overwrite)
    val preExisting = !truncate &&
      fs.exists(new Path(dirPath, "_schema.arrows"))
    if (truncate) ArrowOcc.withCommitLock(fs, dirPath) {
      fs.delete(dirPath, true)
    }
    else if (preExisting) {
      val existing = ArrowInterchange.readSchema(spark, dir)
      // identical names+types; nullability may be STRICTER on the incoming
      // side (non-null data into a nullable column — the shape every
      // post-ADD-COLUMN append has) but never looser (possibly-null data
      // into a non-null column would corrupt the dataset's contract)
      require(existing.length == schema.length &&
        existing.fields.zip(schema.fields).forall { case (e, s) =>
          e.name == s.name && e.dataType == s.dataType &&
            (e.nullable || !s.nullable)
        },
        s"arrow-ipc: appending schema $schema to $dir which carries " +
          s"schema $existing — append requires identical names and types " +
          "(incoming nullability may only be stricter)")
      // layout-flavor compatibility: files of a hive-partitioned dataset
      // live at a different depth and OMIT the key columns — appending
      // with mismatched keys would interleave unreadable layouts
      val standing = ArrowHiveLayout.read(fs, dirPath)
      require(standing == hiveKeys,
        s"arrow-ipc: $dir is laid out with hive keys " +
          s"[${standing.mkString(", ")}] but this append declares " +
          s"[${hiveKeys.mkString(", ")}] — appends must match the standing layout")
    }
    fs.mkdirs(dirPath)
    // under the commit lock: the sentinel write, the pending marker and
    // the latch drop must not interleave with a concurrent committer's
    // latch restore (ChecksumFileSystem's create/delete on one path race
    // at the .crc level, let alone semantically)
    ArrowOcc.withCommitLock(fs, dirPath) {
      val sentinel = new Path(dirPath, "_schema.arrows")
      if (!fs.exists(sentinel))
        // table creation mints the stable field ids (round 11); the
        // atomic flip keeps lock-free readers from a torn sentinel
        ArrowInterchange.writeSentinelAtomic(fs, dirPath,
          ArrowInterchange.withFieldIds(schema))
      // layout agreement RE-VALIDATED under the lock (round 16): an
      // evolve landing between the unlocked pre-check above and this
      // marker write could otherwise slip a write into a generation the
      // collapse fence already saw as untargeted — under the lock the
      // agreement and the marker are atomic against evolve and collapse.
      // Only for tables that PRE-EXISTED this write (mirroring the
      // pre-check): a truncate or fresh table declares its own layout
      if (preExisting) {
        val standingNow = ArrowHiveLayout.read(fs, dirPath)
        require(standingNow == hiveKeys,
          s"arrow-ipc: $dir evolved its hive layout to " +
            s"[${standingNow.mkString(", ")}] while this append planned " +
            s"[${hiveKeys.mkString(", ")}] — re-run the write")
      }
      // a write in flight invalidates the completeness marker until
      // commit; the pending marker (written FIRST) tells every concurrent
      // committer not to restore the latch — and marks this write's files
      // (they embed the queryId) as not-yet-replaceable to concurrent
      // maintenance. It records the target layout so the unifier's
      // generation-targeted collapse fence defers exactly that
      // generation while this write lives.
      ArrowOcc.markPending(fs, dirPath, queryId, Some(hiveKeys))
      fs.delete(new Path(dirPath, "_SUCCESS"), false)
    }
    // keep the marker live for the write job's whole duration — without
    // the heartbeat, a write stage longer than the pending window would
    // silently lose its in-flight protection (latch re-created mid-append,
    // files replaceable by concurrent maintenance)
    heartbeat = Some(ArrowOcc.heartbeatPending(fs, dirPath, queryId))
    // STANDING BLOOM INHERITANCE (round 10): an option-less APPEND
    // defaults its bloom set to the columns any live manifest entry
    // carries a bloom for — the same standing-declaration rule layouts
    // follow, and the same derivation every maintenance rewrite uses —
    // so point-lookup pruning no longer silently degrades file by file
    // because one ingest job forgot the option. Truncates reset the
    // declaration (overwrite means overwrite); an explicit option wins.
    val effectiveBlooms =
      if (bloomCols.nonEmpty || truncate) bloomCols
      else ArrowFileStats.read(fs, dirPath).values
        .flatMap(_.cols.collect { case (c, s) if s.bloom.isDefined => c })
        .toSet.intersect(schema.fieldNames.toSet) -- hiveKeys
    // stamp the sentinel's stable field ids into this append's data-file
    // headers: readers then resolve these files by ID across any future
    // renames (id-less files fall back to the sentinel's rename history)
    new ArrowIpcWriterFactory(
      ArrowInterchange.attachResolutionMeta(schema, dir, conf),
      dir, codec, queryId,
      new SerializableHadoopConf(conf), partitionKeys, hiveKeys,
      effectiveBlooms, maxRecordsPerFile)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    heartbeat.foreach(_.stop())
    ArrowOcc.withCommitLock(fs, dirPath) {
    // LIVENESS BACKSTOP (round 11): if this append's marker is gone or
    // stale (heartbeat died, or a sweep collected it), concurrent
    // maintenance may have treated the job's task-committed files as
    // replaceable — re-validate every file still exists before recording
    // stats/snapshot entries for it, and fail the batch loudly (like the
    // stream sink's epoch commit) instead of committing pointers to
    // deleted files. With a live marker the check is one getFileStatus.
    if (!ArrowOcc.pendingLive(fs, dirPath, queryId)) {
      val gone = messages.collect { case ArrowIpcCommitMessage(files) =>
        files.collect { case (path, _) if !fs.exists(new Path(path)) => path }
      }.flatten
      if (gone.nonEmpty) {
        ArrowOcc.clearPending(fs, dirPath, queryId)
        throw new java.io.IOException(
          s"arrow-ipc: append $queryId to $dir lost its in-flight " +
            s"protection (pending marker expired) and ${gone.size} of its " +
            s"files were removed by concurrent maintenance (first: " +
            s"${gone.head}) — re-run the write")
      }
      // all files survived the unprotected window: safe to commit
      ArrowOcc.markPending(fs, dirPath, queryId, Some(hiveKeys)) // restore
    }
    // persist per-file column stats (the scan's file-pruning substrate)
    // BEFORE the completeness marker: a reader that sees _SUCCESS must
    // also see the stats of every committed file. Appends merge with the
    // existing manifest; entries for files a truncate removed are gone
    // with the directory.
    val freshRaw = messages.collect { case ArrowIpcCommitMessage(files) =>
      files.map { case (path, st) => new Path(path).getName -> st }
    }.flatten.toMap
    // equality-delete sequencing: on a table that has seen equality
    // upserts, a plain append's files are stamped with the CURRENT
    // sequence — later tombstones mask them (they are older images),
    // earlier ones don't. Under the same commit lock as the tombstone
    // commits, so the ordering is total. Zero cost on ordinary tables.
    val eqSeq = ArrowEqualityDeletes.currentSeq(fs, dirPath)
    val fresh =
      if (eqSeq == 0L) freshRaw
      else freshRaw.map { case (n, st) => n -> st.copy(seq = eqSeq) }
    // Small commits merge into the base manifest. A commit at or above
    // the shard threshold writes its OWN `_stats-<queryId>.json` plus an
    // envelope row in `_stats_index.json` — planning can then skip whole
    // commits against the envelope without loading per-file stats, which
    // is what keeps a million-file directory's planning driver-cheap.
    if (fresh.nonEmpty) {
      val threshold = SparkSession.active.conf
        .get("spark.graft.arrow.statsShardFiles", "1024").toInt
      if (fresh.size >= threshold)
        ArrowFileStats.writeShard(fs, dirPath, queryId, fresh)
      else
        ArrowFileStats.write(fs, dirPath,
          ArrowFileStats.readBase(fs, dirPath) ++ fresh)
    }
    // key-grouped layout declaration: written when this job keyed its
    // files; an append keyed DIFFERENTLY than the standing declaration
    // leaves the directory uniformly keyed on neither → drop the claim
    // (reads degrade to plain shuffled scans, never wrong co-location)
    if (partitionKeys.nonEmpty) {
      val existing = ArrowLayout.read(fs, dirPath)
      if (existing.isEmpty || existing == partitionKeys)
        ArrowLayout.write(fs, dirPath, partitionKeys)
      else ArrowLayout.delete(fs, dirPath)
    }
    // hive layout declaration — straddle-aware (round 16). The common
    // case is idempotent: the standing layout still equals this append's
    // keys (validated at factory time UNDER the lock), or the table is
    // fresh/truncated. If the table EVOLVED mid-append, this append's
    // files landed nested by what is now an OLD generation: they are
    // still readable there (the live pending marker kept the generation
    // declared — the unifier's fence), so commit them WITHOUT clobbering
    // the new current keys; the next unify drains them. If the target
    // generation is no longer declared at all (the marker expired —
    // heartbeat death — and the unifier collapsed it), the files would be
    // invisible to every reader: refuse loudly, like the file-existence
    // backstop above — Spark aborts and deletes the files; re-run.
    val gensNow = ArrowHiveLayout.readGenerations(fs, dirPath)
    val freshLayout = hiveKeys.nonEmpty &&
      !fs.exists(new Path(dirPath, ArrowHiveLayout.FileName))
    if (!freshLayout && !gensNow.contains(hiveKeys)) {
      ArrowOcc.clearPending(fs, dirPath, queryId)
      throw new java.io.IOException(
        s"arrow-ipc: append $queryId to $dir lost its layout protection " +
          s"(pending marker expired) and its target generation " +
          s"[${hiveKeys.mkString(", ")}] was unified and collapsed by " +
          "concurrent maintenance — re-run the write")
    }
    if (hiveKeys.nonEmpty && (freshLayout || gensNow.last == hiveKeys))
      ArrowHiveLayout.write(fs, dirPath, hiveKeys)
    // snapshot log: one delta entry per commit (advisory history — time
    // travel's substrate, never consulted by live reads). A truncate
    // wiped the directory, so its log restarts at snapshot 1.
    val rels = messages.collect { case ArrowIpcCommitMessage(files) =>
      files.map { case (path, _) =>
        ArrowSnapshots.relativize(fs, dirPath, new Path(path)) }
    }.flatten
    val snapId =
      ArrowSnapshots.append(fs, dirPath, rels.toSeq, Nil, op = "append")
    // exact own-commit id for fold-aware retry decisions (an empty
    // commit records the standing tip — "my rows" are vacuously covered
    // by any later fold)
    commitToken.foreach(ArrowSnapshots.CommitTokens.record(_, snapId))
    // this append is done: clear the pending marker, then restore the
    // latch unless ANOTHER live append still owns it
    ArrowOcc.clearPending(fs, dirPath, queryId)
    ArrowOcc.restoreLatch(fs, dirPath)
    } // withCommitLock
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    heartbeat.foreach(_.stop())
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    messages.foreach {
      case ArrowIpcCommitMessage(files) => files.foreach { case (path, _) =>
        val p = new Path(path)
        p.getFileSystem(conf).delete(p, false)
      }
      case _ => ()
    }
    // the aborted write's marker must not wedge latch restores forever;
    // the latch itself stays down (same pre-OCC contract: a failed
    // append leaves the directory refusing until the next commit)
    val dirPath = new Path(dir)
    ArrowOcc.clearPending(
      dirPath.getFileSystem(conf), dirPath, queryId)
  }
}

private[sources] case class ArrowIpcCommitMessage(
    files: Seq[(String, FileStats)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] class ArrowIpcWriterFactory(
    schema: StructType, dir: String, codec: Option[String], queryId: String,
    conf: SerializableHadoopConf, partitionKeys: Seq[String] = Nil,
    hiveKeys: Seq[String] = Nil, bloomCols: Set[String] = Set.empty,
    maxRecordsPerFile: Option[Long] = None)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new ArrowIpcDataWriter(schema, dir, codec, queryId, partitionId, taskId,
      conf, partitionKeys, hiveKeys, bloomCols = bloomCols,
      maxRowsPerFile = maxRecordsPerFile.getOrElse(Long.MaxValue))
}

/** The arrow-ipc task writer: every batch and streaming write, and every
  * maintenance rewrite's staging, run through it. Rows go to one open
  * [[ArrowFileWriter]] at a time; a new file starts when the key tuple
  * changes or when the open file reaches `maxRowsPerFile` (the knob that
  * keeps one giant input partition from producing one giant file).
  *
  * The key tuple is `hiveKeys` when set, else `partitionKeys`, else empty
  * (a plain write). With input clustered by key
  * (`repartition(keys).sortWithinPartitions(keys)` — the hive write asks
  * for it through RequiresDistributionAndOrdering, `Sinks.writeKeyGrouped`
  * does it for key-grouped layouts) every file is single-valued on the
  * keys, so the scan can prove a `KeyGroupedPartitioning` from the stats
  * manifest; unsorted input stays CORRECT (each file covers one run of
  * equal keys), it just yields more files. Hive keys also place each
  * file in its `key=value/` directory and are dropped from the file and
  * from its stats (a projecting row view feeds both).
  *
  * Files are written under task-scoped temp names and renamed at commit;
  * an empty task writes none (the sentinel carries the schema). A plain
  * write that never rolls keeps the one-file-per-task name
  * `part-NNNNN[-eE]-<qid>.arrows`; every other file carries a `-gSSSS`
  * sequence. */
private[sources] class ArrowIpcDataWriter(
    schema: StructType, dir: String, codec: Option[String], queryId: String,
    partitionId: Int, taskId: Long, conf: SerializableHadoopConf,
    partitionKeys: Seq[String] = Nil, hiveKeys: Seq[String] = Nil,
    epochTag: String = "", bloomCols: Set[String] = Set.empty,
    maxRowsPerFile: Long = Long.MaxValue)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val types = schema.fields.map(_.dataType)
  private val keyIdx = (if (hiveKeys.nonEmpty) hiveKeys else partitionKeys)
    .map(k => schema.fieldNames.indexOf(k)).toArray
  private val proj =
    if (hiveKeys.isEmpty) null
    else {
      val dataIdx = schema.fields.indices.filterNot(keyIdx.contains)
      org.apache.spark.sql.catalyst.ProjectingInternalRow(
        StructType(dataIdx.map(schema.fields(_))), dataIdx)
    }
  private val fileSchema = if (proj == null) schema else proj.schema
  private val numbered = keyIdx.nonEmpty || maxRowsPerFile != Long.MaxValue

  private var file: ArrowFileWriter = _
  private var tmp: Path = _
  private var fin: Path = _
  private var seq = 0
  private var curKey: Array[Any] = _ // boxed internal forms; strings cloned
  private val finished = scala.collection.mutable.ArrayBuffer
    .empty[(Path, Path, FileStats)] // (tmp, final, stats)

  private def keyAt(row: InternalRow, i: Int): Any = {
    val c = keyIdx(i)
    if (row.isNullAt(c)) null
    else types(c) match {
      case StringType => row.getUTF8String(c)
      case dt => row.get(c, dt)
    }
  }

  private def sameKey(row: InternalRow): Boolean = {
    var i = 0
    while (i < keyIdx.length) {
      if (!java.util.Objects.equals(curKey(i), keyAt(row, i))) return false
      i += 1
    }
    true
  }

  private def open(): Unit = {
    val parent =
      if (hiveKeys.isEmpty) new Path(dir)
      else curKey.zipWithIndex.foldLeft(new Path(dir)) { case (p, (v, i)) =>
        new Path(p, ArrowHiveLayout.dirSegment(schema.fields(keyIdx(i)), v))
      }
    val name =
      if (numbered) f"part-$partitionId%05d-g$seq%04d$epochTag-$queryId.arrows"
      else f"part-$partitionId%05d$epochTag-$queryId.arrows"
    fin = new Path(parent, name)
    tmp = new Path(parent, s".$name.task-$taskId.tmp")
    file = new ArrowFileWriter(fileSchema,
      tmp.getFileSystem(conf.value).create(tmp, true), codec, bloomCols)
  }

  private def finishFile(): Unit = if (file != null) {
    finished += ((tmp, fin, file.finish()))
    file = null
    seq += 1
  }

  override def write(row: InternalRow): Unit = {
    val newKey = curKey == null || !sameKey(row)
    if (newKey || file.rows >= maxRowsPerFile) {
      // rolling WITHIN a key run keeps the next -g file single-valued on
      // the keys (same value directory for hive); each file gets its own
      // stats/bloom entry
      finishFile()
      // retain the key OFF the row's reused buffers (UTF8String views them)
      if (newKey) curKey = Array.tabulate(keyIdx.length) { i =>
        keyAt(row, i) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
          case v => v
        }
      }
      open()
    }
    if (proj == null) file.write(row)
    else { proj.project(row); file.write(proj) }
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    finishFile()
    ArrowIpcCommitMessage(finished.map { case (t, f, st) =>
      val fs = f.getFileSystem(conf.value)
      if (!fs.rename(t, f)) {
        fs.delete(t, false)
        throw new java.io.IOException(s"arrow-ipc: rename $t -> $f failed")
      }
      f.toString -> st
    }.toSeq)
  }

  override def abort(): Unit = {
    val fs = new Path(dir).getFileSystem(conf.value)
    if (file != null) {
      file.abort()
      file = null
      fs.delete(tmp, false)
    }
    finished.foreach { case (t, _, _) => fs.delete(t, false) }
  }

  override def close(): Unit = ()
}

/** Streams one IPC file batch-by-batch, decoding only the required
  * columns into reused-nothing `GenericInternalRow`s. Pruned reads
  * tolerate extra (even unsupported-typed) columns in the file — the
  * validation covers exactly the projected set, or `table` when the
  * projection is empty ([[ArrowInterchange.resolveHeader]]). */
private[sources] class ArrowIpcPartitionReader(
    file: String, required: StructType, conf: SerializableHadoopConf,
    limit: Int = -1,
    skip: java.util.BitSet = null,
    keepOnly: java.util.BitSet = null,
    eq: ArrowEqualityDeletes.EqPart = null,
    table: StructType = null,
    rows: ArrowRowFilter = null)
    extends PartitionReader[InternalRow] {

  private val alloc = new RootAllocator()
  private val reader = {
    val p = new Path(file)
    // openPlanned: a concurrent compaction may retire the planned file to
    // `.trash/` mid-query — the trash copy is bit-identical until expiry
    new ArrowStreamReader(
      ArrowSnapshots.openPlanned(p.getFileSystem(conf.value), p), alloc,
      CommonsCompressionFactory.INSTANCE)
  }
  private val root = reader.getVectorSchemaRoot
  private val cols: Array[Int] =
    try ArrowInterchange.resolveHeader(root.getSchema, required, table, file)
    catch { case e: Throwable => closeQuietly(); throw e }
  private val rowCols: Array[Int] =
    try if (rows == null) null else rows.resolve(root, file)
    catch { case e: Throwable => closeQuietly(); throw e }
  private val types = required.fields.map(_.dataType)

  private var i = 0
  private var n = 0
  private var done = false
  private var produced = 0L
  private var phys = -1L
  private var current: InternalRow = _

  /** Physical ordinal (within the file) of the row `get()` serves — the
    * `_pos` metadata value. Masking skips positions, so surviving rows
    * keep their ORIGINAL ordinals (what a cumulative deletion vector
    * must reference). */
  def lastPos: Long = phys

  /** Deletion-vector masking: `skip` drops those positions; `keepOnly`
    * (the change feed's diff emission) drops everything else. */
  private def masked(pos: Long): Boolean =
    (skip != null && pos <= Int.MaxValue && skip.get(pos.toInt)) ||
      (keepOnly != null && (pos > Int.MaxValue || !keepOnly.get(pos.toInt)))

  // equality-delete masking: per-BATCH drop mask over the key vector
  // (Arrow loads every column of a batch, so the key is available even
  // when pruned from the projection). `emitDeleted` inverts — the fold's
  // position-finding read emits exactly the masked, dv-alive rows.
  private val eqLookup =
    if (eq == null) null else ArrowEqualityDeletes.lookupFor(eq, conf.value)
  private var eqDrop: Array[Boolean] = _
  // the exact filters' columns of the loaded batch (null = no filter)
  private var rowVecs: Array[org.apache.spark.sql.vectorized.ColumnVector] = _

  /** Combined drop decision for batch row `i` at file position `pos`. A
    * dropped row still advances the position, so `_pos` stays physical. */
  private def dropped(pos: Long, row: Int): Boolean = {
    if (masked(pos)) return true
    if (rowVecs != null && !rows.keeps(rowVecs, row)) return true
    val eqHit = eqDrop != null && eqDrop(row)
    if (eq != null && eq.emitDeleted) !eqHit else eqHit
  }

  override def next(): Boolean = {
    if (limit >= 0 && produced >= limit) return false
    while (true) {
      while (!done && i >= n) {
        if (reader.loadNextBatch()) {
          n = root.getRowCount; i = 0
          eqDrop =
            if (eqLookup == null) null
            else ArrowEqualityDeletes.batchMask(eq, eqLookup, root)
          if (rows != null) rowVecs = rows.vectors(root, rowCols)
        }
        else done = true
      }
      if (done) return false
      val pos = phys + 1
      if (dropped(pos, i)) { i += 1; phys = pos }
      else {
        val vals = new Array[Any](types.length)
        var c = 0
        while (c < types.length) {
          vals(c) =
            if (cols(c) < 0) null // evolved column absent from this file
            else ArrowInterchange.getInternalValue(root.getVector(cols(c)), types(c), i)
          c += 1
        }
        current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        i += 1
        phys = pos
        produced += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  private def closeQuietly(): Unit =
    try { reader.close(); alloc.close() } catch { case _: Throwable => () }
  override def close(): Unit = closeQuietly()
}
