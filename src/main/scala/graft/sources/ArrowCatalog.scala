package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-addressed [[TableCatalog]] over arrow-ipc directories — the hook
  * that lets Spark's own SQL DML reach the source:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     "graft.sources.ArrowCatalog")
  *   spark.sql("SELECT * FROM graft.`/data/events`")
  *   spark.sql("INSERT INTO graft.`/data/events` SELECT ...")
  *   spark.sql("DELETE FROM graft.`/data/events` WHERE ts < ...")
  * }}}
  *
  * The identifier IS the directory path (one backquoted part; dotted
  * parts re-join with `/` so `graft.tmp.dir` also resolves). Tables are
  * stateless views over the directory — `loadTable` re-infers the schema
  * from the sentinel on every call, so DDL state can never go stale; a
  * path without a committed arrow-ipc dataset raises the standard
  * no-such-table error. DELETE resolves through [[ArrowIpcTable]]'s
  * `SupportsDelete` (metadata-level whole-file deletes, refusal
  * otherwise); INSERT INTO/OVERWRITE ride the standard DSv2 write path
  * (append / truncate); ALTER TABLE supports the two metadata-only
  * schema evolutions (nullable ADD COLUMN, DROP COLUMN — see
  * [[alterTable]]). CREATE/RENAME are refused — directories are created
  * by writes, not DDL. */
class ArrowCatalog extends TableCatalog with ProcedureCatalog
    with StagingTableCatalog {
  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString("/")

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(p, "_schema.arrows")))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace :+ ident.name)
    new ArrowIpcTable(ArrowInterchange.readSchema(spark, dir), dir)
  }

  /** TIME TRAVEL — `VERSION AS OF <snapshot-id | 'tag-name'>`: pins the
    * table to one entry of the directory's `_snapshots/` log
    * ([[ArrowSnapshots]]); a non-numeric version resolves as a TAG
    * ([[ArrowTags]] — Iceberg's named-ref form, which is why all-digit
    * tag names are refused at creation). Scans read that snapshot's
    * file set (trash-resolved), mutations refuse. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val id = try java.lang.Long.parseLong(version)
    catch { case _: NumberFormatException =>
      val dir = dirOf(ident)
      val p = new Path(dir)
      val fs = p.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      ArrowTags.resolve(fs, p, version).getOrElse {
        val have = ArrowTags.list(fs, p).map(_.name)
        throw new IllegalArgumentException(
          s"$catalogName: VERSION AS OF takes a numeric snapshot id or " +
            s"a tag name; '$version' is neither" +
            (if (have.isEmpty) " (no tags)"
            else s" — tags: ${have.mkString(", ")}"))
      }
    }
    loadTable(ident) match {
      case t: ArrowIpcTable => new ArrowIpcTable(t.schema(), dirOf(ident), Some(id))
    }
  }

  /** `TIMESTAMP AS OF …` (micros since epoch, per the DSv2 contract):
    * resolves to the latest snapshot committed at or before the instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = loadTable(ident)
    val snaps = ArrowSnapshots.read(fs, p)
    val id = ArrowSnapshots.resolveAt(snaps, timestampMicros / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"$catalogName: no snapshot of $dir at or before " +
          s"timestamp $timestampMicros µs" + (
            if (snaps.isEmpty) " (no snapshot log)" else "")))
    new ArrowIpcTable(base.schema(), dir, Some(id))
  }

  override def tableExists(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    val p = new Path(dirOf(ident))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "_schema.arrows"))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    throw new UnsupportedOperationException(
      s"$catalogName: a path-addressed catalog cannot enumerate tables")

  /** Identity `PARTITIONED BY` columns → hive layout keys; anything
    * else (bucket/transform) is refused. */
  private def hiveKeysOf(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"$catalogName: only identity PARTITIONED BY columns map to this " +
          s"source's hive layout; got $t")
      t.references.head.fieldNames.mkString(".")
    }

  /** A table/write option from CREATE TABLE properties — Spark lands
    * SQL `OPTIONS(k v)` under the `option.` prefix, `TBLPROPERTIES`
    * bare. */
  private def propOf(properties: util.Map[String, String],
      key: String): Option[String] =
    Option(properties.get(TableCatalog.OPTION_PREFIX + key))
      .orElse(Option(properties.get(key)))

  /** CREATE TABLE (round 12) — the SQL-only bootstrap: mints the
    * dataset's metadata exactly the way a first write would (field-id'd
    * sentinel via atomic flip, layout declarations, completeness latch),
    * just with zero data files — so a pure-SQL session can
    * `CREATE TABLE graft.\`dir\` (…) PARTITIONED BY (…)` then INSERT /
    * MERGE / CALL without ever touching the DataFrame API. The created
    * table is indistinguishable from a drained one; every subsequent
    * commit rides the ordinary paths. CTAS goes through [[stageCreate]]
    * instead (one atomic batch-write commit). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace :+ ident.name)
    val hiveKeys = hiveKeysOf(partitions)
    require(hiveKeys.forall(schema.fieldNames.contains),
      s"$catalogName: PARTITIONED BY columns must be table columns")
    fs.mkdirs(p)
    ArrowOcc.withCommitLock(fs, p) {
      ArrowInterchange.writeSentinelAtomic(fs, p,
        ArrowInterchange.withFieldIds(schema))
      if (hiveKeys.nonEmpty) ArrowHiveLayout.write(fs, p, hiveKeys)
      propOf(properties, "partitionKeys").foreach(ks =>
        ArrowLayout.write(fs, p, ks.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      ArrowOcc.restoreLatch(fs, p)
    }
    loadTable(ident)
  }

  /** CTAS (round 12) — `CREATE TABLE graft.\`dir\` … AS SELECT …`
    * through the ORDINARY batch write: the staged table's write builder
    * is the same [[ArrowIpcWriteBuilder]] every append uses, pointed at
    * the final directory, so sentinel + stats + blooms + snapshot +
    * `_SUCCESS` land as the write's own single commit. No staging copy,
    * no second commit: readers refuse the directory until that commit
    * (no sentinel/latch → no table), which IS the staged-atomicity the
    * StagingTableCatalog contract wants — commitStagedChanges has
    * nothing left to do, and an abort removes the directory the CTAS
    * created. `PARTITIONED BY` (identity) maps to the hive layout;
    * OPTIONS codec/partitionKeys/bloomColumns/maxRecordsPerFile pass
    * through to the write. */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        Seq(catalogName) ++ ident.namespace :+ ident.name)
    val hiveKeys = hiveKeysOf(partitions)
    val existedBefore = fs.exists(p)
    // bind under fresh names: inside the anonymous class, `schema`/
    // `properties` resolve to the METHODS being defined (infinite
    // recursion), not these parameters
    val tableSchema = schema
    val tableProps = properties
    new StagedTable with SupportsWrite {
      override def name(): String = s"$catalogName.`$dir`"
      override def schema(): StructType = tableSchema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_WRITE,
          TableCapability.TRUNCATE)
      override def newWriteBuilder(
          info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        new ArrowIpcWriteBuilder(info.schema(), dir,
          propOf(properties, "codec")
            .orElse(Option(info.options.get("codec"))),
          info.queryId(),
          propOf(properties, "partitionKeys")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
          if (hiveKeys.nonEmpty) Some(hiveKeys) else None,
          propOf(properties, "bloomColumns")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
            .getOrElse(Set.empty),
          propOf(properties, "maxRecordsPerFile").map(_.toLong))
      override def commitStagedChanges(): Unit = ()
      override def abortStagedChanges(): Unit =
        // the CTAS created this directory; a failed/aborted write takes
        // it back. A directory that pre-existed (without a dataset) is
        // left alone — only the write's own task-temp cleanup applies.
        if (!existedBefore) {
          val _ = scala.util.Try(fs.delete(p, true))
        }
      override def partitioning(): Array[Transform] = partitions
      // the staged handle is also a plain Table view of the target
      override def properties(): util.Map[String, String] = tableProps
    }
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    throw new UnsupportedOperationException(
      s"$catalogName: REPLACE TABLE is not supported — use " +
        "INSERT OVERWRITE (truncate) on the standing table, which keeps " +
        "its snapshot history navigable")

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    if (tableExists(ident)) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  /** SCHEMA EVOLUTION — the two changes that are sound for name-resolved
    * immutable data files, both metadata-only (a sentinel rewrite; no
    * data file is touched):
    *
    *  - `ADD COLUMN` (nullable, appended last): standing files serve the
    *    column as all-NULL (the readers' missing→-1 resolution); new
    *    appends carry it. A non-nullable add, a positioned add, or a
    *    nested-field add is refused — each would silently lie about
    *    standing data.
    *  - `DROP COLUMN`: the column leaves the sentinel; standing files
    *    keep the bytes (readers resolve by name and ignore extras), new
    *    appends omit them. Dropping a layout/partition key is refused
    *    (the directory structure still encodes it). Re-adding a dropped
    *    name with a DIFFERENT type is user error the read then reports
    *    loudly (the standing bytes still carry the old type).
    *
    *  - `ALTER COLUMN … TYPE` for the WIDENINGS only (int→long,
    *    float→double, decimal(p,s)→(p+k,s)): standing files keep their
    *    narrow vectors, readers widen value-exactly, and the stats
    *    canonicals are already the widened forms so pruning needs no
    *    migration (see [[ArrowInterchange.isWidening]]).
    *
    * Everything else (renames, non-widening type changes, comments) is
    * refused: name-based resolution makes a rename unsound without a
    * rewrite, and non-widening casts would need per-file rewrites this
    * source does not do in DDL. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // serialized like every other commit: two concurrent ALTERs (or an
    // ALTER racing an append's schema validation... the append re-reads
    // under ITS lock) cannot lose each other's change
    ArrowOcc.withCommitLock(fs, p) {
    // EQUALITY-DELETE KEY protection: tombstones probe data files by
    // the key column's NAME — renaming or dropping it while tombstones
    // live would silently stop the masks from applying (resurrected
    // rows). Refuse loudly; the fold removes the constraint.
    (if (ArrowEqualityDeletes.any(fs, p))
      ArrowEqualityDeletes.keyColsOf(fs, p) else Nil).foreach { eqKey =>
      changes.foreach {
        case ren: TableChange.RenameColumn
            if ren.fieldNames.headOption.contains(eqKey) =>
          throw new IllegalArgumentException(
            s"$catalogName: '$eqKey' is the table's equality-delete key " +
              "and tombstones are live — renaming it would silently stop " +
              "the masks; fold first (CALL graft.system.purge_eq)")
        case del: TableChange.DeleteColumn
            if del.fieldNames.headOption.contains(eqKey) =>
          throw new IllegalArgumentException(
            s"$catalogName: '$eqKey' is the table's equality-delete key " +
              "and tombstones are live — dropping it would silently stop " +
              "the masks; fold first (CALL graft.system.purge_eq)")
        case _ => ()
      }
    }
    // the META-carrying schema: field ids + rename history survive the
    // fold (f.copy keeps metadata), renames extend it
    val before = ArrowInterchange.readSchemaWithMeta(spark, dir)
    var statsRenames = Map.empty[String, String]
    val after = changes.foldLeft(before) { (schema, change) => change match {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"$catalogName: only top-level columns can be added " +
            s"(got ${add.fieldNames.mkString(".")})")
        val colName = add.fieldNames.head
        require(!schema.fieldNames.contains(colName),
          s"$catalogName: column '$colName' already exists")
        require(add.isNullable,
          s"$catalogName: added column '$colName' must be nullable — " +
            "standing files serve it as NULL")
        require(add.position == null,
          s"$catalogName: positioned adds are not supported — new columns " +
            "append last")
        // a name standing data files still carry (a DROPped column's
        // bytes) must not come back: name-based resolution would serve
        // the OLD values where the ADD contract promises all-NULL.
        // Detected from the stats manifest (every DSv2-written file
        // records its columns); the refusal auto-heals once the old
        // files are rewritten (COW/compaction rebuild their stats).
        val carried = ArrowFileStats.read(fs, p).values
          .exists(_.cols.contains(colName))
        require(!carried,
          s"$catalogName: standing data files still carry bytes for " +
            s"'$colName' (dropped earlier?) — re-adding the name would " +
            "resurrect the old values instead of NULLs; rewrite the " +
            "files first or pick a new name")
        // a name in some field's RENAME HISTORY still labels that field's
        // bytes in standing files — a new column under it would serve them
        require(!schema.fields.exists(g =>
            ArrowInterchange.priorNames(g).contains(colName)),
          s"$catalogName: '$colName' is a prior name of an existing " +
            "column (renamed away) — standing files still resolve it to " +
            "that column; pick a new name")
        val grown = schema.add(colName, add.dataType, nullable = true)
        ArrowInterchange.toArrowSchema(grown) // interchange-supported type?
        grown
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          s"$catalogName: only top-level columns can be dropped " +
            s"(got ${del.fieldNames.mkString(".")})")
        val colName = del.fieldNames.head
        require(schema.fieldNames.contains(colName),
          s"$catalogName: no column '$colName' to drop")
        val keyed = ArrowLayout.read(fs, p) ++ ArrowHiveLayout.read(fs, p)
        require(!keyed.contains(colName),
          s"$catalogName: column '$colName' keys the directory layout — " +
            "it cannot be dropped")
        val kept = StructType(schema.fields.filter(_.name != colName))
        require(kept.nonEmpty,
          s"$catalogName: cannot drop the last column")
        kept
      // TYPE WIDENING (round 10): ALTER COLUMN … TYPE for exactly the
      // pairs [[ArrowInterchange.isWidening]] admits — int→long,
      // float→double, decimal(p,s)→(p+k,s). Metadata-only like ADD/DROP
      // (a sentinel rewrite): standing files keep their narrow vectors
      // and the readers widen value-exactly; standing stats/bloom
      // manifest entries are ALREADY in the widened canonical forms
      // (longs, exact float→double, scale-preserving decimal strings),
      // so pruning on the widened column stays sound with no migration.
      // New appends carry the wide type; a later rewrite converges the
      // physical files. Narrowing, scale changes, and everything
      // non-widening still refuse.
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          s"$catalogName: only top-level columns can change type " +
            s"(got ${upd.fieldNames.mkString(".")})")
        val colName = upd.fieldNames.head
        val f = schema.fields.find(_.name == colName).getOrElse(
          throw new IllegalArgumentException(
            s"$catalogName: no column '$colName' to alter"))
        require(graft.sources.ArrowInterchange.isWidening(
            f.dataType, upd.newDataType),
          s"$catalogName: cannot alter '$colName' from ${f.dataType} to " +
            s"${upd.newDataType} — only the widenings int→long, " +
            "float→double and decimal(p,s)→decimal(p+k,s) are sound for " +
            "name-resolved immutable files (anything else needs a rewrite)")
        StructType(schema.fields.map(g =>
          if (g.name == colName) g.copy(dataType = upd.newDataType) else g))
      // COLUMN RENAME (round 11) — sentinel-only, via field-id
      // indirection: the field keeps its stable id, the old name joins
      // its rename history, and readers resolve standing files by id
      // (files that carry ids) or by the history (id-less legacy and
      // maintenance-rewritten files). The stats manifests re-key to the
      // new name under this same lock, so pruning stays exactly as
      // selective. Refusals guard every label-reuse ambiguity.
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          s"$catalogName: only top-level columns can be renamed " +
            s"(got ${ren.fieldNames.mkString(".")})")
        val from = ren.fieldNames.head
        val to = ren.newName
        val f = schema.fields.find(_.name == from).getOrElse(
          throw new IllegalArgumentException(
            s"$catalogName: no column '$from' to rename"))
        val keyed = ArrowLayout.read(fs, p) ++ ArrowHiveLayout.read(fs, p)
        require(!keyed.contains(from),
          s"$catalogName: column '$from' keys the directory layout — the " +
            "paths/claims encode its name; it cannot be renamed")
        require(!schema.fieldNames.contains(to),
          s"$catalogName: column '$to' already exists")
        require(!to.exists(_ == ArrowInterchange.PriorSep),
          s"$catalogName: column names must not contain U+001F")
        // `to` must not be a name standing bytes or histories resolve to
        // ANOTHER field — that would mislabel their values
        require(!schema.fields.exists(g => g.name != from &&
            ArrowInterchange.priorNames(g).contains(to)),
          s"$catalogName: '$to' is a prior name of another column — " +
            "standing files still resolve it there; pick a new name")
        val carried = ArrowFileStats.read(fs, p).values
          .exists(_.cols.contains(to))
        require(!carried,
          s"$catalogName: standing data files still carry bytes for " +
            s"'$to' (a dropped column?) — renaming onto that label would " +
            "mislabel their values; rewrite the files first or pick a " +
            "new name")
        // compose chains within one ALTER call (a→b then b→c must re-key
        // the stats' 'a' columns straight to 'c')
        statsRenames = statsRenames.map { case (k, v) =>
          k -> (if (v == from) to else v) } + (from -> to)
        val hist = (from +: ArrowInterchange.priorNames(f))
          .filterNot(_ == to).distinct
        val meta = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putStringArray(ArrowInterchange.PriorNamesKey, hist.toArray)
          .build()
        StructType(schema.fields.map(g =>
          if (g.name == from) g.copy(name = to, metadata = meta) else g))
      case other =>
        throw new UnsupportedOperationException(
          s"$catalogName: unsupported table change $other — only nullable " +
            "ADD COLUMN (appended last), DROP COLUMN, widening " +
            "ALTER COLUMN TYPE, and RENAME COLUMN evolve the sentinel")
    }}
    // sentinel swap via ATOMIC REPLACE (round 11): reads are
    // deliberately lock-free, so the most correctness-bearing sidecar of
    // all must flip like the ledger/stats/tip files do — a racing reader
    // sees the old schema or the new one, never a torn/empty sentinel,
    // and a crash mid-ALTER leaves the table readable (old schema)
    // instead of wedged until manual repair.
    // any ALTER also assigns ids a legacy sentinel lacks — renames then
    // have history to hang on from the first evolution onward
    val committed = ArrowInterchange.withFieldIds(after)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      ArrowInterchange.writeSentinel(bos, committed)
      bos.toByteArray
    }
    ArrowOcc.writeAtomic(fs, new Path(p, "_schema.arrows"), bytes)
    // re-key the stats manifests to renamed columns under this same lock
    // — min/max/bloom pruning on the new name stays exactly as selective
    if (statsRenames.nonEmpty) ArrowFileStats.renameColumns(fs, p, statsRenames)
    new ArrowIpcTable(ArrowInterchange.stripEvolution(committed), dir)
    } // withCommitLock
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      s"$catalogName: refusing to recursively delete a directory via DDL " +
        "— remove the path with filesystem tooling if that is really meant")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: rename the directory with filesystem tooling")

  // ── SQL maintenance procedures (round 10) ────────────────────────────
  //
  // The DSv2 ProcedureCatalog face (Spark 4's public `CALL` API — the
  // same surface Iceberg exposes `rewrite_data_files` through): every
  // maintenance op as one SQL statement, so an operator never needs the
  // Scala API for the nightly loop:
  //
  //   CALL graft.system.compact(dir => '/lake/events')
  //   CALL graft.system.cluster('/lake/orders', 'o_orderdate')
  //   CALL graft.system.zorder('/lake/orders', 'o_custkey,o_orderkey')
  //   CALL graft.system.expire_snapshots('/lake/events', 42)
  //   CALL graft.system.vacuum('/lake/events')
  //   CALL graft.system.clean_orphans('/lake/events')
  //   CALL graft.system.recover('/lake/events')
  //
  // Each CALL returns a small result row (counts) and rides the same
  // OCC-serialized, crash-safe implementations as the Scala entry
  // points. The namespace is conventional — any one-level namespace
  // resolves (`CALL graft.ops.compact(…)` works too).

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}

  private case class GraftProcedure(
      procName: String, doc: String,
      params: Array[ProcedureParameter],
      out: StructType,
      body: InternalRow => Seq[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = doc
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false // mutates the directory
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val result = body(input).toArray
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = result
        override def readSchema(): StructType = out
      }
      java.util.Collections.singletonList(scan).iterator()
    }
  }

  private def in(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()
  private def inDefault(n: String, dt: DataType, sql: String): ProcedureParameter =
    ProcedureParameter.in(n, dt).defaultValue(sql).build()
  private def row(vs: Any*): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      vs.toArray.map {
        case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
        case v => v
      })
  private def dirArg(r: InternalRow): String = r.getUTF8String(0).toString

  /** The files a scan of `dir` serves right now — its live view, read
    * without waiting on the gate (a report, not a read). */
  private def liveFiles(dir: String): Seq[LiveFile] = {
    val spark = SparkSession.active
    ArrowLiveView.load(spark, dir, ArrowInterchange.readSchema(spark, dir)).files
  }
  private def targetBytes(r: InternalRow, i: Int): Long = r.getLong(i)

  private lazy val procedures: Map[String, GraftProcedure] = Seq(
    GraftProcedure("compact",
      "merge small files (incremental on hive layouts)",
      Array(in("dir", StringType),
        inDefault("target_bytes", LongType, "134217728")),
      StructType(Seq(org.apache.spark.sql.types.StructField("old_files", IntegerType),
        org.apache.spark.sql.types.StructField("new_files", IntegerType))),
      r => ArrowMaintenance.compact(SparkSession.active, dirArg(r),
          targetBytes = targetBytes(r, 1))
        .map(c => row(c.oldFiles, c.newFiles)).toSeq),
    GraftProcedure("cluster",
      "range-sort the dataset on sort_cols (csv) for interval pruning",
      Array(in("dir", StringType), in("sort_cols", StringType),
        inDefault("target_bytes", LongType, "134217728")),
      StructType(Seq(org.apache.spark.sql.types.StructField("old_files", IntegerType),
        org.apache.spark.sql.types.StructField("new_files", IntegerType))),
      r => ArrowMaintenance.cluster(SparkSession.active, dirArg(r),
          r.getUTF8String(1).toString.split(",").map(_.trim).toSeq,
          targetBytes = targetBytes(r, 2))
        .map(c => row(c.oldFiles, c.newFiles)).toSeq),
    GraftProcedure("zorder",
      "z-order the dataset on cols (csv, 2..K dims) for multi-column pruning",
      Array(in("dir", StringType), in("cols", StringType),
        inDefault("bits", IntegerType, "12"),
        inDefault("target_bytes", LongType, "134217728")),
      StructType(Seq(org.apache.spark.sql.types.StructField("old_files", IntegerType),
        org.apache.spark.sql.types.StructField("new_files", IntegerType))),
      r => ArrowMaintenance.clusterZOrderedN(SparkSession.active, dirArg(r),
          r.getUTF8String(1).toString.split(",").map(_.trim).toSeq,
          bits = r.getInt(2), targetBytes = targetBytes(r, 3))
        .map(c => row(c.oldFiles, c.newFiles)).toSeq),
    GraftProcedure("evolve_partitioning",
      "change the hive partition keys for FUTURE writes, metadata-only " +
        "(empty keys = flat) — existing files stay readable under their " +
        "own generation (N standing generations union; rewrites and " +
        "streaming refuse until cluster or unify_generation unifies)",
      Array(in("dir", StringType),
        inDefault("keys", StringType, "''")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("evolved",
          org.apache.spark.sql.types.BooleanType))),
      r => {
        val keys =
          if (r.isNullAt(1)) Nil
          else r.getUTF8String(1).toString.split(",")
            .map(_.trim).filter(_.nonEmpty).toSeq
        ArrowMaintenance.evolvePartitioning(
          SparkSession.active, dirArg(r), keys)
        Seq(row(true))
      }),
    GraftProcedure("unify_generation",
      "drain the OLDEST standing old partition generation into the " +
        "current layout (one generation per call — cost tracks ITS " +
        "bytes, the rest of the table is untouched); empty generations " +
        "collapse metadata-only; generations_remaining = 1 means the " +
        "table is unified and rewrites/DML/streaming are back. Empty " +
        "result = already single-generation. max_bytes bounds one " +
        "call's rewrite to ~that many bytes of the generation (a " +
        "partial drain leaves it standing; repeated calls converge)",
      Array(in("dir", StringType),
        inDefault("target_bytes", LongType, "134217728"),
        inDefault("max_bytes", LongType, "NULL")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("drained", StringType),
        org.apache.spark.sql.types.StructField("old_files", IntegerType),
        org.apache.spark.sql.types.StructField("new_files", IntegerType),
        org.apache.spark.sql.types.StructField("generations_remaining",
          IntegerType))),
      r => ArrowMaintenance.unifyGeneration(SparkSession.active, dirArg(r),
          targetBytes = targetBytes(r, 1),
          maxBytes = if (r.isNullAt(2)) None else Some(r.getLong(2)))
        .map(u => row(
          u.drained.fold("(none standing)")(g =>
            if (g.isEmpty) "(flat)" else g.mkString(",")),
          u.oldFiles, u.newFiles, u.generationsRemaining)).toSeq),
    GraftProcedure("publish_branch",
      "atomically move a WAP branch's staged files into the table " +
        "(one intent/replay commit, op = publish); the branch was " +
        "written with df.write.option('branch', name) and validated " +
        "via ArrowBranch.read",
      Array(in("dir", StringType), in("branch", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("files", IntegerType),
        org.apache.spark.sql.types.StructField("rows", LongType))),
      r => {
        val p = ArrowBranch.publish(SparkSession.active, dirArg(r),
          r.getUTF8String(1).toString)
        Seq(row(p.files, p.rows))
      }),
    GraftProcedure("list_branches",
      "live WAP branches with their staged footprint (files/bytes/rows " +
        "from the branch's own manifest) and newest modification time — " +
        "the age vacuum's branch-TTL expiry judges by",
      Array(in("dir", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("branch", StringType),
        org.apache.spark.sql.types.StructField("files", IntegerType),
        org.apache.spark.sql.types.StructField("bytes", LongType),
        org.apache.spark.sql.types.StructField("rows", LongType),
        org.apache.spark.sql.types.StructField("modified_ms", LongType))),
      r => {
        val dir = dirArg(r)
        val p = new Path(dir)
        val fs = p.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        ArrowBranch.detail(fs, p).map(b =>
          row(b.name, b.files, b.bytes, b.rows, b.modifiedMs))
      }),
    GraftProcedure("drop_branch",
      "abandon a WAP branch: its staged files are discarded, the main " +
        "table was never touched",
      Array(in("dir", StringType), in("branch", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("dropped",
          org.apache.spark.sql.types.BooleanType))),
      r => Seq(row(ArrowBranch.drop(SparkSession.active, dirArg(r),
        r.getUTF8String(1).toString)))),
    GraftProcedure("create_tag",
      "pin a named, immutable tag to a snapshot (default: the current " +
        "tip) — readable as VERSION AS OF '<name>' / option('tag', " +
        "name); expire_snapshots refuses to expire a tagged snapshot " +
        "until the tag is dropped",
      Array(in("dir", StringType), in("name", StringType),
        inDefault("snapshot", LongType, "NULL")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("tag", StringType),
        org.apache.spark.sql.types.StructField("snapshot", LongType))),
      r => {
        val dir = dirArg(r)
        val p = new Path(dir)
        val fs = p.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        val t = ArrowTags.create(fs, p, r.getUTF8String(1).toString,
          if (r.isNullAt(2)) None else Some(r.getLong(2)))
        Seq(row(t.name, t.snapshot))
      }),
    GraftProcedure("list_tags",
      "tags on the table: name, pinned snapshot, creation time",
      Array(in("dir", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("tag", StringType),
        org.apache.spark.sql.types.StructField("snapshot", LongType),
        org.apache.spark.sql.types.StructField("created_at",
          org.apache.spark.sql.types.TimestampType))),
      r => {
        val p = new Path(dirArg(r))
        val fs = p.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        ArrowTags.list(fs, p).map(t =>
          row(t.name, t.snapshot, t.createdMs * 1000L))
      }),
    GraftProcedure("drop_tag",
      "remove a tag; its snapshot stays retained until the next " +
        "expire_snapshots collapses it",
      Array(in("dir", StringType), in("name", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("dropped",
          org.apache.spark.sql.types.BooleanType))),
      r => {
        val p = new Path(dirArg(r))
        val fs = p.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        Seq(row(ArrowTags.drop(fs, p, r.getUTF8String(1).toString)))
      }),
    GraftProcedure("purge_eq",
      "fold every live equality-delete tombstone into positional " +
        "deletion vectors and remove it — restores row-level DML, " +
        "compaction, time travel, the change feed and aggregate " +
        "pushdown on a table fed by equality upserts",
      Array(in("dir", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("tombstones", IntegerType),
        org.apache.spark.sql.types.StructField("files_masked", IntegerType),
        org.apache.spark.sql.types.StructField("rows", LongType))),
      r => {
        val f = ArrowEqualityDeletes.fold(SparkSession.active, dirArg(r))
        Seq(row(f.tombstones, f.filesMasked, f.rows))
      }),
    GraftProcedure("expire_snapshots",
      "collapse time-travel history before keep_from; GC unreferenced trash",
      Array(in("dir", StringType), in("keep_from", LongType)),
      StructType(Seq(org.apache.spark.sql.types.StructField("dropped", IntegerType),
        org.apache.spark.sql.types.StructField("trash_deleted", IntegerType))),
      r => {
        val e = ArrowMaintenance.expireSnapshots(
          SparkSession.active, dirArg(r), r.getLong(1))
        Seq(row(e.dropped, e.trashDeleted))
      }),
    GraftProcedure("vacuum",
      "recover crashed swaps + sweep dead staging/orphans/markers + " +
        "purge files whose deletion vectors mask >= purge_masked_above " +
        "of their rows (default 0.5; > 1.0 disables — NOTE: the purge " +
        "leg REWRITES data files and is ON by default since round 12; " +
        "earlier rounds' vacuum was metadata-only); keep_from also " +
        "expires time-travel history before that snapshot (clamped to " +
        "the oldest tag — a pinned release never expires; drop the tag " +
        "to release it); folds " +
        "equality-delete tombstones once their count reaches " +
        "spark.graft.arrow.vacuumFoldEqAbove (default 16, <= 0 " +
        "disables) so the purge leg can collect the resulting vector " +
        "debt in the same run; drops WAP branches idle past " +
        "spark.graft.arrow.vacuumBranchTtlMs (default 7 days, <= 0 " +
        "disables — a write in flight always protects its branch); " +
        "auto-compacts small files once their count reaches " +
        "spark.graft.arrow.vacuumCompactMinSmallFiles (default 0 = OFF " +
        "— this leg rewrites data, so it is opt-in; 'small' = under " +
        "half spark.graft.arrow.vacuumCompactTargetBytes, default " +
        "128 MB); drains one standing old partition generation per run " +
        "when spark.graft.arrow.vacuumUnifyGenerations=true (default " +
        "false — this leg rewrites the drained generation, so it is " +
        "opt-in; see unify_generation). " +
        "Output sentinel: -1 in snapshots_dropped/" +
        "trash_deleted/files_purged/eq_tombstones_folded/" +
        "branches_expired/files_compacted/files_unified means that leg " +
        "did not run (or expired nothing)",
      Array(in("dir", StringType),
        inDefault("keep_from", LongType, "NULL"),
        inDefault("purge_masked_above",
          org.apache.spark.sql.types.DoubleType, "NULL")),
      StructType(Seq(org.apache.spark.sql.types.StructField("recovered", org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("staging_swept", IntegerType),
        org.apache.spark.sql.types.StructField("orphans_swept", IntegerType),
        org.apache.spark.sql.types.StructField("snapshots_dropped", IntegerType),
        org.apache.spark.sql.types.StructField("trash_deleted", IntegerType),
        org.apache.spark.sql.types.StructField("files_purged", IntegerType),
        // appended at the END: positional consumers of the round-12
        // schema keep their columns (the round-12 advice's convention)
        org.apache.spark.sql.types.StructField("eq_tombstones_folded",
          IntegerType),
        org.apache.spark.sql.types.StructField("branches_expired",
          IntegerType),
        org.apache.spark.sql.types.StructField("files_compacted",
          IntegerType),
        org.apache.spark.sql.types.StructField("files_unified",
          IntegerType))),
      r => {
        val keepFrom = if (r.isNullAt(1)) None else Some(r.getLong(1))
        val theta = if (r.isNullAt(2)) None else Some(r.getDouble(2))
        val v = ArrowMaintenance.vacuum(SparkSession.active, dirArg(r),
          keepFrom, theta)
        Seq(row(v.recovered, v.stagingSwept, v.orphansSwept,
          v.expired.map(_.dropped).getOrElse(-1),
          v.expired.map(_.trashDeleted).getOrElse(-1),
          // -1 = purge leg did not rewrite anything — the SAME no-op
          // sentinel as the expiry columns above (0 would be ambiguous
          // with "ran and purged zero files")
          v.purged.map(_.oldFiles).getOrElse(-1),
          v.eqFolded.map(_.tombstones).getOrElse(-1),
          v.branchesExpired.map(_.size).getOrElse(-1),
          v.compacted.map(_.oldFiles).getOrElse(-1),
          v.unified.map(_.oldFiles).getOrElse(-1)))
      }),
    // statement-level DML with BOUNDED TRANSPARENT RETRY (round 11):
    // a lost COW commit race re-plans and re-executes the statement
    // against the new snapshot (ArrowDml) — the hands-free face of
    // UPDATE/DELETE for the ingest+maintenance loop
    GraftProcedure("update",
      "UPDATE dir SET set_clause [WHERE where_clause] with bounded " +
        "transparent retry on a lost commit race",
      Array(in("dir", StringType), in("set_clause", StringType),
        inDefault("where_clause", StringType, "NULL")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("retried", IntegerType))),
      r => Seq(row(ArrowDml.update(SparkSession.active, dirArg(r),
        r.getUTF8String(1).toString,
        if (r.isNullAt(2)) None else Some(r.getUTF8String(2).toString))))),
    GraftProcedure("delete_where",
      "DELETE FROM dir [WHERE where_clause] with bounded transparent " +
        "retry on a lost commit race (metadata fast path when provable)",
      Array(in("dir", StringType),
        inDefault("where_clause", StringType, "NULL")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("retried", IntegerType))),
      r => Seq(row(ArrowDml.delete(SparkSession.active, dirArg(r),
        if (r.isNullAt(1)) None else Some(r.getUTF8String(1).toString))))),
    // MERGE-ON-READ delete (round 11): commit O(deleted rows) of
    // deletion-vector metadata instead of rewriting files — the GDPR
    // point-delete shape; the next compact/vacuum folds the vectors away
    GraftProcedure("delete_mor",
      "merge-on-read DELETE FROM dir WHERE where_clause: mask row " +
        "positions via deletion vectors (no file rewrite); bounded " +
        "transparent retry on a lost commit race",
      Array(in("dir", StringType), in("where_clause", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("files", IntegerType),
        org.apache.spark.sql.types.StructField("deleted_rows", LongType),
        org.apache.spark.sql.types.StructField("retried", IntegerType))),
      r => {
        val res = ArrowDeleteVectors.deleteMor(SparkSession.active,
          dirArg(r), r.getUTF8String(1).toString)
        Seq(row(res.files, res.deletedRows, res.retries))
      }),
    GraftProcedure("purge",
      "fold deletion vectors by rewriting ONLY the vector-carrying " +
        "files to their survivors (clean files untouched)",
      Array(in("dir", StringType),
        inDefault("target_bytes", LongType, "134217728")),
      StructType(Seq(org.apache.spark.sql.types.StructField("old_files", IntegerType),
        org.apache.spark.sql.types.StructField("new_files", IntegerType))),
      r => ArrowMaintenance.purgeDeletes(SparkSession.active, dirArg(r),
          targetBytes = targetBytes(r, 1))
        .map(c => row(c.oldFiles, c.newFiles)).toSeq),
    // snapshot RESTORE (round 12): roll the live table back to any
    // retained snapshot as ONE new log entry — history never rewritten,
    // O(delta) renames, crash-safe intent/replay; the rollback is itself
    // time-travelable and reversible (restore forward again)
    GraftProcedure("restore",
      "restore the live table to the exact state of snapshot to_snapshot " +
        "— or, via to_timestamp_ms, of the newest snapshot committed at " +
        "or before that wall clock, or, via to_tag, of a tagged release " +
        "(exactly one of the three) — " +
        "(Iceberg rollback / Delta RESTORE): one new snapshot entry, " +
        "files move between the live set and .trash/, no data rewritten",
      Array(in("dir", StringType),
        inDefault("to_snapshot", LongType, "NULL"),
        inDefault("to_timestamp_ms", LongType, "NULL"),
        inDefault("dry_run", org.apache.spark.sql.types.BooleanType, "false"),
        inDefault("to_tag", StringType, "NULL")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("restored_files", IntegerType),
        org.apache.spark.sql.types.StructField("removed_files", IntegerType),
        org.apache.spark.sql.types.StructField("new_snapshot", LongType))),
      r => {
        require(Seq(r.isNullAt(1), r.isNullAt(2), r.isNullAt(4))
            .count(_ == false) == 1,
          "restore: pass exactly one of to_snapshot / to_timestamp_ms / to_tag")
        val dry = !r.isNullAt(3) && r.getBoolean(3)
        val spark = SparkSession.active
        val res =
          if (!r.isNullAt(1))
            ArrowMaintenance.restore(spark, dirArg(r),
              r.getLong(1), dryRun = dry)
          else if (!r.isNullAt(4)) {
            val p = new Path(dirArg(r))
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            ArrowMaintenance.restore(spark, dirArg(r),
              ArrowTags.resolveRequired(fs, p, r.getUTF8String(4).toString),
              dryRun = dry)
          } else ArrowMaintenance.restoreAt(spark, dirArg(r),
            r.getLong(2), dryRun = dry)
        Seq(row(res.restoredFiles, res.removedFiles, res.newSnapshot))
      }),
    GraftProcedure("clean_orphans",
      "delete provably-dead uncommitted stream files and task temps",
      Array(in("dir", StringType)),
      StructType(Seq(org.apache.spark.sql.types.StructField("swept", IntegerType))),
      r => Seq(row(
        ArrowMaintenance.cleanOrphans(SparkSession.active, dirArg(r)).size))),
    GraftProcedure("recover",
      "replay a crashed swap's intent to completion",
      Array(in("dir", StringType)),
      StructType(Seq(org.apache.spark.sql.types.StructField("replayed", org.apache.spark.sql.types.BooleanType))),
      r => Seq(row(ArrowMaintenance.recover(SparkSession.active, dirArg(r))))),
    // LLM-pipeline ops as SQL (round 11): the pieces a SQL-only operator
    // needs to run the training-data loop — ANN index maintenance and
    // the dedup kept-set — each riding the same Scala implementations
    // the oracle-checked queries use
    GraftProcedure("ivf_build",
      "build (or atomically rebuild) the stored IVF ANN index over an " +
        "arrow-ipc corpus directory; quantized => true stores int8 " +
        "(SQ8) cell files — ~3x smaller, recall recoverable via " +
        "ivf_search's refine_dir",
      Array(in("index_dir", StringType), in("source_dir", StringType),
        in("id_col", StringType), in("vec_col", StringType),
        inDefault("nlist", IntegerType, "64"),
        inDefault("quantized", org.apache.spark.sql.types.BooleanType,
          "false")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("generation", StringType),
        org.apache.spark.sql.types.StructField("nlist", IntegerType))),
      r => {
        val spark = SparkSession.active
        val indexDir = dirArg(r)
        val corpus = spark.read.format("arrow-ipc")
          .load(r.getUTF8String(1).toString)
        graft.ops.Similarity.ivfBuild(corpus,
          r.getUTF8String(2).toString, r.getUTF8String(3).toString,
          r.getInt(4), indexDir,
          quantized = !r.isNullAt(5) && r.getBoolean(5))
        val gen = new Path(
          graft.ops.Similarity.ivfGenerationDir(spark, indexDir)).getName
        Seq(row(gen, r.getInt(4)))
      }),
    // SQL search face (round 15): queries and results are DIRECTORIES —
    // a result set of |queries|·k rows must not funnel through a
    // procedure's driver-side row collect (the same stance as CALL
    // dedup's output_dir). id/vec column names come from the index
    // manifest; only the query-side names are the caller's to state.
    GraftProcedure("ivf_search",
      "top-k cosine ANN against the stored IVF index: queries read " +
        "from queries_dir (qid_col, qvec_col), the ranking written to " +
        "output_dir as arrow-ipc; refine_dir (the float corpus the " +
        "index was built from) re-ranks a quantized index's top " +
        "k*refine_factor candidates float-exactly",
      Array(in("index_dir", StringType), in("queries_dir", StringType),
        in("output_dir", StringType),
        in("qid_col", StringType), in("qvec_col", StringType),
        inDefault("k", IntegerType, "10"),
        inDefault("nprobe", IntegerType, "8"),
        inDefault("refine_dir", StringType, "NULL"),
        inDefault("refine_factor", IntegerType, "4")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("queries", LongType),
        org.apache.spark.sql.types.StructField("results", LongType))),
      r => {
        val spark = SparkSession.active
        val indexDir = dirArg(r)
        val queries = spark.read.format("arrow-ipc")
          .load(r.getUTF8String(1).toString)
        val outDir = r.getUTF8String(2).toString
        val (qid, qvec) =
          (r.getUTF8String(3).toString, r.getUTF8String(4).toString)
        val (idCol, vecCol, _) =
          graft.ops.Similarity.ivfColumns(spark, indexDir)
        val res =
          if (r.isNullAt(7))
            graft.ops.Similarity.ivfTopKStored(spark, indexDir, queries,
              idCol, vecCol, qid, qvec, r.getInt(5), r.getInt(6))
          else
            graft.ops.Similarity.ivfTopKStoredRefined(spark, indexDir,
              queries,
              spark.read.format("arrow-ipc")
                .load(r.getUTF8String(7).toString),
              idCol, vecCol, qid, qvec, r.getInt(5), r.getInt(6),
              r.getInt(8))
        res.write.format("arrow-ipc").mode("overwrite").save(outDir)
        Seq(row(queries.count(),
          spark.read.format("arrow-ipc").load(outDir).count()))
      }),
    GraftProcedure("ivf_append",
      "assign fresh vectors to the stored index's frozen centroids and " +
        "append them to its cell files (O(new*nlist), never a rebuild)",
      Array(in("index_dir", StringType), in("source_dir", StringType),
        in("id_col", StringType), in("vec_col", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("appended", LongType),
        org.apache.spark.sql.types.StructField("generation", StringType))),
      r => {
        val spark = SparkSession.active
        val indexDir = dirArg(r)
        val fresh = spark.read.format("arrow-ipc")
          .load(r.getUTF8String(1).toString)
        val n = fresh.count()
        graft.ops.Similarity.ivfAppend(spark, indexDir, fresh,
          r.getUTF8String(2).toString, r.getUTF8String(3).toString)
        val gen = new Path(
          graft.ops.Similarity.ivfGenerationDir(spark, indexDir)).getName
        Seq(row(n, gen))
      }),
    GraftProcedure("ivf_compact",
      "rewrite the stored index's cell files key-grouped into a fresh " +
        "generation and flip the manifest — an incrementally grown " +
        "index sheds its per-append small files; search results are " +
        "bit-identical. old_files = new_files = 0 when there is " +
        "nothing to do or every attempt lost to a concurrent " +
        "append/rebuild",
      Array(in("index_dir", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("old_files", IntegerType),
        org.apache.spark.sql.types.StructField("new_files", IntegerType),
        org.apache.spark.sql.types.StructField("generation", StringType))),
      r => {
        val spark = SparkSession.active
        val indexDir = dirArg(r)
        val res = graft.ops.Similarity.ivfCompact(spark, indexDir)
        val gen = new Path(
          graft.ops.Similarity.ivfGenerationDir(spark, indexDir)).getName
        Seq(row(res.map(_._1).getOrElse(0), res.map(_._2).getOrElse(0), gen))
      }),
    GraftProcedure("dedup",
      "near-dup dedup of a document directory: minhash-LSH pairs -> " +
        "exact-jaccard verify -> connected components -> keep the " +
        "longest doc per cluster; writes the kept set to output_dir",
      Array(in("source_dir", StringType), in("output_dir", StringType),
        in("id_col", StringType), in("text_col", StringType),
        inDefault("threshold", org.apache.spark.sql.types.DoubleType, "0.6"),
        inDefault("width", IntegerType, "6")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("input_rows", LongType),
        org.apache.spark.sql.types.StructField("kept_rows", LongType))),
      r => {
        val spark = SparkSession.active
        import org.apache.spark.sql.functions.{coalesce, col, length}
        val idCol = r.getUTF8String(2).toString
        val textCol = r.getUTF8String(3).toString
        val docs = spark.read.format("arrow-ipc").load(dirArg(r))
        val pairs = graft.ops.Dedup.jaccardPairsLsh(docs, idCol, textCol,
          width = r.getInt(5), threshold = r.getDouble(4),
          k = 12, bands = 4)
        val labels = graft.ops.Dedup.connectedComponents(pairs, idCol)
        val scored = docs
          .select(col(idCol), length(col(textCol)).cast("long").as("__score"))
          .join(labels, Seq(idCol), "left")
          .withColumn("component", coalesce(col("component"), col(idCol)))
        val reps = graft.ops.Dedup.componentRepresentatives(
          scored, idCol, "component", "__score")
        val kept = docs.join(
          reps.select(col(s"rep_$idCol").as(idCol)), idCol)
        kept.write.format("arrow-ipc").mode("overwrite")
          .save(r.getUTF8String(1).toString)
        Seq(row(docs.count(), kept.count()))
      }),
    // read-only: the id a reproducible consumer should pin
    // (`option("asOfSnapshot", id)` / `VERSION AS OF id`) — e.g. a
    // training job that must see one frozen table across retries
    GraftProcedure("current_snapshot",
      "the directory's latest committed snapshot id (0 = no history)",
      Array(in("dir", StringType)),
      StructType(Seq(org.apache.spark.sql.types.StructField("snapshot_id", LongType))),
      r => {
        val p = new Path(dirArg(r))
        val fs = p.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        Seq(row(ArrowSnapshots.currentTip(fs, p)))
      }),
    // read-only: the DESCRIBE DETAIL analog — one row of table facts
    // from metadata alone (listing + manifest + declarations; no data
    // file is ever opened)
    GraftProcedure("detail",
      "table facts: files, bytes, rows (manifest-exact or -1), deletion " +
        "vectors, layouts, blooms, tip, equality tombstones (count + " +
        "keys, round 13), WAP branches, partition generations, tags " +
        "(round 14)",
      Array(in("dir", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("location", StringType),
        org.apache.spark.sql.types.StructField("files", IntegerType),
        org.apache.spark.sql.types.StructField("bytes", LongType),
        org.apache.spark.sql.types.StructField("rows", LongType),
        org.apache.spark.sql.types.StructField("deletion_vectors", IntegerType),
        org.apache.spark.sql.types.StructField("masked_rows", LongType),
        org.apache.spark.sql.types.StructField("layout_keys", StringType),
        org.apache.spark.sql.types.StructField("hive_keys", StringType),
        org.apache.spark.sql.types.StructField("bloom_columns", StringType),
        org.apache.spark.sql.types.StructField("snapshot_tip", LongType),
        // appended at the END (round-12 advice convention): round-13
        // surfaces — equality tombstones (count and key cardinality
        // from the names alone), WAP branches, partition generations
        org.apache.spark.sql.types.StructField("eq_tombstones", IntegerType),
        org.apache.spark.sql.types.StructField("eq_masked_keys", LongType),
        org.apache.spark.sql.types.StructField("branches", StringType),
        org.apache.spark.sql.types.StructField("partition_generations",
          IntegerType),
        // round 14: named snapshot refs
        org.apache.spark.sql.types.StructField("tags", StringType))),
      r => {
        val dir = dirArg(r)
        val p = new Path(dir)
        val fs = p.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        // the files a scan serves: the table's live view
        val files = liveFiles(dir)
        val manifest = ArrowFileStats.read(fs, p)
        // LIVE rows: physical manifest counts minus the deletion-vector
        // cardinalities (carried in the vector names — nothing opened)
        val dvs = ArrowDeleteVectors.live(fs, p)
        val masked = dvs.values.map(_.card).sum
        val rows =
          if (files.forall(f => manifest.contains(f.name)))
            files.map(f => manifest(f.name).rows).sum - masked
          else -1L
        val blooms = manifest.values
          .flatMap(_.cols.collect { case (c, s) if s.bloom.isDefined => c })
          .toSet.toSeq.sorted
        val tombs = ArrowEqualityDeletes.liveTombs(fs, p)
        val tombKeys = tombs.flatMap { case (rel, _) =>
          ArrowEqualityDeletes.parseName(new Path(rel).getName).map(_._2)
        }.sum
        Seq(row(dir, files.size, files.map(_.status.getLen).sum, rows,
          dvs.size, masked,
          ArrowLayout.read(fs, p).mkString(","),
          ArrowHiveLayout.read(fs, p).mkString(","),
          blooms.mkString(","),
          ArrowSnapshots.currentTip(fs, p),
          tombs.size, tombKeys,
          ArrowBranch.list(fs, p).mkString(","),
          ArrowHiveLayout.readGenerations(fs, p).size,
          ArrowTags.list(fs, p).map(t => s"${t.name}=${t.snapshot}")
            .mkString(",")))
      }),
    // read-only: the Iceberg `files` metadata-table analog — one row per
    // LIVE data file, from the listing + manifest + vector names alone
    // (nothing opened); the ops face for "which files hold the debt"
    GraftProcedure("list_files",
      "live data files: relative path, rows (manifest-exact or -1 for a " +
        "foreign import), bytes, commit sequence (equality-delete " +
        "ordering; -1 for a foreign import, matching rows — a genuine " +
        "sequence is never negative), rows masked by this file's " +
        "deletion vector",
      Array(in("dir", StringType)),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("file", StringType),
        org.apache.spark.sql.types.StructField("rows", LongType),
        org.apache.spark.sql.types.StructField("bytes", LongType),
        org.apache.spark.sql.types.StructField("seq", LongType),
        org.apache.spark.sql.types.StructField("masked_rows", LongType))),
      r => {
        val dir = dirArg(r)
        val p = new Path(dir)
        val fs = p.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        val manifest = ArrowFileStats.read(fs, p)
        val dvs = ArrowDeleteVectors.live(fs, p)
        liveFiles(dir).sortBy(_.rel).map { f =>
          val m = manifest.get(f.name)
          // the same -1 sentinel as `rows` for a manifest-unknown
          // (foreign) file — seq 0 would be indistinguishable from a
          // genuine first-commit sequence
          row(f.rel, m.map(_.rows).getOrElse(-1L), f.status.getLen,
            m.map(_.seq).getOrElse(-1L),
            dvs.get(f.name).map(_.card).getOrElse(0L))
        }
      }),
    // read-only: the DESCRIBE HISTORY analog — one row per retained
    // snapshot, newest first (expired prefixes are folded into the base
    // checkpoint entry, which reports its cumulative adds)
    GraftProcedure("history",
      "retained snapshot log, newest first: id, commit time, OPERATION " +
        "kind (append/stream/compact/cluster/cow/delete/mor-delete/" +
        "mor-update/restore/eq-upsert/eq-fold/publish; blank = pre-kind " +
        "history), files and " +
        "deletion vectors added/removed; `limit` bounds the parse to " +
        "the newest N entries (an unlimited call is O(retained history))",
      Array(in("dir", StringType),
        inDefault("limit", IntegerType, "NULL")),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("snapshot_id", LongType),
        org.apache.spark.sql.types.StructField("committed_at",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("operation", StringType),
        org.apache.spark.sql.types.StructField("files_added", IntegerType),
        org.apache.spark.sql.types.StructField("files_removed", IntegerType),
        org.apache.spark.sql.types.StructField("dvs_added", IntegerType),
        org.apache.spark.sql.types.StructField("dvs_removed", IntegerType))),
      r => {
        val p = new Path(dirArg(r))
        val fs = p.getFileSystem(
          SparkSession.active.sparkContext.hadoopConfiguration)
        // a merge-on-read commit's vector rels ride the same log entries
        // as data files — split them so "files_added" means FILES and a
        // pure MOR delete reads as (0 files, 1 vector), not "+1 file".
        // `limit` parses exactly the newest N entries (readNewest) —
        // the deep-history diagnostic shape a 5000-epoch table needs.
        val snaps =
          if (r.isNullAt(1)) ArrowSnapshots.read(fs, p).sortBy(-_.id)
          else ArrowSnapshots.readNewest(fs, p, r.getInt(1))
        snaps.map { s =>
          val (af, av) = ArrowDeleteVectors.splitResolved(s.adds.toSet)
          val (rf, rv) = ArrowDeleteVectors.splitResolved(s.removes.toSet)
          row(s.id, s.tsMillis * 1000L,
            org.apache.spark.unsafe.types.UTF8String.fromString(s.op),
            af.size, rf.size, av.size, rv.size)
        }
      })
  ).map(p => p.procName -> p).toMap

  override def loadProcedure(ident: Identifier): UnboundProcedure =
    procedures.getOrElse(ident.name.toLowerCase(java.util.Locale.ROOT),
      throw new UnsupportedOperationException(
        s"$catalogName: no procedure '${ident.name}' — available: " +
          procedures.keys.toSeq.sorted.mkString(", ")))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    procedures.keys.toSeq.sorted
      .map(n => Identifier.of(
        if (namespace.isEmpty) Array("system") else namespace, n)).toArray
}
