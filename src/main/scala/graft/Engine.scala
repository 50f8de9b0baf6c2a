package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Engine facade: session construction and table access.
  *
  * Mirrors the reference's source layer (ParquetBlockInputStream,
  * /root/reference/DataStreams/ParquetBlockInputStream.cpp:20-54) — but
  * Spark's Parquet DataSource already performs the row-group selection and
  * column pruning the reference does by hand, driven by Catalyst's pushdown.
  *
  * Scale note: reads are path-based so the same code runs against a
  * directory of thousands of files on a cluster; nothing here assumes
  * single-file or single-node layout.
  */
object Engine {

  /** The engine's one session profile: every main, probe and the test
    * harness build their session here. Local testing uses
    * local[N]; on a real cluster the master/memory flags come from
    * spark-submit and everything else here still applies.
    */
  def session(appName: String = "graft", master: String = "local[*]"): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      // House SQL functions (vec_dot, sorted_intersect_size, the bit-exact
      // hash family). NOTE: extensions apply only when this builder CREATES
      // the session — getOrCreate on an existing session keeps its registry.
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val withMaster = if (master.nonEmpty) b.master(master) else b
    val spark = withMaster.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Aggregator UDAFs register per-session (idempotent re-registration).
    graft.ops.Aggregates.registerHouseFunctions(spark)
    spark
  }

  /** Read one named table from a scale-factor directory.
    * `$dir/$name.parquet` may be a single file or a directory of parts.
    *
    * Temporal normalization — the engine's canonical event-time type is
    * TimestampType (µs, instant semantics; session pinned UTC above), and
    * the testdata's `ts` column has shipped in three physical forms across
    * generator versions, all normalized here:
    *   - TIMESTAMP_MICROS(isAdjustedToUTC=true)  → TimestampType: no-op.
    *   - TIMESTAMP_MICROS(isAdjustedToUTC=false) → Spark TIMESTAMP_NTZ:
    *     cast to TimestampType. With the session zone pinned UTC the
    *     rebase is the identity on the stored µs value.
    *   - TIMESTAMP_NANOS → illegal for Spark's reader; with
    *     `spark.sql.legacy.parquet.nanosAsLong` they load as epoch-nanos
    *     longs, converted via integer `div` so the int64 nanos never
    *     round-trip through a double. */
  /** Schema cache for [[table]] reads: the benchmark/verify tables are
    * immutable inputs, but every `spark.read.parquet(path)` re-infers the
    * schema from a file footer — a driver-side read per table access that
    * a multi-query session pays hundreds of times (round-17 optimization
    * pass; driver-stack samples showed `readingParquetFooter` threads).
    * Caching the inferred StructType per path is metadata caching only —
    * file listing and all data reads still happen per query. Production
    * analog: a catalog (metastore/manifest) serving schemas instead of
    * footer sniffing. Keyed per (JVM, path); a regenerated testdata dir
    * lands at a different path or a fresh JVM. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Memoized ANALYZED frame per (session, path) — round-18 pass
    * (VERDICT item 6). The schema cache above removed the footer read;
    * what remained per [[table]] call was rebuilding and re-ANALYZING
    * the identical read + normalizeTemporal plan (every withColumn is
    * its own analysis pass) for every one of a query's table accesses —
    * pure driver work repeated 2-4× per query, hundreds of times per
    * bench run. A DataFrame is immutable, so handing the same analyzed
    * frame out again reuses its plan, and with it the plan's file index:
    * the parquet directory is listed ONCE, when the frame is created, and
    * every later action on a memoized frame reads that pinned listing
    * (pushdown and data reads still happen per action). Files added to or
    * removed from the directory afterwards are not seen until the entry is
    * dropped. Keyed on the session (a frame is bound to the session that
    * analyzed it) — entries die with the JVM; [[clearTableCache]] resets
    * between in-process tests that regenerate data in place (ADVICE
    * round 17). */
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Test hook: drop memoized schemas/frames (e.g. after regenerating a
    * parquet dir in place at the same path within one JVM). */
  def clearTableCache(): Unit = {
    schemaCache.clear()
    frameCache.clear()
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val hit = frameCache.get((spark, path))
    if (hit != null) return hit
    // Set here, not in `session`: SparkEntry callers may pass their own session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val cached = schemaCache.get(path)
    val df =
      if (cached != null) normalizeTemporal(spark.read.schema(cached).parquet(path))
      else {
        val raw = spark.read.parquet(path)
        schemaCache.putIfAbsent(path, raw.schema)
        normalizeTemporal(raw)
      }
    frameCache.putIfAbsent((spark, path), df)
    df
  }

  /** Canonicalize the temporal columns of a freshly-read frame (see
    * [[table]]). Applied to every ingest path (batch parquet here; the
    * schema-drift guard suite drives it over all three `ts` encodings). */
  def normalizeTemporal(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }
  }

  /** Empty frame with a declared schema — the reference's
    * NullBlockInputStream (DataStreams/NullBlockInputStream.h). */
  def nullSource(spark: SparkSession, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Accepted leaf-relation class names for [[narrowPlan]]. DSv1 scans are
    * `LogicalRelation`; DSv2 scans (delta/iceberg/future sources) surface
    * as `DataSourceV2ScanRelation`; Hive catalog tables as
    * `HiveTableRelation`. Name-matched (the classes are private[sql]) —
    * the whitelist is ENUMERATED by EngineSpec so a Spark upgrade or a new
    * node type fails a test loudly instead of silently disabling the
    * rebalance. */
  private[graft] val narrowLeafNames =
    Set("LogicalRelation", "DataSourceV2ScanRelation", "HiveTableRelation")

  /** True iff the optimized logical plan is a provably shuffle-free chain
    * (project/filter/coalesce/union over relations) — the only plans where
    * probing `df.rdd` is safe AND a pre-compute widening is meaningful.
    * Under AQE, `df.rdd` on a plan with exchanges materializes the
    * upstream stages as real jobs (run once for the probe, re-run by the
    * action) — and a post-shuffle frame is already session-wide anyway.
    * The check is on the LOGICAL plan: with AQE the physical `sparkPlan`
    * doesn't carry exchanges yet (EnsureRequirements runs inside the
    * adaptive executor), so a physical-Exchange scan would miss them. */
  private[graft] def narrowPlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, LocalRelation, LogicalPlan, Project => LProject,
      Range => LRange, Repartition, SubqueryAlias, Union}
    def narrowChain(p: LogicalPlan): Boolean = p match {
      case _: LProject | _: LFilter | _: SubqueryAlias | _: Union =>
        p.children.forall(narrowChain)
      case r: Repartition => !r.shuffle && r.children.forall(narrowChain) // coalesce
      case _: LocalRelation | _: LRange => true
      case r => r.children.isEmpty &&
        narrowLeafNames.contains(r.getClass.getSimpleName)
    }
    !df.isStreaming && narrowChain(df.queryExecution.optimizedPlan)
  }

  /** Widen a frame to the session's parallelism before a COMPUTE-BOUND
    * scan-local stage (per-doc hashing kernels: ShingleMinhash, SimHash64).
    *
    * Spark sizes scan splits by BYTES (`files.maxPartitionBytes` /
    * `openCostInBytes`), which is right for I/O-bound plans but wrong for a
    * kernel doing thousands of md5s per row: a small compressed file lands
    * in ONE split, the kernel runs on one core, and — the part that
    * compounds — any PERSISTED frame built from it is cached 1-wide, so
    * every downstream consumer (the jaccard verify joins, components) also
    * starts single-partition (measured at sf0.1: the documents table is a
    * single 0.6 MB split; widening cuts the jaccard/clean pipelines ~25%,
    * and the margin grows with document size since kernel cost is linear
    * in characters while the widening shuffle is a one-time copy). At
    * 100 TB input splits vastly outnumber cores, `getNumPartitions >=
    * target` holds, and this is a no-op — the branch only triggers exactly
    * where the bytes heuristic under-parallelizes. */
  def rebalanceForCompute(df: DataFrame): DataFrame = {
    if (!narrowPlan(df)) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
