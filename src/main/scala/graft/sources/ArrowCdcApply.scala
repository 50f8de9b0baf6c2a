package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** STREAMING CDC-APPLY (round 12): apply a keyed change stream into an
  * arrow-ipc table as per-micro-batch MERGE, exactly-once across a
  * kill-and-restart — the upsert shape a continuous ingest loop runs
  * (Debezium-style change rows folded into the lake).
  *
  * Structured Streaming's `foreachBatch` is AT-LEAST-ONCE for side
  * effects: after a crash the restarted query re-runs its last
  * uncommitted batch, and a bare MERGE that ADDS deltas would
  * double-apply. Delta Lake closes this with `txnAppId`/`txnVersion` —
  * the version is recorded in the same transaction as the data, and a
  * replayed version is skipped. This object is that contract over this
  * source's MOR commit: [[applyBatch]] tags the statement with
  * `(appId, batchId)` via the session conf; the MOR position-delta
  * commit ([[ArrowDeleteVectors]]) writes the tag into its intent, the
  * replay folds it into the table's `_cdc_applied.json` ledger
  * ATOMICALLY with the batch's vectors + inserted files, and a commit
  * whose version the ledger already covers cleans its staging and
  * no-ops under the commit lock. Every crash window converges:
  *
  *  - crash before the intent → nothing landed; the restarted batch
  *    re-runs from scratch (the MERGE reads the unchanged snapshot);
  *  - crash after the intent → recover() (the restarted statement runs
  *    it first; a commit never overwrites a pending record) replays
  *    merge + ledger together; the restarted batch's re-run then skips
  *    on the ledger check.
  *
  * Usage (the declared `stream_upsert_mor` query is exactly this):
  * {{{
  * changes.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
  *   ArrowCdcApply.applyBatch(spark, dir, "my-app", id) {
  *     batch.groupBy("key").agg(...).createOrReplaceTempView("src")
  *     // MERGE INTO graft.`dir` USING src ... (mergeMode=mor)
  *   }
  * }
  * }}}
  *
  * Scale shape: each batch's MERGE pays one find-scan of the candidate
  * files (stats/bloom pruning applies) plus O(changed rows) of vectors
  * and inserts — measured in tools/mor_scale_probe.log's CDC leg at a
  * 3000-file table. The ledger is O(distinct appIds), read lock-free
  * and folded under the commit lock. Versions per app must be
  * monotonically increasing (Structured Streaming batch ids are).
  *
  * Beyond-reference by construction: the reference has no streaming or
  * mutation story (its write side is a blind `IBlockOutputStream::
  * write`); the shape precedent is Delta's idempotent-writes contract,
  * re-expressed over this source's intent/replay commit. */
object ArrowCdcApply {

  /** The highest batch version `appId` has applied to `dir`'s table
    * (None = never applied). Lock-free read of the atomic ledger. */
  def appliedVersion(spark: SparkSession, dir: String,
      appId: String): Option[Long] = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    ArrowDeleteVectors.appliedCdcVersion(fs, dirPath, appId)
  }

  /** Static pruning predicate for a keyed batch: the min/max bounds of
    * the batch's key column, rendered as a SQL fragment to AND into the
    * MERGE's ON clause (`t.key >= lo AND t.key <= hi`). Spark pushes
    * the target-side conjuncts of ON into the target scan, so the
    * file-stats pruning that already serves static filters drops every
    * candidate file whose key interval cannot overlap the batch —
    * on a key-CLUSTERED table that turns the per-batch find-scan from
    * O(live files) into O(files overlapping the batch's key range)
    * (measured in tools/mor_scale_probe.log's clustered CDC leg; the
    * same pattern Delta/Iceberg document for streaming upserts). One
    * extra aggregate over the (small) batch; None for an empty batch —
    * skip the MERGE. Numeric, string, date and timestamp keys render
    * TYPED SQL literals (`DATE '…'` / `TIMESTAMP '…'` — a bare
    * `2024-01-01` would parse as integer arithmetic and turn MATCHED
    * rows into phantom inserts); any other key type is REFUSED loudly
    * rather than emitting silently-wrong SQL. */
  def keyBounds(batch: DataFrame, keyCol: String,
      targetAlias: String): Option[String] =
    keyBoundsMulti(batch, Seq(keyCol), targetAlias)

  /** Composite-key form (the (tenant, id) CDC shape, matching
    * [[ArrowEqualityDeletes.upsertBatchKeys]]'s equality field list):
    * per-column min/max conjuncts, ANDed — each column's interval prunes
    * independently, exactly how the file-stats manifest stores per-column
    * intervals. One aggregate over the batch computes every bound. */
  def keyBoundsMulti(batch: DataFrame, keyCols: Seq[String],
      targetAlias: String): Option[String] = {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty && keyCols.distinct == keyCols,
      s"ArrowCdcApply.keyBounds: key columns must be non-empty and " +
        s"distinct (got ${keyCols.mkString(",")})")
    keyCols.foreach { keyCol =>
      batch.schema(keyCol).dataType match {
        case _: NumericType | StringType | DateType | TimestampType |
             TimestampNTZType => ()
        case other => throw new IllegalArgumentException(
          s"ArrowCdcApply.keyBounds: key column '$keyCol' has type $other — " +
            "only numeric, string, date and timestamp keys can be rendered " +
            "as pruning bounds; drop the bounds or cast the key")
      }
    }
    val aggs = keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))
    val r = batch.agg(aggs.head, aggs.tail: _*).head()
    if ((0 until 2 * keyCols.size).exists(r.isNullAt))
      return None // empty batch, or some key column all-null
    // TIMESTAMP literals parse in spark.sql.session.timeZone, while
    // java.sql.Timestamp.toString formats in the JVM default — when the
    // two differ the bounds would shift and MATCHED target rows fall
    // OUTSIDE the pruning predicate (phantom inserts). Render the
    // wall-clock at the SESSION zone so the literal round-trips to the
    // same instant the batch holds.
    lazy val sessionZone = java.time.ZoneId.of(
      batch.sparkSession.sessionState.conf.sessionLocalTimeZone)
    lazy val wallFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    def wall(i: java.time.Instant): String =
      wallFmt.format(java.time.LocalDateTime.ofInstant(i, sessionZone))
    def lit(v: Any): String = v match {
      case s: String => "'" + s.replace("'", "''") + "'"
      case d: java.sql.Date => s"DATE '$d'"
      case d: java.time.LocalDate => s"DATE '$d'"
      case t: java.sql.Timestamp =>
        "TIMESTAMP '" + wall(t.toInstant) + "'"
      case t: java.time.Instant =>
        "TIMESTAMP '" + wall(t) + "'"
      case t: java.time.LocalDateTime =>
        "TIMESTAMP_NTZ '" + java.sql.Timestamp.valueOf(t).toString + "'"
      case x => x.toString // numeric (guarded above)
    }
    Some(keyCols.zipWithIndex.map { case (k, i) =>
      s"$targetAlias.$k >= ${lit(r.get(2 * i))} AND " +
        s"$targetAlias.$k <= ${lit(r.get(2 * i + 1))}"
    }.mkString(" AND "))
  }

  /** Run `body` (the batch's MERGE/DML against `dir`) tagged with
    * `(appId, batchId)`. Returns false — running NOTHING — when the
    * ledger already covers `batchId` (a foreachBatch replay); returns
    * true when the body ran. The pre-check here is the cheap fast path;
    * the authoritative check re-runs under the commit lock inside the
    * tagged commit (MOR: ArrowDeleteVectors.commitStaged; COW:
    * ArrowMaintenance.commitSwap — BOTH honor the tag since round 13,
    * so the default cow merge/update/delete modes are exactly-once
    * too), so even a race between two replays of one batch applies
    * once. The appId must not contain ':' (the conf separator splits
    * on the LAST ':', so a qualified app name still works).
    *
    * FAILS LOUDLY (IllegalStateException) when the body ran but the
    * ledger did not advance to `batchId` — that means the batch's
    * writes routed through a commit path with no idempotency support
    * (e.g. a bare INSERT INTO append instead of a MERGE), and a crash
    * replay WOULD double-apply; exactly-once would otherwise degrade
    * to at-least-once silently. Run the DML unconditionally (an
    * empty-source MERGE still records its ledger entry); a body that
    * may legitimately commit nothing — and is therefore idempotent by
    * vacuity — opts out with `allowNoop = true`. */
  def applyBatch(spark: SparkSession, dir: String, appId: String,
      batchId: Long, allowNoop: Boolean = false)(body: => Unit): Boolean = {
    if (appliedVersion(spark, dir, appId).exists(_ >= batchId)) return false
    // THREAD-confined tag, not a session conf: a DSv2 DML command's
    // commit runs on the thread that issued the statement, and a
    // session-global tag would leak onto CONCURRENT statements from
    // other threads of the same session (their commits would record or
    // skip on a foreign version). See ArrowDeleteVectors.threadCdcTxn.
    ArrowDeleteVectors.threadCdcTxn.set(Some((appId, batchId)))
    try body
    finally ArrowDeleteVectors.threadCdcTxn.set(None)
    if (!allowNoop && !appliedVersion(spark, dir, appId).exists(_ >= batchId))
      throw new IllegalStateException(
        s"ArrowCdcApply: batch $batchId of '$appId' ran but did not " +
          s"record its version in $dir's CDC ledger — its writes went " +
          "through a commit path without idempotency support (bare " +
          "appends are not tagged; use MERGE, whose cow and mor modes " +
          "both fold the ledger atomically), so a crash replay would " +
          "double-apply. Refusing to report exactly-once. A body that " +
          "may legitimately commit nothing can pass allowNoop=true.")
    true
  }
}
