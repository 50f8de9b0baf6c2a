package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{ArrowChanges, ArrowDeleteVectors, ArrowDml, ArrowEqualityDeletes,
  ArrowMaintenance, ArrowSnapshots}

/** Live content of the lake table as the benchmark believes it to be:
  * key -> (status, cents). Every read is checked against it. */
final class LakeModel {
  val rows = new java.util.TreeMap[java.lang.Long, (String, Long)]()
  /** Summary of all live rows, kept up to date by [[put]] and [[delete]]. */
  var summary: Lake.Summary = Lake.Summary(0, 0, 0)

  def clear(): Unit = { rows.clear(); summary = Lake.Summary(0, 0, 0) }

  def put(key: Long, status: String, cents: Long): Unit = {
    val old = rows.put(key, (status, cents))
    val s = summary
    summary = if (old == null) Lake.Summary(s.count + 1, s.keySum + key, s.centSum + cents)
      else s.copy(centSum = s.centSum - old._2 + cents)
  }

  def range(lo: Long, hi: Long): Iterable[(Long, (String, Long))] =
    rows.subMap(lo, true, hi, false).asScala.map { case (k, v) => (k.longValue, v) }

  def delete(lo: Long, hi: Long): Unit = {
    val gone = summaryOf(range(lo, hi))
    rows.subMap(lo, true, hi, false).clear()
    summary = Lake.Summary(summary.count - gone.count, summary.keySum - gone.keySum,
      summary.centSum - gone.centSum)
  }

  def summaryOf(xs: Iterable[(Long, (String, Long))]): Lake.Summary =
    xs.foldLeft(Lake.Summary(0, 0, 0)) { case (s, (k, (_, c))) =>
      Lake.Summary(s.count + 1, s.keySum + k, s.centSum + c) }

  /** (status, rows, min key, max key) per status, in one pass. */
  def byStatus: Set[(String, Long, Long, Long)] = {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long, Long)]
    rows.forEach { (k, v) =>
      val (n, lo, hi) = acc.getOrElse(v._1, (0L, Long.MaxValue, Long.MinValue))
      acc(v._1) = (n + 1, math.min(lo, k), math.max(hi, k))
    }
    acc.map { case (s, (n, lo, hi)) => (s, n, lo, hi) }.toSet
  }
}

/** `lake`: one arrow-ipc table made in set-up from the generated `orders`
  * (150k rows at sf0.1), then a seeded stream of reads and writes in
  * fixed shares per round, with a compaction after every
  * [[Lake.CompactEvery]]-th commit. The table's snapshot count grows all
  * run long, so listing and log costs show up in the tail. */
final class Lake(ctx: Ctx) extends Workload {
  import Lake._
  val name = "lake"
  private val spark = ctx.spark
  private val root = s"${ctx.work}/lake-sf${ctx.sf}"
  private val table = s"$root/t"
  private val streamSrc = s"$root/stream-src"
  private val streamCkpt = s"$root/stream-ckpt"
  private val tablePath = new Path(table)
  private def fs: FileSystem = tablePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val baseRows = DataGen.rows(ctx.sf)("orders")

  val model = new LakeModel
  /** (snapshot id, model summary) after set-up and after each write. */
  val history = ArrayBuffer.empty[(Long, Summary)]
  /** (before, after) of the last commit of each kind in [[FeedKinds]]. */
  private val lastCommit = scala.collection.mutable.Map.empty[String, ((Long, Summary), (Long, Summary))]

  private var retries = 0L
  private var userBytes = 0L
  private var writeBytes, readBytes, scanBytes, scanRows = 0L
  private var io0 = (0L, 0L)
  private var lastResult: Any = null

  def prepare(): Unit = {
    fs.delete(new Path(root), true)
    val orders = spark.read.parquet(s"${ctx.dataDir}/orders.parquet").select(col("o_orderkey").as("key"),
      col("o_custkey").as("cust"), col("o_orderstatus").as("status"),
      (col("o_totalprice").cast(DecimalType(12, 2)) * 100).cast(LongType).as("cents"))
    orders.repartitionByRange(8, col("key")).write.format("arrow-ipc")
      .option("bloomColumns", "key").mode("overwrite").save(table)
    spark.conf.set("spark.graft.arrow.updateMode", "mor")
    model.clear()
    orders.select("key", "status", "cents").collect()
      .foreach(r => model.put(r.getLong(0), r.getString(1), r.getLong(2)))
    history.clear()
    history += ((ArrowSnapshots.currentTip(fs, tablePath), model.summary))
    lastCommit.clear()
    resetCounters()
  }

  private def resetCounters(): Unit = {
    retries = 0; userBytes = 0; writeBytes = 0; readBytes = 0; scanBytes = 0; scanRows = 0
  }

  /** Checks the whole new table against the model, then runs the first
    * operation of each type in round 0 of the stream, untimed, so that no
    * timed operation pays for loading a path another type shares. Writes
    * go first: a change feed before any commit reads the table instead,
    * which would leave the feed's path cold for the timed rounds. */
  def warmup(): Unit = {
    val d = Digest.drain(load)
    checkSummary(d, model.summary).foreach(m => sys.error(s"lake set-up: $m"))
    val clock = new Clock
    Lake.round(ctx.seed, 0, baseRows).distinctBy(_.kind).sortBy(_.read).zipWithIndex.foreach { case (op, i) =>
      Main.runOp(ctx, this, op, -1 - i, clock).error.foreach(e => sys.error(s"lake warm-up: $e"))
    }
    resetCounters()
  }

  /** Timed rounds start at 1: round 0 supplied the warm-up. */
  def round(r: Int): Seq[OpSpec] = Lake.round(ctx.seed, r + 1, baseRows)

  private def load: DataFrame = spark.read.format("arrow-ipc").load(table)

  private def checkSummary(d: Digest, want: Summary): Option[String] =
    if (d.rows != want.count) Some(s"rows ${d.rows} != ${want.count}")
    else if (d.col("key").s != want.keySum) Some(s"key sum ${d.col("key").s} != ${want.keySum}")
    else if (d.col("cents").s != want.centSum) Some(s"cents sum ${d.col("cents").s} != ${want.centSum}")
    else None

  private def batchFrame(rows: Seq[(Long, Long, String, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (k, c, s, v) => Row(k, c, s, v) }, 1), Schema)

  def stage(op: OpSpec, index: Int): Step = {
    val a = op.args
    val step = op.kind match {
      case "scan" =>
        val (lo, hi) = (a(0), a(1))
        Step(() => Some(load.filter(col("key") >= lo && col("key") < hi)), collect = false, {
          case Some(d) => checkSummary(d.digest, model.summaryOf(model.range(lo, hi)))
          case None => Some("no result")
        })
      case "agg" =>
        Step(() => Some(load.groupBy(col("status")).agg(count(lit(1)).as("cnt"),
            min(col("key")).as("kmin"), max(col("key")).as("kmax"))), collect = true, {
          case Some(d) =>
            val want = model.byStatus
            val got = d.rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
            if (got == want) None else Some(s"groups $got != $want")
          case None => Some("no result")
        })
      case "time_travel" =>
        val (snap, want) = history(math.max(0, history.size - 1 - TravelBack))
        Step(() => Some(spark.read.format("arrow-ipc").option("asOfSnapshot", snap).load(table)),
          collect = false, {
            case Some(d) => checkSummary(d.digest, want).map(m => s"as of $snap: $m")
            case None => Some("no result")
          })
      case "changefeed" =>
        // the change set of the last commit of the kind the op names
        val ((fromSnap, fromSum), (toSnap, toSum)) =
          lastCommit.getOrElse(FeedKinds(a(0).toInt), (history.last, history.last))
        if (fromSnap == toSnap) // no such commit yet: read the table instead
          Step(() => Some(load), collect = false, {
            case Some(d) => checkSummary(d.digest, model.summary)
            case None => Some("no result")
          })
        else Step(() => {
          val feed = ArrowChanges.changeFeed(spark, table, fromSnap, toSnap)
          val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
          Some(feed.select(col("*"), sign.as("d_count"), (sign * col("key")).as("d_key"),
            (sign * col("cents")).as("d_cents")))
        }, collect = false, {
          case Some(d) =>
            val g = d.digest
            val want = Summary(toSum.count - fromSum.count, toSum.keySum - fromSum.keySum,
              toSum.centSum - fromSum.centSum)
            if (g.col("d_count").s != want.count || g.col("d_key").s != want.keySum ||
                g.col("d_cents").s != want.centSum)
              Some(s"feed ($fromSnap, $toSnap] nets (${g.col("d_count").s}, ${g.col("d_key").s}, " +
                s"${g.col("d_cents").s}) != $want")
            else None
          case None => Some("no result")
        })
      case "append" =>
        val rows = batch(a(2), a(0) until a(0) + a(1))
        val df = batchFrame(rows)
        Step(() => { df.write.format("arrow-ipc").mode("append").save(table); None },
          collect = false, _ => { add(rows); None })
      case "delete_mor" =>
        val (lo, hi) = (a(0), a(1))
        Step(() => {
          lastResult = ArrowDeleteVectors.deleteMor(spark, table, s"key >= $lo AND key < $hi"); None
        }, collect = false, _ => {
          val r = lastResult.asInstanceOf[ArrowDeleteVectors.MorDeleteResult]
          val want = model.range(lo, hi).size.toLong
          retries += r.retries
          model.delete(lo, hi)
          if (r.deletedRows != want) Some(s"deleted ${r.deletedRows} != $want") else None
        })
      case "update_mor" =>
        val (lo, hi) = (a(0), a(1))
        Step(() => {
          lastResult = ArrowDml.update(spark, table, s"cents = cents + $UpdateDelta",
            Some(s"key >= $lo AND key < $hi")); None
        }, collect = false, _ => {
          retries += lastResult.asInstanceOf[Int]
          val hit = model.range(lo, hi).toSeq
          hit.foreach { case (k, (s, c)) => model.put(k, s, c + UpdateDelta) }
          userBytes += hit.size * RowBytes
          None
        })
      case "upsert_eq" =>
        val rng = new scala.util.Random(a(3))
        val old = Seq.fill(a(2).toInt)((rng.nextDouble() * a(0)).toLong).distinct
        val rows = batch(a(3), old ++ (a(0) until a(0) + a(1)))
        val df = batchFrame(rows)
        Step(() => {
          lastResult = ArrowEqualityDeletes.upsertBatch(spark, table, "key", df)
          ArrowEqualityDeletes.fold(spark, table)
          None
        }, collect = false, _ => {
          add(rows)
          if (!lastResult.asInstanceOf[ArrowEqualityDeletes.EqUpsertResult].applied)
            Some("upsert not applied") else None
        })
      case "stream_append" =>
        val rows = batch(a(2), a(0) until a(0) + a(1))
        batchFrame(rows).write.mode("append").parquet(streamSrc)
        Step(() => {
          spark.readStream.schema(Schema).parquet(streamSrc)
            .writeStream.format("arrow-ipc").option("path", table)
            .option("checkpointLocation", streamCkpt)
            .trigger(Trigger.AvailableNow()).start().awaitTermination()
          None
        }, collect = false, _ => { add(rows); None })
      case "compact" =>
        Step(() => { ArrowMaintenance.compact(spark, table, targetBytes = CompactTarget); None },
          collect = false, _ => None)
    }
    io0 = Lake.ioBytes()
    step
  }

  private def add(rows: Seq[(Long, Long, String, Long)]): Unit = {
    rows.foreach { case (k, _, s, c) => model.put(k, s, c) }
    userBytes += rows.size * RowBytes
  }

  override def afterOp(op: OpSpec, ok: Boolean): Unit = {
    val (w1, r1) = Lake.ioBytes()
    val (dw, dr) = (w1 - io0._1, r1 - io0._2)
    readBytes += dr
    if (!op.read) {
      writeBytes += dw
      val before = history.last
      history += ((ArrowSnapshots.currentTip(fs, tablePath), model.summary))
      if (FeedKinds.contains(op.kind)) lastCommit(op.kind) = (before, history.last)
    }
    if (op.kind == "scan") {
      scanBytes += dr
      scanRows += model.range(op.args(0), op.args(1)).size
    }
  }

  /** (live data files, snapshots, other files) of the table directory. */
  private def list(): (Long, Long, Long) = {
    val snaps = ArrowSnapshots.read(fs, tablePath)
    val live = ArrowSnapshots.resolve(snaps, ArrowSnapshots.currentTip(fs, tablePath))
      .map(s => ArrowDeleteVectors.splitResolved(s)._1.size.toLong).getOrElse(0L)
    var files = 0L
    val it = fs.listFiles(tablePath, true)
    while (it.hasNext) { it.next(); files += 1 }
    (live, snaps.size.toLong, files - live)
  }

  private def dirBytes(p: Path): Long = fs.getContentSummary(p).getLength

  override def layerMetrics(): Map[String, Double] = {
    val fresh = new Path(s"$root/fresh")
    load.write.format("arrow-ipc").mode("overwrite").save(fresh.toString)
    val spaceAmp = dirBytes(tablePath).toDouble / dirBytes(fresh)
    val listing = list()
    Map(
      "lake.commit_retries" -> retries.toDouble,
      "lake.files_live" -> listing._1.toDouble,
      "lake.snapshots" -> listing._2.toDouble,
      "lake.sidecars" -> listing._3.toDouble,
      "lake.bytes_written" -> writeBytes.toDouble,
      "lake.bytes_read" -> readBytes.toDouble,
      "lake.scan_bytes_per_row" -> (if (scanRows > 0) scanBytes.toDouble / scanRows else 0.0),
      "lake.write_amp" -> (if (userBytes > 0) writeBytes.toDouble / userBytes else 0.0),
      "lake.space_amp" -> spaceAmp)
  }
}

object Lake {
  final case class Summary(count: Long, keySum: Long, centSum: Long)

  val Schema: StructType = StructType(Seq(StructField("key", LongType, false),
    StructField("cust", LongType, false), StructField("status", StringType, false),
    StructField("cents", LongType, false)))
  /** Payload bytes of one user row: three longs and a one-letter status. */
  val RowBytes = 25L
  val UpdateDelta = 7L
  val CompactEvery = 8
  val CompactTarget: Long = 1L << 20
  val Statuses = Seq("O", "F", "P")

  val Kinds: Seq[String] = Seq("scan", "agg", "time_travel", "changefeed", "append",
    "delete_mor", "update_mor", "upsert_eq", "stream_append", "compact")

  /** The commit kinds whose last change set a change feed reads, one per
    * change feed of a round: every run then reads the same mix of
    * feeds, which are the slowest reads, whatever the seed's order. A
    * compaction's feed is never read: it would be a rewrite of the whole
    * table. */
  val FeedKinds: Seq[String] = Seq("append", "delete_mor", "update_mor", "upsert_eq")

  /** Time travel reads the state this many commits back. */
  val TravelBack = 4

  /** Operations of one round, before shuffling: 42 reads, 16 writes —
    * long enough that one round fills a run, so every run sees the same
    * mix. Range scans are 30 of the reads, so the read median falls well
    * inside them rather than near the edge between two read types. */
  private val Mix: Seq[String] = Seq.fill(2)(
    Seq.fill(15)("scan") ++ Seq.fill(2)("agg") ++ Seq.fill(2)("time_travel") ++
      Seq.fill(2)("changefeed") ++ Seq.fill(2)("append") ++ Seq.fill(2)("delete_mor") ++
      Seq.fill(2)("update_mor") ++ Seq("upsert_eq", "stream_append")).flatten
  private val AppendRows = 500L
  private val UpsertNew = 100L
  private val UpsertOld = 200L
  private val StreamRows = 200L
  private val ScanWidth = 2000L
  private val DmlWidth = 300L
  private val NewKeysPerRound = Mix.map {
    case "append" => AppendRows; case "upsert_eq" => UpsertNew; case "stream_append" => StreamRows
    case _ => 0L }.sum
  private val WritesPerRound = Mix.count(k => !Reads(k))
  private lazy val Reads = Set("scan", "agg", "time_travel", "changefeed")

  /** Round `r` for `seed`: a pure function, so a seed names one stream.
    * New keys are dense above the base table's; ranges are drawn over
    * every key handed out before the round. */
  def round(seed: Long, r: Int, baseRows: Long): Seq[OpSpec] = {
    val rng = new scala.util.Random(seed * 7919L + r)
    var next = baseRows + r * NewKeysPerRound
    var commits = r * WritesPerRound
    def lo(width: Long) = (rng.nextDouble() * math.max(1L, next - width)).toLong
    var feeds = 0
    rng.shuffle(Mix).flatMap { k =>
      val op = k match {
        case "scan" => val l = lo(ScanWidth); OpSpec(k, read = true, Seq(l, l + ScanWidth))
        case "agg" | "time_travel" => OpSpec(k, read = true)
        case "changefeed" =>
          val s = OpSpec(k, read = true, Seq((feeds % FeedKinds.size).toLong)); feeds += 1; s
        case "append" =>
          val s = OpSpec(k, read = false, Seq(next, AppendRows, rng.nextLong())); next += AppendRows; s
        case "stream_append" =>
          val s = OpSpec(k, read = false, Seq(next, StreamRows, rng.nextLong())); next += StreamRows; s
        case "upsert_eq" =>
          val s = OpSpec(k, read = false, Seq(next, UpsertNew, UpsertOld, rng.nextLong()))
          next += UpsertNew; s
        case "delete_mor" | "update_mor" =>
          val l = lo(DmlWidth); OpSpec(k, read = false, Seq(l, l + DmlWidth))
      }
      if (op.read) Seq(op)
      else {
        commits += 1
        if (commits % CompactEvery == 0) Seq(op, OpSpec("compact", read = false)) else Seq(op)
      }
    }
  }

  /** Rows (key, cust, status, cents) for `keys`, drawn from `seed`. */
  def batch(seed: Long, keys: Seq[Long]): Seq[(Long, Long, String, Long)] = {
    val rng = new scala.util.Random(seed)
    keys.map(k => (k, rng.nextInt(15000).toLong, Statuses(rng.nextInt(3)),
      100191L + rng.nextInt(49899128)))
  }

  /** (bytes written, bytes read) through Hadoop's local file system. */
  def ioBytes(): (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }
}
