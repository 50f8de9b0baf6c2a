package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowMaintenance, ArrowOcc, ConditionalPutCommitStore,
  ObjectStoreApi, SimulatedObjectStore}

/** The OCC protocol over a CONDITIONAL-WRITE object store (round 11):
  * every commit primitive — claim, release, stale-break, sidecar flip —
  * runs against exactly the API surface S3 conditional writes offer
  * (If-None-Match PUT, If-Match DELETE, atomic plain PUT; no rename, no
  * O_EXCL), via [[ConditionalPutCommitStore]] over a simulated store.
  * The same invariants ArrowOccSpec proves for POSIX must hold. */
class ArrowCommitStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Register the conditional-put store over `api` for `dir` and run
    * `body`. */
  private def withConditionalStore[T](dir: String,
      api: ObjectStoreApi = new SimulatedObjectStore)(body: => T): T = {
    val key = fsOf(dir).makeQualified(new Path(dir)).toString
    ArrowOcc.storeOverrides.put(key, new ConditionalPutCommitStore(api))
    try body finally ArrowOcc.storeOverrides.remove(key)
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  test("conditional-put lock serializes a non-atomic read-modify-write") {
    val dir = tmp("graft_cps_lock")
    withConditionalStore(dir) {
      val fs = fsOf(dir)
      val dirPath = new Path(dir)
      fs.mkdirs(dirPath)
      val counter = new Path(dirPath, "_counter")
      def readCount(): Int =
        if (!fs.exists(counter)) 0
        else {
          val in = fs.open(counter)
          try new String(in.readAllBytes()).trim.toInt finally in.close()
        }
      val threads = (0 until 8).map { _ =>
        new Thread(() => (0 until 25).foreach { _ =>
          ArrowOcc.withCommitLock(fs, dirPath) {
            val n = readCount()
            Thread.sleep(0, 100000)
            val out = fs.create(counter, true)
            try out.write((n + 1).toString.getBytes) finally out.close()
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000))
      assert(readCount() === 200)
      assert(!fs.exists(new Path(dirPath, ArrowOcc.LockFile)))
    }
  }

  test("conditional-put stale break: If-Match delete admits one breaker, one holder at a time") {
    val dir = tmp("graft_cps_break")
    withConditionalStore(dir) {
      val fs = fsOf(dir)
      val dirPath = new Path(dir)
      fs.mkdirs(dirPath)
      val lock = new Path(dirPath, ArrowOcc.LockFile)
      spark.conf.set("spark.graft.arrow.occStaleMs", "60000")
      try {
        (0 until 5).foreach { _ =>
          fs.create(lock, true).close()
          fs.setTimes(lock, System.currentTimeMillis() - 120000, -1)
          val inside = new java.util.concurrent.atomic.AtomicInteger(0)
          val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
          val threads = (0 until 4).map(_ => new Thread(() =>
            ArrowOcc.withCommitLock(fs, dirPath) {
              val n = inside.incrementAndGet()
              maxInside.getAndUpdate(m => math.max(m, n))
              Thread.sleep(30)
              inside.decrementAndGet()
            }))
          threads.foreach(_.start()); threads.foreach(_.join(60000))
          assert(maxInside.get() === 1,
            "two holders entered the critical section")
          assert(!fs.exists(lock))
        }
      } finally spark.conf.unset("spark.graft.arrow.occStaleMs")
    }
  }

  test("plain-PUT sidecar flips are reader-atomic: never torn, never vanished") {
    val dir = tmp("graft_cps_flip")
    withConditionalStore(dir) {
      val fs = fsOf(dir)
      val dirPath = new Path(dir)
      fs.mkdirs(dirPath)
      val sidecar = new Path(dirPath, "_ledger.json")
      val payloads = (0 until 50).map(i => ("x" * 2048) + s":$i")
      ArrowOcc.writeAtomic(fs, sidecar, payloads.head.getBytes)
      @volatile var stop = false
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val readers = (0 until 3).map(_ => new Thread(() => {
        val f = java.nio.file.Paths.get(sidecar.toUri.getPath)
        while (!stop) {
          val s = new String(java.nio.file.Files.readAllBytes(f))
          if (!payloads.contains(s)) seen.add(s.take(40) + s"(len=${s.length})")
        }
      }))
      readers.foreach(_.start())
      payloads.tail.foreach(p => ArrowOcc.writeAtomic(fs, sidecar, p.getBytes))
      stop = true
      readers.foreach(_.join(30000))
      assert(seen.isEmpty, s"reader observed torn content: ${seen.peek()}")
    }
  }

  /** A simulated store that records every plain-PUT key. */
  private final class RecordingStore extends ObjectStoreApi {
    private val inner = new SimulatedObjectStore
    val puts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def get(k: String): Option[Obj] =
      inner.get(k).map(o => Obj(o.bytes, o.tag, o.mtimeMs))
    override def put(k: String, bytes: Array[Byte]): Unit = {
      puts.add(k)
      inner.put(k, bytes)
    }
    override def putIfAbsent(k: String, bytes: Array[Byte]): Boolean =
      inner.putIfAbsent(k, bytes)
    override def deleteIfMatch(k: String, tag: String): Boolean =
      inner.deleteIfMatch(k, tag)
  }

  test("compaction and metadata DELETE intents land through the commit store") {
    val dir = tmp("graft_cps_intents")
    val store = new RecordingStore
    withConditionalStore(dir, store) {
      (0 until 3).foreach { i =>
        spark.range(i * 100, (i + 1) * 100).select(col("id"))
          .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
      }
      assert(ArrowMaintenance.compact(spark, dir).isDefined)
      spark.range(1000, 1100).select(col("id"))
        .coalesce(1).write.format("arrow-ipc").mode("append").save(dir)
      val res = ArrowMaintenance.deleteWhere(spark, dir,
        Array(org.apache.spark.sql.sources.GreaterThanOrEqual("id", 1000L)))
      assert(res.deleted === 1)
      val put = store.puts.toArray.map(k => new Path(k.toString))
      val names = put.map(_.getName).toSet
      // the compaction's and the delete's commit records
      assert(put.count(_.getName == "_compaction.json") >= 2, s"puts: $names")
      // one `_snapshots/` entry per commit: three appends, the
      // compaction, an append and the delete
      val entries = put.filter(p => p.getParent.getName == "_snapshots" &&
        p.getName.endsWith(".json")).map(_.getName).toSet
      assert(entries.size === 6, s"snapshot entry puts: $entries")
      assert(spark.read.format("arrow-ipc").load(dir).count() === 300)
    }
  }

  test("end-to-end: concurrent appends and compactions commit through the conditional store") {
    val dir = tmp("graft_cps_race")
    withConditionalStore(dir) {
      spark.range(0, 100).select(col("id"), (col("id") % 7).as("k"))
        .coalesce(2).write.format("arrow-ipc").mode("append").save(dir)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val appenders = (0 until 2).map { t =>
        new Thread(() => try {
          (0 until 3).foreach { i =>
            val lo = 1000L * (t * 3 + i + 1)
            spark.range(lo, lo + 100)
              .select(col("id"), (col("id") % 7).as("k"))
              .coalesce(2).write.format("arrow-ipc").mode("append").save(dir)
          }
        } catch { case e: Throwable => errs.add(e) })
      }
      val compactor = new Thread(() => try {
        (0 until 4).foreach { _ =>
          ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
          Thread.sleep(30)
        }
      } catch { case e: Throwable => errs.add(e) })
      (appenders :+ compactor).foreach(_.start())
      (appenders :+ compactor).foreach(_.join(300000))
      assert(errs.isEmpty, s"concurrent run failed: ${errs.peek()}")
      val back = spark.read.format("arrow-ipc").load(dir)
      val expected = 100 + 2 * 3 * 100
      assert(back.count() === expected)
      assert(back.select("id").distinct().count() === expected)
      val fs = fsOf(dir)
      assert(fs.exists(new Path(dir, "_SUCCESS")))
      assert(!fs.exists(new Path(dir, "_compaction.json")))
    }
  }
}
