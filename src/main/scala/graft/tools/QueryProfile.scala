package graft.tools

import org.apache.spark.scheduler._

/** Dev-only per-query job/stage profiler (round 17 optimization pass).
  *
  * Runs named queries exactly as Bench does (same session config, same
  * `.count()` drain) with a listener attached, and prints per query:
  * wall seconds, #jobs, #stages, #tasks, shuffle read/write bytes, input
  * bytes, and the executor-cpu sum — separating "many tiny sequential
  * jobs" (driver/scheduler-bound) from "few big stages" (compute-bound)
  * before touching any operator.
  *
  * Usage: runMain graft.tools.QueryProfile <query> [query ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_agg")
    val spark = graft.Engine.session("QueryProfile", s"local[$cpus]")

    // LongAdders, not volatile += (round-18, advisor note): listener
    // callbacks run on the bus thread(s) and volatile read-modify-write
    // loses increments under concurrency.
    import java.util.concurrent.atomic.LongAdder
    val jobs = new LongAdder; val stages = new LongAdder
    val tasks = new LongAdder; val shufRead = new LongAdder
    val shufWrite = new LongAdder; val input = new LongAdder
    val cpuNs = new LongAdder; val taskMs = new LongAdder
    // job-span accounting: union of [start, end] job intervals vs wall time
    // — the complement is driver-only time (planning, FS metadata, commit
    // bookkeeping, listener/codegen), the part no task metric sees.
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val spans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long)]())
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.increment()
        jobStartNs.put(j.jobId, System.nanoTime())
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        // boxed remove: a missing id yields null, never a misattributed
        // zero-start span (nanoTime may legitimately be any long)
        val s = jobStartNs.remove(j.jobId)
        if (s != null) spans.add((s.longValue(), System.nanoTime()))
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.increment()
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufRead.add(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
          input.add(m.inputMetrics.bytesRead)
          cpuNs.add(m.executorCpuTime)
          taskMs.add(m.executorRunTime)
        }
        tasks.add(s.stageInfo.numTasks.toLong)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def jobSpanSec(since: Long, until: Long): Double = {
      import scala.jdk.CollectionConverters._
      val iv = spans.asScala.toSeq
        .map { case (a, b) => (math.max(a, since), math.min(b, until)) }
        .filter(x => x._2 > x._1).sortBy(_._1)
      // coverage scan seeded from the FIRST interval, not (0, 0): nanoTime
      // has no sign guarantee, so a zero seed could misattribute driver
      // time on hosts where it runs negative (round-18, advisor note)
      if (iv.isEmpty) return 0.0
      var cov = 0L; var curA = iv.head._1; var curB = iv.head._2
      iv.drop(1).foreach { case (a, b) =>
        if (a > curB) { cov += curB - curA; curA = a; curB = b }
        else if (b > curB) curB = b
      }
      (cov + (curB - curA)) / 1e9
    }

    // warm exactly as Bench does
    graft.SparkEntry.queries("q1_agg")(spark, sfDir).count()
    def clearState(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    clearState()

    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stg"}%5s ${"task"}%6s " +
      f"${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"in_MB"}%7s ${"cpu_s"}%7s ${"run_s"}%7s ${"jobspan"}%8s ${"driver"}%7s")
    names.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"$name: UNKNOWN")
        case Some(fn) =>
          // settle listener state (private bus — a short sleep suffices for
          // a dev profiler)
          Thread.sleep(300)
          Seq(jobs, stages, tasks, shufRead, shufWrite, input, cpuNs, taskMs)
            .foreach(_.reset())
          spans.clear(); jobStartNs.clear()
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable => println(s"$name FAILED: $e") }
          val t1 = System.nanoTime()
          val dt = (t1 - t0) / 1e9
          Thread.sleep(300)
          val span = jobSpanSec(t0, t1)
          println(f"$name%-28s $dt%7.2f ${jobs.sum()}%5d ${stages.sum()}%5d ${tasks.sum()}%6d " +
            f"${shufRead.sum() / 1e6}%9.2f ${shufWrite.sum() / 1e6}%9.2f ${input.sum() / 1e6}%7.1f " +
            f"${cpuNs.sum() / 1e9}%7.2f ${taskMs.sum() / 1e3}%7.2f $span%8.2f ${dt - span}%7.2f")
          clearState()
      }
    }
    spark.stop()
  }
}
