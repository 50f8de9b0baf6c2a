package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span; times are epoch milliseconds. `parent` is the id of the
  * span that caused it (-1 for an operation's root). */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
    attrs: Map[String, String] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** A finished Spark job, as the listener saw it. */
final case class JobRec(jobId: Int, group: String, startMs: Double, endMs: Double,
    stages: Int, tasks: Int, taskRunMs: Long, taskCpuMs: Double, taskGcMs: Long,
    shuffleWriteBytes: Long, inputBytes: Long)

/** Listener side of the traced run: every job with the job group its
  * operation set, every task's metrics, and every planning tracker of a
  * finished SQL execution. Events arrive on Spark's listener bus thread;
  * [[settle]] waits for the bus to drain before they are read. */
final class Recorder(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private final class Acc(val group: String, val startMs: Double, val stages: Int) {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleW = 0L; var input = 0L
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  /** (phase name, start, end) of each finished execution's planning. */
  val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    open.put(e.jobId, new Acc(group, e.time.toDouble, e.stageIds.size))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageToJob.get(e.stageId)
    val acc = open.get(job)
    if (acc != null && e.taskMetrics != null) acc.synchronized {
      val m = e.taskMetrics
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shuffleW += m.shuffleWriteMetrics.bytesWritten
      acc.input += m.inputMetrics.bytesRead
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val acc = open.remove(e.jobId)
    if (acc != null) jobs.add(JobRec(e.jobId, acc.group, acc.startMs, e.time.toDouble,
      acc.stages, acc.tasks, acc.runMs, acc.cpuNs / 1e6, acc.gcMs, acc.shuffleW, acc.input))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until the listener bus has delivered every posted event. */
  def settle(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
  }
}

object Trace {
  /** Self time of each span: the part of its interval during which it is
    * the innermost open span (deepest; the latest started among equals).
    * Over one root this partitions the root's wall time exactly, so the
    * self times of all spans of an operation add up to its wall time. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    val depths = spans.map(s => s.id -> depth(s)).toMap
    val cuts = spans.flatMap(s => Seq(s.startMs, s.endMs)).distinct.sorted
    val self = scala.collection.mutable.Map(spans.map(_.id -> 0.0): _*)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val open = spans.filter(s => s.startMs <= mid && s.endMs > mid)
        if (open.nonEmpty) {
          val top = open.maxBy(s => (depths(s.id), s.startMs, s.id))
          self(top.id) += b - a
        }
      case _ =>
    }
    self.toMap
  }

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def spanJson(s: Span, selfMs: Double): String = {
    val attrs = s.attrs.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"dur_ms":${s.durMs}%.3f,"self_ms":$selfMs%.3f,"attrs":{$attrs}}"""
  }

  def register(r: Recorder, spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
  }
}
