package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timing of one operation; wall-clock epoch ms at its three edges. */
final case class Sample(op: OpSpec, index: Int, startMs: Double, buildEndMs: Double,
    endMs: Double, drained: Boolean, error: Option[String]) {
  def totalMs: Double = endMs - startMs
  def ok: Boolean = error.isEmpty
}

/** The benchmark's entry point. Modes:
  *  - `run`: one measured run of one workload, ending in the result line;
  *  - `gen`: write the olap tables and their oracle SQL (for
  *    `oracle/make_expected.py`);
  *  - `selftest`: the harness's own checks ([[SelfTest]]). */
object Main {
  final case class Opts(mode: String, workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, benchDir: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(m.getOrElse("mode", "run"), m.getOrElse("workload", ""),
      m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", need("work"), need("bench-dir"))
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      val o = parse(args)
      o.mode match {
        case "run" => run(o)
        case "gen" => gen(o)
        case "selftest" => if (!SelfTest.run(o)) sys.error("self-test failed")
        case other => sys.error(s"unknown mode $other")
      }
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] error: $e")
        e.printStackTrace()
        1
    }
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(code)
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    graft.Engine.session("perfbench", s"local[$cores]")
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "olap" => new Olap(ctx)
    case "lake" => new Lake(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def gen(o: Opts): Unit = {
    val spark = session()
    val ctx = Ctx(spark, o.work, o.benchDir, o.seed, Olap.OracleSf)
    DataGen.write(spark, ctx.dataDir, DataGen.OlapTables, ctx.sf)
    val dir = ctx.dataDir
    val sqls = Olap.Queries.map(q => q -> graft.SparkEntry.oracleSql(q))
    val json = sqls.map { case (q, s) => s""""$q":${Json.str(s)}""" }.mkString("{", ",", "}")
    Files.write(Paths.get(s"${o.work}/olap_oracle_sql.json"), json.getBytes(UTF_8))
    println(s"""{"data":${Json.str(dir)}}""")
  }

  /** Percentile of `query_tail_ms` (and `lake.commit_tail_ms`). */
  val TailPct = 0.9

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Harrell–Davis estimate of quantile `p`: a Beta-weighted mean of all
    * order statistics, much steadier than a single order statistic on the
    * few dozen samples one run holds. NaN for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n <= 1) s.headOption.getOrElse(Double.NaN)
    else {
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, p * (n + 1), (1 - p) * (n + 1))
      s.indices.map(i => (beta.cumulativeProbability((i + 1.0) / n) -
        beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
    }
  }

  def clearState(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Run `op` as the harness times it; also used by the self-test. */
  def runOp(ctx: Ctx, w: Workload, op: OpSpec, index: Int, clock: Clock): Sample = {
    val sc = ctx.spark.sparkContext
    val step = w.stage(op, index)
    sc.setJobGroup(s"op-$index", op.kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    var t1 = t0
    var drained: Option[Drained] = None
    var built: Option[DataFrame] = None
    val error = try {
      built = step.build()
      t1 = System.nanoTime()
      drained = built.map(df =>
        if (step.collect) Digest.drainCollect(df) else Drained(Digest.drain(df), Array.empty))
      None
    } catch { case e: Throwable => Some(s"${op.kind}: $e") }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    sc.clearJobGroup()
    val checked = error.orElse(
      try step.check(drained).map(m => s"$op: $m")
      catch { case e: Throwable => Some(s"$op check: $e") })
    w.afterOp(op, checked.isEmpty)
    clearState(ctx.spark)
    Sample(op, index, clock.ms(t0), clock.ms(t1), clock.ms(t2), built.isDefined, checked)
  }

  private def run(o: Opts): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    // always the scale of the committed oracle digests
    val ctx = Ctx(spark, o.work, o.benchDir, o.seed, Olap.OracleSf)
    val w = workload(o.workload, ctx)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // Input set-up repeats so that its median, not one noisy sample,
    // enters setup_s; the last repetition is the one the run uses.
    val prepS = (1 to 3).map { _ => val t = System.nanoTime(); w.prepare(); (System.nanoTime() - t) / 1e9 }
    val tw = System.nanoTime()
    w.warmup()
    clearState(spark)
    val warmupS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + median(prepS) + warmupS

    val recorder = if (o.trace) Some(new Recorder(spark.sparkContext)) else None
    recorder.foreach(Trace.register(_, spark))
    val env = Env.start()
    val clock = new Clock
    val samples = ArrayBuffer.empty[Sample]
    val loop0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - loop0) / 1e9
    /** Seconds inside timed operations; the untimed checks between them
      * are not part of the measurement. */
    def timedS = samples.map(_.totalMs).sum / 1000.0
    // Whole rounds keep the operation mix the same in every run; the hard
    // stop keeps a pathologically slow run inside its time limit.
    val hardStopS = 3.0 * o.seconds + 30
    var r = 0
    while (timedS < o.seconds && elapsedS < hardStopS) {
      w.round(r).foreach { op =>
        if (elapsedS < hardStopS) {
          val s = runOp(ctx, w, op, samples.size, clock)
          s.error.foreach(e => System.err.println(s"[perfbench] FAILED $e"))
          samples += s
        }
      }
      r += 1
    }
    val loopS = elapsedS
    val measuredS = timedS
    val envJson = env.finish()

    val reads = samples.filter(s => s.ok && s.op.read).map(_.totalMs).toSeq
    val failed = samples.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", setupS, "s"),
        ("query_p50_ms", median(reads), "ms"),
        ("query_tail_ms", percentile(reads, Main.TailPct), "ms"),
        ("ops_per_s", samples.count(_.ok) / measuredS, "1/s"),
        ("rss_peak_mb", Env.rssPeakMb, "MB"))
      else {
        recorder.foreach(_.settle())
        val layers = Layers.compute(o, w, samples.toSeq, recorder.get, ctx.cores, measuredS, env)
        Layers.PerLayer.map { case (name, unit) => (name, layers.getOrElse(name, 0.0), unit) }
      }
    val metricsJson = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    val result = s"""{"correct":${failed == 0},"attempted":${samples.size},"failed":$failed,"metrics":$metricsJson}"""
    val record = s"""{"workload":"${o.workload}","seed":${o.seed},"trace":${o.trace},"rounds":$r,"loop_s":${Json.num(loopS)},"timed_s":${Json.num(measuredS)},"session_s":${Json.num(sessionS)},"prep_s":[${prepS.map(Json.num).mkString(",")}],"warmup_s":${Json.num(warmupS)},"env":$envJson,"result":$result}"""
    Files.write(Paths.get(s"${o.work}/runs.jsonl"), (record + "\n").getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    println(record)
    println(result)
  }
}

/** Epoch milliseconds from the monotonic clock, anchored once, so span
  * edges share the listener's time base without millisecond rounding. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(nanos: Long): Double = baseMs + (nanos - baseNs) / 1e6
}

/** Machine and JVM state beside each run: recorded, never gated on. */
final class Env private (steal0: Long, total0: Long, val gc0: Long, gcCount0: Long, cpu0: Long) {
  def finish(): String = {
    val (steal1, total1) = Env.jiffies()
    val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val load1 = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    s"""{"steal_pct":${Json.num(stealPct)},"load1":${Json.num(load1)},"gc_ms":${Env.gcMs - gc0},"gc_count":${Env.gcCount - gcCount0},"cpu_s":${Json.num((Env.cpuNs - cpu0) / 1e9)},"code_cache_mb":${Json.num(Env.codeCacheMb)},"cores":${Runtime.getRuntime.availableProcessors}}"""
  }
}

object Env {
  def start(): Env = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val (s, t) = jiffies()
    new Env(s, t, gcMs, gcCount, cpuNs)
  }

  /** (steal, total) jiffies from the first line of /proc/stat. */
  def jiffies(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def gcCount: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).sum

  /** CPU time of this process, all threads, in ns. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
    .map(_.getUsage.getUsed).sum / 1048576.0

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set (VmHWM) of this process, in MB. */
  def rssPeakMb: Double = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
    .getOrElse(Double.NaN)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
