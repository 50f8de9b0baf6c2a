package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, attributed to operations through
  * spans: each operation is a root span `op` with children `build` and
  * `drain`; the planning phases of every SQL execution that finished
  * inside it (`catalyst.*`) and its jobs (matched by job group, `job`)
  * hang under whichever of the two they started in. */
object Layers {
  /** Every per-layer metric, in `BENCHMARK.json` order. A workload that
    * does not exercise a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.jobspan_ms" -> "ms", "exec.driver_gap_ms" -> "ms",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.task_gc_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes", "exec.input_bytes" -> "bytes",
    "exec.task_util" -> "ratio") ++
    Lake.Kinds.map(k => s"lake.${k}_ms" -> "ms") ++ Seq(
    "lake.commit_p50_ms" -> "ms", "lake.commit_tail_ms" -> "ms",
    "lake.commit_retries" -> "count",
    "lake.files_live" -> "count", "lake.snapshots" -> "count", "lake.sidecars" -> "count",
    "lake.bytes_written" -> "bytes", "lake.bytes_read" -> "bytes",
    "lake.scan_bytes_per_row" -> "bytes/row",
    "lake.write_amp" -> "ratio", "lake.space_amp" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.ops_per_s" -> "1/s")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(o: Main.Opts, w: Workload, samples: Seq[Sample], rec: Recorder, cores: Int,
      timedS: Double, env: Env): Map[String, Double] = {
    val jobsByGroup = rec.jobs.asScala.toSeq.groupBy(_.group)
    val phases = rec.phases.asScala.toSeq
    val lines = Seq.newBuilder[String]
    var nextId = 0
    def id(): Int = { nextId += 1; nextId }

    final case class PerOp(buildMs: Double, phaseMs: Map[String, Double], jobs: Seq[JobRec],
        jobSpanMs: Double, wallMs: Double)

    val perOp = samples.map { s =>
      def clip(a: Double, b: Double) = (math.max(a, s.startMs), math.min(b, s.endMs))
      val root = Span(id(), -1, "op", s.startMs, s.endMs, Map(
        "workload" -> o.workload, "type" -> s.op.kind, "index" -> s.index.toString,
        "args" -> s.op.args.mkString(" "), "ok" -> s.ok.toString))
      val build = Span(id(), root.id, "build", s.startMs, s.buildEndMs)
      val drain =
        if (s.drained) Some(Span(id(), root.id, "drain", s.buildEndMs, s.endMs)) else None
      def parentOf(start: Double): Int =
        drain.filter(d => start >= d.startMs).fold(build.id)(_.id)
      val phaseSpans = phases.flatMap { case (name, a, b) =>
        val (ca, cb) = clip(a, b)
        if (cb > ca || (a >= s.startMs && b <= s.endMs && b >= a))
          Some(Span(id(), parentOf(ca), s"catalyst.$name", ca, math.max(ca, cb)))
        else None
      }
      val jobs = jobsByGroup.getOrElse(s"op-${s.index}", Nil)
      val jobSpans = jobs.map { j =>
        val (ca, cb) = clip(j.startMs, j.endMs)
        Span(id(), parentOf(ca), "job", ca, math.max(ca, cb), Map("job_id" -> j.jobId.toString))
      }
      val spans = Seq(root, build) ++ drain ++ phaseSpans ++ jobSpans
      val self = Trace.selfTimes(spans)
      spans.foreach(sp => lines += Trace.spanJson(sp, self(sp.id)))
      PerOp(build.durMs,
        phaseSpans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durMs).sum },
        jobs, Trace.unionMs(jobSpans.map(j => (j.startMs, j.endMs))), root.durMs)
    }

    val traceDir = Paths.get(o.work, "trace")
    Files.createDirectories(traceDir)
    Files.write(traceDir.resolve(s"${o.workload}-seed${o.seed}.jsonl"),
      lines.result().mkString("", "\n", "\n").getBytes(UTF_8))

    def jobSum(f: JobRec => Double) = mean(perOp.map(_.jobs.map(f).sum))
    val taskRun = perOp.map(_.jobs.map(_.taskRunMs.toDouble).sum).sum
    val jobSpan = perOp.map(_.jobSpanMs).sum
    val byKind = samples.filter(_.ok).groupBy(_.op.kind).map { case (k, ss) =>
      k -> Main.median(ss.map(_.totalMs)) }
    val writes = samples.filter(s => s.ok && !s.op.read).map(_.totalMs)
    Map(
      "queries.build_ms" -> mean(perOp.map(_.buildMs)),
      "catalyst.analysis_ms" -> mean(perOp.map(_.phaseMs.getOrElse("catalyst.analysis", 0.0))),
      "catalyst.optimization_ms" -> mean(perOp.map(_.phaseMs.getOrElse("catalyst.optimization", 0.0))),
      "catalyst.planning_ms" -> mean(perOp.map(_.phaseMs.getOrElse("catalyst.planning", 0.0))),
      "exec.jobs" -> mean(perOp.map(_.jobs.size.toDouble)),
      "exec.stages" -> jobSum(_.stages),
      "exec.tasks" -> jobSum(_.tasks),
      "exec.jobspan_ms" -> mean(perOp.map(_.jobSpanMs)),
      "exec.driver_gap_ms" -> mean(perOp.map(p => p.wallMs - p.jobSpanMs)),
      "exec.task_run_ms" -> jobSum(_.taskRunMs),
      "exec.task_cpu_ms" -> jobSum(_.taskCpuMs),
      "exec.task_gc_ms" -> jobSum(_.taskGcMs),
      "exec.shuffle_write_bytes" -> jobSum(_.shuffleWriteBytes),
      "exec.input_bytes" -> jobSum(_.inputBytes),
      "exec.task_util" -> (if (jobSpan > 0) taskRun / (jobSpan * cores) else 0.0),
      "jvm.gc_ms" -> (Env.gcMs - env.gc0).toDouble,
      "jvm.heap_peak_mb" -> Env.heapPeakMb,
      "trace.ops_per_s" -> samples.count(_.ok) / timedS) ++
      (if (w.name == "lake") byKind.map { case (k, v) => s"lake.${k}_ms" -> v } else Map.empty) ++
      (if (writes.isEmpty) Map.empty else Map(
        "lake.commit_p50_ms" -> Main.median(writes),
        "lake.commit_tail_ms" -> Main.percentile(writes, Main.TailPct))) ++
      w.layerMetrics()
  }
}
