package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a workload's stream: its type, whether it reads
  * (`query_*` metrics) or writes (`commit_*`), and its seeded arguments.
  * The stream is a pure function of the seed: `toString` is what the
  * determinism self-test compares. */
final case class OpSpec(kind: String, read: Boolean, args: Seq[Long] = Nil) {
  override def toString: String = s"$kind(${args.mkString(",")})"
}

/** What the harness gets back from a drain. `digest` always covers every
  * column; `rows` is filled only for a step that asked to collect. */
final case class Drained(digest: Digest, rows: Array[Row])

/** An operation ready to time. `build` is the call into the layer under
  * test (timed as `build`); the frame it returns, if any, is drained
  * (timed as `drain`); `check` runs untimed and returns a mismatch. */
final case class Step(build: () => Option[DataFrame], collect: Boolean,
    check: Option[Drained] => Option[String])

trait Workload {
  def name: String
  /** One repetition of input set-up (tables, corpus, model). */
  def prepare(): Unit
  /** Untimed operations that load the code paths several operation types
    * share, so the seeded order does not decide which timed one pays. */
  def warmup(): Unit
  /** Round `r` of the stream: every operation type in fixed shares, in a
    * seeded order. A run executes whole rounds. */
  def round(r: Int): Seq[OpSpec]
  def stage(op: OpSpec, index: Int): Step
  /** Untimed bookkeeping after each operation. */
  def afterOp(op: OpSpec, ok: Boolean): Unit = ()
  /** Per-layer figures this workload owns, from the whole run. */
  def layerMetrics(): Map[String, Double] = Map.empty
}

/** Shared run context. */
final case class Ctx(spark: SparkSession, work: String, benchDir: String, seed: Long,
    sf: Double) {
  def cores: Int = spark.sparkContext.defaultParallelism
  /** The generated tables at this scale ([[DataGen]]). */
  def dataDir: String = s"$work/data-sf$sf"
}
