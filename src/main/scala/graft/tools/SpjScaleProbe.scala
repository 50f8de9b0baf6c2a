package graft.tools

import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** Storage-partitioned-join probe (dev-only): two FACT tables — both too
  * large to broadcast — joined one-to-one on (bucket key, row id) and
  * aggregated, over arrow-ipc directories written PLAIN (shuffled
  * sort-merge join) vs KEY-GROUPED on the bucket key (storage-partitioned
  * join). What this measures is the claim behind `Sinks.writeKeyGrouped`:
  * the exchange of BOTH join sides is pre-paid once at write time, so the
  * read-side win must grow with the shuffled volume while the keyed write
  * costs about one extra clustering pass. The join keys (k, id) are a
  * superset of the partition keys (k) — the partially-clustered case a
  * real pipeline hits when it buckets a high-cardinality id into coarse
  * key groups. Join output = fact size (one-to-one on id), so the timing
  * isolates exchange cost, not join-explosion compute. Rows carry a
  * ~100-byte payload: local[32] shuffles through process memory, so the
  * network term of a cluster exchange is invisible here — the
  * serialization/copy term scales with row width and is real on any
  * deployment, so wide rows keep the local measurement honest about the
  * cost SPJ deletes. Also verifies (not just times) that the SPJ plan
  * contains zero shuffle exchanges.
  */
object SpjScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("SpjScaleProbe", "local[32]")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"[scale] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows rows)")
    }

    println("[scale] ===== storage-partitioned join: keyed layout vs shuffled =====")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val keys = 200L

    for (m <- Seq(1, 4)) {
      val n = 5000000L * m
      def side(mult: Long, name: String) = spark.range(n).select(
        pmod(xxhash64(col("id")), lit(keys)).as("k"),
        col("id"), (col("id") * mult).as(name),
        concat_ws("-", (0 until 12).map(i => hex(xxhash64(col("id") + i))): _*)
          .as(s"payload_$name"))
      val a = side(2, "v")
      val b = side(3, "w")
      val (pl, pr) = (s"/tmp/graft_scale/spj_plain_l_x$m", s"/tmp/graft_scale/spj_plain_r_x$m")
      val (kl, kr) = (s"/tmp/graft_scale/spj_keyed_l_x$m", s"/tmp/graft_scale/spj_keyed_r_x$m")

      time(s"x$m write plain (both sides)") {
        a.repartition(32).write.format("arrow-ipc").mode("overwrite").save(pl)
        b.repartition(32).write.format("arrow-ipc").mode("overwrite").save(pr)
        2 * n
      }
      time(s"x$m write keyed (both sides)") {
        Sinks.writeKeyGrouped(a, kl, Seq("k"), partitions = 32)
        Sinks.writeKeyGrouped(b, kr, Seq("k"), partitions = 32)
        2 * n
      }

      def run(l: String, r: String): Long =
        spark.read.format("arrow-ipc").load(l)
          .join(spark.read.format("arrow-ipc").load(r), Seq("k", "id"))
          // max(concat(both payloads)) needs the full-width rows on BOTH
          // sides of the exchange — keeps pruning from quietly narrowing
          // the shuffled volume this probe exists to measure
          .groupBy("k").agg(count(lit(1)).as("cnt"), sum(col("v") + col("w")).as("s"),
            max(concat(col("payload_v"), col("payload_w"))).as("p"))
          .count()

      // verify the keyed plan really is exchange-free before timing it
      val j = spark.read.format("arrow-ipc").load(kl)
        .join(spark.read.format("arrow-ipc").load(kr), Seq("k", "id"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
      j.collect()
      val plan = j.queryExecution.executedPlan match {
        case p: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          p.executedPlan
        case p => p
      }
      val ex = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      println(s"[scale] x$m keyed-plan shuffle exchanges: $ex (expect 0)")

      run(pl, pr); run(kl, kr) // warm codegen/JIT once per scale
      time(s"x$m shuffled join (plain dirs)") { run(pl, pr) }
      time(s"x$m SPJ join (keyed dirs)") { run(kl, kr) }
    }
    spark.stop()
  }
}
