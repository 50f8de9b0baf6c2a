package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowChanges, ArrowMaintenance}

/** Change feed between snapshots: net file deltas folded from the
  * snapshot log, served as `insert`/`delete` rows via as-of reads over
  * cut views — incremental processing without rescanning the table. */
class ArrowChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.ArrowCatalog].getName)
    s
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  test("append then COW delete: feeds show exactly the net changes") {
    val dir = tmp("graft_cf_basic")
    spark.range(0, 400).select(col("id"))
      .repartitionByRange(4, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)     // snap 1: 4 files
    spark.range(400, 450).select(col("id")).coalesce(1)
      .write.format("arrow-ipc").mode("append").save(dir)        // snap 2: +1 file
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 10")         // snap 3: COW, 1 file rewritten

    // (1, 2]: pure append
    val f12 = ArrowChanges.changeFeed(spark, dir, 1, 2)
    assert(f12.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("insert" -> 50L))
    assert(f12.agg(min("id")).head.getLong(0) === 400)

    // (2, 3]: copy-on-write amplification — the rewritten file's old
    // image deletes (100 rows), its surviving image inserts (90 rows)
    val f23 = ArrowChanges.changeFeed(spark, dir, 2, 3)
    val counts23 = f23.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts23 === Map("insert" -> 90L, "delete" -> 100L))
    assert(f23.filter(col("_change_type") === "delete")
      .agg(max("id")).head.getLong(0) === 99)

    // (1, 3]: net — the append inserts, plus the rewrite's delta
    val f13 = ArrowChanges.changeFeed(spark, dir, 1, 3)
    val counts13 = f13.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts13 === Map("insert" -> 140L, "delete" -> 100L))

    // from = 0 bootstraps: everything at `to` is an insert
    val f03 = ArrowChanges.changeFeed(spark, dir, 0, 3)
    assert(f03.count() === 440)
    assert(f03.filter(col("_change_type") === "delete").count() === 0)
  }

  test("the feed opens only the changed files (cut view, no _file list)") {
    val dir = tmp("graft_cf_prune")
    spark.range(0, 400).select(col("id"))
      .repartitionByRange(4, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)     // snap 1
    spark.range(400, 410).coalesce(1)
      .write.format("arrow-ipc").mode("append").save(dir)        // snap 2
    val feed = ArrowChanges.changeFeed(spark, dir, 1, 2)
    // one file changed → one scan partition, not five
    assert(feed.rdd.getNumPartitions === 1)
    assert(feed.count() === 10)
    // ... read through a cut view, never a `_file` literal list (an
    // `isin` of one path reaches the optimized plan as `=`)
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, In, InSet}
    val lists = feed.queryExecution.optimizedPlan.flatMap(_.expressions
      .flatMap(_.collect { case e @ (_: In | _: InSet | _: EqualTo) => e })
      .filter(_.references.exists(_.name == "_file")))
    assert(lists.isEmpty, s"the feed plans a _file list: $lists")
  }

  test("a file added and removed inside the window nets to zero") {
    val dir = tmp("graft_cf_netzero")
    import spark.implicits._
    val df = (0 until 300).map(i => (Seq("A", "B", "C")(i % 3), i.toLong))
      .toDF("k", "v")
    graft.sources.Sinks.writeKeyGrouped(df, dir, Seq("k"))        // snap 1
    Seq(("Z", 999L)).toDF("k", "v").coalesce(1)
      .write.format("arrow-ipc").mode("append").save(dir)        // snap 2 (keyed default)
    spark.sql(s"DELETE FROM graft.`$dir` WHERE k = 'Z'")         // snap 3 (metadata, whole file)
    val f13 = ArrowChanges.changeFeed(spark, dir, 1, 3)
    assert(f13.count() === 0)
    // the sub-windows still see the transient file
    assert(ArrowChanges.changeFeed(spark, dir, 1, 2).count() === 1)
    assert(ArrowChanges.changeFeed(spark, dir, 2, 3)
      .filter(col("_change_type") === "delete").count() === 1)
  }

  test("hive layouts feed with partition values intact") {
    val dir = tmp("graft_cf_hive")
    import spark.implicits._
    (0 until 600).map(i => (Seq("x", "y")(i % 2), i.toLong)).toDF("part", "v")
      .write.format("arrow-ipc").option("hivePartitionKeys", "part")
      .mode("overwrite").save(dir)                               // snap 1
    spark.sql(s"DELETE FROM graft.`$dir` WHERE part = 'y'")      // snap 2 (metadata)
    val feed = ArrowChanges.changeFeed(spark, dir, 1, 2)
    assert(feed.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("delete" -> 300L))
    assert(feed.select("part").distinct().collect().map(_.getString(0)).toSeq === Seq("y"))
  }

  test("expired windows and bad ranges refuse loudly") {
    val dir = tmp("graft_cf_refuse")
    spark.range(0, 100).repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)     // snap 1
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id % 2 = 0")      // snap 2 (COW)
    spark.range(100, 110).write.format("arrow-ipc").mode("append").save(dir) // snap 3
    intercept[IllegalArgumentException] {
      ArrowChanges.changeFeed(spark, dir, 2, 2)
    }
    intercept[IllegalArgumentException] {
      ArrowChanges.changeFeed(spark, dir, 1, 9)
    }
    ArrowMaintenance.expireSnapshots(spark, dir, keepFrom = 2L)
    // the (1, 2] window's deleted files are gone with snapshot 1
    val e = intercept[Exception] { ArrowChanges.changeFeed(spark, dir, 1, 2) }
    assert(e.getMessage.contains("no snapshot 1") ||
      e.getMessage.contains("expired"))
    // retained windows still feed
    assert(ArrowChanges.changeFeed(spark, dir, 2, 3).count() === 10)
  }
}
