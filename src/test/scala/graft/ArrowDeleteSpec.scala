package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowFileStats, ArrowMaintenance}

/** Metadata-level DELETE: `DELETE FROM graft.`dir`` through the
  * path-addressed [[graft.sources.ArrowCatalog]] drops WHOLE files whose
  * stats prove every row matches, keeps files that provably contain no
  * match, and refuses anything in between — no row is ever rewritten
  * (the Iceberg metadata-delete contract over this source's manifest).
  * Crash mid-delete leaves the `_SUCCESS` latch down and an intent
  * record that [[ArrowMaintenance.recover]] replays to completion. */
class ArrowDeleteSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.ArrowCatalog].getName)
    s
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def files(dir: String): Set[String] = {
    val fs = fsOf(dir)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(dir, "part-*.arrows")))
      .getOrElse(Array.empty).map(_.getPath.getName).toSet
  }

  // ── unit: the all-rows-match proof layer ──────────────────────────────

  test("mustMatchAll: strict bounds prove, doubt refuses") {
    import org.apache.spark.sql.sources._
    import graft.sources.{ColStats, FileStats}
    val st = FileStats(100, Map(
      "k" -> ColStats("string", Some("F"), Some("F"), 0),
      "id" -> ColStats("long", Some("10"), Some("20"), 0),
      "n" -> ColStats("long", None, None, 100),      // all null
      "bad" -> ColStats("double", None, None, 0)))   // invalid interval
    def must(f: Filter) = ArrowFileStats.mustMatchAll(f, st)
    assert(must(EqualTo("k", "F")))
    assert(!must(EqualTo("k", "O")))
    assert(!must(EqualTo("id", 15L)))        // min != max
    assert(must(GreaterThan("id", 5L)))
    assert(!must(GreaterThan("id", 10L)))    // min == 10 is not strictly > 10
    assert(must(GreaterThanOrEqual("id", 10L)))
    assert(must(LessThanOrEqual("id", 20L)))
    assert(!must(LessThan("id", 20L)))
    assert(must(IsNull("n")) && !must(IsNotNull("n")))
    assert(must(IsNotNull("id")) && !must(IsNull("id")))
    assert(!must(EqualTo("bad", 1.0)))       // invalid: never proven
    assert(!must(EqualTo("missing", 1L)))    // unknown column: never proven
    assert(must(And(EqualTo("k", "F"), GreaterThanOrEqual("id", 10L))))
    assert(must(Or(EqualTo("k", "zzz"), LessThanOrEqual("id", 20L))))
    assert(must(StringStartsWith("k", "F")))
    assert(must(In("k", Array("F", "O"))))
    assert(!must(In("id", Array(10L, 20L)))) // not single-valued
    // Not-duality: all-match ¬g ⟺ no row can match g
    assert(must(Not(EqualTo("k", "O"))))
    assert(!must(Not(EqualTo("k", "F"))))
    // ... and canMatch's side: every row matches g ⇒ ¬g matches none
    assert(!ArrowFileStats.canMatch(Not(EqualTo("k", "F")), st))
    assert(ArrowFileStats.canMatch(Not(EqualTo("id", 15L)), st))
  }

  // ── SQL end-to-end through the catalog ────────────────────────────────

  test("DELETE WHERE key = v on a keyed layout drops exactly that key's files") {
    val dir = tmp("graft_del_keyed")
    import spark.implicits._
    val df = (0 until 900).map(i => (Seq("A", "B", "C")(i % 3), i.toLong))
      .toDF("k", "v")
    graft.sources.Sinks.writeKeyGrouped(df, dir, Seq("k"))
    val before = files(dir)
    assert(before.size >= 3)

    spark.sql(s"DELETE FROM graft.`$dir` WHERE k = 'B'")

    val after = files(dir)
    assert(after.subsetOf(before) && after.size < before.size)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 600)
    assert(back.filter(col("k") === "B").count() === 0)
    assert(back.filter(col("k") === "A").count() === 300)
    // manifest: no entry for a dead file, live entries intact
    val stats = ArrowFileStats.read(fsOf(dir), new org.apache.hadoop.fs.Path(dir))
    assert(stats.keySet === after)
  }

  test("a straddling predicate refuses metadata-only and falls back to COW") {
    val dir = tmp("graft_del_straddle")
    spark.range(0, 1000).select(col("id"), (col("id") % 5).as("v"))
      .repartition(4, col("id")) // hash spread: every file straddles id<500
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    // the metadata path itself still refuses (no whole-file proof) …
    assert(!ArrowMaintenance.canDeleteWhere(spark, dir,
      Array(org.apache.spark.sql.sources.LessThan("id", 500L))))
    // … and SQL DELETE therefore takes the copy-on-write rewrite
    val res = spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 500")
    assert(res.queryExecution.executedPlan.toString.contains("ReplaceData"))
    assert(spark.read.format("arrow-ipc").load(dir).count() === 500)
    assert(spark.read.format("arrow-ipc").load(dir)
      .agg(min(col("id"))).head.getLong(0) === 500)
  }

  test("a range-aligned predicate deletes whole files of a range layout") {
    val dir = tmp("graft_del_range")
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
      .repartitionByRange(4, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    // cut exactly at a file boundary: max id of the first file + 1
    val stats = ArrowFileStats.read(fsOf(dir), new org.apache.hadoop.fs.Path(dir))
    val firstMax = stats.values.map(_.cols("id").max.get.toLong).min
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id <= $firstMax")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 1000 - (firstMax + 1))
    assert(back.agg(min(col("id"))).head.getLong(0) === firstMax + 1)
  }

  test("DELETE without WHERE empties the directory but keeps it readable") {
    val dir = tmp("graft_del_all")
    spark.range(0, 100).write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.sql(s"DELETE FROM graft.`$dir`")
    assert(files(dir).isEmpty)
    assert(spark.read.format("arrow-ipc").load(dir).count() === 0)
    // still a table: schema survives via the sentinel
    assert(spark.sql(s"SELECT * FROM graft.`$dir`").schema.fieldNames
      .contains("id"))
  }

  test("hive layout: DELETE WHERE key = v drops the value directory") {
    val dir = tmp("graft_del_hive")
    import spark.implicits._
    (0 until 600).map(i => (Seq("x", "y", "z")(i % 3), i.toLong))
      .toDF("part", "v")
      .write.format("arrow-ipc").option("hivePartitionKeys", "part")
      .mode("overwrite").save(dir)
    val fs = fsOf(dir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "part=y")))

    spark.sql(s"DELETE FROM graft.`$dir` WHERE part = 'y'")

    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "part=y")),
      "emptied value directory should be dropped")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 400)
    assert(back.filter(col("part") === "y").count() === 0)
    // a DATA-column predicate that straddles now rewrites via COW on hive
    spark.sql(s"DELETE FROM graft.`$dir` WHERE v % 2 = 0")
    val after = spark.read.format("arrow-ipc").load(dir)
    assert(after.count() === 200)
    assert(after.filter(col("v") % 2 === 0).count() === 0)
  }

  test("deleting a whole sharded commit drops its shard and index row") {
    val dir = tmp("graft_del_shard")
    val key = "spark.graft.arrow.statsShardFiles"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      spark.range(0, 1000).select(col("id"))
        .repartitionByRange(3, col("id"))
        .write.format("arrow-ipc").mode("overwrite").save(dir)
      spark.range(5000, 6000).select(col("id"))
        .repartitionByRange(3, col("id"))
        .write.format("arrow-ipc").mode("append").save(dir)
      val fs = fsOf(dir)
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      assert(ArrowFileStats.shardIds(fs, dirPath).size === 2)

      spark.sql(s"DELETE FROM graft.`$dir` WHERE id >= 5000")

      assert(ArrowFileStats.shardIds(fs, dirPath).size === 1)
      assert(ArrowFileStats.readIndex(fs, dirPath).size === 1)
      assert(spark.read.format("arrow-ipc").load(dir).count() === 1000)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a crashed delete leaves the latch down; recover() completes it") {
    val dir = tmp("graft_del_crash")
    import spark.implicits._
    val df = (0 until 300).map(i => (Seq("A", "B", "C")(i % 3), i.toLong))
      .toDF("k", "v")
    graft.sources.Sinks.writeKeyGrouped(df, dir, Seq("k"))
    val fs = fsOf(dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    // simulate the crash: intent written + latch dropped, files untouched
    val doomed = files(dir).filter { n =>
      ArrowFileStats.read(fs, dirPath)(n).cols("k").min.contains("C")
    }
    assert(doomed.nonEmpty)
    ArrowMaintenance.writeIntent(fs, dirPath, ArrowMaintenance.Intent(
      olds = doomed.toSeq.sorted, kind = "delete"))
    fs.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    // mid-swap state refuses reads
    intercept[Exception] { spark.read.format("arrow-ipc").load(dir).count() }

    assert(ArrowMaintenance.recover(spark, dir))
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 200)
    assert(back.filter(col("k") === "C").count() === 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, ArrowMaintenance.IntentFile)))
  }

  test("NOT predicates delete through the canMatch/mustMatchAll duality") {
    val dir = tmp("graft_del_not")
    import spark.implicits._
    val df = (0 until 300).map(i => (Seq("A", "B", "C")(i % 3), i.toLong))
      .toDF("k", "v")
    graft.sources.Sinks.writeKeyGrouped(df, dir, Seq("k"))
    spark.sql(s"DELETE FROM graft.`$dir` WHERE k != 'A'")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.select("k").distinct().collect().map(_.getString(0)).toSeq === Seq("A"))
    assert(back.count() === 100)
  }

  test("the catalog refuses DDL but serves SELECT and INSERT INTO") {
    val dir = tmp("graft_del_catalog")
    spark.range(0, 10).write.format("arrow-ipc").mode("overwrite").save(dir)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft.`$dir`")
      .head.getLong(0) === 10)
    spark.sql(s"INSERT INTO graft.`$dir` SELECT id FROM RANGE(10, 15)")
    assert(spark.read.format("arrow-ipc").load(dir).count() === 15)
    intercept[Exception] { spark.sql(s"DROP TABLE graft.`$dir`") }
    assert(spark.read.format("arrow-ipc").load(dir).count() === 15)
  }
}
