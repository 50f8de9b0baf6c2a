package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** An equality upsert mints its tombstone from the staged batch read back
  * through the interchange, so the tombstone's keys are only right if
  * every key type survives write → read value for value. Pinned here per
  * supported key type, with edge values (type extremes, pre-1582 dates,
  * far timestamps with microseconds, multi-byte and supplementary
  * strings): the tombstone holds exactly the batch's keys in their
  * internal form, and the upsert replaces exactly their old rows. */
class ArrowEqKeyIdentitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  /** (type name, key column over `id` 0..39, the key's internal long or
    * string form as the tombstone stores it). */
  private val keyTypes: Seq[(String, Column, Column => Column)] = Seq(
    ("byte", (col("id") * 6 - 120).cast("byte"), _.cast("long")),
    ("short", (col("id") * 1600 - 32000).cast("short"), _.cast("long")),
    ("int", when(col("id") === 0, lit(Int.MinValue)).when(col("id") === 1, lit(Int.MaxValue))
      .otherwise(col("id") * 54321 - 1000000).cast("int"), _.cast("long")),
    ("long", when(col("id") === 0, lit(Long.MinValue)).when(col("id") === 1, lit(Long.MaxValue))
      .otherwise(col("id") * 1000000007L), identity),
    ("string", concat(element_at(array(Seq("", "a", "é", "😀x", "z" * 300).map(lit): _*),
      (col("id") % 5 + 1).cast("int")), col("id").cast("string")), identity),
    ("date", expr("date_add(date'1000-02-28', cast(id * 9973 as int))"), c => unix_date(c).cast("long")),
    ("timestamp", expr("timestamp_micros(id * 987654321012345 - 20000000000000001)"), unix_micros),
    ("timestamp_ntz", expr("cast(timestamp_micros(id * 987654321012345 - 20000000000000001) as timestamp_ntz)"),
      c => unix_micros(c.cast("timestamp"))))

  keyTypes.foreach { case (name, key, internal) =>
    test(s"$name keys round-trip the interchange into the tombstone value for value") {
      val dir = tmp(s"graft_eqkey_$name")
      val base = spark.range(0, 40).select(key.as("k"), col("id").as("v"))
      base.repartition(3).write.format("arrow-ipc").mode("overwrite").save(dir)
      // upsert every third key with a new value
      val batch = spark.range(0, 40).where(col("id") % 3 === 0)
        .select(key.as("k"), (col("id") + 1000).as("v"))
      assert(ArrowEqualityDeletes.upsertBatch(spark, dir, "k", batch).applied)

      val dirPath = new Path(dir)
      val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tombs = ArrowEqualityDeletes.liveTombs(fs, dirPath)
      assert(tombs.size === 1)
      val stored = ArrowEqualityDeletes.keysOf(new Path(dirPath, tombs.head._1).toString,
        spark.sparkContext.hadoopConfiguration).map(_.mkString(",")).toSeq.sorted
      val want = batch.select(internal(col("k"))).collect().map(_.get(0).toString).toSeq.sorted
      assert(stored === want)

      val got = spark.read.format("arrow-ipc").load(dir).select(internal(col("k")), col("v"))
        .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq.sortBy(_._2)
      val expect = spark.range(0, 40).select(internal(key),
        when(col("id") % 3 === 0, col("id") + 1000).otherwise(col("id")))
        .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq.sortBy(_._2)
      assert(got === expect)
    }
  }
}
