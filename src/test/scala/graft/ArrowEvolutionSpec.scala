package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema evolution through the path-addressed catalog: nullable ADD
  * COLUMN (standing files serve it as all-NULL — the readers' missing→-1
  * resolution, both row and columnar paths) and DROP COLUMN (metadata
  * only; standing bytes ignored by name resolution). Both are sentinel
  * rewrites — no data file is touched. */
class ArrowEvolutionSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.ArrowCatalog].getName)
    s
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/out"

  test("ADD COLUMN: old files read NULL, new appends carry values, both paths") {
    val dir = tmp("graft_evo_add")
    spark.range(0, 100).select(col("id"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)

    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN score DOUBLE")

    // schema grew; standing rows serve NULL
    val evolved = spark.read.format("arrow-ipc").load(dir)
    assert(evolved.schema.fieldNames.toSeq === Seq("id", "score"))
    assert(evolved.filter(col("score").isNull).count() === 100)

    // appends carry the new column; mixed files coexist
    spark.range(100, 150).select(col("id"), (col("id") * 2).cast("double").as("score"))
      .write.format("arrow-ipc").mode("append").save(dir)
    val mixed = spark.read.format("arrow-ipc").load(dir)
    assert(mixed.count() === 150)
    assert(mixed.filter(col("score").isNotNull).count() === 50)
    assert(mixed.filter(col("id") === 120).head.getDouble(1) === 240.0)
    // aggregation over the evolved column sees nulls as absent
    assert(mixed.agg(sum("score")).head.getDouble(0) ===
      (100L until 150L).map(_ * 2.0).sum)
    // the row path (forced by projecting `_pos`) agrees
    val viaRows = ArrowRowPath.read(spark, dir)
    assert(!ArrowRowPath.columnar(viaRows))
    assert(ArrowRowPath.rows(viaRows).count(_.isNullAt(1)) === 100)

    // filters on the evolved column stay sound over stats-less old files
    assert(mixed.filter(col("score") > 250).count() ===
      (126L until 150L).length)
  }

  test("ADD COLUMN string over a hive-partitioned dataset") {
    val dir = tmp("graft_evo_hive")
    import spark.implicits._
    (0 until 60).map(i => (Seq("x", "y")(i % 2), i.toLong)).toDF("part", "v")
      .write.format("arrow-ipc").option("hivePartitionKeys", "part")
      .mode("overwrite").save(dir)
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN note STRING")
    val evolved = spark.read.format("arrow-ipc").load(dir)
    assert(evolved.schema.fieldNames.toSet === Set("part", "v", "note"))
    assert(evolved.filter(col("note").isNull).count() === 60)
    // appends through the catalog carry the evolved schema
    spark.sql(s"INSERT INTO graft.`$dir` VALUES ('x', 1000, 'fresh')")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 61)
    assert(back.filter(col("note") === "fresh").count() === 1)
  }

  test("DROP COLUMN: metadata-only; re-adding a still-carried name refuses") {
    val dir = tmp("graft_evo_drop")
    spark.range(0, 50).select(col("id"), (col("id") % 5).as("v"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN v")
    val dropped = spark.read.format("arrow-ipc").load(dir)
    assert(dropped.schema.fieldNames.toSeq === Seq("id"))
    assert(dropped.count() === 50)
    // standing files still carry v's bytes — re-adding the name would
    // silently resurrect the old values instead of the promised NULLs
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN v BIGINT")
    }
    assert(e.getMessage.contains("still carry"))
    // once every carrying file is rewritten (COW touches them all), the
    // stats no longer know the name and the re-add heals — now all-NULL
    spark.sql(s"UPDATE graft.`$dir` SET id = id WHERE id >= 0")
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN v BIGINT")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 50)
    assert(back.filter(col("v").isNotNull).count() === 0)
  }

  test("COW UPDATE composes with an evolved schema") {
    val dir = tmp("graft_evo_cow")
    spark.range(0, 200).select(col("id"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN flag BIGINT")
    // the rewrite reads NULL for old files and writes the evolved schema
    spark.sql(s"UPDATE graft.`$dir` SET flag = 1 WHERE id < 50")
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.count() === 200)
    assert(back.filter(col("flag") === 1).count() === 50)
    assert(back.filter(col("flag").isNull).count() === 150)
  }

  test("ALTER COLUMN TYPE widens int→long, float→double, decimal precision; pruning survives") {
    val dir = tmp("graft_evo_widen")
    import spark.implicits._
    // generation 1: narrow physical types, range-clustered so intervals
    // are disjoint and the prune assert below is meaningful
    val gen1 = (0 until 100).map(i =>
        (i, i.toFloat / 8f, BigDecimal(i).setScale(2)))
      .toDF("id", "score", "amt")
      .select(col("id").cast("int").as("id"), col("score").cast("float").as("score"),
        col("amt").cast(org.apache.spark.sql.types.DecimalType(10, 2)).as("amt"))
    gen1.repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("overwrite").save(dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.ArrowCatalog")
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN id TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN score TYPE DOUBLE")
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN amt TYPE DECIMAL(16,2)")
    // generation 2 appends the WIDE types
    val gen2 = (100 until 200).map(i =>
        (i.toLong, i.toDouble / 8d, BigDecimal(i).setScale(2)))
      .toDF("id", "score", "amt")
      .select(col("id"), col("score"),
        col("amt").cast(org.apache.spark.sql.types.DecimalType(16, 2)).as("amt"))
    gen2.repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("append").save(dir)
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(back.schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    assert(back.schema("amt").dataType ===
      org.apache.spark.sql.types.DecimalType(16, 2))
    assert(back.count() === 200)
    // value exactness across generations: float widens IEEE-exactly
    assert(back.filter(col("id") === 9L).select("score").head().getDouble(0)
      === (9f / 8f).toDouble)
    assert(back.filter(col("id") === 150L).select("score").head().getDouble(0)
      === 150d / 8d)
    assert(back.agg(org.apache.spark.sql.functions.sum(col("amt")))
      .head().getDecimal(0) === new java.math.BigDecimal("19900.00"))
    // the ROW path agrees (columnar is the default; force row decode via
    // a nested-free projection check on both engines' values)
    assert(back.select("id").as[Long].collect().sorted.toSeq === (0L until 200L))
    // standing gen-1 stats still prune the widened column: a range probe
    // must drop files on BOTH generations' intervals
    val q = spark.read.format("arrow-ipc").load(dir).filter(col("id") <= 40L)
    val desc = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.mkString("\n")
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"widened column must still prune (${m.matched})")
    assert(q.count() === 41)
    // decimal filters prune through mixed-precision generations too
    val qd = spark.read.format("arrow-ipc").load(dir)
      .filter(col("amt") <= new java.math.BigDecimal("40.00"))
    assert(qd.count() === 41)
  }

  test("RENAME COLUMN: sentinel-only via field ids; mixed generations read, prune and rewrite") {
    val dir = tmp("graft_evo_rename")
    // generation 1 under the ORIGINAL name (files carry stable field ids)
    spark.range(0, 50).select(col("id"), (col("id") * 2).as("old_v"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("append").save(dir)
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN old_v TO new_v")
    // the standing generation serves its values under the new label
    val t1 = spark.read.format("arrow-ipc").load(dir)
    assert(t1.schema.fieldNames.toSeq === Seq("id", "new_v"))
    assert(t1.agg(sum("new_v")).head.getLong(0) === 2L * (0 until 50).sum)
    // generation 2 appends under the new name; both generations coexist
    spark.range(50, 100).select(col("id"), (col("id") * 2).as("new_v"))
      .repartitionByRange(2, col("id"))
      .write.format("arrow-ipc").mode("append").save(dir)
    val t2 = spark.read.format("arrow-ipc").load(dir)
    assert(t2.count() === 100)
    assert(t2.agg(sum("new_v")).head.getLong(0) === 2L * (0 until 100).sum)
    // stats pruning keyed to the NEW name across BOTH generations: the
    // manifests were re-keyed under the ALTER's lock, so a range
    // predicate on new_v prunes files from each generation
    def pruned(pred: org.apache.spark.sql.Column): (Int, Int) = {
      val desc = spark.read.format("arrow-ipc").load(dir).filter(pred)
        .queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            r.scan.description()
        }.mkString("\n")
      val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    val (kept, total) = pruned(col("new_v") < 20)
    assert(total === 4 && kept === 1,
      s"rename must keep min/max pruning exact: kept $kept/$total")
    // SQL DML addresses the new name (COW rewrite over a renamed column)
    spark.sql(s"UPDATE graft.`$dir` SET new_v = -1 WHERE id = 7")
    assert(spark.read.format("arrow-ipc").load(dir)
      .filter(col("new_v") === -1).count() === 1)
    // a maintenance rewrite after the rename: staged files are id-less
    // and carry the CURRENT name — resolution and counts survive
    graft.sources.ArrowMaintenance.compact(spark, dir, targetBytes = 1L << 20)
    val t3 = spark.read.format("arrow-ipc").load(dir)
    assert(t3.count() === 100)
    // rename CHAIN: pre-rename id-carrying files, the compacted id-less
    // file named new_v, and future appends all resolve under v3
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN new_v TO v3")
    val t4 = spark.read.format("arrow-ipc").load(dir)
    assert(t4.schema.fieldNames.toSeq === Seq("id", "v3"))
    assert(t4.filter(col("v3") === -1).count() === 1)
    assert(t4.agg(sum("v3")).head.getLong(0) ===
      2L * (0 until 100).sum - 14 - 1)
    // ADD COLUMN under a retired label refuses (history still resolves it)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN old_v BIGINT")
    }
  }

  test("unsound evolutions refuse loudly") {
    val dir = tmp("graft_evo_refuse")
    import spark.implicits._
    val df = (0 until 90).map(i => (Seq("A", "B", "C")(i % 3), i.toLong))
      .toDF("k", "v")
    graft.sources.Sinks.writeKeyGrouped(df, dir, Seq("k"))

    // non-nullable add
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN strict BIGINT NOT NULL")
    }
    // positioned add
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN early BIGINT AFTER k")
    }
    // renaming a LAYOUT KEY (paths/claims encode the name) or onto an
    // existing name — plain renames are supported since round 11
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN k TO kk")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN v TO k")
    }
    // narrowing type change
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN v TYPE INT")
    }
    // dropping a layout key
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN k")
    }
    // duplicate add
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMN v BIGINT")
    }
    // the table is untouched by all the refusals
    val back = spark.read.format("arrow-ipc").load(dir)
    assert(back.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(back.count() === 90)
  }

  test("resolveColumns guards: id wins over name; reused labels never mislabel") {
    import org.apache.spark.sql.types._
    import graft.sources.ArrowInterchange
    def field(name: String, id: Option[Long],
        priors: Seq[String] = Nil): StructField = {
      val b = new MetadataBuilder()
      id.foreach(b.putLong(ArrowInterchange.FieldIdKey, _))
      if (priors.nonEmpty)
        b.putStringArray(ArrowInterchange.PriorNamesKey, priors.toArray)
      StructField(name, LongType, nullable = true, b.build())
    }
    def arrow(fields: StructField*) =
      ArrowInterchange.toArrowSchema(StructType(fields.toSeq))
    def resolve(file: org.apache.arrow.vector.types.pojo.Schema,
        expect: StructField*) =
      ArrowInterchange.resolveColumns(file, StructType(expect.toSeq),
        "test.arrows").toSeq

    // id match beats everything, even across a rename (labels differ)
    assert(resolve(arrow(field("old_v", Some(3L)), field("id", Some(1L))),
      field("id", Some(1L)), field("new_v", Some(3L), Seq("old_v")))
      === Seq(1, 0))
    // an id-less file resolves through the rename history
    assert(resolve(arrow(field("old_v", None), field("id", None)),
      field("id", Some(1L)), field("new_v", Some(3L), Seq("old_v")))
      === Seq(1, 0))
    // a name hit under a DIFFERENT id is a reused label — the nullable
    // column reads as absent (NULLs), never the other field's bytes
    assert(resolve(arrow(field("v", Some(7L))),
      field("v", Some(3L))) === Seq(-1))
    // the most recent prior wins when a history has several
    assert(resolve(arrow(field("b", None)),
      field("c", Some(2L), Seq("b", "a"))) === Seq(0))
    // a file column outside the expected schema is ignored by name
    assert(resolve(arrow(field("stray", None), field("id", None)),
      field("id", Some(1L))) === Seq(1))
  }
}
