package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (dev only): comma-separated query names to dump a
    // subset — the driver always passes exactly (sfDir, outDir).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session("Verify", s"local[$cpus]")
    new java.io.File(outDir).mkdirs()
    // A failed query must be IMPOSSIBLE to miss: it gets an _ERROR record
    // in its output dir (so the driver's per-query read fails loudly
    // instead of the row silently vanishing from the correctness artifact,
    // which is what hid 14 regressions in round 7) plus a final stdout
    // summary line with the failed names.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    var verified = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        verified += 1
        // Queries that persist internally (withOverflowRow, arrow_spj_join)
        // leave CacheManager entries scoped to themselves; drop them so a
        // ~150-query sweep doesn't accumulate cached frames (Bench's
        // clearState does the same between queries).
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        try {
          val dir = new java.io.File(s"$outDir/$name")
          // wipe any partial write so the marker is unambiguous
          if (dir.exists) dir.listFiles.foreach(f => if (f.isFile) f.delete())
          dir.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_ERROR"),
            s"$name: ${e.toString.take(2000)}\n")
        } catch { case w: Throwable =>
          System.err.println(s"[verify] $name: could not write _ERROR: $w")
        }
        scala.util.Try(spark.catalog.clearCache())
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"""{"verified":$verified,"failed":${failed.size},"names":${
      failed.map(q).mkString("[", ",", "]")}}""")
    spark.stop()
    // Exit 0 even with failures — partial results must still reach the
    // driver's compare; the _ERROR markers carry the red signal.
  }
}
