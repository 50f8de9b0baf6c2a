package graft.tools

import org.apache.spark.sql.SparkSession

/** ANSI-mode certification sweep over the ENTIRE declared query surface:
  * runs every `SparkEntry.queries` entry under the session default
  * (`spark.sql.ansi.enabled=false` — the reference's wrapping/NULL-ing
  * semantics, SURVEY §7 risk #1) and again under `ansi.enabled=true`,
  * then classifies each query:
  *
  *   - `pass`       — ANSI run succeeds with a bit-identical result set;
  *   - `divergent`  — ANSI run succeeds but the values differ (e.g. a
  *                    wrapping overflow the non-ANSI mode silently keeps);
  *   - `refused:<ErrorClass>` — ANSI run raises (ANSI makes overflow /
  *                    bad casts / division-by-zero errors, matching the
  *                    reference's CHECKED `*NotNull` ops);
  *   - `broken`     — the non-ANSI baseline itself failed (must never
  *                    happen on a green board).
  *
  * The committed classification lives in ANSI.md and is gated by
  * AnsiSweepSpec; this main regenerates it (TSV on stdout) when the
  * surface changes.
  */
object AnsiSweep {

  /** Order-insensitive content hash of a result: per-row strings (null
    * marked, binary hex-ed) sorted then md5-folded — mirrors the driver's
    * oracle compare closely enough to detect any value drift. */
  def resultHash(df: org.apache.spark.sql.DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = df.collect().map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case null => "\u0000null"
          case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
          case s: Seq[_] => s.mkString("[", ",", "]")
          case v => v.toString
        }
      }.mkString("\u0001")
    }.sorted
    rows.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Root-cause error class for a refusal (the outermost Spark error class
    * or exception simple name — stable across message details). */
  def errorClass(t: Throwable): String = {
    def root(x: Throwable): Throwable =
      if (x.getCause != null && x.getCause != x) root(x.getCause) else x
    val r = root(t)
    r match {
      case s: org.apache.spark.SparkThrowable if s.getCondition != null =>
        s.getCondition
      case other => other.getClass.getSimpleName
    }
  }

  /** Classify one query under ANSI vs the non-ANSI baseline. Leaves the
    * session back in non-ANSI mode and with a clean cache. */
  def classify(spark: SparkSession, sfDir: String, name: String): String = {
    def runWith(ansi: Boolean): Either[Throwable, String] = {
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try Right(resultHash(graft.SparkEntry.queries(name)(spark, sfDir)))
      catch { case t: Throwable => Left(t) }
      finally {
        spark.conf.set("spark.sql.ansi.enabled", "false")
        scala.util.Try(spark.catalog.clearCache())
      }
    }
    runWith(ansi = false) match {
      case Left(_) => "broken"
      case Right(base) => runWith(ansi = true) match {
        case Right(h) if h == base => "pass"
        case Right(_) => "divergent"
        case Left(t) => s"refused:${errorClass(t)}"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Engine.session("AnsiSweep", s"local[$cpus]")
    spark.sparkContext.setLogLevel("ERROR")
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .foreach { name =>
        val cls = classify(spark, sfDir, name)
        println(s"ANSI\t$name\t$cls")
      }
    spark.stop()
  }
}
