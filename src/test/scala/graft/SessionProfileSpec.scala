package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Engine.session` is the engine's one session profile: every main, probe
  * and the test harness get their session from it, so the plans that are
  * tested, verified and timed share extensions, house functions, ANSI mode,
  * time zone and AQE settings. */
class SessionProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Engine.scala is the only source file that builds a SparkSession") {
    // Split so this file does not match its own needle.
    val needle = "SparkSession.builder" + "("
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repository root: no $r"))
    val sources = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(sources.size > 50)
    def builds(p: Path) = new String(Files.readAllBytes(p), "UTF-8").contains(needle)
    val builders = sources.filter(builds).map(_.getFileName.toString).sorted
    assert(builders === Seq("Engine.scala"))
  }

  test("the shared test session resolves the house SQL functions unregistered") {
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)), " +
        "simhash64('hello world hello'), city_hash64('test')").head()
    assert(r.getDouble(0) === 11.0)
    assert(r.getString(1).matches("[0-9a-f]{16}"))
    assert(r.getLong(2) === graft.functions.RefHash.cityHash64("test".getBytes("UTF-8")))
    val bk = spark.sql("SELECT graft_bottom_k(id) FROM range(100)").head().getSeq[Long](0)
    assert(bk.size === 3 && bk.forall(v => v >= 0L && v < 100L))
  }

  test("the shared test session runs the engine profile: ANSI off, UTC") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "false")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }
}
