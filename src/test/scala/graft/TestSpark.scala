package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM: the engine's
  * own profile (`Engine.session`), with fewer shuffle partitions so the
  * small test frames stay fast. */
object TestSpark {
  lazy val spark: SparkSession = {
    // SinksSpec saves managed tables; a warehouse left in the working
    // directory by an earlier run makes them fail LOCATION_ALREADY_EXISTS.
    // A static conf, so it is passed the way spark-submit would pass it.
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = Engine.session("graft-test", "local[4]")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }
}
