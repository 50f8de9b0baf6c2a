package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{DataInputBuffer, DataOutputBuffer}
import org.apache.spark.SparkConf
import org.apache.spark.serializer.JavaSerializer
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The executor-side Hadoop conf carrier ships a configuration as its
  * entries. Pinned against Hadoop's own `write`/`readFields` round trip:
  * the same entries must come out, in fewer bytes than `write`'s
  * per-property gzipped source lists. */
class SerializableHadoopConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val ser = new JavaSerializer(new SparkConf()).newInstance()

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  private def hadoopBytes(c: Configuration): DataOutputBuffer = {
    val out = new DataOutputBuffer()
    c.write(out)
    out
  }

  private def hadoopRoundTrip(c: Configuration): Configuration = {
    val buf = hadoopBytes(c)
    val in = new DataInputBuffer()
    in.reset(buf.getData, buf.getLength)
    val back = new Configuration(false)
    back.readFields(in)
    back
  }

  /** Round-trips `c` through Spark's JavaSerializer, checks it against
    * Hadoop's own round trip and size, and returns the deserialized conf. */
  private def check(c: Configuration): Configuration = {
    val bytes = ser.serialize(new SerializableHadoopConf(c))
    val size = bytes.remaining()
    val back = ser.deserialize[SerializableHadoopConf](bytes).value
    assert(entries(back) === entries(hadoopRoundTrip(c)))
    val hadoopSize = hadoopBytes(c).getLength
    assert(size < hadoopSize,
      s"entry encoding ($size B) is not smaller than Configuration.write ($hadoopSize B)")
    back
  }

  test("the session conf round-trips to the same entries as Configuration.write/readFields, in fewer bytes") {
    val c = spark.sparkContext.hadoopConfiguration
    assert(entries(c).size > 100)
    check(c)
  }

  test("long, non-ASCII, empty and deprecated entries round-trip exactly") {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    val long = ("0123456789abcdef" * 4200) + "é"
    assert(long.getBytes("UTF-8").length > 65535)
    c.set("graft.test.long", long)
    c.set("graft.test.unicode", "Zürich – 東京 – 🚀")
    c.set("graft.test.empty", "")
    c.set("fs.default.name", "file:///graft-deprecated")
    val back = check(c)
    assert(back.get("graft.test.long") === long)
    assert(back.get("graft.test.unicode") === "Zürich – 東京 – 🚀")
    assert(back.get("graft.test.empty") === "")
    assert(back.get("fs.defaultFS") === "file:///graft-deprecated")
    assert(back.get("fs.default.name") === "file:///graft-deprecated")
  }
}
