package graft.tools

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Dev-only single-thread microbenchmark of the ShingleMinhash kernel
  * (round-17 optimization pass): times eval() over the sf0.1 documents,
  * at k=1 (md5 cost only) vs k=64 (md5 + the 64 affine-mod minhash
  * update) to apportion kernel CPU between hashing and the derived
  * family. */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("KernelBench", "local[1]")
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
      .filter(_ != null)
    println(s"docs=${texts.length} chars=${texts.map(_.length.toLong).sum}")
    val rows = texts.map(t => InternalRow(UTF8String.fromString(t)))
    for (k <- Seq(1, 64); rep <- 1 to 3) {
      val ex = graft.functions.ShingleMinhash(
        BoundReference(0, StringType, nullable = true), 6, k)
      val t0 = System.nanoTime()
      var i = 0; var acc = 0L
      while (i < rows.length) {
        val r = ex.eval(rows(i)).asInstanceOf[InternalRow]
        acc += r.getLong(1)
        i += 1
      }
      println(f"k=$k rep=$rep: ${(System.nanoTime() - t0) / 1e9}%.3f s (acc=$acc)")
    }
    spark.stop()
  }
}
