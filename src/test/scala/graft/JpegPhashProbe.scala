package graft

import graft.ops.MediaQueries
import org.apache.spark.sql.functions._

/** Dev-only: hamming(png-dhash, jpeg-dhash) distribution, to pick the
  * per-JVM bounds OpsSpec pins for the cross-codec face.
  *   sbt 'Test/runMain graft.JpegPhashProbe <sfDir>'
  */
object JpegPhashProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = MediaQueries.mediaPhashJpeg(spark, args(0)).localCheckpoint()
    df.groupBy("hamming").count().orderBy("hamming").show(70)
    df.agg(max("hamming"), avg("hamming"),
      expr("percentile(hamming, 0.98)"), count(lit(1))).show()
    spark.stop()
  }
}
