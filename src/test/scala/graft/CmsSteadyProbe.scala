package graft

import java.nio.file.Files

import graft.streaming.CmsStream
import org.apache.spark.sql.functions._

/** Dev-only steady-state probe for the streaming CMS (test scope):
  *
  *   sbt 'Test/runMain graft.CmsSteadyProbe [corpusDir] [nBatches]'
  *
  * Splits the corpus into equal id-ranged micro-batches, applies them in
  * order, and prints per-batch wall-clock alongside the committed state
  * size — the claim under test is that the per-batch cost NEVER grows
  * with history (the write is state-blind), unlike the probe-the-index
  * ingest-filter streams whose flatness needed a fix to achieve. */
object CmsSteadyProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nb = if (args.length > 1) args(1).toInt else 16
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, dir).select("doc_id", "text").cache()
    val maxId = docs.agg(max("doc_id")).first().getLong(0)
    val state = Files.createTempDirectory("graft-cms-steady").toString
    val step = maxId / nb + 1
    (0 until nb).foreach { i =>
      val b = docs.filter(col("doc_id") >= i * step &&
        col("doc_id") < (i + 1) * step)
      val t0 = System.nanoTime()
      CmsStream.applyMicroBatch(spark, b, state, batchId = i.toLong)
      val secs = (System.nanoTime() - t0) / 1e9
      val cells = CmsStream.readSketch(spark, state).count()
      println(f"[cms-steady] batch=$i%2d wall=$secs%6.2f s " +
        f"merged_cells=$cells%5d committed_batches=${i + 1}")
    }
    spark.stop()
  }
}
