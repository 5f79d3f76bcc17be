package graft

import graft.streaming.EmbedStream
import org.apache.spark.sql.functions._

/** Dev-only compaction-cadence probe for the embedding-drift monitor
  * (the EvalCompactProbe/GraphCompactProbe pattern): how does the
  * dashboard refresh (`embeddingDriftLive`) degrade with the number of
  * committed count dirs — each tiny (|labels|·dim rows), so the cost is
  * pure small-file/open overhead — and what does one
  * [[EmbedStream.compact]] with a 2-dir drift horizon buy back?
  *
  *   sbt 'Test/runMain graft.EmbedCompactProbe <sfDir> [batches...]'
  */
object EmbedCompactProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val batchCounts =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(4, 64, 256)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val vecs = Tables.embeddings(spark, dir)
      .select("vec_id", "label", "embedding").localCheckpoint()

    def timeLive(st: String, passes: Int = 3): Double =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        EmbedStream.embeddingDriftLive(spark, st, lastK = 2).count()
        (System.nanoTime() - t0) / 1e9
      }.min

    batchCounts.foreach { n =>
      val st = java.nio.file.Files
        .createTempDirectory(s"graft-mcp-$n").toString + "/state"
      (0 until n).foreach(i => EmbedStream.applyMicroBatch(spark,
        vecs.filter(pmod(col("vec_id"), lit(n)) === i), st, i.toLong))
      timeLive(st, passes = 1) // warm codegen on this shape
      val pre = timeLive(st)
      val t0 = System.nanoTime()
      EmbedStream.compact(spark, st, keepLast = 2)
      val tCompact = (System.nanoTime() - t0) / 1e9
      val post = timeLive(st)
      println(f"[embed-compact] batches=$n%3d pre=$pre%6.2f s " +
        f"post=$post%6.2f s compact=$tCompact%6.2f s")
    }
    spark.stop()
  }
}
