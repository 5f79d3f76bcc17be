package graft

import graft.streaming.GraphStream
import org.apache.spark.sql.functions._

/** Dev-only compaction-cadence probe (test scope — the PcaPhaseProbe
  * pattern): quantifies how the live-search small-file + unpruned-ring
  * tax GROWS with the number of committed micro-batches, and how much
  * one [[GraphStream.compact]] pass removes — the measurement behind
  * BASELINE.md round-13's "the tax grows with batch count" reading.
  *
  *   sbt 'Test/runMain graft.GraphCompactProbe <sfDir> [batches...]'
  */
object GraphCompactProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val batchCounts =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(4, 16, 64)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val corpus = Tables.embeddings(spark, dir).select("vec_id", "embedding")

    def timeSearch(idx: String, passes: Int = 3): Double =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        GraphStream.searchLive(spark, dir, idx).count()
        (System.nanoTime() - t0) / 1e9
      }.min

    batchCounts.foreach { n =>
      val d = java.nio.file.Files
        .createTempDirectory(s"graft-gcp-$n").toString + "/index"
      GraphStream.init(spark, corpus, d)
      (0 until n).foreach(i => GraphStream.applyMicroBatch(spark,
        corpus.filter(pmod(col("vec_id"), lit(n)) === i), d, i.toLong))
      timeSearch(d, passes = 1) // warm the JVM/codegen on this shape
      val pre = timeSearch(d)
      val t0 = System.nanoTime()
      GraphStream.compact(spark, d)
      val tCompact = (System.nanoTime() - t0) / 1e9
      val post = timeSearch(d)
      println(f"[graph-compact] batches=$n%3d pre=$pre%6.2f s " +
        f"post=$post%6.2f s compact=$tCompact%6.2f s")
    }
    spark.stop()
  }
}
