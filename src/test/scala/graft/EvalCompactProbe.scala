package graft

import graft.streaming.EvalStream
import org.apache.spark.sql.functions._

/** Dev-only compaction-cadence probe for the eval monitor (test scope —
  * the GraphCompactProbe pattern, round-13 verdict #8): how does the
  * live dashboard refresh (`gateEvalLive`) degrade with the number of
  * committed count dirs, and what does one [[EvalStream.compact]] pass
  * buy back? Also times the compact itself.
  *
  *   sbt 'Test/runMain graft.EvalCompactProbe <sfDir> [batches...]'
  */
object EvalCompactProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val batchCounts =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq
      else Seq(4, 64, 256)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val scored = graft.ops.CurationQueries.highNdvScored(spark, dir)
      .localCheckpoint()

    def timeLive(st: String, passes: Int = 3): Double =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        EvalStream.gateEvalLive(spark, st, "probe").count()
        (System.nanoTime() - t0) / 1e9
      }.min

    batchCounts.foreach { n =>
      val st = java.nio.file.Files
        .createTempDirectory(s"graft-ecp-$n").toString + "/state"
      (0 until n).foreach(i => EvalStream.applyMicroBatch(spark,
        scored.filter(pmod(col("score"), lit(n)) === i), st, i.toLong))
      timeLive(st, passes = 1) // warm codegen on this shape
      val pre = timeLive(st)
      val t0 = System.nanoTime()
      EvalStream.compact(spark, st)
      val tCompact = (System.nanoTime() - t0) / 1e9
      val post = timeLive(st)
      println(f"[eval-compact] batches=$n%3d pre=$pre%6.2f s " +
        f"post=$post%6.2f s compact=$tCompact%6.2f s")
    }
    spark.stop()
  }
}
