package graft

import graft.ops.MediaQueries
import org.apache.spark.sql.functions._

/** Dev-only df-cap probe (test scope — the GraphCompactProbe pattern):
  * measures what [[MediaQueries.maxBandDf]] buys on a corpus carrying a
  * DEGENERATE perceptual class — the all-black-thumbnail regime the
  * round-13 fixture fix side-stepped and round 14 moved into the plan.
  * Plants `frac` (default 5%) constant-dhash images next to the real
  * signature table, then times the banded pair join capped vs uncapped
  * and reports verified-pair counts (every degenerate pair verifies at
  * hamming 0, so the output count shows the quadratic blowup directly).
  *
  *   sbt 'Test/runMain graft.MediaCapProbe <sfDir> [frac] [skipUncapped]'
  */
object MediaCapProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val frac = if (args.length > 1) args(1).toDouble else 0.05
    val skipUncapped = args.length > 2 && args(2) == "skipUncapped"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sigs = MediaQueries.mediaPhash(spark, dir)
      .select("doc_id", "dhash").localCheckpoint()
    val n = sigs.count()
    val nDeg = math.max(1L, (n * frac).toLong)
    val planted = sigs.unionByName(
      spark.range(nDeg).select((col("id") + 1000000000L).as("doc_id"),
        lit(0x0123456789ABCL).as("dhash"))).localCheckpoint()
    println(s"[media-cap] corpus images=$n planted-degenerate=$nDeg " +
      s"(expected degenerate pairs = ${nDeg * (nDeg - 1) / 2})")

    def run(tag: String, cap: Long): Unit = {
      val t0 = System.nanoTime()
      val pairs = MediaQueries.bandPairs(planted, "dhash", cap).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[media-cap] $tag%-10s pairs=$pairs%12d  $sec%8.2f s")
    }
    run("capped", MediaQueries.maxBandDf)
    if (!skipUncapped) run("uncapped", Long.MaxValue)
    spark.stop()
  }
}
