package graft

import graft.ops.PrepQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev-only HOT-SPAN skew probe for the exact-span scrub:
  *
  *   sbt 'Test/runMain graft.SpanSkewProbe <sfDir> [hotFrac=0.2]'
  *
  * Real corpora carry BOILERPLATE spans (license headers, cookie
  * banners, templated footers) repeated across a large fraction of all
  * documents — the span-hash analogue of the media family's
  * all-black-thumbnail class. This probe PLANTS one: a fixed
  * boilerplate span appended to every ⌈1/hotFrac⌉-th document, then
  * times the scrub's first-occurrence step both ways on the same
  * planted corpus:
  *
  *   - window (SHIPPED): row_number over (partition by h) — the hot
  *     hash's rows land in ONE window partition, but a hot span at
  *     20% DOC mass is only ~0.4% of span ROWS and row_number streams
  *     its group with no buffering — measured FASTER at every probed
  *     size;
  *   - agg+join (fallback): min over (doc_id, span_idx) packed into
  *     one BIGINT (struct min/min_by would plan as the banned grouped
  *     SortAggregate), map-side combined, joined back on `h` (AQE-
  *     skew-splittable) — immune to a single-task ceiling on extreme
  *     boilerplate mass, but it pays a SECOND full scan+explode+md5.
  *     Semantically identical (lexicographic min ≡ rank-1 of the same
  *     order).
  *
  * Prints min-of-2 wall seconds per formulation; BASELINE.md records
  * the cells and why the window stays the shipped plan. */
object SpanSkewProbe {

  /** The skew-splittable fallback arm — see the object scaladoc. */
  private def firstOccurrencePackedMin(spans: DataFrame): DataFrame = {
    val packed = col("doc_id") * lit(1L << 23) + col("span_idx")
    val guarded = when(
      assert_true(col("doc_id") >= 0 && col("doc_id") < lit(1L << 40) &&
        col("span_idx") < lit(1L << 23),
        lit("span pack bounds exceeded")).isNull,
      packed)
    val sp = spans.withColumn("p", guarded)
    sp.join(sp.groupBy("h").agg(min(col("p")).as("fp")), Seq("h"))
      .withColumn("keep_span", col("p") === col("fp"))
      .drop("p", "fp")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/x10"
    val hotFrac = if (args.length > 1) args(1).toDouble else 0.2
    val every = math.max(1L, math.round(1.0 / hotFrac))
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val boiler = (1 to PrepQueries.scrubSpanLen).map(i => s"boiler$i")
      .mkString(" ")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .withColumn("text",
        when(col("doc_id") % every === 0,
          concat(col("text"), lit(" " + boiler))).otherwise(col("text")))
      .localCheckpoint()
    val n = docs.count()
    println(s"[spanskew] $sfDir: $n docs, boilerplate span on every " +
      s"${every}th doc (~${100 / every}% hot-span mass)")

    def time(tag: String, mk: DataFrame => DataFrame): Unit = {
      def run(): Double = {
        val t0 = System.nanoTime()
        PrepQueries.scrubAssemble(mk(PrepQueries.spansOf(docs)))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warmup
      val best = Seq(run(), run()).min
      println(f"[spanskew] $tag min=$best%.2f s")
    }
    time("window  (shipped plan)             ",
      sp => PrepQueries.firstOccurrence(sp))
    time("agg+join (packed-min fallback)     ", firstOccurrencePackedMin)
    spark.stop()
  }
}
