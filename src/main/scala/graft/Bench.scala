package graft
import org.apache.spark.sql.SparkSession
/** Driver-run benchmark: one JSON line with per-query wall-clock on
  * SPARK_GRAFT_SF_DIR. Cold-JVM first execution of a plan pays ~5-15 s of
  * whole-stage-codegen JIT, and this VM shows high scheduler noise, so we
  * run one untimed warmup pass and then report the per-query MIN over
  * SPARK_GRAFT_BENCH_PASSES (default 2) timed passes — steady-state
  * throughput, the number that scales to a real cluster.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.checkSchemas(spark, sfDir)
      .foreach(d => System.err.println(s"[schema-drift] $d"))
    // optional comma-separated subset for local iteration (not used by the driver)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // verifyOnly twins carry an in-plan exact companion purely for the
    // DuckDB oracle — benching them would misreport the exact path's
    // cost under the sketch's name (their sketch-only production faces
    // ride in benchOnly under the unsuffixed names)
    val qs = (SparkEntry.queries -- SparkEntry.verifyOnly ++ SparkEntry.benchOnly)
      .toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // the noop sink forces every projected column to be computed — a
      // plain count() lets column pruning skip the actual work for
      // projection-only queries and would under-report them
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch {
        // a failing query must not masquerade as a fast one: record it so
        // the emitted JSON carries an explicit failure marker
        case t: Throwable =>
          failed.getOrElseUpdate(name, s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(200)}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // probe knob (not used by the driver): SPARK_GRAFT_BENCH_WARMUP=0
    // skips the untimed warmup pass. For multi-minute x100 sweep runs the
    // JIT it buys is ~2% of one pass while doubling wall-clock; cold
    // numbers are fine for A/B sweeps where every arm runs the same mode.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0")
      qs.foreach { case (n, fn) => once(n, fn) } // warmup (JIT + page cache)
    // passes are INTERLEAVED across the query set (pass loop outside):
    // this VM shows multi-second scheduler stalls, and back-to-back
    // passes of one query can all land inside a single stall window —
    // time-separating a query's passes makes the per-query MIN robust
    val timings = (1 to passes).map { _ =>
      qs.map { case (name, fn) => name -> once(name, fn) }.toMap
    }
    val results = qs.map { case (name, _) =>
      name -> timings.map(_(name)).min
    }
    val qj = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replaceAll("[\\n\\r\\t]", " ") + "\""
    val fj = failed.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val ok = failed.isEmpty
    println(s"""{"metric":"total","value":$total,"unit":"sec","ok":$ok,"failed":$fj,"queries":$qj,"sf":"$sfDir"}""")
    // the driver keeps only the output TAIL, and the per-query map above can
    // push the leading "total" metric past the truncation point — re-emit a
    // compact summary line last so the total always survives
    println(s"""{"metric":"total_echo","value":$total,"unit":"sec","ok":$ok,"n_queries":${results.size},"sf":"$sfDir"}""")
    // likewise the most expensive queries: the big per-query map is
    // alphabetical, so truncation hides exactly the heavy ann_* head —
    // name the top 10 explicitly in the surviving tail
    val topj = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"top_echo","top":$topj,"sf":"$sfDir"}""")
    if (!ok) System.err.println(s"BENCH FAILURES: ${failed.keys.mkString(", ")}")
    spark.stop()
  }
}
