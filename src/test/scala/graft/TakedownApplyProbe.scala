package graft

/** Dev-only probe (test scope): time ONE `Takedown.apply` (or the pair
  * gate's correction pass) against an ALREADY-INGESTED state dir — the
  * apply-side A/B harness for the round-16 candidate-probe rework
  * (removal-keyed probes, no whole-index materialization). Feed it the
  * state dirs a prior [[TakedownCostProbe]] run left behind (copy them
  * aside and drop `takedown/` for a pristine re-apply).
  *
  *   sbt 'Test/runMain graft.TakedownApplyProbe <gate> <stateDir> <sfDir> [tdId]'
  */
object TakedownApplyProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val Array(gateName, stateDirs, sfDir) = args.take(3)
    val tdId = args.lift(3).map(_.toLong).getOrElse(1L)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.streaming.{AnnStream, GraphStream, PairStream, Takedown}
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    val removals = docs.filter(col("doc_id") % 101 === 0)
      .orderBy("doc_id").limit(50).select("doc_id").localCheckpoint()
    // comma-separated dirs: pristine copies of the same state, so the
    // 2nd+ applies time the WARM plan (cold-JVM JIT isolated on #1)
    for (stateDir <- stateDirs.split(',').toSeq) {
    val t0 = System.nanoTime()
    gateName match {
      case "exact" =>
        Takedown(spark, stateDir, removals, Takedown.Gate.Exact, tdId)
      case "neardup" =>
        Takedown(spark, stateDir, removals, Takedown.Gate.NearDup, tdId)
      case "winnow" =>
        Takedown(spark, stateDir, removals, Takedown.Gate.Winnow, tdId)
      case "media" =>
        Takedown(spark, stateDir, removals, Takedown.Gate.Media, tdId)
      case "ann" =>
        AnnStream.applyTakedown(spark, stateDir, removals
          .select(col("doc_id").as("vec_id")), tdId)
      case "graph" =>
        GraphStream.applyTakedown(spark, stateDir, removals
          .select(col("doc_id").as("vec_id")), tdId)
      case "pairs" =>
        PairStream.applyTakedown(spark, stateDir, removals, tdId)
      case other => sys.error(s"unknown gate $other")
    }
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"[tdapply] gate=$gateName td=$tdId dir=$stateDir " +
      f"apply(50 ids)=$dt%.2f s")
    }
    spark.stop()
  }
}
