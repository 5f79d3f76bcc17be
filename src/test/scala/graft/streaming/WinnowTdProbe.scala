package graft.streaming

/** Dev-only probe: stage-by-stage timing of the winnow takedown
  * re-election on an existing state dir (round-16 index-arithmetic
  * shape: affected-class prefilter + cnt-weighted recount, no text
  * re-read). The state must carry the `cnt` index column.
  *
  *   sbt 'Test/runMain graft.streaming.WinnowTdProbe <stateDir> <sfDir>'
  */
object WinnowTdProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val Array(stateDir, sfDir) = args.take(2)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val a = f
      println(f"[wtd] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      a
    }
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id")
    val r = docs.filter(col("doc_id") % 101 === 0)
      .orderBy("doc_id").limit(50).select("doc_id").localCheckpoint()
    val idx = WinnowStream.readIndex(spark, stateDir)
    timed("idx count")(println("  idx rows = " + idx.count()))
    val rIdx = timed("rIdx checkpoint")(
      idx.join(broadcast(r), Seq("doc_id"), "left_semi").localCheckpoint())
    println("  rIdx rows = " + rIdx.count())
    val rH = rIdx.select("h").distinct()
    val affected = timed("affected classes")(
      idx.join(broadcast(rH), Seq("h"), "left_semi")
        .groupBy("h")
        .agg(min(struct(col("arrival_seq"), col("doc_id"))).as("first"))
        .select(col("h"), col("first.doc_id").as("__fdoc"))
        .join(broadcast(r.withColumnRenamed("doc_id", "__fdoc")),
          Seq("__fdoc"), "left_semi")
        .select("h").localCheckpoint())
    println("  affected classes = " + affected.count())
    val dropsAll = Takedown.readDrops(spark, stateDir).get
    val dropIds = dropsAll.select("doc_id")
      .join(broadcast(r), Seq("doc_id"), "left_anti")
    val holders = idx.join(broadcast(affected), Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val candIds = timed("candIds")(
      dropIds.join(broadcast(holders), Seq("doc_id"), "left_semi")
        .localCheckpoint())
    println("  cand rows = " + candIds.count())
    val candRows = timed("candRows")(
      idx.join(broadcast(candIds), Seq("doc_id"), "left_semi")
        .localCheckpoint())
    println("  candRows = " + candRows.count())
    val firstSurv = timed("firstSurv")(
      idx.join(broadcast(r), Seq("doc_id"), "left_anti")
        .join(broadcast(candRows.select("h").distinct()), Seq("h"),
          "left_semi")
        .groupBy("h")
        .agg(min(struct(col("arrival_seq"), col("doc_id"))).as("first"))
        .localCheckpoint())
    println("  firstSurv rows = " + firstSurv.count())
    val flip = timed("scored+flip")(
      candRows.join(firstSurv, Seq("h"), "left")
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_fp"),
          sum(when(col("first").isNotNull &&
            (col("first.arrival_seq") < col("arrival_seq") ||
              (col("first.arrival_seq") === col("arrival_seq") &&
                col("first.doc_id") < col("doc_id"))), col("cnt"))
            .otherwise(0L)).as("n_sh"))
        .filter(col("n_sh") * 2 < col("n_fp")).select("doc_id")
        .localCheckpoint())
    println("  flip rows = " + flip.count())
    spark.stop()
  }
}
