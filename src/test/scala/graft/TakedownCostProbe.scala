package graft

/** Dev-only probe (test scope): does `Takedown.apply` cost scale with
  * the REMOVAL SET or the corpus? Ingests the documents table through
  * the exact and near-dup gates at two corpus scales, then times
  * apply() with the SAME fixed 50-doc removal set at each — flat wall
  * time across a 10× corpus = the tombstone design's claim, measured.
  *
  *   sbt 'Test/runMain graft.TakedownCostProbe <x10dir> <x100dir>'
  *
  * Round 16 added the derived-data indexes: winnow (threshold recount),
  * ann (codes tombstone), graph (nodes/edges/rings tombstone), and the
  * pair gate (dual-modality correction; first dir only — its ingest
  * decodes every image, which MediaCapProbe already characterizes).
  */
object TakedownCostProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/tmp/graft_scale/x10", "/tmp/graft_scale/x100")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.streaming.{AnnStream, DedupStream, GraphStream,
      NearDupStream, PairStream, Takedown, WinnowStream}
    import graft.ops.MediaQueries
    for (dir <- dirs) {
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
        .localCheckpoint()
      val n = docs.count()
      // fixed 50-id removal set: the first 50 multiples of 101 — present
      // at every scale, mixed kept/dropped
      val removals = docs.filter(col("doc_id") % 101 === 0)
        .orderBy("doc_id").limit(50).select("doc_id").localCheckpoint()
      for ((gateName, gate, ingest) <- Seq(
        ("exact", Takedown.Gate.Exact,
          (b: org.apache.spark.sql.DataFrame, d: String, i: Long) =>
            DedupStream.applyMicroBatch(spark, b, d, i)),
        ("neardup", Takedown.Gate.NearDup,
          (b: org.apache.spark.sql.DataFrame, d: String, i: Long) =>
            NearDupStream.applyMicroBatch(spark, b, d, i)),
        ("winnow", Takedown.Gate.Winnow,
          (b: org.apache.spark.sql.DataFrame, d: String, i: Long) =>
            WinnowStream.applyMicroBatch(spark, b, d, i)))) {
        val corpus = java.nio.file.Files
          .createTempDirectory(s"graft-tdcost-$gateName").toString + "/c"
        val t0 = System.nanoTime()
        val (lo, hi) = docs.agg(min("doc_id"), max("doc_id")).collect()
          .headOption.map(r => (r.getLong(0), r.getLong(1)))
          .getOrElse((0L, 0L))
        val span = hi - lo + 1
        (0 until 4).foreach(i => ingest(
          docs.filter(col("doc_id") >= lo + i * span / 4 &&
            col("doc_id") < lo + (i + 1) * span / 4 +
              (if (i == 3) 1 else 0)), corpus, i.toLong))
        val tIngest = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        Takedown(spark, corpus, removals, gate, takedownId = 0L)
        val tApply = (System.nanoTime() - t1) / 1e9
        println(f"[tdcost] dir=$dir gate=$gateName n=$n " +
          f"ingest=$tIngest%.1f s apply(50 ids)=$tApply%.2f s")
      }
      // ---- derived-data indexes: ann + graph (vec_id removals)
      val vecs = Tables.embeddings(spark, dir)
        .select("vec_id", "embedding").localCheckpoint()
      val nv = vecs.count()
      val vecRemovals = vecs.filter(col("vec_id") % 101 === 0)
        .orderBy("vec_id").limit(50).select("vec_id").localCheckpoint()
      locally {
        val idx = java.nio.file.Files
          .createTempDirectory("graft-tdcost-ann").toString + "/index"
        val t0 = System.nanoTime()
        AnnStream.init(spark, vecs, idx)
        (0 until 4).foreach(i => AnnStream.applyMicroBatch(spark,
          vecs.filter(pmod(col("vec_id"), lit(4)) === i), idx, i.toLong))
        val tIngest = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        AnnStream.applyTakedown(spark, idx, vecRemovals, takedownId = 0L)
        val tApply = (System.nanoTime() - t1) / 1e9
        println(f"[tdcost] dir=$dir gate=ann n=$nv " +
          f"ingest=$tIngest%.1f s apply(50 ids)=$tApply%.2f s")
      }
      locally {
        val idx = java.nio.file.Files
          .createTempDirectory("graft-tdcost-graph").toString + "/index"
        val t0 = System.nanoTime()
        GraphStream.init(spark, vecs, idx)
        (0 until 4).foreach(i => GraphStream.applyMicroBatch(spark,
          vecs.filter(pmod(col("vec_id"), lit(4)) === i), idx, i.toLong))
        val tIngest = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        GraphStream.applyTakedown(spark, idx, vecRemovals, takedownId = 0L)
        val tApply = (System.nanoTime() - t1) / 1e9
        println(f"[tdcost] dir=$dir gate=graph n=$nv " +
          f"ingest=$tIngest%.1f s apply(50 ids)=$tApply%.2f s")
      }
    }
    // ---- pair gate: first dir only (ingest decodes every image)
    locally {
      val dir = dirs.head
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
        .join(MediaQueries.texturedMediaTable(spark, dir)
          .filter(col("doc_id") % 3 =!= 1), Seq("doc_id"), "left")
        .select("doc_id", "text", "payload").localCheckpoint()
      val n = docs.count()
      val removals = docs.filter(col("doc_id") % 101 === 0)
        .orderBy("doc_id").limit(50).select("doc_id").localCheckpoint()
      val st = java.nio.file.Files
        .createTempDirectory("graft-tdcost-pairs").toString + "/state"
      val t0 = System.nanoTime()
      val (lo, hi) = docs.agg(min("doc_id"), max("doc_id")).collect()
        .headOption.map(r => (r.getLong(0), r.getLong(1))).getOrElse((0L, 0L))
      val span = hi - lo + 1
      (0 until 4).foreach(i => PairStream.applyMicroBatch(spark,
        docs.filter(col("doc_id") >= lo + i * span / 4 &&
          col("doc_id") < lo + (i + 1) * span / 4 + (if (i == 3) 1 else 0)),
        st, i.toLong))
      val tIngest = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      PairStream.applyTakedown(spark, st, removals, takedownId = 0L)
      val tApply = (System.nanoTime() - t1) / 1e9
      println(f"[tdcost] dir=$dir gate=pairs n=$n " +
        f"ingest=$tIngest%.1f s apply(50 ids)=$tApply%.2f s")
    }
    // ---- round-16 gates: span restitution + centroid-monitor subtraction
    for (dir <- dirs) {
      import graft.streaming.{EmbedStream, ScrubStream}
      locally {
        val docs = Tables.documents(spark, dir).select("doc_id", "text")
          .localCheckpoint()
        val n = docs.count()
        val removals = docs.filter(col("doc_id") % 101 === 0)
          .orderBy("doc_id").limit(50).select("doc_id").localCheckpoint()
        val c = java.nio.file.Files
          .createTempDirectory("graft-tdcost-scrub").toString + "/c"
        val t0 = System.nanoTime()
        graft.streaming.Takedown.quartiles(docs).zipWithIndex.foreach {
          case (b, i) => ScrubStream.applyMicroBatch(spark, b, c, i.toLong)
        }
        val tIngest = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        ScrubStream.applyTakedown(spark, c, removals, takedownId = 0L)
        val tApply = (System.nanoTime() - t1) / 1e9
        println(f"[tdcost] dir=$dir gate=scrub n=$n " +
          f"ingest=$tIngest%.1f s apply(50 ids)=$tApply%.2f s")
      }
      locally {
        val vecs = Tables.embeddings(spark, dir)
          .select("vec_id", "label", "embedding").localCheckpoint()
        val nv = vecs.count()
        val st = java.nio.file.Files
          .createTempDirectory("graft-tdcost-embed").toString + "/state"
        val t0 = System.nanoTime()
        (0 until 4).foreach(i => EmbedStream.applyMicroBatch(spark,
          vecs.filter(pmod(col("vec_id"), lit(4)) === i), st, i.toLong))
        val tIngest = (System.nanoTime() - t0) / 1e9
        val rm = vecs.filter(col("vec_id") % 101 === 0)
          .orderBy("vec_id").limit(50)
          .select(col("vec_id").as("doc_id"),
            pmod(col("vec_id"), lit(4)).cast("long").as("batch"),
            col("label"), col("embedding"))
        val t1 = System.nanoTime()
        EmbedStream.applyTakedown(spark, st, rm, takedownId = 0L)
        val tApply = (System.nanoTime() - t1) / 1e9
        println(f"[tdcost] dir=$dir gate=embed n=$nv " +
          f"ingest=$tIngest%.1f s apply(50 ids)=$tApply%.2f s")
      }
    }
    spark.stop()
  }
}
