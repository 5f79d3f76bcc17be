package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev-only round-17 evidence probe (test scope — not part of the
  * library): the iterative faces hide their per-round plans behind
  * `localCheckpoint`, so the face-level `explain` truncates — this
  * prints a representative ROUND's formatted plan for the loops the
  * round touches, plus Spark JOB counts per face (the §2.6 job-latency
  * diet is invisible in plans but exact in job counts).
  *
  *   sbt 'Test/runMain graft.R17PlanProbe [sfDir]'
  *
  * Runs unchanged on the pre-r17 tree (only stable seams), so the same
  * probe produces the before AND after evidence via `git stash`.
  */
object R17PlanProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- BPE: one merge round, carried-nxt state vs derivation state
    // (in trainedSyms' own session: AQE off, narrow shuffle width —
    // under AQE a localCheckpoint rebases on UnknownPartitioning and
    // the round would show a spurious Exchange the trainer doesn't pay)
    val bpe = graft.ops.BpeQueries.trainingSession(spark)
    val wOrd = Window.partitionBy("word").orderBy("pos")
    val s0 = Tables.documents(bpe, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        posexplode(concat(
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          array(lit("</w>")))))
      .toDF("word", "freq", "pos", "sym")
      .withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      .localCheckpoint(true)
    val s1 = graft.ops.BpeQueries.mergeStep(s0).localCheckpoint(true)
    println("===== bpe_merge_round (state as the trainer carries it) =====")
    graft.ops.BpeQueries.mergeStep(s1).explain("formatted")
    println("===== bpe_merge_round_derived (nxt dropped: pre-r17 shape) =====")
    graft.ops.BpeQueries.mergeStep(s1.drop("nxt")).explain("formatted")

    // ---- pagerank: one round, deg pre-joined vs per-round deg join
    val pairs = graft.ops.DedupQueries.queries("dedup_jaccard")(spark, dir)
      .select("a", "b").localCheckpoint()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val edgesDeg = edges.join(deg, Seq("src")).localCheckpoint()
    val rank0 = deg.select(col("src").as("doc_id"), lit(1000L).as("rank"))
      .localCheckpoint()
    println("===== pagerank_round_before (edges ⋈ rank ⋈ deg each round) =====")
    edges.join(rank0.withColumnRenamed("doc_id", "src"), Seq("src"))
      .join(deg, Seq("src"))
      .select(col("dst").as("doc_id"), expr("rank div deg").as("share"))
      .groupBy("doc_id").agg(sum(col("share")).as("s"))
      .explain("formatted")
    println("===== pagerank_round_after (edgesDeg pre-joined once) =====")
    edgesDeg.join(rank0.withColumnRenamed("doc_id", "src"), Seq("src"))
      .select(col("dst").as("doc_id"), expr("rank div deg").as("share"))
      .groupBy("doc_id").agg(sum(col("share")).as("s"))
      .explain("formatted")

    // ---- labelprop: one round's argmax, window vs max_by
    val lbl0 = edges.select(col("src").as("doc_id"),
      col("src").as("community")).distinct().localCheckpoint()
    val cand = edges
      .join(lbl0.select(col("doc_id").as("dst"), col("community")), Seq("dst"))
      .select(col("src"), col("community"))
      .unionByName(lbl0.select(col("doc_id").as("src"), col("community")))
    println("===== labelprop_round_before (window rank=1 argmax) =====")
    cand.groupBy("src", "community").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("c").desc, col("community"))))
      .filter(col("rk") === 1)
      .select(col("src").as("doc_id"), col("community"))
      .explain("formatted")
    println("===== labelprop_round_after (max_by hash-agg argmax) =====")
    cand.groupBy("src", "community").agg(count(lit(1)).as("c"))
      .groupBy("src")
      .agg(max_by(col("community"),
        struct(col("c"), (-col("community")).as("tie"))).as("community"))
      .select(col("src").as("doc_id"), col("community"))
      .explain("formatted")

    // ---- diversity_blocked phase-1 round: does the cell partitioning
    // survive the checkpoint (one Exchange up front vs one per round)?
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("norm", sqrt(expr(
        "aggregate(transform(e, x -> x * x), 0d, (a, x) -> a + x)")))
      .withColumn("cell", pmod(col("vec_id"), lit(23)))
      .select("cell", "vec_id", "e", "norm")
      .repartition(col("cell"))
      .localCheckpoint()
    val c0 = emb.groupBy(col("cell"))
      .agg(min_by(struct(col("vec_id"), col("e"), col("norm")),
        col("vec_id")).as("c"))
      .select(col("cell"), col("c.vec_id").as("cid"),
        col("c.e").as("ce"), col("c.norm").as("cn"))
    val dProbe = emb.join(c0, Seq("cell"))
      .filter(col("vec_id") =!= col("cid"))
      .select(col("cell"), col("vec_id"), col("e"), col("norm"),
        lit(0.5).as("d"))
      .localCheckpoint()
    println("===== blocked_phase1_round (cr agg + d update over ckpt d) =====")
    dProbe.groupBy(col("cell"))
      .agg(max_by(struct(col("vec_id"), col("e"), col("norm")),
        struct(col("d"), (-col("vec_id")).as("tie"))).as("c"))
      .explain("formatted")

    // ---- Spark job counts per face (the §2.6/§5 driver-loop diet)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    Seq("diversity_sample", "diversity_sample_blocked", "bpe_vocab",
      "bpe_encode", "dedup_pagerank", "dedup_labelprop",
      "embedding_pca", "embedding_abtt").foreach { q =>
      // settle listener-bus lag from the previous face before sampling
      Thread.sleep(500)
      val before = jobs.get()
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"===== jobcount $q = ${jobs.get() - before} jobs, $sec%.2f s =====")
    }
    spark.stop()
  }
}
