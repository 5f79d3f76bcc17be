package graft

import graft.ops.{AnalyticsQueries, DedupQueries}
import org.apache.spark.sql.functions._

/** Behavioral-analytics operators (funnel, cohort retention, exact OLS
  * trend) + edit-distance fuzzy dedup. */
class AnalyticsSpec extends SparkSpec {

  test("funnel stages are monotone and ordered within the window") {
    val f = AnalyticsQueries.queries("funnel")(spark, sf).cache()
    val n1 = f.count()
    val n2 = f.filter(col("stage_depth") >= 2).count()
    val n3 = f.filter(col("stage_depth") === 3).count()
    assert(n1 >= n2 && n2 >= n3 && n1 > 0, s"monotone funnel: $n1/$n2/$n3")
    // stage timestamps strictly increase and stay within the window
    val win = expr(s"INTERVAL ${AnalyticsQueries.funnelWindowHours} HOURS")
    assert(f.filter(col("t_view").isNotNull &&
      (col("t_view") <= col("t_signup") ||
        col("t_view") > col("t_signup") + win)).isEmpty)
    assert(f.filter(col("t_purchase").isNotNull &&
      (col("t_purchase") <= col("t_view") ||
        col("t_purchase") > col("t_view") + win)).isEmpty)
    // depth is consistent with which stage timestamps exist
    assert(f.filter(col("stage_depth") === 3 && col("t_purchase").isNull).isEmpty)
    assert(f.filter(col("stage_depth") === 1 && col("t_view").isNotNull).isEmpty)
    f.unpersist()
    ()
  }

  test("cohort retention: week 0 is total, ratios in (0, 1]") {
    val c = AnalyticsQueries.queries("cohort_retention")(spark, sf).cache()
    assert(c.filter(col("week_n") === 0 && col("retention") =!= 1.0).isEmpty,
      "every user is active in their own cohort week")
    assert(c.filter(col("retention") <= 0 || col("retention") > 1).isEmpty)
    assert(c.filter(col("n_active") > col("cohort_size")).isEmpty)
    c.unpersist()
    ()
  }

  test("trend fit recovers an exact linear series") {
    import spark.implicits._
    // y = 2x + 1 on days 0..9, one group — slope/intercept must be exact
    val df = (0 to 9).map { d =>
      ("lin", java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00"),
        2.0 * d + 1.0)
    }.toDF("event_type", "ts", "value")
    val fit = graft.ops.AnalyticsQueries.trendFitOf(df).collect()
    assert(fit.length === 1)
    assert(fit(0).getDouble(2) === 2.0 && fit(0).getDouble(3) === 1.0)
  }

  test("pagerank: positive, mass-bounded, discriminating, deterministic") {
    val r = DedupQueries.queries("dedup_pagerank")(spark, sf).cache()
    val n = r.count()
    assert(n > 0)
    assert(r.filter(col("rank_micro") <= 0).isEmpty, "ranks are positive")
    // ranks are normalized: they sum to ≈ 1·scale (init = scale/n,
    // teleport = 0.15·scale/n); floor truncation only LOSES mass, and
    // the teleport term alone guarantees ~15% of it
    val total = r.agg(sum("rank_micro")).first().getLong(0)
    assert(total <= DedupQueries.prScale)
    assert(total >= DedupQueries.prScale * 14 / 100)
    assert(r.select("rank_micro").distinct().count() > 1,
      "centrality must discriminate hub from leaf nodes")
    // recomputation is bit-identical (no RNG, no float accumulation)
    val again = DedupQueries.queries("dedup_pagerank")(spark, sf)
    assert(r.exceptAll(again).isEmpty && again.exceptAll(r).isEmpty)
    r.unpersist()
    ()
  }

  test("fuzzy dedup equals brute-force edit-ratio pairs on this corpus") {
    val fuzzy = DedupQueries.queries("dedup_fuzzy")(spark, sf)
      .select("doc_a", "doc_b").collect().toSeq
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), length(col("text")).cast("double").as("n"))
    val a = d.select(col("doc_id").as("doc_a"), col("text").as("ta"), col("n").as("na"))
    val b = d.select(col("doc_id").as("doc_b"), col("text").as("tb"), col("n").as("nb"))
    // the documents file is one partition: 8 slices of one side spread
    // the pair checks over the cores. The id order and the length gap (a
    // lower bound of the edit distance) rule a pair out before
    // levenshtein runs.
    val maxEd = lit(DedupQueries.fuzzyMaxRatio) * greatest(col("na"), col("nb"))
    val brute = a.repartition(8).crossJoin(b)
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("na") - col("nb")) <= maxEd &&
        levenshtein(col("ta"), col("tb")) <= maxEd)
      .select("doc_a", "doc_b").collect().toSeq
    // both pair lists are computed once; `diff` is a multiset difference,
    // as exceptAll is
    assert(fuzzy.diff(brute).isEmpty,
      "every blocked pair must satisfy the brute threshold")
    assert(brute.diff(fuzzy).isEmpty,
      "prefix blocking must not lose a true pair on this corpus")
  }

  test("triangle census: bounds, node set, and 3x closure accounting") {
    val t = DedupQueries.queries("dedup_triangles")(spark, sf).cache()
    assert(t.count() > 0)
    assert(t.filter(col("triangles") > col("wedges")).isEmpty,
      "a node cannot close more triangles than it has wedges")
    assert(t.filter(col("clustering") < 0 || col("clustering") > 1).isEmpty)
    assert(t.filter(col("degree") < 1).isEmpty)
    // every triangle is counted at exactly its three corners
    val triSum = t.agg(sum(col("triangles"))).first().getLong(0)
    assert(triSum % 3 === 0, s"triangle corner sum $triSum must be 3T")
    // node set = exactly the near-dup pair graph's vertices
    val pairs = DedupQueries.queries("dedup_jaccard")(spark, sf)
    val nodes = pairs.select(col("a").as("doc_id"))
      .unionByName(pairs.select(col("b").as("doc_id"))).distinct()
    assert(t.select("doc_id").exceptAll(nodes).isEmpty &&
      nodes.exceptAll(t.select("doc_id")).isEmpty)
    t.unpersist()
    ()
  }

  test("copurchase pairs: support bounds, orientation, positive lift") {
    val p = graft.ops.RelationalQueries.queries("copurchase_pairs")(spark, sf)
      .cache()
    assert(p.count() > 0)
    assert(p.filter(col("part_a") >= col("part_b")).isEmpty,
      "pairs are oriented part_a < part_b")
    assert(p.filter(col("n_co") > least(col("n_a"), col("n_b"))).isEmpty,
      "co-occurrence cannot exceed either part's own support")
    assert(p.filter(col("n_co") <
      graft.ops.RelationalQueries.copMinSupport).isEmpty)
    assert(p.filter(col("lift") <= 0).isEmpty)
    p.unpersist()
    ()
  }

  test("knn graph: exact k per node, cosine non-increasing by rank") {
    import graft.ops.SimilarityQueries
    val g = SimilarityQueries.queries("knn_graph")(spark, sf).cache()
    val n = Tables.embeddings(spark, sf).count()
    assert(g.count() === n * SimilarityQueries.knnK,
      "every vector gets exactly k neighbors")
    assert(g.filter(col("dst") === col("src")).isEmpty, "no self-edges")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("src").orderBy("rank")
    val seq = g.withColumn("prev", lag(col("cosine"), 1).over(w))
    assert(seq.filter(col("prev").isNotNull && col("cosine") > col("prev"))
      .isEmpty, "neighbor list ordered by similarity")
    g.unpersist()
    ()
  }

  test("blocked knn graph: capped degree, ordered ranks, nonzero recall") {
    import graft.ops.SimilarityQueries
    val exact = SimilarityQueries.queries("knn_graph")(spark, sf)
      .select("src", "dst").cache()
    val blocked = SimilarityQueries.queries("knn_graph_blocked")(spark, sf)
      .cache()
    val k = SimilarityQueries.knnK
    assert(blocked.groupBy("src").count().filter(col("count") > k).isEmpty,
      "at most k edges per source")
    assert(blocked.filter(col("dst") === col("src")).isEmpty, "no self-edges")
    // ranks are 1..deg contiguous per src
    val deg = blocked.groupBy("src")
      .agg(count(lit(1)).as("d"), max("rank").as("mr"))
    assert(deg.filter(col("d") =!= col("mr")).isEmpty,
      "rank sequence must be contiguous from 1")
    // the cell block retains a real fraction of the exact graph's edges
    val overlap = blocked.select("src", "dst").intersect(exact).count()
    val recall = overlap.toDouble / exact.count()
    assert(recall > 0.05 && recall < 1.0,
      s"cell-blocked recall vs exact graph = $recall — " +
        "nonzero (cells are geometric) but lossy (single-cell probe)")
    exact.unpersist(); blocked.unpersist()
    ()
  }

  test("diversity_sample ≡ Scala brute-force greedy k-center; radius non-increasing") {
    import graft.ops.SimilarityQueries
    val got = SimilarityQueries.diversitySample(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val k = SimilarityQueries.diversityK
    assert(got.map(_._1).toSeq === (1L to k.toLong), "ranks 1..k")
    // the k-center invariant: the coverage radius at selection time
    // can never grow (each pick only shrinks min-dists)
    got.drop(1).sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 + 1e-9, s"radius grew: $a -> $b")
    }
    // independent re-derivation: brute-force greedy over collected
    // embeddings with the same 4dp cosine must select the SAME sequence
    val vs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    def cos4(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val sel = scala.collection.mutable.ArrayBuffer((1L, vs.head._1, 0.0))
    val dist = scala.collection.mutable.Map(
      vs.map { case (id, e) => id -> (1.0 - cos4(e, vs.head._2)) }: _*)
    dist.remove(vs.head._1)
    val byId = vs.toMap
    (2 to k).foreach { r =>
      val (cid, cd) = dist.toSeq.maxBy { case (id, d) => (d, -id) }
      sel += ((r.toLong, cid, cd))
      dist.remove(cid)
      val ce = byId(cid)
      dist.keys.foreach { id =>
        val nd = 1.0 - cos4(byId(id), ce)
        if (nd < dist(id)) dist(id) = nd
      }
    }
    got.zip(sel).foreach { case (g, s) =>
      assert(g._1 === s._1 && g._2 === s._2, s"selection diverged: $g vs $s")
      assert(math.abs(g._3 - s._3) < 5e-5, s"radius diverged: $g vs $s")
    }
  }

  test("diversity_sample_blocked: valid shape, coverage radius within factor of exact greedy") {
    import graft.ops.SimilarityQueries
    val exact = SimilarityQueries.diversitySample(spark, sf)
      .collect().map(_.getLong(1))
    val blocked = SimilarityQueries.diversitySampleBlocked(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val k = SimilarityQueries.diversityK
    assert(blocked.map(_._1).toSeq === (1L to k.toLong), "ranks 1..k")
    assert(blocked.map(_._2).distinct.length === k, "k distinct centers")
    // radius non-increasing within the union
    blocked.drop(1).sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3 + 1e-9, s"radius grew: $a -> $b")
    }
    // corpus coverage radius: max over all vectors of min dist to the
    // selected set — blocked must stay within a constant factor of the
    // exact greedy (composable-coreset guarantee)
    val vs = Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos4(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = vs.toMap
    def radius(centers: Seq[Long]): Double = {
      val ces = centers.map(byId)
      vs.map { case (_, e) => ces.map(c => 1.0 - cos4(e, c)).min }.max
    }
    val rExact = radius(exact.toSeq)
    val rBlocked = radius(blocked.map(_._2).toSeq)
    assert(rBlocked <= 3.0 * rExact + 1e-9,
      s"blocked corpus radius $rBlocked vs exact $rExact — must stay within 3x")
  }

  test("nn-descent knn graph: valid shape, recall beats the blocked twin") {
    import graft.ops.SimilarityQueries
    val exact = SimilarityQueries.queries("knn_graph")(spark, sf)
      .select("src", "dst").cache()
    val nEx = exact.count()
    val ann = SimilarityQueries.queries("knn_graph_ann")(spark, sf).cache()
    val k = SimilarityQueries.knnK
    assert(ann.groupBy("src").count().filter(col("count") > k).isEmpty,
      "at most k edges per source")
    assert(ann.filter(col("dst") === col("src")).isEmpty, "no self-edges")
    val deg = ann.groupBy("src")
      .agg(count(lit(1)).as("d"), max("rank").as("mr"))
    assert(deg.filter(col("d") =!= col("mr")).isEmpty,
      "rank sequence must be contiguous from 1")
    // On THIS corpus (near-random embeddings — even the exact-in-cell
    // block only recalls ~0.18 of the true graph) neighbor-of-neighbor
    // hill-climbing has no gradient to follow; NN-Descent converges to
    // the cell-local structure it initialized from, so the contract here
    // is "no worse than the blocked twin at a fraction of its work".
    // The operator's real recall claim is pinned on the CLUSTERED
    // fixture in AnnTrainingSpec, the regime embedding corpora live in.
    val blocked = SimilarityQueries.queries("knn_graph_blocked")(spark, sf)
    val rBlocked = blocked.select("src", "dst").intersect(exact)
      .count().toDouble / nEx
    val rAnn = ann.select("src", "dst").intersect(exact)
      .count().toDouble / nEx
    assert(rAnn >= rBlocked,
      s"nn-descent recall $rAnn must not trail blocked $rBlocked")
    assert(rAnn > 0.1, s"nn-descent recall $rAnn below the measured floor")
    exact.unpersist(); ann.unpersist()
    ()
  }

  test("source overlap: complete pair matrix, bounded jaccard") {
    val o = DedupQueries.queries("source_overlap")(spark, sf).cache()
    val s = Tables.documents(spark, sf).select("source").distinct().count()
    val n = o.count()
    assert(n > 0 && n <= s * (s - 1) / 2,
      s"$n unordered source pairs with shared shingles, bound ${s * (s - 1) / 2}")
    assert(o.filter(col("jaccard") < 0 || col("jaccard") > 1).isEmpty)
    assert(o.filter(col("common") > least(col("na"), col("nb"))).isEmpty,
      "intersection cannot exceed the smaller set")
    o.unpersist()
    ()
  }

  test("MAD outliers: every flag exceeds the robust threshold, minority") {
    val o = AnalyticsQueries.queries("outlier_mad")(spark, sf).cache()
    val n = o.count()
    assert(n > 0, "the heavy-tailed value column must produce outliers")
    assert(o.filter(col("robust_z") <= AnalyticsQueries.madK).isEmpty,
      "every flagged event clears the k·MAD threshold")
    val total = Tables.events(spark, sf).count()
    assert(n < total / 10, s"outliers must be a minority: $n of $total")
    o.unpersist()
    ()
  }

  test("bm25: dense ranks, positive non-increasing scores, real term hits") {
    import graft.ops.CurationQueries
    val r = CurationQueries.queries("bm25_topk")(spark, sf).cache()
    assert(r.count() > 0)
    assert(r.filter(col("score") <= 0).isEmpty, "BM25 scores are positive")
    assert(r.filter(col("n_terms") < 1 ||
      col("n_terms") > CurationQueries.bm25Queries.head._2.split(" ").length)
      .isEmpty, "n_terms bounded by the query length")
    // ranks are dense 1..k and scores never increase with rank
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy("rank")
    val seq = r.withColumn("prev_rank", lag(col("rank"), 1).over(w))
      .withColumn("prev_score", lag(col("score"), 1).over(w))
    assert(seq.filter(col("prev_rank").isNotNull &&
      col("rank") =!= col("prev_rank") + 1).isEmpty, "ranks are dense")
    assert(seq.filter(col("prev_score").isNotNull &&
      col("score") > col("prev_score")).isEmpty, "scores non-increasing")
    // every retrieved doc really contains at least one query term
    val qterms = CurationQueries.bm25Queries.flatMap(_._2.split(" ")).toSet
    val hit = r.join(Tables.documents(spark, sf), Seq("doc_id"))
      .filter(!qterms.map(t => col("text").contains(t)).reduce(_ || _))
    assert(hit.isEmpty, "a retrieved doc must contain a query term")
    r.unpersist()
    ()
  }

  test("user features: join-free single-aggregate plan, counts partition") {
    val f = AnalyticsQueries.queries("user_features")(spark, sf)
    val plan = f.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"feature assembly must not join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1,
      s"one scan of events only:\n$plan")
    val rows = f.cache()
    // the per-type conditional counts partition the user's event count
    val typeSum = AnalyticsQueries.userFeatureTypes
      .map(t => col(s"n_$t")).reduce(_ + _)
    assert(rows.filter(typeSum =!= col("n_events")).isEmpty,
      "type counts must sum to n_events")
    assert(rows.filter(col("active_days") <= 0 ||
      col("active_days") > col("n_events")).isEmpty)
    rows.unpersist()
  }

  test("consecutive dedup: no adjacent duplicate types survive") {
    import org.apache.spark.sql.expressions.Window
    val d = AnalyticsQueries.queries("dedup_consecutive")(spark, sf).cache()
    val total = graft.Tables.events(spark, sf).count()
    assert(d.count() > 0 && d.count() <= total)
    // re-derive adjacency on the CLEANED stream: no run survives
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val adjacent = d.withColumn("p", lag(col("event_type"), 1).over(w))
      .filter(col("event_type") === col("p"))
    assert(adjacent.isEmpty, "cleaned stream still has consecutive dupes")
    d.unpersist()
  }

  test("doc keywords: contiguous ranks, top-k plans as WindowGroupLimit") {
    import graft.ops.CurationQueries
    val k = CurationQueries.queries("doc_keywords")(spark, sf)
    val plan = k.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-doc top-k must push the rank limit below the sort:\n$plan")
    val rows = k.cache()
    assert(rows.count() > 0)
    assert(rows.filter(col("rank") < 1 ||
      col("rank") > CurationQueries.keywordsK).isEmpty)
    // ranks per doc are contiguous from 1 (no gaps, no duplicates)
    val perDoc = rows.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"),
        countDistinct(col("rank")).as("d"))
    assert(perDoc.filter(col("n") =!= col("mx") ||
      col("n") =!= col("d")).isEmpty, "ranks must be 1..n per doc")
    rows.unpersist()
  }

  test("token pmi: support floor, co-occurrence bounded by marginals") {
    import graft.ops.CurationQueries
    val p = CurationQueries.queries("token_pmi")(spark, sf).cache()
    assert(p.count() > 0)
    assert(p.filter(col("n_ab") < CurationQueries.pmiMinSupport).isEmpty)
    // a pair can't co-occur more often than either token appears
    assert(p.filter(col("n_ab") > least(col("df_a"), col("df_b"))).isEmpty)
    // hence pmi <= ln(N / max(df_a, df_b)) — check via the looser
    // algebraic identity on the emitted columns
    val bad = p.filter(col("pmi") - 1e-6 >
      log(col("n_ab") * least(col("df_a"), col("df_b")).cast("double") /
        (col("df_a") * col("df_b")) *
        lit(graft.Tables.documents(spark, sf).count()) /
        col("n_ab")))
    assert(bad.isEmpty, "pmi above its marginal bound")
    p.unpersist()
  }

  test("rfm: balanced quintiles, segment is the score concat") {
    val r = AnalyticsQueries.queries("rfm_segments")(spark, sf).cache()
    val n = r.count()
    assert(n > 0)
    // ntile(5) buckets differ in size by at most 1
    for (c <- Seq("r_score", "f_score", "m_score")) {
      val sizes = r.groupBy(c).count().collect().map(_.getLong(1))
      assert(sizes.length === 5 && sizes.max - sizes.min <= 1,
        s"$c quintiles must be balanced: ${sizes.mkString(",")}")
    }
    assert(r.filter(col("segment") =!=
      concat(col("r_score"), col("f_score"), col("m_score"))).isEmpty)
    r.unpersist()
  }

  // shared contract for BOTH bucket-join twins (exact-percentile, which
  // the driver oracle hash-checks, and the GK-sketch 100 TB form, which
  // is bench-only): window-free plan, tie-consistent monotone scores,
  // >=90% agreement with the ntile form on untied values
  private def checkRfmTwin(tw: org.apache.spark.sql.DataFrame): Unit = {
    val plan = tw.queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.isEmpty, "bucketed twin must not contain Window operators")
    val t = tw.cache()
    val ex = AnalyticsQueries.queries("rfm_segments")(spark, sf).cache()
    assert(t.count() === ex.count())
    // value-threshold bucketing differs from ntile EXACTLY on ties:
    // ntile splits a tie group across buckets by arbitrary rank, the
    // twin (correctly) scores equal values equally. So assert the twin's
    // defining properties — tie-consistency + monotonicity in the
    // underlying value — and demand ntile agreement only where the value
    // is UNTIED (there the two semantics must coincide).
    val dims = Seq(
      ("r_score", "recency_days", -1), // smaller recency = better
      ("f_score", "frequency", 1),
      ("m_score", "monetary", 1))
    for ((c, v, sign) <- dims) {
      assert(t.filter(col(c) < 1 || col(c) > 5).isEmpty, s"$c out of 1..5")
      val perValue = t.groupBy(col(v))
        .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
      assert(perValue.filter(col("lo") =!= col("hi")).isEmpty,
        s"$c must be tie-consistent in $v")
      val ordered = perValue.orderBy(col(v) * sign).collect().map(_.getInt(1))
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b },
        s"$c must be monotone in $v")
      val untied = t.groupBy(col(v)).count().filter(col("count") === 1)
        .select(col(v))
      val pool = t.join(untied, Seq(v))
        .join(ex.select(col("o_custkey"), ex(c).as("exact")), "o_custkey")
      val n = pool.count()
      if (n > 0) {
        val agree = pool.filter(col(c) === col("exact")).count()
        assert(agree.toDouble / n >= 0.9, s"$c untied agreement $agree/$n")
      }
    }
    assert(t.filter(col("segment") =!=
      concat(col("r_score"), col("f_score"), col("m_score"))).isEmpty)
    t.unpersist(); ex.unpersist()
  }

  test("rfm bucketed twin: no window in plan, agrees with exact ntile form") {
    checkRfmTwin(AnalyticsQueries.queries("rfm_segments_bucketed")(spark, sf))
  }

  test("rfm sketch twin (bench-only GK form) meets the same contract") {
    checkRfmTwin(AnalyticsQueries.rfmSegmentsSketch(spark, sf))
  }

  test("pack shards are session-configurable (spark.graft.pack.shards)") {
    import graft.ops.CurationQueries
    try {
      spark.conf.set("spark.graft.pack.shards", "4")
      val p = CurationQueries.queries("pack_sequences")(spark, sf).cache()
      assert(p.select("shard").distinct().count() === 4)
      // per-shard packing invariant holds at the overridden shard count
      assert(p.filter(col("chunk_offset") < 0 ||
        col("chunk_offset") >= CurationQueries.packBudget).isEmpty)
      p.unpersist()
    } finally spark.conf.unset("spark.graft.pack.shards")
    val d = CurationQueries.queries("pack_sequences")(spark, sf)
    assert(d.select("shard").distinct().count() ===
      CurationQueries.packShards.toLong)
  }

  test("unpivot melts the feature row and re-pivots back exactly") {
    val long = AnalyticsQueries.queries("unpivot_metrics")(spark, sf).cache()
    assert(long.filter(col("value") <= 0).isEmpty, "zeros dropped in long form")
    // re-pivot the long form and compare against the wide per-type counts
    val rePivot = long.groupBy("user_id").pivot("metric",
        AnalyticsQueries.userFeatureTypes.map(t => s"n_$t"))
      .agg(first(col("value"))).na.fill(0L)
    val wide = AnalyticsQueries.queries("user_features")(spark, sf)
      .select(col("user_id") +:
        AnalyticsQueries.userFeatureTypes.map(t => col(s"n_$t")): _*)
    assert(rePivot.exceptAll(wide).isEmpty && wide.exceptAll(rePivot).isEmpty,
      "unpivot → pivot must round-trip the feature matrix")
    long.unpersist()
  }

  test("skew report: shares and ratios consistent, descending heavy keys") {
    import graft.ops.ProfileQueries
    val k = ProfileQueries.queries("skew_report")(spark, sf).collect()
    assert(k.length === ProfileQueries.skewTopK)
    val cnts = k.map(_.getLong(1))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
      "heaviest keys first")
    k.foreach { r =>
      assert(r.getDouble(2) > 0 && r.getDouble(3) > 0 && r.getDouble(3) < 1)
    }
  }

  test("session paths: path length matches n_events, ranked output") {
    val p = AnalyticsQueries.queries("session_paths")(spark, sf).cache()
    assert(p.count() > 0 && p.count() <= AnalyticsQueries.sessionPathTopK)
    // the path string IS the session: segment count must equal n_events
    assert(p.filter(size(split(col("path"), ">")) =!= col("n_events"))
      .isEmpty, "path segments = session event count")
    // ranking is by popularity: counts are non-increasing down the list
    val counts = p.orderBy(col("n_sessions").desc, col("path"))
      .select("n_sessions").collect().map(_.getLong(0))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    p.unpersist()
  }

  test("chi-square cells: counts conserve, expected margins match observed") {
    val c = AnalyticsQueries.queries("chi_square")(spark, sf).cache()
    val e = graft.Tables.events(spark, sf)
    assert(c.agg(sum(col("observed"))).collect()(0).getLong(0) === e.count(),
      "observed cells partition the event count")
    assert(c.filter(col("chi2_contrib") < 0).isEmpty, "contributions >= 0")
    // under-independence expected counts reproduce the observed margins
    val margins = c.groupBy("event_type")
      .agg(sum(col("observed")).as("o"), sum(col("expected")).as("ex"))
      .collect()
    margins.foreach { r =>
      assert(math.abs(r.getLong(1) - r.getDouble(2)) < 1e-3,
        s"row margin of expected = observed margin: $r")
    }
    c.unpersist()
  }

  test("twap: bounded by per-user value range, spans positive") {
    val t = AnalyticsQueries.queries("twap")(spark, sf).cache()
    assert(t.count() > 0 && t.filter(col("span_us") <= 0).isEmpty)
    // a weighted mean can never leave [min, max] of the weighted values
    val bounds = graft.Tables.events(spark, sf).groupBy("user_id")
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    assert(t.join(bounds, "user_id")
      .filter(col("twap") < col("lo") - 1e-6 ||
        col("twap") > col("hi") + 1e-6).isEmpty,
      "twap outside the user's value range")
    t.unpersist()
  }

  test("event transitions: rows sum to 1, counts conserve events minus users") {
    val t = AnalyticsQueries.queries("event_transitions")(spark, sf).cache()
    assert(t.count() > 0)
    // each from-row of the matrix is a probability distribution
    val rowSums = t.groupBy("from_type")
      .agg(sum(col("prob")).as("p"), sum(col("n_transitions")).as("n"))
      .collect()
    rowSums.foreach { r =>
      // probs are rounded to 6dp, so the sum is 1 within rounding slack
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-4, s"row sum: $r")
      assert(r.getLong(2) > 0)
    }
    // every event except each user's last transitions exactly once
    val e = graft.Tables.events(spark, sf)
    val expected = e.count() - e.select("user_id").distinct().count()
    val total = t.agg(sum(col("n_transitions"))).collect()(0).getLong(0)
    assert(total === expected, "transition count = |events| - |users|")
    t.unpersist()
  }

  test("ewma: convex bounds, first row is its own value, no nulls") {
    val e = AnalyticsQueries.queries("window_ewma")(spark, sf).cache()
    assert(e.count() > 0 && e.filter(col("ewma").isNull).isEmpty)
    // renormalized leading edge: row 1 of each user is exactly its value
    assert(e.filter(col("seq_in_user") === 1 &&
      col("ewma") =!= round(col("value"), 6)).isEmpty,
      "depth-1 EWMA must equal the value itself")
    // a convex combination can never leave the window's [min, max]
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(AnalyticsQueries.ewmaDepth - 1), 0)
    val bounded = e
      .withColumn("lo", min(col("value")).over(w))
      .withColumn("hi", max(col("value")).over(w))
      .filter(col("ewma") < round(col("lo"), 6) - 1e-6 ||
        col("ewma") > round(col("hi"), 6) + 1e-6)
    assert(bounded.isEmpty, "EWMA is a convex combination of its window")
    e.unpersist()
    ()
  }

  test("entropy: [0, ln(distinct)] bounds; uniform text maxes out") {
    import graft.ops.TextQueries
    val t = TextQueries.queries("text_entropy")(spark, sf).cache()
    assert(t.count() > 0 && t.filter(col("entropy") < 0).isEmpty)
    assert(t.filter(col("entropy") >
      log(col("n_distinct").cast("double")) + 1e-6).isEmpty,
      "H <= ln(n_distinct)")
    assert(t.filter(col("norm_entropy") < 0 || col("norm_entropy") > 1 + 1e-6)
      .isEmpty)
    t.unpersist()
    // an all-distinct doc hits the ln(n) ceiling exactly
    import spark.implicits._
    val one = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val h = TextQueries.textEntropyOf(one).collect()(0)
    assert(math.abs(h.getAs[Double]("entropy") - math.log(4)) < 1e-5)
    assert(math.abs(h.getAs[Double]("norm_entropy") - 1.0) < 1e-5)
  }

  test("weighted sample: exact k, deterministic, biased toward weight") {
    import graft.ops.CurationQueries
    val s1 = CurationQueries.queries("sample_weighted")(spark, sf).cache()
    assert(s1.count() === CurationQueries.sampleWeightedK)
    val s2 = CurationQueries.queries("sample_weighted")(spark, sf)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty,
      "hash-driven draw is reproducible")
    // weighting by n_chars must pull the sample mean above the corpus mean
    val sampleMean = s1.agg(avg(col("n_chars"))).first().getDouble(0)
    val corpusMean = Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).first().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean must exceed corpus mean $corpusMean")
    s1.unpersist()
    ()
  }

  test("corr matrix: [-1,1] bounds, agrees with built-in corr to 1e-4") {
    val m = AnalyticsQueries.queries("corr_matrix")(spark, sf).cache()
    assert(m.count() === 3)
    assert(m.filter(col("r") < -1 || col("r") > 1).isEmpty)
    val builtin = Tables.lineitem(spark, sf)
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"))
      .first().getDouble(0)
    val exact = m.filter(col("col_a") === "l_quantity" &&
      col("col_b") === "l_extendedprice").first().getAs[Double]("r")
    assert(math.abs(exact - builtin) < 1e-4,
      s"exact $exact vs running-moment $builtin")
    m.unpersist()
    ()
  }

  test("attribution: conversion credit is conserved across models") {
    val a = AnalyticsQueries.attribution(spark, sf).cache()
    assert(a.count() > 0)
    val tot = a.agg(sum("first_touch"), sum("last_touch"),
      sum("linear_ppm"), sum("n_touches")).first()
    val (first, last, ppm, touches) =
      (tot.getLong(0), tot.getLong(1), tot.getLong(2), tot.getLong(3))
    // exactly one first- and one last-touch per CREDITED conversion
    assert(first === last, "first/last totals both count credited convs")
    val ev = Tables.events(spark, sf)
    val nConv = ev.filter(col("event_type") === "purchase").count()
    assert(first > 0 && first <= nConv)
    assert(touches >= first, "every credited conv has >= 1 touch")
    // linear credit: each credited conv distributes 1e6 ppm minus the
    // per-channel floor loss (< 3 ppm per conv, one per channel cell)
    assert(ppm <= 1000000L * first)
    assert(ppm >= 1000000L * first - 3 * first,
      s"floor loss exceeded bound: $ppm vs ${1000000L * first}")
    a.unpersist()
    ()
  }

  test("incremental MV merge equals full recompute") {
    val mv = graft.ops.RelationalQueries.queries("mv_incremental")(spark, sf)
    val direct = Tables.orders(spark, sf)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        max(col("o_orderdate")).as("last_order"))
      .select("o_custkey", "n_orders", "revenue", "last_order")
    val m = mv.select("o_custkey", "n_orders", "revenue", "last_order")
    assert(m.exceptAll(direct).isEmpty && direct.exceptAll(m).isEmpty,
      "base-state + delta-state merge must reproduce the full aggregate")
  }
}
