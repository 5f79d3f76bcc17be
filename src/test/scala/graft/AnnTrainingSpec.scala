package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The k-means training contract for the ANN stack (ops/SimilarityQueries):
  *
  *  - TRAINING HELPS: on a clustered corpus (the regime real embedding
  *    corpora live in) the trained IVF cells recall strictly more of the
  *    exact top-10 than the seeded cells, and on the real testdata the
  *    trained PQ codebook reconstructs with strictly lower mean MSE than
  *    the seeded one (Lloyd's objective is non-increasing, and from
  *    arbitrary seeds the first iterations strictly improve);
  *  - TRAINING IS DETERMINISTIC: fixed iteration count + ordered folds +
  *    micro-rounding mean a re-run is row-for-row identical — train once,
  *    get the same index everywhere (the DuckDB oracle replays the same
  *    iterations, so this also holds across engines).
  */
class AnnTrainingSpec extends SparkSpec {

  /** A deterministic clustered corpus: 40 moderately-overlapping Gaussian
    * clusters in 64-d, 870 vectors (→ 29 seed cells at the √n stride of
    * 30, 18 queries at the vec_id%50 stride — MORE clusters than
    * cells, and only nprobe=4 cells probed, so cell quality decides
    * recall; measured seeded=0.839 vs trained=0.889). Cluster ids
    * interleave irregularly across the id space (seeded cells can't get
    * lucky via id locality). Schema mirrors the testdata embeddings
    * table (vec_id int64, embedding array<float>, label int32). */
  private lazy val clusteredDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-fixture")
    val centers = {
      val r = new scala.util.Random(7)
      Array.fill(40, 64)(r.nextGaussian() * 0.8)
    }
    val rows = (0 until 870).map { i =>
      val c = (i * 37 + 11) % 40
      val noise = new scala.util.Random(1000 + i)
      val e = Seq.tabulate(64)(d => (centers(c)(d) + 1.0 * noise.nextGaussian()).toFloat)
      (i.toLong, e, c)
    }
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir.toString
  }

  /** q → top-10 neighbor set. */
  private def neighborSets(df: DataFrame): Map[Long, Set[Long]] =
    df.select("q", "neighbor").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  private def recallVs(ann: DataFrame, truth: DataFrame): Double = {
    val t = neighborSets(truth)
    val a = neighborSets(ann)
    val per = t.map { case (q, ts) => (a.getOrElse(q, Set.empty) & ts).size.toDouble / ts.size }
    per.sum / per.size
  }

  test("trained IVF cells beat seeded cells on a clustered corpus") {
    val truth = ops.SimilarityQueries.annBruteForce(spark, clusteredDir)
    val seeded = recallVs(ops.SimilarityQueries.annIvf(spark, clusteredDir), truth)
    val trained = recallVs(ops.SimilarityQueries.annIvfTrained(spark, clusteredDir), truth)
    assert(trained > seeded,
      s"trained recall@10 ($trained) must beat seeded ($seeded) on clustered data")
    // absolute bar calibrated to the √n geometry (29 cells, nprobe=4 →
    // ~14% of the corpus probed); the strict trained>seeded assert above
    // is the real training contract, this one guards gross regressions
    assert(trained >= 0.85, s"trained recall@10 on clustered data should be high, got $trained")
  }

  test("trained PQ codebook reconstructs with lower MSE than seeded") {
    def meanMse(df: DataFrame): Double =
      df.agg(avg("mse")).collect()(0).getDouble(0)
    val seeded = meanMse(ops.SimilarityQueries.embeddingPq(spark, sf))
    val trained = meanMse(ops.SimilarityQueries.embeddingPqTrained(spark, sf))
    assert(trained < seeded,
      s"Lloyd iterations must reduce reconstruction MSE: trained=$trained seeded=$seeded")
  }

  /** Same generator as [[clusteredDir]] at 0.4× the noise: clusters are
    * WELL-separated, so a node's true top-5 really is cluster-local —
    * the regime where a kNN graph is meaningful and where NN-Descent's
    * neighbor-of-neighbor exploration has a gradient to climb. (At the
    * 1.0-noise fixture the exact graph itself is nearly unpredictable
    * from any local view: blocked and nn-descent both cap near 0.17.) */
  private lazy val tightDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-tight")
    val centers = {
      val r = new scala.util.Random(7)
      Array.fill(40, 64)(r.nextGaussian() * 0.8)
    }
    val rows = (0 until 870).map { i =>
      val c = (i * 37 + 11) % 40
      val noise = new scala.util.Random(1000 + i)
      val e = Seq.tabulate(64)(d => (centers(c)(d) + 0.4 * noise.nextGaussian()).toFloat)
      (i.toLong, e, c)
    }
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir.toString
  }

  test("nn-descent knn graph beats the blocked twin on a clustered corpus") {
    // the regime the operator exists for: when embeddings cluster,
    // neighbor-of-neighbor exploration escapes the single-cell horizon
    // that caps knn_graph_blocked, at O(n·k²)/round instead of Σ|cell|²
    // (measured here: ann 0.998 at nndRounds=4, kInner=2k vs blocked
    // 0.44; the incremental new-edge expansion pays for the width)
    def edges(df: DataFrame): Set[(Long, Long)] =
      df.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = edges(ops.SimilarityQueries.knnGraph(spark, tightDir))
    val blocked = edges(ops.SimilarityQueries.knnGraphBlocked(spark, tightDir))
    val ann = edges(ops.SimilarityQueries.knnGraphAnn(spark, tightDir))
    val rBlocked = (blocked & exact).size.toDouble / exact.size
    val rAnn = (ann & exact).size.toDouble / exact.size
    assert(rAnn > rBlocked,
      s"nn-descent graph recall ($rAnn) must beat cell-blocked ($rBlocked)")
    assert(rAnn >= 0.9,
      s"nn-descent recall on clustered data should be ≥0.9, got $rAnn")
  }

  test("graph search recall ≥ the IVF row on a clustered corpus") {
    // the consumer the round-11 graph build was missing: greedy
    // best-first over the NN-Descent edges must reach the high-recall
    // regime the IVF family can't at nprobe=4 — same queries, same
    // exact truth, matched probe budget (√n entries ≈ nprobe·cell)
    val truth = ops.SimilarityQueries.annBruteForce(spark, clusteredDir)
    val ivf = recallVs(ops.SimilarityQueries.annIvf(spark, clusteredDir), truth)
    val graph = recallVs(
      ops.SimilarityQueries.annGraphSearch(spark, clusteredDir), truth)
    assert(graph >= ivf,
      s"graph-search recall ($graph) must reach the IVF row ($ivf)")
    assert(graph >= 0.9,
      s"graph-search recall on clustered data should be ≥0.9, got $graph")
  }

  test("hnsw descent: coarse-entry search holds the flat face's recall on clustered data") {
    // verdict #8 (r14) / promotion (r17): the flat formulation scores
    // |Q|×√n entries; the registered descent face enters at a nested
    // 8×-coarser layer and spends one extra frontier-bounded hop — the
    // recall must survive the thinner entry
    val truth = ops.SimilarityQueries.annBruteForce(spark, clusteredDir)
    val flat = recallVs(
      ops.SimilarityQueries.annGraphSearchFlat(spark, clusteredDir), truth)
    val hnsw = recallVs(
      ops.SimilarityQueries.annGraphSearch(spark, clusteredDir), truth)
    assert(hnsw >= flat,
      s"descent recall ($hnsw) must hold the flat face's ($flat)")
  }

  test("prebuilt graph-search twin equals the per-run rebuild row-for-row") {
    import spark.implicits._
    val rebuild = ops.SimilarityQueries.annGraphSearchFlat(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSet
    val prebuilt = ops.SimilarityQueries.annGraphSearchPrebuilt(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(prebuilt === rebuild,
      "steady-state graph search must return the rebuild query's results")
    // memoization: a second call reuses the same materialized edge set
    val again = ops.SimilarityQueries.annGraphSearchPrebuilt(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(again === rebuild)
  }

  test("registered descent face equals a per-call fresh-build descent row-for-row") {
    // the honesty pin for the promoted face's memoized edge set (r17):
    // searching the per-session prebuilt edges must return exactly what
    // a from-scratch build-and-search returns
    import spark.implicits._
    val fresh = ops.SimilarityQueries.annGraphSearchDescentRebuild(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSet
    val registered = ops.SimilarityQueries.annGraphSearch(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(registered === fresh,
      "promoted ann_graph_search must equal the fresh-build descent")
    // and the hnsw face is the same face
    val hnsw = ops.SimilarityQueries.queries("ann_graph_search_hnsw")(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(hnsw === registered)
  }

  test("incremental NN-Descent ≡ full expansion, row for row") {
    // the scaladoc's equivalence theorem, pinned on data: dropping
    // all-old two-hop paths (they were candidates last round and lost
    // to the retained incumbents; cosines are static) cannot change
    // any round's top-k — full rows (src, rank, dst, cosine) equal
    val inc = ops.SimilarityQueries.knnGraphAnn(spark, tightDir)
      .collect().toSet
    val full = ops.SimilarityQueries.knnGraphAnnFull(spark, tightDir)
      .collect().toSet
    assert(inc == full,
      s"incremental (${inc.size} rows) must equal full (${full.size} rows)")
  }

  test("training is deterministic: re-run is row-for-row identical") {
    val a = ops.SimilarityQueries.annIvfTrained(spark, sf).collect().toSeq
    val b = ops.SimilarityQueries.annIvfTrained(spark, sf).collect().toSeq
    assert(a == b, "trained IVF search must be bit-reproducible across runs")
    val p = ops.SimilarityQueries.embeddingPqTrained(spark, sf).collect().toSeq
    val q = ops.SimilarityQueries.embeddingPqTrained(spark, sf).collect().toSeq
    assert(p == q, "trained PQ codes must be bit-reproducible across runs")
  }
}
