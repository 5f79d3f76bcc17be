package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star surface;
  * BASELINE.json): brute-force cosine top-k as the correctness baseline
  * and an IVF (inverted-file) bucketed variant as the scale path.
  *
  * Scale design:
  *  - The query set is a BOUNDED BATCH ([[maxQueries]] queries max — the
  *    stride is only the deterministic derivation of which vec_ids are
  *    queries), so `broadcast(q)` ships ≤ a few MB to every executor at
  *    ANY corpus size; the corpus side streams map-side (no corpus
  *    shuffle). The only shuffle is the per-query top-k (tiny:
  *    |queries| × candidates rows reduced by the window).
  *  - IVF: a centroid table (one row per coarse cell, here the 10 label
  *    cells seeded by each cell's min-vec_id vector — deterministic, no
  *    float-accumulation ambiguity) is broadcast; each query probes its
  *    `nprobe`=2 nearest cells and only scans those cells' vectors — at
  *    100 TB the corpus is partitioned/bucketed by cell id, so a probe
  *    touches 2/10 of the data instead of all of it.
  *  - All float math: cast to double, left-fold dot product, round(4) —
  *    bit-reproducible in the DuckDB oracle.
  */
object SimilarityQueries {
  val topK = 10
  val nprobe = 4
  val queryStride = 50 // vec_id % stride == 0 → query-set derivation

  /** FIXED query-batch budget — the constant that makes every
    * `broadcast(q)` in this file a genuinely BOUNDED broadcast: the
    * query set is the first [[maxQueries]] stride multiples
    * (`vec_id % stride == 0 AND vec_id < stride·maxQueries`), never
    * "all stride multiples". A stride alone makes |Q| = n/stride —
    * corpus-PROPORTIONAL, so hint-broadcasting it is the growing-side
    * trap (the round-14 rankingMetricsOf/qualityRerank lesson); with
    * the cap, |Q| ≤ 4096 rows × (64 doubles + norm) ≈ 2.2 MB at any
    * corpus size — a real deployment's search batch is a bounded
    * request set for exactly this reason. Non-binding below
    * 4096·stride vec_ids (every test/bench sf, so oracles are
    * byte-identical to the uncapped rounds); binding above (pinned on
    * a synthetic range in PlanSpec). */
  val maxQueries: Int = 4096

  /** The shared query-set predicate — every ANN face AND every DuckDB
    * oracle derives queries through this one definition ([[querySqlPred]]
    * is its SQL twin), so the cap can never drift between engines. */
  private[graft] def queryPred(stride: Long = queryStride.toLong) =
    col("vec_id") % stride === 0 &&
      col("vec_id") < lit(math.min(stride, queryStride.toLong) * maxQueries)

  /** SQL twin of [[queryPred]] over a `vec_id` column reference.
    *
    * The id window is `min(stride, queryStride)·maxQueries` — SHARED by
    * every stride ≥ [[queryStride]], so a budget-thinned query set
    * (stride = k·queryStride) is a true SUBSET of the standard capped
    * set: above the binding scale the thinned faces keep ≤ maxQueries/k
    * queries instead of scoring up to maxQueries extra queries that a
    * downstream join silently drops (round-15 ADVICE). Strides BELOW
    * queryStride tighten the window proportionally, so |Q| ≤ maxQueries
    * always. */
  private[graft] def querySqlPred(c: String,
      stride: Long = queryStride.toLong): String =
    s"$c % $stride = 0 AND $c < ${math.min(stride, queryStride.toLong) * maxQueries}"

  import graft.functions.VectorFunctions.dotProduct

  private def vectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("norm", sqrt(dotProduct(col("e"), col("e"))))

  /** Codegen'd cosine (graft.functions.DotProduct) — identical fold order
    * to the DuckDB oracle's list_aggregate, bit-for-bit equal results. */
  private def cosine(ea: Column, eb: Column, na: Column, nb: Column): Column =
    round(dotProduct(ea, eb) / (na * nb), 4)

  /** Brute-force exact top-k neighbors for each query vector. */
  def annBruteForce(s: SparkSession, dir: String): DataFrame =
    bruteTopK(s, dir, queryStride.toLong)

  /** The brute top-k at an explicit query stride — [[annBruteForce]] at
    * the standard query batch; the budgeted ranking monitor thins it
    * 100× ([[recallBudgetStride]]) so the exact-truth side goes linear
    * in the corpus (fixed queries × corpus — the
    * [[annFilteredRecallBudget]] class). `broadcast(q)` is the bounded
    * class: [[queryPred]] caps |Q| at [[maxQueries]]. */
  private def bruteTopK(s: SparkSession, dir: String,
                        stride: Long): DataFrame = {
    val v = vectors(s, dir)
    val q = v.filter(queryPred(stride))
      .select(col("vec_id").as("q"), col("e").as("qe"), col("norm").as("qn"))
    val scored = broadcast(q).join(v, col("q") =!= col("vec_id"))
      .select(col("q"), col("vec_id").as("neighbor"),
        cosine(col("qe"), col("e"), col("qn"), col("norm")).as("cosine"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q", "rank", "neighbor", "cosine")
      .orderBy("q", "rank")
  }

  /** Deterministic coarse "centroids": seed vectors at a vec_id stride.
    * Seeds, not k-means means, because means are float-sum
    * order-dependent and thus not reproducible across engines; Voronoi
    * cells over seeds are still a *geometric* partition, which is what
    * gives IVF its recall (the `label` column is NOT geometric — measured
    * 12% same-label rate among true top-10 neighbors). */

  /** √n cell geometry (the FAISS convention): |cells| ≈ √n balances the
    * two costs that bound IVF at scale — cell assignment (n × |cells|
    * cosines) and query probing (|queries| × |cells|) — making both
    * n^1.5 total instead of the n²/stride a fixed divisor degrades to.
    * Derives from COUNT(*) alone, so the DuckDB oracle recomputes the
    * identical stride with a scalar subquery (IEEE sqrt/ceil are
    * correctly rounded in both engines — bit-identical). */
  def seedStrideOf(n: Long): Long =
    math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)

  private def seeds(s: SparkSession, dir: String): DataFrame = {
    val stride = seedStrideOf(Tables.embeddings(s, dir).count())
    vectors(s, dir).filter(col("vec_id") % stride === 1)
      .select(col("vec_id").as("cell"), col("e").as("ce"), col("norm").as("cn"))
  }

  /** IVF build path: assign every corpus vector to its nearest centroid
    * cell — the FAISS shape. The √n centroid table collapses into ONE
    * codebook row (cell-sorted struct array) broadcast onto the corpus
    * scan, and the codegen kernel [[graft.functions.IvfAssign]] picks
    * each vector's argmax cell (max 4dp cosine, min cell on ties —
    * bit-identical to the previous `(scos desc, cell)` window order;
    * `IvfUtil.round4` replicates Spark's Round) in a tight loop: n rows
    * in, n rows out, ZERO intermediate rows, zero shuffle. The previous
    * formulation joined the corpus against the centroid table and ran a
    * per-vector row_number window over the n×|cells| candidate stream —
    * an n^1.5-row sort+shuffle the round-9 100× probe measured as the
    * dominant term of `knn_graph_blocked` (419 s at 100×; identical
    * flops, the data movement was the cost). At 100 TB the assignment
    * is a pure map — it materializes once, partitioned/bucketed by
    * `cell`; OpsSpec pins kernel ≡ window-formulation equality on the
    * real corpus. */
  private def assignedTo(cents: DataFrame, v: DataFrame): DataFrame = {
    val cb = cents.agg(array_sort(collect_list(
      struct(col("cell"), col("ce"), col("cn")))).as("cellcb"))
    v.crossJoin(broadcast(cb)) // 1-row codebook
      .select(col("vec_id"), col("label"), col("e"), col("norm"),
        graft.functions.IvfFunctions
          .ivfAssign(col("e"), col("norm"), col("cellcb")).as("cell"))
      // Empty centroid table ⇒ the aggregated codebook is one row with an
      // empty array and ivf_assign yields NULL; dropping those rows keeps
      // the old join-based contract (zero assignments) instead of leaking
      // a spurious NULL cell group to groupBy(cell) consumers.
      .where(col("cell").isNotNull)
  }

  private def assigned(s: SparkSession, dir: String): DataFrame =
    assignedTo(seeds(s, dir), vectors(s, dir))

  /** IVF top-k: probe the nprobe nearest cells, rank only their vectors.
    * Probes nprobe/|cells| of the corpus; recall is data-dependent (this
    * synthetic corpus has weak cluster structure; see OpsSpec). */
  /** The nprobe nearest centroid cells per query — the IVF probe set,
    * shared by [[annIvf]], [[annIvfPq]] and [[annIvfTrained]]. */
  private def probedCellsOf(cents: DataFrame, v: DataFrame,
      qstride: Long = queryStride.toLong): DataFrame = {
    val q = v.filter(queryPred(qstride))
      .select(col("vec_id").as("q"), col("e").as("qe"), col("norm").as("qn"))
    val wc = Window.partitionBy(col("q"))
      .orderBy(col("ccos").desc, col("cell"))
    // bounded q broadcasts (≤ maxQueries rows); the √n centroid table
    // STREAMS — at 2e11 vectors √n is ~450k rows ≈ 230 MB, too big to
    // force onto every executor
    broadcast(q).join(cents)
      .select(col("q"), col("qe"), col("qn"), col("cell"),
        cosine(col("qe"), col("ce"), col("qn"), col("cn")).as("ccos"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= nprobe)
      .select(col("q"), col("qe"), col("qn"), col("cell"))
  }

  private def probedCells(s: SparkSession, dir: String): DataFrame =
    probedCellsOf(seeds(s, dir), vectors(s, dir))

  /** IVF search against an arbitrary centroid table: probe, score within
    * the probed cells at full precision, per-query top-k. */
  private def ivfSearch(cents: DataFrame, v: DataFrame,
      qstride: Long = queryStride.toLong): DataFrame = {
    val scored = probedCellsOf(cents, v, qstride)
      .join(assignedTo(cents, v), Seq("cell"))
      .filter(col("q") =!= col("vec_id"))
      .select(col("q"), col("vec_id").as("neighbor"),
        cosine(col("qe"), col("e"), col("qn"), col("norm")).as("cosine"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q", "rank", "neighbor", "cosine")
      .orderBy("q", "rank")
  }

  def annIvf(s: SparkSession, dir: String): DataFrame =
    ivfSearch(seeds(s, dir), vectors(s, dir))

  /** Replication factor of the CAP-BINDING fixture: id-shifted
    * exact-duplicate replicas expand the id space past
    * [[maxQueries]] at every test sf (500 vectors × 10 > 4096). */
  val capBindReplicas = 10

  /** REGISTERED + DuckDB-oracled CAP-BINDING fixture — the
    * [[maxQueries]] ceiling witnessed UNDER THE ORACLE, not only
    * plan-pinned on a synthetic range (round-15 verdict #7): the corpus
    * is expanded by [[capBindReplicas]] id-shifted replicas and queried
    * at stride 1, so the eligible stride multiples (= the whole
    * expanded id space) EXCEED the cap and queryPred genuinely
    * truncates at 4096 queries — the linear production regime every
    * ann face enters above 204.8k vectors. The oracle replays the
    * identical expansion, √(R·n) seed geometry, and capped query window
    * in SQL; a cap that silently widened or shifted would diverge row
    * one. */
  def annIvfCapped(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    val v = vectors(s, dir).crossJoin(
        s.range(capBindReplicas).select(col("id").as("__k")))
      .select((col("vec_id") + col("__k") * n).as("vec_id"), col("label"),
        col("e"), col("norm"))
    val stride = seedStrideOf(n * capBindReplicas)
    val cents = v.filter(col("vec_id") % stride === 1)
      .select(col("vec_id").as("cell"), col("e").as("ce"),
        col("norm").as("cn"))
    ivfSearch(cents, v, qstride = 1L)
  }

  /** Probe width for [[annFiltered]] — 2 × [[nprobe]]: a selective
    * filter thins every probed cell by its selectivity, so a filtered
    * search that wants the UNFILTERED face's candidate volume per query
    * must widen the probe by ≈ 1/selectivity (bounded here at 2× — the
    * standard over-probe rule of filtered vector stores). */
  val filteredNprobe: Int = 2 * nprobe

  /** FILTERED ANN — metadata-constrained vector search: each query
    * retrieves its top-k among corpus vectors sharing its `label` (the
    * tenant / language / modality predicate every production vector
    * store exposes). The decisive design choice is WHERE the filter
    * runs: post-top-k filtering returns < k eligible rows (wrong);
    * pre-filtering the corpus then rebuilding an index per predicate is
    * a reindex per query (absurd at scale). This face runs the filter
    * IN-CELL: probe [[filteredNprobe]] cells (over-probing compensates
    * the filter's thinning — see [[filteredNprobe]]), apply the label
    * predicate to the probed cells' rows BEFORE ranking, then take the
    * per-query top-k of eligible candidates only.
    *
    * Shape at 100 TB: identical to [[annIvf]] — broadcast query set ×
    * broadcast centroids for the probe, an equi-join on `cell` into the
    * (bucketed) assignment table with the predicate folded into the
    * join's residual filter (Spark pushes it below the ranking window),
    * one bounded top-k window per query. The filter costs a comparison
    * per candidate, never a second pass. */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val v = vectors(s, dir)
    val q = v.filter(queryPred())
      .select(col("vec_id").as("q"), col("label").as("qlabel"),
        col("e").as("qe"), col("norm").as("qn"))
    val cents = seeds(s, dir)
    val wc = Window.partitionBy(col("q"))
      .orderBy(col("ccos").desc, col("cell"))
    // bounded q broadcasts; the √n centroid table streams (probedCellsOf)
    val probed = broadcast(q).join(cents)
      .select(col("q"), col("qlabel"), col("qe"), col("qn"), col("cell"),
        cosine(col("qe"), col("ce"), col("qn"), col("cn")).as("ccos"))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= filteredNprobe)
      .select(col("q"), col("qlabel"), col("qe"), col("qn"), col("cell"))
    val scored = probed.join(assignedTo(cents, v), Seq("cell"))
      .filter(col("q") =!= col("vec_id") && col("label") === col("qlabel"))
      .select(col("q"), col("vec_id").as("neighbor"),
        cosine(col("qe"), col("e"), col("qn"), col("norm")).as("cosine"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q", "rank", "neighbor", "cosine")
      .orderBy("q", "rank")
  }

  /** Exact FILTERED top-k — the ground truth [[annFilteredRecall]]
    * grades [[annFiltered]] against: per query, brute-force cosine
    * top-k over ALL same-label vectors (no probing). The label equality
    * is an equi-key, so even the brute baseline is a broadcast HASH
    * join with a 1/|labels| fan-out, never a cartesian. */
  private def annFilteredBrute(s: SparkSession, dir: String): DataFrame = {
    val v = vectors(s, dir)
    val q = v.filter(queryPred())
      .select(col("vec_id").as("q"), col("label"),
        col("e").as("qe"), col("norm").as("qn"))
    // label is an equi-key: no hint — AQE broadcasts q while small and
    // falls back to a shuffle join if a caller ever widens the batch
    val scored = q.join(v, Seq("label"))
      .filter(col("q") =!= col("vec_id"))
      .select(col("q"), col("vec_id").as("neighbor"),
        cosine(col("qe"), col("e"), col("qn"), col("norm")).as("cosine"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("q", "rank", "neighbor", "cosine")
  }

  /** RECALL MONITOR for the filtered face — per-query recall@k of
    * [[annFiltered]] against the exact filtered ground truth: the
    * number that tells an operator whether [[filteredNprobe]]'s
    * over-probe actually compensates the filter's cell thinning on
    * THEIR label distribution (a selective filter empties probed
    * cells; recall collapses silently without this row). Same shared
    * [[recallOf]] tail as `ann_recall_report` — every ANN face in the
    * engine ships with its recall monitor. */
  def annFilteredRecall(s: SparkSession, dir: String): DataFrame =
    recallOf(annFilteredBrute(s, dir).select("q", "neighbor"),
      annFiltered(s, dir).select("q", "neighbor"))

  /** Query-stride multiplier for the BUDGETED recall monitor: the
    * registered face grades the standard query set (2% of vectors), so
    * its exact-truth side grows QUADRATICALLY with the corpus — the
    * honest pinned-brute monitor class (ann_recall_report's). A
    * production monitor fixes the QUERY BUDGET instead: recall is a
    * ratio, a 100×-thinner deterministic query sample estimates it,
    * and the truth side becomes linear in the corpus (fixed queries ×
    * same-label candidates). */
  val recallBudgetStride: Long = queryStride.toLong * 100

  /** BENCH-ONLY budgeted twin of [[annFilteredRecall]] — identical
    * rows for the queries it keeps (OpsSpec pins the subset equality);
    * Bench times the linear-cost production shape. */
  def annFilteredRecallBudget(s: SparkSession, dir: String): DataFrame =
    recallOf(
      annFilteredBrute(s, dir)
        .filter(col("q") % recallBudgetStride === 0)
        .select("q", "neighbor"),
      annFiltered(s, dir)
        .filter(col("q") % recallBudgetStride === 0)
        .select("q", "neighbor"))

  /** ANN QUALITY MONITOR — per-query recall@k of the IVF index against
    * the exact brute-force neighbors: the measurement every production
    * vector index ships with (recall is the IVF tuning target; a silent
    * recall regression after a reindex is the classic vector-search
    * incident). One row per query: k (actual exact-neighbor count),
    * n_overlap, recall = n_overlap/k.
    *
    * Shape: composes the two existing operators and joins their
    * (q, neighbor) sets — the join input is |queries|·k rows per side
    * (k-bounded, never corpus-sized), so the report costs its two
    * inputs plus a trivially small equi-join; run it on a SAMPLE of
    * queries at production scale exactly as [[annBruteForce]] already
    * strides them.
    *
    * This registered face REBUILDS the IVF index per run so the DuckDB
    * oracle can replay it — it is the offline tuning report. The thing
    * a deployment alarms on is the COMMITTED streaming-maintained index
    * going stale: that face is the bench-only
    * [[graft.streaming.AnnStream.annRecallReportPrebuilt]], which points
    * the identical [[recallOf]] tail at the committed index and is
    * spec-pinned equal to the rebuilt report while the index is fresh. */
  def annRecallReport(s: SparkSession, dir: String): DataFrame =
    recallOf(annBruteForce(s, dir).select("q", "neighbor"),
      annIvf(s, dir).select("q", "neighbor"))

  /** The recall@k combine over two (q, neighbor) sets — ONE tail shared
    * by the rebuilt report and the committed-index face, so the monitor
    * semantics can never diverge between them. */
  private[graft] def recallOf(exact: DataFrame,
      approx: DataFrame): DataFrame =
    exact.join(approx.withColumn("hit", lit(1)),
        Seq("q", "neighbor"), "left")
      .groupBy("q")
      .agg(count(lit(1)).as("k"), count(col("hit")).as("n_overlap"))
      .select(col("q"), col("k"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("k"), 6).as("recall"))
      .orderBy("q")

  /** NDCG position discounts 1/log2(rank+1) in micro units, materialized
    * ONCE as integer literals shared verbatim by the Spark plan and the
    * DuckDB oracle (the SQL strings interpolate these same values).
    * IEEE log2 is not required to be correctly rounded, so evaluating
    * the discount independently in each engine could differ in the last
    * ulp and flip a rounded micro — constants make the metric
    * bit-identical by construction, the all-BIGINT eval-family rule
    * (gateEval's) applied to ranking. */
  private[graft] val ndcgDiscountMicro: Seq[Long] =
    (1 to topK).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** Ideal-DCG prefix sums (micro): idcgPrefixMicro(m-1) = best possible
    * DCG when exactly m relevant documents exist — exact integer sums of
    * [[ndcgDiscountMicro]]. */
  private[graft] val idcgPrefixMicro: Seq[Long] =
    ndcgDiscountMicro.scanLeft(0L)(_ + _).tail

  /** RETRIEVAL QUALITY REPORT — MRR@k / NDCG@k / precision@k / hit count
    * of a retrieval stage graded against same-label relevance, per query:
    * the ranking-quality half of the eval family (recall@k says the index
    * FOUND the true neighbors; NDCG says the pipeline RANKED the relevant
    * ones first — a rerank regression is invisible to recall and is
    * exactly what this face alarms on).
    *
    * Relevance is the corpus' own `label` column (the ground truth the
    * filtered-ANN family already treats as the class structure): rel=1
    * iff the neighbor shares the query's label. All metrics are integer
    * micro-units end to end — DCG is an integer dot product of rel
    * against the shared literal discount table, IDCG an integer prefix
    * sum picked by m = min(n_rel, k), MRR an exact 1e6/rank — with ONE
    * double division (DCG/IDCG) rounded at the end, so the DuckDB oracle
    * reproduces every row bit-for-bit.
    *
    * Scale shape: the graded candidate set is |queries|·k rows —
    * bounded now that the query batch is capped at [[maxQueries]], but
    * the label lookups stay plain equi-joins with AQE free to broadcast
    * while small (a forced hint documented nothing and was the
    * growing-side-broadcast trap back when |Q| was stride-proportional).
    * Only the |labels|-row count table is hint-broadcast. The
    * corpus-wide work is the retrieval stage itself plus one
    * column-pruned label scan. */
  def retrievalEval(s: SparkSession, dir: String): DataFrame =
    rankingMetricsOf(s, dir, annBruteForce(s, dir))

  /** The SAME ranking report over the IVF index's candidates — measures
    * what the approximate index costs in ranking quality, not just recall
    * (the tuning pair a deployment reads side by side: retrieval_eval is
    * the ceiling, this face is the shipped index). */
  def retrievalEvalIvf(s: SparkSession, dir: String): DataFrame =
    rankingMetricsOf(s, dir, annIvf(s, dir))

  /** BENCH-ONLY budgeted twin of [[retrievalEval]]: the exact-truth
    * candidate stage graded on a 100×-thinner deterministic query
    * sample ([[recallBudgetStride]]), making the brute side LINEAR in
    * the corpus — the production monitor shape, exactly the
    * [[annFilteredRecallBudget]] split (OpsSpec pins row-identity with
    * the full report on the queries it keeps; Bench times this face,
    * the registered one documents its quadratic cost class in
    * BASELINE.md). The budget stride is a multiple of [[queryStride]],
    * so the kept queries are a subset of the full report's. */
  def retrievalEvalBudget(s: SparkSession, dir: String): DataFrame =
    rankingMetricsOf(s, dir, bruteTopK(s, dir, recallBudgetStride))

  /** The SAME ranking report over the END-TO-END hybrid pipeline's final
    * order ([[hybridSearchIvf]]: IVF recall + quality rerank, truncated
    * to [[rerankK]]) — the face that actually answers "did the RERANK
    * help or hurt?": a rerank-weight regression reorders candidates
    * without changing the recalled set, so it is invisible to every
    * recall monitor and to the candidate-stage NDCG; only grading the
    * pipeline's own final ranks catches it. Graded at k = [[rerankK]]
    * (the pipeline emits 5 results, so discounts/IDCG truncate there —
    * comparing it to the k=10 faces on NDCG is apples-to-apples only
    * per-k, which is why the k is in the report's denominator, not the
    * face name). */
  def retrievalEvalHybrid(s: SparkSession, dir: String): DataFrame =
    rankingMetricsOf(s, dir,
      hybridSearchIvf(s, dir)
        .select(col("q"), col("rerank").as("rank"), col("neighbor")),
      k = rerankK)

  /** Shared metric tail of the retrieval_eval family — one
    * implementation so the exact, approximate, and reranked reports can
    * never diverge in metric semantics (the recallOf precedent). `k` is
    * the graded depth: ranks are ≤ k ≤ [[topK]] (the discount/IDCG
    * literal tables cover ranks 1..topK; a shallower face like the
    * hybrid rerank's k = [[rerankK]] truncates both). */
  private def rankingMetricsOf(s: SparkSession, dir: String,
      ann: DataFrame, k: Int = topK): DataFrame = {
    require(k >= 1 && k <= topK, s"graded depth $k outside 1..$topK")
    val v = vectors(s, dir).select(col("vec_id"), col("label"))
    val ql = v.filter(queryPred())
      .select(col("vec_id").as("q"), col("label"))
    // per-label corpus sizes: |labels| rows — broadcast
    val lc = v.groupBy("label").agg(count(lit(1)).as("cnt"))
    val dArr = array(ndcgDiscountMicro.map(lit): _*)
    val iArr = array(idcgPrefixMicro.map(lit): _*)
    // neighbor/query label lookups: equi-joins, strategy left to AQE —
    // the candidate and query sets are corpus-proportional at the fixed
    // stride, so a forced broadcast would grow with the corpus
    val rels = v.select(col("vec_id").as("neighbor"),
        col("label").as("nlabel"))
      .join(ann.select("q", "rank", "neighbor"), Seq("neighbor"))
      .join(ql, Seq("q"))
      .withColumn("rel",
        when(col("nlabel") === col("label"), 1L).otherwise(0L))
    val agg = rels.groupBy("q", "label")
      .agg(sum(col("rel")).as("hits"),
        sum(col("rel") *
          element_at(dArr, col("rank").cast("int"))).as("dcg_micro"),
        min(when(col("rel") === 1L, col("rank"))).as("first_rank"))
    agg.join(broadcast(lc), Seq("label"))
      .withColumn("n_rel", col("cnt") - 1)
      .withColumn("m", least(col("n_rel"), lit(k.toLong)))
      .select(col("q"), col("label"), col("n_rel"), col("hits"),
        coalesce(round(lit(1e6) / col("first_rank")).cast("long"), lit(0L))
          .as("mrr_micro"),
        round(col("hits") * lit(1e6) / lit(k)).cast("long")
          .as("p_at_k_micro"),
        when(col("m") > 0,
          round(col("dcg_micro") * lit(1e6) /
            element_at(iArr, col("m").cast("int"))).cast("long"))
          .otherwise(lit(0L)).as("ndcg_micro"))
      .orderBy("q")
  }

  /** Per-label embedding-centroid drift over the streaming monitor's
    * committed state — see
    * [[graft.streaming.EmbedStream.embeddingDriftQuery]]. */
  def embeddingDrift(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EmbedStream.embeddingDriftQuery(s, dir)

  /** DETERMINISTIC k-means (Lloyd) training for the IVF coarse cells —
    * the upgrade from "shape-correct" seeded cells to recall-useful
    * trained ones, kept exactly oracle-checkable:
    *
    *  - iteration 0 = the seed cells (so `ann_ivf` stays the pinned
    *    seeded baseline and this is strictly its trained twin);
    *  - each of [[kmeansIters]] iterations assigns every vector to its
    *    nearest cell by the same round(cosine, 4) argmax the search path
    *    uses, then recomputes each cell's centroid as the TWO-LEVEL
    *    ordered fold mean of [[embeddingCentroids]] (partial sums per
    *    vec_id-bucket, then a bucket-ordered outer fold — aggregation
    *    buffers stay bounded by [[centroidBucket]] at any corpus size),
    *    rounded per-coordinate to 1e-6 so both engines carry identical
    *    doubles into the next iteration;
    *  - a cell that loses all members keeps its previous centroid
    *    (left-join + coalesce), mirroring the SQL replay.
    *
    * Each iteration is one broadcast join + one per-vector argmax window
    * + two bounded-buffer aggregations; the iteration count is FIXED (no
    * data-dependent convergence test), so the oracle replays the same
    * fold tree and the result is bit-reproducible. At 100 TB the training
    * pass runs over a bounded sample of the corpus (the centroid table is
    * tiny either way); here it trains on the full small corpus so the
    * DuckDB oracle can replay it exactly. */
  val kmeansIters = 2

  /** Ordered two-level fold mean per `cell` over (vec_id, e) rows, each
    * coordinate rounded to micro-units — the [[embeddingCentroids]]
    * determinism pattern keyed by cell. */
  private def orderedCellMean(assign: DataFrame, dim: Int): DataFrame = {
    val zeros = typedLit(Seq.fill(dim)(0.0))
    val partials = assign
      .withColumn("bkt", expr(s"vec_id div $centroidBucket"))
      .groupBy("cell", "bkt")
      .agg(count(lit(1)).as("bn"),
        array_sort(collect_list(struct(col("vec_id"), col("e")))).as("vs"))
      .select(col("cell"), col("bkt"), col("bn"),
        aggregate(col("vs"), zeros, (acc, x) => zip_with(acc, x("e"), _ + _))
          .as("psum"))
    partials.groupBy("cell")
      .agg(sum(col("bn")).as("n"),
        array_sort(collect_list(struct(col("bkt"), col("psum")))).as("ps"))
      .select(col("cell"),
        transform(
          aggregate(col("ps"), zeros, (acc, p) => zip_with(acc, p("psum"), _ + _)),
          x => round(x / col("n") * lit(1000000.0)) / lit(1000000.0)).as("me"))
  }

  /** [[kmeansIters]] Lloyd iterations from the seed cells. */
  private def trainedCells(s: SparkSession, dir: String): DataFrame = {
    val v = vectors(s, dir)
    var c = seeds(s, dir)
    for (_ <- 1 to kmeansIters) {
      val assign = assignedTo(c, v).select("vec_id", "e", "cell")
      c = c.join(orderedCellMean(assign, embeddingDim), Seq("cell"), "left")
        .select(col("cell"), coalesce(col("me"), col("ce")).as("ce"))
        .withColumn("cn", sqrt(dotProduct(col("ce"), col("ce"))))
        // cells are a tiny table consumed TWICE per round (assignment
        // broadcast + the empty-cell fallback join): without the
        // checkpoint the prior round's whole assign+mean subtree
        // re-executes once per consumer and compounds per iteration
        .localCheckpoint()
    }
    c
  }

  /** IVF search over k-means-trained cells — same probe/score path as
    * [[annIvf]], better geometric partition (see AnnTrainingSpec for the
    * measured recall win on a clustered corpus). */
  def annIvfTrained(s: SparkSession, dir: String): DataFrame =
    ivfSearch(trainedCells(s, dir), vectors(s, dir))

  /** Per-label centroids (the k-means E-step / class-prototype builder).
    * Float mean across rows is normally accumulation-order-dependent; here
    * determinism comes from a TWO-LEVEL ordered fold whose structure is
    * pinned identically in the DuckDB oracle:
    *
    *   1. partial sums per (label, vec_id-bucket of [[centroidBucket]]):
    *      each bucket's vectors fold left in strict vec_id order — an
    *      aggregation buffer holds at most [[centroidBucket]] vectors,
    *      NEVER a whole label's worth (the scale fix: a label's group size
    *      grows with the corpus, its bucket size does not);
    *   2. the bucket partials fold left in strict bucket order.
    *
    * Both engines evaluate the same fold tree, so the centroid is
    * bit-reproducible and exactly oracle-checkable. Elements are emitted
    * as integer micro-units (×1e6), dodging double→string formatting
    * divergence across engines. Plan-asserted in PlanSpec: the first
    * (heavy) collect is keyed by (label, bucket), not label alone. */
  val embeddingDim = 64
  val centroidBucket = 256

  /** Power-iteration rounds for [[embeddingPca]] — fixed (not
    * converged-to-tolerance) so the DuckDB oracle can unroll them. */
  val pcaRounds = 4

  /** Top principal component of the embedding cloud by POWER ITERATION —
    * the first step of every embedding post-processing recipe (Mu &
    * Viswanath, ICLR'18 "all-but-the-top": centering + removing the top
    * PCs improves similarity tasks; also the PCA half of PCA+IVF
    * indexing). Returns one row: n_vectors, the unit component in micro
    * units (j-ordered, comma-joined — the [[embeddingCentroids]]
    * rendering), the Rayleigh eigenvalue estimate λ = ‖Σᵢ x′ᵢ·sᵢ‖/n, and
    * the explained-variance share λ/totalVar.
    *
    * Never materializes the d×d covariance: each round is one corpus
    * scan computing sᵢ = ⟨xᵢ, v⟩ − ⟨μ, v⟩ (the codegen `dot_product`
    * kernel — centering is ALGEBRAIC, the raw vectors are never
    * rewritten) and the d partial sums Σᵢ round(sᵢ·xᵢⱼ, 9) +
    * Σᵢ round(sᵢ, 9) via one posexplode → d-key hash aggregate
    * (map-side combined to ≤d rows per partition; w's centering term
    * −μⱼ·Σsᵢ applies after). Driver-side work is [[pcaRounds]]+2
    * collects of ≤[[embeddingDim]] rows — bounded LOOP CONTROL (the
    * diversity_sample pattern), never data.
    *
    * Cross-engine determinism: component sums are NANO-unit BIGINTs
    * (`round(term·10⁹) `, the library's integer micro-unit pattern one
    * scale up — order-independent, and 3× faster than the
    * DECIMAL(38,9) form it replaced: decimal aggregation is interpreted
    * above 18 digits, measured 3.55 s vs 1.26 s for the same x10 sum;
    * safe to ~9·10⁹ unit-magnitude terms per sum, documented bound);
    * sᵢ itself is round(fold, 9) where both engines fold the SAME 64
    * products left-to-right (the codegen kernel here, an ordered-list
    * `list_aggregate` in the oracle) — the norm/λ/v arithmetic is then
    * scalar IEEE mirrored in both engines with 12dp re-rounding of v
    * between rounds. */
  def embeddingPca(s: SparkSession, dir: String): DataFrame = {
    // sxx (total second moment) rides embBase's mean aggregate since r17
    // — the standalone corpus scan it used to cost is gone (guide §2.4);
    // per-j integer partial sums summed on the driver are exactly the
    // former global integer sum (associative BIGINT nanos)
    val (x, mean, n, sxx) = embBase(s, dir)
    val totVar = sxx / n - decSum12(mean.map(m => m * m))
    val (v, lambda) = powerIterate(x, mean, n, Nil)
    import s.implicits._
    Seq((n,
      v.map(c => rHalfUp(c * 1e6, 0).toLong).mkString(","),
      rHalfUp(lambda, 9), rHalfUp(lambda / totVar, 6)))
      .toDF("n_vectors", "v_micro", "lambda", "explained")
  }

  // driver-side mirror of SQL round(x, dp) (HALF_UP away from zero) and
  // of the round-then-DECIMAL-sum idiom — the same pairing the
  // corpus_divergence spec proved engine-identical (shared PCA/ABTT)
  private def rHalfUp(x: Double, dp: Int): Double =
    BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def decSum12(xs: Iterable[Double]): Double =
    xs.map(x => BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP))
      .foldLeft(BigDecimal(0))(_ + _).toDouble
  private def nano(c: Column): Column = round(c * lit(1e9), 0).cast("long")

  /** Rows per partition for the power-iteration state (round-17, guide
    * §2.2 right-sizing): the r16 driver probe measured embedding_abtt /
    * embedding_pca FASTER at 8 cores than 32 — the iterated state was
    * spread to the full shuffle width (32 partitions of ~60 rows at
    * sf0.1), so per-round task-launch overhead exceeded per-task work.
    * Partition count now derives from the DATA (ceil(n/rows-per-part),
    * clamped to the session shuffle width), so small corpora iterate in
    * few tasks and large ones still fan out to the cluster. */
  private val iterRowsPerPartition = 4096L

  /** Shared PCA/ABTT substrate: the vec_id-spread checkpointed
    * (vec_id, e) table plus the exact component means and the total
    * second moment Σ round(xⱼ²·1e9) (nanos — one number, rides the mean
    * aggregate for free; only the pca face consumes it). One row-shuffle
    * up front, reused by every round: the fixture is one small parquet
    * file = ONE scan partition, which serialized the whole iteration
    * (measured 1.6× CPU at x10); localCheckpoint materializes the
    * spread ONCE so every downstream job never re-reads or re-shuffles.
    * The spread width is data-derived (see [[iterRowsPerPartition]]).
    * The mean collect is d bounded rows — loop control, never data. */
  private def embBase(s: SparkSession,
      dir: String): (DataFrame, Array[Double], Long, Double) = {
    // metadata-only count (parquet footers) sizes the iteration spread
    val nRows = Tables.embeddings(s, dir).count()
    val parts = math.max(1L, math.min(
      s.sessionState.conf.numShufflePartitions.toLong,
      (nRows + iterRowsPerPartition - 1) / iterRowsPerPartition)).toInt
    val x = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .repartition(parts, col("vec_id"))
      .localCheckpoint()
    val meanRows = x.select(posexplode(col("e")).as(Seq("j", "xj")))
      .groupBy("j")
      .agg(sum(nano(col("xj"))).as("sx"), count(lit(1)).as("n"),
        sum(nano(col("xj") * col("xj"))).as("sxx"))
      .collect().sortBy(_.getInt(0))
    val n = meanRows.head.getLong(2)
    val mean = meanRows.map(row => row.getLong(1) / 1e9 / n)
    val sxx = meanRows.map(_.getLong(3)).sum / 1e9
    (x, mean, n, sxx)
  }

  /** Plain left-to-right inner product of two d-vectors — mirrored by
    * the oracle's `list_aggregate(list_transform(...), 'sum')` fold. */
  private def fold(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var k = 0
    while (k < a.length) { acc += a(k) * b(k); k += 1 }
    acc
  }

  /** round(⟨e,v⟩ − μᵀv − Σ_p sp·⟨vp,v⟩, 9) — the (deflated) projection
    * score column; empty priors ⇒ the plain centered PCA score. The
    * centering and deflation are ALGEBRAIC (scalar driver-side folds +
    * the per-row prior-score columns): the raw vectors are never
    * rewritten, so deflation adds no corpus pass. */
  private def scoreCol(v: Array[Double], mean: Array[Double],
      priors: Seq[(Array[Double], Column)]): Column = {
    var c = call_function("dot_product", col("e"), typedLit(v.toSeq)) -
      lit(fold(mean, v))
    priors.foreach { case (vp, sp) => c = c - sp * lit(fold(vp, v)) }
    round(c, 9)
  }

  /** [[pcaRounds]] power-iteration rounds against the checkpointed x,
    * Hotelling-DEFLATED against `priors` (already-extracted components:
    * vector + per-row score column): each round is ONE corpus scan —
    * the deflated score sc and the d+1+|priors| nano-unit sums
    * (Σ sc·xⱼ per j, Σ sc, Σ sc·sp_p) ride the same posexplode hash
    * aggregate, map-side combined to ≤d rows per partition. Returns
    * (v, λ). Driver work is pcaRounds collects of ≤d rows — bounded
    * LOOP CONTROL (the diversity_sample pattern), never data. */
  private def powerIterate(x: DataFrame, mean: Array[Double], n: Long,
      priors: Seq[(Array[Double], Column)]): (Array[Double], Double) = {
    var v = Array.fill(embeddingDim)(
      rHalfUp(1.0 / math.sqrt(embeddingDim), 12))
    var lambda = 0.0
    for (_ <- 1 to pcaRounds) {
      val spCols = priors.zipWithIndex.map {
        case ((_, sp), i) => sp.as(s"sp$i")
      }
      val aggs = Seq(sum(nano(col("sc") * col("xj"))).as("swx"),
        sum(nano(col("sc"))).as("ss")) ++
        priors.indices.map(i =>
          sum(nano(col("sc") * col(s"sp$i"))).as(s"ssp$i"))
      val wRows = x.select(Seq(scoreCol(v, mean, priors).as("sc")) ++
          spCols ++ Seq(posexplode(col("e")).as(Seq("j", "xj"))): _*)
        .groupBy("j").agg(aggs.head, aggs.tail: _*)
        .collect().sortBy(_.getInt(0))
      val w = wRows.map { row =>
        var wj = row.getLong(1) / 1e9 -
          mean(row.getInt(0)) * (row.getLong(2) / 1e9)
        priors.zipWithIndex.foreach { case ((vp, _), i) =>
          wj = wj - vp(row.getInt(0)) * (row.getLong(3 + i) / 1e9)
        }
        wj
      }
      val norm = math.sqrt(decSum12(w.map(wj => wj * wj)))
      lambda = norm / n
      v = w.map(wj => rHalfUp(wj / norm, 12))
    }
    (v, lambda)
  }

  /** Components [[embeddingAbtt]] removes (the paper's m). */
  val abttComponents = 2

  /** ALL-BUT-THE-TOP corpus transform (Mu & Viswanath, ICLR'18) — the
    * embedding-hygiene step [[embeddingPca]] only DIAGNOSES: remove the
    * mean and the top [[abttComponents]] principal components from every
    * embedding and emit the transformed corpus,
    * x̃ = x − μ − Σ_c s_c·v_c with s_c the round-9 projection of the
    * (sequentially deflated) residual onto v_c. Components come from
    * [[powerIterate]] with Hotelling deflation — algebraically the same
    * centering trick as the PCA face, so no deflated corpus and no
    * covariance ever materialize; extraction costs m·[[pcaRounds]]
    * single-scan rounds (expect ≈ m× the pca cost — BASELINE.md).
    *
    * The projection WRITER is the hot path (it rewrites the whole
    * embeddings table at 100 TB): one codegen'd kernel call per row
    * ([[graft.functions.AbttUtil]] — basis ships as a plan literal, the
    * m+1 coefficients are per-row codegen'd dot products), no per-element
    * lambda, no shuffle beyond [[embBase]]'s one up-front spread. Output
    * is the micro-unit component string (the library's deterministic
    * vector-emission convention; arrays would break the oracle
    * comparator). The DuckDB oracle unrolls all m·pcaRounds rounds as
    * CTEs exactly like the pca oracle and replays the projection. */
  def embeddingAbtt(s: SparkSession, dir: String): DataFrame = {
    val (x, mean, n, _) = embBase(s, dir)
    var priors = Seq.empty[(Array[Double], Column)]
    for (_ <- 1 to abttComponents) {
      val (v, _) = powerIterate(x, mean, n, priors)
      priors = priors :+ (v -> scoreCol(v, mean, priors))
    }
    val basis = (mean ++ priors.flatMap(_._1)).toSeq
    val coeffs = array(lit(1.0) +: priors.map(_._2): _*)
    x.select(col("vec_id"),
      call_function("abtt_micro", col("e"), coeffs,
        typedLit(basis), lit(embeddingDim)).as("e_micro"))
      .orderBy("vec_id")
  }

  def embeddingCentroids(s: SparkSession, dir: String): DataFrame = {
    val zeros = typedLit(Seq.fill(embeddingDim)(0.0))
    // level 1: bit-exact partial sum per (label, vec_id-bucket)
    val partials = Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("bkt", expr(s"vec_id div $centroidBucket"))
      .groupBy("label", "bkt")
      .agg(count(lit(1)).as("bn"),
        array_sort(collect_list(struct(col("vec_id"), col("e")))).as("vs"))
      .select(col("label"), col("bkt"), col("bn"),
        aggregate(col("vs"), zeros, (acc, v) => zip_with(acc, v("e"), _ + _))
          .as("psum"))
    // level 2: ordered fold over the (small) bucket partials
    val grouped = partials.groupBy("label")
      .agg(sum(col("bn")).as("n_vectors"),
        array_sort(collect_list(struct(col("bkt"), col("psum")))).as("ps"))
    val summed = aggregate(col("ps"), zeros,
      (acc, p) => zip_with(acc, p("psum"), _ + _))
    val centroidMicro = transform(summed,
      x => round(x / col("n_vectors") * lit(1000000.0)).cast("long"))
    grouped.select(col("label"), col("n_vectors"),
      concat_ws(",", transform(centroidMicro, _.cast("string")))
        .as("centroid_micro"))
      .orderBy("label")
  }

  /** Hybrid retrieval: vector recall + cheap-feature rerank — the
    * composite shape of a real retrieval pipeline. ANN cosine candidates
    * (top-[[topK]]) join the per-doc quality score (broadcast — it's a
    * per-document scalar table) and rerank by 0.8·cosine +
    * 0.2·quality/100, keeping the top [[rerankK]]. Candidate generation
    * dominates the cost; the rerank touches only |queries|·k rows.
    *
    * [[hybridSearch]] reranks over the exact brute-force recall (the
    * pinned correctness baseline); [[hybridSearchIvf]] is the 100 TB
    * composite — the SAME rerank over the [[annIvf]] recall stage, so the
    * whole retrieval pipeline survives scale (recall touches nprobe/|cells|
    * of the corpus, not all of it). */
  val rerankK = 5

  private def qualityRerank(recall: DataFrame, s: SparkSession,
                            dir: String): DataFrame = {
    // per-document scalar table = corpus-PROPORTIONAL: no broadcast
    // hint (the same growing-side trap as the ranking-eval lookups) —
    // AQE broadcasts it while small, shuffle-joins at scale
    val quality = TextQueries.qualityScore(s, dir)
      .select(col("doc_id").as("neighbor"), col("quality"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("score").desc, col("neighbor"))
    recall
      .join(quality, Seq("neighbor"))
      .withColumn("score",
        round(lit(0.8) * col("cosine") + lit(0.2) * col("quality") / lit(100.0), 6))
      .withColumn("rerank", row_number().over(w))
      .filter(col("rerank") <= rerankK)
      .select("q", "rerank", "neighbor", "cosine", "quality", "score")
      .orderBy("q", "rerank")
  }

  def hybridSearch(s: SparkSession, dir: String): DataFrame =
    qualityRerank(annBruteForce(s, dir), s, dir)

  def hybridSearchIvf(s: SparkSession, dir: String): DataFrame =
    qualityRerank(annIvf(s, dir), s, dir)

  /** Symmetric int8 embedding quantization — the compression step before
    * shipping vectors to a trainer or an ANN index (4× smaller, recall
    * loss bounded by max_err). One codegen'd kernel call per row
    * ([[graft.functions.QuantizeI8]]), NO shuffle: at 100 TB this runs at
    * parquet scan speed, which is the entire cost. Doubles surface as
    * micro-units and the code vector as a csv string (oracle-comparable;
    * the string build is a plain array<int>→array<string> cast, no
    * interpreted lambda). */
  def embeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantizeFunctions.quantizeI8
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        quantizeI8(col("embedding").cast("array<double>")).as("qz"))
      .select(col("vec_id"),
        round(col("qz.scale") * 1e6).cast("long").as("scale_micro"),
        concat_ws(",", col("qz.q").cast("array<string>")).as("q_csv"),
        round(col("qz.max_err") * 1e6).cast("long").as("max_err_micro"))
      .orderBy("vec_id")
  }

  /** PRODUCT QUANTIZATION codes — the compression behind IVF-PQ indexes:
    * split each 64-dim vector into [[pqSubspaces]] subvectors, assign each
    * to its nearest of [[pqCodebookSize]] per-subspace centroids, emit the
    * code word (m small ints ≈ 4 bytes/vector vs 256) plus the
    * reconstruction MSE that tracks recall loss. Centroids are the
    * subvectors of the [[pqCodebookSize]] smallest vec_ids — deterministic
    * "training" (same policy as ann_ivf's seed cells) so the assignment is
    * exactly oracle-checkable; real k-means would only change the codebook
    * build, not the assignment shape.
    *
    * Scale shape: the codebook is ONE broadcast row (m×k subvectors);
    * assignment is a narrow per-row projection — no shuffle, the corpus
    * streams at scan speed. The encode / LUT / ADC inner loops are the
    * codegen kernels `pq_code` / `pq_lut` / `pq_adc`
    * ([[graft.functions.PqUtil]]): one static primitive loop per row
    * inside whole-stage codegen, with the exact left-fold float order of
    * the previous HOF formulation and of the DuckDB oracle (ties → the
    * smallest cid, matching the oracle's ORDER BY d, cid). */
  val pqSubspaces = 4
  val pqCodebookSize = 16
  private val pqSubDim = 16 // 64 dims / pqSubspaces (oracle SQL replay)

  import graft.functions.PqFunctions.{pqAdc, pqCode, pqLut}

  private def pqVectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  /** One-row codebook `cb: array<array<double>>`, cid-ordered = the
    * [[pqCodebookSize]] smallest vec_ids' vectors
    * (TakeOrderedAndProject + one tiny agg). */
  private def pqCodebookDf(v: DataFrame): DataFrame =
    v.orderBy("vec_id").limit(pqCodebookSize)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("e"))))
        .as("cbs"))
      .select(transform(col("cbs"), _("e")).as("cb"))

  def embeddingPq(s: SparkSession, dir: String): DataFrame =
    pqVectors(s, dir).crossJoin(broadcast(pqCodebookDf(pqVectors(s, dir))))
      .withColumn("pc", pqCode(col("e"), col("cb"), lit(pqSubspaces)))
      .select(col("vec_id"),
        concat_ws(",", col("pc.codes").cast("array<string>")).as("codes_csv"),
        round(col("pc.dsum") / lit(64.0), 6).as("mse"))
      .orderBy("vec_id")

  /** DETERMINISTIC per-subspace k-means for the PQ codebook — proper
    * Lloyd (squared-L2 assignment + mean update), so the reconstruction
    * MSE is non-increasing per iteration; AnnTrainingSpec asserts the
    * trained codebook beats the seeded one on exactly that metric.
    * Same determinism contract as [[trainedCells]]: iteration 0 = the
    * seeded codebook of [[pqCodebookDf]], fixed [[pqKmeansIters]]
    * iteration count, assignment ties to the smallest cid (matching the
    * oracle's ORDER BY d, cid), two-level ordered-fold means rounded to
    * 1e-6, empty clusters keep their previous centroid. The assignment
    * distance is the codegen `sq_dist` kernel; training data volume is
    * m rows per vector (the exploded subvectors). */
  val pqKmeansIters = 2

  /** Trained one-row codebook `cb: array<array<double>>`: per-(j, cid)
    * Lloyd over subvectors, then cid-ordered concatenation across j back
    * to full-dim entries (so [[graft.functions.PqUtil.pqCode]] applies
    * unchanged). */
  private def pqTrainedCodebookDf(v: DataFrame): DataFrame = {
    import graft.functions.PqFunctions.sqDist
    val sv = v.select(col("vec_id"),
        explode(sequence(lit(0), lit(pqSubspaces - 1))).as("j"), col("e"))
      .select(col("vec_id"), col("j"),
        slice(col("e"), col("j") * lit(pqSubDim) + lit(1), lit(pqSubDim)).as("sub"))
    val w0 = Window.orderBy("vec_id")
    var cb = v.orderBy("vec_id").limit(pqCodebookSize)
      .select((row_number().over(w0) - 1).as("cid"), col("e"))
      .select(col("cid"),
        explode(sequence(lit(0), lit(pqSubspaces - 1))).as("j"), col("e"))
      .select(col("j"), col("cid"),
        slice(col("e"), col("j") * lit(pqSubDim) + lit(1), lit(pqSubDim)).as("ce"))
    val zeros = typedLit(Seq.fill(pqSubDim)(0.0))
    for (_ <- 1 to pqKmeansIters) {
      val wa = Window.partitionBy(col("vec_id"), col("j"))
        .orderBy(col("d").asc, col("cid"))
      val assign = sv.join(broadcast(cb), Seq("j"))
        .select(col("vec_id"), col("j"), col("sub"), col("cid"),
          sqDist(col("sub"), col("ce")).as("d"))
        .withColumn("r", row_number().over(wa)).filter(col("r") === 1)
        .select("vec_id", "j", "sub", "cid")
      val partials = assign
        .withColumn("bkt", expr(s"vec_id div $centroidBucket"))
        .groupBy("j", "cid", "bkt")
        .agg(count(lit(1)).as("bn"),
          array_sort(collect_list(struct(col("vec_id"), col("sub")))).as("vs"))
        .select(col("j"), col("cid"), col("bkt"), col("bn"),
          aggregate(col("vs"), zeros, (acc, x) => zip_with(acc, x("sub"), _ + _))
            .as("psum"))
      val mean = partials.groupBy("j", "cid")
        .agg(sum(col("bn")).as("n"),
          array_sort(collect_list(struct(col("bkt"), col("psum")))).as("ps"))
        .select(col("j"), col("cid"),
          transform(
            aggregate(col("ps"), zeros, (acc, p) => zip_with(acc, p("psum"), _ + _)),
            x => round(x / col("n") * lit(1000000.0)) / lit(1000000.0)).as("me"))
      cb = cb.join(mean, Seq("j", "cid"), "left")
        .select(col("j"), col("cid"), coalesce(col("me"), col("ce")).as("ce"))
        // m×k rows consumed TWICE per round (assignment broadcast +
        // the empty-cluster fallback join) — same per-round lineage
        // truncation as trainedCells
        .localCheckpoint()
    }
    cb.groupBy("cid")
      .agg(array_sort(collect_list(struct(col("j"), col("ce")))).as("subs"))
      .select(col("cid"), flatten(transform(col("subs"), _("ce"))).as("e"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("cid"), col("e")))).as("cbs"))
      .select(transform(col("cbs"), _("e")).as("cb"))
  }

  /** PQ codes against the TRAINED codebook — same output contract as
    * [[embeddingPq]] (its seeded twin); the mean mse column is the
    * training win, asserted in AnnTrainingSpec. */
  def embeddingPqTrained(s: SparkSession, dir: String): DataFrame = {
    val v = pqVectors(s, dir)
    v.crossJoin(broadcast(pqTrainedCodebookDf(v)))
      .withColumn("pc", pqCode(col("e"), col("cb"), lit(pqSubspaces)))
      .select(col("vec_id"),
        concat_ws(",", col("pc.codes").cast("array<string>")).as("codes_csv"),
        round(col("pc.dsum") / lit(64.0), 6).as("mse"))
      .orderBy("vec_id")
  }

  /** PQ ASYMMETRIC-DISTANCE top-k search (the query half of IVF-PQ): the
    * corpus is represented ONLY by its PQ codes (4 small ints/vector); each
    * full-precision query precomputes its lookup table of
    * subspace×centroid distances, and a candidate's approximate distance
    * is m table lookups + adds — never a full-dimension dot product
    * against the corpus.
    *
    * Scale shape: the corpus side streams (vec_id, codes) at scan speed —
    * 4 bytes of payload per vector instead of 256; queries ride in as ONE
    * broadcast (each carrying its LUT); the only shuffle is the per-query
    * top-k window on candidates, capped map-side by WindowGroupLimit. At
    * 100 TB this composes with ann_ivf's cell pruning (probe cells first,
    * ADC within them) — both halves now exist. Exactness contract: same
    * deterministic codebook as [[embeddingPq]], left-fold float order, so
    * ranks are exactly oracle-checkable (approximation error vs true
    * cosine is the PQ tradeoff, not nondeterminism).
    *
    * Honest recall note: on THIS testdata the measured top-10 overlap vs
    * exact search is ~0.12 — the synthetic embeddings are near-isotropic
    * random vectors (the information-theoretic worst case for 4×16 PQ),
    * and the codebook is seeded, not trained. Real embedding corpora are
    * strongly clustered and use k-means codebooks; what this operator
    * pins is the ADC computation and its scale shape, which don't change
    * when the codebook improves. */
  def annPqAdc(s: SparkSession, dir: String): DataFrame = {
    val v = pqVectors(s, dir)
    val cb = broadcast(pqCodebookDf(v))
    val coded = v.crossJoin(cb)
      .select(col("vec_id").as("neighbor"),
        pqCode(col("e"), col("cb"), lit(pqSubspaces))("codes").as("codes"))
    val qlut = v.filter(queryPred()).crossJoin(cb)
      .select(col("vec_id").as("q"),
        pqLut(col("e"), col("cb"), lit(pqSubspaces)).as("lut"))
    // qlut is |Q|-proportional but |Q| ≤ maxQueries (queryPred), so the
    // LUT broadcast is the bounded class: ≤4096 rows × m·ks doubles
    val scored = coded.join(broadcast(qlut), col("q") =!= col("neighbor"))
      .withColumn("ad", pqAdc(col("lut"), col("codes"), lit(pqCodebookSize)))
    val w = Window.partitionBy(col("q")).orderBy(col("ad").asc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q"), col("rank"), col("neighbor"),
        round(col("ad"), 6).as("adist"))
      .orderBy("q", "rank")
  }

  /** IVF-PQ — the composed billion-scale ANN shape: the IVF probe prunes
    * the corpus to nprobe cells, and WITHIN the probed cells candidates
    * are scored by PQ asymmetric distance (codes only, LUT lookups) —
    * cell pruning bounds the data touched, PQ bounds the bytes per
    * candidate. This is the index layout every large vector system
    * (FAISS IVFPQ and its descendants) ships; both halves are the
    * already-oracle-checked [[annIvf]] probe and [[annPqAdc]] scoring.
    * At 100 TB the coded corpus is partitioned by cell so a probe opens
    * nprobe/|cells| of the files and reads 4 bytes/vector. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val v = pqVectors(s, dir)
    val cb = broadcast(pqCodebookDf(v))
    // build side: cell assignment + PQ codes, one scan-side pass each
    val coded = assigned(s, dir).select(col("vec_id"), col("cell"), col("e"))
      .crossJoin(cb)
      .select(col("vec_id").as("neighbor"), col("cell"),
        pqCode(col("e"), col("cb"), lit(pqSubspaces))("codes").as("codes"))
    val qlut = v.filter(queryPred()).crossJoin(cb)
      .select(col("vec_id").as("q"),
        pqLut(col("e"), col("cb"), lit(pqSubspaces)).as("lut"))
    val probes = probedCells(s, dir).select("q", "cell")
      .join(qlut, Seq("q"))
    // cell is an equi-key: no hint — probes is ≤ |Q|·nprobe rows, AQE
    // broadcasts it while small with a shuffle fallback at scale
    val scored = coded.join(probes, Seq("cell"))
      .filter(col("q") =!= col("neighbor"))
      .withColumn("ad", pqAdc(col("lut"), col("codes"), lit(pqCodebookSize)))
    val w = Window.partitionBy(col("q")).orderBy(col("ad").asc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q"), col("rank"), col("neighbor"),
        round(col("ad"), 6).as("adist"))
      .orderBy("q", "rank")
  }

  /** k-NN GRAPH construction — each vector's [[knnK]] nearest neighbors
    * by cosine: the substrate for graph-based dedup clustering, diversity
    * sampling, and HNSW-style index builds. This is the pinned BRUTE
    * baseline (exact, O(n²) — the [[graft.ops.DedupQueries
    * .dedupEmbedding]] contract at top-k grain); the scale path reuses
    * this file's LSH/IVF candidate generation with the identical
    * rank-and-cap tail. Per-node top-k is a WindowGroupLimit on
    * (cosine desc, dst) — the rounded cosine plus the dst tie-break make
    * the selected EDGE SET deterministic in both engines. */
  val knnK = 5

  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dotProduct
    val v = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("norm", sqrt(dotProduct(col("e"), col("e"))))
    val a = v.select(col("vec_id").as("src"), col("e").as("ea"),
      col("norm").as("na"))
    val b = v.select(col("vec_id").as("dst"), col("e").as("eb"),
      col("norm").as("nb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    a.crossJoin(b).filter(col("src") =!= col("dst"))
      .withColumn("cosine",
        round(dotProduct(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= knnK)
      .select("src", "rank", "dst", "cosine")
      .orderBy("src", "rank")
  }

  /** Cell-blocked approximate kNN graph — the SCALE twin of [[knnGraph]]'s
    * exact all-pairs baseline (the same brute/blocked pairing as
    * ann_brute_force / ann_ivf and dedup_embedding / dedup_embedding_lsh).
    * Every vector is assigned to its IVF Voronoi cell once (broadcast
    * seeds, one map-side argmax pass — the [[annIvf]] build path at the
    * same √n geometry, [[seedStrideOf]]), and candidate edges exist only
    * WITHIN a cell, so TOTAL work is n^1.5: n·√n for the assignment
    * argmax and Σ|cell|² ≈ n·√n for the scoring. An earlier fixed-29
    * cell size made the scoring side linear but silently left the
    * assignment argmax at n·(n/29) — quadratic; the round-9 100× probe
    * surfaced it (21.8× at 10×), the same forgotten-assignment-term bug
    * the round-8 IVF geometry fix closed. At 100 TB the assigned table
    * is partitioned by `cell`, making the self-join co-partitioned with
    * no extra shuffle. Graph recall vs the exact graph is bounded by the
    * cell partition (measured in OpsSpec); sources whose cell has < k
    * other members legitimately emit fewer than k edges. */
  def knnGraphBlocked(s: SparkSession, dir: String): DataFrame = {
    val a = assigned(s, dir)
    val l = a.select(col("cell"), col("vec_id").as("src"),
      col("e").as("ea"), col("norm").as("na"))
    val r = a.select(col("cell"), col("vec_id").as("dst"),
      col("e").as("eb"), col("norm").as("nb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    l.join(r, Seq("cell")).filter(col("src") =!= col("dst"))
      .withColumn("cosine", cosine(col("ea"), col("eb"), col("na"), col("nb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= knnK)
      .select("src", "rank", "dst", "cosine")
      .sortWithinPartitions("src", "rank")
  }

  /** NN-Descent refinement rounds for [[knnGraphAnn]]. Fixed (not
    * convergence-tested) so the DuckDB oracle can unroll each round as a
    * materialized CTE — the dedup_kcore fixed-round pattern. Measured on
    * the clustered fixture (AnnTrainingSpec) at the round-11 internal
    * width [[nndKInner]] = 2k: recall 0.11 → 0.27 → 0.62 → 0.98 →
    * 0.998 over rounds 0-4, vs 0.44 for the blocked twin — CONVERGED
    * (rounds 5-9 all 0.998). The round-10 width-k run plateaued at 0.88
    * no matter how many rounds (0.80 @ r4, 0.877 @ r6, 0.884 @ r9) —
    * the plateau was frontier starvation, not round count, so the
    * round-11 budget bought width instead of depth (full series in
    * BASELINE.md). */
  val nndRounds = 4

  /** NN-Descent approximate kNN graph (Dong, Moses & Li, WWW'11) — the
    * NEAR-LINEAR scale twin of [[knnGraph]] (exact, pinned O(n²)) and
    * [[knnGraphBlocked]] (n^1.5 by design: Σ|cell|² in-cell scoring,
    * measured 127× at 100× data). Round-10 closes that last measured
    * super-linear scale path:
    *
    *  - INIT is the UNION of two degree-[[knnK]] ring graphs, built by
    *    EQUI-joins on (group, position) — n·k rows each, never a
    *    |group|² product: (a) a ring inside each IVF cell (the linear
    *    `ivf_assign` kernel; cell-mates are geometrically close, so the
    *    start graph beats random), and (b) a ring inside md5-hash
    *    buckets — pseudo-random groups that span cells, making the init
    *    graph one connected component. The second ring is LOAD-BEARING:
    *    NN-Descent only ever explores inside connected components of
    *    the evolving graph, and with the cell ring alone the components
    *    are the cells, so recall converges to exactly the blocked
    *    twin's ceiling (measured: plateau at 0.44 = blocked's 0.44 on
    *    the clustered fixture; with the hash ring it reaches 0.80).
    *  - ROUNDS ([[nndRounds]]×): symmetrize the graph (B∪R in the
    *    paper's terms), join neighbors-of-neighbors (bounded candidates
    *    per node), union the incumbent edges, dedup, re-score, keep the
    *    per-src top-k by (cosine desc, dst) — a WindowGroupLimit, k ≪
    *    the 1000 rewrite threshold.
    *  - INCREMENTAL (Dong et al. §2.3, the "new"-flag refinement —
    *    where NN-Descent's near-linear practical cost comes from): a
    *    two-hop path whose BOTH edges already existed last round was
    *    already a candidate last round and lost to the very edges that
    *    are now the incumbents; cosines are static, so it would lose
    *    again. Rounds ≥ 2 therefore only expand paths with ≥ 1 edge
    *    ADDED last round (`new` = g_r anti-join g_{r−1}): candidates =
    *    symmetric-closure(sym_new ⋈ sym_all) ∪ incumbents — one join,
    *    since (sym_all ⋈ sym_new) is that join's transpose. This
    *    is provably OUTPUT-IDENTICAL to full expansion (induction on
    *    rounds: every pair dropped was in the previous round's pool,
    *    and per-src top-k only ever compares against the incumbents,
    *    which are retained — AnnTrainingSpec pins inc ≡ full edge-list
    *    equality on the clustered fixture) while the per-round join
    *    shrinks with the count of still-changing edges — the savings
    *    that pay for the [[nndKInner]] = 2k internal width (recall
    *    0.80 → 0.998) inside the old full-expansion wall-clock.
    *
    * TOTAL work is O(n·k²) per round — linear in n for fixed k — vs the
    * twins' n²/n^1.5; at 100 TB every stage is an equi-join/groupBy on
    * vec_id-derived keys (no broadcast of anything n-sized, no global
    * window). Each round's graph is localCheckpoint'd because the next
    * round references it three times (two sym legs + incumbent union) —
    * without it lineage recompute is 3^rounds, the plan-side version of
    * the CTE-inlining blowup the oracle avoids with AS MATERIALIZED.
    * Determinism: every candidate set is an exact pair set, cosines
    * round to 4dp, ties break on dst — DuckDB unrolls the identical
    * incremental rounds and hash-matches the full edge list. */
  def knnGraphAnn(s: SparkSession, dir: String): DataFrame =
    knnGraphAnnImpl(s, dir, incremental = true)

  /** Full-expansion (non-incremental) NN-Descent — test-only twin used
    * by AnnTrainingSpec to pin the incremental ≡ full equivalence the
    * [[knnGraphAnn]] scaladoc proves. Not registered anywhere. */
  private[graft] def knnGraphAnnFull(s: SparkSession, dir: String): DataFrame =
    knnGraphAnnImpl(s, dir, incremental = false)

  /** Internal search width during the descent rounds: each round keeps
    * the top-[[nndKInner]] per src and only the final output truncates
    * to [[knnK]]. At k=5 the greedy neighbor-of-neighbor walk starves —
    * convergence plateaus at recall 0.88 regardless of rounds
    * (measured: 0.877 @ r6, 0.884 @ r9) because a 5-edge frontier can't
    * hold enough cross-cluster probes; doubling the INTERNAL width
    * (Dong et al. report recall rising steeply with K) lifts the
    * plateau past 0.95 while the output contract stays top-5. Cost is
    * O(n·kInner²)/round, paid mostly in round 1 — the incremental
    * new-edge expansion shrinks later rounds. */
  val nndKInner = 2 * knnK

  /** Truncated-round variant (test/probe-only): the recall-trajectory
    * measurements in BASELINE.md run r = 0 … [[nndRounds]]. */
  private[graft] def knnGraphAnnRounds(s: SparkSession, dir: String,
                                       rounds: Int,
                                       kIn: Int = nndKInner): DataFrame =
    knnGraphAnnImpl(s, dir, incremental = true, rounds, kIn)

  /** The two degree-[[knnK]] init rings of the NN-Descent build (cell
    * ring + md5-hash ring) — extracted so [[annGraphSearch]] can reuse
    * the hash ring's pseudo-random LONG-RANGE edges as its NSW long
    * links (the same connectivity role they play for the build). */
  private[ops] def nndRings(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Long
    val a = assigned(s, dir)
    val stride = seedStrideOf(Tables.embeddings(s, dir).count())
    def ringOf(groups: DataFrame): DataFrame = { // groups: (grp, vec_id)
      val wp = Window.partitionBy(col("grp")).orderBy(col("vec_id"))
      val mem = groups.withColumn("p", row_number().over(wp))
        .localCheckpoint() // referenced by both ring legs
      mem.select(col("grp"), col("vec_id").as("src"), col("p"))
        .withColumn("j", explode(sequence(lit(1), lit(knnK))))
        .select(col("grp"), col("src"), (col("p") + col("j")).as("p"))
        .join(mem.withColumnRenamed("vec_id", "dst"), Seq("grp", "p"))
        .select("src", "dst")
    }
    val cellRing = ringOf(a.select(col("cell").as("grp"), col("vec_id")))
    val hashRing = ringOf(a.select(
      pmod(md5Long(concat(lit("nnd:"), col("vec_id").cast("string"))),
        lit(stride)).as("grp"), col("vec_id")))
    cellRing.union(hashRing)
  }

  private def knnGraphAnnImpl(s: SparkSession, dir: String,
                              incremental: Boolean,
                              rounds: Int = nndRounds,
                              kInner: Int = nndKInner): DataFrame = {
    val v = vectors(s, dir).select("vec_id", "e", "norm")
    val init = nndRings(s, dir)
    val initSym = init
      .union(init.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    nndRefine(v, initSym, incremental, rounds, kInner)
      .filter(col("rank") <= knnK)
      .select("src", "rank", "dst", "cosine")
      .sortWithinPartitions("src", "rank")
  }

  /** The NN-Descent round loop of [[knnGraphAnn]], extracted so
    * [[graft.streaming.GraphStream.compact]] can run the same refinement
    * over the streamed index (init = the live graph instead of the
    * rings). `v` = (vec_id, e, norm); `initSym` must already be the
    * symmetrized (src, dst) init pair set. Returns the final per-src
    * top-`kInner` ranking (src, dst, cosine, rank) — callers truncate to
    * their output k. Pure extraction: [[knnGraphAnnImpl]] is
    * byte-for-byte the old plan (the oracle + AnnTrainingSpec pin it). */
  private[graft] def nndRefine(v: DataFrame, initSym: DataFrame,
                               incremental: Boolean,
                               rounds: Int, kInner: Int): DataFrame = {
    def score(pairs: DataFrame): DataFrame = pairs
      .join(v.select(col("vec_id").as("src"), col("e").as("ea"),
        col("norm").as("na")), Seq("src"))
      .join(v.select(col("vec_id").as("dst"), col("e").as("eb"),
        col("norm").as("nb")), Seq("dst"))
      .select(col("src"), col("dst"),
        cosine(col("ea"), col("eb"), col("na"), col("nb")).as("cosine"))
    def topk(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= kInner)
    }
    val g0 = topk(score(initSym)).localCheckpoint()
    var prev = g0
    // round-0 edges are ALL new — round 1 is a full expansion either way
    var newE = g0.select("src", "dst")
    (1 to rounds).foreach { r =>
      val symAll = prev.select(col("src").as("node"), col("dst").as("nbr"))
        .union(prev.select(col("dst").as("node"), col("src").as("nbr")))
      val non =
        if (!incremental || r == 1) {
          // full expansion (also round 1, where new ≡ all)
          val s1 = symAll.select(col("node").as("csrc"), col("nbr").as("mid"))
          val s2 = symAll.select(col("node").as("mid"), col("nbr").as("cdst"))
          s1.join(s2, Seq("mid"))
        } else {
          // only paths through ≥1 last-round-added edge — the dropped
          // all-old paths provably cannot enter the top-k (see scaladoc).
          // ONE join covers both legs: sym relations are symmetric, so
          // the "old-then-new" leg (symAll ⋈ symNew) is exactly the
          // TRANSPOSE of the "new-then-old" leg (symNew ⋈ symAll) — a
          // path a→b→c with {b,c} new is c→b→a with {c,b} new read
          // backwards. The symmetric closure is emitted by an in-place
          // explode (no second shuffle join, no duplicated join
          // subtree); the naive two-join union nearly doubled per-round
          // join mass and measured SLOWER than full expansion
          // (BASELINE.md round-11 table).
          val symNew = newE.select(col("src").as("node"), col("dst").as("nbr"))
            .union(newE.select(col("dst").as("node"), col("src").as("nbr")))
          val aN = symNew.select(col("node").as("csrc"), col("nbr").as("mid"))
          val bA = symAll.select(col("node").as("mid"), col("nbr").as("cdst"))
          aN.join(bA, Seq("mid"))
            .select(explode(array(
              struct(col("csrc"), col("cdst")),
              struct(col("cdst").as("csrc"), col("csrc").as("cdst"))))
              .as("p"))
            .select(col("p.csrc").as("csrc"), col("p.cdst").as("cdst"))
        }
      val cand = non
        .select(col("csrc").as("src"), col("cdst").as("dst"))
        .filter(col("src") =!= col("dst"))
        .union(prev.select("src", "dst"))
        .distinct()
      val g = topk(score(cand)).localCheckpoint()
      if (incremental && r < rounds)
        // the next round's sym_new reads this twice → materialize (≤n·k rows)
        newE = g.select("src", "dst")
          .join(prev.select("src", "dst"), Seq("src", "dst"), "left_anti")
          .localCheckpoint()
      prev = g
    }
    prev
  }

  /** Fixed greedy-search rounds / beam width for [[annGraphSearch]].
    * Fixed (not convergence-tested) so the DuckDB oracle unrolls each
    * hop as a materialized CTE — the nndRounds pattern. Beam = 2k, the
    * same width lesson as [[nndKInner]] (a k-wide frontier starves). */
  val searchRounds = 3
  val searchBeam = 2 * knnK

  /** GRAPH ANN SEARCH — greedy best-first over [[knnGraphAnn]]'s edge
    * list (the HNSW-layer-0 / NSW search regime: Malkov & Yashunin,
    * TPAMI'20): the round-11 graph build finally gets its consumer.
    * From a hash-seeded ~√n entry set, each of [[searchRounds]] hops
    * expands the per-query top-[[searchBeam]] frontier through the
    * SYMMETRIZED graph, scores the neighbors, and folds them into the
    * visited set; the answer is the visited top-[[topK]]. This is the
    * high-recall regime the IVF family can't reach at low nprobe — the
    * graph hops FOLLOW the geometry instead of probing fixed cells.
    *
    * Shape at 100 TB: after the build, every hop is bounded by the
    * QUERY load, not the corpus — one per-q WindowGroupLimit over the
    * visited set (≤ entries + r·beam·2k rows per q), one equi-join
    * frontier⋈edges on the src key (co-partitioned with an edge-list
    * layout bucketed by src), one equi-join to the vector table on the
    * node key for scoring, and the broadcast query spine. Nothing
    * corpus-sized is broadcast; nothing re-scores the corpus. The only
    * all-pairs term is the entry scoring (|Q|·√n — the IVF probe cost).
    * Every state is an exact pair set with 4dp cosines and node
    * tie-breaks, so DuckDB unrolls the identical hops (fixed rounds,
    * dedup via max — re-scoring is idempotent).
    *
    * ROUND-17 PROMOTION (round-16 verdict item 3, carried from r15): the
    * registered face now IS the HNSW-style descent — entry at the
    * [[hnswEntryMult]]×-coarser nested layer, one extra greedy round —
    * over the per-session prebuilt edge set, i.e. exactly
    * [[annGraphSearchHnsw]] (which stays registered for bench/oracle
    * continuity). The flat-entry per-run-rebuild formulation survives as
    * [[annGraphSearchFlat]] (the spec seam pinning that the memoized
    * edge set ≡ a freshly built one, and the recall baseline); the full
    * NN-Descent build cost itself is still paid and timed per run by the
    * registered `knn_graph_ann`. Oracle updated in lockstep
    * (graphSearchOracleSql(hnswEntryMult, searchRounds + 1) — the same
    * SQL the hnsw face has been green against since r16). */
  def annGraphSearch(s: SparkSession, dir: String): DataFrame =
    searchOverGraph(s, dir,
      prebuiltGraphEdges.getOrElseUpdate((s, dir), searchedEdges(s, dir)),
      entryStrideMult = hnswEntryMult, rounds = searchRounds + 1)

  /** The pre-r17 flat face — √n entry ring, [[searchRounds]] hops, edge
    * set rebuilt per call. Spec seam: AnnTrainingSpec pins the prebuilt
    * twins row-for-row against this rebuild and uses it as the recall
    * baseline the descent must hold. */
  private[graft] def annGraphSearchFlat(s: SparkSession, dir: String): DataFrame =
    searchOverGraph(s, dir, searchedEdges(s, dir))

  /** The descent with a per-call FRESH edge-set build — the honesty pin
    * for [[annGraphSearch]]'s memoized edges (AnnTrainingSpec asserts
    * row-for-row equality with the registered face). */
  private[graft] def annGraphSearchDescentRebuild(s: SparkSession,
      dir: String): DataFrame =
    searchOverGraph(s, dir, searchedEdges(s, dir),
      entryStrideMult = hnswEntryMult, rounds = searchRounds + 1)

  /** The searched edge set of [[annGraphSearch]] = the kNN graph ∪ the
    * build's own init rings, symmetrized: the pruned top-k graph on
    * well-separated clusters keeps almost no inter-cluster edges, so
    * greedy search strands in whichever clusters hold an entry point
    * (measured: recall 0.51 without the rings). The md5-hash ring adds
    * k pseudo-random LONG-RANGE edges per node — the NSW long-link
    * ingredient (and the same edges whose absence capped the BUILD at
    * the blocked twin's ceiling, see [[knnGraphAnn]]); the cell ring
    * mostly duplicates kNN edges and rides along for free through the
    * dedup. Materialized once — every hop references it. */
  private def searchedEdges(s: SparkSession, dir: String): DataFrame = {
    val g = knnGraphAnn(s, dir).select("src", "dst").union(nndRings(s, dir))
    g.union(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
  }

  // keyed by (session, dir): a localCheckpoint'd DataFrame dies with its
  // owning session, so a cache entry from a stopped session must never be
  // served to a new one (round-12 advice). getOrElseUpdate may still build
  // twice under a concurrent FIRST call — acceptable for a bench-only
  // face; the loser's checkpoint is dropped with the reference.
  private val prebuiltGraphEdges = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  /** BENCH-ONLY steady-state twin of [[annGraphSearch]] (the
    * [[graft.streaming.AnnStream.annIvfPqPrebuilt]] pattern): the
    * registered query honestly pays the FULL NN-Descent build per run
    * to stay oracle-checkable; a deployment searches a maintained graph
    * index, so this face builds the searched edge set ONCE per sf dir
    * (Bench's warmup pass pays it) and the timed passes report the
    * steady-state entry-scoring + hop cost alone. AnnTrainingSpec pins
    * row-for-row equality with the rebuild query. */
  def annGraphSearchPrebuilt(s: SparkSession, dir: String): DataFrame =
    searchOverGraph(s, dir,
      prebuiltGraphEdges.getOrElseUpdate((s, dir), searchedEdges(s, dir)))

  /** Coarse-entry factor for the descent face: the entry layer shrinks
    * to √n/[[hnswEntryMult]] nodes (a NESTED subsample — md5 % (m·stride)
    * hits ⊂ md5 % stride hits, the HNSW layer property) and ONE extra
    * greedy round walks back down. */
  val hnswEntryMult = 8

  /** REGISTERED + DuckDB-oracled HNSW-style DESCENT twin of
    * [[annGraphSearchPrebuilt]] — PROMOTED to a first-class search face
    * (round-15 verdict #4; the flat entry ring was the last documented
    * scale term on the search path):
    * the flat face scores every query against the full √n entry ring —
    * at 2e11 nodes that is ~450k cosines PER QUERY, the dominant
    * steady-state term once the index is prebuilt (round-14 verdict #8).
    * This face enters at a [[hnswEntryMult]]×-coarser nested layer
    * (√n/8 entries) and spends one extra hop descending — trading the
    * corpus-growth-proportional entry term for one more
    * frontier-bounded round (≤ beam·degree rows per query, independent
    * of n). Same greedy machinery, same edge set, same visited-set
    * fold; AnnTrainingSpec pins recall ≥ the flat face on the clustered
    * fixture, and BASELINE.md records where the crossover sits (at
    * bench scale the √n term is small, so the win is the SHAPE — entry
    * cost O(√n/m + rounds·beam·2k) per query instead of O(√n)). */
  def annGraphSearchHnsw(s: SparkSession, dir: String): DataFrame =
    annGraphSearch(s, dir) // r17: the registered face IS the descent

  private[graft] def searchOverGraph(s: SparkSession, dir: String,
      edges: DataFrame, entryStrideMult: Int = 1,
      rounds: Int = searchRounds): DataFrame = {
    import graft.functions.TextFunctions.md5Long
    val v = vectors(s, dir).select("vec_id", "e", "norm").localCheckpoint()
    val stride = entryStrideMult *
      seedStrideOf(Tables.embeddings(s, dir).count())
    val entries = v.filter(
        pmod(md5Long(concat(lit("gs:"), col("vec_id").cast("string"))),
          lit(stride)) === 0)
      .select(col("vec_id").as("node"), col("e").as("ne"),
        col("norm").as("nn"))
    val q = v.filter(queryPred())
      .select(col("vec_id").as("q"), col("e").as("qe"), col("norm").as("qn"))
      .localCheckpoint() // broadcast every hop
    val nodeV = v.select(col("vec_id").as("node"), col("e").as("ne"),
      col("norm").as("nn"))
    // entry scoring produces |Q| × √n rows; the BROADCAST side is the
    // bounded query batch (≤ maxQueries rows — queryPred's cap) and the
    // √n entry table STREAMS, so nothing corpus-proportional is shipped
    var state = broadcast(q).crossJoin(entries)
      .select(col("q"), col("node"),
        cosine(col("qe"), col("ne"), col("qn"), col("nn")).as("cosine"))
      .localCheckpoint()
    val byScore = Window.partitionBy(col("q"))
      .orderBy(col("cosine").desc, col("node"))
    (1 to rounds).foreach { _ =>
      val frontier = state.withColumn("rk", row_number().over(byScore))
        .filter(col("rk") <= searchBeam).select("q", "node")
      val nbrs = frontier.join(edges, frontier("node") === edges("src"))
        .select(col("q"), col("dst").as("node")).distinct()
      // q is an equi-key here: no hint needed — AQE broadcasts the
      // bounded query batch on its own
      val scored = nbrs.join(nodeV, Seq("node"))
        .join(q, Seq("q"))
        .select(col("q"), col("node"),
          cosine(col("qe"), col("ne"), col("qn"), col("nn")).as("cosine"))
      // visited-set fold: (q, node) dedup via max — cosines are
      // deterministic per pair, so re-scoring is idempotent
      state = state.union(scored)
        .groupBy("q", "node").agg(max(col("cosine")).as("cosine"))
        .localCheckpoint() // next hop reads it twice (frontier + fold)
    }
    state.filter(col("q") =!= col("node"))
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= topK)
      .select(col("q"), col("rank"), col("node").as("neighbor"),
        col("cosine"))
      .orderBy("q", "rank")
  }

  /** Number of centers [[diversitySample]] selects. */
  val diversityK = 16

  /** DIVERSITY / CORESET sampling — greedy k-center (farthest-point
    * traversal; the coreset selector of Sener & Savarese, ICLR'18, and
    * the standard data-pruning/active-learning baseline): start from the
    * smallest vec_id, then [[diversityK]]−1 times select the vector
    * FARTHEST (max cosine distance, ties to smallest vec_id) from the
    * already-selected set. The classic incremental form: one running
    * `min_dist_to_set` column, each round one map (`least` with the
    * distance to the newly picked center) + one TakeOrderedAndProject
    * top-1 — NO n×k distance matrix, no per-round shuffle beyond the
    * top-1 reduction. The k top-1 rows collected to the driver are loop
    * CONTROL (k bounded rows total — the dedup-CC/k-core driver-loop
    * precedent), never data.
    *
    * Greedy k-center is inherently sequential (k dependent rounds);
    * at 100 TB that is k scans of the corpus, the textbook cost — each
    * scan map-only against a broadcast ≤k-row center set. The 2-approx
    * guarantee (Gonzalez '85) is what buys the scan count: no one-pass
    * operator gives bounded coverage radius. Distances use the shared
    * 4dp-rounded cosine, so selection order (argmax, vec_id ties) is
    * bit-deterministic and the DuckDB oracle unrolls the identical k
    * rounds as materialized CTEs. Output: selection rank, vec_id, and
    * the max-min coverage radius at selection time (non-increasing in
    * rank — the k-center invariant, pinned in AnalyticsSpec along with
    * Scala-brute-force equality of the whole selection). */
  def diversitySample(s: SparkSession, dir: String): DataFrame =
    greedyKCenter(s,
      vectors(s, dir).select("vec_id", "e", "norm").localCheckpoint(),
      diversityK)

  /** Exact Gonzalez greedy k-center over `pts(vec_id, e, norm)` — the
    * ONE driver loop both diversity twins run ([[diversitySample]] on
    * the corpus, [[diversitySampleBlocked]] phase 2 on the per-cell
    * union), so the semantics can never diverge between them. The k
    * top-1 rows collected to the driver are loop CONTROL (k bounded
    * rows total), never data.
    *
    * Picked centers are REMOVED from the pool each round (not just
    * driven to d=0): in a degenerate corpus where every remaining 4dp
    * min-dist rounds to 0 before k picks, the (d desc, vec_id) argmax
    * could otherwise re-select an existing center — the brute-force
    * spec (and k-center semantics) remove picked points from the
    * candidate pool, so the query must too. The filter is a 1-row
    * predicate per round (k total), map-only. */
  /** Checkpoint cadence for the k-center rounds (round-17, verdict item
    * 7 / guide §2.6, §5): each greedy round is now ONE Spark action —
    * the (d desc, vec_id) top-1 TakeOrdered collect (exchange-free,
    * per-partition early-stop) over a LAZY min-dist map chain (filter +
    * `least`, no shuffles) — instead of the former collect-PLUS-eager-
    * checkpoint pair per round. The chain re-roots on a checkpoint every
    * N rounds, so re-execution per round is bounded by N−1
    * cached-partition map passes. N = 4 (a job launch costs orders of
    * magnitude more than a map pass over the cached state here); 1
    * suits a cluster where re-reading the cached corpus N× outweighs N
    * job launches. (A max_by global aggregate was measured WORSE than
    * TakeOrdered here: its final agg needs an Exchange, which AQE runs
    * as an extra stage-job per round — probe_r17 job counts.) */
  private val kcenterCheckpointEvery = 4

  private def greedyKCenter(s: SparkSession, pts: DataFrame,
      k: Int): DataFrame = {
    import s.implicits._
    val first = pts.orderBy("vec_id").limit(1).collect()(0)
    def distTo(ce: Seq[Double], cn: Double) =
      lit(1.0) - cosine(col("e"), array(ce.map(lit): _*), col("norm"), lit(cn))
    var d = pts.filter(col("vec_id") =!= first.getLong(0))
      .withColumn("d", distTo(first.getSeq[Double](1), first.getDouble(2)))
      .localCheckpoint()
    val picks = scala.collection.mutable.ArrayBuffer(
      (1L, first.getLong(0), 0.0))
    var sinceCkpt = 0
    (2 to k).foreach { r =>
      val c = d.orderBy(col("d").desc, col("vec_id")).limit(1).collect()(0)
      picks += ((r.toLong, c.getLong(0), c.getDouble(3)))
      d = d.filter(col("vec_id") =!= c.getLong(0))
        .withColumn("d",
          least(col("d"), distTo(c.getSeq[Double](1), c.getDouble(2))))
      sinceCkpt += 1
      if (sinceCkpt >= kcenterCheckpointEvery && r < k) {
        d = d.localCheckpoint()
        sinceCkpt = 0
      }
    }
    picks.toSeq.toDF("rank", "vec_id", "dist")
      .select(col("rank"), col("vec_id"), round(col("dist"), 4).as("dist"))
      .orderBy("rank")
  }

  /** COMPOSABLE-CORESET diversity sampling — the SCALE twin of
    * [[diversitySample]] (pinned exact greedy k-center, k sequential
    * corpus scans each synchronized through a driver top-1): run greedy
    * k-center INSIDE every IVF cell in parallel (phase 1), then exact
    * greedy over the ≤ [[diversityK]]·√n-row union of per-cell picks
    * (phase 2) — the composable-coreset scheme of Indyk, Mahabadi,
    * Mahdian & Mirrokni (PODS'14) with Gonzalez greedy as the per-block
    * selector.
    *
    * Phase 1 is [[diversityK]] declarative rounds with NO driver
    * round-trip: each round one per-cell argmax (the next center of
    * EVERY cell at once — √n picks per scan instead of the flat twin's
    * single global pick) and one cell-keyed broadcast join to update
    * the running min-dist. The argmax is a `max_by` HASH AGGREGATION,
    * not a window: a per-cell window top-1 re-shuffles and SORTS the
    * whole embedding-carrying corpus every round (the first-cut form —
    * measured 3.3× slower than the flat twin at every scale, BASELINE.md
    * round-11 table), while max_by's map-side partial aggregation ships
    * one candidate struct per (partition, cell) — ≤ 32·√n rows — per
    * round regardless of n. The √n-row center set broadcasts back onto
    * `d`, so each round is one corpus-width map + one √n-sized exchange.
    * Phase 2 runs the flat twin's driver loop on the union — k bounded
    * collects over a corpus-size-INDEPENDENT table (k·√n rows), so the
    * sequential tail no longer scans the corpus at all. At 100 TB phase
    * 1's partial aggs and broadcast joins are co-located with any
    * cell-bucketed layout; the per-cell candidate structs are the only
    * thing that ever leaves the cells.
    *
    * The output contract matches [[diversitySample]] (rank, vec_id,
    * dist) with `dist` the max-min radius WITHIN the union at selection
    * time; the coverage radius over the full corpus is bounded by a
    * constant factor of the exact greedy's (composable-coreset
    * guarantee; AnalyticsSpec pins the measured factor on the clustered
    * fixture). Every step is 4dp-deterministic with vec_id tie-breaks —
    * the DuckDB oracle unrolls both phases' fixed rounds. */
  def diversitySampleBlocked(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = assigned(s, dir).select("cell", "vec_id", "e", "norm")
      .localCheckpoint()
    // (r17 probe note: pre-partitioning `a` by cell does NOT help —
    // localCheckpoint under AQE rebases on UnknownPartitioning, so each
    // round's per-cell aggregate re-exchanges regardless; the upfront
    // repartition only added an exchange. Left as-is.)
    // per-cell argmin/argmax as hash aggs: vec_id is unique, so the
    // struct comparator (d, -vec_id) is a total order and min_by/max_by
    // reproduce the (d DESC, vec_id) window rank=1 row deterministically
    val c1 = a.groupBy(col("cell"))
      .agg(min_by(struct(col("vec_id"), col("e"), col("norm")),
        col("vec_id")).as("c"))
      .select(col("cell"), col("c.vec_id").as("cid"),
        col("c.e").as("ce"), col("c.norm").as("cn"))
    // (not checkpointed — both consumers re-run one hash agg over the
    // checkpointed `a`; r17 job-count diet, same as the cr rounds)
    var picks = c1.select("cell", "cid", "ce", "cn")
    // cell is an equi-key and the per-cell center table is √n rows: no
    // hint — AQE broadcasts it while small, shuffle fallback at scale
    var d = a.join(c1, Seq("cell"))
      .filter(col("vec_id") =!= col("cid"))
      .select(col("cell"), col("vec_id"), col("e"), col("norm"),
        (lit(1.0) - cosine(col("e"), col("ce"), col("norm"), col("cn")))
          .as("d"))
      .localCheckpoint()
    (2 to diversityK).foreach { _ =>
      // cr is NOT eagerly checkpointed (r17, verdict item 7): its two
      // consumers each recompute one cheap hash aggregate over the
      // CHECKPOINTED d — the per-round cr materialization job (half of
      // phase 1's job count) bought nothing but launch latency
      val cr = d.groupBy(col("cell"))
        .agg(max_by(struct(col("vec_id"), col("e"), col("norm")),
          struct(col("d"), (-col("vec_id")).as("tie"))).as("c"))
        .select(col("cell"), col("c.vec_id").as("cid"),
          col("c.e").as("ce"), col("c.norm").as("cn"))
      picks = picks.unionByName(cr)
      d = d.join(cr, Seq("cell"))
        .filter(col("vec_id") =!= col("cid"))
        .select(col("cell"), col("vec_id"), col("e"), col("norm"),
          least(col("d"),
            lit(1.0) - cosine(col("e"), col("ce"), col("norm"), col("cn")))
            .as("d"))
        .localCheckpoint()
    }
    // phase 2: the flat twin's exact greedy ([[greedyKCenter]] — the
    // shared loop), on the tiny corpus-size-independent union
    greedyKCenter(s, picks
      .select(col("cid").as("vec_id"), col("ce").as("e"), col("cn").as("norm"))
      .localCheckpoint(), diversityK)
  }

  /** Cosine threshold for [[semDedup]]: tuned so the synthetic corpus
    * (weak cluster structure, near-dup pairs planted by the generator)
    * yields a non-trivial drop set at every SF. */
  val semThreshold = 0.4

  /** SemDeDup (Abbas et al. 2023): semantic deduplication inside coarse
    * clusters — every vector is assigned to its nearest IVF cell (the
    * shared [[assigned]] substrate at the √n geometry), pairwise cosines
    * are computed WITHIN cells only, and the higher vec_id of any pair
    * ≥ [[semThreshold]] is dropped (the deterministic greedy min-id
    * keeper; the paper keeps the centroid-farthest item — keeper choice
    * is policy, the cluster-then-prune shape is the operator). A dropped
    * doc's `dup_of` names its smallest-id in-cell duplicate.
    *
    * Scale: identical geometry to [[knnGraphBlocked]] — n·√n assignment
    * + Σ|cell|² ≈ n·√n in-cell products, and at 100 TB the assigned
    * table partitions by `cell` so the self-join is co-located. Cross-
    * cell near-dups are missed by construction (the paper's documented
    * recall trade); [[dedupEmbedding]] is the exact-pairs baseline. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val a = assigned(s, dir).localCheckpoint() // feeds both join sides + spine
    val l = a.select(col("cell"), col("vec_id").as("a"),
      col("e").as("ea"), col("norm").as("na"))
    val r = a.select(col("cell"), col("vec_id").as("b"),
      col("e").as("eb"), col("norm").as("nb"))
    val dupOf = l.join(r, Seq("cell")).filter(col("a") < col("b"))
      .filter(cosine(col("ea"), col("eb"), col("na"), col("nb"))
        >= semThreshold)
      .groupBy(col("b").as("vec_id")).agg(min(col("a")).as("dup_of"))
    a.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
      .orderBy("vec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "semdedup" -> (semDedup _),
    "knn_graph" -> (knnGraph _),
    "knn_graph_blocked" -> (knnGraphBlocked _),
    "knn_graph_ann" -> (knnGraphAnn _),
    "diversity_sample" -> (diversitySample _),
    "diversity_sample_blocked" -> (diversitySampleBlocked _),
    "ann_ivf_trained" -> (annIvfTrained _),
    "embedding_pq_trained" -> (embeddingPqTrained _),
    "embedding_pq" -> (embeddingPq _),
    "ann_pq_adc" -> (annPqAdc _),
    "ann_ivf_pq" -> (annIvfPq _),
    "ann_brute_force" -> (annBruteForce _),
    "ann_ivf" -> (annIvf _),
    "ann_filtered" -> (annFiltered _),
    "ann_filtered_recall" -> (annFilteredRecall _),
    "ann_recall_report" -> (annRecallReport _),
    "retrieval_eval" -> (retrievalEval _),
    "retrieval_eval_ivf" -> (retrievalEvalIvf _),
    "retrieval_eval_hybrid" -> (retrievalEvalHybrid _),
    "embedding_drift" -> (embeddingDrift _),
    "takedown_replay_embed" ->
      ((s: SparkSession, dir: String) =>
        graft.streaming.EmbedStream.takedownReplayEmbed(s, dir)),
    "embedding_centroids" -> (embeddingCentroids _),
    "embedding_pca" -> (embeddingPca _),
    "embedding_abtt" -> (embeddingAbtt _),
    "ann_graph_search" -> (annGraphSearch _),
    "embedding_quantize" -> (embeddingQuantize _),
    "hybrid_search" -> (hybridSearch _),
    "hybrid_search_ivf" -> (hybridSearchIvf _),
    "takedown_replay_ann" ->
      (graft.streaming.AnnStream.takedownReplayAnn _),
    "ann_graph_search_hnsw" -> (annGraphSearchHnsw _),
    "ann_ivf_capped" -> (annIvfCapped _))

  /** The √n seed stride as a DuckDB scalar subquery — the oracle twin of
    * [[seedStrideOf]] (identical IEEE sqrt/ceil rounding). */
  private val sqlSeedStride =
    "(SELECT CAST(greatest(1, ceil(sqrt(count(*)))) AS BIGINT) FROM v)"

  private val vCte =
    """v AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e,
      |         sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
      |              x -> x * x), 'sum')) AS norm
      |  FROM embeddings)""".stripMargin

  private def duckCos(ea: String, eb: String, na: String, nb: String) =
    s"""round(list_aggregate(list_transform(generate_series(1, length($ea)),
       |          i -> $ea[i] * $eb[i]), 'sum') / ($na * $nb), 4)""".stripMargin

  /** Brute-force ANN as a CTE chain ending in `ann(q, rank, neighbor,
    * cosine)` — shared by ann_brute_force and hybrid_search. */
  private val bruteAnnCtes =
    s"""$vCte,
       |scored AS (
       |  SELECT q.vec_id AS q, v.vec_id AS neighbor,
       |         ${duckCos("q.e", "v.e", "q.norm", "v.norm")} AS cosine
       |  FROM v q JOIN v ON ${querySqlPred("q.vec_id")}
       |                 AND q.vec_id != v.vec_id),
       |ann AS (
       |  SELECT q, rank, neighbor, cosine FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q
       |              ORDER BY cosine DESC, neighbor) AS rank
       |    FROM scored) WHERE rank <= $topK)""".stripMargin

  /** `v` + seeded-cell `assign(vec_id, e, norm, cell)` — the IVF build
    * path shared by [[ivfAnnCtes]] and knn_graph_blocked's oracle. */
  private def assignCtesWith(stride: String): String =
    s"""$vCte,
       |seeds AS (SELECT vec_id AS cell, e AS ce, norm AS cn
       |          FROM v WHERE vec_id % $stride = 1),
       |assign AS (
       |  SELECT vec_id, e, norm, cell FROM (
       |    SELECT v.vec_id, v.e, v.norm, s.cell,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${duckCos("v.e", "s.ce", "v.norm", "s.cn")} DESC,
       |             s.cell) AS r
       |    FROM v CROSS JOIN seeds s) WHERE r = 1)""".stripMargin

  private val assignCtes = assignCtesWith(sqlSeedStride)

  /** The graph-search oracle chain, parameterized by the entry-layer
    * coarseness and the hop count — ONE generator for the flat face
    * (entryMult = 1) and the HNSW-style descent (entryMult =
    * [[hnswEntryMult]], rounds + 1), so the two oracles can never
    * diverge in machinery. */
  private def graphSearchOracleSql(entryMult: Int, rounds: Int): String = {
    val hops = (1 to rounds).map { r =>
      s"""gfr_$r AS (
         |  SELECT q, node FROM (
         |    SELECT q, node, row_number() OVER (PARTITION BY q
         |      ORDER BY cosine DESC, node) AS rk FROM gst_${r - 1})
         |  WHERE rk <= $searchBeam),
         |gnb_$r AS (
         |  SELECT DISTINCT f.q, e.dst AS node
         |  FROM gfr_$r f JOIN gse e ON e.src = f.node),
         |gsc_$r AS (
         |  SELECT n.q, n.node,
         |    ${duckCos("qv.e", "nv.e", "qv.norm", "nv.norm")} AS cosine
         |  FROM gnb_$r n JOIN v qv ON qv.vec_id = n.q
         |                JOIN v nv ON nv.vec_id = n.node),
         |gst_$r AS MATERIALIZED (
         |  SELECT q, node, max(cosine) AS cosine
         |  FROM (SELECT * FROM gst_${r - 1}
         |        UNION ALL SELECT * FROM gsc_$r)
         |  GROUP BY q, node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $nndCtes,
       |gse AS MATERIALIZED (
       |  SELECT src, dst FROM g$nndRounds WHERE rank <= $knnK
       |  UNION SELECT dst, src FROM g$nndRounds WHERE rank <= $knnK
       |  UNION SELECT src, dst FROM ring
       |  UNION SELECT dst, src FROM ring),
       |gq AS (SELECT vec_id AS q FROM v WHERE ${querySqlPred("vec_id")}),
       |gent AS (
       |  SELECT vec_id AS node FROM v
       |  WHERE ('0x' || substr(md5('gs:' || vec_id::VARCHAR), 1, 15))
       |        ::BIGINT % ($entryMult * $sqlSeedStride) = 0),
       |gst_0 AS MATERIALIZED (
       |  SELECT gq.q, gent.node,
       |    ${duckCos("qv.e", "nv.e", "qv.norm", "nv.norm")} AS cosine
       |  FROM gq CROSS JOIN gent
       |  JOIN v qv ON qv.vec_id = gq.q
       |  JOIN v nv ON nv.vec_id = gent.node),
       |$hops
       |SELECT q, rank, node AS neighbor, cosine FROM (
       |  SELECT q, node, cosine, row_number() OVER (PARTITION BY q
       |    ORDER BY cosine DESC, node) AS rank
       |  FROM gst_$rounds WHERE q != node)
       |WHERE rank <= $topK ORDER BY q, rank""".stripMargin
  }

  /** One unrolled NN-Descent round for the knn_graph_ann oracle — the
    * SAME incremental rounds the Spark plan runs: round 1 is the full
    * neighbor-of-neighbor expansion (every init edge is new); rounds ≥2
    * only expand paths through ≥1 edge added last round
    * (`new$i = g{i-1} EXCEPT g{i-2}`), ∪ incumbents (UNION dedups —
    * the Spark side's union+distinct), re-score, top-k. g$i / sym$i /
    * symn$i / new$i are AS MATERIALIZED because each is referenced ≥2
    * times downstream (plain CTEs inline 3^rounds-fold — the
    * dedup_kcore lesson). */
  private def nndRoundCtes(i: Int): String = {
    val prev = s"g${i - 1}"
    val non =
      if (i == 1)
        s"""sym$i AS MATERIALIZED (
           |  SELECT src AS node, dst AS nbr FROM $prev
           |  UNION SELECT dst, src FROM $prev),
           |non$i AS (
           |  SELECT a.node AS src, b.nbr AS dst
           |  FROM sym$i a JOIN sym$i b ON a.nbr = b.node
           |  WHERE a.node != b.nbr)""".stripMargin
      else
        s"""new$i AS MATERIALIZED (
           |  SELECT src, dst FROM $prev
           |  EXCEPT SELECT src, dst FROM g${i - 2}),
           |sym$i AS MATERIALIZED (
           |  SELECT src AS node, dst AS nbr FROM $prev
           |  UNION SELECT dst, src FROM $prev),
           |symn$i AS MATERIALIZED (
           |  SELECT src AS node, dst AS nbr FROM new$i
           |  UNION SELECT dst, src FROM new$i),
           |non$i AS (
           |  SELECT a.node AS src, b.nbr AS dst
           |  FROM symn$i a JOIN sym$i b ON a.nbr = b.node
           |  WHERE a.node != b.nbr
           |  UNION
           |  SELECT a.node, b.nbr
           |  FROM sym$i a JOIN symn$i b ON a.nbr = b.node
           |  WHERE a.node != b.nbr)""".stripMargin
    s"""$non,
       |cand$i AS (
       |  SELECT src, dst FROM non$i
       |  UNION SELECT src, dst FROM $prev),
       |sc$i AS (
       |  SELECT c.src, c.dst,
       |         ${duckCos("va.e", "vb.e", "va.norm", "vb.norm")} AS cosine
       |  FROM cand$i c JOIN v va ON va.vec_id = c.src
       |                JOIN v vb ON vb.vec_id = c.dst),
       |g$i AS MATERIALIZED (
       |  SELECT src, dst, cosine, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY cosine DESC, dst) AS rank FROM sc$i)
       |  WHERE rank <= $nndKInner)""".stripMargin
  }

  /** diversity_sample oracle: greedy k-center unrolled — center c_r is
    * the argmax of the running min-dist table d_{r-1}; every CTE is
    * referenced downstream ≥ twice → AS MATERIALIZED throughout. */
  private val diversityCtes: String = {
    val rounds = (2 to diversityK).map { r =>
      s"""c$r AS MATERIALIZED (
         |  SELECT vec_id, e, norm, d FROM d${r - 1}
         |  ORDER BY d DESC, vec_id LIMIT 1),
         |d$r AS MATERIALIZED (
         |  SELECT x.vec_id, x.e, x.norm,
         |    least(x.d, 1 - ${duckCos("x.e", "c.e", "x.norm", "c.norm")}) AS d
         |  FROM d${r - 1} x CROSS JOIN c$r c
         |  WHERE x.vec_id != c.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""v AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |         sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
       |              x -> x * x), 'sum')) AS norm
       |  FROM embeddings),
       |c1 AS MATERIALIZED (
       |  SELECT vec_id, e, norm FROM v ORDER BY vec_id LIMIT 1),
       |d1 AS MATERIALIZED (
       |  SELECT x.vec_id, x.e, x.norm,
       |    1 - ${duckCos("x.e", "c.e", "x.norm", "c.norm")} AS d
       |  FROM v x CROSS JOIN c1 c
       |  WHERE x.vec_id != c.vec_id),
       |$rounds""".stripMargin
  }

  private val diversitySelect: String =
    (Seq("SELECT CAST(1 AS BIGINT) AS rank, vec_id, 0.0 AS dist FROM c1") ++
      (2 to diversityK).map(r =>
        s"SELECT CAST($r AS BIGINT), vec_id, round(d, 4) FROM c$r"))
      .mkString("\nUNION ALL\n")

  /** diversity_sample_blocked oracle: phase 1 = per-cell greedy k-center
    * unrolled ([[diversityK]] rounds of per-cell argmax + min-dist
    * update, over `assign`), phase 2 = the flat oracle's greedy unrolled
    * over the union of phase-1 picks. Every CTE is referenced ≥2 times
    * downstream → AS MATERIALIZED throughout (the dedup_kcore lesson). */
  private val diversityBlockedCtes: String = {
    val p1 = (2 to diversityK).map { r =>
      s"""pc$r AS MATERIALIZED (
         |  SELECT cell, vec_id, e, norm FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cell
         |      ORDER BY d DESC, vec_id) AS rn FROM pd${r - 1})
         |  WHERE rn = 1),
         |pd$r AS MATERIALIZED (
         |  SELECT x.cell, x.vec_id, x.e, x.norm,
         |    least(x.d, 1 - ${duckCos("x.e", "c.e", "x.norm", "c.norm")}) AS d
         |  FROM pd${r - 1} x JOIN pc$r c ON x.cell = c.cell
         |  WHERE x.vec_id != c.vec_id)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to diversityK)
      .map(r => s"SELECT vec_id, e, norm FROM pc$r")
      .mkString("\nUNION ALL\n")
    val p2 = (2 to diversityK).map { r =>
      s"""qc$r AS MATERIALIZED (
         |  SELECT vec_id, e, norm, d FROM qd${r - 1}
         |  ORDER BY d DESC, vec_id LIMIT 1),
         |qd$r AS MATERIALIZED (
         |  SELECT x.vec_id, x.e, x.norm,
         |    least(x.d, 1 - ${duckCos("x.e", "c.e", "x.norm", "c.norm")}) AS d
         |  FROM qd${r - 1} x CROSS JOIN qc$r c
         |  WHERE x.vec_id != c.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""$assignCtes,
       |pc1 AS MATERIALIZED (
       |  SELECT cell, vec_id, e, norm FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cell
       |      ORDER BY vec_id) AS rn FROM assign)
       |  WHERE rn = 1),
       |pd1 AS MATERIALIZED (
       |  SELECT x.cell, x.vec_id, x.e, x.norm,
       |    1 - ${duckCos("x.e", "c.e", "x.norm", "c.norm")} AS d
       |  FROM assign x JOIN pc1 c ON x.cell = c.cell
       |  WHERE x.vec_id != c.vec_id),
       |$p1,
       |uvec AS MATERIALIZED (
       |$unionAll),
       |qc1 AS MATERIALIZED (
       |  SELECT vec_id, e, norm FROM uvec ORDER BY vec_id LIMIT 1),
       |qd1 AS MATERIALIZED (
       |  SELECT x.vec_id, x.e, x.norm,
       |    1 - ${duckCos("x.e", "c.e", "x.norm", "c.norm")} AS d
       |  FROM uvec x CROSS JOIN qc1 c
       |  WHERE x.vec_id != c.vec_id),
       |$p2""".stripMargin
  }

  private val diversityBlockedSelect: String =
    (Seq("SELECT CAST(1 AS BIGINT) AS rank, vec_id, 0.0 AS dist FROM qc1") ++
      (2 to diversityK).map(r =>
        s"SELECT CAST($r AS BIGINT), vec_id, round(d, 4) FROM qc$r"))
      .mkString("\nUNION ALL\n")

  /** knn_graph_ann oracle: cell-ring init + [[nndRounds]] unrolled
    * NN-Descent rounds. v/assign/mems/ring/g* are all referenced more
    * than once downstream → AS MATERIALIZED throughout. */
  private val nndCtes: String = {
    val rounds = (1 to nndRounds).map(nndRoundCtes).mkString(",\n")
    s"""v AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |         sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
       |              x -> x * x), 'sum')) AS norm
       |  FROM embeddings),
       |seeds AS MATERIALIZED (
       |  SELECT vec_id AS cell, e AS ce, norm AS cn
       |  FROM v WHERE vec_id % $sqlSeedStride = 1),
       |assign AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, s.cell,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${duckCos("v.e", "s.ce", "v.norm", "s.cn")} DESC,
       |             s.cell) AS r
       |    FROM v CROSS JOIN seeds s) WHERE r = 1),
       |mems AS MATERIALIZED (
       |  SELECT cell, vec_id, row_number() OVER (PARTITION BY cell
       |    ORDER BY vec_id) AS p
       |  FROM assign),
       |hmems AS MATERIALIZED (
       |  SELECT grp, vec_id, row_number() OVER (PARTITION BY grp
       |    ORDER BY vec_id) AS p
       |  FROM (SELECT ('0x' || substr(md5('nnd:' || vec_id::VARCHAR), 1, 15))
       |          ::BIGINT % $sqlSeedStride AS grp, vec_id
       |        FROM assign)),
       |ring AS MATERIALIZED (
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM mems a CROSS JOIN generate_series(1, $knnK) AS gs(j)
       |  JOIN mems b ON b.cell = a.cell AND b.p = a.p + j
       |  UNION ALL
       |  SELECT a.vec_id, b.vec_id
       |  FROM hmems a CROSS JOIN generate_series(1, $knnK) AS gs(j)
       |  JOIN hmems b ON b.grp = a.grp AND b.p = a.p + j),
       |cand0 AS (SELECT src, dst FROM ring UNION SELECT dst, src FROM ring),
       |sc0 AS (
       |  SELECT c.src, c.dst,
       |         ${duckCos("va.e", "vb.e", "va.norm", "vb.norm")} AS cosine
       |  FROM cand0 c JOIN v va ON va.vec_id = c.src
       |               JOIN v vb ON vb.vec_id = c.dst),
       |g0 AS MATERIALIZED (
       |  SELECT src, dst, cosine, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY cosine DESC, dst) AS rank FROM sc0)
       |  WHERE rank <= $nndKInner),
       |$rounds""".stripMargin
  }

  /** IVF ANN as a CTE chain ending in `ann(q, rank, neighbor, cosine)` —
    * shared by ann_ivf and hybrid_search_ivf. */
  private val ivfAnnCtes =
    s"""$assignCtes,
       |queries AS (SELECT vec_id AS q, e AS qe, norm AS qn
       |            FROM v WHERE ${querySqlPred("vec_id")}),
       |probed AS (
       |  SELECT q, qe, qn, cell,
       |         row_number() OVER (PARTITION BY q ORDER BY
       |           ${duckCos("qe", "ce", "qn", "cn")} DESC, cell) AS crank
       |  FROM queries CROSS JOIN seeds),
       |cells AS (SELECT q, qe, qn, cell FROM probed WHERE crank <= $nprobe),
       |scored AS (
       |  SELECT c.q, a.vec_id AS neighbor,
       |         ${duckCos("c.qe", "a.e", "c.qn", "a.norm")} AS cosine
       |  FROM cells c JOIN assign a USING (cell) WHERE c.q != a.vec_id),
       |ann AS (
       |  SELECT q, rank, neighbor, cosine FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q
       |              ORDER BY cosine DESC, neighbor) AS rank
       |    FROM scored) WHERE rank <= $topK)""".stripMargin

  /** The FILTERED-ANN CTE chain ending in `fann(q, rank, neighbor,
    * cosine)` — shared by the ann_filtered and ann_filtered_recall
    * oracles so the monitor grades exactly the face's own SQL replay. */
  private val filteredAnnCtes =
    s"""$assignCtes,
       |queries AS (SELECT vec_id AS q, label AS qlabel, e AS qe,
       |                   norm AS qn
       |            FROM v WHERE ${querySqlPred("vec_id")}),
       |probed AS (
       |  SELECT q, qlabel, qe, qn, cell,
       |         row_number() OVER (PARTITION BY q ORDER BY
       |           ${duckCos("qe", "ce", "qn", "cn")} DESC, cell) AS crank
       |  FROM queries CROSS JOIN seeds),
       |cells AS (SELECT q, qlabel, qe, qn, cell FROM probed
       |          WHERE crank <= $filteredNprobe),
       |fscored AS (
       |  SELECT c.q, a.vec_id AS neighbor,
       |         ${duckCos("c.qe", "a.e", "c.qn", "a.norm")} AS cosine
       |  FROM cells c JOIN assign a USING (cell)
       |  JOIN v lv ON lv.vec_id = a.vec_id
       |  WHERE c.q != a.vec_id AND lv.label = c.qlabel),
       |fann AS (
       |  SELECT q, rank, neighbor, cosine FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q
       |              ORDER BY cosine DESC, neighbor) AS rank
       |    FROM fscored) WHERE rank <= $topK)""".stripMargin

  /** The quality rerank over any `ann(q, rank, neighbor, cosine)` CTE
    * chain — the SQL twin of [[qualityRerank]]. */
  private def rerankSql(annCtes: String) =
    s"""WITH ${rerankCtes(annCtes)}
       |SELECT q, rerank, neighbor, cosine, quality, score FROM rr
       |WHERE rerank <= $rerankK ORDER BY q, rerank""".stripMargin

  /** The quality-rerank chain as CTEs ending in
    * `rr(q, rerank, neighbor, cosine, quality, score)` — shared by the
    * hybrid_search oracles and the hybrid ranking-eval oracle so the
    * reranked order replays identically everywhere it is graded. */
  private def rerankCtes(annCtes: String) =
    s"""$annCtes,
       |m AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS DOUBLE) AS n_chars,
       |    CAST(length(list_filter(string_split_regex(lower(text), '\\s+'),
       |         t -> t != '')) AS DOUBLE) AS n_tokens,
       |    CAST(length(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |      AS punct,
       |    CAST(length(regexp_extract_all(lower(text), '\\b(the|a|and|of|to)\\b'))
       |      AS DOUBLE) AS stop
       |  FROM documents),
       |qual AS (
       |  SELECT doc_id,
       |    round(least(n_tokens / 4.0, 50.0) + least(stop * 5.0, 30.0)
       |          - least(punct, 20.0) + 20.0, 6) AS quality
       |  FROM m),
       |re AS (
       |  SELECT ann.q, ann.neighbor, ann.cosine, qual.quality,
       |         round(0.8 * ann.cosine + 0.2 * qual.quality / 100.0, 6) AS score
       |  FROM ann JOIN qual ON ann.neighbor = qual.doc_id),
       |rr AS (
       |  SELECT *, row_number() OVER (PARTITION BY q
       |            ORDER BY score DESC, neighbor) AS rerank
       |  FROM re)""".stripMargin

  /** Ranking-metrics oracle over any CTE chain ending in
    * `ann(q, rank, neighbor, cosine)` — the SQL twin of
    * [[rankingMetricsOf]]. The discount and ideal-DCG tables interpolate
    * the SAME Scala constants the Spark plan broadcasts
    * ([[ndcgDiscountMicro]]/[[idcgPrefixMicro]]), so both engines share
    * one set of integer literals and the single rounded double division
    * (DCG/IDCG) is bit-identical. */
  private def rankingSql(annCtes: String, src: String = "ann",
                         k: Int = topK) = {
    val dRows =
      ndcgDiscountMicro.take(k).zipWithIndex
        .map { case (dm, i) => s"(${i + 1}, $dm)" }.mkString(", ")
    val iRows =
      idcgPrefixMicro.take(k).zipWithIndex
        .map { case (im, i) => s"(${i + 1}, $im)" }.mkString(", ")
    s"""WITH $annCtes,
       |ql AS (SELECT vec_id AS q, label FROM v
       |       WHERE ${querySqlPred("vec_id")}),
       |lc AS (SELECT label, count(*) AS cnt FROM v GROUP BY label),
       |disc(rank, dm) AS (VALUES $dRows),
       |ideal(m, im) AS (VALUES $iRows),
       |rels AS (
       |  SELECT a.q, a.rank,
       |         CASE WHEN nv.label = ql.label THEN 1 ELSE 0 END AS rel
       |  FROM $src a JOIN v nv ON nv.vec_id = a.neighbor
       |             JOIN ql ON ql.q = a.q),
       |agg AS (
       |  SELECT r.q, CAST(sum(r.rel) AS BIGINT) AS hits,
       |         CAST(sum(r.rel * disc.dm) AS BIGINT) AS dcg_micro,
       |         min(CASE WHEN r.rel = 1 THEN r.rank END) AS first_rank
       |  FROM rels r JOIN disc ON disc.rank = r.rank GROUP BY r.q)
       |SELECT a.q, ql.label, lc.cnt - 1 AS n_rel, a.hits,
       |  COALESCE(CAST(round(1000000.0 / a.first_rank) AS BIGINT), 0)
       |    AS mrr_micro,
       |  CAST(round(a.hits * 1000000.0 / $k) AS BIGINT) AS p_at_k_micro,
       |  CASE WHEN least(lc.cnt - 1, $k) > 0
       |       THEN CAST(round(CAST(a.dcg_micro AS DOUBLE) * 1000000.0
       |                       / i.im) AS BIGINT)
       |       ELSE 0 END AS ndcg_micro
       |FROM agg a JOIN ql ON ql.q = a.q JOIN lc ON lc.label = ql.label
       |LEFT JOIN ideal i ON i.m = least(lc.cnt - 1, $k)
       |ORDER BY a.q""".stripMargin
  }

  /** PQ CTE chain ending in `<p>sub` (every vec × subspace × centroid
    * distance) and `<p>best` (the per-(vec, subspace) argmin) over an
    * existing `v(vec_id, e)` CTE — prefix-parameterized because the
    * IVF-PQ composite combines it with the IVF chain, whose `seeds` CTE
    * (cell seeds) would collide with the PQ codebook seeds. */
  private def pqCteChain(p: String) =
    s"""${p}seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e
       |  FROM v ORDER BY vec_id LIMIT $pqCodebookSize),
       |${p}sub AS (
       |  SELECT v.vec_id, g.j, s.cid,
       |    list_aggregate(list_transform(generate_series(1, $pqSubDim),
       |      i -> (v.e[g.j * $pqSubDim + i] - s.e[g.j * $pqSubDim + i])
       |         * (v.e[g.j * $pqSubDim + i] - s.e[g.j * $pqSubDim + i])),
       |      'sum') AS d
       |  FROM v, generate_series(0, ${pqSubspaces - 1}) AS g(j), ${p}seeds s),
       |${p}best AS (
       |  SELECT vec_id, j, cid, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
       |                                 ORDER BY d, cid) AS rn
       |    FROM ${p}sub) WHERE rn = 1)""".stripMargin

  private val pqCtes =
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |${pqCteChain("")}""".stripMargin

  /** One Lloyd iteration of the IVF cell training as CTEs — the exact SQL
    * replay of [[trainedCells]]' iteration i: assignment argmax on
    * round(cosine, 4), two-level ordered-fold mean rounded to 1e-6,
    * empty cells keeping the previous centroid. */
  private def kmeansIterSql(i: Int): String = {
    val prev = if (i == 1) "tc0" else s"tc${i - 1}"
    s"""ta$i AS (
       |  SELECT vec_id, e, cell FROM (
       |    SELECT v.vec_id, v.e, c.cell,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${duckCos("v.e", "c.ce", "v.norm", "c.cn")} DESC, c.cell) AS r
       |    FROM v CROSS JOIN $prev c) WHERE r = 1),
       |tb$i AS (SELECT cell, vec_id // $centroidBucket AS bkt, count(*) AS bn,
       |         list(e ORDER BY vec_id) AS vs FROM ta$i GROUP BY cell, bkt),
       |tp$i AS (SELECT cell, bkt, bn,
       |         list_transform(generate_series(1, $embeddingDim),
       |           d -> list_aggregate(list_transform(vs, a -> a[d]), 'sum')) AS psum
       |         FROM tb$i),
       |tg$i AS (SELECT cell, sum(bn) AS n, list(psum ORDER BY bkt) AS ps
       |         FROM tp$i GROUP BY cell),
       |tm$i AS (SELECT cell,
       |         list_transform(generate_series(1, $embeddingDim),
       |           d -> round(list_aggregate(list_transform(ps, a -> a[d]), 'sum')
       |                / n * 1000000.0) / 1000000.0) AS me
       |         FROM tg$i),
       |tc$i AS (SELECT pc.cell, coalesce(tm$i.me, pc.ce) AS ce,
       |         sqrt(list_aggregate(list_transform(coalesce(tm$i.me, pc.ce),
       |              x -> x * x), 'sum')) AS cn
       |         FROM $prev pc LEFT JOIN tm$i USING (cell))""".stripMargin
  }

  /** IVF search over the trained cells, ending in
    * `ann(q, rank, neighbor, cosine)` — [[ivfAnnCtes]]' twin over tcN. */
  private val trainedIvfCtes = {
    val cN = s"tc$kmeansIters"
    s"""$vCte,
       |tc0 AS (SELECT vec_id AS cell, e AS ce, norm AS cn
       |        FROM v WHERE vec_id % $sqlSeedStride = 1),
       |${(1 to kmeansIters).map(kmeansIterSql).mkString(",\n")},
       |assign AS (
       |  SELECT vec_id, e, norm, cell FROM (
       |    SELECT v.vec_id, v.e, v.norm, s.cell,
       |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${duckCos("v.e", "s.ce", "v.norm", "s.cn")} DESC,
       |             s.cell) AS r
       |    FROM v CROSS JOIN $cN s) WHERE r = 1),
       |queries AS (SELECT vec_id AS q, e AS qe, norm AS qn
       |            FROM v WHERE ${querySqlPred("vec_id")}),
       |probed AS (
       |  SELECT q, qe, qn, cell,
       |         row_number() OVER (PARTITION BY q ORDER BY
       |           ${duckCos("qe", "ce", "qn", "cn")} DESC, cell) AS crank
       |  FROM queries CROSS JOIN $cN),
       |cells AS (SELECT q, qe, qn, cell FROM probed WHERE crank <= $nprobe),
       |scored AS (
       |  SELECT c.q, a.vec_id AS neighbor,
       |         ${duckCos("c.qe", "a.e", "c.qn", "a.norm")} AS cosine
       |  FROM cells c JOIN assign a USING (cell) WHERE c.q != a.vec_id),
       |ann AS (
       |  SELECT q, rank, neighbor, cosine FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q
       |              ORDER BY cosine DESC, neighbor) AS rank
       |    FROM scored) WHERE rank <= $topK)""".stripMargin
  }

  /** One Lloyd iteration of the per-subspace PQ codebook training —
    * the SQL replay of [[pqTrainedCodebookDf]]'s iteration i. */
  private def pqKmeansIterSql(i: Int): String = {
    val prev = if (i == 1) "tq0" else s"tq${i - 1}"
    s"""tqa$i AS (
       |  SELECT vec_id, j, sub, cid FROM (
       |    SELECT s.vec_id, s.j, s.sub, q.cid,
       |      row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
       |        list_aggregate(list_transform(generate_series(1, $pqSubDim),
       |          z -> (s.sub[z] - q.ce[z]) * (s.sub[z] - q.ce[z])), 'sum'),
       |        q.cid) AS r
       |    FROM sv s JOIN $prev q ON s.j = q.j) WHERE r = 1),
       |tqb$i AS (SELECT j, cid, vec_id // $centroidBucket AS bkt,
       |          count(*) AS bn, list(sub ORDER BY vec_id) AS vs
       |          FROM tqa$i GROUP BY j, cid, bkt),
       |tqp$i AS (SELECT j, cid, bkt, bn,
       |          list_transform(generate_series(1, $pqSubDim),
       |            d -> list_aggregate(list_transform(vs, a -> a[d]), 'sum')) AS psum
       |          FROM tqb$i),
       |tqg$i AS (SELECT j, cid, sum(bn) AS n, list(psum ORDER BY bkt) AS ps
       |          FROM tqp$i GROUP BY j, cid),
       |tqm$i AS (SELECT j, cid,
       |          list_transform(generate_series(1, $pqSubDim),
       |            d -> round(list_aggregate(list_transform(ps, a -> a[d]), 'sum')
       |                 / n * 1000000.0) / 1000000.0) AS me
       |          FROM tqg$i),
       |tq$i AS (SELECT pq.j, pq.cid, coalesce(tqm$i.me, pq.ce) AS ce
       |         FROM $prev pq LEFT JOIN tqm$i USING (j, cid))""".stripMargin
  }

  /** Shared oracle base for the PCA/ABTT family: exploded components and
    * the exact nano-unit means — the SQL replay of [[embBase]]. */
  private val embBaseCtes =
    s"""js AS (
       |  SELECT unnest(generate_series(1, $embeddingDim)) AS j),
       |emb AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |x AS MATERIALIZED (
       |  SELECT e.vec_id, g.j, e.e[g.j] AS xj FROM emb e CROSS JOIN js g),
       |stats AS MATERIALIZED (
       |  SELECT j,
       |    CAST(sum(CAST(round(xj * 1e9, 0) AS BIGINT)) AS BIGINT)
       |      / 1e9 / count(*) AS m,
       |    count(*) AS n
       |  FROM x GROUP BY j),
       |mlist AS (SELECT list(m ORDER BY j) AS ml FROM stats)""".stripMargin

  /** Ordered-fold inner product of two list columns — the oracle mirror
    * of the codegen `dot_product` kernel and the driver-side `fold`. */
  private def dotSql(a: String, b: String): String =
    s"""list_aggregate(list_transform(
       |      generate_series(1, $embeddingDim), i -> $a[i] * $b[i]),
       |      'sum')""".stripMargin

  /** One unrolled DEFLATED power-iteration round for the
    * [[embeddingAbtt]] oracle — the SQL replay of [[powerIterate]]'s
    * round for component c: candidate score with the prior components'
    * projections subtracted (per-row prior scores ride in from asf_p),
    * the d+1+(c−1) nano-unit sums in one grouped aggregate, and the
    * same norm/renormalize arithmetic as the pca round. */
  private def abttRoundCtes(c: Int, r: Int): String = {
    val priors = 1 until c
    val pvs = priors.map(p =>
      s"""apv_${c}_${r}_$p AS (
         |  SELECT ${dotSql("f.vl", "vl.vl")} AS pv
         |  FROM avfl_$p f CROSS JOIN avl_${c}_$r vl)""".stripMargin)
      .mkString(",\n")
    val scDefl = priors.map(p => s" - f$p.sp * pv$p.pv").mkString
    val scFrom = priors.map(p =>
      s" JOIN asf_$p f$p ON f$p.vec_id = e.vec_id").mkString +
      priors.map(p => s" CROSS JOIN apv_${c}_${r}_$p pv$p").mkString
    val spSel = priors.map(p => s", f$p.sp AS sp$p").mkString
    val sspAggs = priors.map(p =>
      s""",
         |    CAST(sum(CAST(round(s.sc * s.sp$p * 1e9, 0) AS BIGINT))
         |         AS BIGINT) AS ssp$p""".stripMargin).mkString
    val wDefl = priors.map(p => s" - f$p.vl[w.j] * (w.ssp$p / 1e9)").mkString
    val wFrom = priors.map(p => s" CROSS JOIN avfl_$p f$p").mkString
    s"""avl_${c}_$r AS (SELECT list(vj ORDER BY j) AS vl FROM av_${c}_${r - 1}),
       |amv_${c}_$r AS (
       |  SELECT ${dotSql("ml.ml", "vl.vl")} AS mv
       |  FROM mlist ml CROSS JOIN avl_${c}_$r vl),
       |${if (pvs.nonEmpty) pvs + ",\n" else ""}as_${c}_$r AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    round(${dotSql("e.e", "vl.vl")} - mv.mv$scDefl, 9) AS sc,
       |    e.e AS e$spSel
       |  FROM emb e CROSS JOIN avl_${c}_$r vl CROSS JOIN amv_${c}_$r mv$scFrom),
       |aw_${c}_$r AS (
       |  SELECT g.j,
       |    CAST(sum(CAST(round(s.sc * s.e[g.j] * 1e9, 0) AS BIGINT))
       |         AS BIGINT) AS swx,
       |    CAST(sum(CAST(round(s.sc * 1e9, 0) AS BIGINT)) AS BIGINT)
       |      AS ss$sspAggs
       |  FROM as_${c}_$r s CROSS JOIN js g GROUP BY g.j),
       |awc_${c}_$r AS MATERIALIZED (
       |  SELECT w.j, w.swx / 1e9 - st.m * (w.ss / 1e9)$wDefl AS wj
       |  FROM aw_${c}_$r w JOIN stats st USING (j)$wFrom),
       |anorm_${c}_$r AS (
       |  SELECT sqrt(CAST(sum(CAST(round(wj * wj, 12) AS DECIMAL(38,12)))
       |              AS DOUBLE)) AS nrm
       |  FROM awc_${c}_$r),
       |av_${c}_$r AS MATERIALIZED (
       |  SELECT j, round(wj / nrm, 12) AS vj
       |  FROM awc_${c}_$r CROSS JOIN anorm_${c}_$r)""".stripMargin
  }

  /** Component c's FINAL vector/score CTEs for the [[embeddingAbtt]]
    * oracle: the finished 12dp vector as a list, μᵀv_c, and the per-row
    * round-9 score sp with the sequential prior removal — the SQL
    * replay of the Spark side's `scoreCol(v_c, mean, priors)`. */
  private def abttFinalCtes(c: Int): String = {
    val priors = 1 until c
    val pvs = priors.map(p =>
      s"""apvf_${c}_$p AS (
         |  SELECT ${dotSql("f.vl", "vc.vl")} AS pv
         |  FROM avfl_$p f CROSS JOIN avfl_$c vc)""".stripMargin)
      .mkString(",\n")
    val defl = priors.map(p => s" - f$p.sp * pv$p.pv").mkString
    val from = priors.map(p =>
      s" JOIN asf_$p f$p ON f$p.vec_id = e.vec_id").mkString +
      priors.map(p => s" CROSS JOIN apvf_${c}_$p pv$p").mkString
    s"""avfl_$c AS MATERIALIZED (
       |  SELECT list(vj ORDER BY j) AS vl FROM av_${c}_$pcaRounds),
       |amvf_$c AS (
       |  SELECT ${dotSql("ml.ml", "vc.vl")} AS mv
       |  FROM mlist ml CROSS JOIN avfl_$c vc),
       |${if (pvs.nonEmpty) pvs + ",\n" else ""}asf_$c AS MATERIALIZED (
       |  SELECT e.vec_id, e.e,
       |    round(${dotSql("e.e", "vc.vl")} - mv.mv$defl, 9) AS sp
       |  FROM emb e CROSS JOIN avfl_$c vc CROSS JOIN amvf_$c mv$from)""".stripMargin
  }

  /** One unrolled power-iteration round for the [[embeddingPca]] oracle:
    * the s-fold mirrors the codegen `dot_product` (ordered list fold),
    * the component sums mirror the round-9/DECIMAL(38,9) aggregation,
    * and the norm/renormalize arithmetic mirrors the driver-side loop
    * control step by step. */
  private def pcaRoundCtes(r: Int): String =
    s"""vl_$r AS (SELECT list(vj ORDER BY j) AS vl FROM v_${r - 1}),
       |mv_$r AS (
       |  SELECT list_aggregate(list_transform(
       |    generate_series(1, $embeddingDim), i -> ml.ml[i] * vl.vl[i]),
       |    'sum') AS mv
       |  FROM mlist ml CROSS JOIN vl_$r vl),
       |s_$r AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    round(list_aggregate(list_transform(
       |      generate_series(1, $embeddingDim), i -> e.e[i] * vl.vl[i]),
       |      'sum') - mv.mv, 9) AS sc,
       |    e.e AS e
       |  FROM emb e CROSS JOIN vl_$r vl CROSS JOIN mv_$r mv),
       |w_$r AS (
       |  SELECT g.j,
       |    CAST(sum(CAST(round(s.sc * s.e[g.j] * 1e9, 0) AS BIGINT))
       |         AS BIGINT) AS swx,
       |    CAST(sum(CAST(round(s.sc * 1e9, 0) AS BIGINT)) AS BIGINT) AS ss
       |  FROM s_$r s CROSS JOIN js g GROUP BY g.j),
       |wc_$r AS MATERIALIZED (
       |  SELECT w.j, w.swx / 1e9 - st.m * (w.ss / 1e9) AS wj
       |  FROM w_$r w JOIN stats st USING (j)),
       |norm_$r AS (
       |  SELECT sqrt(CAST(sum(CAST(round(wj * wj, 12) AS DECIMAL(38,12)))
       |              AS DOUBLE)) AS nrm
       |  FROM wc_$r),
       |v_$r AS MATERIALIZED (
       |  SELECT j, round(wj / nrm, 12) AS vj FROM wc_$r CROSS JOIN norm_$r)""".stripMargin

  /** The embedding-drift oracle chain, parameterized by a survivor
    * predicate over `embeddings` — "" for the plain monitor face,
    * a WHERE clause for the takedown replay (the oracle replays the
    * SAME integer-micro sums over the survivors). */
  private def embeddingDriftOracle(pred: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS em
       |  FROM embeddings $pred),
       |ds AS (SELECT unnest(generate_series(1, $embeddingDim)) AS i),
         |comp AS (
         |  SELECT label, vec_id, i - 1 AS dim,
         |    CAST(round(em[i] * 1000000.0) AS BIGINT) AS xm
         |  FROM e CROSS JOIN ds),
         |life AS (
         |  SELECT label, dim, CAST(sum(xm) AS BIGINT) AS sl,
         |         CAST(count(*) AS BIGINT) AS nl
         |  FROM comp GROUP BY label, dim),
         |win AS (
         |  SELECT label, dim, CAST(sum(xm) AS BIGINT) AS sw,
         |         CAST(count(*) AS BIGINT) AS nw
         |  FROM comp WHERE vec_id % 4 IN (2, 3) GROUP BY label, dim),
         |jn AS (
         |  SELECT l.label, l.dim, CAST(l.sl AS DOUBLE) AS a, l.nl,
         |         CAST(coalesce(w.sw, 0) AS DOUBLE) AS b,
         |         coalesce(w.nw, 0) AS nw
         |  FROM life l LEFT JOIN win w
         |    ON w.label = l.label AND w.dim = l.dim),
         |g AS (
         |  SELECT label, max(nl) AS n_life, max(nw) AS n_window,
         |         list(a ORDER BY dim) AS av, list(b ORDER BY dim) AS bv
         |  FROM jn GROUP BY label),
         |m AS (
         |  SELECT label, n_life, n_window,
         |    list_aggregate(list_transform(generate_series(1, $embeddingDim),
         |      i -> av[i] * bv[i]), 'sum') AS dot,
         |    sqrt(list_aggregate(list_transform(
         |      generate_series(1, $embeddingDim), i -> av[i] * av[i]),
         |      'sum')) AS a2,
         |    sqrt(list_aggregate(list_transform(
         |      generate_series(1, $embeddingDim), i -> bv[i] * bv[i]),
         |      'sum')) AS b2
         |  FROM g)
         |SELECT label, n_life, n_window,
         |  CASE WHEN n_window > 0 AND a2 > 0 AND b2 > 0
         |       THEN round(dot / (a2 * b2), 6) ELSE 0.0 END
         |    AS centroid_cos,
         |  CASE WHEN n_window > 0 AND a2 > 0
         |       THEN round((b2 / n_window) / (a2 / n_life), 6)
         |       ELSE 0.0 END AS norm_ratio
         |FROM m ORDER BY label""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_recall_report" ->
      s"""WITH $ivfAnnCtes,
         |ivf AS (SELECT q, neighbor FROM ann),
         |bscored AS (
         |  SELECT q.vec_id AS q, v.vec_id AS neighbor,
         |         ${duckCos("q.e", "v.e", "q.norm", "v.norm")} AS cosine
         |  FROM v q JOIN v ON ${querySqlPred("q.vec_id")}
         |                 AND q.vec_id != v.vec_id),
         |exact AS (
         |  SELECT q, neighbor FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q
         |              ORDER BY cosine DESC, neighbor) AS rank
         |    FROM bscored) WHERE rank <= $topK)
         |SELECT e.q, count(*) AS k, count(i.neighbor) AS n_overlap,
         |  round(CAST(count(i.neighbor) AS DOUBLE) / count(*), 6) AS recall
         |FROM exact e LEFT JOIN ivf i USING (q, neighbor)
         |GROUP BY e.q ORDER BY e.q""".stripMargin,
    "embedding_pca" ->
      s"""WITH $embBaseCtes,
         |nv AS (SELECT max(n) AS n FROM stats),
         |tot AS (
         |  SELECT CAST(sum(CAST(round(xj * xj * 1e9, 0) AS BIGINT))
         |              AS BIGINT) / 1e9 AS sxx FROM x),
         |meansq AS (
         |  SELECT CAST(sum(CAST(round(m * m, 12) AS DECIMAL(38,12)))
         |              AS DOUBLE) AS ms FROM stats),
         |v_0 AS (SELECT j, round(1.0 / sqrt($embeddingDim), 12) AS vj FROM js),
         |${(1 to pcaRounds).map(pcaRoundCtes).mkString(",\n")}
         |SELECT nv.n AS n_vectors,
         |  (SELECT string_agg(CAST(CAST(round(vj * 1e6, 0) AS BIGINT)
         |                          AS VARCHAR), ',' ORDER BY j)
         |   FROM v_$pcaRounds) AS v_micro,
         |  round(norm_$pcaRounds.nrm / nv.n, 9) AS lambda,
         |  round((norm_$pcaRounds.nrm / nv.n)
         |        / (tot.sxx / nv.n - meansq.ms), 6) AS explained
         |
         |FROM nv CROSS JOIN tot CROSS JOIN meansq
         |CROSS JOIN norm_$pcaRounds""".stripMargin,
    "embedding_abtt" -> {
      val comps = 1 to abttComponents
      val body = comps.map { c =>
        (Seq(s"""av_${c}_0 AS (
                |  SELECT j, round(1.0 / sqrt($embeddingDim), 12) AS vj
                |  FROM js)""".stripMargin) ++
          (1 to pcaRounds).map(r => abttRoundCtes(c, r)) :+
          abttFinalCtes(c)).mkString(",\n")
      }.mkString(",\n")
      val proj = comps.map(c => s" - f$c.sp * v$c.vl[j]").mkString
      val joins = comps.drop(1)
        .map(c => s" JOIN asf_$c f$c ON f$c.vec_id = f1.vec_id").mkString
      val basisJoins = comps.map(c => s" CROSS JOIN avfl_$c v$c").mkString
      s"""WITH $embBaseCtes,
         |$body
         |SELECT f1.vec_id,
         |  array_to_string(list_transform(
         |    generate_series(1, $embeddingDim), j ->
         |      CAST(round((f1.e[j] - ml.ml[j]$proj) * 1e6, 0) AS BIGINT)),
         |    ',') AS e_micro
         |FROM asf_1 f1$joins
         |CROSS JOIN mlist ml$basisJoins
         |ORDER BY f1.vec_id""".stripMargin
    },
    "semdedup" ->
      s"""WITH $assignCtes,
         |p AS (
         |  SELECT b.vec_id AS vid, min(a.vec_id) AS dup_of
         |  FROM assign a JOIN assign b USING (cell)
         |  WHERE a.vec_id < b.vec_id
         |    AND ${duckCos("a.e", "b.e", "a.norm", "b.norm")}
         |        >= $semThreshold
         |  GROUP BY b.vec_id)
         |SELECT s.vec_id, s.cell, p.dup_of, p.dup_of IS NULL AS keep
         |FROM assign s LEFT JOIN p ON p.vid = s.vec_id
         |ORDER BY s.vec_id""".stripMargin,
    "knn_graph" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS e,
         |         sqrt(list_aggregate(list_transform(embedding::DOUBLE[],
         |              x -> x * x), 'sum')) AS norm
         |  FROM embeddings),
         |sc AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |    round(list_aggregate(list_transform(generate_series(1, length(a.e)),
         |            i -> a.e[i] * b.e[i]), 'sum') / (a.norm * b.norm), 4)
         |      AS cosine
         |  FROM v a JOIN v b ON a.vec_id != b.vec_id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY src
         |         ORDER BY cosine DESC, dst) AS rank FROM sc)
         |SELECT src, rank, dst, cosine FROM rk
         |WHERE rank <= $knnK ORDER BY src, rank""".stripMargin,
    "knn_graph_blocked" ->
      s"""WITH $assignCtes,
         |sc AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |         ${duckCos("a.e", "b.e", "a.norm", "b.norm")} AS cosine
         |  FROM assign a JOIN assign b USING (cell)
         |  WHERE a.vec_id != b.vec_id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY src
         |         ORDER BY cosine DESC, dst) AS rank FROM sc)
         |SELECT src, rank, dst, cosine FROM rk
         |WHERE rank <= $knnK ORDER BY src, rank""".stripMargin,
    "knn_graph_ann" ->
      s"""WITH $nndCtes
         |SELECT src, rank, dst, cosine FROM g$nndRounds
         |WHERE rank <= $knnK
         |ORDER BY src, rank""".stripMargin,
    // r17: the registered face IS the descent now (verdict item 3) —
    // same unrolled hops with the nested 8x-coarser entry layer and one
    // extra round; the oracle proves the descent is exact machinery,
    // not an approximation of the face
    "ann_graph_search" ->
      graphSearchOracleSql(hnswEntryMult, searchRounds + 1),
    "ann_graph_search_hnsw" ->
      graphSearchOracleSql(hnswEntryMult, searchRounds + 1),
    "diversity_sample" ->
      s"""WITH $diversityCtes
         |SELECT * FROM (
         |$diversitySelect
         |) ORDER BY rank""".stripMargin,
    "diversity_sample_blocked" ->
      s"""WITH $diversityBlockedCtes
         |SELECT * FROM (
         |$diversityBlockedSelect
         |) ORDER BY rank""".stripMargin,
    "ann_ivf_trained" ->
      s"""WITH $trainedIvfCtes
         |SELECT q, rank, neighbor, cosine FROM ann
         |ORDER BY q, rank""".stripMargin,
    "embedding_pq_trained" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |sv AS (SELECT vec_id, j, list_transform(generate_series(1, $pqSubDim),
         |         z -> e[j * $pqSubDim + z]) AS sub
         |       FROM v, generate_series(0, ${pqSubspaces - 1}) AS g(j)),
         |k0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e
         |       FROM v ORDER BY vec_id LIMIT $pqCodebookSize),
         |tq0 AS (SELECT j, cid, list_transform(generate_series(1, $pqSubDim),
         |          z -> e[j * $pqSubDim + z]) AS ce
         |        FROM k0, generate_series(0, ${pqSubspaces - 1}) AS g(j)),
         |${(1 to pqKmeansIters).map(pqKmeansIterSql).mkString(",\n")},
         |fsub AS (
         |  SELECT s.vec_id, s.j, q.cid,
         |    list_aggregate(list_transform(generate_series(1, $pqSubDim),
         |      z -> (s.sub[z] - q.ce[z]) * (s.sub[z] - q.ce[z])), 'sum') AS d
         |  FROM sv s JOIN tq$pqKmeansIters q ON s.j = q.j),
         |fbest AS (
         |  SELECT vec_id, j, cid, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
         |                                 ORDER BY d, cid) AS rn
         |    FROM fsub) WHERE rn = 1)
         |SELECT vec_id,
         |  string_agg(CAST(cid AS VARCHAR), ',' ORDER BY j) AS codes_csv,
         |  round(list_aggregate(list(d ORDER BY j), 'sum') / 64.0, 6) AS mse
         |FROM fbest GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "embedding_pq" ->
      s"""WITH $pqCtes
         |SELECT vec_id,
         |  string_agg(CAST(cid AS VARCHAR), ',' ORDER BY j) AS codes_csv,
         |  round(list_aggregate(list(d ORDER BY j), 'sum') / 64.0, 6) AS mse
         |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "ann_ivf_pq" ->
      s"""WITH $ivfAnnCtes,
         |${pqCteChain("pq")},
         |adc AS (
         |  SELECT c.q, a.vec_id AS neighbor,
         |    list_aggregate(list(l.d ORDER BY l.j), 'sum') AS ad
         |  FROM cells c JOIN assign a USING (cell)
         |  JOIN pqbest b ON b.vec_id = a.vec_id
         |  JOIN pqsub l ON l.vec_id = c.q AND l.j = b.j AND l.cid = b.cid
         |  WHERE c.q != a.vec_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT q, neighbor, ad, row_number() OVER (PARTITION BY q
         |      ORDER BY ad, neighbor) AS rank
         |  FROM adc)
         |SELECT q, rank, neighbor, round(ad, 6) AS adist
         |FROM ranked WHERE rank <= $topK ORDER BY q, rank""".stripMargin,
    // the ANN index under takedown: corpus + queries restricted to the
    // survivors, meta (seeds/codebook) still the full-bootstrap
    // train-once derivation — the ann_ivf_pq chain otherwise verbatim
    "takedown_replay_ann" ->
      s"""WITH $vCte,
         |surv AS (SELECT * FROM v
         |         WHERE vec_id % ${graft.streaming.Takedown
                        .replayRemovalStride} != 0),
         |seeds AS (SELECT vec_id AS cell, e AS ce, norm AS cn
         |          FROM v WHERE vec_id % $sqlSeedStride = 1),
         |assign AS (
         |  SELECT vec_id, e, norm, cell FROM (
         |    SELECT sv.vec_id, sv.e, sv.norm, s.cell,
         |           row_number() OVER (PARTITION BY sv.vec_id ORDER BY
         |             ${duckCos("sv.e", "s.ce", "sv.norm", "s.cn")} DESC,
         |             s.cell) AS r
         |    FROM surv sv CROSS JOIN seeds s) WHERE r = 1),
         |queries AS (SELECT vec_id AS q, e AS qe, norm AS qn
         |            FROM surv WHERE ${querySqlPred("vec_id")}),
         |probed AS (
         |  SELECT q, qe, qn, cell,
         |         row_number() OVER (PARTITION BY q ORDER BY
         |           ${duckCos("qe", "ce", "qn", "cn")} DESC, cell) AS crank
         |  FROM queries CROSS JOIN seeds),
         |cells AS (SELECT q, qe, qn, cell FROM probed WHERE crank <= $nprobe),
         |${pqCteChain("pq")},
         |adc AS (
         |  SELECT c.q, a.vec_id AS neighbor,
         |    list_aggregate(list(l.d ORDER BY l.j), 'sum') AS ad
         |  FROM cells c JOIN assign a USING (cell)
         |  JOIN pqbest b ON b.vec_id = a.vec_id
         |  JOIN pqsub l ON l.vec_id = c.q AND l.j = b.j AND l.cid = b.cid
         |  WHERE c.q != a.vec_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT q, neighbor, ad, row_number() OVER (PARTITION BY q
         |      ORDER BY ad, neighbor) AS rank
         |  FROM adc)
         |SELECT q, rank, neighbor, round(ad, 6) AS adist
         |FROM ranked WHERE rank <= $topK ORDER BY q, rank""".stripMargin,
    // the cap-binding fixture: identical expansion + capped window in SQL
    "ann_ivf_capped" -> {
      val vbase = vCte.replace("v AS (", "vbase AS (")
      s"""WITH $vbase,
         |v AS (
         |  SELECT vb.vec_id + r.k * (SELECT count(*) FROM vbase) AS vec_id,
         |         vb.label, vb.e, vb.norm
         |  FROM vbase vb
         |  CROSS JOIN generate_series(0, ${capBindReplicas - 1}) AS r(k)),
         |seeds AS (SELECT vec_id AS cell, e AS ce, norm AS cn
         |          FROM v WHERE vec_id % $sqlSeedStride = 1),
         |assign AS (
         |  SELECT vec_id, e, norm, cell FROM (
         |    SELECT v.vec_id, v.e, v.norm, s.cell,
         |           row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |             ${duckCos("v.e", "s.ce", "v.norm", "s.cn")} DESC,
         |             s.cell) AS r
         |    FROM v CROSS JOIN seeds s) WHERE r = 1),
         |queries AS (SELECT vec_id AS q, e AS qe, norm AS qn
         |            FROM v WHERE ${querySqlPred("vec_id", 1L)}),
         |probed AS (
         |  SELECT q, qe, qn, cell,
         |         row_number() OVER (PARTITION BY q ORDER BY
         |           ${duckCos("qe", "ce", "qn", "cn")} DESC, cell) AS crank
         |  FROM queries CROSS JOIN seeds),
         |cells AS (SELECT q, qe, qn, cell FROM probed WHERE crank <= $nprobe),
         |scored AS (
         |  SELECT c.q, a.vec_id AS neighbor,
         |         ${duckCos("c.qe", "a.e", "c.qn", "a.norm")} AS cosine
         |  FROM cells c JOIN assign a USING (cell) WHERE c.q != a.vec_id)
         |SELECT q, rank, neighbor, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q
         |            ORDER BY cosine DESC, neighbor) AS rank
         |  FROM scored) WHERE rank <= $topK ORDER BY q, rank""".stripMargin
    },
    "ann_pq_adc" ->
      s"""WITH $pqCtes,
         |adc AS (
         |  SELECT l.vec_id AS q, b.vec_id AS neighbor,
         |    list_aggregate(list(l.d ORDER BY l.j), 'sum') AS ad
         |  FROM sub l JOIN best b ON l.j = b.j AND l.cid = b.cid
         |  WHERE ${querySqlPred("l.vec_id")} AND l.vec_id != b.vec_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT q, neighbor, ad, row_number() OVER (PARTITION BY q
         |      ORDER BY ad, neighbor) AS rank
         |  FROM adc)
         |SELECT q, rank, neighbor, round(ad, 6) AS adist
         |FROM ranked WHERE rank <= $topK ORDER BY q, rank""".stripMargin,
    "hybrid_search" -> rerankSql(bruteAnnCtes),
    "hybrid_search_ivf" -> rerankSql(ivfAnnCtes),
    "retrieval_eval" -> rankingSql(bruteAnnCtes),
    "retrieval_eval_ivf" -> rankingSql(ivfAnnCtes),
    // grades the PIPELINE's final order: the rerank CTE chain replayed
    // verbatim (the hybrid_search_ivf oracle's), truncated to rerankK
    "retrieval_eval_hybrid" -> rankingSql(
      s"""${rerankCtes(ivfAnnCtes)},
         |hr AS (SELECT q, rerank AS rank, neighbor FROM rr
         |       WHERE rerank <= $rerankK)""".stripMargin,
      src = "hr", k = rerankK),
    // the streaming monitor's deterministic 4-batch state makes the
    // trailing-2 window exactly `vec_id % 4 IN (2, 3)`; the oracle
    // replays the SAME integer-micro component sums (quantization is
    // part of the operator's definition) and the same dim-ordered
    // cosine/norm folds
    "embedding_drift" -> embeddingDriftOracle(""),
    // the monitor under doc-grain takedown: the SAME replay over the
    // survivors — exact integer-micro subtraction or the rows diverge
    "takedown_replay_embed" -> embeddingDriftOracle(
      s"WHERE vec_id % ${graft.streaming.Takedown.replayRemovalStride}" +
        " != 0"),
    "embedding_quantize" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |sc AS (
         |  SELECT vec_id, e,
         |    coalesce(list_max(list_transform(e, x -> abs(x))), 0.0) / 127.0
         |      AS scale
         |  FROM v),
         |qv AS (
         |  SELECT vec_id, e, scale,
         |    list_transform(e, x -> CASE WHEN scale = 0 THEN 0
         |                           ELSE CAST(round(x / scale) AS INT) END) AS q
         |  FROM sc)
         |SELECT vec_id,
         |  CAST(round(scale * 1e6) AS BIGINT) AS scale_micro,
         |  array_to_string(q, ',') AS q_csv,
         |  CAST(round(coalesce(list_max(list_transform(
         |        generate_series(1, length(e)),
         |        i -> abs(q[i] * scale - e[i]))), 0.0) * 1e6) AS BIGINT)
         |    AS max_err_micro
         |FROM qv ORDER BY vec_id""".stripMargin,
    "embedding_centroids" ->
      s"""WITH b AS (
         |  SELECT label, vec_id // $centroidBucket AS bkt, count(*) AS bn,
         |         list(embedding::DOUBLE[] ORDER BY vec_id) AS vs
         |  FROM embeddings GROUP BY label, bkt),
         |p AS (
         |  SELECT label, bkt, bn,
         |         list_transform(generate_series(1, $embeddingDim),
         |           d -> list_aggregate(list_transform(vs, a -> a[d]), 'sum'))
         |           AS psum
         |  FROM b),
         |g AS (
         |  SELECT label, CAST(sum(bn) AS BIGINT) AS n_vectors,
         |         list(psum ORDER BY bkt) AS ps
         |  FROM p GROUP BY label)
         |SELECT label, n_vectors,
         |  array_to_string(list_transform(generate_series(1, $embeddingDim),
         |    d -> CAST(CAST(round(
         |           list_aggregate(list_transform(ps, a -> a[d]), 'sum')
         |           / n_vectors * 1000000.0) AS BIGINT) AS VARCHAR)), ',')
         |    AS centroid_micro
         |FROM g ORDER BY label""".stripMargin,
    "ann_brute_force" ->
      s"""WITH $bruteAnnCtes
         |SELECT q, rank, neighbor, cosine FROM ann
         |ORDER BY q, rank""".stripMargin,
    "ann_ivf" ->
      s"""WITH $ivfAnnCtes
         |SELECT q, rank, neighbor, cosine FROM ann
         |ORDER BY q, rank""".stripMargin,
    "ann_filtered" ->
      s"""WITH $filteredAnnCtes
         |SELECT q, rank, neighbor, cosine FROM fann
         |ORDER BY q, rank""".stripMargin,
    "ann_filtered_recall" ->
      s"""WITH $filteredAnnCtes,
         |fbscored AS (
         |  SELECT q.vec_id AS q, v.vec_id AS neighbor,
         |         ${duckCos("q.e", "v.e", "q.norm", "v.norm")} AS cosine
         |  FROM v q JOIN v ON ${querySqlPred("q.vec_id")}
         |                 AND q.vec_id != v.vec_id
         |                 AND q.label = v.label),
         |fexact AS (
         |  SELECT q, neighbor FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q
         |              ORDER BY cosine DESC, neighbor) AS rank
         |    FROM fbscored) WHERE rank <= $topK)
         |SELECT e.q, count(*) AS k, count(i.neighbor) AS n_overlap,
         |  round(CAST(count(i.neighbor) AS DOUBLE) / count(*), 6) AS recall
         |FROM fexact e
         |LEFT JOIN (SELECT q, neighbor FROM fann) i USING (q, neighbor)
         |GROUP BY e.q ORDER BY e.q""".stripMargin)
}
