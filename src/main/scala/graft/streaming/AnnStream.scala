package graft.streaming

import graft.ops.SimilarityQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING ANN INDEX MAINTENANCE — the ingestion face of the IVF-PQ
  * index ([[graft.ops.SimilarityQueries.annIvfPq]]'s layout), composed
  * with the batch-dir marker commit protocol of [[BatchStore]] (all I/O
  * through [[StreamFs]]):
  *
  *  - [[init]] trains the index ONCE from a bootstrap corpus: coarse
  *    cells + PQ codebook, persisted under `meta/`. Training is the same
  *    deterministic policy family as the batch operators (seed cells at
  *    the vec_id stride, codebook from the smallest vec_ids; swap in the
  *    `ann_ivf_trained` Lloyd loop for a trained bootstrap — the ingest
  *    and search paths below are indifferent to how meta was built).
  *    Fixing meta at init is what makes the index BATCH-COUNT-INVARIANT:
  *    cell assignment and codes depend only on (vector, meta), never on
  *    arrival order or batch boundaries.
  *  - [[applyMicroBatch]] assigns each new vector to its nearest cell
  *    (broadcast centroids, per-vector argmax window), PQ-codes it (one
  *    `pq_code` kernel call), and appends `coded/batch=N/cell=C/…` —
  *    CELL-PARTITIONED, so a probe opens nprobe/|cells| of the files and
  *    reads 4 bytes of codes per vector. Replay of a committed batch id
  *    is a no-op via the [[BatchStore]] commit marker; a crashed batch
  *    leaves an unmarked dir that [[recover]] sweeps.
  *  - [[search]] serves arbitrary query vectors from the LIVE index:
  *    probe the nprobe nearest cells, ADC-score the probed cells' codes
  *    (`pq_lut` once per query, `pq_adc` per candidate), per-query top-k.
  *    Because meta is fixed, querying the live index equals querying a
  *    batch rebuild of the same vectors (AnnStreamSpec pins this).
  *
  * Scale notes (100 TB): per batch the corpus is never read — ingest
  * touches only the batch (broadcast meta, no shuffle except the tiny
  * per-vector argmax); search reads only the probed cells' code files
  * (partition pruning on `cell=`), and the per-candidate cost is m table
  * lookups. Cites the reference's pipeline role (final_template.xml: the
  * lookup-enrich path) only by analogy — this operator is part of the
  * engine's training-data surface, not the NiFi flow. */
object AnnStream {

  /** `coded/batch=N` is the only batch sub-table; `meta/` sits beside it. */
  private[streaming] val store = new BatchStore("coded")

  private val m = SimilarityQueries.pqSubspaces
  private val k = SimilarityQueries.pqCodebookSize

  import graft.functions.PqFunctions.{pqAdc, pqCode, pqLut}
  import graft.functions.VectorFunctions.dotProduct

  private def withNorm(df: DataFrame, e: String, n: String): DataFrame =
    df.withColumn(n, sqrt(dotProduct(col(e), col(e))))

  private def cos(e: org.apache.spark.sql.Column, ce: org.apache.spark.sql.Column,
                  n: org.apache.spark.sql.Column, cn: org.apache.spark.sql.Column) =
    round(dotProduct(e, ce) / (n * cn), 4)

  /** Train-once: persist coarse centroids + PQ codebook from a bootstrap
    * corpus (vec_id, embedding). No-op when meta is already committed. */
  def init(spark: SparkSession, bootstrap: DataFrame, indexDir: String): Unit = {
    if (committedMeta(indexDir)) return
    val v = withNorm(bootstrap.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e")), "e", "norm")
    // √n geometry from the BOOTSTRAP corpus (train-once, like the PQ
    // codebook): the stride is part of the persisted index metadata and
    // stays fixed as batches stream in — geometry churn would mean a
    // full re-assignment of every committed batch.
    val stride = SimilarityQueries.seedStrideOf(v.count())
    val cents = v.filter(col("vec_id") % stride === 1)
      .select(col("vec_id").as("cell"), col("e").as("ce"), col("norm").as("cn"))
    BatchStore.writeDir(s"$indexDir/meta/centroids", cents,
      mark = true)
    val cb = v.orderBy("vec_id").limit(k)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("e")))).as("cbs"))
      .select(transform(col("cbs"), _("e")).as("cb"))
    BatchStore.writeDir(s"$indexDir/meta/codebook", cb,
      mark = true)
  }

  private def committedMeta(indexDir: String): Boolean =
    BatchStore.isCommitted(s"$indexDir/meta/centroids") &&
      BatchStore.isCommitted(s"$indexDir/meta/codebook")

  /** Start the ingest stream: `vectors` must carry
    * (vec_id long, embedding array). [[init]] must have run. */
  def start(spark: SparkSession, vectors: DataFrame, indexDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(vectors, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, indexDir, _))

  /** One micro-batch: assign cells, PQ-code, append cell-partitioned.
    * Idempotent per `batchId` via the commit marker. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame, indexDir: String,
                      batchId: Long): Unit = {
    if (store.replayed(indexDir, batchId, "AnnStream.applyMicroBatch"))
      return
    require(committedMeta(indexDir), s"AnnStream.init has not run for $indexDir")
    val cents = broadcast(spark.read.parquet(s"$indexDir/meta/centroids"))
    val cb = broadcast(spark.read.parquet(s"$indexDir/meta/codebook"))
    val v = withNorm(batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e")), "e", "norm")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("scos").desc, col("cell"))
    val assigned = v.join(cents)
      .select(col("vec_id"), col("e"), col("cell"),
        cos(col("e"), col("ce"), col("norm"), col("cn")).as("scos"))
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
    val coded = assigned.crossJoin(cb)
      .select(col("vec_id"), col("cell"),
        pqCode(col("e"), col("cb"), lit(m))("codes").as("codes"))
    BatchStore.stage(s"$indexDir/coded/batch=$batchId", mark = true)(
      coded.write.partitionBy("cell").mode("overwrite").parquet(_))
  }

  /** Sweep unmarked (crashed) coded batch dirs, stale temp dirs,
    * uncommitted takedown dirs, and complete or roll back an
    * interrupted [[compact]] swap. Safe to call any time. */
  def recover(indexDir: String): Unit = store.recover(indexDir)

  /** TAKEDOWN over the coded index — the RTBF reach into DERIVED data:
    * a removed doc's PQ codes are compressed projections of its
    * embedding, which is itself derived personal data, so they go with
    * the content. Removal-only (every vector is indexed
    * unconditionally — no re-election exists): one
    * removal-proportional tombstone under `takedown/td=K`; [[readCoded]]
    * anti-joins it and the next [[compact]] folds it physically.
    * Idempotent per takedownId; cost ∝ |removals|, never a corpus scan.
    *
    * CAVEAT (documented, deliberate): the TRAINED META is kept — the
    * FAISS `remove_ids` convention. Coarse centroids here are seed
    * vectors, so a removal set that contains a seed or a codebook
    * vector leaves that one raw embedding in meta; check
    * [[metaRetainsRemoved]] and rebuild the index (re-[[init]] from the
    * surviving corpus) when it fires — retraining is a full recode by
    * definition, not a tombstone. */
  def applyTakedown(spark: SparkSession, indexDir: String,
                    removed: DataFrame, takedownId: Long): Unit =
    Takedown.apply(spark, indexDir,
      removed.select(col("vec_id").as("doc_id")),
      Takedown.Gate.Ann, takedownId)

  /** Does the trained meta (seed centroids / PQ codebook — actual
    * corpus vectors under the deterministic policy) retain any removed
    * vector? True ⇒ an RTBF-complete deployment re-inits from the
    * surviving corpus instead of tombstoning. */
  def metaRetainsRemoved(spark: SparkSession, indexDir: String,
                         removed: DataFrame): Boolean = {
    val r = broadcast(removed.select(col("vec_id")).distinct())
    spark.read.parquet(s"$indexDir/meta/centroids")
      .select(col("cell").as("vec_id")).join(r, Seq("vec_id"), "left_semi")
      .limit(1).count() > 0
  }

  /** COMPACTION — fold the per-batch coded dirs into the single
    * highest-committed batch dir (cell-partitioned, as written) with
    * committed takedowns applied physically: the staged root carries no
    * takedown dirs and no removed vector's codes. Earlier committed ids
    * survive as marker-only dirs (the replay no-op check); meta is
    * carried verbatim. The [[BatchStore.compact]] rename-aside swap +
    * heartbeated lock protocol; [[recover]] completes or rolls back. */
  def compact(spark: SparkSession, indexDir: String): Unit =
    store.compact(indexDir) { stage =>
      val batches = store.committed(indexDir)
      if (batches.isEmpty) return
      if (batches.length <= 1 &&
        BatchStore.takedownDirs(indexDir).isEmpty) return
      // the reader view IS the fold (takedowns applied)
      readCoded(spark, indexDir)
        .write.partitionBy("cell").parquet(s"$stage/coded/${batches.last}")
      store.markAll(stage, batches)
      Seq("centroids", "codebook").foreach { m =>
        spark.read.parquet(s"$indexDir/meta/$m")
          .write.parquet(s"$stage/meta/$m")
        BatchStore.mark(s"$stage/meta/$m")
      }
    }

  /** The live coded corpus (committed batches only, committed takedowns
    * applied): (vec_id, cell, codes). */
  def readCoded(spark: SparkSession, indexDir: String): DataFrame =
    Takedown.removedView(spark, indexDir, store.read(spark, indexDir,
      "coded", "vec_id BIGINT, cell BIGINT, codes ARRAY<INT>"), Seq("vec_id"))

  /** IVF-PQ search over the live index for arbitrary query vectors
    * (q_id, embedding) → (q_id, rank, vec_id, adist). `excludeSelf`
    * drops the q_id == vec_id candidate before ranking (the corpus-query
    * convention of [[graft.ops.SimilarityQueries.annIvfPq]]).
    *
    * `queries` is a BOUNDED request batch (the API contract — callers
    * cap it, e.g. [[graft.ops.SimilarityQueries.maxQueries]]): it is the
    * broadcast side of the probe, while the √n centroid table STREAMS
    * (at 2e11 vectors √n ≈ 450k rows — too big to force onto every
    * executor). The per-query LUT table is request-proportional, never
    * corpus-proportional, so its broadcast is the bounded class. */
  def search(spark: SparkSession, queries: DataFrame, indexDir: String,
             topK: Int = 10, nprobe: Int = 4,
             excludeSelf: Boolean = false): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/meta/centroids")
    val cb = broadcast(spark.read.parquet(s"$indexDir/meta/codebook"))
    val q = withNorm(queries.select(col("q_id"),
      col("embedding").cast("array<double>").as("qe")), "qe", "qn")
    val wc = Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cell"))
    val probes = broadcast(q).join(cents)
      .select(col("q_id"), col("qe"), col("cell"),
        cos(col("qe"), col("ce"), col("qn"), col("cn")).as("ccos"))
      .withColumn("cr", row_number().over(wc)).filter(col("cr") <= nprobe)
      .select(col("q_id"), col("qe"), col("cell"))
    val qlut = probes.crossJoin(cb)
      .select(col("q_id"), col("cell"), pqLut(col("qe"), col("cb"), lit(m)).as("lut"))
    val candidates = readCoded(spark, indexDir).join(broadcast(qlut), Seq("cell"))
    val scored = (if (excludeSelf) candidates.filter(col("q_id") =!= col("vec_id"))
                  else candidates)
      .withColumn("ad", pqAdc(col("lut"), col("codes"), lit(k)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ad").asc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("ad"), 6).as("adist"))
  }

  // ---- bench-only steady-state twin of SimilarityQueries.annIvfPq ------

  /** BENCH-ONLY steady-state twin of
    * [[graft.ops.SimilarityQueries.annIvfPq]]: the registered query
    * honestly pays a full index rebuild per run to stay oracle-checkable;
    * this twin queries the [[AnnStream]]-maintained cell-partitioned
    * coded index — built lazily ONCE per sf dir (Bench's warmup pass
    * pays it), so the timed passes report the steady-state SEARCH cost a
    * deployment sees. Output is column-for-column the annIvfPq shape
    * (self-match excluded); AnnStreamSpec pins row-for-row equality with
    * the rebuild query. */
  def annIvfPqPrebuilt(s: SparkSession, dir: String): DataFrame = {
    val idx = FaceState("ann-prebuilt", dir) { d =>
      val corpus = graft.Tables.embeddings(s, dir).select("vec_id", "embedding")
      init(s, corpus, d)
      applyMicroBatch(s, corpus, d, 0L)
    }
    val q = graft.Tables.embeddings(s, dir)
      .filter(SimilarityQueries.queryPred())
      .select(col("vec_id").as("q_id"), col("embedding"))
    search(s, q, idx, topK = SimilarityQueries.topK,
        nprobe = SimilarityQueries.nprobe, excludeSelf = true)
      .select(col("q_id").as("q"), col("rank"),
        col("vec_id").as("neighbor"), col("adist"))
      .orderBy("q", "rank")
  }

  /** REGISTERED + DuckDB-oracled — the ANN INDEX under takedown: train
    * meta on the full bootstrap, ingest the corpus in 4 batches, remove
    * every [[Takedown.replayRemovalStride]]-th vec_id (tombstone only —
    * cost ∝ removals), then search the SURVIVING standard query batch
    * against the post-takedown index. The oracle is the ann_ivf_pq SQL
    * with corpus and queries restricted to the survivors and meta still
    * derived from the full bootstrap (the train-once contract): a
    * removed vector must neither be returned as a neighbor nor queried,
    * and the backfilled rank-k rows must match a from-scratch
    * survivors-only ingest bit-for-bit (codes depend only on
    * (vector, meta) — AnnStreamSpec pins the index-level equality). */
  def takedownReplayAnn(s: SparkSession, dir: String): DataFrame = {
    val stride = Takedown.replayRemovalStride
    val idx = FaceState("ann-takedown", dir) { d =>
      val corpus = graft.Tables.embeddings(s, dir)
        .select("vec_id", "embedding").localCheckpoint()
      init(s, corpus, d)
      (0 until 4).foreach(i => applyMicroBatch(s,
        corpus.filter(pmod(col("vec_id"), lit(4)) === i), d, i.toLong))
      applyTakedown(s, d,
        corpus.filter(col("vec_id") % stride === 0).select("vec_id"),
        takedownId = 0L)
    }
    val q = graft.Tables.embeddings(s, dir)
      .filter(SimilarityQueries.queryPred() && col("vec_id") % stride =!= 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    search(s, q, idx, topK = SimilarityQueries.topK,
        nprobe = SimilarityQueries.nprobe, excludeSelf = true)
      .select(col("q_id").as("q"), col("rank"),
        col("vec_id").as("neighbor"), col("adist"))
      .orderBy("q", "rank")
  }

  /** BENCH-ONLY recall monitor pointed at the COMMITTED index — what a
    * deployment actually alarms on: [[graft.ops.SimilarityQueries
    * .annRecallReport]] rebuilds its index per run (correct as the
    * oracle-checkable offline tuning report, blind to committed-index
    * staleness by construction); this face runs the IDENTICAL
    * `recallOf` tail over [[annIvfPqPrebuilt]]'s streaming-maintained
    * coded index, so a stale or drifted committed index shows up as a
    * recall drop against the same strided exact truth. AnnStreamSpec
    * pins it equal to the rebuilt IVF-PQ report while the index is
    * fresh. */
  def annRecallReportPrebuilt(s: SparkSession, dir: String): DataFrame =
    SimilarityQueries.recallOf(
      SimilarityQueries.annBruteForce(s, dir).select("q", "neighbor"),
      annIvfPqPrebuilt(s, dir).select("q", "neighbor"))
}
