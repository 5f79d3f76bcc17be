package graft.streaming

import graft.ops.SimilarityQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING kNN-GRAPH MAINTENANCE — the graph twin of [[AnnStream]]:
  * keep a searchable kNN graph current as vectors arrive, without ever
  * re-reading the committed corpus. Same batch-dir commit protocol
  * ([[BatchStore]]: marker files, replay no-op, crash sweep via
  * [[recover]]).
  *
  *  - [[init]] persists the cell centroids and the hash-bucket stride
  *    from a bootstrap corpus — fixed meta, so candidate generation
  *    depends only on (vector, meta), never on arrival order.
  *  - [[applyMicroBatch]] assigns each new vector its IVF cell and its
  *    md5 hash bucket, generates candidate edges against the COMMITTED
  *    nodes sharing either key (both orientations, plus within-batch
  *    pairs), scores them, and appends each src's batch-local top-k.
  *    Per batch nothing corpus-wide runs: two equi-joins keyed by
  *    cell/hbkt against the committed node table, one bounded window.
  *  - [[readGraph]] is the live adjacency: the global per-src top-k
  *    over all committed batch edge files. Candidate generation is
  *    MONOTONE (cosines are static, batches only add candidates) and
  *    every co-cell/co-bucket pair is generated in exactly the batch
  *    where its later member arrives, so the live graph is
  *    **batch-count-INVARIANT**: ingesting a corpus in 1 batch or in N
  *    equals the same edge list row for row (a global top-k element is
  *    a fortiori in its own batch's top-k — GraphStreamSpec pins this).
  *  - Graph quality: the candidate set is a SUPERSET of
  *    [[SimilarityQueries.knnGraphBlocked]]'s (co-cell pairs ∪ co-bucket
  *    pairs), and per-src top-k recall against the exact graph is
  *    monotone in the candidate set — so the streamed graph's recall is
  *    ≥ the blocked twin's by construction (also spec-pinned). The
  *    NN-Descent refinement rounds are NOT the ingest's job: descent
  *    iterates the whole evolving graph, which is exactly what an
  *    incremental ingest must not re-touch. They run in [[compact]] —
  *    the periodic maintenance pass that also collapses the accumulated
  *    per-batch dirs (the small-file tax) and re-derives the rings
  *    order-independently.
  *  - [[searchLive]] serves queries from the committed graph: the
  *    [[SimilarityQueries.annGraphSearch]] hops over readGraph's edges
  *    ∪ the committed hash-RING edges (`rings/batch=N` — k pseudo-random
  *    long links per node, kept UNPRUNED because cosine-ranked top-k
  *    would strand greedy search exactly as it did the batch face).
  *
  * Scale notes (100 TB): ingest cost per batch = |batch| × (cell +
  * bucket co-members) scored pairs, two shuffles keyed by cell/hbkt;
  * the committed node table is read pruned to (cell, hbkt, vec_id, e,
  * norm); search is query-load-bound over the committed edge files. */
object GraphStream {

  import graft.functions.TextFunctions.md5Long
  import graft.functions.VectorFunctions.dotProduct

  private val kNN = SimilarityQueries.knnK

  /** A batch id is committed exactly when its NODES dir carries the
    * marker — the single batch-level commit point (edges/rings are
    * written first, unmarked; round-12 advice: a per-kind marker let a
    * crash between the edges and nodes writes expose edges from an
    * uncommitted batch that [[recover]] could not sweep). `meta/` sits
    * beside the batch sub-tables. */
  private[streaming] val store = new BatchStore("nodes", "edges", "rings")

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", sqrt(dotProduct(col("e"), col("e"))))

  private def cos(e: org.apache.spark.sql.Column,
                  ce: org.apache.spark.sql.Column,
                  n: org.apache.spark.sql.Column,
                  cn: org.apache.spark.sql.Column) =
    round(dotProduct(e, ce) / (n * cn), 4)

  /** Train-once: persist the cell centroids and the √n hash stride from
    * a bootstrap corpus (vec_id, embedding). No-op when committed. */
  def init(spark: SparkSession, bootstrap: DataFrame, indexDir: String): Unit = {
    if (committedMeta(indexDir)) return
    val v = withNorm(bootstrap.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e")))
    val stride = SimilarityQueries.seedStrideOf(v.count())
    val cents = v.filter(col("vec_id") % stride === 1)
      .select(col("vec_id").as("cell"), col("e").as("ce"),
        col("norm").as("cn"))
    BatchStore.writeDir(s"$indexDir/meta/centroids", cents,
      mark = true)
    import spark.implicits._
    BatchStore.writeDir(s"$indexDir/meta/stride", Seq(stride).toDF("stride"),
      mark = true)
  }

  private def committedMeta(indexDir: String): Boolean =
    BatchStore.isCommitted(s"$indexDir/meta/centroids") &&
      BatchStore.isCommitted(s"$indexDir/meta/stride")

  /** Start the ingest stream: `vectors` must carry
    * (vec_id long, embedding array). [[init]] must have run. */
  def start(spark: SparkSession, vectors: DataFrame, indexDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(vectors, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, indexDir, _))

  /** The committed node table (vec_id, cell, hbkt, e, norm) — committed
    * takedowns applied: a removed doc's raw embedding is the most direct
    * derived data of all and leaves the node table the moment the
    * tombstone commits. */
  def readNodes(spark: SparkSession, indexDir: String): DataFrame =
    Takedown.removedView(spark, indexDir, store.read(spark, indexDir, "nodes",
      "vec_id BIGINT, cell BIGINT, hbkt BIGINT, e ARRAY<DOUBLE>, norm DOUBLE"),
      Seq("vec_id"))

  /** One micro-batch: key the new vectors, generate candidate edges
    * against committed ∪ batch nodes sharing a cell or a hash bucket,
    * keep each src's batch-local top-k. Idempotent per `batchId`. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame,
                      indexDir: String, batchId: Long): Unit = {
    // compact/ingest exclusion enforced, not just documented (verdict #6)
    if (store.replayed(indexDir, batchId, "GraphStream.applyMicroBatch"))
      return
    require(committedMeta(indexDir),
      s"GraphStream.init has not run for $indexDir")
    val cents = broadcast(spark.read.parquet(s"$indexDir/meta/centroids"))
    val stride = spark.read.parquet(s"$indexDir/meta/stride")
      .head().getLong(0)
    val v = withNorm(batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e")))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("scos").desc, col("cell"))
    val newNodes = v.join(cents)
      .select(col("vec_id"), col("e"), col("norm"), col("cell"),
        cos(col("e"), col("ce"), col("norm"), col("cn")).as("scos"))
      .withColumn("r", row_number().over(wAssign)).filter(col("r") === 1)
      .select(col("vec_id"), col("cell"),
        pmod(md5Long(concat(lit("nnd:"), col("vec_id").cast("string"))),
          lit(stride)).as("hbkt"),
        col("e"), col("norm"))
      .localCheckpoint() // feeds 4 candidate legs + the node write
    val all = readNodes(spark, indexDir).unionByName(newNodes)
    def leg(key: String): DataFrame = {
      val a = newNodes.select(col(key).as("k"), col("vec_id").as("av"),
        col("e").as("ae"), col("norm").as("an"))
      val b = all.select(col(key).as("k"), col("vec_id").as("bv"),
        col("e").as("be"), col("norm").as("bn"))
      a.join(b, Seq("k")).filter(col("av") =!= col("bv"))
        .select(col("av"), col("bv"),
          cos(col("ae"), col("be"), col("an"), col("bn")).as("cosine"))
    }
    // both orientations via one explode (the knnGraphAnn transpose trick)
    val pairs = leg("cell").unionByName(leg("hbkt"))
      .select(explode(array(
        struct(col("av").as("src"), col("bv").as("dst"), col("cosine")),
        struct(col("bv").as("src"), col("av").as("dst"), col("cosine"))))
        .as("p"))
      .select(col("p.src"), col("p.dst"), col("p.cosine"))
      .distinct()
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    val edges = pairs.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= kNN).select("src", "dst", "cosine")
    // hash-RING long links for search: the batch's co-bucket successors
    // by vec_id order, k per node, cosine-UNPRUNED (see scaladoc).
    // NOTE these positions are taken over the membership AS OF this
    // batch, so between compactions the ring edge set is ingest-order-
    // DEPENDENT (round-12 advice): later arrivals shift positions but
    // committed ring edges are never revised. Connectivity — the ring's
    // only job — survives any order; [[compact]] re-derives the rings
    // from the FULL membership, which is order-independent (positions
    // sort by vec_id value), restoring the batch face's exact nndRings
    // hash-ring definition.
    val wRing = Window.partitionBy(col("hbkt")).orderBy(col("vec_id"))
    val mem = all.select(col("hbkt"), col("vec_id"))
      .withColumn("p", row_number().over(wRing))
    val newIds = newNodes.select(col("vec_id").as("nid"))
    val rings = mem.select(col("hbkt"), col("vec_id").as("src"), col("p"))
      .join(broadcast(newIds), col("src") === col("nid"))
      .withColumn("j", explode(sequence(lit(1), lit(kNN))))
      .select(col("hbkt"), col("src"), (col("p") + col("j")).as("p"))
      .join(mem.withColumnRenamed("vec_id", "dst"), Seq("hbkt", "p"))
      .select("src", "dst")
    // edges/rings first, UNMARKED; the nodes marker is the single
    // batch-level commit point (see [[store]]) — a crash after the
    // edges write leaves an unmarked-batch edges dir that readers ignore
    // and recover() sweeps
    store.write(indexDir, "edges", batchId, edges)
    store.write(indexDir, "rings", batchId, rings)
    store.write(indexDir, "nodes", batchId, newNodes)
  }

  /** Sweep batch dirs whose batch never committed (no NODES marker) and
    * stale temp dirs, and complete or roll back an interrupted
    * [[compact]] swap. Safe to call any time. */
  def recover(indexDir: String): Unit = store.recover(indexDir)

  /** TAKEDOWN over the graph index — removal-only tombstone (every
    * vector is a node unconditionally; no re-election exists): removed
    * ids leave the node table, and every committed edge or ring link
    * TOUCHING a removed id leaves the adjacency ([[readGraph]] /
    * [[searchLive]] anti-join both endpoints). Between the takedown and
    * the next [[compact]], the live graph is a correct-but-degraded
    * LOWER BOUND: per-batch candidate files only kept each src's local
    * top-k, so a slot a removed neighbor held is not backfilled until
    * compact regenerates candidates over the surviving membership —
    * search never returns a removed doc, recall may dip, and the
    * maintenance pass restores exact rebuild equivalence
    * (GraphStreamSpec pins it). Idempotent per takedownId; cost ∝
    * |removals| at takedown time. */
  def applyTakedown(spark: SparkSession, indexDir: String,
                    removed: DataFrame, takedownId: Long): Unit =
    Takedown.apply(spark, indexDir,
      removed.select(col("vec_id").as("doc_id")),
      Takedown.Gate.Graph, takedownId)

  /** COMPACTION + REFINEMENT — the graph twin of [[DedupStream.compact]],
    * and the maintenance pass the object scaladoc promises: a long-lived
    * ingest stream accumulates one `batch=N` dir per micro-batch under
    * nodes/edges/rings, [[readGraph]]/[[searchLive]] union ALL of them
    * (the measured +50-90% small-file tax vs the single-checkpoint
    * prebuilt face, BASELINE.md round-12), and the per-batch ring edges
    * are ingest-order-dependent and never pruned. This pass rewrites all
    * three kinds into the single highest-committed batch dir:
    *
    *  - NODES: the committed node table, one dir.
    *  - EDGES: the live global top-k graph, REFINED by the batch
    *    operator's NN-Descent rounds ([[SimilarityQueries.nndRefine]],
    *    init = live graph ∪ full-membership rings, symmetrized) — the
    *    descent the scaladoc defers from ingest to exactly this pass.
    *    Per-src the refined top-k dominates the unrefined one (top-k
    *    over a candidate SUPERSET), so live-graph quality only rises.
    *  - RINGS: re-derived from the FULL membership — order-independent
    *    (positions sort by vec_id value) and deduplicated, the batch
    *    face's exact hash-ring definition (round-12 advice).
    *
    * Earlier committed batch ids stay recognizable as marker-only nodes
    * dirs (the replay no-op check is exactly "the nodes marker exists");
    * meta/ is carried over verbatim. Crash-safe via the root-level
    * rename-aside swap + the heartbeated [[CompactionLock]]
    * ([[BatchStore.compact]]; [[recover]] completes or rolls back an
    * interrupted swap). CONTRACT: run while the ingest
    * stream is idle — and enforced: [[applyMicroBatch]] throws while
    * the lock is live.
    *
    * Scale note (100 TB): the rewrite is one read+write of the node and
    * edge tables (linear) plus the NND rounds' O(n·k²) equi-joins — the
    * cost a deployment already pays for the batch build, amortized over
    * however many micro-batches ran since the last compaction. */
  def compact(spark: SparkSession, indexDir: String): Unit =
    store.compact(indexDir) { stage =>
      import graft.ops.SimilarityQueries
      val batches = store.committed(indexDir)
      if (batches.isEmpty) return
      val target = batches.last
      // all three consumers below (node rewrite, refine, rings) read the
      // committed node table — materialize it once
      val nodes = readNodes(spark, indexDir).localCheckpoint()
      val v = nodes.select("vec_id", "e", "norm")
      // after a takedown the per-batch candidate files have lost the
      // removed endpoints but not the candidates the batch-local top-k
      // cut — regenerate candidates over the SURVIVING membership (the
      // from-scratch ingest's own edge set, so post-compact ==
      // rebuild-over-survivors exactly); without takedowns the live
      // graph IS that set (monotone-candidates argument), no regen cost
      val live =
        if (BatchStore.takedownDirs(indexDir).nonEmpty)
          candidateEdges(nodes).select("src", "dst")
        else readGraph(spark, indexDir).select("src", "dst")
      val rings = fullRings(nodes).localCheckpoint() // ring write + init
      val init = live.unionByName(rings)
      val initSym = init
        .union(init.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val refined = SimilarityQueries.nndRefine(v, initSym,
          incremental = true, SimilarityQueries.nndRounds,
          SimilarityQueries.nndKInner)
        .filter(col("rank") <= kNN)
        .select("src", "dst", "cosine")
      nodes.write.parquet(s"$stage/nodes/$target")
      refined.write.parquet(s"$stage/edges/$target")
      rings.write.parquet(s"$stage/rings/$target")
      Seq("centroids", "stride").foreach { m =>
        spark.read.parquet(s"$indexDir/meta/$m")
          .write.parquet(s"$stage/meta/$m")
        BatchStore.mark(s"$stage/meta/$m")
      }
      // marker-only dirs keep every committed id recognizable on replay
      store.markAll(stage, batches)
    }

  /** Hash-ring long links over the FULL membership: k successors per
    * node in vec_id order within each md5 hash bucket — exactly
    * [[SimilarityQueries.nndRings]]'s hash ring, and order-independent
    * given the membership (unlike the per-batch incremental rings). */
  private def fullRings(nodes: DataFrame): DataFrame = {
    val wRing = Window.partitionBy(col("hbkt")).orderBy(col("vec_id"))
    val mem = nodes.select(col("hbkt"), col("vec_id"))
      .withColumn("p", row_number().over(wRing))
      .localCheckpoint() // both ring legs reference it
    mem.select(col("hbkt"), col("vec_id").as("src"), col("p"))
      .withColumn("j", explode(sequence(lit(1), lit(kNN))))
      .select(col("hbkt"), col("src"), (col("p") + col("j")).as("p"))
      .join(mem.withColumnRenamed("vec_id", "dst"), Seq("hbkt", "p"))
      .select("src", "dst")
  }

  /** Candidate edges over the FULL membership: per-src top-k of the
    * co-cell ∪ co-bucket pairs — exactly the union every batching of
    * the same membership accumulates (each pair is generated in the
    * batch where its later member arrives), i.e. the from-scratch
    * ingest's edge set. [[compact]] regenerates from this after a
    * takedown so top-k slots a removed neighbor held are BACKFILLED as
    * a survivors-only rebuild would fill them. */
  private def candidateEdges(nodes: DataFrame): DataFrame = {
    def leg(key: String): DataFrame = {
      val a = nodes.select(col(key).as("k"), col("vec_id").as("av"),
        col("e").as("ae"), col("norm").as("an"))
      val b = nodes.select(col(key).as("k"), col("vec_id").as("bv"),
        col("e").as("be"), col("norm").as("bn"))
      a.join(b, Seq("k")).filter(col("av") < col("bv"))
        .select(col("av"), col("bv"),
          cos(col("ae"), col("be"), col("an"), col("bn")).as("cosine"))
    }
    val pairs = leg("cell").unionByName(leg("hbkt"))
      .select(explode(array(
        struct(col("av").as("src"), col("bv").as("dst"), col("cosine")),
        struct(col("bv").as("src"), col("av").as("dst"), col("cosine"))))
        .as("p"))
      .select(col("p.src"), col("p.dst"), col("p.cosine"))
      .distinct()
    val wTop = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    pairs.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= kNN).select("src", "dst", "cosine")
  }

  /** The LIVE adjacency: global per-src top-k over every committed
    * batch's candidate edges — exact by the monotone-candidates
    * argument in the object scaladoc; committed takedowns applied
    * (edges touching a removed id at either endpoint vanish). */
  def readGraph(spark: SparkSession, indexDir: String): DataFrame = {
    val edges = store.read(spark, indexDir, "edges",
      "src BIGINT, dst BIGINT, cosine DOUBLE")
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cosine").desc, col("dst"))
    Takedown.removedView(spark, indexDir, edges, Seq("src", "dst"))
      .select("src", "dst", "cosine").distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select("src", "rank", "dst", "cosine")
  }

  /** Greedy graph search over the COMMITTED graph + ring long links —
    * [[SimilarityQueries.annGraphSearch]]'s hops against the live
    * streamed index; queries strided from the corpus exactly as the
    * batch faces stride them. */
  def searchLive(spark: SparkSession, dir: String,
      indexDir: String): DataFrame = {
    val g = readGraph(spark, indexDir).select("src", "dst")
      .unionByName(Takedown.removedView(spark, indexDir,
        store.read(spark, indexDir, "rings", "src BIGINT, dst BIGINT"),
        Seq("src", "dst")))
    val edges = g.union(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    SimilarityQueries.searchOverGraph(spark, dir, edges)
  }

  // ---- bench-only steady-state face -------------------------------------

  /** Ingest `dir`'s corpus into the index `d` in 4 micro-batches. */
  private def buildStreamedIndex(s: SparkSession, dir: String,
                                 d: String): Unit = {
    val corpus = graft.Tables.embeddings(s, dir)
      .select("vec_id", "embedding")
    init(s, corpus, d)
    (0 until 4).foreach(i => applyMicroBatch(s,
      corpus.filter(pmod(col("vec_id"), lit(4)) === i), d, i.toLong))
  }

  /** BENCH-ONLY: search over the STREAMED graph index — built lazily
    * once per sf dir ([[FaceState]]) by ingesting the corpus in 4
    * micro-batches (the warmup pass pays it); timed passes report the
    * live-index search cost. GraphStreamSpec pins the index's
    * batch-count invariance and its recall floor. This face deliberately
    * stays UNCOMPACTED — it is the pre-maintenance number whose gap to
    * [[annGraphSearchCompacted]] / the prebuilt face quantifies the
    * small-file + unpruned-ring tax [[compact]] removes. */
  def annGraphSearchStreamed(s: SparkSession, dir: String): DataFrame =
    searchLive(s, dir,
      FaceState("graph-stream", dir)(buildStreamedIndex(s, dir, _)))

  /** BENCH-ONLY: the same 4-micro-batch streamed index AFTER one
    * [[compact]] pass (warmup pays build + compaction) — the number a
    * deployment that runs its maintenance window pays per search.
    * GraphStreamSpec pins post-compaction recall ≥ pre-compaction. */
  def annGraphSearchCompacted(s: SparkSession, dir: String): DataFrame =
    searchLive(s, dir, FaceState("graph-compacted", dir) { d =>
      buildStreamedIndex(s, dir, d)
      compact(s, d)
    })
}
