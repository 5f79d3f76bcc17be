package graft.streaming

import graft.ops.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** INGESTION-TIME streaming NEAR-dup filtering — the streaming face of
  * [[graft.ops.DedupQueries.dedupIncrementalLsh]], completing
  * [[DedupStream]] (exact hashes) with MinHash/LSH: each micro-batch's
  * documents are signed (12 MinHashes), banded (4×3), probed against the
  * PERSISTED band index, and only documents with NO near-duplicate among
  * previously seen documents (or earlier-id documents of the same batch)
  * are appended to the corpus.
  *
  * Drop policy (deterministic, documented): a document is dropped when a
  * band collision with an earlier document (indexed batches, or same
  * batch with smaller doc_id) verifies at ≥ [[DedupQueries.minhashK]]·2/3
  * signature agreement. "Earlier" includes earlier documents that were
  * themselves dropped — near-duplicate similarity is treated as an
  * equivalence for retention purposes (standard ingestion-dedup
  * behavior). To make that hold ACROSS batch boundaries exactly as it
  * does within a batch, the index stores the band rows of EVERY processed
  * document (kept and dropped alike; the corpus stores only the kept
  * ones) — so a chain A~B, B~C split across batches drops C via the
  * indexed-but-dropped B, identical to the one-shot id-ordered outcome.
  * The kept corpus is therefore both pairwise near-dup-free AND
  * batching-invariant (NearDupStreamSpec pins both).
  *
  * Storage layout, marker-file commit protocol, idempotent replay,
  * crash-orphan sweep and the filesystem contract are exactly
  * [[DedupStream]]'s (docs/batch=N + index/batch=N, the
  * [[BatchStore]] protocol with the corpus dir as the commit point).
  *
  * Scale notes (100 TB): per batch, ONE equi-join of the batch's ~4 band
  * rows/doc against the band-keyed index (bucketed by (band, key) at
  * production scale, so the probe co-locates); signatures ride the band
  * rows so verification is in-row — no second join, and the corpus text
  * is never rescanned.
  */
object NearDupStream {

  private def store = DedupStream.store

  private[streaming] val sigAgreeMin = DedupQueries.minhashK * 2 / 3 // 8 of 12

  /** Start the ingest stream: `docs` must carry (doc_id long, text string). */
  def start(spark: SparkSession, docs: DataFrame, corpusDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(docs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, corpusDir, _))

  /** One micro-batch: sign, band, probe (index ∪ earlier-in-batch), keep
    * the novel documents; index EVERY document's band rows. Idempotent
    * per `batchId` via the corpus commit marker. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame, corpusDir: String,
                      batchId: Long): Unit = {
    // same layout → same compact(), ingest guard and orphan sweep
    if (store.replayed(corpusDir, batchId, "NearDupStream.applyMicroBatch"))
      return
    val sigs = DedupQueries.minhashSigsOf(batch)
      .select(col("doc_id"),
        array((0 until DedupQueries.minhashK).map(k => col(s"mh$k")): _*)
          .as("sig"))
    val bands = sigs
      .select(col("doc_id"), col("sig"),
        explode(DedupQueries.lshBandKeys).as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .persist()
    try {
      val agree = aggregate(
        zip_with(col("x.sig"), col("y.sig"),
          (a, b) => when(a === b, 1).otherwise(0)),
        lit(0), (acc, m) => acc + m)
      // witnesses: indexed rows (kept AND dropped docs of committed
      // batches) + earlier-id rows of this batch
      val earlier = bands.as("x").join(bands.as("y"), Seq("band", "key"))
        .filter(col("x.doc_id") > col("y.doc_id"))
        .filter(agree >= sigAgreeMin)
        .select(col("x.doc_id").as("doc_id"))
      // probe the index BY THE BATCH'S OWN band keys: the broadcast
      // semi-join filters the ever-growing index map-side before the
      // signature-agreement join sees it — the index is never shuffled,
      // per-batch cost stays proportional to the batch + one index scan
      // (the round-11 WinnowStream review, applied to all three ingest
      // streams). The agreement join then runs on the ≤ candidate-sized
      // remainder, where AQE is free to pick its own strategy.
      val idxHits = readIndex(spark, corpusDir)
        .join(broadcast(bands.select("band", "key").distinct()),
          Seq("band", "key"), "left_semi")
      val indexed = bands.as("x").join(idxHits.as("y"),
        Seq("band", "key"))
        .filter(agree >= sigAgreeMin)
        .select(col("x.doc_id").as("doc_id"))
      val dropped = earlier.unionByName(indexed).distinct()
        .localCheckpoint() // kept anti-join + the drops quarantine
      val kept = batch.join(dropped, Seq("doc_id"), "left_anti")
      // index first (ALL docs' band rows — cross-batch witnesses),
      // drops second (quarantined full rows — [[Takedown]] re-elects
      // from here when a kept canonical is later removed), corpus last
      // (kept docs only; its marker is the commit point)
      // arrival_seq: the true-arrival-order witness key — see
      // DedupStream.applyMicroBatch
      store.write(corpusDir, "index", batchId,
        bands.select("doc_id", "sig", "band", "key")
          .withColumn("arrival_seq", lit(batchId)))
      store.write(corpusDir, "drops", batchId,
        batch.join(dropped, Seq("doc_id"), "left_semi")
          .select("doc_id", "text")
          .withColumn("arrival_seq", lit(batchId)))
      store.write(corpusDir, "docs", batchId, kept.select("doc_id", "text"))
    } finally { bands.unpersist(); () }
  }

  /** The kept (near-dup-free) corpus so far — committed batches only,
    * committed takedowns applied. */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame =
    Takedown.view(spark, corpusDir, store.read(spark, corpusDir, "docs",
      "doc_id BIGINT, text STRING"), "docs")

  /** The committed (band, key, sig, doc_id) index — every processed
    * document of every committed batch (read by path; no unbounded
    * In-list, see DedupStream.readIndex). */
  def readIndex(spark: SparkSession, corpusDir: String): DataFrame =
    Takedown.view(spark, corpusDir, store.read(spark, corpusDir, "index",
      "doc_id BIGINT, sig ARRAY<BIGINT>, band INT, key STRING, " +
        "arrival_seq BIGINT"), "index")
}
