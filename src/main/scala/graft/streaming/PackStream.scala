package graft.streaming

import graft.ops.PrepQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** INCREMENTAL SEQUENCE PACKING — the streaming face of
  * [[PrepQueries.sequencePack]]: a long-lived ingest extends the
  * concat-and-chunk placement one micro-batch at a time, never
  * recomputing earlier batches. Per batch, the running token offset is
  * the SUM of the committed batches' 1-row total tables (prefix-sum
  * associativity — the same integer linearity every monitor here
  * leans on), and the batch's own placement is the batch operator's
  * two-pass prefix shifted by that offset. Under id-ordered batching
  * the union of committed placements IS [[PrepQueries.sequencePack]]
  * of the whole corpus (PackStreamSpec pins 1/3/5-way batchings; the
  * registered face shares the batch oracle verbatim).
  *
  * Steady-state per-batch cost: the batch's own tokenize + prefix
  * plus a ≤-batch-count read of 1-row total tables — history never
  * rescanned, nothing corpus-sized moves. [[compact]] bounds the
  * total-table count ([[EvalStream.compact]]'s shape).
  *
  * TAKEDOWN is deliberately ABSENT here: placement is an EPOCH
  * artifact — removing a document shifts every later offset by
  * construction (the layout is a bijection with the surviving token
  * stream), so the honest removal story is "rebuild the next epoch's
  * placement from the surviving corpus", not an in-place correction;
  * the corpus-side gates own the removal itself. */
object PackStream {

  /** `place` carries the commit marker; `counts` is written first. */
  private val store = new BatchStore("place", "counts")

  /** Start the ingest stream: `docs` must carry
    * (doc_id long, text string). */
  def start(spark: SparkSession, docs: DataFrame, stateDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(docs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, stateDir, _))

  /** One micro-batch: read the committed running offset, place this
    * batch's docs from it, commit placement + the batch's 1-row total.
    * Idempotent per `batchId` via the placement marker. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame,
                      stateDir: String, batchId: Long): Unit = {
    if (store.replayed(stateDir, batchId, "PackStream.applyMicroBatch"))
      return
    val offset = store.scan(spark, stateDir, "counts").fold(0L)(
      _.agg(coalesce(sum("n_tokens"), lit(0L))).collect()(0).getLong(0))
    val placed = PrepQueries
      .packOfFrom(batch.select("doc_id", "text"), offset)
    // counts first (unmarked), placement last — its marker commits both
    store.write(stateDir, "counts", batchId,
      placed.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("n_tokens"), lit(0L)).as("n_tokens")))
    store.write(stateDir, "place", batchId, placed)
  }

  /** Sweep marker-less batch dirs (either sub) and stale temps; finish
    * or roll back an interrupted [[compact]] swap. */
  def recover(stateDir: String): Unit = store.recover(stateDir)

  /** The committed placement so far — one row per ingested doc, the
    * [[PrepQueries.sequencePack]] schema. */
  def readPlacement(spark: SparkSession, stateDir: String): DataFrame =
    store.read(spark, stateDir, "place", "doc_id BIGINT, n_tokens BIGINT, " +
      "start BIGINT, first_bin BIGINT, last_bin BIGINT, n_bins BIGINT")

  /** COMPACTION — merge all committed placement rows into the highest
    * committed batch dir and the totals into one summed row; earlier
    * ids survive as marker-only tombstones (replay no-op). The
    * [[BatchStore.compact]] swap. */
  def compact(spark: SparkSession, stateDir: String): Unit =
    store.compact(stateDir) { stage =>
      val batches = store.committed(stateDir)
      if (batches.length <= 1) return
      val target = batches.last
      readPlacement(spark, stateDir)
        .write.parquet(s"$stage/place/$target")
      store.scan(spark, stateDir, "counts").foreach(
        _.agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
            coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"))
          .write.parquet(s"$stage/counts/$target"))
      store.markAll(stage, batches)
    }

  // ---- registered face --------------------------------------------------

  /** REGISTERED + DuckDB-oracled: the committed placement after the
    * deterministic 4-quartile id-ordered ingest ([[FaceState]]) — EXACTLY
    * [[PrepQueries.sequencePack]], so the face shares that operator's
    * oracle SQL verbatim. Bench times the committed-placement read
    * (the dashboard/packer-restart cost); the batch face re-tokenizes
    * the corpus per refresh. */
  def sequencePackStream(s: SparkSession, dir: String): DataFrame = {
    val st = FaceState("pack-stream", dir) { d =>
      val docs = graft.Tables.documents(s, dir)
        .select("doc_id", "text").localCheckpoint()
      Takedown.quartiles(docs).zipWithIndex.foreach { case (b, i) =>
        applyMicroBatch(s, b, d, i.toLong)
      }
    }
    readPlacement(s, st).orderBy("doc_id")
  }
}
