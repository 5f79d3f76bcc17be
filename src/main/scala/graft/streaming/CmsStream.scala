package graft.streaming

import graft.functions.TextFunctions.tokens
import graft.ops.ProfileQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming Count–Min sketch — the sketch family's STREAMING face,
  * making the mergeability that [[graft.ops.ProfileQueries.cmsCells]]'s
  * linearity spec proves algebraically OPERATIONAL: each micro-batch
  * writes its own d×w cell table (≤ d·w = 4096 rows per batch, whatever
  * the batch holds), and the committed sketch is the plain SUM of the
  * per-batch cells — Cormode & Muthukrishnan '05's linearity is the
  * whole commit protocol. Nothing ever rewrites or rescans an earlier
  * batch's cells, and the token stream itself is never persisted.
  *
  * Contrast with the ingest-filter trio ([[DedupStream]] /
  * [[NearDupStream]] / [[WinnowStream]]): those must PROBE committed
  * state to decide per-document outcomes, so their micro-batch reads
  * the index. A sketch has no per-document verdict — the per-batch
  * write is state-blind, so steady-state cost is exactly the batch
  * tokenize+hash with no dependence on history size at all (the ideal
  * every streaming operator here approximates).
  *
  * Crash safety: the per-batch cell dir commits via the [[BatchStore]]
  * marker protocol (staged tmp write → rename → commit marker);
  * [[recover]] sweeps marker-less orphans; replay of a committed
  * `batchId` is a no-op, so foreachBatch retries are idempotent.
  *
  * Scale note (100 TB): per-batch state is ≤4096 BIGINT cells — the
  * merged read ([[readSketch]]) aggregates #batches · 4096 rows, so a
  * year of 5-minute batches is ~430M tiny rows, one cheap sum; compact
  * by replacing committed batch dirs with their sum if ever needed
  * (the same linearity). Estimates serve from the merged 4096-row
  * table as a broadcast. */
object CmsStream {

  private val store = new BatchStore("cells")

  /** Start the sketch stream: `docs` must carry a `text` column. */
  def start(spark: SparkSession, docs: DataFrame, stateDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(docs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, stateDir, _))

  /** One micro-batch: tokenize, aggregate this batch's d×w cells, commit
    * them under `cells/batch=N`. Idempotent per `batchId`. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                      batchId: Long): Unit = {
    if (store.replayed(stateDir, batchId, "CmsStream.applyMicroBatch"))
      return
    val toks = batch.select(explode(tokens(col("text"))).as("token"))
    store.write(stateDir, "cells", batchId, ProfileQueries.cmsCells(toks))
  }

  /** Sweep marker-less (crashed mid-write) batch cell dirs, stale temps
    * and uncommitted takedown manifests; finish or roll back an
    * interrupted [[compact]] swap. */
  def recover(stateDir: String): Unit = store.recover(stateDir)

  // ---- takedown: batch-grain subtraction by LINEARITY ------------------

  /** TAKEDOWN over the sketch — the monitor-counts answer the corpus
    * gates deliberately don't give ("counts stay ingest history BY
    * DESIGN" is now a CHOICE per monitor, not a limitation): CMS cells
    * are linear, and the per-batch cell tables are retained, so a
    * removed batch's contribution is subtractable EXACTLY — and
    * exclusion of its cell table from the merge IS that subtraction,
    * with no arithmetic at all. Batch-grain because the sketch never
    * persisted per-document state (that blindness is its whole cost
    * model); a deployment that must forget finer than a batch keys its
    * micro-batches accordingly. The one-sided CMS guarantee survives:
    * the merged estimate still dominates every surviving batch's truth.
    * Idempotent per takedownId (marker = commit point, the house
    * protocol; committed under the [[CompactionLock]] like every
    * takedown); cost = one manifest write, independent of corpus AND of
    * removal size. */
  def applyTakedown(spark: SparkSession, stateDir: String,
                    removedBatchIds: Seq[Long], takedownId: Long): Unit =
    Takedown.applyBatchGrain(store, stateDir, removedBatchIds, takedownId)

  /** COMPACTION — sum the surviving batches' cells into the single
    * highest-id batch dir (the same linearity the read uses), leave
    * earlier committed ids as marker-only tombstones, and fold
    * takedowns physically: removed batches' cells are simply not in the
    * sum, and the staged root carries no takedown dirs. Every folded id
    * is recorded, so a later takedown of one is refused
    * ([[Takedown.applyBatchGrain]]). */
  def compact(spark: SparkSession, stateDir: String): Unit =
    store.compact(stateDir) { stage =>
      val all = store.committed(stateDir)
      if (all.isEmpty) return
      if (all.length <= 1 && BatchStore.takedownDirs(stateDir).isEmpty) return
      readSketch(spark, stateDir) // the takedown-aware merged cells
        .write.parquet(s"$stage/cells/${all.last}")
      store.markAll(stage, all)
      store.recordFold(stateDir, stage, all)
    }

  /** The merged sketch over every committed, non-removed batch: cells
    * ADD (and, for takedowns, un-add by exclusion). */
  def readSketch(spark: SparkSession, stateDir: String): DataFrame =
    store.read(spark, stateDir, "cells", "j INT, bucket BIGINT, cell BIGINT",
        Takedown.batchGrainDirs(stateDir, store.dirs(stateDir, "cells")))
      .groupBy("j", "bucket").agg(sum("cell").as("cell"))

  /** CMS point-frequency estimates for `probe` (a `token` column)
    * against the committed sketch: min over the d row cells, 0 for a
    * never-seen token (its cells were never incremented). The sketch's
    * one-sided guarantee survives the merge: n_est ≥ the token's true
    * count over every committed batch. */
  def estimate(spark: SparkSession, stateDir: String,
               probe: DataFrame): DataFrame =
    ProfileQueries.cmsProbeRows(probe)
      .join(broadcast(readSketch(spark, stateDir)), Seq("j", "bucket"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("cell"), lit(0L))).as("n_est"))

  // ---- registered takedown face -----------------------------------------

  /** REGISTERED + DuckDB-oracled — the sketch under batch-grain
    * takedown: 4 deterministic batches (doc_id mod 4) on the face's
    * own [[FaceState]] dir, batch 1 removed;
    * the post-takedown estimates of the SURVIVORS' top-K tokens must
    * equal the one-shot vocab_cms chain over the surviving docs — the
    * linearity claim ("exclusion IS subtraction") graded end to end by
    * the driver, not only spec-pinned. */
  def takedownReplayCms(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val st = FaceState("cms-takedown", dir) { d =>
      val docs = graft.Tables.documents(s, dir)
        .select("doc_id", "text").localCheckpoint()
      (0 until 4).foreach(i => applyMicroBatch(s,
        docs.filter(pmod(col("doc_id"), lit(4)) === i), d, i.toLong))
      applyTakedown(s, d, Seq(1L), takedownId = 0L)
    }
    val toks = graft.Tables.documents(s, dir)
      .filter(col("doc_id") % 4 =!= 1)
      .select(explode(tokens(col("text"))).as("token"))
    val top = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token"))
      .limit(ProfileQueries.cmsTopK)
    ProfileQueries.cmsProbeRows(top)
      .join(broadcast(readSketch(s, st)), Seq("j", "bucket"), "left")
      .groupBy("token", "n_exact")
      .agg(min(coalesce(col("cell"), lit(0L))).as("n_est"))
      .select(col("token"), col("n_exact"), col("n_est"),
        (col("n_est") >= col("n_exact")).as("overestimate"))
      .orderBy(col("n_exact").desc, col("token"))
  }
}
