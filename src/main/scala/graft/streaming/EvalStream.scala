package graft.streaming

import graft.ops.EvalQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming GATE-EVAL — the monitoring face of the eval family
  * ([[graft.ops.EvalQueries]]): a production curation gate drifts as the
  * corpus mix drifts, so a deployment wants AUC/precision/recall over
  * everything scored SO FAR without ever re-reading history. The per-
  * batch state is the (score, label, decision, n) count table — LINEAR,
  * exactly like [[CmsStream]]'s sketch cells: counts over a union of
  * batches are the SUM of per-batch counts, so the merged evaluation is
  * EXACTLY the batch operator on the same rows, not an approximation of
  * it (EvalStreamSpec pins stream ≡ batch row-for-row; the shared code
  * path below the collapse — [[EvalQueries.gateEvalFromCounts]] — makes
  * divergence structurally impossible).
  *
  * Contrast with the ingest-filter trio ([[DedupStream]] etc.): like
  * [[CmsStream]], the per-batch write is state-BLIND (no probe of
  * committed state), so steady-state ingest cost is one batch-sized
  * aggregate regardless of history, and the evaluation read aggregates
  * #batches · NDV(batch scores) tiny count rows.
  *
  * Crash safety: per-batch dirs commit via the [[BatchStore]] marker
  * protocol (staged write → rename → commit marker); [[recover]]
  * sweeps marker-less orphans; replay of a committed batchId no-ops.
  *
  * Scale note (100 TB): per-batch state is bounded by the batch's score
  * NDV; a year of 5-minute batches over a ppm grid is ~100M count rows,
  * one cheap sum, and the high-NDV regime rides the eval family's
  * distributed prefix sum — nothing here orders corpus-scale data in
  * one partition. [[compact]] bounds the committed-dir count: the same
  * linearity, applied as maintenance (replace committed dirs with one
  * dir holding their sum). */
object EvalStream {

  private val store = new BatchStore("counts")

  /** Start the monitor stream: `scored` must carry
    * (score long, label boolean, decision boolean). */
  def start(spark: SparkSession, scored: DataFrame, stateDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(scored, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, stateDir, _))

  /** One micro-batch: collapse the batch to its count table, commit it
    * under `counts/batch=N`. Idempotent per `batchId`. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                      batchId: Long): Unit = {
    // compact/ingest exclusion enforced, not just documented (verdict #6)
    if (store.replayed(stateDir, batchId, "EvalStream.applyMicroBatch"))
      return
    store.write(stateDir, "counts", batchId, EvalQueries.scoredCounts(
      batch.select("score", "label", "decision")))
  }

  /** Sweep marker-less (crashed mid-write) batch count dirs, and
    * complete or roll back an interrupted [[compact]] swap. */
  def recover(stateDir: String): Unit = store.recover(stateDir)

  // ---- takedown: batch-grain count subtraction (the CmsStream fold) ----

  /** TAKEDOWN over the evaluation counts — [[CmsStream.applyTakedown]]'s
    * batch-grain subtraction applied to the gate monitor: count tables
    * are linear and retained per batch, so EXCLUDING a removed batch
    * from the merge subtracts its contribution exactly. The batch ID
    * stays committed (replays still no-op, and trailing windows keep
    * their TIMELINE — the removed batch becomes an EMPTY window member,
    * the committed-zero-row-batch convention, rather than shifting the
    * window into history). Idempotent per takedownId, committed under
    * the [[CompactionLock]] like every takedown; cost = one manifest
    * write. */
  def applyTakedown(spark: SparkSession, stateDir: String,
                    removedBatchIds: Seq[Long], takedownId: Long): Unit =
    Takedown.applyBatchGrain(store, stateDir, removedBatchIds, takedownId)

  /** COMPACTION — the linearity the merge relies on IS the compaction:
    * rewrite committed per-batch count dirs into one dir holding their
    * sum, earlier ids surviving as marker-only dirs (the replay no-op
    * check). `keepLast` is the DRIFT HORIZON (round-13 verdict #4):
    * the newest `keepLast` batch dirs carry over verbatim — batch
    * boundaries inside the horizon survive, so any trailing window of
    * ≤ `keepLast` batches ([[readCountsWindow]]) reads IDENTICAL state
    * across compaction (spec-pinned); only history older than the
    * horizon collapses. `keepLast = 0` merges everything (the pure
    * small-files pass — after it a trailing window degrades to
    * lifetime, by the trailing-window semantics below). The
    * crash-safe root-swap + heartbeated [[CompactionLock]] protocol of
    * [[BatchStore.compact]]; run while the ingest is idle — enforced by
    * [[applyMicroBatch]]'s guard. */
  def compact(spark: SparkSession, stateDir: String,
              keepLast: Int = 0): Unit =
    store.compact(stateDir) { stage =>
      val batches = store.committed(stateDir)
      val merge = batches.dropRight(keepLast)
      val hasTd = BatchStore.takedownDirs(stateDir).nonEmpty
      if (merge.length <= 1 && !hasTd) return
      // takedowns FOLD here: removed batches' cells are simply not in
      // the merged sum (and not carried in the horizon), their ids stay
      // marker-only, and the staged root carries no takedown dirs
      val merged = sumDirs(spark, stateDir, countDirs(stateDir, merge))
      if (merge.nonEmpty) merged.write.parquet(s"$stage/counts/${merge.last}")
      // horizon dirs carry over with their data (small count tables —
      // one read+write each); merged ids become marker-only tombstones
      batches.takeRight(keepLast).foreach { b =>
        countDirs(stateDir, Seq(b)).filter(StreamFs.hasDataFiles).foreach(
          spark.read.parquet(_).write.parquet(s"$stage/counts/$b"))
      }
      store.markAll(stage, batches)
      store.recordFold(stateDir, stage, merge)
    }

  /** The count dirs of committed batches `names` a takedown leaves. */
  private def countDirs(stateDir: String, names: Seq[String]): Seq[String] =
    Takedown.batchGrainDirs(stateDir, names.map(b => s"$stateDir/counts/$b"))

  /** The merged count table over every committed batch: counts ADD. */
  def readCounts(spark: SparkSession, stateDir: String): DataFrame =
    sumDirs(spark, stateDir,
      Takedown.batchGrainDirs(stateDir, store.dirs(stateDir, "counts")))

  /** Merged counts over the LAST `lastK` committed batches
    * ([[BatchStore.window]]) — count linearity makes a trailing window a
    * SUBSET sum over committed dirs, nothing re-reads scored rows. Early
    * in stream life the window is everything so far — standard
    * trailing-window semantics; the same degradation applies after a
    * full compaction, so a drift consumer compacts with
    * `keepLast ≥ lastK` (see [[compact]]). */
  def readCountsWindow(spark: SparkSession, stateDir: String,
                       lastK: Int): DataFrame =
    sumDirs(spark, stateDir, Takedown.batchGrainDirs(stateDir,
      store.window(stateDir, "counts", lastK)))

  private def sumDirs(spark: SparkSession, stateDir: String,
                      dirs: Seq[String]): DataFrame =
    store.read(spark, stateDir, "counts",
        "score BIGINT, label BOOLEAN, decision BOOLEAN, n BIGINT", dirs)
      .groupBy("score", "label", "decision").agg(sum("n").as("n"))

  /** The LIVE gate report over everything scored so far — identical
    * arithmetic to the batch [[EvalQueries.gateEval]] by construction. */
  def gateEvalLive(spark: SparkSession, stateDir: String,
                   gate: String): DataFrame =
    EvalQueries.gateEvalFromCounts(gate, readCounts(spark, stateDir))

  /** The LIVE PR curve — same state, same shared tail. */
  def prCurveLive(spark: SparkSession, stateDir: String): DataFrame =
    EvalQueries.prCurveFromCounts(readCounts(spark, stateDir))

  /** The LIVE calibration (score-band reliability) report — the same
    * committed counts through the batch arithmetic verbatim
    * ([[EvalQueries.calibrationFromCounts]]): bands are sums over the
    * count table, so the streamed report equals the batch operator on
    * the union of ingested rows by the same linearity as the gate
    * report. */
  def calibrationLive(spark: SparkSession, stateDir: String, gate: String,
                      binWidth: Long): DataFrame =
    EvalQueries.calibrationFromCounts(gate, readCounts(spark, stateDir),
      binWidth)

  /** BAND-GRAIN drift — [[gateEvalDrift]]'s question asked per score
    * band: WHICH region of the score axis is drifting? The one-row
    * drift report can stay flat while a single band's positive rate
    * inverts (a poisoned source entering one score region); this face
    * puts the trailing-`lastK`-batch band table next to the lifetime
    * one with per-band deltas. Both legs are
    * [[EvalQueries.calibrationFromCounts]] over subset sums of the
    * same committed count dirs — window bins are a subset of lifetime
    * bins by construction (LEFT join + zero-fill). */
  def calibrationDrift(spark: SparkSession, stateDir: String, gate: String,
                       binWidth: Long, lastK: Int): DataFrame = {
    val life = calibrationLive(spark, stateDir, gate, binWidth)
      .select(col("bin"), col("score_lo"), col("n").as("n_life"),
        col("pos_rate").as("pos_rate_life"),
        col("dec_rate").as("dec_rate_life"))
    val win = EvalQueries.calibrationFromCounts(gate,
        readCountsWindow(spark, stateDir, lastK), binWidth)
      .select(col("bin"), col("n").as("n_window"),
        col("pos_rate").as("pos_rate_window"),
        col("dec_rate").as("dec_rate_window"))
    life.join(win, Seq("bin"), "left")
      .select(lit(gate).as("gate"), col("bin"), col("score_lo"),
        col("n_life"), coalesce(col("n_window"), lit(0L)).as("n_window"),
        col("pos_rate_life"),
        coalesce(col("pos_rate_window"), lit(0.0)).as("pos_rate_window"),
        round(coalesce(col("pos_rate_window"), lit(0.0))
          - col("pos_rate_life"), 6).as("pos_rate_delta"),
        col("dec_rate_life"),
        coalesce(col("dec_rate_window"), lit(0.0)).as("dec_rate_window"))
      .sortWithinPartitions("bin")
  }

  /** The gate report over the trailing `lastK` batches only — the same
    * shared tail over [[readCountsWindow]]'s subset sum, so window ≡
    * the batch operator over exactly the window's rows (spec-pinned). */
  def gateEvalWindow(spark: SparkSession, stateDir: String, gate: String,
                     lastK: Int): DataFrame =
    EvalQueries.gateEvalFromCounts(gate,
      readCountsWindow(spark, stateDir, lastK))

  /** DRIFT report — the question the monitor exists for: is the gate's
    * behavior on RECENT data diverging from its lifetime behavior?
    * Lifetime metrics dilute drift exactly when the corpus is largest
    * (round-13 verdict #4); this face puts the trailing-`lastK`-batch
    * report next to the lifetime report with explicit deltas, both
    * legs the identical [[EvalQueries.gateEvalFromCounts]] arithmetic
    * over subset sums of the same committed count dirs. One row:
    * (gate, n_life, n_window, auc_life/window/delta,
    * precision_life/window, recall_life/window, f1_life/window/delta).
    * The assembly crossJoin is the allowlisted 1-row × 1-row class. */
  def gateEvalDrift(spark: SparkSession, stateDir: String, gate: String,
                    lastK: Int): DataFrame = {
    val life = gateEvalLive(spark, stateDir, gate)
      .select(col("gate"), (col("n_pos") + col("n_neg")).as("n_life"),
        col("auc").as("auc_life"), col("precision").as("precision_life"),
        col("recall").as("recall_life"), col("f1").as("f1_life"))
    val win = gateEvalWindow(spark, stateDir, gate, lastK)
      .select((col("n_pos") + col("n_neg")).as("n_window"),
        col("auc").as("auc_window"),
        col("precision").as("precision_window"),
        col("recall").as("recall_window"), col("f1").as("f1_window"))
    life.crossJoin(win) // 1-row × 1-row report assembly (allowlisted)
      .select(col("gate"), col("n_life"), col("n_window"),
        col("auc_life"), col("auc_window"),
        round(col("auc_window") - col("auc_life"), 6).as("auc_delta"),
        col("precision_life"), col("precision_window"),
        col("recall_life"), col("recall_window"),
        col("f1_life"), col("f1_window"),
        round(col("f1_window") - col("f1_life"), 6).as("f1_delta"))
  }

  // ---- bench-only live face ---------------------------------------------

  /** BENCH-ONLY: the live gate report against a committed monitor state
    * built once per sf dir by ingesting the high-NDV gate's scored rows
    * in 4 micro-batches (warmup pays the scoring + ingest); timed passes
    * report what a deployment's dashboard pays per refresh — a sum over
    * the committed count dirs + the metric tail. EvalStreamSpec pins
    * stream ≡ batch exactly. */
  def gateEvalLiveBench(s: SparkSession, dir: String): DataFrame =
    gateEvalLive(s, highNdvState(s, dir), "highndv")

  /** The shared 4-batch monitor state behind the bench/drift faces:
    * the high-NDV gate's scored rows ingested as batch i = scores ≡ i
    * (mod 4) — DETERMINISTIC batching, so the drift face's window is a
    * DuckDB-expressible predicate (`score % 4 IN (2, 3)`) and the face
    * can be oracled, not just spec-pinned. */
  private def highNdvState(s: SparkSession, dir: String): String =
    FaceState("eval-stream", dir) { d =>
      val scored = graft.ops.CurationQueries.highNdvScored(s, dir)
        .localCheckpoint()
      (0 until 4).foreach(i => applyMicroBatch(s,
        scored.filter(pmod(col("score"), lit(4)) === i), d, i.toLong))
    }

  /** REGISTERED drift face (DuckDB-oracled): trailing-2-of-4-batch vs
    * lifetime report over the deterministic [[highNdvState]] — the
    * window is exactly the rows with `score % 4 IN (2, 3)`, which is
    * what the oracle recomputes with the same shared eval arithmetic
    * ([[EvalQueries.gateEvalDriftSql]]). The monitor state is built
    * once per (JVM, dir) by [[FaceState]] — Verify sees the deterministic report, Bench
    * times the dashboard-refresh cost (two subset sums + two tails). */
  def gateEvalDriftQuery(s: SparkSession, dir: String): DataFrame =
    gateEvalDrift(s, highNdvState(s, dir), "highndv", lastK = 2)

  /** Band width for the registered live-calibration face: the highndv
    * grid is uniform on [0, 1e9), so 1e9/20 gives 20 always-populated
    * bands. */
  val calibrationLiveBinWidth: Long = 50000000L

  /** REGISTERED live-calibration face (DuckDB-oracled): the score-band
    * reliability report served from the SAME deterministic committed
    * monitor state as the drift face — by count linearity the report
    * equals the batch [[EvalQueries.calibrationReport]] over all
    * ingested rows, which is exactly what the oracle recomputes
    * ([[EvalQueries.calibrationSql]] over the highndv scored rows). */
  def calibrationLiveQuery(s: SparkSession, dir: String): DataFrame =
    calibrationLive(s, highNdvState(s, dir), "highndv",
      calibrationLiveBinWidth)

  /** REGISTERED band-grain drift face (DuckDB-oracled): trailing-2-of-4
    * batches vs lifetime over the deterministic [[highNdvState]] — the
    * window is `score % 4 IN (2, 3)` exactly, which the oracle
    * recomputes through [[EvalQueries.calibrationDriftSql]]. */
  def calibrationDriftQuery(s: SparkSession, dir: String): DataFrame =
    calibrationDrift(s, highNdvState(s, dir), "highndv",
      calibrationLiveBinWidth, lastK = 2)

  /** REGISTERED + DuckDB-oracled — the gate monitor under BATCH-GRAIN
    * takedown: the deterministic 4-batch ingest (score mod 4), batch 1
    * removed; the post-takedown drift report must equal the oracle's
    * replay over the SURVIVING batches' rows (`score % 4 != 1`
    * lifetime, `score % 4 IN (2, 3)` window — the removed batch is an
    * empty window MEMBER, never a shift of the window into history).
    * Count-subtraction-by-exclusion graded end to end by the driver,
    * not only spec-pinned. */
  def takedownReplayEval(s: SparkSession, dir: String): DataFrame = {
    val st = FaceState("eval-takedown", dir) { d =>
      val scored = graft.ops.CurationQueries.highNdvScored(s, dir)
        .localCheckpoint()
      (0 until 4).foreach(i => applyMicroBatch(s,
        scored.filter(pmod(col("score"), lit(4)) === i), d, i.toLong))
      applyTakedown(s, d, Seq(1L), takedownId = 0L)
    }
    gateEvalDrift(s, st, "highndv", lastK = 2)
  }
}
