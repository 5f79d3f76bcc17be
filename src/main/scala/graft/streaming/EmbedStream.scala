package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming EMBEDDING-CENTROID DRIFT monitor — the embedding-modality
  * member of the monitor family ([[EvalStream]] watches gate scores;
  * this watches the vector space itself): a 100 TB ingest drifts when
  * the encoder version changes, a new source enters the mix, or a
  * crawler starts feeding junk — all of which move per-label centroids
  * long before any downstream gate notices. The deployment question is
  * "is RECENT data pointing where lifetime data pointed?", answered per
  * label as the cosine between the trailing-window centroid and the
  * lifetime centroid, plus a norm ratio (magnitude drift).
  *
  * Exactness: per-batch state is the (label, dim, s_micro, n) table
  * where s_micro sums each component QUANTIZED to integer micro-units
  * (round(x·1e6) — the house all-BIGINT rule). Integer sums are
  * associative and commutative, so state over a union of batches is
  * the SUM of per-batch state under ANY batching — stream ≡ batch
  * EXACTLY, not approximately (EmbedStreamSpec pins it), and the
  * quantization is part of the OPERATOR's definition (documented,
  * 1e-6 per component — far below any drift a monitor would alarm on),
  * not an implementation error. The only doubles are the final cosine
  * and norm folds, both over ≤[[graft.ops.SimilarityQueries.embeddingDim]]
  * values in fixed dim order — bit-identical in both engines (the
  * duckCos precedent).
  *
  * Scale shape: a micro-batch collapses to |labels|·dim count rows (a
  * few KB) in one hash aggregate — state-BLIND ingest like
  * [[CmsStream]]/[[EvalStream]], so steady-state cost never grows with
  * history; the report is a subset sum over committed dirs plus a
  * ≤|labels|-row fold. Crash safety, replay and the ingest/compact
  * lock are the [[BatchStore]] protocol; the compaction horizon is
  * [[EvalStream]]'s. */
object EmbedStream {

  private val store = new BatchStore("counts")

  /** Collapse a batch of (label, embedding) rows to its integer-micro
    * component-sum table — THE state row shape, and the linear unit the
    * merge sums. Quantization happens here, per component, BEFORE any
    * aggregation, so every downstream sum is exact. */
  def embedCounts(batch: DataFrame): DataFrame =
    batch.select(col("label"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(sum(round(col("x") * 1e6).cast("long")).as("s_micro"),
        count(lit(1)).as("n"))

  /** Start the monitor stream: `vecs` must carry (label int,
    * embedding array<float|double>). */
  def start(spark: SparkSession, vecs: DataFrame, stateDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(vecs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, stateDir, _))

  /** One micro-batch: collapse to the component-sum table, commit under
    * `counts/batch=N`. Idempotent per `batchId`. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame,
                      stateDir: String, batchId: Long): Unit = {
    if (store.replayed(stateDir, batchId, "EmbedStream.applyMicroBatch"))
      return
    store.write(stateDir, "counts", batchId,
      embedCounts(batch.select("label", "embedding")))
  }

  /** Sweep marker-less batch dirs; finish or roll back an interrupted
    * [[compact]] swap — [[BatchStore.recover]]. */
  def recover(stateDir: String): Unit = store.recover(stateDir)

  // ---- takedown: doc-grain subtraction by integer linearity ------------

  /** TAKEDOWN over the centroid monitor — DOC-GRAIN, unlike the
    * batch-grain [[CmsStream]]/[[EvalStream]] folds, because this
    * monitor's state is LINEAR in documents, not just in batches: the
    * per-batch cell is a sum of per-document integer-micro
    * contributions, so subtracting a removed document's quantized
    * components is EXACT (the same `round(x·1e6)` each ingest added —
    * bit-identical cancellation, no epsilon). The monitor never stored
    * the documents, so the CALLER supplies the removed rows' (doc_id,
    * batch, label, embedding) — an RTBF request names its docs, and the
    * source gate's `arrival_seq` names the batch.
    *
    * The correction is written as NEGATED cell tables PER BATCH
    * (`takedown/td=<id>/cells/batch=N`), so trailing windows subtract
    * exactly the removed mass that fell INSIDE the window — timelines
    * never shift (the zero-row-batch stance). A doc already removed by
    * an earlier committed takedown is skipped (the per-td removed-id
    * log makes resubmission a no-op, not a double subtraction), and a
    * correction against an uncommitted batch id fails loudly rather
    * than corrupting a sum that batch never joined. Idempotent per
    * takedownId; cost ∝ |removed| (one narrow explode + a ≤ |labels|·dim
    * aggregate), never the corpus. */
  def applyTakedown(spark: SparkSession, stateDir: String,
                    removed: DataFrame, takedownId: Long): Unit =
    store.commitTakedown(stateDir, takedownId) { tmp =>
      val ids = store.committed(stateDir).map(BatchStore.batchId).toSet
      val r = removed.select("doc_id", "batch", "label", "embedding")
        .localCheckpoint()
      val badBatch = r.select("batch").distinct().collect()
        .map(_.getLong(0)).filterNot(ids)
      require(badBatch.isEmpty,
        s"takedown targets uncommitted batch ids ${badBatch.toSeq.sorted}")
      // resubmission guard: drop docs an earlier committed td removed
      val fresh = Takedown.removedIds(spark, stateDir) match {
        case None => r
        case Some(prev) =>
          r.join(broadcast(prev), Seq("doc_id"), "left_anti")
      }
      val neg = fresh
        .select(col("batch"), col("label"),
          posexplode(col("embedding").cast("array<double>"))
            .as(Seq("dim", "x")))
        .groupBy("batch", "label", "dim")
        .agg((-sum(round(col("x") * 1e6).cast("long"))).as("s_micro"),
          (-count(lit(1))).as("n"))
      fresh.select("doc_id").distinct().write.parquet(s"$tmp/removed")
      neg.write.partitionBy("batch").parquet(s"$tmp/cells")
    }

  /** Committed negated-correction cell dirs restricted to the batch ids
    * a reader is summing — window subtraction stays window-true. */
  private def tdCellDirs(stateDir: String, ids: Set[Long]): Seq[String] =
    BatchStore.takedownDirs(stateDir).flatMap { t =>
      StreamFs.listNames(s"$t/cells").filter(_.startsWith("batch="))
        .filter(b => ids.contains(BatchStore.batchId(b)))
        .map(b => s"$t/cells/$b")
    }.filter(StreamFs.hasDataFiles)

  /** Merge committed per-batch dirs older than the `keepLast` horizon
    * into one summed dir — [[EvalStream.compact]]'s linearity-as-
    * maintenance, heartbeated lock and crash-safe root swap
    * ([[BatchStore.compact]]) included. `keepLast ≥` the drift window
    * preserves trailing-window reports exactly (spec-pinned). */
  def compact(spark: SparkSession, stateDir: String,
              keepLast: Int = 0): Unit =
    store.compact(stateDir) { stage =>
      val batches = store.committed(stateDir)
      val tds = BatchStore.takedownDirs(stateDir)
      val merge = batches.dropRight(keepLast)
      if (merge.length <= 1 && tds.isEmpty) return
      // takedowns FOLD physically: every written dir is the base+
      // correction sum for its batch ids; fully-cancelled cells vanish
      def fold(names: Seq[String], target: String): Unit =
        if (names.nonEmpty) sumWithTd(spark, stateDir,
            names.map(b => s"$stateDir/counts/$b"))
          .write.parquet(s"$stage/counts/$target")
      fold(merge, if (merge.nonEmpty) merge.last else "")
      batches.takeRight(keepLast).foreach(b => fold(Seq(b), b))
      store.markAll(stage, batches)
      // td ids stay replay-recognizable; removed-id logs survive so the
      // resubmission guard keeps holding after the fold
      tds.foreach { t =>
        val staged = s"$stage/${BatchStore.TdSub}/${t.split('/').last}"
        if (StreamFs.hasDataFiles(s"$t/removed"))
          spark.read.parquet(s"$t/removed").write.parquet(s"$staged/removed")
        else StreamFs.mkdirs(staged)
        BatchStore.mark(staged)
      }
    }

  /** Merged component sums over every committed batch (marker-only
    * tombstones excluded explicitly, never via the hidden-file
    * filter), committed takedown corrections folded in. */
  def readCounts(spark: SparkSession, stateDir: String): DataFrame =
    sumWithTd(spark, stateDir, store.dirs(stateDir, "counts"))

  /** Merged sums over the trailing `lastK` committed batches
    * ([[BatchStore.window]]) — integer linearity makes the window a
    * subset sum. */
  def readCountsWindow(spark: SparkSession, stateDir: String,
                       lastK: Int): DataFrame =
    sumWithTd(spark, stateDir, store.window(stateDir, "counts", lastK))

  /** The effective component sums of a batch-dir member set: base cells
    * plus the committed takedown corrections FOR THOSE BATCH IDS (so a
    * window subtracts exactly the removed mass that fell inside it).
    * Fully-cancelled cells (n = 0 ⇒ every integer contribution
    * cancelled ⇒ s_micro = 0 too) drop out, exactly as a survivors-only
    * rebuild never emits them. */
  private def sumWithTd(spark: SparkSession, stateDir: String,
                        memberDirs: Seq[String]): DataFrame = {
    val base = store.read(spark, stateDir, "counts",
      "label INT, dim INT, s_micro BIGINT, n BIGINT", memberDirs)
    val tds = tdCellDirs(stateDir, memberDirs.map(BatchStore.batchId).toSet)
    (if (tds.isEmpty) base
     else base.unionByName(spark.read.parquet(tds: _*)
       .select("label", "dim", "s_micro", "n")))
      .groupBy("label", "dim")
      .agg(sum("s_micro").as("s_micro"), sum("n").as("n"))
      .filter(col("n") =!= 0)
  }

  /** The drift report over two component-sum tables: per label, the
    * cosine between the window and lifetime centroids and the ratio of
    * their norms. Cosine is scale-invariant, so it is computed directly
    * on the integer sums (centroid = sum/n only rescales); the norm
    * ratio divides by the counts explicitly. Both folds run over the
    * per-label dim-ordered array (≤ embedding-dim values — bounded,
    * deterministic order; the duckCos fold pairing). A label absent
    * from the window reports n_window = 0 with zeroed metrics rather
    * than NaN. */
  def driftFromCounts(life: DataFrame, win: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.dotProduct
    val j = life.select(col("label"), col("dim"),
        col("s_micro").as("sl"), col("n").as("nl"))
      .join(win.select(col("label"), col("dim"),
        col("s_micro").as("sw"), col("n").as("nw")),
        Seq("label", "dim"), "left")
    val g = j.groupBy("label")
      .agg(max(col("nl")).as("n_life"),
        max(coalesce(col("nw"), lit(0L))).as("n_window"),
        array_sort(collect_list(struct(col("dim"),
          col("sl").cast("double").as("a"),
          coalesce(col("sw"), lit(0L)).cast("double").as("b")))).as("vs"))
    def comp(f: Column => Column): Column = f(col("vs"))
    val a = comp(v => transform(v, _("a")))
    val b = comp(v => transform(v, _("b")))
    val dot = dotProduct(a, b)
    val a2 = sqrt(dotProduct(a, a))
    val b2 = sqrt(dotProduct(b, b))
    g.select(col("label"), col("n_life"), col("n_window"),
        when(col("n_window") > 0 && a2 > 0 && b2 > 0,
          round(dot / (a2 * b2), 6)).otherwise(lit(0.0))
          .as("centroid_cos"),
        when(col("n_window") > 0 && a2 > 0,
          round((b2 / col("n_window")) / (a2 / col("n_life")), 6))
          .otherwise(lit(0.0)).as("norm_ratio"))
      .orderBy("label")
  }

  /** The live drift report: trailing `lastK` batches vs lifetime. */
  def embeddingDriftLive(spark: SparkSession, stateDir: String,
                         lastK: Int): DataFrame =
    driftFromCounts(readCounts(spark, stateDir),
      readCountsWindow(spark, stateDir, lastK))

  // ---- registered deterministic face -------------------------------------

  /** The deterministic 4-batch monitor state: batch i holds the
    * vectors with vec_id ≡ i (mod 4), so the trailing-2 window is
    * exactly `vec_id % 4 IN (2, 3)` — a DuckDB-expressible predicate,
    * making the registered face oracle-checkable end to end (the
    * [[EvalStream.highNdvState]] scheme). Built once per JVM by
    * [[FaceState]]. */
  private def embedState(s: SparkSession, dir: String): String =
    FaceState("embed-stream", dir) { d =>
      val vecs = graft.Tables.embeddings(s, dir)
        .select("vec_id", "label", "embedding").localCheckpoint()
      (0 until 4).foreach(i => applyMicroBatch(s,
        vecs.filter(pmod(col("vec_id"), lit(4)) === i), d, i.toLong))
    }

  /** REGISTERED drift face (DuckDB-oracled): per-label trailing-2-of-4
    * vs lifetime centroid drift over the deterministic [[embedState]].
    * Verify checks the report against the oracle's replay of the same
    * integer-micro sums; Bench times the dashboard-refresh cost (two
    * subset sums over committed count dirs + a ≤|labels| fold). */
  def embeddingDriftQuery(s: SparkSession, dir: String): DataFrame =
    embeddingDriftLive(s, embedState(s, dir), lastK = 2)

  /** REGISTERED + DuckDB-oracled — the centroid monitor under DOC-GRAIN
    * takedown: the deterministic 4-batch ingest, then a takedown of
    * every [[Takedown.replayRemovalStride]]-th vec_id (batch = vec_id
    * mod 4, the id its ingest actually fell in); the post-takedown
    * drift report must equal the oracle's survivors-only replay of the
    * integer-micro sums — lifetime AND trailing-window legs both, or
    * the subtraction missed (or double-counted) mass. */
  def takedownReplayEmbed(s: SparkSession, dir: String): DataFrame = {
    val st = FaceState("embed-takedown", dir) { d =>
      val vecs = graft.Tables.embeddings(s, dir)
        .select("vec_id", "label", "embedding").localCheckpoint()
      (0 until 4).foreach(i => applyMicroBatch(s,
        vecs.filter(pmod(col("vec_id"), lit(4)) === i), d, i.toLong))
      applyTakedown(s, d,
        vecs.filter(col("vec_id") % Takedown.replayRemovalStride === 0)
          .select(col("vec_id").as("doc_id"),
            pmod(col("vec_id"), lit(4)).cast("long").as("batch"),
            col("label"), col("embedding")),
        takedownId = 0L)
    }
    embeddingDriftLive(s, st, lastK = 2)
  }
}
