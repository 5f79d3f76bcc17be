package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** INGESTION-TIME streaming dedup — the streaming face of
  * [[graft.ops.DedupQueries.dedupIncremental]]: each micro-batch of
  * documents is deduplicated within itself, probed against the PERSISTED
  * corpus hash index, and only novel documents are appended; the index
  * gains exactly their hashes. The corpus thus never holds two documents
  * with the same content hash, no matter how input batches interleave.
  *
  * Exactly-once without a commit log: each batch writes to its OWN
  * `batch=<id>` subdirectory, and the batch is committed exactly when the
  * corpus batch directory carries the [[BatchStore]] commit marker — a
  * replayed batch id (foreachBatch redelivery after a crash) sees its
  * marker and no-ops. The corpus/index reads union the committed batch
  * directories — a plain parquet read over their paths.
  *
  * Scale notes (100 TB): the per-batch work is ONE equi-join of a
  * batch-sized probe against the index keyed by content hash — the index
  * at production scale is bucketed by hash so the probe co-locates
  * (`streaming/Scd2Stream.applyMicroBatchBucketed` shows that layout);
  * nothing ever rescans the corpus text. Within-batch dedup is a window
  * over the batch only. Appends are new files — no rewrite of history.
  *
  * FILESYSTEM CONTRACT: the commit, recovery and compaction-swap
  * protocol is [[BatchStore]]'s, all I/O through [[StreamFs]]
  * (`org.apache.hadoop.fs.FileContext`), so the layout works on any
  * Hadoop-reachable store; only [[compact]]'s root swap wants atomic
  * directory renames.
  */
object DedupStream {

  /** The marker-committed layout this gate shares with [[NearDupStream]],
    * [[MediaStream]], [[UrlStream]], [[WinnowStream]] and
    * [[ScrubStream]]: `docs` carries the commit marker; `index`, `drops`
    * and (media/url) `counts` are written before it. */
  private[streaming] val store = new BatchStore("docs", "index", "drops",
    "counts")

  /** Start the ingest stream: `docs` must carry (doc_id long, text string). */
  def start(spark: SparkSession, docs: DataFrame, corpusDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(docs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, corpusDir, _))

  /** One micro-batch: within-batch dedup (min doc_id per hash wins, the
    * same canonical rule as the batch operators), anti-probe of the
    * persisted index, append novel docs + their index entries; dropped
    * docs are QUARANTINED to `drops/batch=N` (full rows) so a later
    * [[Takedown]] can re-elect a representative when a kept canonical
    * is removed — the gate's job is selection, not deletion (a crawl
    * pipeline keeps the raw arrivals anyway). Idempotent per `batchId`:
    * the committed marker is the replay check. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame, corpusDir: String,
                      batchId: Long): Unit = {
    // the compact/ingest exclusion is a loud error, not a doc contract
    // (round-13 verdict #6); a STALE lock doesn't block — recover sweeps
    if (store.replayed(corpusDir, batchId, "DedupStream.applyMicroBatch"))
      return
    // FULL 128-bit md5 hex as the claim/index key (the CurationStream
    // rule, round-15 verdict #3): a 60-bit prefix key silently FALSELY
    // REJECTS ~n^2/2^61 novel docs at the 1e9-doc target — data loss for
    // an exact gate. 60-bit keys stay where collisions are by design
    // (minhash/simhash/sketch families).
    val all = batch
      .withColumn("content_hash", md5(col("text")))
      .persist()
    val hashed = all
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
      .filter(col("__rank") === 1).drop("__rank")
      .persist()
    try {
      // anti-probe keyed by the BATCH's hash set: the broadcast
      // semi-join filters the ever-growing index map-side down to the
      // (≤ batch-sized) hits, which then broadcast as the anti-join's
      // build side — the index is never shuffled, per-batch cost stays
      // proportional to the batch + one index scan (the round-11
      // WinnowStream review, applied to all three ingest streams)
      val novel = (if (StreamFs.listNames(s"$corpusDir/index").nonEmpty) {
        val hits = readIndex(spark, corpusDir)
          .join(broadcast(hashed.select("content_hash").distinct()),
            Seq("content_hash"), "left_semi")
          .select("content_hash").distinct()
        hashed.join(broadcast(hits), Seq("content_hash"), "left_anti")
      } else hashed).persist()
      try {
        // index first, drops second, corpus last: the corpus marker is
        // the commit point, so a crash between the writes leaves orphan
        // index/drops dirs that recover() sweeps — never a corpus doc
        // missing its index
        // arrival_seq (= the committing batch id, monotone per gate)
        // rides every index/drops row so [[Takedown]] re-election can
        // replay the TRUE arrival order under ANY batching, and the
        // ordering survives compaction's single-dir fold (round-15
        // verdict #5 — the partition dir alone dies with compact)
        store.write(corpusDir, "index", batchId,
          novel.select("content_hash", "doc_id")
            .withColumn("arrival_seq", lit(batchId)))
        store.write(corpusDir, "drops", batchId,
          all.join(novel.select("doc_id"), Seq("doc_id"), "left_anti")
            .select("doc_id", "content_hash", "text")
            .withColumn("arrival_seq", lit(batchId)))
        store.write(corpusDir, "docs", batchId,
          novel.select("doc_id", "content_hash", "text"))
      } finally { novel.unpersist(); () }
    } finally { hashed.unpersist(); all.unpersist(); () }
  }

  /** COMPACTION — the small-files maintenance pass: a long-lived ingest
    * stream accumulates one `batch=N` directory per micro-batch; this
    * rewrites all committed data into the single highest-id batch
    * directory and leaves every other committed `batch=N` as an empty
    * MARKER directory (just the commit marker file), because a batch
    * id's committed-ness — the replay no-op check, and the readers' twin
    * check — is exactly "the marker exists"; compaction must not forget
    * ids. Works on any corpus with this layout ([[DedupStream]] and
    * [[NearDupStream]]); the rewrite is schema-agnostic.
    *
    * Crash-safe via [[BatchStore.compact]]'s root-level rename-aside
    * swap: the rebuilt corpus is staged beside the root, the live root
    * renamed aside, the stage renamed in; [[recover]] completes or rolls
    * back an interrupted swap. CONTRACT:
    * run while the ingest stream is idle (between micro-batches or with
    * the query stopped) — same as any table-maintenance operation, and
    * ENFORCED: [[applyMicroBatch]] throws while the [[CompactionLock]]
    * is live. The lock is acquired atomically and heartbeated, so a
    * long-running compaction is never falsely reclaimed while a stray
    * concurrent recover() would otherwise sweep the stage mid-build. */
  def compact(spark: SparkSession, corpusDir: String): Unit =
    store.compact(corpusDir) { stage =>
      val committedBatches = store.committed(corpusDir)
      val hasTakedowns = BatchStore.takedownDirs(corpusDir).nonEmpty
      // a takedown can exist against an all-swept corpus (removal-only
      // tombstone); with no committed batch there is nothing to fold
      if (committedBatches.isEmpty) return
      if (committedBatches.length <= 1 && !hasTakedowns) return
      val target = committedBatches.last
      // takedowns FOLD physically here: removed rows are anti-joined
      // out of every sub-table, promoted rows (staged by Takedown.apply
      // in the docs/index schemas) merge into docs/index, and the staged
      // root carries no takedown dirs — the logical tombstone view and
      // this physical rewrite are pinned equal in TakedownSpec. The
      // rewrite is still schema-agnostic: all gate knowledge lives in
      // the td dirs' pre-shaped tables. An ALL-SWEPT base (every
      // committed dir marker-only after a takedown removed everything +
      // a prior compact) has no parquet to read, so the fold degrades
      // to just the surviving promoted rows
      // (round-15 ADVICE).
      def foldSub(sub: String, promotedName: String): Unit =
        store.scan(spark, corpusDir, sub)
          .map(Takedown.view(spark, corpusDir, _, sub))
          .orElse(Takedown.promotedSurvivors(spark, corpusDir, promotedName))
          .foreach(_.write.parquet(s"$stage/$sub/$target"))
      foldSub("docs", "promoted_docs")
      foldSub("index", "promoted_index")
      store.scan(spark, corpusDir, "drops").foreach(
        Takedown.view(spark, corpusDir, _, "drops")
          .write.parquet(s"$stage/drops/$target"))
      // counts rows are ADDITIVE and ingest-time history: concatenate
      // (readers sum at read time; takedowns deliberately don't touch
      // them — see MediaStream.mediaGateDrift)
      store.scan(spark, corpusDir, "counts").foreach(
        _.write.parquet(s"$stage/counts/$target"))
      // marker-only dirs keep every committed id recognizable on replay
      store.markAll(stage, committedBatches)
    }

  /** Drop batch dirs that never reached their commit marker (crash before
    * the corpus write completed), index/drops/counts dirs with no
    * committed corpus twin (crash between the writes), any stale temp
    * dirs and uncommitted takedowns, and complete or roll back an
    * interrupted [[compact]] swap ([[BatchStore.recover]]). Safe to call
    * any time. */
  def recover(corpusDir: String): Unit = store.recover(corpusDir)

  /** The deduplicated corpus so far (committed batches only, committed
    * takedowns applied — [[Takedown.view]]). */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame =
    Takedown.view(spark, corpusDir, store.read(spark, corpusDir, "docs",
      "doc_id BIGINT, content_hash STRING, text STRING"), "docs")

  /** The (content_hash, doc_id) index the probes run against. Only hashes
    * whose corpus twin committed count as "seen": the read lists exactly
    * the committed batch directories (partition pruning by path), rather
    * than filtering with an `isin` over every batch id — an In-list that
    * would grow the plan linearly with stream lifetime. The driver-side
    * directory listing is the same O(#batches) the old filter paid, paid
    * once, off the executor path. */
  def readIndex(spark: SparkSession, corpusDir: String): DataFrame =
    Takedown.view(spark, corpusDir, store.read(spark, corpusDir, "index",
      "content_hash STRING, doc_id BIGINT, arrival_seq BIGINT"), "index")
}
