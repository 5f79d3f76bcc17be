package graft.streaming

import graft.ops.PrepQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** INGESTION-TIME exact-span scrub — the streaming face of
  * [[graft.ops.PrepQueries.dedupSpanScrub]] (C4's span dedup, Raffel et
  * al. JMLR'20 §2.2), and a different SHAPE of ingest gate than the
  * dedup trio: [[DedupStream]]/[[NearDupStream]]/[[UrlStream]] admit or
  * drop WHOLE documents, while a span gate TRIMS each admitted document
  * — every document survives, minus the spans some earlier document
  * already carried (boilerplate headers, license blocks, templated
  * paragraphs). A crawl pipeline wants this at ingest because the
  * repeated spans are exactly what balloons raw crawl bytes.
  *
  * Per micro-batch: split to hashed spans ([[PrepQueries.spansOf]] —
  * the batch operator's splitter verbatim), mark within-batch first
  * occurrences (the batch operator's window, batch-sized), anti-probe
  * the PERSISTED span-hash index, reassemble cleaned text through the
  * shared tail ([[PrepQueries.scrubAssemble]]), commit the batch's
  * novel span hashes. The index PROBE is by the 60-bit span hash ALONE
  * — the batch operator itself canonicalizes BY the hash (its
  * first-occurrence window partitions on `h`), so hash-keyed probing is
  * the batch semantics; each index row also records its OWNING first
  * occurrence (doc_id, arrival_seq) so a takedown can re-elect span
  * ownership (below) without rescanning any text.
  *
  * Under id-ordered batching the concatenated scrubbed output is
  * EXACTLY the batch operator on the full corpus (global first
  * occurrence = first in SOME earlier batch ∨ first within this batch;
  * ScrubStreamSpec pins it for 1/3/5-way batchings, the registered
  * `dedup_span_scrub_stream` face pins it against the batch face's own
  * DuckDB oracle).
  *
  * TAKEDOWN — span RESTITUTION, the trim-gate flavor of the removal
  * story (the whole-doc gates re-ELECT quarantined docs; a trim gate
  * must re-elect quarantined SPANS): removing a document removes its
  * trimmed output AND its claim to the spans it was first to carry. A
  * span class whose first occurrence is removed passes to the earliest
  * surviving occurrence — by the persisted (arrival_seq, doc_id,
  * span_idx) order, the literal replay — and the new owner's cleaned
  * text REGAINS that span. To make restitution possible without
  * re-reading any removed payload, every document that loses ≥ 1 span
  * at ingest quarantines its FULL span table (kept + trimmed rows,
  * `drops/batch=N`) — the "selection, not deletion" stance the
  * whole-doc gates apply to whole documents, applied to the span
  * grain. A corrected document's text is reassembled from those
  * quarantined spans with keep verdicts recomputed from the
  * post-takedown OWNERSHIP view (never from the stale stored
  * verdicts), so stacked takedowns stay replay-exact at any depth.
  * `takedown_replay_scrub` pins the post-takedown corpus against the
  * batch operator's own SQL over the survivors; ScrubStreamSpec pins
  * restitution, stacked ownership chains, idempotent replay, and the
  * physical [[compact]] fold.
  *
  * Storage layout, marker commit protocol, idempotent replay and crash
  * sweep (takedown debris included) and the [[CompactionLock]] ingest
  * guard are [[DedupStream]]'s [[BatchStore]] layout; [[compact]] is
  * this gate's own fold because corrected documents
  * REPLACE their originals (the [[PairStream]] corrected-rows
  * semantics) rather than unioning in as the whole-doc gates' promoted
  * quarantine rows do.
  *
  * Scale notes (100 TB): the span explode is narrow; the only batch
  * shuffle is the within-batch window on `h`; the index probe is ONE
  * equi-join pre-filtered map-side by a broadcast semi-join on the
  * batch's own distinct hashes — the ever-growing index is never
  * shuffled, the batch side is. Steady-state ingest cost is batch-sized
  * regardless of history. Takedown cost is removal-proportional in the
  * same way: affected span classes come from one broadcast semi-probe
  * of the index by the removed ids; election candidates from one
  * index-then-drops probe keyed by those classes; nothing
  * corpus-proportional is ever broadcast, collected, or rewritten
  * (the physical rewrite is [[compact]]'s job, amortized across
  * takedowns). */
object ScrubStream {

  private def store = DedupStream.store

  /** Start the ingest stream: `docs` must carry
    * (doc_id long, text string). */
  def start(spark: SparkSession, docs: DataFrame, corpusDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(docs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, corpusDir, _))

  /** One micro-batch: split, mark batch-first spans, anti-probe the
    * index, emit trimmed docs, commit novel span hashes (owner-
    * attributed) and the trimmed docs' quarantined span tables.
    * Idempotent per `batchId` via the docs commit marker. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame,
                      corpusDir: String, batchId: Long): Unit = {
    // same layout → same ingest guard and orphan sweep
    if (store.replayed(corpusDir, batchId, "ScrubStream.applyMicroBatch"))
      return
    val spans = PrepQueries.firstOccurrence(
      PrepQueries.spansOf(batch.select("doc_id", "text")))
      .withColumnRenamed("keep_span", "first_in_batch")
      .persist()
    try {
      // hashes already committed by earlier batches: index ⋉ batch keys
      // (broadcast the BATCH side — bounded; the index is never moved)
      val seen = readIndex(spark, corpusDir)
        .join(broadcast(spans.select("h").distinct()), Seq("h"), "left_semi")
        .distinct()
      val marked = spans
        .join(broadcast(seen.withColumn("__seen", lit(1))), Seq("h"), "left")
        .withColumn("keep_span",
          col("first_in_batch") && col("__seen").isNull)
        .persist()
      try {
        // index / drops first, docs last — the docs marker is the
        // commit point; a crash between leaves orphan index/drops dirs
        // recover() sweeps. Index rows carry their owning first
        // occurrence; kept = first_in_batch ∧ unseen is unique per h.
        store.write(corpusDir, "index", batchId,
          marked.filter(col("keep_span")).select("h", "doc_id")
            .withColumn("arrival_seq", lit(batchId)))
        // quarantine: the FULL span table of every doc that lost ≥ 1
        // span — restitution reassembles corrected text from these
        // rows, so no takedown ever re-reads a payload
        store.write(corpusDir, "drops", batchId,
          marked.join(
              marked.filter(!col("keep_span")).select("doc_id").distinct(),
              Seq("doc_id"), "left_semi")
            .select("doc_id", "span_idx", "span_text", "h", "keep_span")
            .withColumn("arrival_seq", lit(batchId)))
        store.write(corpusDir, "docs", batchId,
          PrepQueries.scrubAssemble(
            marked.select("doc_id", "span_idx", "span_text", "keep_span")))
      } finally { marked.unpersist(); () }
    } finally { spans.unpersist(); () }
  }

  // ---- takedown-aware readers -----------------------------------------

  /** The trimmed corpus so far: (doc_id, n_spans, n_dropped,
    * text_clean) — one row per surviving ingested document, committed
    * takedowns applied: removed docs gone, corrected (restituted) rows
    * replacing their originals, the LATEST correction per doc winning
    * (stacked takedowns touch a doc once per affected class). */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame = {
    val base = store.read(spark, corpusDir, "docs",
      "doc_id BIGINT, n_spans BIGINT, n_dropped BIGINT, text_clean STRING")
    (Takedown.removedIds(spark, corpusDir), correctedLatest(spark, corpusDir)) match {
      case (None, _) => base
      case (Some(r), corr) =>
        val pruned = base.join(broadcast(r), Seq("doc_id"), "left_anti")
        corr match {
          case None => pruned
          case Some(c) =>
            val cs = c.join(broadcast(r), Seq("doc_id"), "left_anti")
            pruned.join(broadcast(cs.select("doc_id")),
                Seq("doc_id"), "left_anti")
              .unionByName(cs.select(pruned.columns.map(col): _*))
        }
    }
  }

  /** Latest corrected row per doc across committed takedowns (td_seq
    * desc — a doc corrected by td 0 and again by td 2 reads as td 2's
    * reassembly, which recomputed EVERY span verdict from the then-
    * current ownership view). */
  private def correctedLatest(spark: SparkSession,
                              corpusDir: String): Option[DataFrame] =
    Takedown.readSub(spark, corpusDir, "corrected").map { c =>
      c.withColumn("__rk", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("td_seq").desc)))
        .filter(col("__rk") === 1).drop("__rk", "td_seq")
    }

  /** The owner-attributed span-class index (h, doc_id, arrival_seq),
    * committed takedowns applied: a removed owner's claim vanishes and
    * the re-elected surviving owner's row stands in — so the ingest
    * probe readmits a span class with no surviving holder, exactly as
    * a from-scratch ingest of the survivors would. */
  private[streaming] def readIndexFull(spark: SparkSession,
                                       corpusDir: String): DataFrame = {
    val base = store.read(spark, corpusDir, "index",
      "h BIGINT, doc_id BIGINT, arrival_seq BIGINT")
    Takedown.removedIds(spark, corpusDir) match {
      case None => base
      case Some(r) =>
        val pruned = base.join(broadcast(r), Seq("doc_id"), "left_anti")
        Takedown.readSub(spark, corpusDir, "promoted_index") match {
          case None => pruned
          // a promoted owner removed by a LATER takedown prunes too
          case Some(p) => pruned.unionByName(
            p.join(broadcast(r), Seq("doc_id"), "left_anti")
              .select("h", "doc_id", "arrival_seq"))
        }
    }
  }

  /** The committed span-class probe view (h only — the ingest probe's
    * shape). */
  def readIndex(spark: SparkSession, corpusDir: String): DataFrame =
    readIndexFull(spark, corpusDir).select("h")

  /** Quarantined span tables of removal survivors (removed docs' rows
    * are gone with their text — the quarantine is itself personal
    * data). Stored keep verdicts are ingest history; corrections
    * recompute them from ownership, so stale `keep_span` on a restored
    * span is harmless (its doc can only be re-touched via classes whose
    * CURRENT owner is removed, and it owns that class). */
  private def readDropsView(spark: SparkSession,
                            corpusDir: String): Option[DataFrame] = {
    val base = store.scan(spark, corpusDir, "drops").getOrElse(return None)
      .select("doc_id", "span_idx", "span_text", "h", "keep_span",
        "arrival_seq")
    Some(Takedown.removedIds(spark, corpusDir) match {
      case None => base
      case Some(r) => base.join(broadcast(r), Seq("doc_id"), "left_anti")
    })
  }

  // ---- takedown ---------------------------------------------------------

  /** TAKEDOWN — remove documents and re-elect span ownership (scaladoc
    * above). Writes `takedown/td=<id>/{removed,promoted_index,corrected}`
    * in one marker-committed pass; idempotent per takedownId. Cost ∝
    * |removals| + affected span classes: every index/drops probe below
    * is map-side filtered by a removal-proportional broadcast. */
  def applyTakedown(spark: SparkSession, corpusDir: String,
                    removed: DataFrame, takedownId: Long): Unit =
    store.commitTakedown(corpusDir, takedownId) { tmp =>
      val r = removed.select("doc_id").distinct().localCheckpoint()
      val idxFull = readIndexFull(spark, corpusDir)
      // span classes whose CURRENT owner is removed — the affected set
      val affected = idxFull.join(broadcast(r), Seq("doc_id"), "left_semi")
        .select("h").distinct().localCheckpoint()
      val promoted = readDropsView(spark, corpusDir) match {
        case None => None
        case Some(drops) =>
          // election: earliest surviving occurrence per affected class,
          // by the persisted arrival order — candidates are trimmed
          // occurrences (the removed owner held the only kept one)
          val cands = drops.filter(!col("keep_span"))
            .join(broadcast(affected), Seq("h"), "left_semi")
            .join(broadcast(r), Seq("doc_id"), "left_anti")
          val p = cands.withColumn("__rk", row_number().over(
              Window.partitionBy(col("h"))
                .orderBy(col("arrival_seq"), col("doc_id"), col("span_idx"))))
            .filter(col("__rk") === 1)
            .select("h", "doc_id", "arrival_seq").localCheckpoint()
          if (p.isEmpty) None else Some(p)
      }
      val corrected = promoted.flatMap { p =>
        val ids = p.select("doc_id").distinct()
        readDropsView(spark, corpusDir).flatMap { drops =>
          // reassemble each new owner from its quarantined span table,
          // verdicts recomputed from the POST-takedown ownership view:
          // keep ⟺ this doc owns the class ∧ this is its first
          // occurrence of it (within-doc repeats stay trimmed)
          val dDocs = drops.join(broadcast(ids), Seq("doc_id"), "left_semi")
          val own = idxFull.join(broadcast(r), Seq("doc_id"), "left_anti")
            .unionByName(p)
            .join(broadcast(ids), Seq("doc_id"), "left_semi")
            .select(col("h"), col("doc_id")).withColumn("__own", lit(1))
          val firstOcc = dDocs.groupBy("doc_id", "h")
            .agg(min(col("span_idx")).as("__first_idx"))
          val rm = dDocs
            .join(firstOcc, Seq("doc_id", "h"))
            .join(own, Seq("h", "doc_id"), "left")
            .withColumn("keep_span",
              col("__own").isNotNull && col("span_idx") === col("__first_idx"))
          val c = PrepQueries.scrubAssemble(
              rm.select("doc_id", "span_idx", "span_text", "keep_span"))
            .withColumn("td_seq", lit(takedownId)).localCheckpoint()
          if (c.isEmpty) None else Some(c)
        }
      }
      r.write.parquet(s"$tmp/removed")
      promoted.foreach(_.write.parquet(s"$tmp/promoted_index"))
      corrected.foreach(_.write.parquet(s"$tmp/corrected"))
    }

  /** COMPACTION — the [[BatchStore.compact]] rename-aside swap with
    * this gate's own fold (corrected docs REPLACE originals; the
    * whole-doc fold would keep the pre-restitution text): docs =
    * [[readCorpus]], index = [[readIndexFull]], drops =
    * [[readDropsView]], all written into the single highest committed
    * batch dir; earlier ids stay as marker-only dirs; the staged root
    * carries no takedown dirs. */
  def compact(spark: SparkSession, corpusDir: String): Unit =
    store.compact(corpusDir) { stage =>
      val committedBatches = store.committed(corpusDir)
      val hasTakedowns = BatchStore.takedownDirs(corpusDir).nonEmpty
      if (committedBatches.isEmpty) return
      if (committedBatches.length <= 1 && !hasTakedowns) return
      val target = committedBatches.last
      readCorpus(spark, corpusDir).write.parquet(s"$stage/docs/$target")
      readIndexFull(spark, corpusDir).write.parquet(s"$stage/index/$target")
      readDropsView(spark, corpusDir)
        .foreach(_.write.parquet(s"$stage/drops/$target"))
      store.markAll(stage, committedBatches)
    }

  // ---- registered faces -----------------------------------------------

  /** REGISTERED + DuckDB-oracled: the trimmed corpus after ingesting
    * the documents table in 4 CONTIGUOUS id-range batches — id-ordered,
    * so the output is EXACTLY [[graft.ops.PrepQueries.dedupSpanScrub]]
    * and the face shares that operator's oracle SQL verbatim. State
    * builds once per (JVM, dir) ([[FaceState]]); Verify sees the deterministic corpus,
    * Bench times the committed-corpus read. */
  def dedupSpanScrubStream(s: SparkSession, dir: String): DataFrame = {
    val st = FaceState("scrub-stream", dir) { d =>
      val docs = graft.Tables.documents(s, dir)
        .select("doc_id", "text").localCheckpoint()
      Takedown.quartiles(docs).zipWithIndex.foreach { case (b, i) =>
        applyMicroBatch(s, b, d, i.toLong)
      }
    }
    readCorpus(s, st).orderBy("doc_id")
  }

  /** REGISTERED + DuckDB-oracled — the span gate under takedown: the
    * deterministic 4-quartile ingest, then a takedown of every
    * [[Takedown.replayRemovalStride]]-th doc_id; the post-takedown
    * corpus must equal the batch dedup_span_scrub SQL over the
    * SURVIVING docs — removed docs gone AND their first-carried spans
    * restituted to the earliest surviving holders, or the rows
    * diverge. */
  def takedownReplayScrub(s: SparkSession, dir: String): DataFrame = {
    val st = FaceState("scrub-takedown", dir) { d =>
      val docs = graft.Tables.documents(s, dir)
        .select("doc_id", "text").localCheckpoint()
      Takedown.quartiles(docs).zipWithIndex.foreach { case (b, i) =>
        applyMicroBatch(s, b, d, i.toLong)
      }
      applyTakedown(s, d,
        docs.filter(col("doc_id") %
          Takedown.replayRemovalStride === 0).select("doc_id"),
        takedownId = 0L)
    }
    readCorpus(s, st).orderBy("doc_id")
  }
}
