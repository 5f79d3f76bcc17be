package graft.streaming

import graft.ops.{DedupQueries, MediaQueries}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TAKEDOWN / RTBF propagation through the ingest gates' dedup claims —
  * the maintenance operation a crawl pipeline runs when content must be
  * removed AFTER it was kept (copyright takedown, right-to-be-forgotten):
  * every gate keeps the FIRST arrival and drops near-dups against it, so
  * deleting the kept canonical alone silently loses the whole duplicate
  * class and leaves the training manifests pointing at a ghost.
  *
  * Given a removal set of doc_ids, one [[apply]] call:
  *
  *  1. PURGES the removed docs from the kept corpus view and from the
  *     committed signature/claim index (they stop acting as dedup
  *     witnesses — their fingerprints are derived data and go with the
  *     content);
  *  2. RE-ELECTS a representative where a removed doc was the kept
  *     canonical: quarantined dropped docs whose ENTIRE verified witness
  *     set lies inside the removal set flip to kept — exactly the
  *     verdict a from-scratch ingest of the surviving arrivals would
  *     reach (TakedownSpec pins the equivalence per gate; the
  *     witness-not-kept-status rule makes it a single declarative
  *     computation, no cascade);
  *  3. leaves everything as an O(|removals| + touched claims) TOMBSTONE
  *     (`takedown/td=K`): readers anti-join the removed ids and union
  *     the pre-shaped promoted rows — the corpus is never rescanned at
  *     takedown time; the next [[DedupStream.compact]] folds the
  *     tombstones physically and the staged root carries none.
  *
  * The gates quarantine dropped rows to `drops/batch=N` (full rows —
  * selection, not deletion) precisely so step 2 has the payloads to
  * promote. Idempotent per `takedownId`: the td-dir marker is the single
  * commit point and the replay check; an interrupted call leaves an
  * unmarked td dir that [[BatchStore.recover]] sweeps.
  *
  * The witness rule replays the TRUE arrival order: every index/drops
  * row records `arrival_seq` (the committing batch id, monotone per
  * gate) at write time, and "earlier" means lexicographic
  * (arrival_seq, doc_id) — the gates' first-arrival canonicality under
  * ANY batching, not just the house nondecreasing-id convention
  * (TakedownSpec pins an out-of-order-arrival replay). The column rides
  * the rows, so the ordering survives compaction's single-dir fold.
  *
  * For EXACT-key gates ([[Gate.Exact]] on content hash, [[Gate.Url]] on
  * the canonical URL) the promoted doc also re-enters the INDEX (those
  * indexes hold only admitted keys; without the row a future arrival of
  * the same key would be admitted twice). Note the exact gates'
  * re-election promotes an IDENTICAL copy — the right call for "the
  * uploader deleted their account", the wrong one for "this content is
  * banned"; for the latter pass the whole content class, which
  * [[expandExactClass]] computes from the quarantine in one
  * removal-proportional probe. */
object Takedown {

  /** Which gate's claim semantics govern re-election. */
  sealed trait Gate
  object Gate {
    /** [[DedupStream]]: exact content-hash claims. */
    case object Exact extends Gate
    /** [[UrlStream]]: canonical-URL claims. */
    case object Url extends Gate
    /** [[NearDupStream]]: MinHash/LSH near-dup claims. */
    case object NearDup extends Gate
    /** [[MediaStream]]: perceptual image/audio near-dup claims. */
    case object Media extends Gate
    /** [[WinnowStream]]: MOSS winnow-fingerprint shared-substring
      * claims (threshold recount, not witness-set membership). */
    case object Winnow extends Gate
    /** [[AnnStream]]: the IVF-PQ coded vector index — removal-only (every
      * vector is indexed unconditionally, so removing one can never flip
      * another's membership; no re-election exists to compute). */
    case object Ann extends Gate
    /** [[GraphStream]]: kNN-graph nodes/edges/rings — removal-only; the
      * next [[GraphStream.compact]] re-derives edges and rings over the
      * surviving membership (backfilling top-k slots a removed neighbor
      * held), restoring exact rebuild equivalence. */
    case object Graph extends Gate
  }

  /** Table `name` of every committed takedown dir, unioned (None when
    * no committed takedown wrote one). */
  private[streaming] def readSub(spark: SparkSession, corpusDir: String,
                                 name: String): Option[DataFrame] = {
    val dirs = BatchStore.takedownDirs(corpusDir).map(d => s"$d/$name")
      .filter(StreamFs.hasDataFiles)
    if (dirs.isEmpty) None else Some(spark.read.parquet(dirs: _*))
  }

  /** All removed doc_ids across committed takedowns (None = no takedown
    * has ever run — readers stay plan-identical to the pre-takedown
    * engine). */
  private[streaming] def removedIds(spark: SparkSession,
                         corpusDir: String): Option[DataFrame] =
    readSub(spark, corpusDir, "removed").map(_.select("doc_id").distinct())

  /** The whole-row tombstone view for the DERIVED-DATA indexes (ANN
    * coded corpus, graph nodes/edges/rings): anti-join `base` against
    * the committed removal log on each of `idCols` (edges carry the id
    * at both endpoints). The removal log is takedown-proportional, so
    * the broadcasts are the bounded class; with no committed takedown
    * the plan is identical to the pre-takedown engine. */
  private[streaming] def removedView(spark: SparkSession, corpusDir: String,
      base: DataFrame, idCols: Seq[String]): DataFrame =
    removedIds(spark, corpusDir) match {
      case None => base
      case Some(r) =>
        idCols.foldLeft(base)((b, c) => b.join(
          broadcast(r.withColumnRenamed("doc_id", c)), Seq(c), "left_anti"))
    }

  /** The takedown-aware reader view of a gate sub-table: removed rows
    * anti-joined out (the removal log is takedown-proportional, hence
    * the broadcast is the bounded class), promoted rows unioned in —
    * docs get the promoted doc rows, the index gets the pre-shaped
    * promoted index rows (exact/url gates), drops lose both removed and
    * promoted rows. Shared verbatim by the live readers and
    * [[DedupStream.compact]]'s physical fold, so the two can never
    * diverge (TakedownSpec pins view ≡ post-compact corpus). */
  private[streaming] def view(spark: SparkSession, corpusDir: String,
                              base: DataFrame, sub: String): DataFrame = {
    val removed = removedIds(spark, corpusDir)
    if (removed.isEmpty) return base
    val pruned = base.join(broadcast(removed.get), Seq("doc_id"), "left_anti")
    def promotedSurviving(name: String): Option[DataFrame] =
      promotedSurvivors(spark, corpusDir, name)
    sub match {
      case "docs" =>
        promotedSurviving("promoted_docs")
          .map(p => pruned.unionByName(p.select(base.columns.map(col): _*)))
          .getOrElse(pruned)
      case "index" =>
        promotedSurviving("promoted_index")
          .map(p => pruned.unionByName(p.select(base.columns.map(col): _*)))
          .getOrElse(pruned)
      case "drops" =>
        readSub(spark, corpusDir, "promoted_docs")
          .map(p => pruned.join(broadcast(p.select("doc_id")),
            Seq("doc_id"), "left_anti"))
          .getOrElse(pruned)
      case other => throw new IllegalArgumentException(s"sub-table $other")
    }
  }

  /** Promoted rows of `name` (promoted_docs / promoted_index) that
    * survive every committed removal — a doc promoted by an EARLIER
    * takedown can be removed by a LATER one (chained takedowns), so
    * promoted rows pass through the same removal anti-join as the base.
    * Shared by [[view]] and by [[DedupStream.compact]]'s all-swept-base
    * path (where there is no base to fold the promotions into). */
  private[streaming] def promotedSurvivors(spark: SparkSession,
      corpusDir: String, name: String): Option[DataFrame] =
    removedIds(spark, corpusDir).flatMap { r =>
      readSub(spark, corpusDir, name)
        .map(_.join(broadcast(r), Seq("doc_id"), "left_anti"))
    }

  /** The quarantined dropped rows, takedown-applied (full gate-schema
    * rows — what re-election promotes from). */
  private[streaming] def readDrops(spark: SparkSession,
                                   corpusDir: String): Option[DataFrame] =
    DedupStream.store.scan(spark, corpusDir, "drops")
      .map(view(spark, corpusDir, _, "drops"))

  /** Expand a removal set to its full EXACT content class (every
    * processed doc — kept or quarantined — sharing a removed doc's
    * claim key): the production entry point for "this content is
    * banned" takedowns on the exact gates. One removal-proportional
    * broadcast probe of index + drops; never a corpus rescan. */
  def expandExactClass(spark: SparkSession, corpusDir: String,
                       removed: DataFrame, gate: Gate): DataFrame = {
    val key = gate match {
      case Gate.Exact => "content_hash"
      case Gate.Url => "canonical_url"
      case g => throw new IllegalArgumentException(
        s"$g is not an exact-key gate")
    }
    val r = removed.select("doc_id").distinct()
    val processed = readDrops(spark, corpusDir) match {
      case Some(d) => indexOf(spark, corpusDir, gate)
        .select(col(key), col("doc_id"))
        .unionByName(d.select(col(key), col("doc_id")))
      case None => indexOf(spark, corpusDir, gate)
        .select(col(key), col("doc_id"))
    }
    val keys = processed.join(broadcast(r), Seq("doc_id"), "left_semi")
      .select(key).distinct()
    processed.join(broadcast(keys), Seq(key), "left_semi")
      .select("doc_id").distinct()
  }

  /** "x arrived after y": the lexicographic (arrival_seq, doc_id)
    * order over two aliased row sets — the literal replay order (within
    * a batch the gates canonicalize by min doc_id). */
  private[streaming] def arrivedAfter: Column =
    col("x.arrival_seq") > col("y.arrival_seq") ||
      (col("x.arrival_seq") === col("y.arrival_seq") &&
        col("x.doc_id") > col("y.doc_id"))

  private def indexOf(spark: SparkSession, corpusDir: String,
                      gate: Gate): DataFrame = gate match {
    case Gate.Exact => DedupStream.readIndex(spark, corpusDir)
    case Gate.Url => UrlStream.readIndex(spark, corpusDir)
    case Gate.NearDup => NearDupStream.readIndex(spark, corpusDir)
    case Gate.Media => MediaStream.readIndex(spark, corpusDir)
    case Gate.Winnow => WinnowStream.readIndex(spark, corpusDir)
    case other => throw new IllegalArgumentException(
      s"$other has no claim index")
  }

  /** Apply a takedown: compute re-elections against the CURRENT
    * committed view, then commit the tombstone + promotions as
    * `takedown/td=<takedownId>` in one marker-committed write. Safe to
    * replay (the marker no-ops it); runs under the compaction lock like
    * any table-maintenance pass. */
  def apply(spark: SparkSession, corpusDir: String, removed: DataFrame,
            gate: Gate, takedownId: Long): Unit = {
    val store = gate match {
      case Gate.Ann => AnnStream.store
      case Gate.Graph => GraphStream.store
      case _ => DedupStream.store
    }
    store.commitTakedown(corpusDir, takedownId) { tmp =>
      val r = removed.select("doc_id").distinct().localCheckpoint()
      val (promoDocs, promoIndex) = promotions(spark, corpusDir, r, gate)
      r.write.parquet(s"$tmp/removed")
      promoDocs.foreach(_.write.parquet(s"$tmp/promoted_docs"))
      promoIndex.foreach(_.write.parquet(s"$tmp/promoted_index"))
    }
  }

  /** Commit a BATCH-GRAIN takedown (the linear monitors'
    * [[CmsStream.applyTakedown]] / [[EvalStream.applyTakedown]]): one
    * `removed_batches` manifest, no table write. An id a compaction
    * folded ([[BatchStore.folded]]) is refused before anything commits:
    * its rows now sit in one dir with other batches', so excluding that
    * dir would remove every batch folded into it, and excluding a
    * marker-only id would remove nothing. A batch that is still
    * separate — inside a compaction's horizon, or committed after it —
    * is taken down as before. */
  private[streaming] def applyBatchGrain(store: BatchStore, stateDir: String,
      removedBatchIds: Seq[Long], takedownId: Long): Unit =
    store.commitTakedown(stateDir, takedownId) { tmp =>
      val ids = removedBatchIds.distinct.sorted
      val folded = ids.filter(store.folded(stateDir))
      require(folded.isEmpty, s"batch ids ${folded.mkString(", ")} of " +
        s"$stateDir were folded by a compaction; take down a separate batch")
      StreamFs.writeAtomicString(s"$tmp/removed_batches", ids.mkString("\n"))
    }

  /** The members of committed `dirs` a batch-grain takedown leaves:
    * removed ids excluded — the exclusion IS the subtraction, by
    * linearity — while they stay timeline members of a window. */
  private[streaming] def batchGrainDirs(stateDir: String,
                                        dirs: Seq[String]): Seq[String] = {
    val removed = removedBatches(stateDir)
    dirs.filterNot(d => removed(BatchStore.batchId(d)))
  }

  /** Batch ids removed by every committed batch-grain takedown. */
  private def removedBatches(stateDir: String): Set[Long] =
    BatchStore.takedownDirs(stateDir)
      .flatMap(d => StreamFs.readString(s"$d/removed_batches").toSeq)
      .flatMap(_.split('\n')).filter(_.nonEmpty).map(_.toLong).toSet

  /** (promoted docs rows, promoted index rows) for this removal set —
    * None when nothing flips (no takedown subdir written). */
  private def promotions(spark: SparkSession, corpusDir: String,
      r: DataFrame, gate: Gate): (Option[DataFrame], Option[DataFrame]) = {
    val drops = readDrops(spark, corpusDir)
    if (drops.isEmpty) return (None, None)
    gate match {
      case Gate.Exact =>
        val p = exactPromotions(r, drops.get,
          "content_hash", DedupStream.readIndex(spark, corpusDir))
        (p, p.map(_.select("content_hash", "doc_id", "arrival_seq")))
      case Gate.Url =>
        val p = exactPromotions(r, drops.get,
          "canonical_url", UrlStream.readIndex(spark, corpusDir))
        (p, p.map(_.select("curl_hash", "canonical_url", "doc_id",
          "arrival_seq")))
      case Gate.NearDup =>
        val agree = aggregate(
          zip_with(col("x.sig"), col("y.sig"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, m) => acc + m)
        (nearDupPromotions(spark, r, drops.get,
          NearDupStream.readIndex(spark, corpusDir),
          Seq("band", "key"), agree >= NearDupStream.sigAgreeMin,
          capped = false), None)
      case Gate.Media =>
        val near = bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <=
          MediaQueries.phashMaxHamming
        (nearDupPromotions(spark, r, drops.get,
          MediaStream.readIndex(spark, corpusDir),
          Seq("modality", "chunk", "key"), near, capped = true), None)
      case Gate.Winnow =>
        (winnowPromotions(spark, r, drops.get,
          WinnowStream.readIndex(spark, corpusDir)), None)
      // removal-only indexes: every vector is admitted unconditionally,
      // so there is no dropped state to re-elect from
      case Gate.Ann | Gate.Graph => (None, None)
    }
  }

  /** Exact-key re-election: claim keys whose kept owner is removed pass
    * to the EARLIEST-ARRIVING surviving quarantined holder — the literal
    * replay of (arrival_seq, doc_id). Removal-proportional: the
    * affected-key set comes from one broadcast semi-probe of the
    * index, candidates from one broadcast semi-probe of the quarantine. */
  private def exactPromotions(r: DataFrame, drops: DataFrame, key: String,
      index: DataFrame): Option[DataFrame] = {
    val affected = index.join(broadcast(r), Seq("doc_id"), "left_semi")
      .select(key).distinct()
    val promoted = drops
      .join(broadcast(affected), Seq(key), "left_semi")
      .join(broadcast(r), Seq("doc_id"), "left_anti")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(key))
          .orderBy(col("arrival_seq"), col("doc_id"))))
      .filter(col("__rk") === 1).drop("__rk")
      .localCheckpoint()
    if (promoted.isEmpty) None else Some(promoted)
  }

  /** Near-dup re-election — the single declarative rule: a quarantined
    * doc flips to kept iff its ENTIRE verified witness set
    * (earlier-ARRIVED processed docs colliding on a band with the
    * verify predicate, by the persisted (arrival_seq, doc_id) order)
    * lies inside the removal set. Witness-ness never depended on kept status
    * (the index holds every processed doc), so there is no cascade: the
    * from-scratch verdict of every surviving doc is decided by one pass.
    *
    * Cost shape: candidates come from probing the REMOVED docs' band
    * rows (removal-proportional); the witness-existence check probes
    * only the candidates' bands against the surviving index, map-side
    * prefiltered by the candidates' own keys (the WinnowStream review
    * pattern) — never a corpus rescan. `capped` applies the media gate's
    * [[MediaQueries.maxBandDf]] history-side cap to the witness leg,
    * mirroring the ingest plan's degenerate-class guard. */
  private def nearDupPromotions(spark: SparkSession, r: DataFrame,
      drops: DataFrame, index: DataFrame, bandKeys: Seq[String],
      verified: Column, capped: Boolean): Option[DataFrame] = {
    // parquet-backed: each probe re-scans it MAP-SIDE FILTERED by a
    // removal-proportional broadcast — cheaper at every scale than
    // materializing the full index once (a localCheckpoint here is a
    // corpus-proportional write; three pruned columnar scans are not)
    val idx = index
    val dropIds = drops.select("doc_id")
      .join(broadcast(r), Seq("doc_id"), "left_anti")
    val candIds = nearDupTouched(spark, r, dropIds, idx, bandKeys,
      verified).localCheckpoint()
    if (candIds.isEmpty) return None
    // any verified earlier-arrived witness OUTSIDE R keeps the
    // candidate dropped
    val witnessed = nearDupWitnessed(spark, r, candIds, idx, bandKeys,
      verified, capped)
    val flip = candIds.join(witnessed, Seq("doc_id"), "left_anti")
    val promoted = drops
      .join(broadcast(flip), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    if (promoted.isEmpty) None else Some(promoted)
  }

  /** The `eligible` ids with ≥ 1 verified EARLIER-ARRIVED witness IN the
    * removal set — the removal-proportional candidate probe of the
    * near-dup family ([[graft.streaming.PairStream.applyTakedown]]
    * shares it for the image leg of the pair gate). */
  private[streaming] def nearDupTouched(spark: SparkSession, r: DataFrame,
      eligible: DataFrame, idx: DataFrame, bandKeys: Seq[String],
      verified: Column): DataFrame = {
    // every broadcast is keyed by the REMOVAL side: rIdx (the removed
    // docs' band rows) drives one map-side-filtered index scan, and the
    // touched set it yields (bounded by the removed bands' df, the same
    // class every later promotion probe already broadcasts) prunes the
    // eligible scan. The quarantine — corpus-proportional in the worst
    // case — is never collected or broadcast.
    val rIdx = idx.join(broadcast(r), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val touched = idx.as("x").join(broadcast(rIdx).as("y"), bandKeys)
      .filter(arrivedAfter).filter(verified)
      .select(col("x.doc_id").as("doc_id")).distinct()
    eligible.join(broadcast(touched), Seq("doc_id"), "left_semi")
  }

  /** The `candIds` with ≥ 1 verified earlier-arrived witness OUTSIDE the
    * removal set — the witness-existence half of re-election, map-side
    * prefiltered by the candidates' own band keys (the WinnowStream
    * review pattern); `capped` applies [[MediaQueries.maxBandDf]] to the
    * history side, mirroring the ingest plan's degenerate-class guard. */
  private[streaming] def nearDupWitnessed(spark: SparkSession, r: DataFrame,
      candIds: DataFrame, idx: DataFrame, bandKeys: Seq[String],
      verified: Column, capped: Boolean): DataFrame = {
    val candBands = idx.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val survHits = {
      val h = idx.join(broadcast(r), Seq("doc_id"), "left_anti")
        .join(broadcast(candBands.select(bandKeys.map(col): _*).distinct()),
          bandKeys, "left_semi")
      if (!capped) h
      else { // history-side df-cap, the MediaStream.droppedIds guard
        val hl = h.localCheckpoint()
        val hot = hl.groupBy(bandKeys.map(col): _*)
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > MediaQueries.maxBandDf)
          .select(bandKeys.map(col): _*)
        hl.join(broadcast(hot), bandKeys, "left_anti")
      }
    }
    candBands.as("x").join(survHits.as("y"), bandKeys)
      .filter(arrivedAfter).filter(verified)
      .select(col("x.doc_id").as("doc_id")).distinct()
  }

  /** Winnow re-election — a THRESHOLD RECOUNT, not witness-set
    * membership: the winnow gate drops a doc when ≥ half its selected
    * fingerprints were already selected by an earlier-arrived processed
    * doc, so removing witnesses shifts a RATIO, and the candidate flips
    * iff its recounted `2·n_shared < n_fingerprints` over the SURVIVING
    * index — exactly the verdict a from-scratch ingest of the survivors
    * reaches (kept docs only gain margin when witnesses vanish, so no
    * kept doc ever flips back: the same no-cascade monotonicity as the
    * membership gates).
    *
    * Cost shape — PURE INDEX ARITHMETIC, no text is ever re-read (the
    * index carries each pair's positional multiplicity `cnt`, so the
    * recount's weights are exact):
    *
    *  1. AFFECTED classes: a class's "shared" contribution to any doc
    *     can flip to "novel" only if EVERY earlier selector is removed
    *     — in particular its GLOBAL FIRST selector. So affected =
    *     classes whose first selector ∈ R: one map-side scan of the
    *     index pruned to R's own class keys, partial-aggregated to ≤
    *     |R's classes| groups. (The round-16 probe measured why this
    *     filter matters: on a 500k-doc corpus, "shares ≥ 1 class with
    *     R" touched 83% of the quarantine — 143 s of re-fingerprinting
    *     — while "first selector removed" is removal-proportional.)
    *  2. Candidates: quarantined docs holding ≥ 1 affected class —
    *     bounded by the affected classes' document frequency, the
    *     exact set whose verdicts can move.
    *  3. Recount: the candidates' own index rows (cnt-weighted) vs the
    *     surviving first selector per class, map-side prefiltered by
    *     the candidates' class keys; flip iff 2·n_sh < n_fp. */
  private def winnowPromotions(spark: SparkSession, r: DataFrame,
      drops: DataFrame, index: DataFrame): Option[DataFrame] = {
    // parquet-backed, never materialized whole (see nearDupPromotions):
    // every probe is one columnar scan filtered map-side by a bounded
    // broadcast
    val idx = index
    val rIdx = idxOfRemoved(idx, r).localCheckpoint()
    val rH = rIdx.select("h").distinct()
    val affected = idx.join(broadcast(rH), Seq("h"), "left_semi")
      .groupBy("h")
      .agg(min(struct(col("arrival_seq"), col("doc_id"))).as("first"))
      .select(col("h"), col("first.doc_id").as("__fdoc"))
      .join(broadcast(r.withColumnRenamed("doc_id", "__fdoc")),
        Seq("__fdoc"), "left_semi")
      .select("h").localCheckpoint()
    if (affected.isEmpty) return None
    val dropIds = drops.select("doc_id")
      .join(broadcast(r), Seq("doc_id"), "left_anti")
    val holders = idx.join(broadcast(affected), Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val candIds = dropIds
      .join(broadcast(holders), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    if (candIds.isEmpty) return None
    val candRows = idx.join(broadcast(candIds), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val firstSurv = idx.join(broadcast(r), Seq("doc_id"), "left_anti")
      .join(broadcast(candRows.select("h").distinct()), Seq("h"),
        "left_semi")
      .groupBy("h")
      .agg(min(struct(col("arrival_seq"), col("doc_id"))).as("first"))
    val scored = candRows.join(firstSurv, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_fp"),
        sum(when(col("first").isNotNull &&
          (col("first.arrival_seq") < col("arrival_seq") ||
            (col("first.arrival_seq") === col("arrival_seq") &&
              col("first.doc_id") < col("doc_id"))), col("cnt"))
          .otherwise(0L)).as("n_sh"))
    val flip = scored.filter(col("n_sh") * 2 < col("n_fp")).select("doc_id")
    val promoted = drops
      .join(broadcast(flip), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    if (promoted.isEmpty) None else Some(promoted)
  }

  /** The removed docs' index rows (the removal-proportional probe key
    * set shared by the winnow and near-dup candidate scans). */
  private def idxOfRemoved(idx: DataFrame, r: DataFrame): DataFrame =
    idx.join(broadcast(r), Seq("doc_id"), "left_semi")

  // ---- registered deterministic faces ---------------------------------

  /** Deterministic removal strides for the replay faces — arbitrary doc
    * sets (kept, quarantined and never-seen ids alike), so every
    * takedown path is exercised; interpolated verbatim into the DuckDB
    * oracles. */
  private[graft] val replayRemovalStride = 13L
  private[graft] val replayUrlRemovalStride = 11L

  /** 4 contiguous doc_id-quartile batches (id-ordered, so stream ≡
    * one-shot verdicts — the CurationStream convention). min/max-based,
    * so sparse or offset id spaces still ingest every doc (the
    * count-based split silently skipped ids ≥ 4·span). */
  private[graft] def quartiles(docs: DataFrame): Seq[DataFrame] = {
    val (lo, hi) = docs.agg(min("doc_id"), max("doc_id")).collect()
      .headOption.map(r => (r.getLong(0), r.getLong(1))).getOrElse((0L, 0L))
    val span = hi - lo + 1
    (0 until 4).map(i => docs.filter(col("doc_id") >= lo + i * span / 4 &&
      col("doc_id") < lo + (i + 1) * span / 4 + (if (i == 3) 1 else 0)))
  }

  /** The `kind` gate's replay state over `dir`, on its own
    * [[FaceState]] dir: `ingest` commits each quartile batch to it,
    * then every `stride`-th doc_id is taken down. */
  private def replayState(s: SparkSession, dir: String, kind: String,
      docs: DataFrame, stride: Long, gate: Gate)(
      ingest: (DataFrame, String, Long) => Unit): String =
    FaceState(s"takedown-$kind", dir) { d =>
      val docsCp = docs.localCheckpoint()
      quartiles(docsCp).zipWithIndex.foreach { case (b, i) =>
        ingest(b, d, i.toLong)
      }
      apply(s, d, docsCp.filter(col("doc_id") % stride === 0)
        .select("doc_id"), gate, takedownId = 0L)
    }

  /** REGISTERED + DuckDB-oracled — the EXACT gate under takedown:
    * ingest `documents` through [[DedupStream]] in 4 id-ordered
    * batches, remove every [[replayRemovalStride]]-th doc_id, return
    * the post-takedown kept corpus. The oracle is a from-scratch exact
    * dedup over the SURVIVING docs — re-election must hand a removed
    * canonical's claim to the min-id surviving twin, or the rows
    * diverge. */
  def takedownReplayExact(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
    val st = replayState(s, dir, "exact", docs, replayRemovalStride,
      Gate.Exact)(DedupStream.applyMicroBatch(s, _, _, _))
    DedupStream.readCorpus(s, st).select("doc_id", "content_hash")
      .orderBy("doc_id")
  }

  /** REGISTERED + DuckDB-oracled — the NEAR-DUP gate under takedown
    * ([[NearDupStream]], MinHash/LSH): same deterministic ingest +
    * removal, output the kept doc ids. The oracle replays the LSH
    * verdict machinery (the dedup_minhash oracle's own CTEs) over the
    * surviving docs: a quarantined doc whose only verified witnesses
    * were removed MUST reappear. */
  def takedownReplay(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
    val st = replayState(s, dir, "neardup", docs, replayRemovalStride,
      Gate.NearDup)(NearDupStream.applyMicroBatch(s, _, _, _))
    NearDupStream.readCorpus(s, st).select("doc_id").orderBy("doc_id")
  }

  /** REGISTERED + DuckDB-oracled — the URL gate under takedown: the
    * admitted corpus after removing every
    * [[replayUrlRemovalStride]]-th doc_id; the canonical claim passes
    * to the min-id surviving holder (who re-enters the index — a
    * re-arrival of the same canonical stays rejected, pinned in
    * TakedownSpec). */
  def takedownReplayUrl(s: SparkSession, dir: String): DataFrame = {
    val urls = graft.ops.TextQueries.urlNormalize(s, dir)
      .select("doc_id", "url")
    val st = replayState(s, dir, "url", urls, replayUrlRemovalStride,
      Gate.Url)(UrlStream.applyMicroBatch(s, _, _, _))
    UrlStream.readCorpus(s, st).orderBy("doc_id")
  }

  /** REGISTERED + DuckDB-oracled — the WINNOW gate under takedown
    * ([[WinnowStream]], MOSS fingerprints): same deterministic ingest +
    * removal, output the kept doc ids. The oracle replays the winnow
    * ingest rule (the winnow_ingest oracle's own CTEs) over the
    * surviving docs: a quarantined doc whose shared-fingerprint ratio
    * falls below half once the removed witnesses' fingerprints are
    * purged MUST reappear. */
  def takedownReplayWinnow(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
    val st = replayState(s, dir, "winnow", docs, replayRemovalStride,
      Gate.Winnow)(WinnowStream.applyMicroBatch(s, _, _, _))
    WinnowStream.readCorpus(s, st).select("doc_id").orderBy("doc_id")
  }

  // ---- compliance: the physical end state, verified ---------------------

  /** The id-carrying column names [[retentionScan]] probes — every
    * identity/endpoint column the engine's state tables use. `cell`
    * is deliberately absent: a cell id in a surviving vector's coded
    * row is an assignment label, not the removed doc's data (the seed
    * VECTOR behind it is the [[AnnStream.metaRetainsRemoved]] edge
    * case, flagged separately). */
  private[graft] val RetentionIdCols = Seq("doc_id", "vec_id", "src", "dst")

  /** COMPLIANCE SCAN — the end state RTBF promises, verified on the
    * BYTES rather than through the reader views: walk every parquet
    * data directory under a state root (batch dirs, takedown
    * promotions, corrected rows — everything except `removed/`
    * tombstone logs, which are the suppression list a deployment
    * lawfully retains, and `meta/`, whose seed-vector edge case
    * [[AnnStream.metaRetainsRemoved]] reports) and count physical rows
    * referencing a removed id through any [[RetentionIdCols]] column.
    * Returns one (sub_table, n_rows, n_referencing) row per scanned
    * directory. Before a gate's compact() the logical views hide
    * removed rows but the bytes remain (n_referencing > 0 — the scan
    * provably bites); AFTER the fold every count is zero
    * (RetentionAuditSpec pins both, per gate).
    *
    * The per-directory driver loop is bounded by the directory count —
    * post-compact a handful — and each count is one distributed
    * anti-join probe, removal-proportional broadcast, map-side. A
    * maintenance/audit pass, not a hot path. */
  def retentionScan(spark: SparkSession, stateDir: String,
                    removed: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val r = removed.select(col(removed.columns.head).as("__rid"))
      .distinct().localCheckpoint()
    val root = java.nio.file.Paths.get(stateDir)
    // collapse value-partitioned subdirs (e.g. coded/batch=N/cell=K)
    // into their batch dir so the driver loop stays bounded by the
    // BATCH directory count, not the partition fan-out
    def unit(p: java.nio.file.Path): java.nio.file.Path = {
      var d = p
      while (d.getParent != null && d != root && {
          val n = d.getFileName.toString
          n.contains("=") && !n.startsWith("batch=") && !n.startsWith("td=")
        }) d = d.getParent
      d
    }
    val leaves = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p))
      .map(p => unit(p.getParent)).toSeq.distinct
      .filterNot { d =>
        val rel = root.relativize(d).toString
        rel.split('/').contains("removed") || rel.split('/').contains("meta")
      }
      .sortBy(d => root.relativize(d).toString)
    val rows = leaves.map { d =>
      val rel = root.relativize(d).toString
      val df = spark.read.parquet(d.toString)
      val idCols = df.columns.filter(RetentionIdCols.contains(_)).toSeq
      val total = df.count()
      val clean = idCols.foldLeft(df)((acc, c) =>
        acc.join(broadcast(r.withColumnRenamed("__rid", c)),
          Seq(c), "left_anti")).count()
      (rel, total, total - clean)
    }
    spark.createDataFrame(rows).toDF("sub_table", "n_rows", "n_referencing")
  }
}
