package graft.streaming

import graft.ops.{CurationQueries, MediaQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** [[PairStream]]'s typed image-signature row — top-level so the
  * Encoder constructs it inside whole-stage codegen (the MediaSig
  * lesson). */
case class PairSig(doc_id: Long, format: String, width: Long,
                   height: Long, dhash: Long)

/** Ingest-time MULTIMODAL PAIR curation — the LAION-style
  * (caption, image) gate chain ([[MediaQueries.multimodalPairs]]: text
  * too_short → non_en → low_quality → near_dup, then image_too_small →
  * image_near_dup) run as ONE pass over each arriving micro-batch, with
  * the pair funnel riding the same pass: the [[CurationStream]] shape
  * extended to the second modality, closing round-14's gap (the batch
  * face re-decodes the corpus per dashboard refresh; this face's live
  * funnel reads ≤7-row count tables).
  *
  * Input rows are (doc_id, text, payload) with payload NULLABLE: docs
  * without an image pass the TEXT claim stage only and emit no pair
  * verdict — the caption-dedup pool is the whole text corpus (the batch
  * face's canonicality runs over ALL documents, so an image doc whose
  * caption twin is a text-only doc must still reject as near_dup; an
  * images-only ingest would silently diverge from the batch verdicts).
  *
  * Semantics, all inherited from the proven seams:
  *  - text gates: [[CurationQueries.scoredDocs]] /
  *    [[CurationQueries.rejectReason]] with first-arrival hash claims —
  *    the [[CurationStream]] protocol verbatim (full-md5 claims);
  *  - image gates: ONE real decode per payload (PNG/BMP codecs), the
  *    [[MediaQueries.minPairPixels]] dims gate, and first-arrival
  *    perceptual claims over 4×15-bit dhash bands with the
  *    [[MediaQueries.maxBandDf]] cap on BOTH probe legs (the
  *    [[MediaStream]] plan) — every processed image is indexed, kept or
  *    not, so cross-batch witness chains match the batch pair set;
  *  - gate precedence: text reject wins over image rejects, and a
  *    gated doc still claims BOTH its text hash and its image bands
  *    (the batch rule — claims are arrival facts, not verdicts).
  *
  * Per-batch committed state (verdicts marker = the commit point):
  * `claims/batch=N` (novel text-hash rows), `index/batch=N` (every
  * image's band rows), `counts/batch=N` (≤7-row pair-stage tally),
  * `verdicts/batch=N` (per-pair verdict rows). Crash sweep, replay
  * no-op, the [[CompactionLock]] guard and the compaction swap are the
  * [[BatchStore]] protocol, as in [[CurationStream]].
  *
  * Scale notes (100 TB): decode is the map-only cost a media pipeline
  * pays by existing, paid ONCE here (localCheckpoint) instead of per
  * dashboard refresh; both claim probes are batch-keyed broadcast
  * semi-joins into ever-growing indexes that are never shuffled; the
  * funnel monitor reads count tables whose size is the STAGE count,
  * not the corpus. */
object PairStream {

  private val store = new BatchStore("verdicts", "claims", "index", "counts")

  /** Start the ingest stream: `docs` must carry
    * (doc_id long, text string, payload binary|null). */
  def start(spark: SparkSession, docs: DataFrame, stateDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(docs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, stateDir, _))

  /** ONE real decode per payload → (doc_id, format, width, height,
    * dhash), the map-only kernel. */
  private def signed(spark: SparkSession, imgs: DataFrame): DataFrame = {
    import spark.implicits._
    imgs.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, payload) =>
          MediaQueries.sniffFormat(payload) match {
            case "png" =>
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(payload))
              val w = img.getWidth
              val h = img.getHeight
              val px = new Array[Int](w * h)
              var i = 0
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  px(i) = img.getRGB(x, y) & 0xff; x += 1; i += 1
                }
                y += 1
              }
              PairSig(id, "png", w.toLong, h.toLong,
                MediaQueries.dhash60(w, h, px))
            case "bmp" =>
              val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
              val m = MediaQueries.decodeBmp(id, payload, buf += _)
              PairSig(id, "bmp", m.width, m.height,
                MediaQueries.dhash60(m.width.toInt, m.height.toInt,
                  buf.toArray))
            case other => throw new IllegalArgumentException(
              s"doc $id: pair gate takes png/bmp images, got $other")
          }
        }
      }.toDF()
  }

  private def bandRows(sigs: DataFrame): DataFrame = {
    val chunkArr = array((0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        (shiftright(col("dhash"), c * 15) % 32768).as("key"))): _*)
    sigs.select(col("doc_id"), col("dhash"), explode(chunkArr).as("ck"))
      .select(col("doc_id"), col("dhash"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))
  }

  private val bandKeys = Seq("chunk", "key")
  private val cap = MediaQueries.maxBandDf

  /** Image doc ids of `bands` with a verified earlier near-dup — the
    * [[MediaStream.applyMicroBatch]] probe shape (both legs df-capped). */
  private def imageDropped(spark: SparkSession, bands: DataFrame,
                           stateDir: String): DataFrame = {
    val near = bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))) <=
      MediaQueries.phashMaxHamming
    val hotBatch = bands.groupBy(bandKeys.map(col): _*)
      .agg(count(lit(1)).as("df")).filter(col("df") > cap)
      .select(bandKeys.map(col): _*)
    val bandsCapped = bands.join(broadcast(hotBatch), bandKeys, "left_anti")
    val earlier = bandsCapped.as("x").join(bandsCapped.as("y"), bandKeys)
      .filter(col("x.doc_id") > col("y.doc_id")).filter(near)
      .select(col("x.doc_id").as("doc_id"))
    val idxHits = readIndex(spark, stateDir)
      .join(broadcast(bands.select(bandKeys.map(col): _*).distinct()),
        bandKeys, "left_semi")
      .localCheckpoint()
    val hotIdx = idxHits.groupBy(bandKeys.map(col): _*)
      .agg(count(lit(1)).as("df")).filter(col("df") > cap)
      .select(bandKeys.map(col): _*)
    val indexed = bands.as("x")
      .join(idxHits.join(broadcast(hotIdx), bandKeys, "left_anti").as("y"),
        bandKeys)
      .filter(near)
      .select(col("x.doc_id").as("doc_id"))
    earlier.unionByName(indexed).distinct()
  }

  /** One micro-batch: score text + claim hashes, decode + claim image
    * bands, gate, commit verdicts/counts. Idempotent per `batchId`. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame,
                      stateDir: String, batchId: Long): Unit = {
    if (store.replayed(stateDir, batchId, "PairStream.applyMicroBatch"))
      return
    // ---- text side: the CurationStream claim protocol verbatim
    val scored = CurationQueries.scoredDocs(
        batch.select(col("doc_id"), col("text")))
      .withColumn("content_hash", md5(col("text")))
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))))
      .withColumn("batch_first", col("__rank") === 1).drop("__rank")
      .persist()
    try {
      // probe committed claims, batch-keyed (semi -> broadcast anti);
      // readClaims applies committed takedowns, so a removed doc's
      // claim no longer rejects arrivals and a re-elected owner's does
      val withCanon = (readClaims(spark, stateDir) match {
        case Some(claims) =>
          val hits = claims
            .join(broadcast(scored.select("content_hash").distinct()),
              Seq("content_hash"), "left_semi")
            .select("content_hash").distinct().withColumn("__hit", lit(true))
          scored.join(broadcast(hits), Seq("content_hash"), "left")
            .withColumn("is_canonical",
              col("batch_first") && col("__hit").isNull)
            .drop("__hit")
        case None => scored.withColumn("is_canonical", col("batch_first"))
      }).persist()
      try {
        val textVerdicts = withCanon.select(col("doc_id"),
          col("pred_lang"), col("quality"),
          CurationQueries.rejectReason.as("text_reject"))
        // ---- image side: decode ONCE, claim bands
        val sigs = signed(spark,
          batch.filter(col("payload").isNotNull)
            .select("doc_id", "payload")).localCheckpoint()
        val bands = bandRows(sigs).localCheckpoint()
        val dropped = imageDropped(spark, bands, stateDir)
          .withColumn("is_dup", lit(true))
        val reason = coalesce(col("text_reject"),
          when(col("width") * col("height") <
            MediaQueries.minPairPixels, "image_too_small"),
          when(col("is_dup"), "image_near_dup"))
        val verdicts = sigs.join(textVerdicts, Seq("doc_id"))
          .join(dropped, Seq("doc_id"), "left")
          .select(col("doc_id"), col("format"), col("width"),
            col("height"), col("pred_lang"), col("quality"),
            reason.isNull.as("keep"), reason.as("reject_reason"))
        // claims + index + counts first, verdicts (with marker) last.
        // Claims store EVERY processed doc's text facts (the NearDup
        // every-processed-doc-indexed convention, widened from the old
        // canonical-only rows): hash existence still gates arrivals, and
        // a later [[applyTakedown]] can re-elect a removed canonical's
        // hash to ANY surviving holder — including a text-only doc the
        // old layout recorded nowhere — and recompute the stateless
        // verdict from the persisted facts without re-reading text.
        store.write(stateDir, "claims", batchId,
          withCanon.select("content_hash", "doc_id", "n_tokens",
              "pred_lang", "quality", "is_canonical")
            .withColumn("arrival_seq", lit(batchId)))
        store.write(stateDir, "index", batchId,
          bands.select("chunk", "key", "dhash", "doc_id")
            .withColumn("arrival_seq", lit(batchId)))
        store.write(stateDir, "counts", batchId,
          MediaQueries.pairFunnelCounts(verdicts))
        store.write(stateDir, "verdicts", batchId, verdicts)
      } finally { withCanon.unpersist(); () }
    } finally { scored.unpersist(); () }
  }

  /** Sweep crash debris — claims/index/counts without a committed
    * verdicts twin, stale temps, uncommitted takedowns — and finish or
    * roll back an interrupted [[compact]] swap. */
  def recover(stateDir: String): Unit = store.recover(stateDir)

  /** The committed image band index (every processed image) — committed
    * takedowns applied: a removed image's perceptual bands are derived
    * data and stop witnessing the moment the tombstone commits. */
  private def readIndex(spark: SparkSession, stateDir: String): DataFrame =
    Takedown.removedView(spark, stateDir, store.read(spark, stateDir, "index",
      "chunk INT, key BIGINT, dhash BIGINT, doc_id BIGINT, arrival_seq BIGINT"),
      Seq("doc_id"))

  /** The committed claims view — EVERY processed doc's (content_hash,
    * doc_id, n_tokens, pred_lang, quality, is_canonical, arrival_seq),
    * committed takedowns applied: removed docs' rows vanish (their hash
    * stops rejecting arrivals) and re-elected owners' rows replace
    * their originals with is_canonical flipped. None = no committed
    * claims yet. */
  private def readClaims(spark: SparkSession,
                         stateDir: String): Option[DataFrame] = {
    val base = store.scan(spark, stateDir, "claims").getOrElse(return None)
    Some((Takedown.readSub(spark, stateDir, "removed"),
        Takedown.readSub(spark, stateDir, "promoted_claims")) match {
      case (None, _) => base
      case (Some(rm), promo) =>
        val r = rm.select("doc_id").distinct()
        val pruned = base.join(broadcast(r), Seq("doc_id"), "left_anti")
        promo match {
          case None => pruned
          case Some(p) =>
            val ps = p.join(broadcast(r), Seq("doc_id"), "left_anti")
            pruned.join(broadcast(ps.select("doc_id")),
                Seq("doc_id"), "left_anti")
              .unionByName(ps.select(pruned.columns.map(col): _*))
        }
    })
  }

  /** Every committed pair verdict so far — the stream's data output,
    * committed takedowns applied: removed docs gone, corrected verdicts
    * (claim re-election on the caption side + near-dup re-election on
    * the image side, one pass) replacing their originals. */
  def readVerdicts(spark: SparkSession, stateDir: String): DataFrame = {
    val base = store.read(spark, stateDir, "verdicts", "doc_id BIGINT, " +
      "format STRING, width BIGINT, height BIGINT, pred_lang STRING, " +
      "quality DOUBLE, keep BOOLEAN, reject_reason STRING")
    (Takedown.readSub(spark, stateDir, "removed"),
        Takedown.readSub(spark, stateDir, "corrected")) match {
      case (None, _) => base
      case (Some(rm), corr) =>
        val r = rm.select("doc_id").distinct()
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

  // ---- takedown (caption-claims + image near-dup, one correction pass)

  /** TAKEDOWN over the pair gate — the round-15 builder follow-on: one
    * pass corrects BOTH modalities. Given a removal set,
    *
    *  1. removed docs' verdict rows, claims and band-index rows vanish
    *     (hashes stop rejecting arrivals, bands stop witnessing);
    *  2. TEXT side: a removed canonical's content_hash passes to the
    *     earliest-arrived surviving holder (pair OR text-only doc — the
    *     all-docs claims make the election corpus-true), recorded as a
    *     promoted claim;
    *  3. IMAGE side: pair docs whose verified earlier witnesses
    *     intersect the removal set are re-checked against the SURVIVING
    *     index ([[Takedown.nearDupWitnessed]], df-capped);
    *  4. every touched PAIR doc gets ONE corrected verdict — the full
    *     gate chain (stateless text rules over the persisted facts, the
    *     dims floor, the re-checked image near-dup) replayed from state,
    *     never from payloads — exactly the verdict a from-scratch ingest
    *     of the survivors reaches (`takedown_replay_pairs` pins it
    *     against the batch multimodal_pairs SQL over survivors).
    *
    * Keeps only monotone corrections (a kept pair can never flip to
    * rejected — removals only remove witnesses), so candidates =
    * promoted owners ∪ witness-touched rejects covers every row a
    * replay would change. Funnel counts stay ingest history BY DESIGN
    * (the CurationStream stance). Idempotent per takedownId; cost ∝
    * |removals| + touched claims/bands. */
  def applyTakedown(spark: SparkSession, stateDir: String,
                    removed: DataFrame, takedownId: Long): Unit =
    store.commitTakedown(stateDir, takedownId) { tmp =>
      val r = removed.select("doc_id").distinct().localCheckpoint()
      // claims / verdicts / index stay parquet-backed: every probe
      // below re-scans them map-side filtered by removal-proportional
      // broadcasts — materializing any of them whole (localCheckpoint)
      // would be a corpus-proportional write per takedown
      val claims = readClaims(spark, stateDir).getOrElse(return)
      // text: affected hashes = classes whose CURRENT canonical is
      // removed; new owner = earliest-arrived surviving holder
      val affected = claims.filter(col("is_canonical"))
        .join(broadcast(r), Seq("doc_id"), "left_semi")
        .select("content_hash").distinct()
      val promotedClaims = claims
        .join(broadcast(affected), Seq("content_hash"), "left_semi")
        .join(broadcast(r), Seq("doc_id"), "left_anti")
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("content_hash"))
            .orderBy(col("arrival_seq"), col("doc_id"))))
        .filter(col("__rk") === 1).drop("__rk", "is_canonical")
        .withColumn("is_canonical", lit(true))
        .select(claims.columns.map(col): _*)
        .localCheckpoint()
      // image: rejects whose verified earlier witnesses intersect R
      val v = readVerdicts(spark, stateDir)
      val idx = readIndex(spark, stateDir)
      val near = bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))) <=
        MediaQueries.phashMaxHamming
      val rejected = v.filter(!col("keep")).select("doc_id")
        .join(broadcast(r), Seq("doc_id"), "left_anti")
      val imageTouched = Takedown.nearDupTouched(spark, r, rejected, idx,
        bandKeys, near)
      val candIds = promotedClaims.select("doc_id")
        .unionByName(imageTouched).distinct().localCheckpoint()
      val corrected =
        if (candIds.isEmpty) None
        else {
          val stillDup = Takedown.nearDupWitnessed(spark, r, candIds, idx,
            bandKeys, near, capped = true)
          // post-takedown canonical facts: base minus removed, promoted
          // rows replacing their originals
          val postClaims = claims
            .join(broadcast(r), Seq("doc_id"), "left_anti")
            .join(broadcast(promotedClaims.select("doc_id")),
              Seq("doc_id"), "left_anti")
            .unionByName(promotedClaims)
          val candFacts = postClaims
            .join(broadcast(candIds), Seq("doc_id"), "left_semi")
            .select("doc_id", "n_tokens", "pred_lang", "quality",
              "is_canonical")
          val reason = coalesce(
            CurationQueries.rejectReason,
            when(col("width") * col("height") <
              MediaQueries.minPairPixels, "image_too_small"),
            when(col("__dup"), "image_near_dup"))
          val c = v.join(broadcast(candIds), Seq("doc_id"), "left_semi")
            .drop("keep", "reject_reason", "pred_lang", "quality")
            .join(candFacts, Seq("doc_id"))
            .join(broadcast(stillDup.withColumn("__dup", lit(true))),
              Seq("doc_id"), "left")
            .withColumn("reject_reason", reason)
            .withColumn("keep", col("reject_reason").isNull)
            .select(v.columns.map(col): _*)
            .localCheckpoint()
          if (c.isEmpty) None else Some(c)
        }
      r.write.parquet(s"$tmp/removed")
      if (!promotedClaims.isEmpty)
        promotedClaims.write.parquet(s"$tmp/promoted_claims")
      corrected.foreach(_.write.parquet(s"$tmp/corrected"))
    }

  /** COMPACTION — the pair gate's physical takedown fold
    * ([[CurationStream.compact]]'s views-are-the-fold pass over this
    * stream's four sub-tables): verdicts/claims/index rewritten through
    * their takedown-aware readers into the single highest committed
    * batch dir (removed docs' bytes GONE — the [[Takedown.retentionScan]]
    * zero), counts collapsed under the sum (ingest history, takedowns
    * deliberately don't touch them), the staged root carrying no td
    * dirs, earlier ids surviving as marker-only tombstones. Same
    * heartbeated lock and crash-safe root swap as every other gate
    * ([[BatchStore.compact]]). */
  def compact(spark: SparkSession, stateDir: String): Unit =
    store.compact(stateDir) { stage =>
      val batches = store.committed(stateDir)
      if (batches.isEmpty) return // removal-only td, nothing to fold
      if (batches.length <= 1 && BatchStore.takedownDirs(stateDir).isEmpty)
        return
      val target = batches.last
      readVerdicts(spark, stateDir)
        .write.parquet(s"$stage/verdicts/$target")
      readClaims(spark, stateDir).foreach(
        _.write.parquet(s"$stage/claims/$target"))
      readIndex(spark, stateDir)
        .write.parquet(s"$stage/index/$target")
      val countDirs = store.dataDirs(stateDir, "counts")
      if (countDirs.nonEmpty)
        sumCounts(spark, stateDir, countDirs)
          .write.parquet(s"$stage/counts/$target")
      store.markAll(stage, batches)
    }

  private def sumCounts(spark: SparkSession, stateDir: String,
                        dirs: Seq[String]): DataFrame =
    store.read(spark, stateDir, "counts",
        "stage_idx INT, stage STRING, n_pairs BIGINT", dirs)
      .groupBy("stage_idx", "stage")
      .agg(sum("n_pairs").as("n_pairs"))

  /** The LIVE pair funnel — the batch funnel arithmetic over the summed
    * committed counts (count linearity ⇒ ≡ the batch
    * [[MediaQueries.multimodalPairFunnel]] under id-ordered batching;
    * PairStreamSpec pins it). Reads ≤7-row tables per committed dir,
    * never the corpus — no re-decode per refresh. */
  def pairFunnelLive(spark: SparkSession, stateDir: String): DataFrame =
    MediaQueries.pairFunnelFromCounts(sumCounts(spark, stateDir,
      store.dirs(stateDir, "counts")))

  /** PAIR FUNNEL DRIFT — per stage, lifetime vs trailing-`lastK` pair
    * shares with the delta (the [[CurationStream.funnelDrift]] shape
    * over a [[BatchStore.window]]). */
  def pairFunnelDrift(spark: SparkSession, stateDir: String,
                      lastK: Int): DataFrame = {
    val life = pairFunnelLive(spark, stateDir)
      .select(col("stage_idx"), col("stage"),
        col("n_pairs").as("n_life"), col("pair_share").as("share_life"))
    val win = MediaQueries.pairFunnelFromCounts(sumCounts(spark, stateDir,
        store.window(stateDir, "counts", lastK)))
      .select(col("stage_idx"), col("n_pairs").as("n_window"),
        col("pair_share").as("share_window"))
    life.join(win, Seq("stage_idx"), "left")
      .select(col("stage_idx"), col("stage"), col("n_life"),
        coalesce(col("n_window"), lit(0L)).as("n_window"),
        col("share_life"),
        coalesce(col("share_window"), lit(0.0)).as("share_window"),
        round(coalesce(col("share_window"), lit(0.0))
          - col("share_life"), 6).as("share_delta"))
      .orderBy("stage_idx") // ≤7 rows — a global order is free
  }

  // ---- registered deterministic faces ---------------------------------

  /** Deterministic 4-quartile id-ordered ingest of the full document
    * corpus with image payloads attached where they exist (doc_id % 3
    * != 1 — the textured corpus's image slice); text-only docs flow
    * through the claim stage so caption canonicality matches the batch
    * face's corpus-wide rule exactly. */
  private def pairState(s: SparkSession, dir: String): String =
    FaceState("pair-stream", dir) { d =>
      val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
        .join(MediaQueries.texturedMediaTable(s, dir)
          .filter(col("doc_id") % 3 =!= 1), Seq("doc_id"), "left")
        .select("doc_id", "text", "payload")
        .localCheckpoint()
      Takedown.quartiles(docs).zipWithIndex.foreach { case (b, i) =>
        applyMicroBatch(s, b, d, i.toLong)
      }
    }

  /** REGISTERED live pair-funnel face (DuckDB-oracled): the streaming
    * monitor's funnel over the deterministic id-ordered ingest — the
    * oracle is the batch multimodal_pair_funnel SQL verbatim, which the
    * streamed path must reproduce bit-for-bit. Bench times the
    * dashboard refresh (≤7-row tables per committed dir + the funnel
    * tail) — the batch face re-decodes the corpus per refresh. */
  def multimodalFunnelLive(s: SparkSession, dir: String): DataFrame =
    pairFunnelLive(s, pairState(s, dir))

  /** REGISTERED + DuckDB-oracled — the PAIR gate under takedown: the
    * deterministic 4-quartile pair ingest, then a takedown of every
    * [[Takedown.replayRemovalStride]]-th doc_id; the post-takedown
    * verdicts must equal the batch multimodal_pairs SQL over the
    * SURVIVING docs — caption-claim re-election (to pair or text-only
    * survivors alike) and image near-dup re-election in one correction
    * pass, or the rows diverge. */
  def takedownReplayPairs(s: SparkSession, dir: String): DataFrame = {
    val st = FaceState("pair-takedown", dir) { d =>
      val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
        .join(MediaQueries.texturedMediaTable(s, dir)
          .filter(col("doc_id") % 3 =!= 1), Seq("doc_id"), "left")
        .select("doc_id", "text", "payload")
        .localCheckpoint()
      Takedown.quartiles(docs).zipWithIndex.foreach { case (b, i) =>
        applyMicroBatch(s, b, d, i.toLong)
      }
      applyTakedown(s, d,
        docs.filter(col("doc_id") %
          Takedown.replayRemovalStride === 0).select("doc_id"),
        takedownId = 0L)
    }
    readVerdicts(s, st)
      .select("doc_id", "format", "width", "height", "pred_lang",
        "quality", "keep", "reject_reason")
      .orderBy("doc_id")
  }

  /** REGISTERED pair-funnel drift face (DuckDB-oracled):
    * trailing-2-of-4 quartile batches vs lifetime — the window is the
    * top half of the doc_id range, which the oracle recomputes with
    * the batch pair-funnel arithmetic over that predicate. */
  def multimodalFunnelDrift(s: SparkSession, dir: String): DataFrame =
    pairFunnelDrift(s, pairState(s, dir), lastK = 2)
}
