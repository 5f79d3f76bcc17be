package graft.streaming

import graft.ops.MediaQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** [[MediaStream]]'s typed fingerprint row — top-level (not nested in
  * the object) so the Encoder's generated code can construct it inside
  * whole-stage codegen instead of silently falling back to the
  * interpreted path (the addReferenceObj/Janino lesson). */
case class MediaSig(doc_id: Long, payload: Array[Byte],
                    modality: String, fp: Long)

/** INGESTION-TIME streaming MULTIMODAL near-dup filtering — the
  * streaming face of [[MediaQueries.dedupMedia]]/[[MediaQueries
  * .dedupAudio]], completing the ingest-gate trio ([[DedupStream]]
  * exact text, [[NearDupStream]] MinHash text, this one perceptual
  * image/audio): a crawl pipeline gates media AT INGEST, not in a
  * nightly batch (round-13 verdict #2). Each micro-batch's payloads are
  * sniffed and REALLY decoded ([[MediaQueries.sniffFormat]] →
  * PNG/BMP/WAV codecs), fingerprinted by their own modality's kernel
  * (images → [[MediaQueries.dhash60]], audio →
  * [[MediaQueries.audioFp60]]), banded 4×15 bits, probed against the
  * PERSISTED band index, and only payloads with NO verified near-dup
  * (exact `bit_count(xor) ≤` [[MediaQueries.phashMaxHamming]]) among
  * previously seen documents — or earlier-id documents of the same
  * batch — are appended to the kept corpus.
  *
  * Semantics mirror [[NearDupStream]] exactly: near-dup similarity is
  * treated as an equivalence for retention (the index stores EVERY
  * processed document's band rows, kept and dropped alike, so chains
  * split across batches drop via indexed-but-dropped witnesses), and
  * id-ordered batching equals one-shot ingestion equals the BATCH
  * faces' verdicts — kept(d) ⇔ d never appears as the higher id of a
  * verified `dedup_media`/`dedup_audio` pair (MediaStreamSpec pins all
  * three). Modalities never cross: the band join is keyed by
  * (modality, chunk, key).
  *
  * The [[MediaQueries.maxBandDf]] cap guards BOTH join legs — the
  * within-batch pair join and the committed-index probe — so a
  * degenerate perceptual class (all-black thumbnails, silent audio)
  * in the history cannot make future batches quadratic, the same rule
  * the batch plan enforces. (On over-cap keys the gate under-drops
  * junk rather than blowing up — the carve-out documented at
  * [[MediaQueries.maxBandDf]]; a quality rule gates that class.)
  *
  * Storage layout, marker commit protocol, idempotent replay, crash
  * sweep, compaction ([[DedupStream.compact]] — the rewrite is
  * schema-agnostic) and the [[CompactionLock]] ingest guard are
  * [[DedupStream]]'s [[BatchStore]] layout: docs/batch=N (kept payloads + their
  * fingerprints) and index/batch=N (every processed doc's band rows),
  * corpus marker as the single commit point.
  *
  * Scale notes (100 TB): the decode+fingerprint pass is map-only
  * real-codec work (the cost a media pipeline pays by existing); per
  * batch, ONE equi-join of the batch's 4 band rows/doc against the
  * band-keyed index, pre-filtered map-side by a broadcast semi-join on
  * the batch's own keys (the WinnowStream review pattern — the
  * ever-growing index is never shuffled), then df-capped; verification
  * is in-row (`bit_count`), no second join, and committed payloads are
  * never re-decoded. */
object MediaStream {

  private def store = DedupStream.store

  private val cap = MediaQueries.maxBandDf

  /** Start the ingest stream: `docs` must carry
    * (doc_id long, payload binary). */
  def start(spark: SparkSession, docs: DataFrame, corpusDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(docs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, corpusDir, _))

  /** Sniff + REAL decode + modality-matched 60-bit fingerprint — the
    * map-only kernel, one iterator pass per partition. */
  private def signed(spark: SparkSession, batch: DataFrame): DataFrame = {
    import spark.implicits._
    batch.select(col("doc_id"), col("payload"))
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
              MediaSig(id, payload, "img", MediaQueries.dhash60(w, h, px))
            case "bmp" =>
              val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
              val m = MediaQueries.decodeBmp(id, payload, buf += _)
              MediaSig(id, payload, "img", MediaQueries.dhash60(
                m.width.toInt, m.height.toInt, buf.toArray))
            case "wav" =>
              val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
              val m = MediaQueries.decodeWav(id, payload, buf += _)
              MediaSig(id, payload, "aud", MediaQueries.audioFp60(
                m.n_samples.toInt, buf.toArray))
            case other => throw new IllegalArgumentException(
              s"doc $id: unknown container $other")
          }
        }
      }.toDF()
  }

  private def bandRows(sigs: DataFrame): DataFrame = {
    val chunkArr = array((0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        (shiftright(col("fp"), c * 15) % 32768).as("key"))): _*)
    sigs.select(col("doc_id"), col("modality"), col("fp"),
        explode(chunkArr).as("ck"))
      .select(col("doc_id"), col("modality"), col("fp"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))
  }

  private val bandKeys = Seq("modality", "chunk", "key")

  /** Doc ids of `bands` (this batch) with a verified earlier near-dup:
    * an earlier-id row of the same batch, or any row of the committed
    * index. Both legs df-capped (see the object scaladoc). */
  private def droppedIds(spark: SparkSession, bands: DataFrame,
                         corpusDir: String): DataFrame = {
    val near = bit_count(col("x.fp").bitwiseXOR(col("y.fp"))) <=
      MediaQueries.phashMaxHamming
    // batch-local df-cap (a degenerate class inside ONE batch)
    val hotBatch = bands.groupBy(bandKeys.map(col): _*)
      .agg(count(lit(1)).as("df")).filter(col("df") > cap)
      .select(bandKeys.map(col): _*)
    val bandsCapped = bands
      .join(broadcast(hotBatch), bandKeys, "left_anti")
    val earlier = bandsCapped.as("x").join(bandsCapped.as("y"), bandKeys)
      .filter(col("x.doc_id") > col("y.doc_id")).filter(near)
      .select(col("x.doc_id").as("doc_id"))
    // index probe: broadcast semi-join by the batch's own keys filters
    // the ever-growing index map-side, THEN the history-side df-cap
    // bounds per-key work no matter what the history holds
    val idxHits = readIndex(spark, corpusDir)
      .join(broadcast(bands.select(bandKeys.map(col): _*).distinct()),
        bandKeys, "left_semi")
      .localCheckpoint() // feeds the df count and the probe join
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

  /** One micro-batch: decode + fingerprint, probe (index ∪ earlier-in-
    * batch), keep the novel payloads; index EVERY document's band rows.
    * Idempotent per `batchId` via the corpus commit marker. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame,
                      corpusDir: String, batchId: Long): Unit = {
    // same layout → same ingest guard and orphan sweep
    if (store.replayed(corpusDir, batchId, "MediaStream.applyMicroBatch"))
      return
    val sigs = signed(spark, batch).localCheckpoint() // decode ONCE
    val bands = bandRows(sigs).localCheckpoint() // 4 consumers
    val dropped = droppedIds(spark, bands, corpusDir)
      .localCheckpoint() // kept anti-join + the drops quarantine
    val kept = sigs.join(dropped, Seq("doc_id"), "left_anti")
    // index first (ALL docs' band rows — cross-batch witnesses), drops
    // second (quarantined full rows — [[Takedown]] re-elects from here
    // when a kept canonical is later removed), counts third (the
    // per-batch gate tally the drift monitor subset-sums), corpus last
    // (kept docs only; its marker is the commit point)
    // arrival_seq: the true-arrival-order witness key — see
    // DedupStream.applyMicroBatch
    store.write(corpusDir, "index", batchId,
      bands.select("modality", "chunk", "key", "fp", "doc_id")
        .withColumn("arrival_seq", lit(batchId)))
    store.write(corpusDir, "drops", batchId,
      sigs.join(dropped, Seq("doc_id"), "left_semi")
        .select("doc_id", "payload", "modality", "fp")
        .withColumn("arrival_seq", lit(batchId)))
    store.write(corpusDir, "counts", batchId,
      sigs.join(dropped.withColumn("__hit", lit(1)), Seq("doc_id"), "left")
        .groupBy("modality")
        .agg(count(lit(1)).as("n_processed"),
          count(col("__hit")).as("n_dropped")))
    store.write(corpusDir, "docs", batchId,
      kept.select("doc_id", "payload", "modality", "fp"))
  }

  /** DRY-RUN gate: the verdicts `applyMicroBatch` would reach for
    * `batch` against the committed state, WITHOUT writing — one row
    * (doc_id, modality, fp, keep) per batch doc. Read-only, so it is
    * also the bench face's timed body: the per-batch cost a crawl
    * pipeline pays at the gate. */
  def gateProbe(spark: SparkSession, batch: DataFrame,
                corpusDir: String): DataFrame = {
    val sigs = signed(spark, batch).localCheckpoint()
    val dropped = droppedIds(spark, bandRows(sigs).localCheckpoint(),
      corpusDir)
    sigs.join(dropped.withColumn("hit", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("modality"), col("fp"),
        col("hit").isNull.as("keep"))
      .orderBy("doc_id")
  }

  /** The kept (near-dup-free) media corpus so far — committed batches
    * only, marker-only tombstones excluded explicitly. */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame =
    Takedown.view(spark, corpusDir, store.read(spark, corpusDir, "docs",
      "doc_id BIGINT, payload BINARY, modality STRING, fp BIGINT"), "docs")

  /** The committed (modality, chunk, key, fp, doc_id) band index —
    * every processed document of every committed batch. */
  def readIndex(spark: SparkSession, corpusDir: String): DataFrame =
    Takedown.view(spark, corpusDir, store.read(spark, corpusDir, "index",
      "modality STRING, chunk INT, key BIGINT, fp BIGINT, doc_id BIGINT, " +
        "arrival_seq BIGINT"), "index")

  // ---- per-batch gate counts + drift ---------------------------------

  private def sumCounts(spark: SparkSession, corpusDir: String,
                        dirs: Seq[String]): DataFrame =
    store.read(spark, corpusDir, "counts",
        "modality STRING, n_processed BIGINT, n_dropped BIGINT", dirs)
      .groupBy("modality")
      .agg(sum("n_processed").as("n_processed"),
        sum("n_dropped").as("n_dropped"))

  /** Lifetime per-modality gate tally — counts ADD, so this reads the
    * ≤2-row committed count tables, never the corpus or the payloads. */
  def readCounts(spark: SparkSession, corpusDir: String): DataFrame =
    sumCounts(spark, corpusDir, store.dirs(corpusDir, "counts"))

  /** Trailing-`lastK` tally over a [[BatchStore.window]]. */
  def readCountsWindow(spark: SparkSession, corpusDir: String,
                       lastK: Int): DataFrame =
    sumCounts(spark, corpusDir, store.window(corpusDir, "counts", lastK))

  /** MEDIA GATE DRIFT — "did the image/audio near-dup drop rate spike
    * this crawl?": per modality, lifetime vs trailing-`lastK`-batch
    * drop rates with the delta — the [[EvalStream.gateEvalDrift]]
    * subset-sum shape over this gate's committed count dirs (window
    * stages LEFT-joined and zero-filled). Corpus-size-independent: the
    * dashboard reads ≤2-row tables per committed batch dir. Counts are
    * ingest-time history, deliberately NOT rewritten by [[Takedown]]
    * (the monitor reports what the gate DID, not the corpus as it now
    * stands). */
  def mediaGateDrift(spark: SparkSession, corpusDir: String,
                     lastK: Int): DataFrame = {
    val life = readCounts(spark, corpusDir)
      .select(col("modality"), col("n_processed").as("n_life"),
        col("n_dropped").as("n_dropped_life"))
    val win = readCountsWindow(spark, corpusDir, lastK)
      .select(col("modality"), col("n_processed").as("n_window"),
        col("n_dropped").as("n_dropped_window"))
    life.join(win, Seq("modality"), "left")
      .select(col("modality"), col("n_life"), col("n_dropped_life"),
        round(col("n_dropped_life").cast("double") / col("n_life"), 6)
          .as("drop_rate_life"),
        coalesce(col("n_window"), lit(0L)).as("n_window"),
        coalesce(col("n_dropped_window"), lit(0L)).as("n_dropped_window"),
        round(coalesce(col("n_dropped_window"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_window"), lit(0L)), lit(1L)), 6)
          .as("drop_rate_window"))
      .withColumn("drop_delta",
        round(col("drop_rate_window") - col("drop_rate_life"), 6))
      .orderBy("modality") // 2 rows — a global order is free
  }

  /** REGISTERED + DuckDB-oracled: trailing-2-of-4 quartile batches vs
    * lifetime drop rate by modality. The textured corpus is ingested in
    * 4 CONTIGUOUS doc_id-quartile batches (id-ordered, so the per-batch
    * verdicts are the batch faces' own — the oracle recomputes each
    * quartile's tally from the dedup_media/dedup_audio pair SQL), a
    * state separate from [[mediaGateProbe]]'s stride-batched one on
    * purpose: this face's oracle needs id-ordered batches. Bench times
    * the dashboard refresh (the ≤2-row count reads), not the ingest
    * (warmup pays it once). */
  def mediaGateDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val media = MediaQueries.texturedMediaTable(s, dir)
    val st = FaceState("media-drift", dir) { d =>
      Takedown.quartiles(media.localCheckpoint()).zipWithIndex.foreach {
        case (b, i) => applyMicroBatch(s, b, d, i.toLong)
      }
    }
    mediaGateDrift(s, st, lastK = 2)
  }

  // ---- bench-only steady-state face ---------------------------------

  /** BENCH-ONLY: the ingest gate's steady-state cost — state built once
    * per sf dir ([[FaceState]]) by ingesting 3 of 4 id-strides of the
    * textured multimodal corpus (warmup pays decode + ingest), then timed
    * passes run [[gateProbe]] for the held-out stride: decode +
    * fingerprint + band probe against the committed index, the per-batch
    * number a crawl pipeline pays at the gate. MediaStreamSpec pins gateProbe ≡
    * the ingest's own verdicts and stream ≡ batch overall. */
  def mediaGateProbe(s: SparkSession, dir: String): DataFrame = {
    val media = MediaQueries.texturedMediaTable(s, dir)
    val st = FaceState("media-stream", dir) { d =>
      (0 until 3).foreach(i => applyMicroBatch(s,
        media.filter(pmod(col("doc_id"), lit(4)) === i), d, i.toLong))
    }
    gateProbe(s, media.filter(pmod(col("doc_id"), lit(4)) === 3), st)
  }
}
