package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** INGESTION-TIME URL dedup — the streaming face of
  * [[graft.ops.DedupQueries.dedupUrl]], and the LAST dedup family to
  * gain an ingest gate (exact text → [[DedupStream]], MinHash text →
  * [[NearDupStream]], winnow → WinnowStream, image/audio →
  * [[MediaStream]], now URL): C4 dedups Common Crawl BY URL as its
  * FIRST stage (Raffel et al. JMLR'20 §2.2), which in a crawl pipeline
  * is an ingest-time admission check, not a nightly batch. Each
  * micro-batch's URLs are canonicalized with the codegen'd
  * `url_canonicalize` kernel, deduplicated within the batch (min
  * doc_id per canonical wins — the batch face's rule), anti-probed
  * against the PERSISTED canonical-URL index, and only first-seen
  * canonicals are admitted.
  *
  * The index key is the canonical STRING itself, not a hash of it —
  * [[graft.ops.DedupQueries.dedupUrl]] groups by the string, and a
  * dedup key must never over-merge; a deployment short on index bytes
  * would hash AND verify, which changes storage, not these semantics.
  * Under id-ordered batching the kept corpus is EXACTLY the batch
  * face's `keep = (doc_id = min over canonical)` verdicts, invariant
  * to the batch count (UrlStreamSpec pins it; the registered
  * `dedup_url_stream` face makes the same claim against the DuckDB
  * oracle).
  *
  * Storage layout, marker commit protocol, idempotent replay, crash
  * sweep, compaction ([[DedupStream.compact]], schema-agnostic) and
  * the [[CompactionLock]] ingest guard are [[DedupStream]]'s
  * [[BatchStore]] layout.
  *
  * Scale notes (100 TB): canonicalization is one codegen'd map pass;
  * per batch ONE equi-join of the batch's canonicals against the
  * index, pre-filtered map-side by a broadcast semi-join on the
  * batch's own keys — the ever-growing index is never shuffled. */
object UrlStream {

  import graft.functions.TextFunctions.md5Long

  private def store = DedupStream.store

  /** Start the ingest stream: `docs` must carry
    * (doc_id long, url string). */
  def start(spark: SparkSession, docs: DataFrame, corpusDir: String,
            checkpoint: String, triggerMs: Long = 200L): StreamingQuery =
    BatchStore.start(docs, checkpoint, triggerMs)(
      applyMicroBatch(spark, _, corpusDir, _))

  /** One micro-batch: canonicalize, within-batch dedup (min doc_id per
    * canonical), anti-probe the index, admit first-seen canonicals.
    * Idempotent per `batchId` via the corpus commit marker. */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame,
                      corpusDir: String, batchId: Long): Unit = {
    // same layout → same ingest guard and orphan sweep
    if (store.replayed(corpusDir, batchId, "UrlStream.applyMicroBatch"))
      return
    val all = batch
      .withColumn("canonical_url",
        call_function("url_canonicalize", col("url")))
      // the index shuffle key: canonicals are long strings, so the
      // probe joins ride a 60-bit prefilter hash and verify on the
      // string in-row (collisions cannot over-merge — the string
      // equality is the admission test)
      .withColumn("curl_hash", md5Long(col("canonical_url")))
      .persist()
    val canon = all
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("canonical_url")).orderBy(col("doc_id"))))
      .filter(col("__rank") === 1).drop("__rank")
      .persist()
    try {
      val novel =
        (if (StreamFs.listNames(s"$corpusDir/index").nonEmpty) {
          val hits = readIndex(spark, corpusDir)
            .join(broadcast(canon.select("curl_hash").distinct()),
              Seq("curl_hash"), "left_semi")
            .select("curl_hash", "canonical_url").distinct()
          canon.join(broadcast(hits), Seq("curl_hash", "canonical_url"),
            "left_anti")
        } else canon).persist()
      try {
        // index first, drops second (quarantined full rows — [[Takedown]]
        // re-elects from here), corpus last — the corpus marker is the
        // commit point; a crash between leaves orphan dirs that
        // recover() sweeps
        // arrival_seq: the true-arrival-order witness key — see
        // DedupStream.applyMicroBatch
        store.write(corpusDir, "index", batchId,
          novel.select("curl_hash", "canonical_url", "doc_id")
            .withColumn("arrival_seq", lit(batchId)))
        store.write(corpusDir, "drops", batchId,
          all.join(novel.select("doc_id"), Seq("doc_id"), "left_anti")
            .select("doc_id", "url", "canonical_url", "curl_hash")
            .withColumn("arrival_seq", lit(batchId)))
        // per-batch gate tally (1 row × 1 row assembly) — the drift
        // monitor subset-sums these, never the corpus
        store.write(corpusDir, "counts", batchId,
          all.agg(count(lit(1)).as("n_processed"))
            .crossJoin(novel.agg(count(lit(1)).as("n_admitted"))))
        store.write(corpusDir, "docs", batchId,
          novel.select("doc_id", "url", "canonical_url"))
      } finally { novel.unpersist(); () }
    } finally { canon.unpersist(); all.unpersist(); () }
  }

  /** The admitted (canonical-unique) corpus so far — committed
    * takedowns applied. */
  def readCorpus(spark: SparkSession, corpusDir: String): DataFrame =
    Takedown.view(spark, corpusDir, store.read(spark, corpusDir, "docs",
      "doc_id BIGINT, url STRING, canonical_url STRING"), "docs")

  /** The committed (curl_hash, canonical_url, doc_id) index — committed
    * takedowns applied (a removed canonical's claim passes to the
    * promoted representative's row). */
  def readIndex(spark: SparkSession, corpusDir: String): DataFrame =
    Takedown.view(spark, corpusDir, store.read(spark, corpusDir, "index",
      "curl_hash BIGINT, canonical_url STRING, doc_id BIGINT, " +
        "arrival_seq BIGINT"), "index")

  // ---- per-batch gate counts + drift ---------------------------------

  private def sumCounts(spark: SparkSession, corpusDir: String,
                        dirs: Seq[String]): DataFrame =
    store.read(spark, corpusDir, "counts",
        "n_processed BIGINT, n_admitted BIGINT", dirs)
      .agg(sum("n_processed").as("n_processed"),
        sum("n_admitted").as("n_admitted"))
      .filter(col("n_processed").isNotNull) // no rows when none committed

  /** URL GATE DRIFT — "did the URL-dup admission rate move on recent
    * crawls?" (a collapsing admit rate = a feed started replaying; a
    * jump = a new domain came online): ONE row, lifetime vs
    * trailing-`lastK`-batch admit rates with the delta, subset sums
    * over the committed 1-row count tables ([[EvalStream.gateEvalDrift]]
    * shape over a [[BatchStore.window]]). Corpus-size-independent. */
  def urlGateDrift(spark: SparkSession, corpusDir: String,
                   lastK: Int): DataFrame = {
    val life = sumCounts(spark, corpusDir, store.dirs(corpusDir, "counts"))
      .select(col("n_processed").as("n_life"),
        col("n_admitted").as("n_admitted_life"))
    val win = sumCounts(spark, corpusDir,
      store.window(corpusDir, "counts", lastK))
      .select(col("n_processed").as("n_window"),
        col("n_admitted").as("n_admitted_window"))
    life.crossJoin(win) // 1 row × 1 row
      .select(col("n_life"), col("n_admitted_life"),
        round(col("n_admitted_life").cast("double") /
          greatest(col("n_life"), lit(1L)), 6).as("admit_rate_life"),
        coalesce(col("n_window"), lit(0L)).as("n_window"),
        coalesce(col("n_admitted_window"), lit(0L)).as("n_admitted_window"),
        round(coalesce(col("n_admitted_window"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_window"), lit(0L)), lit(1L)), 6)
          .as("admit_rate_window"))
      .withColumn("admit_delta",
        round(col("admit_rate_window") - col("admit_rate_life"), 6))
  }

  /** REGISTERED + DuckDB-oracled: trailing-2-of-4 quartile batches vs
    * lifetime admit rate over the deterministic id-ordered ingest
    * ([[dedupUrlStream]]'s own state — same cache, so Verify builds it
    * once); the oracle recomputes both tallies from the synthesis
    * arithmetic (admitted ⇔ min doc_id per canonical; window ⇔ the top
    * half of the doc_id range). */
  def urlGateDriftQuery(s: SparkSession, dir: String): DataFrame =
    urlGateDrift(s, urlState(s, dir), lastK = 2)

  // ---- registered face ------------------------------------------------

  /** REGISTERED + DuckDB-oracled: the admitted corpus after ingesting
    * the synthetic URL table in 4 CONTIGUOUS id-range batches
    * (id-ordered, so kept ≡ `doc_id = min(doc_id) over canonical` —
    * exactly what the oracle recomputes from the synthesis arithmetic).
    * State builds once per (JVM, dir); Verify sees the deterministic
    * corpus, Bench times the committed-corpus read. */
  def dedupUrlStream(s: SparkSession, dir: String): DataFrame =
    readCorpus(s, urlState(s, dir)).orderBy("doc_id")

  /** The deterministic 4-quartile ingest state, built once per
    * (JVM, dir) by [[FaceState]] — shared by [[dedupUrlStream]] and
    * [[urlGateDriftQuery]]. */
  private def urlState(s: SparkSession, dir: String): String =
    FaceState("url-stream", dir) { d =>
      val urls = graft.ops.TextQueries.urlNormalize(s, dir)
        .select("doc_id", "url").localCheckpoint()
      Takedown.quartiles(urls).zipWithIndex.foreach { case (b, i) =>
        applyMicroBatch(s, b, d, i.toLong)
      }
    }
}
