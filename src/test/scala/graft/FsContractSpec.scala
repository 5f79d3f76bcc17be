package graft

import java.nio.file.Files

import graft.streaming.{DedupStream, NearDupStream, Scd2Stream}
import graft.scd2.Scd2
import org.apache.spark.sql.functions._

/** The streaming commit protocols run entirely through
  * `org.apache.hadoop.fs.FileContext` ([[graft.streaming.StreamFs]]) —
  * this suite drives them against explicit `file:` URIs, which Hadoop
  * resolves to its CHECKSUMMING LocalFs wrapper (not the raw local
  * filesystem), proving no `java.io.File` assumption remains: every
  * protocol-metadata write must leave the wrapper's `.crc` sibling, and
  * the full ingest → replay → compact → recover cycle must behave
  * exactly as on a plain local path. */
class FsContractSpec extends SparkSpec {

  import spark.implicits._

  private def local(p: String): java.io.File = new java.io.File(p)

  test("dedup ingest protocol works through the checksumming LocalFs wrapper") {
    val tmp = Files.createTempDirectory("graft-fscontract").toString
    val corpus = s"file:$tmp/corpus"
    def batchDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    DedupStream.applyMicroBatch(spark,
      batchDf(1L -> "alpha", 2L -> "beta", 5L -> "beta"), corpus, batchId = 0L)
    DedupStream.applyMicroBatch(spark,
      batchDf(7L -> "alpha", 8L -> "delta"), corpus, batchId = 1L)
    // checksums prove the writes went through ChecksumFs, not java.io
    val markerCrc = local(s"$tmp/corpus/docs/batch=0/._GRAFT_COMMIT.crc")
    assert(markerCrc.exists(), "facade writes must carry LocalFs checksums")
    // replay is a no-op; dedup semantics identical to the plain-path suite
    DedupStream.applyMicroBatch(spark,
      batchDf(1L -> "alpha", 2L -> "beta", 5L -> "beta"), corpus, batchId = 0L)
    val got = DedupStream.readCorpus(spark, corpus)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "alpha"), (2L, "beta"), (8L, "delta")))
    // compaction + post-compaction ingest through the wrapper
    DedupStream.compact(spark, corpus)
    assert(DedupStream.readCorpus(spark, corpus).count() === 3)
    DedupStream.applyMicroBatch(spark,
      batchDf(9L -> "epsilon"), corpus, batchId = 2L)
    assert(DedupStream.readCorpus(spark, corpus).count() === 4)
    // an unmarked (crash-debris) batch dir is swept by recover
    local(s"$tmp/corpus/docs/batch=9").mkdirs()
    DedupStream.recover(corpus)
    assert(!local(s"$tmp/corpus/docs/batch=9").exists())
  }

  test("near-dup ingest protocol works through the checksumming LocalFs wrapper") {
    val tmp = Files.createTempDirectory("graft-fscontract-nd").toString
    val corpus = s"file:$tmp/corpus"
    val base = "the quick brown fox jumps over the lazy dog again and again " * 8
    NearDupStream.applyMicroBatch(spark,
      Seq((1L, base + "tail one alpha"), (2L, base + "tail one beta"))
        .toDF("doc_id", "text"), corpus, batchId = 0L)
    NearDupStream.applyMicroBatch(spark,
      Seq((3L, "completely different and novel text about something else entirely here"))
        .toDF("doc_id", "text"), corpus, batchId = 1L)
    val kept = NearDupStream.readCorpus(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L), "2 near-dups 1; 3 is novel")
    // dropped doc 2 is still indexed (cross-batch witness contract)
    assert(NearDupStream.readIndex(spark, corpus)
      .select("doc_id").distinct().count() === 3)
  }

  test("SCD2 swap + commit marker work through the checksumming LocalFs wrapper") {
    val tmp = Files.createTempDirectory("graft-fscontract-scd2").toString
    val hist = s"file:$tmp/history"
    def ev(id: Long, user: Long, t: String) =
      (user, id, java.sql.Timestamp.valueOf(t))
    val b1 = Seq(ev(1, 1, "2024-01-01 10:00:00"), ev(2, 2, "2024-01-01 10:30:00"))
      .toDF("user_id", "event_id", "ts")
    val b2 = Seq(ev(3, 1, "2024-01-02 09:00:00"))
      .toDF("user_id", "event_id", "ts")
    Scd2Stream.applyMicroBatch(spark, b1, hist,
      Seq("user_id"), "ts", "event_id", batchId = Some(0L))
    Scd2Stream.applyMicroBatch(spark, b2, hist,
      Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    // the commit marker carries a LocalFs checksum (wrote through the facade)
    assert(local(s"$tmp/history/._graft_batch.crc").exists(),
      "history marker must carry a LocalFs checksum")
    // replay of both ids is a no-op; history equals the batch-built twin
    val once = spark.read.parquet(hist).collect().toSet
    Scd2Stream.applyMicroBatch(spark, b1, hist,
      Seq("user_id"), "ts", "event_id", batchId = Some(0L))
    Scd2Stream.applyMicroBatch(spark, b2, hist,
      Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    assert(spark.read.parquet(hist).collect().toSet === once)
    val expect = Scd2.fromEvents(b1.unionByName(b2),
      Seq("user_id"), "ts", "event_id")
    val got = spark.read.parquet(hist)
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("bucketed SCD2 swap works through the checksumming LocalFs wrapper") {
    val tmp = Files.createTempDirectory("graft-fscontract-bkt").toString
    val hist = s"file:$tmp/history"
    val b1 = (1L to 40L).map(i =>
        (i % 7, i, java.sql.Timestamp.valueOf(s"2024-01-01 10:00:${i % 60}")))
      .toDF("user_id", "event_id", "ts")
    Scd2Stream.applyMicroBatchBucketed(spark, b1, hist,
      Seq("user_id"), "ts", "event_id", nBuckets = 8, batchId = Some(0L))
    val got = Scd2Stream.readBucketed(spark, hist)
    val expect = Scd2.fromEvents(b1, Seq("user_id"), "ts", "event_id")
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // replay no-op via the commit marker written through the facade
    Scd2Stream.applyMicroBatchBucketed(spark, b1, hist,
      Seq("user_id"), "ts", "event_id", nBuckets = 8, batchId = Some(0L))
    assert(Scd2Stream.readBucketed(spark, hist).count() === expect.count())
  }

  test("CompactionLock: atomic create-if-absent, exception-safe release, stale reclaim") {
    import graft.streaming.{CompactionLock, StreamFs}
    val root = Files.createTempDirectory("graft-clock").toString + "/r"
    // createExclusive is genuinely exclusive (the round-13 ADVICE fix:
    // no exists()-then-overwrite window)
    StreamFs.createExclusive(root + ".x")
    intercept[Exception](StreamFs.createExclusive(root + ".x"))
    // a holder blocks a second acquisition...
    CompactionLock.withLock(root) {
      intercept[java.io.IOException](CompactionLock.withLock(root) { () })
    }
    // ...and releases on BOTH normal and exceptional exit
    assert(!StreamFs.exists(CompactionLock.lockPath(root)))
    intercept[RuntimeException](
      CompactionLock.withLock(root) { throw new RuntimeException("boom") })
    assert(!StreamFs.exists(CompactionLock.lockPath(root)))
    // a dead holder (no heartbeat for StaleMs) is reclaimed, a live one
    // (recent mtime) is not
    StreamFs.writeAtomicString(CompactionLock.lockPath(root), "")
    StreamFs.touchAt(CompactionLock.lockPath(root),
      System.currentTimeMillis() - CompactionLock.StaleMs - 1000)
    var ran = false
    CompactionLock.withLock(root) { ran = true }
    assert(ran && !StreamFs.exists(CompactionLock.lockPath(root)))
  }
}
