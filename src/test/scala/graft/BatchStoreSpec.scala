package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import graft.ops.MediaQueries
import graft.streaming.{CmsStream, CompactionLock, EvalStream, PairStream,
  StreamFs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The shared batch-dir protocol ([[graft.streaming.BatchStore]]) as the
  * stores see it: PairStream completes an interrupted compaction swap,
  * the batch-grain takedowns honor the compaction lock, and no module
  * outside BatchStore knows the protocol's names. */
class BatchStoreSpec extends SparkSpec {

  private def freshDir(): String =
    Files.createTempDirectory("graft-batchstore").toString + "/state"

  private lazy val docs: DataFrame = Tables.documents(spark, sf)
    .select("doc_id", "text").filter(col("doc_id") < 16).localCheckpoint()

  private def verdicts(d: String): Set[String] =
    PairStream.readVerdicts(spark, d).collect().map(_.toString).toSet

  test("PairStream.recover completes a compaction swap cut between the renames") {
    val pairs = docs.join(MediaQueries.texturedMediaTable(spark, sf)
        .filter(col("doc_id") % 3 =!= 1), Seq("doc_id"), "left")
      .select("doc_id", "text", "payload").localCheckpoint()
    val d = freshDir()
    (0L to 1L).foreach(b =>
      PairStream.applyMicroBatch(spark, pairs.filter(col("doc_id") % 2 === b),
        d, b))
    val before = verdicts(d)
    assert(before.nonEmpty)
    // crash between the two root renames: a complete stage at .ctmp, the
    // committed root renamed aside to .cold
    val stage = Paths.get(d + ".ctmp")
    val walk = Files.walk(Paths.get(d))
    try walk.forEach((p: Path) =>
      Files.copy(p, stage.resolve(Paths.get(d).relativize(p))))
    finally walk.close()
    assert(new File(d).renameTo(new File(d + ".cold")))
    PairStream.recover(d)
    assert(new File(d).exists() && !new File(d + ".cold").exists() &&
      !new File(d + ".ctmp").exists())
    assert(verdicts(d) === before, "the committed state must survive")
  }

  test("batch-grain takedowns (Cms, Eval) refuse a root a live compaction holds") {
    import spark.implicits._
    val cms = freshDir()
    CmsStream.applyMicroBatch(spark, docs, cms, 0L)
    CompactionLock.withLock(cms) {
      intercept[java.io.IOException](
        CmsStream.applyTakedown(spark, cms, Seq(0L), 0L))
    }
    CmsStream.applyTakedown(spark, cms, Seq(0L), 0L)
    assert(CmsStream.readSketch(spark, cms).isEmpty)
    val eval = freshDir()
    EvalStream.applyMicroBatch(spark,
      Seq((1L, true, true), (2L, false, true)).toDF("score", "label",
        "decision"), eval, 0L)
    CompactionLock.withLock(eval) {
      intercept[java.io.IOException](
        EvalStream.applyTakedown(spark, eval, Seq(0L), 0L))
    }
    EvalStream.applyTakedown(spark, eval, Seq(0L), 0L)
    assert(EvalStream.readCounts(spark, eval).isEmpty)
  }

  test("batch-grain takedowns (Cms, Eval) refuse ids a compaction folded") {
    import spark.implicits._
    // nothing commits on a refusal: no td dir, not even a stage
    def refused(d: String)(takedown: => Unit): Unit = {
      intercept[IllegalArgumentException](takedown)
      assert(StreamFs.listNames(s"$d/takedown").isEmpty, "a refusal commits nothing")
    }
    def sketch(d: String) = CmsStream.readSketch(spark, d).collect().toSet
    val cms = freshDir()
    (0L to 1L).foreach(b => CmsStream.applyMicroBatch(spark,
      docs.filter(col("doc_id") % 2 === b), cms, b))
    CmsStream.compact(spark, cms) // folds batch 0 into batch 1's dir
    Seq(0L, 1L).foreach(b =>
      refused(cms)(CmsStream.applyTakedown(spark, cms, Seq(b), 0L)))
    val folded = sketch(cms)
    CmsStream.applyMicroBatch(spark, docs, cms, 2L)
    assert(sketch(cms) != folded)
    CmsStream.applyTakedown(spark, cms, Seq(2L), 0L) // still separate
    assert(sketch(cms) === folded)

    def counts(d: String) = EvalStream.readCounts(spark, d).collect().toSet
    val eval = freshDir()
    (0L to 3L).foreach(b => EvalStream.applyMicroBatch(spark,
      Seq((b, b % 2 == 0, true), (b + 10, false, b < 2)).toDF("score",
        "label", "decision"), eval, b))
    val before3 = counts(eval)
    EvalStream.compact(spark, eval, keepLast = 1) // folds 0-2 into 2
    assert(counts(eval) === before3)
    Seq(0L, 2L).foreach(b =>
      refused(eval)(EvalStream.applyTakedown(spark, eval, Seq(b, 3L), 0L)))
    assert(counts(eval) === before3)
    EvalStream.applyTakedown(spark, eval, Seq(3L), 0L) // the horizon batch
    val without3 = counts(eval)
    assert(without3 != before3 && without3.nonEmpty)
    EvalStream.applyMicroBatch(spark,
      Seq((4L, true, true)).toDF("score", "label", "decision"), eval, 4L)
    EvalStream.applyTakedown(spark, eval, Seq(4L), 1L) // after the fold
    assert(counts(eval) === without3)
  }

  test("only BatchStore names the commit marker and the swap dirs") {
    val dir = new File("src/main/scala/graft/streaming")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    assert(files.size > 10, s"streaming sources not found under $dir")
    def text(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val literals = Seq("_GRAFT_COMMIT", ".ctmp", ".cold")
    val (owner, others) = files.partition(_.getName == "BatchStore.scala")
    assert(owner.size == 1 && literals.forall(text(owner.head).contains))
    val forks = for (f <- others; l <- literals if text(f).contains(l))
      yield s"${f.getName}: $l"
    assert(forks.isEmpty, "protocol names outside BatchStore")
  }
}
