package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import graft.ops.MediaQueries
import graft.streaming.{CmsStream, CompactionLock, EvalStream, PairStream}
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
