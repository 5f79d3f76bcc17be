package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.util.{Failure, Success, Try}

import graft.{SparkSpec, Tables}
import graft.ops.{MediaQueries, TextQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The read-side contract of every [[BatchStore]]-backed store, table-
  * driven over each public reader: on a root that has committed nothing
  * the reader returns no rows (a probe or a gate report answers with
  * its fixed rows) and does not throw, and after one
  * committed batch it returns the same column names and types as on the
  * empty root. A source guard keeps the committed-dir read and the
  * trailing window in [[BatchStore]]. */
class BatchStoreReadSpec extends SparkSpec {

  import BatchStoreReadSpec._

  private lazy val docs: DataFrame = Tables.documents(spark, sf)
    .select("doc_id", "text").filter(col("doc_id") < 16).localCheckpoint()

  private lazy val vecs: DataFrame = Tables.embeddings(spark, sf)
    .select("vec_id", "label", "embedding").filter(col("vec_id") < 24)
    .localCheckpoint()

  private lazy val media: DataFrame = MediaQueries
    .texturedMediaTable(spark, sf).filter(col("doc_id") < 16)
    .localCheckpoint()

  private lazy val urls: DataFrame = TextQueries.urlNormalize(spark, sf)
    .select("doc_id", "url").filter(col("doc_id") < 16).localCheckpoint()

  private lazy val pairs: DataFrame = docs
    .join(media.filter(col("doc_id") % 3 =!= 1), Seq("doc_id"), "left")
    .select("doc_id", "text", "payload").localCheckpoint()

  private lazy val scored: DataFrame = spark.range(24)
    .select(col("id").as("score"), (col("id") % 3 === 0).as("label"),
      (col("id") % 5 < 2).as("decision"))

  private lazy val probe: DataFrame = {
    import spark.implicits._
    Seq("the", "of", "zzz").toDF("token")
  }

  private lazy val stores: Seq[(String, Store)] = Seq(
    "AnnStream" -> Store(
      d => {
        AnnStream.init(spark, vecs.select("vec_id", "embedding"), d)
        AnnStream.applyMicroBatch(spark, vecs.select("vec_id", "embedding"),
          d, 0L)
      },
      Seq("readCoded" -> (AnnStream.readCoded(spark, _)))),
    "CmsStream" -> Store(
      CmsStream.applyMicroBatch(spark, docs, _, 0L),
      Seq("readSketch" -> (CmsStream.readSketch(spark, _)),
        "estimate" -> (CmsStream.estimate(spark, _, probe)))),
    "CurationStream" -> Store(
      CurationStream.applyMicroBatch(spark, docs, _, 0L),
      Seq("readVerdicts" -> (CurationStream.readVerdicts(spark, _)),
        "funnelLive" -> (CurationStream.funnelLive(spark, _)),
        "funnelWindow" -> (CurationStream.funnelWindow(spark, _, 2)),
        "funnelDrift" -> (CurationStream.funnelDrift(spark, _, 2)))),
    "DedupStream" -> Store(
      DedupStream.applyMicroBatch(spark, docs, _, 0L),
      Seq("readCorpus" -> (DedupStream.readCorpus(spark, _)),
        "readIndex" -> (DedupStream.readIndex(spark, _)))),
    "EmbedStream" -> Store(
      EmbedStream.applyMicroBatch(spark, vecs, _, 0L),
      Seq("readCounts" -> (EmbedStream.readCounts(spark, _)),
        "readCountsWindow" -> (EmbedStream.readCountsWindow(spark, _, 2)),
        "embeddingDriftLive" ->
          (EmbedStream.embeddingDriftLive(spark, _, 2)))),
    "EvalStream" -> Store(
      EvalStream.applyMicroBatch(spark, scored, _, 0L),
      Seq("readCounts" -> (EvalStream.readCounts(spark, _)),
        "readCountsWindow" -> (EvalStream.readCountsWindow(spark, _, 2)),
        "prCurveLive" -> (EvalStream.prCurveLive(spark, _)),
        "gateEvalLive" -> (EvalStream.gateEvalLive(spark, _, "g")),
        "gateEvalWindow" -> (EvalStream.gateEvalWindow(spark, _, "g", 2)),
        "gateEvalDrift" -> (EvalStream.gateEvalDrift(spark, _, "g", 2)),
        "calibrationLive" ->
          (EvalStream.calibrationLive(spark, _, "g", 5L)),
        "calibrationDrift" ->
          (EvalStream.calibrationDrift(spark, _, "g", 5L, 2)))),
    "GraphStream" -> Store(
      d => {
        GraphStream.init(spark, vecs.select("vec_id", "embedding"), d)
        GraphStream.applyMicroBatch(spark,
          vecs.select("vec_id", "embedding"), d, 0L)
      },
      Seq("readNodes" -> (GraphStream.readNodes(spark, _)),
        "readGraph" -> (GraphStream.readGraph(spark, _)))),
    "MediaStream" -> Store(
      MediaStream.applyMicroBatch(spark, media, _, 0L),
      Seq("readCorpus" -> (MediaStream.readCorpus(spark, _)),
        "readIndex" -> (MediaStream.readIndex(spark, _)),
        "readCounts" -> (MediaStream.readCounts(spark, _)),
        "readCountsWindow" -> (MediaStream.readCountsWindow(spark, _, 2)),
        "mediaGateDrift" -> (MediaStream.mediaGateDrift(spark, _, 2)))),
    "NearDupStream" -> Store(
      NearDupStream.applyMicroBatch(spark, docs, _, 0L),
      Seq("readCorpus" -> (NearDupStream.readCorpus(spark, _)),
        "readIndex" -> (NearDupStream.readIndex(spark, _)))),
    "PackStream" -> Store(
      PackStream.applyMicroBatch(spark, docs, _, 0L),
      Seq("readPlacement" -> (PackStream.readPlacement(spark, _)))),
    "PairStream" -> Store(
      PairStream.applyMicroBatch(spark, pairs, _, 0L),
      Seq("readVerdicts" -> (PairStream.readVerdicts(spark, _)),
        "pairFunnelLive" -> (PairStream.pairFunnelLive(spark, _)),
        "pairFunnelDrift" -> (PairStream.pairFunnelDrift(spark, _, 2)))),
    "ScrubStream" -> Store(
      ScrubStream.applyMicroBatch(spark, docs, _, 0L),
      Seq("readCorpus" -> (ScrubStream.readCorpus(spark, _)),
        "readIndex" -> (ScrubStream.readIndex(spark, _)))),
    "UrlStream" -> Store(
      UrlStream.applyMicroBatch(spark, urls, _, 0L),
      Seq("readCorpus" -> (UrlStream.readCorpus(spark, _)),
        "readIndex" -> (UrlStream.readIndex(spark, _)),
        "urlGateDrift" -> (UrlStream.urlGateDrift(spark, _, 2)))),
    "WinnowStream" -> Store(
      WinnowStream.applyMicroBatch(spark, docs, _, 0L),
      Seq("readCorpus" -> (WinnowStream.readCorpus(spark, _)),
        "readIndex" -> (WinnowStream.readIndex(spark, _)))))

  /** Rows a reader answers with over an empty store: a probe estimates
    * every probe token (n_est 0), a gate report is one row. */
  private val emptyRows = Map("CmsStream.estimate" -> 3L,
    "EvalStream.gateEvalLive" -> 1L, "EvalStream.gateEvalWindow" -> 1L,
    "EvalStream.gateEvalDrift" -> 1L).withDefaultValue(0L)

  private def freshRoot(): String =
    Files.createTempDirectory("graft-read").toString + "/root"

  private def columns(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.map(f => s"${f.name}: ${f.dataType.simpleString}")

  for ((name, store) <- stores) {
    test(s"$name: every reader is empty on a fresh root and keeps its schema " +
        "once a batch commits") {
      val root = freshRoot()
      val empty = store.readers.map { case (r, read) =>
        r -> Try { val df = read(root); (df.count(), columns(df)) }
      }.toMap
      store.commit(root)
      val problems = store.readers.flatMap { case (r, read) =>
        empty(r) match {
          case Failure(e) => Seq(s"$r throws on a fresh root: $e")
          case Success((n, cols)) =>
            val got = columns(read(root))
            val want = emptyRows(s"$name.$r")
            (if (n != want) Seq(s"$r returns $n rows on a fresh root") else Nil) ++
              (if (got != cols) Seq(s"$r: committed $got, empty $cols") else Nil)
        }
      }
      assert(problems.isEmpty, problems.mkString(s"$name:\n", "\n", ""))
    }
  }

  test("only BatchStore reads committed dirs and cuts trailing windows") {
    val dir = new File("src/main/scala/graft/streaming")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    assert(files.size > 10, s"streaming sources not found under $dir")
    def text(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val owners = Map(
      "option(\"basePath\"" -> Set("BatchStore.scala", "Scd2Stream.scala"),
      "require(lastK" -> Set("BatchStore.scala"))
    val forks = for {
      (literal, allowed) <- owners.toSeq
      f <- files if !allowed(f.getName) && text(f).contains(literal)
    } yield s"${f.getName}: $literal"
    assert(forks.isEmpty, "committed-dir reads or windows outside BatchStore")
  }
}

object BatchStoreReadSpec {

  /** A store: `commit(root)` commits its first batch; `readers` are its
    * public readers over a root. */
  private final case class Store(commit: String => Unit,
                                 readers: Seq[(String, String => DataFrame)])
}
