package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

import graft.{SparkSpec, Tables}
import graft.ops.{MediaQueries, TextQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** ONE crash-point fault-injection spec for every [[BatchStore]]-backed
  * store. Per store, a tiny fixture runs ingest (batch 1 onto batch 0),
  * a compaction, then a takedown; each operation is crashed at every
  * protocol step through [[BatchStore.failpoint]] on a fresh copy of its
  * pre-op state. After the crash, `recover` must leave no `.tmp` /
  * `.ctmp` / `.cold` debris and the public readers must return exactly
  * the pre-op or the post-op state; replaying the operation must then
  * reach the post-op state, the same one from every crash point. The stores run four at a time, each on its
  * own dirs, with the failpoint armed per thread. */
class BatchStoreFaultSpec extends SparkSpec with BeforeAndAfterAll {

  import BatchStoreFaultSpec._

  private val ingestSteps = Seq("staged", "renamed")
  private val compactSteps =
    Seq("compact-staged", "compact-aside", "compact-swapped")

  // ---- fixtures: a few rows per batch, batch b = key % 2 == b ----------

  private def half(df: DataFrame, key: String, b: Long): DataFrame =
    df.filter(col(key) % 2 === b)

  private lazy val docs: DataFrame = Tables.documents(spark, sf)
    .select("doc_id", "text").filter(col("doc_id") < 16).localCheckpoint()

  private lazy val removedDocs: DataFrame =
    docs.filter(col("doc_id") % 4 === 0).select("doc_id")

  private lazy val vecs: DataFrame = Tables.embeddings(spark, sf)
    .select("vec_id", "label", "embedding").filter(col("vec_id") < 24)
    .localCheckpoint()

  private lazy val removedVecs: DataFrame =
    vecs.filter(col("vec_id") % 4 === 0).select("vec_id")

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

  /** Rows as strings, sorted; binary payloads by content hash. */
  private def render(dfs: DataFrame*): Seq[String] =
    dfs.flatMap(_.collect().map(_.toSeq.map {
      case b: Array[Byte] => java.util.Arrays.hashCode(b).toString
      case v => String.valueOf(v)
    }.mkString("|"))).sorted

  /** The corpus gates sharing [[DedupStream]]'s layout. */
  private def dedupFamily(input: => DataFrame,
      ingest: (DataFrame, String, Long) => Unit,
      gate: Takedown.Gate,
      reader: String => DataFrame): Store =
    Store(_ => (),
      (d, b) => ingest(half(input, "doc_id", b), d, b),
      Some(d => Takedown.apply(spark, d, removedDocs, gate, 0L)),
      d => DedupStream.compact(spark, d),
      DedupStream.recover,
      d => render(reader(d)))

  private lazy val stores: Map[String, Store] = Map(
    "DedupStream" -> dedupFamily(docs,
      DedupStream.applyMicroBatch(spark, _, _, _), Takedown.Gate.Exact,
      DedupStream.readCorpus(spark, _)),
    "NearDupStream" -> dedupFamily(docs,
      NearDupStream.applyMicroBatch(spark, _, _, _), Takedown.Gate.NearDup,
      NearDupStream.readCorpus(spark, _)),
    "MediaStream" -> dedupFamily(media,
      MediaStream.applyMicroBatch(spark, _, _, _), Takedown.Gate.Media,
      MediaStream.readCorpus(spark, _)),
    "UrlStream" -> dedupFamily(urls,
      UrlStream.applyMicroBatch(spark, _, _, _), Takedown.Gate.Url,
      UrlStream.readCorpus(spark, _)),
    "WinnowStream" -> dedupFamily(docs,
      WinnowStream.applyMicroBatch(spark, _, _, _), Takedown.Gate.Winnow,
      WinnowStream.readCorpus(spark, _)),
    "ScrubStream" -> Store(_ => (),
      (d, b) => ScrubStream.applyMicroBatch(spark, half(docs, "doc_id", b),
        d, b),
      Some(d => ScrubStream.applyTakedown(spark, d, removedDocs, 0L)),
      d => ScrubStream.compact(spark, d),
      DedupStream.recover,
      d => render(ScrubStream.readCorpus(spark, d))),
    "AnnStream" -> Store(
      d => AnnStream.init(spark, vecs.select("vec_id", "embedding"), d),
      (d, b) => AnnStream.applyMicroBatch(spark,
        half(vecs, "vec_id", b).select("vec_id", "embedding"), d, b),
      Some(d => AnnStream.applyTakedown(spark, d, removedVecs, 0L)),
      d => AnnStream.compact(spark, d),
      AnnStream.recover,
      d => render(AnnStream.readCoded(spark, d))),
    "CmsStream" -> Store(_ => (),
      (d, b) => CmsStream.applyMicroBatch(spark, half(docs, "doc_id", b),
        d, b),
      Some(d => CmsStream.applyTakedown(spark, d, Seq(2L), 0L)),
      d => CmsStream.compact(spark, d),
      CmsStream.recover,
      d => render(CmsStream.readSketch(spark, d)),
      d => CmsStream.applyMicroBatch(spark, docs, d, 2L)),
    "CurationStream" -> Store(_ => (),
      (d, b) => CurationStream.applyMicroBatch(spark,
        half(docs, "doc_id", b), d, b),
      Some(d => CurationStream.applyTakedown(spark, d, removedDocs, 0L)),
      d => CurationStream.compact(spark, d),
      CurationStream.recover,
      d => render(CurationStream.readVerdicts(spark, d))),
    "EmbedStream" -> Store(_ => (),
      (d, b) => EmbedStream.applyMicroBatch(spark,
        half(vecs, "vec_id", b), d, b),
      Some(d => EmbedStream.applyTakedown(spark, d,
        vecs.filter(col("vec_id") % 4 === 0).select(col("vec_id")
          .as("doc_id"), lit(0L).as("batch"), col("label"),
          col("embedding")), 0L)),
      d => EmbedStream.compact(spark, d),
      EmbedStream.recover,
      d => render(EmbedStream.readCounts(spark, d))),
    "EvalStream" -> Store(_ => (),
      (d, b) => EvalStream.applyMicroBatch(spark, half(scored, "score", b),
        d, b),
      Some(d => EvalStream.applyTakedown(spark, d, Seq(2L), 0L)),
      d => EvalStream.compact(spark, d),
      EvalStream.recover,
      d => render(EvalStream.readCounts(spark, d)),
      d => EvalStream.applyMicroBatch(spark, scored, d, 2L)),
    "GraphStream" -> Store(
      d => GraphStream.init(spark, vecs.select("vec_id", "embedding"), d),
      (d, b) => GraphStream.applyMicroBatch(spark,
        half(vecs, "vec_id", b).select("vec_id", "embedding"), d, b),
      Some(d => GraphStream.applyTakedown(spark, d, removedVecs, 0L)),
      d => GraphStream.compact(spark, d),
      GraphStream.recover,
      d => render(GraphStream.readNodes(spark, d),
        GraphStream.readGraph(spark, d))),
    "PackStream" -> Store(_ => (),
      (d, b) => PackStream.applyMicroBatch(spark, half(docs, "doc_id", b),
        d, b),
      None, // placement is an epoch artifact: no takedown
      d => PackStream.compact(spark, d),
      PackStream.recover,
      d => render(PackStream.readPlacement(spark, d))),
    "PairStream" -> Store(_ => (),
      (d, b) => PairStream.applyMicroBatch(spark, half(pairs, "doc_id", b),
        d, b),
      Some(d => PairStream.applyTakedown(spark, d, removedDocs, 0L)),
      d => PairStream.compact(spark, d),
      PairStream.recover,
      d => render(PairStream.readVerdicts(spark, d))))

  // ---- harness ----------------------------------------------------------

  private def copyRoot(src: String): String = {
    val dst = Files.createTempDirectory("graft-fault").resolve("root")
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.forEach((p: Path) => Files.copy(p, dst.resolve(from.relativize(p))))
    finally walk.close()
    dst.toString
  }

  /** Protocol debris beside or under `root`. */
  private def debris(root: String): Seq[String] = {
    val parent = Paths.get(root).getParent
    val walk = Files.walk(parent)
    try {
      val names = walk.iterator()
      var out = Seq.empty[String]
      while (names.hasNext) {
        val n = names.next().toString
        if (n.endsWith(".tmp") || n.endsWith(".ctmp") || n.endsWith(".cold"))
          out :+= n
      }
      out
    } finally walk.close()
  }

  /** The step label armed on this thread (the stores run concurrently). */
  private val armed = new ThreadLocal[String]

  /** Crash `op` at `label` on a copy of `preRoot`, recover, and check:
    * no debris, and the readers show `pre` or the post-op state, which a
    * replay then reaches. The post-op state is `post` when an earlier
    * crash of the same operation fixed it, else what this replay
    * reaches. A compaction the crash left complete is not re-run (a
    * second pass is a new operation, not a replay). Returns the root,
    * now in the post-op state, and that state. */
  private def crashAt(name: String, s: Store, preRoot: String,
      pre: Seq[String], post: Option[Seq[String]], label: String,
      op: String => Unit, replayAlways: Boolean): (String, Seq[String]) = {
    val root = copyRoot(preRoot)
    armed.set(label)
    val fired =
      try { op(root); false } catch { case _: Crash => true }
      finally armed.remove()
    assert(fired, s"$name: step $label never ran")
    s.recover(root)
    assert(debris(root).isEmpty, s"$name@$label left debris")
    val got = s.state(root)
    val done =
      if (replayAlways || got == pre) { op(root); s.state(root) } else got
    assert(post.forall(_ == done), s"$name@$label: replay missed post-op")
    assert(got == pre || got == done,
      s"$name@$label: recovered state is neither pre- nor post-op")
    (root, done)
  }

  /** Crash one operation at each of `steps` in turn, each from `preRoot`
    * (whose readers show `pre`). */
  private def crashAll(name: String, s: Store, preRoot: String,
      pre: Seq[String], steps: Seq[String], op: String => Unit,
      replayAlways: Boolean): (String, Seq[String]) =
    steps.tail.foldLeft(crashAt(name, s, preRoot, pre, None, steps.head, op,
        replayAlways)) { case ((_, post), l) =>
      crashAt(name, s, preRoot, pre, Some(post), l, op, replayAlways)
    }

  /** Ingest → compaction → takedown, each crashed at each of its steps;
    * the next operation starts from the previous one's post-op root. */
  private def check(name: String): Unit = {
    val st = stores(name)
    val s0 = Files.createTempDirectory("graft-fault").toString + "/root"
    st.init(s0)
    st.ingest(s0, 0L)
    val r0 = st.state(s0)
    val (s1, r1) = crashAll(name, st, s0, r0, ingestSteps,
      st.ingest(_, 1L), replayAlways = true)
    assert(r1 != r0, s"$name: the ingest fixture must change the state")
    val (s2, r2) = crashAll(name, st, s1, r1, compactSteps, st.compact,
      replayAlways = false)
    // mid takedown commit: the td dir renamed in, its marker pending
    st.takedown.foreach { td =>
      st.beforeTakedown(s2)
      val pre = st.state(s2)
      val (_, r3) = crashAll(name, st, s2, pre, Seq("renamed"), td,
        replayAlways = true)
      assert(r3 != pre, s"$name: the takedown fixture must change the state")
    }
  }

  /** Slowest first, so the four-wide pool finishes together. */
  private val names = Seq("GraphStream", "DedupStream", "PairStream",
    "NearDupStream", "WinnowStream", "UrlStream", "CurationStream",
    "ScrubStream", "MediaStream", "AnnStream", "EmbedStream", "PackStream",
    "EvalStream", "CmsStream")

  private var outcomes = Map.empty[String, Try[Unit]]

  // not a lazy val: its initializer would hold the lock the pool
  // threads need to initialize the fixtures
  override def beforeAll(): Unit = {
    super.beforeAll()
    BatchStore.failpoint = l => if (l == armed.get) throw Crash(l)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try outcomes = Await.result(Future.traverse(names)(n =>
      Future(n -> Try(check(n)))), Duration.Inf).toMap
    finally { pool.shutdown(); BatchStore.failpoint = _ => () }
  }

  for (name <- names)
    test(s"$name: every BatchStore step crash recovers to pre- or post-op") {
      outcomes(name).get
    }
}

object BatchStoreFaultSpec {

  private final case class Crash(label: String)
      extends RuntimeException(s"crash:$label")

  /** A store under test: `ingest(root, b)` commits fixture batch `b`,
    * `takedown` removes part of the compacted state, `state` renders
    * the public readers as sorted rows. The batch-grain monitors refuse
    * to take down a batch a compaction folded, so their
    * `beforeTakedown` commits batch 2 after the compaction and the
    * takedown removes that batch. */
  private final case class Store(
      init: String => Unit,
      ingest: (String, Long) => Unit,
      takedown: Option[String => Unit],
      compact: String => Unit,
      recover: String => Unit,
      state: String => Seq[String],
      beforeTakedown: String => Unit = _ => ())
}
