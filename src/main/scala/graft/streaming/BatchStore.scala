package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The batch-dir commit protocol every marker-committed streaming state
  * store shares — the idempotent, batch-id-keyed sink of the Structured
  * Streaming model, written once. A store is a root directory holding
  * one or more SUB-TABLES of `batch=N` dirs plus `takedown/td=K` dirs:
  *
  *  - a batch id is committed exactly when its dir in the store's
  *    COMMIT sub-table carries the `_GRAFT_COMMIT` marker file; the
  *    other sub-tables' `batch=N` dirs are written first, unmarked, and
  *    count only while that marker exists. A replayed id (foreachBatch
  *    redelivery after a crash) sees the marker and no-ops;
  *  - every dir is staged to `<dst>.tmp`, renamed in, then marked: the
  *    marker create is the commit point on every store, the rename
  *    keeps the local/HDFS path as tight as before, and an unmarked dir
  *    is debris that [[BatchStore.recover]] sweeps;
  *  - a takedown is a `takedown/td=K` dir committed the same way, always
  *    under the root's [[CompactionLock]] (it must not land in a root a
  *    running compaction is about to rename aside);
  *  - compaction builds the whole new root at `<root>.ctmp`, renames the
  *    live root aside to `<root>.cold`, renames the stage in and deletes
  *    `.cold`, all under the lock; [[BatchStore.recover]] completes or
  *    rolls back a swap interrupted between the two renames.
  *
  * Readers see only committed batches — the consistent-prefix read: a
  * store reads a sub-table through the typed [[read]] (or [[scan]] for
  * the whole stored rows) and cuts trailing windows with [[window]].
  * Each store declares only its layout — the commit sub-table and the
  * others — and keeps its own fold, takedown view and aggregation over
  * those reads. All I/O goes through
  * [[StreamFs]]; the root swap alone wants atomic directory renames (on
  * an object store run compaction through a transactional table
  * format), the ingest and takedown commits do not. */
final class BatchStore(commitSub: String, otherSubs: String*) {

  import BatchStore._

  private val subs = commitSub +: otherSubs

  private def commitDir(root: String, batch: String): String =
    s"$root/$commitSub/$batch"

  /** Committed batch dir names (`batch=N`), ascending by id. */
  def committed(root: String): Seq[String] =
    StreamFs.listNames(s"$root/$commitSub").filter(_.startsWith("batch="))
      .filter(b => isCommitted(commitDir(root, b)))
      .sortBy(batchId)

  /** The committed batch dirs of `sub` that exist (marker-only ids
    * included — the timeline membership). */
  def dirs(root: String, sub: String): Seq[String] =
    committed(root).map(b => s"$root/$sub/$b")
      .filter(d => sub == commitSub || StreamFs.exists(d))

  /** The committed dirs of `sub` holding data files — marker-only ids
    * (post-compaction tombstones) excluded explicitly, never via
    * Spark's hidden-file filter. */
  def dataDirs(root: String, sub: String): Seq[String] =
    subDirs(root, sub).filter(StreamFs.hasDataFiles)

  private def subDirs(root: String, sub: String): Seq[String] =
    committed(root).map(b => s"$root/$sub/$b")

  /** The committed rows of `sub` as exactly the columns of `schema`, a
    * DDL string such as `"doc_id BIGINT, text STRING"` (stored columns
    * are cast to it): every committed dir holding data files is read,
    * and a store that has committed none reads as an empty frame of
    * `schema` rather than throwing. */
  def read(spark: SparkSession, root: String, sub: String,
           schema: String): DataFrame =
    read(spark, root, sub, schema, subDirs(root, sub))

  /** [[read]] over a subset of the committed dirs of `sub` — a
    * [[window]], or the members a takedown leaves. */
  def read(spark: SparkSession, root: String, sub: String, schema: String,
           dirs: Seq[String]): DataFrame = {
    val st = StructType.fromDDL(schema)
    load(spark, root, sub, dirs).fold(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), st))(
      _.select(st.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*))
  }

  /** The committed rows of `sub` with every stored column, None when no
    * committed dir holds data — for the folds that rewrite whatever
    * schema a gate stored, and the readers that must tell "nothing
    * committed" apart. */
  def scan(spark: SparkSession, root: String, sub: String): Option[DataFrame] =
    load(spark, root, sub, subDirs(root, sub))

  /** Marker-only dirs (post-compaction tombstones) and zero-row batches
    * are excluded explicitly, never via Spark's hidden-file filter; the
    * `batch=N` path column is dropped — a read is the union of batches. */
  private def load(spark: SparkSession, root: String, sub: String,
                   dirs: Seq[String]): Option[DataFrame] = {
    val data = dirs.filter(StreamFs.hasDataFiles)
    if (data.isEmpty) None
    else Some(spark.read.option("basePath", s"$root/$sub")
      .parquet(data: _*).drop("batch"))
  }

  /** The trailing window of the last `lastK` committed dirs of `sub`.
    * Membership is decided over ALL committed ids first and the data
    * files are filtered second, by [[read]]: a committed zero-row batch
    * or a takedown-removed batch is an EMPTY window member, never a
    * shift of the window further into history. With fewer committed
    * ids than `lastK` the window is everything so far, and after a
    * compaction it holds the fold's marker-only ids — a drift consumer
    * compacts with a horizon of at least `lastK`. */
  def window(root: String, sub: String, lastK: Int): Seq[String] = {
    require(lastK > 0, s"window must be positive, got $lastK")
    dirs(root, sub).takeRight(lastK)
  }

  /** The ingest entry guard: refuse while a live compaction holds the
    * root, sweep crash debris, and report whether `batchId` already
    * committed (the caller no-ops a replay). */
  def replayed(root: String, batchId: Long, op: String): Boolean = {
    CompactionLock.requireFree(root, op)
    recover(root)
    isCommitted(commitDir(root, s"batch=$batchId"))
  }

  /** Commit `df` as `sub/batch=N` — marked iff `sub` is the commit
    * sub-table, so it is written last. */
  def write(root: String, sub: String, batchId: Long, df: DataFrame): Unit =
    writeDir(s"$root/$sub/batch=$batchId", df, mark = sub == commitSub)

  /** Complete or roll back an interrupted root swap, then sweep every
    * uncommitted `batch=N` dir, `.tmp` stage and uncommitted `td=K` dir.
    * The compaction stage survives while its lock is live. Safe to call
    * any time. */
  def recover(root: String): Unit = {
    val cold = root + ColdSuffix
    val ctmp = root + StageSuffix
    if (StreamFs.exists(cold)) {
      if (StreamFs.exists(root)) StreamFs.delete(cold) // new root live
      else StreamFs.renameOrThrow(cold, root) // crash between renames
    }
    if (StreamFs.exists(ctmp) && !CompactionLock.heldLive(root))
      StreamFs.delete(ctmp)
    subs.foreach { sub =>
      StreamFs.listNames(s"$root/$sub").foreach { n =>
        if (n.endsWith(".tmp") ||
            (n.startsWith("batch=") && !isCommitted(commitDir(root, n))))
          StreamFs.delete(s"$root/$sub/$n")
      }
    }
    StreamFs.listNames(s"$root/$TdSub").foreach { t =>
      val p = s"$root/$TdSub/$t"
      if (t.endsWith(".tmp") || (t.startsWith("td=") && !isCommitted(p)))
        StreamFs.delete(p)
    }
  }

  /** The compaction swap: under the root's lock, recover, let `build`
    * write the new root into the stage dir it is handed (it may
    * `return` from the enclosing method to skip the swap), then swap
    * the stage in. */
  def compact(root: String)(build: String => Unit): Unit =
    CompactionLock.withLock(root) {
      recover(root)
      val stage = root + StageSuffix
      StreamFs.delete(stage)
      build(stage)
      failpoint("compact-staged")
      val old = root + ColdSuffix
      StreamFs.renameOrThrow(root, old)
      failpoint("compact-aside")
      StreamFs.renameOrThrow(stage, root)
      failpoint("compact-swapped")
      StreamFs.delete(old)
    }

  /** Mark every id of `batches` committed in a compaction stage — the
    * fold's target dir and the earlier ids' marker-only tombstones that
    * keep replays no-ops. */
  def markAll(stage: String, batches: Seq[String]): Unit =
    batches.foreach(b => mark(s"$stage/$commitSub/$b"))

  /** Record in a compaction stage that `batches` were folded into one
    * dir, on top of the live root's record: their rows lost the batch
    * grain, so a batch-grain takedown must refuse them ([[folded]]). */
  def recordFold(root: String, stage: String, batches: Seq[String]): Unit =
    StreamFs.writeAtomicString(s"$stage/$FoldRecord",
      (folded(root) ++ batches.map(batchId)).toSeq.sorted.mkString("\n"))

  /** Batch ids a compaction folded ([[recordFold]]); empty for a store
    * whose compactions predate the record. */
  def folded(root: String): Set[Long] =
    StreamFs.readString(s"$root/$FoldRecord").toSeq
      .flatMap(_.split('\n')).filter(_.nonEmpty).map(_.toLong).toSet

  /** Commit takedown `td=<takedownId>` under the root's lock: recover,
    * no-op a replay, else `write` the takedown's tables into the stage
    * dir it is handed, rename in, mark. */
  def commitTakedown(root: String, takedownId: Long)(
      write: String => Unit): Unit =
    CompactionLock.withLock(root) {
      recover(root)
      val dst = s"$root/$TdSub/td=$takedownId"
      if (!isCommitted(dst)) stage(dst, mark = true)(write)
    }
}

object BatchStore {

  /** Leading '_' → invisible to parquet reads, like _SUCCESS. */
  private val Marker = "_GRAFT_COMMIT"
  /** The fold record at the store root, beside the sub-tables. */
  private val FoldRecord = "_GRAFT_FOLDED"
  private val StageSuffix = ".ctmp"
  private val ColdSuffix = ".cold"

  /** The takedown sub-table (`takedown/td=K`). */
  val TdSub = "takedown"

  /** Test seam: invoked with a label between protocol steps; specs throw
    * from it to simulate a crash in that exact window. */
  @volatile private[streaming] var failpoint: String => Unit = _ => ()

  def isCommitted(dir: String): Boolean = StreamFs.exists(s"$dir/$Marker")

  def mark(dir: String): Unit = StreamFs.createMarker(s"$dir/$Marker")

  /** `batch=N` → N. */
  def batchId(name: String): Long =
    name.split('/').last.stripPrefix("batch=").toLong

  /** Stage to `dst.tmp`, clear pre-marker debris at `dst`, rename in,
    * then (optionally) create the commit marker. */
  def stage(dst: String, mark: Boolean)(write: String => Unit): Unit = {
    val tmp = dst + ".tmp"
    StreamFs.delete(tmp)
    write(tmp)
    failpoint("staged")
    StreamFs.delete(dst) // debris from a pre-marker crash; never committed
    StreamFs.renameOrThrow(tmp, dst)
    if (mark) {
      failpoint("renamed")
      BatchStore.mark(dst)
    }
  }

  /** [[stage]] `df` as the parquet dir `dst`. */
  def writeDir(dst: String, df: DataFrame, mark: Boolean): Unit =
    stage(dst, mark)(df.write.mode("overwrite").parquet(_))

  /** Start `input` as a micro-batch stream whose sink hands each batch
    * and its id to `apply` — every store's `start`. */
  def start(input: DataFrame, checkpoint: String, triggerMs: Long)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        apply(batch, batchId)
      }
      .start()

  /** Committed takedown dirs, ascending by name. */
  def takedownDirs(root: String): Seq[String] =
    StreamFs.listNames(s"$root/$TdSub").filter(_.startsWith("td="))
      .sorted.map(t => s"$root/$TdSub/$t")
      .filter(isCommitted)
}
