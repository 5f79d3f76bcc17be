package graft.streaming

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.scd2.Scd2
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Structured Streaming wiring for the CDC → SCD2 pipeline (SURVEY.md §7.1
  * item 4) — the Spark-first restatement of the reference's NiFi flow:
  *
  *  - source: any streaming DataFrame of CDC events (files/Kafka/Debezium
  *    JSON via `spark.readStream.schema(Cdc.eventSchema).json(dir)`); the
  *    reference's `CaptureChangeMySQL` 200 ms poll
  *    (final_template.xml:4363) maps to `Trigger.ProcessingTime(200ms)`;
  *  - state: the reference persists its binlog position in a
  *    DistributedMapCache (final_template.xml:1510-1519); Spark's
  *    checkpointLocation/offset log plays exactly that role;
  *  - per micro-batch: ONE transactional [[Scd2.applyBatch]] merge — the
  *    insert and update routes of the reference collapse into a single
  *    idempotent history rewrite, eliminating the reference's Task1/Task2
  *    race (README.md:190-195) by construction.
  *
  * == Crash safety / exactly-once ==
  *
  * Each history keeps one commit record: the last committed batch id, in a
  * hidden `_graft_batch` marker at the history root. Both layouts share one
  * exactly-once rule, the one Spark's own file sink applies: a batch whose
  * id is at or below the recorded id is already committed, and applying it
  * again is a no-op. So batch ids must grow monotonically, as
  * `foreachBatch` ids do. [[recover]] (called on every apply) finishes or
  * undoes an interrupted apply, so a crash at ANY point leaves the history
  * either fully pre-batch (and the batch replays) or fully post-batch (and
  * the replay is a no-op):
  *
  *  - plain layout ([[applyMicroBatch]]): the new history is written to
  *    `<dir>.tmp` with the marker inside, the old directory is renamed
  *    aside to `<dir>.old` (never deleted before the new one is in place)
  *    and the atomic `rename(tmp → dir)` is the commit point; the old
  *    directory is dropped last. Recovery rolls a missing `<dir>` back from
  *    `<dir>.old`.
  *  - bucketed layout ([[applyMicroBatchBucketed]]): the touched buckets
  *    and the marker are staged in `<dir>.tmp`, and the atomic
  *    `rename(<dir>.tmp → <dir>.pending)` is the commit point. The commit
  *    then rolls forward: each staged `__bucket=b` replaces the live one,
  *    the marker is written at the root and the stage is dropped. Recovery
  *    deletes an uncommitted `<dir>.tmp` and finishes a `<dir>.pending`;
  *    finishing again is harmless, as a bucket already moved is no longer
  *    in the stage.
  *
  * A history written by an earlier version with a `<dir>.commits` log is
  * upgraded on its first apply or [[recover]]: the log's highest committed
  * id is folded into the marker and the log is deleted. The earlier
  * bucketed protocol's `<dir>.inflight` and `<dir>.oldbuckets` mark an
  * interrupted commit that version must finish; they fail recovery.
  *
  * On a real deployment the sink is a transactional table format (MERGE)
  * and this protocol is the table format's problem; the merge itself
  * ([[Scd2.applyBatch]]) is identical either way. FILESYSTEM CONTRACT:
  * the swap protocol assumes atomic directory rename and consistent
  * listings — local POSIX filesystems and HDFS provide both; object
  * stores do NOT (S3 "rename" is copy+delete), so there the table-format
  * sink is the only correct option, not this directory protocol.
  *
  * Scale notes: history is only ever touched by a broadcast join against
  * the batch's key set, so micro-batch cost is O(batch) + one history
  * scan (plain) or O(history·k/B + batch) (bucketed), never a history
  * shuffle. The bucketed apply collects each batch to the driver, so its
  * driver memory is O(batch): streams bound their batches through the
  * source's admission control (e.g. `graft-cdc`'s `maxEventsPerTrigger`,
  * default 1000). It rewrites each touched bucket as exactly one file, so
  * a bucket holds one file however many batches touched it, and a batch's
  * scan does not grow with the stream's age.
  */
object Scd2Stream {

  /** Name under which per-batch metrics surface in
    * `StreamingQueryProgress.observedMetrics` (the reference's LogMessage/
    * LogAttribute observability, L1/L2, done the Spark way: `observe()`
    * metrics ride the existing plan — no second pass — and any
    * `StreamingQueryListener` consumes them). */
  val ObservedMetricsName = "graft_scd2"

  /** Start the SCD2 maintenance stream over a CDC event stream.
    *
    * @param events     streaming DataFrame with Cdc.eventSchema-shaped rows
    *                   already flattened+typed (columns: keys ++ payload ++
    *                   tsCol ++ seqCol)
    * @param historyDir parquet dir holding the SCD2 history table
    * @param checkpoint checkpoint dir (replaces the reference's MapCache)
    * @param opCol      optional CDC op column; when set, rows whose op is
    *                   [[Scd2.DeleteOp]] close their key's open interval
    *                   (applyBatchWithDeletes) instead of versioning
    * @param onLate     late-event policy. The default [[Scd2.LatePolicy.Error]]
    *                   fails the micro-batch loudly — which on replay fails
    *                   identically, halting the stream — so streams where late
    *                   delivery is expected should pass [[Scd2.LatePolicy.Drop]]
    *                   (and capture the dropped rows first via
    *                   [[Scd2.lateEvents]] in their own foreachBatch side-path)
    */
  def start(spark: SparkSession, events: DataFrame, historyDir: String,
            checkpoint: String, keys: Seq[String], tsCol: String,
            seqCol: String, triggerMs: Long = 200L,
            opCol: Option[String] = None,
            onLate: Scd2.LatePolicy = Scd2.LatePolicy.Error): StreamingQuery =
    events
      .observe(ObservedMetricsName, count(lit(1)).as("n_events"),
        countDistinctKeysApprox(keys).as("n_keys_approx"))
      .writeStream
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMicroBatch(spark, batch, historyDir, keys, tsCol, seqCol,
          batchId = Some(batchId), opCol = opCol, onLate = onLate)
      }
      .start()

  private def countDistinctKeysApprox(keys: Seq[String]) =
    approx_count_distinct(concat_ws("", keys.map(col): _*))

  // `failpoint` is a test seam: invoked with a label between protocol
  // steps; specs throw from it to simulate a crash at that exact window.
  private val noFail: String => Unit = _ => ()

  /** ONLINE SCHEMA EVOLUTION (ADD/DROP COLUMN mid-stream): align history
    * and batch by column name with typed-null backfill, so a batch that
    * carries a column the history lacks (upstream `ALTER TABLE ... ADD
    * COLUMN`, parsed from the ddl event via [[graft.cdc.Cdc.ddlAddColumn]]
    * into the caller's flatten field list) widens the history on its next
    * rewrite — pre-boundary rows read the new column as null — and a batch
    * missing a history column (DROP COLUMN upstream) null-fills forward
    * instead of halting the stream. The SCD2 bookkeeping columns are never
    * candidates. The reference drops ddl events entirely (its flow would
    * silently lose the new field); a long-running CDC engine can't. */
  private def alignForEvolution(history: DataFrame, batch: DataFrame,
                                tsCol: String, opCol: Option[String])
      : (DataFrame, DataFrame) = {
    val scd2Meta = Set(Scd2.ValidFrom, Scd2.ValidUntil, Scd2.IsCurrent)
    val batchMeta = Set(tsCol) ++ opCol
    val widenHist = batch.schema.fields
      .filter(f => !batchMeta.contains(f.name) && !history.columns.contains(f.name))
    val widenBatch = history.schema.fields
      .filter(f => !scd2Meta.contains(f.name) && !batch.columns.contains(f.name))
    (widenHist.foldLeft(history)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType))),
      widenBatch.foldLeft(batch)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType))))
  }

  /** One micro-batch: read current history, merge, crash-safe swap.
    *
    * Exactly-once on replay: with a `batchId` (foreachBatch supplies one),
    * an id at or below the history's last committed id is a no-op; the
    * commit point is the atomic rename of the marker-carrying new directory
    * (see class doc). */
  def applyMicroBatch(spark: SparkSession, batch: DataFrame, historyDir: String,
                      keys: Seq[String], tsCol: String, seqCol: String,
                      batchId: Option[Long] = None,
                      failpoint: String => Unit = noFail,
                      opCol: Option[String] = None,
                      onLate: Scd2.LatePolicy = Scd2.LatePolicy.Error): Unit = {
    val last = lastCommitted(historyDir)
    if (batchId.exists(id => last.exists(id <= _))) return
    // persist: the batch feeds two actions (emptiness probe + merge);
    // without it the micro-batch input recomputes per action — and any
    // observe() metrics upstream would double-count
    val cached = batch.persist()
    try {
      if (cached.isEmpty) return
      val merged = (StreamFs.listNames(historyDir).exists(_.endsWith(".parquet")),
          opCol) match {
        case (true, maybeOp) =>
          // mergeSchema: a pre-evolution crash can leave mixed-schema files
          // visible to the replay read; the full-dir rewrite re-unifies them
          val (hist, b) = alignForEvolution(
            spark.read.option("mergeSchema", "true").parquet(historyDir),
            cached, tsCol, maybeOp)
          maybeOp match {
            case Some(op) => Scd2.applyBatchWithDeletes(hist, b, keys, tsCol,
              seqCol, op, onLate)
            case None => Scd2.applyBatch(hist, b, keys, tsCol, seqCol, onLate)
          }
        case (false, Some(op)) =>
          Scd2.fromEventsWithDeletes(cached, keys, tsCol, seqCol, op).drop(op)
        case (false, None) =>
          Scd2.fromEvents(cached, keys, tsCol, seqCol)
      }
      val tmp = historyDir + ".tmp"
      merged.write.mode("overwrite").parquet(tmp)
      batchId.orElse(last).foreach(writeMarker(tmp, _))
      failpoint("after-tmp-write")
      val old = historyDir + ".old"
      if (StreamFs.exists(historyDir)) {
        StreamFs.renameOrThrow(historyDir, old)
        failpoint("after-rename-aside")
      }
      StreamFs.renameOrThrow(tmp, historyDir) // ← atomic commit point (marker now live)
      failpoint("after-commit")
      StreamFs.delete(old)
    } finally { cached.unpersist(); () }
  }

  /** Finish or undo an interrupted apply of either layout (class doc), and
    * upgrade a history an earlier version left with a commit log. Safe to
    * call any time; called automatically on every apply.
    *
    * @throws IllegalStateException when the earlier bucketed protocol's
    *         `.inflight` manifest or `.oldbuckets` dir is present: that
    *         version must finish its own interrupted commit first */
  def recover(historyDir: String): Unit = {
    Seq(".inflight", ".oldbuckets").map(historyDir + _).find(StreamFs.exists)
      .foreach(p => throw new IllegalStateException(s"$p is left by an " +
        "interrupted bucketed commit of an earlier graft version; recover " +
        "the history with that version before applying with this one"))
    val old = historyDir + ".old"
    if (StreamFs.exists(old)) {
      // a live dir means the commit-point rename happened; else roll back
      if (StreamFs.exists(historyDir)) StreamFs.delete(old)
      else StreamFs.renameOrThrow(old, historyDir)
    }
    if (StreamFs.exists(historyDir + ".pending")) rollForward(historyDir, noFail)
    // a stage that never reached its commit point: the batch replays
    StreamFs.delete(historyDir + ".tmp")
    foldCommitLog(historyDir)
  }

  /** [[recover]], then the history's last committed batch id. */
  private def lastCommitted(historyDir: String): Option[Long] = {
    recover(historyDir)
    markerId(historyDir)
  }

  /** One micro-batch against a BUCKETED history: the table is laid out as
    * `historyDir/__bucket=N/` (N = the key's [[bucketOf]]) and a batch only
    * reads + rewrites the buckets its keys hash into — the 100 TB answer
    * to [[applyMicroBatch]]'s full-table rewrite. With k touched buckets
    * out of B, a micro-batch costs O(history·k/B + batch); untouched
    * buckets are never opened.
    *
    * Spark jobs per call, whatever the batch size: one collect of the
    * batch's rows to the driver, one to broadcast the per-key first ts
    * (skipped when no touched bucket holds history yet), one for the
    * write. The per-key first ts and the touched buckets come from the
    * collected rows in process, and the merge reads the batch back as a
    * one-partition local relation, which already satisfies the SCD2
    * window's clustering: the merge plans no shuffle. The touched buckets
    * are read with the memoized table-wide schema, so no schema-inference
    * job runs; only the first apply after a commit this process did not
    * make (or after a schema-changing one) re-infers it, at O(buckets)
    * listing cost. Every batch, a one-off wide one (a seed drain) too,
    * takes this path: the batch is held on the driver, and each touched
    * bucket is rewritten as one file (class doc, scale notes).
    *
    * Exactly-once on replay as [[applyMicroBatch]]: an id at or below the
    * history's last committed id is a no-op. Crash-safe by staging the
    * touched buckets and rolling them forward once the stage is committed
    * (class doc). */
  def applyMicroBatchBucketed(spark: SparkSession, batch: DataFrame,
                              historyDir: String, keys: Seq[String],
                              tsCol: String, seqCol: String, nBuckets: Int = 64,
                              batchId: Option[Long] = None,
                              failpoint: String => Unit = noFail,
                              onLate: Scd2.LatePolicy = Scd2.LatePolicy.Error,
                              opCol: Option[String] = None): Unit = {
    val last = lastCommitted(historyDir)
    if (batchId.exists(id => last.exists(id <= _))) return
    // the one job over the batch: one action, so observe() metrics
    // upstream fire once, and one task, however many source partitions
    // and union branches feed it
    val rows = batch.coalesce(1).collect()
    if (rows.isEmpty) return
    val local = spark.createDataFrame(rows.toSeq.asJava, batch.schema)
    val bucket = bucketCol(keys.map(col), nBuckets)
    val (touched, firstTs) = perKey(spark, local, keys, tsCol, bucket)
    val events = local.coalesce(1)
    val dirs = touched.map(b => s"$historyDir/__bucket=$b").filter(StreamFs.exists)
    // the table-wide schema before this batch: inferred if the touched
    // buckets must be read and it is not memoized for the current commit
    // state; otherwise only a memo that still holds
    val prior =
      if (dirs.nonEmpty) Some(tableSchema(spark, historyDir))
      else memoizedSchema(historyDir, commitStamp(spark, historyDir))
    val merged =
      if (dirs.nonEmpty) {
        // read with the table-wide schema: after an ADD COLUMN only the
        // buckets a batch touches get rewritten with the wider schema, so
        // bucket dirs legitimately carry mixed schemas until every bucket
        // has been touched once — a column a bucket's files lack reads
        // as null
        val histRaw = spark.read.schema(prior.get)
          .option("basePath", historyDir)
          .parquet(dirs: _*)
        val (hist, b) =
          alignForEvolution(histRaw.drop("__bucket"), events, tsCol, opCol)
        opCol match {
          case Some(op) => Scd2.applyBatchWithDeletes(hist,
            b, keys, tsCol, seqCol, op, onLate, Some(firstTs))
          case None => Scd2.applyBatch(hist, b, keys,
            tsCol, seqCol, onLate, Some(firstTs))
        }
      } else opCol match {
        case Some(op) =>
          Scd2.fromEventsWithDeletes(events, keys, tsCol, seqCol, op).drop(op)
        case None => Scd2.fromEvents(events, keys, tsCol, seqCol)
      }
    val tmp = historyDir + ".tmp"
    // one write task: each touched bucket becomes exactly one file
    merged.withColumn("__bucket", bucket).coalesce(1)
      .write.partitionBy("__bucket")
      .mode("overwrite").parquet(tmp)
    batchId.orElse(last).foreach(writeMarker(tmp, _))
    failpoint("after-tmp-write")
    tableSchemas.remove(historyDir)
    StreamFs.renameOrThrow(tmp, historyDir + ".pending") // ← atomic commit point
    failpoint("after-commit")
    rollForward(historyDir, failpoint)
    // a commit that wrote no column the table lacked leaves its schema
    // as it was: carry the memo over to the new commit state
    prior.filter(p => merged.schema.forall(f =>
        p.find(_.name == f.name)
          .exists(_.dataType.catalogString == f.dataType.catalogString)))
      .foreach(p => commitStamp(spark, historyDir)
        .foreach(st => tableSchemas.put(historyDir, SchemaMemo(st, p))))
  }

  /** The touched buckets (sorted) and the per-key first ts of a batch held
    * on the driver as a local relation, with no Spark job. `bucket` is
    * evaluated as a Project over the relation, which the optimizer folds
    * in place. The first ts is [[Scd2.firstEventTs]]'s relation (keys +
    * `__first_ts`, the min of the key's non-null ts, null when it has
    * none), grouped and compared here by the ts type's Catalyst ordering,
    * and returned as a local relation for the merge to broadcast. */
  private def perKey(spark: SparkSession, local: DataFrame, keys: Seq[String],
                     tsCol: String, bucket: Column): (Seq[Int], DataFrame) = {
    val n = keys.size
    val keyed = local.select((keys.map(col) :+ col(tsCol) :+ bucket): _*)
    val rows = keyed.collect()
    val touched = rows.map(_.getInt(n + 1)).distinct.sorted.toSeq
    val tsType = keyed.schema(n).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(tsType)
    val byTs = PhysicalDataType.ordering(tsType).on[Any](toCatalyst)
    // binary keys group by content, as Spark's groupBy does
    def groupKey(r: Row) = r.toSeq.take(n).map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }
    val first = rows.groupBy(groupKey).valuesIterator.map { rs =>
      val ts = rs.iterator.map(_.get(n)).filter(_ != null)
      Row.fromSeq(rs.head.toSeq.take(n) :+ (if (ts.hasNext) ts.min(byTs) else null))
    }.toSeq
    val schema = StructType(keyed.schema.take(n) :+
      StructField("__first_ts", tsType, nullable = true))
    (touched, spark.createDataFrame(first.asJava, schema))
  }

  /** Finish a committed bucketed stage (`<dir>.pending`): each staged
    * bucket replaces the live one, then the stage's batch id becomes the
    * root marker and the stage is dropped. Each step can be repeated after
    * a crash: a bucket already moved is no longer in the stage, and the
    * marker write is an overwrite. */
  private def rollForward(historyDir: String, failpoint: String => Unit): Unit = {
    val pending = historyDir + ".pending"
    StreamFs.mkdirs(historyDir)
    StreamFs.listNames(pending).filter(_.startsWith("__bucket=")).foreach { b =>
      StreamFs.delete(s"$historyDir/$b")
      failpoint(s"after-clear:$b")
      StreamFs.renameOrThrow(s"$pending/$b", s"$historyDir/$b")
      failpoint(s"after-replace:$b")
    }
    markerId(pending).foreach(writeMarker(historyDir, _))
    failpoint("after-marker")
    StreamFs.delete(pending)
  }

  /** Read a bucketed history back as a plain SCD2 table. `mergeSchema`:
    * bucket dirs carry mixed schemas mid-evolution (see
    * [[applyMicroBatchBucketed]]); rows from pre-evolution buckets read
    * the added columns as null. */
  def readBucketed(spark: SparkSession, historyDir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(historyDir)
      .drop("__bucket")

  /** Point lookup served from ONE bucket — the O(history/B) point-read the
    * bucketed layout exists for (the lookup side of the reference's
    * `DatabaseRecordLookupService`, J1, at scale). The bucket id is
    * computed in process ([[bucketOf]], each value cast to its key
    * column's type), only `historyDir/__bucket=N` is listed and read, and
    * the result carries [[readBucketed]]'s table-wide schema: a column an
    * ADD COLUMN brought in after the bucket's last rewrite reads as null,
    * and a bucket never written yields no rows.
    *
    * Each key is matched as `array_contains(array(value), key)`, the
    * value cast to the key column's type, so a lookup of a key never seen
    * before compiles no codegen class; a null value matches no row.
    *
    * One Spark job per call (the scan) while the table-wide schema is
    * memoized for the current commit state; the first lookup after a
    * commit this process did not make (or after a schema-changing one)
    * re-infers it, at O(buckets) listing cost. The `__bucket` filter stays
    * on the plan as a partition filter (plan-asserted in StreamingSpec). */
  def lookupByKey(spark: SparkSession, historyDir: String, keys: Seq[String],
                  values: Seq[Any], nBuckets: Int = 64): DataFrame = {
    require(keys.size == values.size,
      s"lookupByKey: ${keys.size} key columns but ${values.size} values")
    val schema = tableSchema(spark, historyDir)
    val keyTypes = keys.map(schema(_).dataType)
    val b = bucketOf(spark, values, keyTypes, nBuckets)
    val dir = s"$historyDir/__bucket=$b"
    if (!StreamFs.exists(dir))
      return spark.createDataFrame(java.util.List.of[Row](), schema)
    // an array literal reaches generated code by reference, where a
    // primitive literal is inlined: the predicate compiles to the same
    // code for every key value, so a new key compiles no class
    keys.zip(values).zip(keyTypes).foldLeft(
      spark.read.schema(schema).option("basePath", historyDir).parquet(dir)
        .filter(col("__bucket") === b)) {
      case (df, ((k, v), t)) => df.filter(array_contains(array(lit(v).cast(t)), col(k)))
    }.drop("__bucket")
  }

  // ---- bucket function ---------------------------------------------------

  /** THE bucket function of the bucketed layout: `pmod(hash(keys), B)`,
    * Spark's murmur3 `hash`. The write path and the touched-bucket
    * derivation evaluate it over the key columns, the point lookup over
    * literals ([[bucketOf]]). */
  private def bucketCol(keys: Seq[Column], nBuckets: Int): Column =
    pmod(hash(keys: _*), lit(nBuckets))

  /** The bucket a key's rows live in, computed in process with no Spark
    * job: [[bucketCol]] over literals, resolved by the analyzer into its
    * Catalyst `Pmod(Murmur3Hash(...))` and evaluated in place. Each value
    * is cast to its key column's type first, so `5L` looked up on an `Int`
    * key hashes exactly as the write path hashed the stored `5`. */
  def bucketOf(spark: SparkSession, values: Seq[Any], keyTypes: Seq[DataType],
               nBuckets: Int): Int = {
    require(values.size == keyTypes.size,
      s"bucketOf: ${keyTypes.size} key types but ${values.size} values")
    val literals = values.zip(keyTypes).map { case (v, t) => lit(v).cast(t) }
    spark.emptyDataFrame.select(bucketCol(literals, nBuckets))
      .queryExecution.analyzed.expressions.head.eval().asInstanceOf[Int]
  }

  // ---- table-wide schema memo --------------------------------------------
  //
  // A single-bucket read cannot see the columns other buckets carry, and
  // inferring the table-wide schema costs a listing of every bucket plus a
  // mergeSchema job. So it is memoized per table, keyed to the table's
  // commit state: the modification times of the history root (every commit
  // replaces bucket dirs in it) and of its marker (rewritten by every
  // batch-id commit). A commit by another process, a crash mid-protocol or
  // a recovery moves that state, and the next reader re-infers; this needs
  // modification times finer than the gap between two commits (local
  // filesystems and HDFS keep milliseconds). This process's own commits —
  // the protocol has a single writer — invalidate the memo before touching
  // the table and carry it over when they wrote no new column.

  private type CommitStamp = (Long, Long)
  private final case class SchemaMemo(stamp: CommitStamp, schema: StructType)
  private val tableSchemas = new ConcurrentHashMap[String, SchemaMemo]()

  /** The table's commit state; None when the history root does not exist. */
  private def commitStamp(spark: SparkSession, historyDir: String): Option[CommitStamp] = {
    val root = new Path(historyDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def status(p: Path) =
      try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    status(root).map(r => (r.getModificationTime,
      status(new Path(root, MarkerName)).fold(-1L)(_.getModificationTime)))
  }

  private def memoizedSchema(historyDir: String,
                             stamp: Option[CommitStamp]): Option[StructType] =
    Option(tableSchemas.get(historyDir)).filter(m => stamp.contains(m.stamp))
      .map(_.schema)

  /** [[readBucketed]]'s schema, from the memo when it holds for the current
    * commit state; otherwise inferred, and memoized if the state held still
    * while it was. */
  private def tableSchema(spark: SparkSession, historyDir: String): StructType = {
    val before = commitStamp(spark, historyDir)
    memoizedSchema(historyDir, before).getOrElse {
      val inferred = readBucketed(spark, historyDir).schema
      before.filter(_ => commitStamp(spark, historyDir) == before)
        .foreach(st => tableSchemas.put(historyDir, SchemaMemo(st, inferred)))
      inferred
    }
  }

  // ---- commit record plumbing -------------------------------------------
  //
  // The commit record goes through [[StreamFs]] (hadoop FileContext), so
  // the contract holds on any Hadoop-reachable store. The marker is written
  // to a sibling tmp and RENAMED into place, so it is either the previous
  // record or the new one, never torn.

  private val MarkerName = "_graft_batch" // leading '_' → invisible to parquet reads

  private def writeMarker(dir: String, id: Long): Unit =
    StreamFs.writeAtomicString(s"$dir/$MarkerName", s"$id\n")

  private def markerId(dir: String): Option[Long] =
    StreamFs.readString(s"$dir/$MarkerName")
      .map(_.linesIterator.toSeq).flatMap(_.headOption)
      .map(_.trim).filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong)

  /** Upgrade from the `<dir>.commits` log of earlier versions: the marker
    * takes the log's highest committed id when that is above its own, then
    * the log is deleted. A crash in between folds the same log again. */
  private def foldCommitLog(historyDir: String): Unit = {
    val log = historyDir + ".commits"
    StreamFs.readString(log).foreach { content =>
      val pureLegacy = !content.contains(';')
      // split with -1: a trailing "\n" yields an empty last element, so the
      // last element is exactly the unterminated tail (if any)
      val parts = content.split("\n", -1)
      val logged = parts.iterator.zipWithIndex.flatMap { case (l, i) =>
        parseCommitRecord(l, terminated = i < parts.length - 1,
          allowLegacy = pureLegacy)
      }.maxOption
      val marked = markerId(historyDir)
      logged.filter(id => marked.forall(_ < id)).foreach(writeMarker(historyDir, _))
      StreamFs.delete(log)
    }
  }

  /** One record of the earlier versions' commit log. Its FORMAT is
    * newline-prefixed, ';'-terminated records ("\n<id>;"), and the parse is
    * strict: an unterminated fragment (a torn write) is ignored and can
    * never merge with a later record or fabricate a committed id. */
  private def parseCommitRecord(line: String, terminated: Boolean,
                                allowLegacy: Boolean): Option[Long] = {
    val l = line.trim
    if (l.length > 1 && l.endsWith(";") && l.dropRight(1).forall(_.isDigit))
      Some(l.dropRight(1).toLong)
    else if (allowLegacy && terminated && l.nonEmpty && l.forall(_.isDigit))
      // legacy "<id>\n" record (pre-';' format). Accepted ONLY when (a) the
      // line is newline-TERMINATED — a completed old-format append always
      // wrote the trailing newline — AND (b) the log is a PURE legacy file
      // (no ';' anywhere). (b) closes the upgrade-era hole: in a mixed log,
      // a torn new-format append ("\n12" of "\n123;") becomes newline-
      // terminated as soon as the NEXT append's leading '\n' lands, at
      // which point bare "12" would fabricate a commit for a batch id that
      // never committed. A pure legacy file by definition predates the
      // new format, so every record in it was a completed old-format
      // append.
      Some(l.toLong)
    else None // unterminated fragment from a torn append — not committed
  }
}
