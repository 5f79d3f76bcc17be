package graftbench

import java.io.File
import java.time.Instant

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.cdc.{Cdc, ProductsFixture}
import graft.scd2.Scd2
import graft.sources.CdcSource
import graft.streaming.Scd2Stream
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The live CDC → SCD2 stream, composed the way `CdcSourceSpec` composes
  * it: `graft-cdc` (full binlog surface) → `Cdc.route` → `Cdc.flatten` /
  * `castTo` → `Scd2Stream` apply, inside `foreachBatch` so the apply call
  * can be timed from outside.
  *
  *  - `cdc_bulk`: flat layout, wide micro-batches over a history seeded to
  *    about a million rows; the throughput operating point.
  *  - `cdc_trickle`: bucketed layout (64 buckets), a few events per
  *    micro-batch, and one `lookupByKey` of a key the batch just wrote
  *    after every commit; the reference's operating point.
  *
  * A set-up query drains the seed range in one wide batch, then the same
  * checkpoint resumes narrow: the measured events continue in event-time
  * order, so the default `LatePolicy.Error` never fires.
  */
final case class CdcShape(products: Int, seedEvents: Long, batchEvents: Long,
                          warmBatches: Int, bucketed: Boolean)

object CdcShape {
  val bulk = CdcShape(products = 100000, seedEvents = 1200000L,
    batchEvents = 50000L, warmBatches = 2, bucketed = false)
  // The log repeats begin, TxSize row changes, commit. A seed of whole
  // transactions (plus the leading ddl) and batches of half a transaction
  // give every measured batch exactly TxSize / 2 row changes.
  val trickle = CdcShape(products = 20000, seedEvents = 1L + 10833L * 12,
    batchEvents = 6L, warmBatches = 4, bucketed = true)
}

final class CdcWorkload(spark: SparkSession, tracer: Tracer, rec: Recorder,
                        shape: CdcShape, work: File, seed: Long,
                        seconds: Double) {
  private val Keys = Seq("ProductID")
  private val Buckets = 64
  private val TxSize = 10
  private val fields = ProductsFixture.schema.fieldNames.toSeq
  private val hist = new File(work, "history").getPath
  private val ckpt = new File(work, "checkpoint").getPath
  private val rng = new scala.util.Random(seed)

  private def sourceOptions(rows: Long): Map[String, String] = Map(
    "rows" -> rows.toString, "products" -> shape.products.toString,
    "fullEventLog" -> "true", "txSize" -> TxSize.toString,
    "numPartitions" -> spark.sparkContext.defaultParallelism.toString)

  /** A batch read of the first `rows` events of the log. */
  private def logPrefix(rows: Long): DataFrame =
    spark.read.format("graft-cdc").options(sourceOptions(rows)).load()

  /** route → flatten/castTo: the row changes of one batch of raw events. */
  private def changesOf(events: DataFrame): DataFrame = {
    val routed = Cdc.route(events)
    val changes = routed(Cdc.Insert).unionByName(routed(Cdc.Update))
      .unionByName(events.filter(col("event_type") === Cdc.Delete))
    Cdc.castTo(Cdc.flatten(changes, fields), ProductsFixture.schema)
      .withColumnRenamed("seq", "event_seq")
  }

  private def apply(changes: DataFrame, id: Long): Unit =
    if (shape.bucketed)
      Scd2Stream.applyMicroBatchBucketed(spark, changes, hist, Keys, "ts",
        "event_seq", nBuckets = Buckets, batchId = Some(id),
        opCol = Some("event_type"))
    else
      Scd2Stream.applyMicroBatch(spark, changes, hist, Keys, "ts", "event_seq",
        batchId = Some(id), opCol = Some("event_type"))

  /** Event range of batch `id`: batch 0 is the seed, then fixed-size
    * batches (admission control cuts exactly `batchEvents`). */
  private def rangeOf(id: Long): (Long, Long) =
    if (id == 0) (0L, shape.seedEvents)
    else {
      val lo = shape.seedEvents + (id - 1) * shape.batchEvents
      (lo, lo + shape.batchEvents)
    }

  private def isRowChange(t: String) =
    t == Cdc.Insert || t == Cdc.Update || t == Cdc.Delete

  /** The last row change per product in [lo, hi), from the source's own
    * deterministic event function: (pid → (type, seq)). */
  private def lastChanges(lo: Long, hi: Long): Map[Int, (String, Long)] = {
    val m = mutable.LinkedHashMap.empty[Int, (String, Long)]
    var i = lo
    while (i < hi) {
      val t = CdcSource.fullEventTypeOf(i, shape.products, TxSize)
      if (isRowChange(t)) {
        val k = CdcSource.changeIndexOf(i, TxSize)
        val idx = if (t == Cdc.Delete) CdcSource.deletePayloadIndexOf(k, shape.products) else k
        m(CdcSource.productOf(idx, shape.products)._1) = (t, i)
      }
      i += 1
    }
    m.toMap
  }

  // state shared with the foreachBatch thread
  @volatile private var measureFrom = Long.MaxValue // first measured batch id
  @volatile private var deadlineNs = Long.MaxValue
  @volatile private var lastHandled = -1L // applied or failed
  @volatile private var stopRequested = false
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val lookups = new java.util.concurrent.ConcurrentLinkedQueue[Json.Obj]
  private val batchExtra = new java.util.concurrent.ConcurrentHashMap[Long, Json.Obj]

  private def traced(id: Long) = tracer.on && id >= measureFrom && id % 2 == 1

  private def cdcObservation(id: Long) = Observation(s"graftbench_cdc_$id")
  private def n(c: Column) = sum(when(c, 1L).otherwise(0L))

  private def onBatch(batch: DataFrame, id: Long): Unit = {
    if (stopRequested) return
    val tr = traced(id)
    val obs = if (tr) Some(cdcObservation(id)) else None
    val events = obs.fold(batch) { o =>
      val t = col("event_type")
      batch.observe(o, count(lit(1)).as("read"), n(t === Cdc.Insert).as("insert"),
        n(t === Cdc.Update).as("update"), n(t === Cdc.Delete).as("delete"),
        n(!t.isin(Cdc.Insert, Cdc.Update, Cdc.Delete)).as("unmatched"))
    }
    val gc0 = Recorder.gcMs
    val applyStart = tracer.nowMs
    try {
      tracer.span("apply", id.toString, s"batch:$id", tr) { apply(changesOf(events), id) }
    } catch {
      case t: Throwable =>
        failures.add(s"batch $id: ${Recorder.describe(t)}")
        if (id >= measureFrom) rec.failOp() // attempted when its progress is reported
    }
    if (tr) {
      val extra = mutable.ArrayBuffer[(String, Any)]("gc_ms" -> (Recorder.gcMs - gc0))
      obs.foreach { o =>
        try {
          val row = Await.result(o.future, 30.seconds)
          extra ++= Seq("read", "insert", "update", "delete", "unmatched")
            .map(k => k -> row.getAs[Long](k))
        } catch { case _: Throwable => () }
      }
      val written = Recorder.filesSince(new File(hist), applyStart)
      extra += "files_written" -> written.size
      extra += "dirs_written" -> written.map(_.getParent).distinct.size
      batchExtra.put(id, Json.Obj(extra.toSeq))
    }
    // warm-up batches read too, so the lookup path is warm when measuring
    if (shape.bucketed && id > 0) lookupAfter(id, tr, measured = id >= measureFrom)
    lastHandled = id
    if (id >= measureFrom && System.nanoTime() > deadlineNs) stopRequested = true
  }

  /** One point read of a key this batch just wrote; the check runs after
    * the timer stops: the just-committed version must be the key's only
    * current row. */
  private def lookupAfter(id: Long, tr: Boolean, measured: Boolean): Unit = {
    val (lo, hi) = rangeOf(id)
    val live = lastChanges(lo, hi).toSeq.filter(_._2._1 != Cdc.Delete).sortBy(_._1)
    if (live.isEmpty) return
    val (pid, (_, seq)) = live(rng.nextInt(live.size))
    val t0 = System.nanoTime()
    val result = try {
      Right(tracer.span("lookup", id.toString, s"batch:$id", tr) {
        Scd2Stream.lookupByKey(spark, hist, Keys, Seq(pid), Buckets).collect()
      })
    } catch { case t: Throwable => Left(Recorder.describe(t)) }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = result match {
      case Right(rows) =>
        val current = rows.filter(_.getAs[String](Scd2.IsCurrent) == "Y")
        current.length == 1 && current.head.getAs[Long]("event_seq") == seq &&
          current.head.getAs[java.sql.Timestamp](Scd2.ValidUntil) == null
      case Left(_) => false
    }
    result.left.foreach(e => failures.add(s"lookup $id: $e"))
    if (result.isRight && !ok) failures.add(s"lookup $id: pid $pid is not current at seq $seq")
    if (measured) {
      rec.attemptOp()
      if (!ok) rec.failOp()
      lookups.add(Json.obj("batch" -> id, "ms" -> ms, "ok" -> ok, "traced" -> tr))
    }
  }

  private def startQuery(rows: Long, perTrigger: Long): StreamingQuery = {
    val key = map_from_arrays(col("columns.name"), col("columns.value"))
      .getItem(Keys.head)
    spark.readStream.format("graft-cdc").options(sourceOptions(rows))
      .option("maxEventsPerTrigger", perTrigger).load()
      // the per-batch metrics Scd2Stream.start ships with the stream
      .observe(Scd2Stream.ObservedMetricsName, count(lit(1)).as("n_events"),
        approx_count_distinct(key).as("n_keys_approx"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: DataFrame, id: Long) => onBatch(b, id))
      .start()
  }

  def run(): Unit = {
    // set-up: the seed batch, then warm-up batches of the measured shape
    val setupT0 = System.nanoTime()
    val seedQ = startQuery(shape.seedEvents, shape.seedEvents)
    seedQ.processAllAvailable(); seedQ.stop()
    rec.extra("seed_s", (System.nanoTime() - setupT0) / 1e9)
    measureFrom = 1L + shape.warmBatches
    val q = startQuery(Long.MaxValue / 4, shape.batchEvents)
    try {
      while (lastHandled < measureFrom - 1 && failures.isEmpty && q.isActive)
        Thread.sleep(5)
      rec.setup((System.nanoTime() - setupT0) / 1e9)
      deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
      while (!stopRequested && q.isActive) Thread.sleep(5)
      // let the last applied batch finish its commit and report progress
      val until = System.nanoTime() + 30000000000L
      def reported = (if (tracer.on) tracer.progress.asScala.map(_.progress).toSeq
                      else q.recentProgress.toSeq).exists(_.batchId >= lastHandled)
      while (!reported && q.isActive && System.nanoTime() < until) Thread.sleep(5)
    } finally q.stop()
    if (q.exception.isDefined) failures.add(s"query: ${Recorder.describe(q.exception.get)}")
    tracer.flush()
    // a traced run takes progress from its listener; otherwise from the
    // query's own recent-progress buffer
    val all = if (tracer.on) tracer.progress.asScala.map(_.progress).toArray
              else q.recentProgress
    report(all.filter(p => p.runId == q.runId &&
      p.batchId >= measureFrom && p.batchId <= lastHandled))
  }

  private def epochMs(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def report(progress: Array[StreamingQueryProgress]): Unit = {
    val measured = progress.sortBy(_.batchId)
    measured.foreach { p =>
      rec.attemptOp()
      rec.op("batch", p.batchId.toString, dur(p, "triggerExecution"), traced(p.batchId))
      if (traced(p.batchId))
        tracer.record(Span("batch", p.batchId.toString, "", epochMs(p),
          epochMs(p) + dur(p, "triggerExecution")))
    }
    // throughput: the median over batches of row changes committed per
    // second of the batch's trigger-to-commit time
    val rates = measured.toSeq.filterNot(p => traced(p.batchId)).map { p =>
      val (lo, hi) = rangeOf(p.batchId)
      val changes = (lo until hi).count(i =>
        isRowChange(CdcSource.fullEventTypeOf(i, shape.products, TxSize)))
      changes / (dur(p, "triggerExecution") / 1e3)
    }
    if (rates.nonEmpty) rec.workRate(Stats.median(rates))
    failures.asScala.foreach(rec.failure)
    rec.extra("lookups", lookups.asScala.toSeq)
    rec.extra("batches", measured.toSeq.map { p =>
      Json.obj("id" -> p.batchId, "traced" -> traced(p.batchId),
        "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "observed" -> Option(p.observedMetrics.get(Scd2Stream.ObservedMetricsName))
          .map(r => Json.obj("n_events" -> r.getAs[Long]("n_events"),
            "n_keys_approx" -> r.getAs[Long]("n_keys_approx"))),
        "extra" -> Option(batchExtra.get(p.batchId)),
        "counters" -> (if (traced(p.batchId)) Some(Json.obj(
          "apply" -> tracer.counters(Seq(s"apply:${p.batchId}")),
          "lookup" -> tracer.counters(Seq(s"lookup:${p.batchId}")))) else None))
    })
    rec.extra("history_files", Recorder.filesSince(new File(hist), 0).count(_.getName.endsWith(".parquet")))
    if (measured.nonEmpty) {
      if (tracer.on) synthRate(measured.head.batchId, measured.last.batchId)
      check(rangeOf(measured.last.batchId)._2)
    }
  }

  /** Source synthesis rate (a per-layer metric): a batch read of the
    * measured offsets into the noop sink, outside the timed region. */
  private def synthRate(fromId: Long, toId: Long): Unit = {
    val (lo, _) = rangeOf(fromId); val (_, hi) = rangeOf(toId)
    val t0 = System.nanoTime()
    logPrefix(hi).filter(col("seq") >= lo)
      .write.format("noop").mode("overwrite").save()
    rec.extra("synth_events_per_s", (hi - lo) / ((System.nanoTime() - t0) / 1e9))
  }

  /** Output check: the committed history equals the one-shot delete-aware
    * merge of a batch read of the same log. On the flat layout it also
    * keeps the SCD2 invariants (at most one open row per key; per key,
    * intervals that never overlap and only the last of which is open). */
  private def check(end: Long): Unit = {
    rec.attemptOp()
    val ok = try {
      val got = if (shape.bucketed) Scd2Stream.readBucketed(spark, hist)
                else spark.read.parquet(hist)
      val expected = Scd2.fromEventsWithDeletes(changesOf(logPrefix(end)),
        Keys, "ts", "event_seq", "event_type").drop("event_type")
      val cols = expected.columns.toSeq
      def digest(df: DataFrame) = df.select(cols.map(col): _*)
        .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
        .head()
      val same = digest(got) == digest(expected)
      if (!same) rec.failure("history differs from the one-shot merge of the log")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(Keys.map(col): _*)
        .orderBy(col(Scd2.ValidFrom), col("event_seq"))
      val bad = if (shape.bucketed) 0L else got
        .withColumn("next_from", lead(col(Scd2.ValidFrom), 1).over(w))
        .withColumn("n_open", sum(when(col(Scd2.ValidUntil).isNull, 1).otherwise(0))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(Keys.map(col): _*)))
        .filter(col("n_open") > 1 ||
          (col("next_from").isNotNull && (col(Scd2.ValidUntil).isNull ||
            col(Scd2.ValidUntil) > col("next_from"))) ||
          (col(Scd2.IsCurrent) === "Y") =!= col(Scd2.ValidUntil).isNull)
        .count()
      if (bad != 0) rec.failure(s"$bad history rows break the SCD2 invariants")
      rec.extra("history_rows", got.count())
      same && bad == 0
    } catch { case t: Throwable => rec.failure(s"check: ${Recorder.describe(t)}"); false }
    if (!ok) rec.failOp()
    rec.check("history", ok)
  }
}
