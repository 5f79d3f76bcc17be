package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.scd2.Scd2
import graft.streaming.Scd2Stream
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The bucketed SCD2 stream's per-call cost and its point lookup: one
  * bucket function shared by the write path and the in-process lookup,
  * Spark job counts pinned with a listener, and the lookup's schema and
  * rows held to [[Scd2Stream.readBucketed]]'s. */
class BucketedStreamSpec extends SparkSpec {

  private val Tag = "graft.spec.jobs"

  /** Run `body` and count the Spark jobs it started. A sentinel job run
    * afterwards is seen by the listener only once every earlier event was,
    * so the count does not depend on listener-bus lag. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))) match {
          case Some(t) if t == tag => jobs.incrementAndGet(); ()
          case Some(t) if t == s"$tag:end" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, tag)
      val out = try body finally sc.setLocalProperty(Tag, s"$tag:end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def forSamples[T](gen: Gen[T], n: Int)(body: T => Unit): Unit = {
    var seed = Seed(7L)
    (0 until n).foreach { _ =>
      body(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
    }
  }

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  /** One event per key, the i-th at ts `t0 + i`, as a union of three
    * branches over 4 partitions — the shape a routed CDC batch has. */
  private def events(keys: Seq[Long], t0: Long): DataFrame = {
    val rows = keys.zipWithIndex.map { case (k, i) =>
      (k, s"v$t0-$k", ts(t0 + i), t0 + i)
    }
    val base = spark.createDataFrame(rows).toDF("k", "value", "ts", "seq")
      .repartition(4).cache()
    base.count()
    base.filter(col("seq") % 3 === 0)
      .unionByName(base.filter(col("seq") % 3 === 1))
      .unionByName(base.filter(col("seq") % 3 === 2))
  }

  test("one bucket function: the in-process id equals Spark's pmod(hash(...), B)") {
    val dayMs = 86400000L
    val cases: Seq[(StructType, Gen[Row])] = Seq(
      new StructType().add("a", IntegerType) -> Gen.choose(Int.MinValue, Int.MaxValue).map(Row(_)),
      new StructType().add("a", LongType) -> Gen.choose(Long.MinValue, Long.MaxValue).map(Row(_)),
      new StructType().add("a", StringType) -> Gen.asciiPrintableStr.map(Row(_)),
      new StructType().add("a", TimestampType) ->
        Gen.choose(-1000L * dayMs, 30000L * dayMs).map(ms => Row(ts(ms))),
      new StructType().add("a", IntegerType).add("b", StringType) ->
        Gen.zip(Gen.choose(-50, 50), Gen.alphaStr).map { case (i, s) => Row(i, s) },
      new StructType().add("a", LongType).add("b", StringType) ->
        Gen.zip(Gen.option(Gen.choose(0L, 9L)), Gen.option(Gen.alphaStr))
          .map { case (i, s) => Row(i.map(Long.box).orNull, s.orNull) })
    for ((schema, gen) <- cases)
      forSamples(Gen.zip(Gen.choose(1, 4096), Gen.listOfN(40, gen)), 3) {
        case (nBuckets, sample) =>
          val rows = sample :+ Row.fromSeq(schema.map(_ => null)) // the all-null key
          val keyCols = schema.fieldNames.toSeq.map(col)
          val sparkIds = spark.createDataFrame(rows.asJava, schema)
            .select(pmod(hash(keyCols: _*), lit(nBuckets)))
            .collect().map(_.getInt(0)).toSeq
          val localIds = rows.map(r =>
            Scd2Stream.bucketOf(spark, r.toSeq, schema.map(_.dataType), nBuckets))
          assert(localIds === sparkIds, s"[${schema.simpleString}, B=$nBuckets]")
      }
  }

  test("lookupByKey hashes the key column's type, not the value's") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bkt-type").toString + "/hist"
    val batch = (1 to 20).map(i => (i, s"v$i", ts(1000L + i), i.toLong))
      .toDF("k", "value", "ts", "seq")
    Scd2Stream.applyMicroBatchBucketed(spark, batch, dir, Seq("k"), "ts", "seq",
      nBuckets = 16, batchId = Some(0L))
    // an Int key looked up with a Long, a String and an Int value
    for (v <- Seq[Any](5L, "5", 5)) {
      val got = Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(v), nBuckets = 16)
        .collect()
      assert(got.map(_.getAs[Int]("k")).toSeq === Seq(5), s"value $v (${v.getClass})")
    }
    val ex = intercept[IllegalArgumentException] {
      Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(5, 6), nBuckets = 16)
    }
    assert(ex.getMessage.contains("1 key columns but 2 values"))
  }

  test("Spark jobs: a point lookup runs one, a narrow micro-batch at most three") {
    val dir = Files.createTempDirectory("graft-bkt-jobs").toString + "/hist"
    val keys = (1L to 400L).toSeq
    Scd2Stream.applyMicroBatchBucketed(spark, events(keys, 1000L), dir,
      Seq("k"), "ts", "seq", batchId = Some(0L))
    assert(new java.io.File(dir).list().count(_.startsWith("__bucket=")) === 64)
    // the first lookup after a commit that created the table infers its
    // schema; from then on the memo carries across this process's commits
    Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(1L)).collect()
    val (rows, lookupJobs) = jobsOf(
      Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(7L)).collect())
    assert(rows.length === 1 && lookupJobs === 1, s"lookup ran $lookupJobs jobs")
    val narrow = events(Seq(3L, 7L, 11L, 19L, 23L, 29L), 5000L)
    val (_, applyJobs) = jobsOf(Scd2Stream.applyMicroBatchBucketed(spark, narrow,
      dir, Seq("k"), "ts", "seq", batchId = Some(1L)))
    assert(applyJobs <= 3, s"narrow micro-batch ran $applyJobs jobs")
    val (after, afterJobs) = jobsOf(
      Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(7L)).collect())
    assert(afterJobs === 1, s"lookup after a commit ran $afterJobs jobs")
    val current = after.filter(_.getAs[String](Scd2.IsCurrent) == "Y")
    assert(current.map(_.getAs[String]("value")).toSeq === Seq("v5000-7"))
    val want = Scd2.fromEvents(events(keys, 1000L).unionByName(narrow),
      Seq("k"), "ts", "seq")
    val got = Scd2Stream.readBucketed(spark, dir)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("an Observation on the batch fires once, with the batch's row count") {
    val dir = Files.createTempDirectory("graft-bkt-obs").toString + "/hist"
    Scd2Stream.applyMicroBatchBucketed(spark, events((1L to 50L).toSeq, 1000L),
      dir, Seq("k"), "ts", "seq", nBuckets = 16, batchId = Some(1L))
    // an RDD action over the batch would bypass observe() and leave the
    // Observation pending: the bounded wait turns that into a failure
    val obs = Observation("graft_spec_batch")
    Scd2Stream.applyMicroBatchBucketed(spark,
      events(Seq(2L, 3L, 5L, 8L, 13L, 21L), 5000L)
        .observe(obs, count(lit(1)).as("rows")),
      dir, Seq("k"), "ts", "seq", nBuckets = 16, batchId = Some(2L))
    val row = Await.result(obs.future, 60.seconds)
    assert(row.getAs[Long]("rows") === 6L)
  }

  test("the table-schema memo follows commits this process did not make") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-bkt-memo").toString
    val dir = s"$root/hist"
    val batch = (1 to 30).map(i => (i, s"v$i", ts(1000L + i), i.toLong))
      .toDF("k", "value", "ts", "seq")
    Scd2Stream.applyMicroBatchBucketed(spark, batch, dir, Seq("k"), "ts", "seq",
      nBuckets = 8, batchId = Some(0L))
    assert(!Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(1), nBuckets = 8)
      .columns.contains("segment"))
    // another writer rewrites k=2's bucket with a new column and swaps it in
    val b2 = Scd2Stream.bucketOf(spark, Seq(2), Seq(IntegerType), 8)
    val bucketDir = new java.io.File(s"$dir/__bucket=$b2")
    val staged = s"$root/staged"
    spark.read.parquet(bucketDir.getPath)
      .withColumn("segment", concat(lit("s-"), col("k")))
      .write.parquet(staged)
    val aside = new java.io.File(s"$root/aside")
    assert(bucketDir.renameTo(aside) && new java.io.File(staged).renameTo(bucketDir))
    val k = (1 to 30).find(i =>
      Scd2Stream.bucketOf(spark, Seq(i), Seq(IntegerType), 8) != b2).get
    val got = Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(k), nBuckets = 8)
    assert(got.schema === Scd2Stream.readBucketed(spark, dir).schema)
    assert(got.collect().map(_.getAs[String]("segment")).toSeq === Seq(null))
    val widened = Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(2), nBuckets = 8)
    assert(widened.collect().map(_.getAs[String]("segment")).toSeq === Seq("s-2"))
  }

  test("a lookup of a key never seen before compiles no codegen class") {
    val dir = Files.createTempDirectory("graft-bkt-codegen").toString + "/hist"
    Scd2Stream.applyMicroBatchBucketed(spark, events((1L to 400L).toSeq, 1000L),
      dir, Seq("k"), "ts", "seq", nBuckets = 16, batchId = Some(0L))
    def lookup(v: Any) =
      Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(v), nBuckets = 16).collect()
    // warm-up: the schema memo and the first compile of the lookup's plan
    lookup(1L)
    lookup(2L)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val found = (100L until 110L).map(k => lookup(k).map(_.getAs[Long]("k")).toSeq)
    assert(compiles.getCount - before === 0L, "classes compiled for 10 new keys")
    assert(found === (100L until 110L).map(Seq(_)))
    // a key with no row and a null key find nothing, as an equality would
    assert(lookup(9999L).isEmpty && lookup(null).isEmpty)
  }

  test("each touched bucket is rewritten as one file, however often it is touched") {
    val dir = Files.createTempDirectory("graft-bkt-files").toString + "/hist"
    Scd2Stream.applyMicroBatchBucketed(spark, events((1L to 200L).toSeq, 1000L),
      dir, Seq("k"), "ts", "seq", nBuckets = 8, batchId = Some(0L))
    val b = Scd2Stream.bucketOf(spark, Seq(7L), Seq(LongType), 8)
    def parquetFiles(): Seq[String] =
      new java.io.File(s"$dir/__bucket=$b").list().filter(_.endsWith(".parquet")).toSeq
    assert(parquetFiles().size === 1, "after the seed batch")
    for (n <- 1 to 4) {
      Scd2Stream.applyMicroBatchBucketed(spark,
        events(Seq(7L, 300L + n), 5000L + 1000L * n),
        dir, Seq("k"), "ts", "seq", nBuckets = 8, batchId = Some(n.toLong))
      assert(parquetFiles().size === 1, s"after narrow batch $n: ${parquetFiles()}")
    }
    val current = Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(7L), nBuckets = 8)
      .filter(col(Scd2.IsCurrent) === "Y").collect()
    assert(current.map(_.getAs[String]("value")).toSeq === Seq("v9000-7"))
  }
}
