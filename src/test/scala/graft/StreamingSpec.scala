package graft

import graft.ops.Scd2Queries
import graft.scd2.Scd2
import graft.streaming.Scd2Stream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingSpec extends SparkSpec {

  private def events() =
    Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type", "value", "ts")

  test("micro-batched applyMicroBatch over thirds equals one-shot reconstruction") {
    val ev = events().cache()
    val tmp = Files.createTempDirectory("graft-stream").toString
    val histDir = s"$tmp/history"
    val cuts = Seq(-1L, 300L, 600L, 100000L)
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      val batch = ev.filter(col("event_id") > lo && col("event_id") <= hi)
      Scd2Stream.applyMicroBatch(spark, batch, histDir,
        Seq("user_id"), "ts", "event_id")
    }
    val streamed = spark.read.parquet(histDir)
    val full = Scd2.fromEvents(ev, Seq("user_id"), "ts", "event_id")
    assert(streamed.count() === full.count())
    assert(streamed.exceptAll(full).isEmpty && full.exceptAll(streamed).isEmpty)
  }

  test("micro-batched merge with deletes equals one-shot delete-aware reconstruction") {
    val ev = events().withColumn("op",
      when(col("event_type") === "logout", Scd2.DeleteOp).otherwise("update"))
      .cache()
    val tmp = Files.createTempDirectory("graft-stream-del").toString
    val histDir = s"$tmp/history"
    Seq((-1L, 300L), (300L, 600L), (600L, 100000L)).foreach { case (lo, hi) =>
      Scd2Stream.applyMicroBatch(spark,
        ev.filter(col("event_id") > lo && col("event_id") <= hi), histDir,
        Seq("user_id"), "ts", "event_id", opCol = Some("op"))
    }
    val streamed = spark.read.parquet(histDir)
    val full = Scd2.fromEventsWithDeletes(ev, Seq("user_id"), "ts", "event_id", "op")
      .drop("op")
    assert(streamed.count() === full.count())
    assert(streamed.exceptAll(full).isEmpty && full.exceptAll(streamed).isEmpty)
  }

  test("replaying a committed micro-batch is a no-op (exactly-once sink)") {
    val ev = events()
    val tmp = Files.createTempDirectory("graft-stream2").toString
    val histDir = s"$tmp/history"
    val b1 = ev.filter(col("event_id") <= 2000)
    val b2 = ev.filter(col("event_id") > 2000 && col("event_id") <= 4000)
    Scd2Stream.applyMicroBatch(spark, b1, histDir,
      Seq("user_id"), "ts", "event_id", batchId = Some(0L))
    Scd2Stream.applyMicroBatch(spark, b2, histDir,
      Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    val once = spark.read.parquet(histDir).collect().toSet
    Scd2Stream.applyMicroBatch(spark, b2, histDir,
      Seq("user_id"), "ts", "event_id", batchId = Some(1L)) // replay
    val twice = spark.read.parquet(histDir).collect().toSet
    assert(twice === once)
  }

  test("bucketed micro-batches equal full reconstruction; untouched buckets stay cold") {
    val ev = events().cache()
    val tmp = Files.createTempDirectory("graft-bucketed").toString
    val histDir = s"$tmp/history"
    // batch 1: everything; batch 2: a few users only
    val b1 = ev.filter(col("event_id") <= 5000)
    val b2 = ev.filter(col("event_id") > 5000 && col("user_id") % 97 === 0)
    Scd2Stream.applyMicroBatchBucketed(spark, b1, histDir,
      Seq("user_id"), "ts", "event_id", nBuckets = 16)
    val mtimes0 = new java.io.File(histDir).listFiles()
      .filter(_.getName.startsWith("__bucket=")).map(f => f.getName -> f.lastModified()).toMap
    Thread.sleep(1100)
    Scd2Stream.applyMicroBatchBucketed(spark, b2, histDir,
      Seq("user_id"), "ts", "event_id", nBuckets = 16)
    val streamed = Scd2Stream.readBucketed(spark, histDir)
    val full = Scd2.fromEvents(b1.unionByName(b2), Seq("user_id"), "ts", "event_id")
    assert(streamed.count() === full.count())
    assert(streamed.exceptAll(full).isEmpty && full.exceptAll(streamed).isEmpty)
    // buckets not hit by batch 2 must not have been rewritten
    val touched = b2.select(pmod(hash(col("user_id")), lit(16)).as("b"))
      .distinct().collect().map(_.getInt(0)).map(b => s"__bucket=$b").toSet
    val mtimes1 = new java.io.File(histDir).listFiles()
      .filter(_.getName.startsWith("__bucket=")).map(f => f.getName -> f.lastModified()).toMap
    val untouched = mtimes0.keySet -- touched
    assert(untouched.nonEmpty)
    untouched.foreach { d => assert(mtimes1(d) === mtimes0(d), s"$d was rewritten") }
  }

  /** Crashes `apply` at every failpoint label a clean apply of batch 1 fires
    * (so the label list cannot go stale), replays batch 1, and checks the
    * history read back by `read` lands exactly at the two-batch state with no
    * debris. `steps` are label prefixes every commit must pass through. */
  private def crashAtEveryFailpoint(name: String,
      apply: (DataFrame, String, Long, String => Unit) => Unit,
      read: String => DataFrame, steps: Seq[String]): Unit = {
    val ev = events().cache()
    val b1 = ev.filter(col("event_id") <= 300)
    val b2 = ev.filter(col("event_id") > 300 && col("event_id") <= 700)
    val expect = Scd2.fromEvents(ev.filter(col("event_id") <= 700),
      Seq("user_id"), "ts", "event_id").cache()
    val debris = Seq(".tmp", ".pending", ".old", ".inflight", ".oldbuckets", ".commits")
    def afterBatch0(): String = {
      val dir = Files.createTempDirectory("graft-crash").toString + "/history"
      apply(b1, dir, 0L, _ => ())
      dir
    }
    val fired = scala.collection.mutable.ArrayBuffer.empty[String]
    apply(b2, afterBatch0(), 1L, fired += _)
    steps.foreach(st => assert(fired.exists(_.startsWith(st)),
      s"$name: no $st label among $fired"))
    for (label <- fired) {
      val clue = s"[$name $label]"
      val dir = afterBatch0()
      val boom = intercept[RuntimeException] {
        apply(b2, dir, 1L, l => if (l == label) throw new RuntimeException(s"crash:$l"))
      }
      assert(boom.getMessage === s"crash:$label", clue)
      // replay after the simulated crash: recovery must roll back or roll
      // forward so the replay lands exactly at the two-batch state
      apply(b2, dir, 1L, _ => ())
      val got = read(dir)
      assert(got.count() === expect.count(), clue)
      assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty, clue)
      debris.foreach(d =>
        assert(!new java.io.File(dir + d).exists(), s"$clue $d left behind"))
    }
  }

  test("plain swap: crash at every protocol window, then replay → exactly-once") {
    crashAtEveryFailpoint("flat",
      (b, dir, id, fp) => Scd2Stream.applyMicroBatch(spark, b, dir,
        Seq("user_id"), "ts", "event_id", batchId = Some(id), failpoint = fp),
      dir => spark.read.parquet(dir),
      Seq("after-tmp-write", "after-rename-aside", "after-commit"))
  }

  test("bucketed swap: crash at every protocol window, then replay → exactly-once") {
    crashAtEveryFailpoint("bucketed",
      (b, dir, id, fp) => Scd2Stream.applyMicroBatchBucketed(spark,
        b, dir, Seq("user_id"), "ts", "event_id", nBuckets = 4,
        batchId = Some(id), failpoint = fp),
      dir => Scd2Stream.readBucketed(spark, dir),
      Seq("after-tmp-write", "after-commit", "after-clear:", "after-replace:",
        "after-marker"))
  }

  test("a bucketed history an earlier version left with a commit log upgrades in place") {
    val ev = events().cache()
    val b1 = ev.filter(col("event_id") <= 300)
    val b2 = ev.filter(col("event_id") > 300 && col("event_id") <= 700)
    val b3 = ev.filter(col("event_id") > 700 && col("event_id") <= 1000)
    val tmp = Files.createTempDirectory("graft-upgrade").toString
    val histDir = s"$tmp/history"
    def apply(b: DataFrame, id: Long): Unit =
      Scd2Stream.applyMicroBatchBucketed(spark, b, histDir, Seq("user_id"), "ts",
        "event_id", nBuckets = 4, batchId = Some(id))
    // the earlier layout after batches 0 and 1: `__bucket=` dirs, no root
    // marker, and a strict-format commit log beside the root
    Scd2.fromEvents(b1.unionByName(b2), Seq("user_id"), "ts", "event_id")
      .withColumn("__bucket", pmod(hash(col("user_id")), lit(4)))
      .write.partitionBy("__bucket").parquet(histDir)
    Files.write(java.nio.file.Paths.get(histDir + ".commits"), "\n0;\n1;".getBytes)
    val before = Scd2Stream.readBucketed(spark, histDir).collect().toSet
    // its ids replay as no-ops, and the log is folded into the marker
    apply(b1, 0L)
    apply(b2, 1L)
    assert(Scd2Stream.readBucketed(spark, histDir).collect().toSet === before)
    assert(!new java.io.File(histDir + ".commits").exists(), "log not folded")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$histDir/_graft_batch"))).trim === "1")
    // the next id applies
    apply(b3, 2L)
    val expect = Scd2.fromEvents(ev.filter(col("event_id") <= 1000),
      Seq("user_id"), "ts", "event_id")
    val got = Scd2Stream.readBucketed(spark, histDir)
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // an interrupted commit of the earlier bucketed protocol fails recovery
    // by name instead of being guessed at
    for (debris <- Seq(".inflight", ".oldbuckets")) {
      val f = new java.io.File(histDir + debris)
      f.mkdirs()
      val ex = intercept[IllegalStateException](Scd2Stream.recover(histDir))
      assert(ex.getMessage.contains(histDir + debris), ex.getMessage)
      f.delete()
    }
  }

  test("the commit record stays one id: non-data files are the same after 1 and after 40 narrow bucketed batches") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-flat-cost").toString
    val histDir = s"$tmp/history"
    val marker = s"$histDir/_graft_batch"
    // every file beside the part files, with its size; the marker's own
    // size grows with its id's digits, so it is compared by content
    def nonDataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(tmp)).filterNot(_.getName.contains("part-"))
        .map(f => f.getPath -> (if (f.getPath == marker) 0L else f.length)).toMap
    }
    def markerText = new String(Files.readAllBytes(java.nio.file.Paths.get(marker)))
    var afterOne = Map.empty[String, Long]
    for (i <- 0 until 40) {
      val batch = Seq((i % 6L, i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L)))
        .toDF("user_id", "event_id", "ts")
      Scd2Stream.applyMicroBatchBucketed(spark, batch, histDir, Seq("user_id"),
        "ts", "event_id", nBuckets = 8, batchId = Some(i.toLong))
      if (i == 0) {
        afterOne = nonDataFiles()
        assert(markerText === "0\n")
      }
    }
    assert(afterOne.contains(marker), afterOne)
    assert(nonDataFiles() === afterOne)
    assert(markerText === "39\n")
  }

  test("torn commit-log append can neither fabricate nor corrupt committed ids") {
    val ev = events().cache()
    val tmp = Files.createTempDirectory("graft-torn").toString
    val histDir = s"$tmp/history"
    val b1 = ev.filter(col("event_id") <= 300)
    val b2 = ev.filter(col("event_id") > 300 && col("event_id") <= 700)
    Scd2Stream.applyMicroBatch(spark, b1, histDir,
      Seq("user_id"), "ts", "event_id", batchId = Some(0L))
    // simulate a crash mid-append: an unterminated fragment for batch 1
    val log = new java.io.FileWriter(histDir + ".commits", true)
    try log.write("\n1") finally log.close() // no ';' terminator → torn
    // the torn fragment must NOT read as "batch 1 committed": applying
    // batch 1 now must really apply it (data loss otherwise)
    Scd2Stream.applyMicroBatch(spark, b2, histDir,
      Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    val expect = Scd2.fromEvents(ev.filter(col("event_id") <= 700),
      Seq("user_id"), "ts", "event_id")
    val got = spark.read.parquet(histDir)
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // and the fragment must not merge with the real record appended after
    // it (torn "1" + "1;" must not parse as 11): batch 1 IS now committed,
    // so replaying it is a no-op
    val once = spark.read.parquet(histDir).collect().toSet
    Scd2Stream.applyMicroBatch(spark, b2, histDir,
      Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    assert(spark.read.parquet(histDir).collect().toSet === once)
  }

  test("legacy bare-digit commit records are honored only when newline-terminated") {
    val ev = events().cache()
    val b1 = ev.filter(col("event_id") <= 300)
    val b2 = ev.filter(col("event_id") > 300 && col("event_id") <= 700)
    // a pure pre-';'-format log ("<id>\n" records): batch 1 reads as
    // committed → replaying it must be a no-op (upgrade compatibility)
    val tmpA = Files.createTempDirectory("graft-legacy").toString
    Scd2Stream.applyMicroBatch(spark, b1, s"$tmpA/history",
      Seq("user_id"), "ts", "event_id", batchId = Some(0L))
    val logA = new java.io.FileWriter(s"$tmpA/history.commits", false)
    try logA.write("0\n1\n") finally logA.close()
    Scd2Stream.applyMicroBatch(spark, b2, s"$tmpA/history",
      Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    assert(spark.read.parquet(s"$tmpA/history").count() === b1.count())
    // the SAME digits unterminated are a torn fragment, not a commit
    val tmpB = Files.createTempDirectory("graft-legacy-torn").toString
    Scd2Stream.applyMicroBatch(spark, b1, s"$tmpB/history",
      Seq("user_id"), "ts", "event_id", batchId = Some(0L))
    val logB = new java.io.FileWriter(s"$tmpB/history.commits", false)
    try logB.write("0\n1") finally logB.close()
    Scd2Stream.applyMicroBatch(spark, b2, s"$tmpB/history",
      Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    val expect = Scd2.fromEvents(ev.filter(col("event_id") <= 700),
      Seq("user_id"), "ts", "event_id")
    assert(spark.read.parquet(s"$tmpB/history").count() === expect.count())
    // the legacy log from case A was folded into the marker and removed;
    // its ids stay committed, so replaying them is a no-op
    assert(!new java.io.File(s"$tmpA/history.commits").exists(),
      "legacy log not folded into the marker")
    val onceA = spark.read.parquet(s"$tmpA/history").collect().toSet
    Scd2Stream.applyMicroBatch(spark, b1, s"$tmpA/history",
      Seq("user_id"), "ts", "event_id", batchId = Some(0L))
    Scd2Stream.applyMicroBatch(spark, b2, s"$tmpA/history",
      Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    assert(spark.read.parquet(s"$tmpA/history").collect().toSet === onceA)
  }

  test("bare digits in a mixed-format log never fabricate a commit") {
    // upgrade-era hole (ADVICE r4): a torn new-format append ("\n12" of
    // "\n123;") becomes newline-terminated as soon as the next append's
    // leading '\n' lands — bare "12" must NOT then parse as a committed
    // batch 12 (applyMicroBatch accepts arbitrary batch ids, so this
    // would silently skip a batch that never ran)
    val ev = events().cache()
    val tmp = Files.createTempDirectory("graft-mixed").toString
    val histDir = s"$tmp/history"
    Scd2Stream.applyMicroBatch(spark, ev.filter(col("event_id") <= 300),
      histDir, Seq("user_id"), "ts", "event_id", batchId = Some(0L))
    val log = new java.io.FileWriter(histDir + ".commits", true)
    try log.write("\n12") finally log.close() // torn fragment of "\n12…;"
    Scd2Stream.applyMicroBatch(spark,
      ev.filter(col("event_id") > 300 && col("event_id") <= 700),
      histDir, Seq("user_id"), "ts", "event_id", batchId = Some(1L))
    // log is now "\n0;\n12\n1;" — "12" newline-terminated but unhonored;
    // batch 12 must really apply
    Scd2Stream.applyMicroBatch(spark, ev.filter(col("event_id") > 700),
      histDir, Seq("user_id"), "ts", "event_id", batchId = Some(12L))
    val expect = Scd2.fromEvents(ev, Seq("user_id"), "ts", "event_id")
    val got = spark.read.parquet(histDir)
    assert(got.count() === expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
  }

  test("streaming path honors LatePolicy: Error poisons, Drop excludes the late row") {
    import spark.implicits._
    val b1 = Seq((1L, 1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
                 (1L, 2L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00")))
      .toDF("user_id", "event_id", "ts")
    val b2 = Seq((1L, 3L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00")), // LATE
                 (1L, 4L, java.sql.Timestamp.valueOf("2024-01-01 13:00:00")))
      .toDF("user_id", "event_id", "ts")
    type Apply = (DataFrame, String, Long, Scd2.LatePolicy) => Unit
    // each layout's apply, and its history read back as a plain table
    val paths: Seq[(String, Apply, String => DataFrame)] = Seq(
      ("flat", (b, dir, id, late) => Scd2Stream.applyMicroBatch(spark, b, dir,
        Seq("user_id"), "ts", "event_id", batchId = Some(id), onLate = late),
        dir => spark.read.parquet(dir)),
      ("bucketed", (b, dir, id, late) => Scd2Stream.applyMicroBatchBucketed(spark,
        b, dir, Seq("user_id"), "ts", "event_id", nBuckets = 4, batchId = Some(id),
        onLate = late),
        dir => Scd2Stream.readBucketed(spark, dir)))
    def same(got: DataFrame, want: DataFrame, clue: String): Unit = {
      assert(got.count() === want.count(), clue)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, clue)
    }
    for ((name, apply, read) <- paths) {
      // default Error: the micro-batch fails loudly and commits nothing
      val tmp0 = Files.createTempDirectory("graft-late").toString
      apply(b1, s"$tmp0/hist", 0L, Scd2.LatePolicy.Error)
      val ex = intercept[Exception] {
        apply(b2, s"$tmp0/hist", 1L, Scd2.LatePolicy.Error)
      }
      assert(ex.getMessage != null || ex.getCause != null, name) // raise_error surfaced
      same(read(s"$tmp0/hist"), Scd2.fromEvents(b1, Seq("user_id"), "ts", "event_id"),
        s"$name: Error committed the poisoned batch")
      // Drop: the late row is excluded, the batch commits
      val tmp1 = Files.createTempDirectory("graft-late-drop").toString
      apply(b1, s"$tmp1/hist", 0L, Scd2.LatePolicy.Drop)
      apply(b2, s"$tmp1/hist", 1L, Scd2.LatePolicy.Drop)
      same(read(s"$tmp1/hist"), Scd2.fromEvents(
        b1.unionByName(b2.filter(col("event_id") =!= 3L)),
        Seq("user_id"), "ts", "event_id"), s"$name: Drop")
    }
  }

  test("bucketed point lookup prunes to a single bucket partition") {
    val ev = events().cache()
    val tmp = Files.createTempDirectory("graft-lookup").toString
    val histDir = s"$tmp/history"
    Scd2Stream.applyMicroBatchBucketed(spark, ev, histDir,
      Seq("user_id"), "ts", "event_id", nBuckets = 16)
    val someUser = ev.select("user_id").first().getLong(0)
    val got = Scd2Stream.lookupByKey(spark, histDir,
      Seq("user_id"), Seq(someUser), nBuckets = 16)
    val want = Scd2Stream.readBucketed(spark, histDir)
      .filter(col("user_id") === someUser)
    assert(got.count() === want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the scan must prune on the partition column — one bucket dir read
    val lookup = Scd2Stream.lookupByKey(spark, histDir,
      Seq("user_id"), Seq(someUser), nBuckets = 16)
    val scan = lookup.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("__bucket"),
      s"partition filter on __bucket expected in:\n$scan")
  }

  test("streaming start() runs the merge through a real StreamingQuery; observed metrics reach the listener") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-stream3").toString
    val mem = MemoryStream[(Long, Long, String, Double, java.sql.Timestamp)]
    val evStream = mem.toDF()
      .toDF("user_id", "event_id", "event_type", "value", "ts")
    // L1/L2 parity: per-batch metrics observed on the plan, consumed by a
    // listener (the Spark-native LogMessage/LogAttribute)
    val seenEvents = new java.util.concurrent.atomic.AtomicLong(0L)
    // progress events can re-report the last batch's metrics on idle
    // triggers — count each batchId once
    val seenBatches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics.get(Scd2Stream.ObservedMetricsName)
        if (m != null && seenBatches.add(e.progress.batchId))
          seenEvents.addAndGet(m.getAs[Long]("n_events")): Unit
      }
    }
    spark.streams.addListener(listener)
    val q = Scd2Stream.start(spark, evStream, s"$tmp/history",
      s"$tmp/ckpt", Seq("user_id"), "ts", "event_id", triggerMs = 50L)
    val rows = events().filter(col("event_id") <= 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3), r.getTimestamp(4)))
    mem.addData(rows.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    try {
      // listener delivery is async; give it a bounded moment
      val deadline = System.currentTimeMillis() + 15000
      while (seenEvents.get() < rows.length && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(seenEvents.get() === rows.length.toLong)
    } finally spark.streams.removeListener(listener)
    val hist = spark.read.parquet(s"$tmp/history")
    val expect = Scd2.fromEvents(events().filter(col("event_id") <= 500),
      Seq("user_id"), "ts", "event_id")
    assert(hist.count() === expect.count())
    assert(hist.exceptAll(expect).isEmpty)
  }
}
