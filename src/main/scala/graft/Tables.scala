package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet testdata (TESTDATA.md).
  *
  * All tables live at `<sfDir>/<name>.parquet`. The `events` table's `ts`
  * column has drifted across testdata generations — parquet
  * TIMESTAMP(NANOS) (Spark rejects by default; readable as long nanos via
  * the legacy conf) in some, plain timestamp[us] in others — so the loader
  * branches on the physical type actually read rather than hard-coding
  * one, normalizing to a session-TZ TimestampType at µs precision to match
  * DuckDB's `CAST(ts AS TIMESTAMP)` oracle semantics in every case.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else spark.read.parquet(s"$sfDir/$name.parquet")

  def raw(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** True iff `t` (or a cause within 10 hops — schema inference runs in
    * a task, so the typed error arrives wrapped in a job-failure
    * SparkException) is Spark's typed illegal-parquet-type error — the
    * condition raised when inference meets a TIMESTAMP(NANOS) column.
    * Matching the error CLASS rather than message text survives wording
    * changes across Spark releases (round-8 advice: the old
    * `contains("NANOS")` was brittle). Spark 4.1 names the condition
    * `PARQUET_TYPE_ILLEGAL`; the error-classes registry also carries the
    * `ILLEGAL_PARQUET_TYPE` spelling, so both are accepted.
    */
  private def illegalParquetType(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 10) {
      cur match {
        case st: org.apache.spark.SparkThrowable
          if Option(st.getCondition).exists(c =>
            c.startsWith("PARQUET_TYPE_ILLEGAL") ||
            c.startsWith("ILLEGAL_PARQUET_TYPE")) =>
          return true
        case _ => ()
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** events with `ts` normalized to session-TZ TimestampType (µs). */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"$sfDir/events.parquet"
    // Plain read first; only a legacy INT64 TIMESTAMP(NANOS) file (which
    // Spark rejects at schema inference) is read with nanosAsLong, on a
    // child session: its relation keeps the child's conf for the scan,
    // and the caller's session conf is never touched.
    val df =
      try spark.read.parquet(path)
      catch {
        case e: Throwable if illegalParquetType(e) =>
          val nanos = spark.newSession()
          nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          spark.baseRelationToDataFrame(nanos.read.parquet(path)
            .queryExecution.analyzed.collectFirst {
              case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
                r.relation
            }.get)
      }
    df.schema("ts").dataType match {
      case LongType => // nanos since epoch → truncate to µs
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType => // oracle compares wall-clock values
        df.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"$path: events.ts has unsupported type $other " +
            "(expected INT64 nanos, timestamp, or timestamp_ntz)")
    }
  }

  /** Expected NORMALIZED schema per table — column name → `DataType.sql`
    * string as produced by `apply` (i.e. after the events.ts loader
    * normalization). This is the drift tripwire: when the driver
    * regenerates /root/testdata with a different physical type, the next
    * run fails with ONE clear error naming the column instead of dozens
    * of opaque per-query analysis failures (the round-7 lesson:
    * events.ts INT64-nanos → timestamp[us] silently broke 50 queries).
    */
  val expectedSchemas: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "INT", "r_name" -> "STRING"),
    "nation" -> Seq("n_nationkey" -> "INT", "n_name" -> "STRING",
      "n_regionkey" -> "INT"),
    "customer" -> Seq("c_custkey" -> "BIGINT", "c_name" -> "STRING",
      "c_nationkey" -> "INT", "c_acctbal" -> "DOUBLE",
      "c_mktsegment" -> "STRING"),
    "supplier" -> Seq("s_suppkey" -> "BIGINT", "s_name" -> "STRING",
      "s_nationkey" -> "INT", "s_acctbal" -> "DOUBLE"),
    "part" -> Seq("p_partkey" -> "BIGINT", "p_name" -> "STRING",
      "p_brand" -> "STRING", "p_type" -> "STRING", "p_size" -> "INT",
      "p_retailprice" -> "DOUBLE"),
    "orders" -> Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "STRING", "o_totalprice" -> "DOUBLE",
      "o_orderdate" -> "TIMESTAMP_NTZ", "o_orderpriority" -> "STRING"),
    "lineitem" -> Seq("l_orderkey" -> "BIGINT", "l_partkey" -> "BIGINT",
      "l_suppkey" -> "BIGINT", "l_linenumber" -> "INT",
      "l_quantity" -> "DOUBLE", "l_extendedprice" -> "DOUBLE",
      "l_discount" -> "DOUBLE", "l_tax" -> "DOUBLE",
      "l_returnflag" -> "STRING", "l_linestatus" -> "STRING",
      "l_shipdate" -> "TIMESTAMP_NTZ"),
    "events" -> Seq("event_id" -> "BIGINT", "ts" -> "TIMESTAMP",
      "user_id" -> "BIGINT", "event_type" -> "STRING",
      "value" -> "DOUBLE", "props" -> "STRING"),
    "documents" -> Seq("doc_id" -> "BIGINT", "text" -> "STRING",
      "lang" -> "STRING", "source" -> "STRING", "n_chars" -> "BIGINT"),
    "embeddings" -> Seq("vec_id" -> "BIGINT",
      "embedding" -> "ARRAY<FLOAT>", "label" -> "INT"))

  /** One line per drifted/missing/extra column vs [[expectedSchemas]];
    * empty when the table matches. Timestamp flavor (TZ vs NTZ) of
    * date-like columns is allowed to float: both sides of the oracle
    * compare wall-clock values in a UTC session, so that axis of drift
    * is benign by construction.
    */
  def schemaDrift(name: String, df: DataFrame): Seq[String] = {
    def norm(t: String) = if (t == "TIMESTAMP_NTZ") "TIMESTAMP" else t
    val actual = df.schema.fields.map(f => f.name -> f.dataType.sql).toSeq
    val exp = expectedSchemas(name)
    val a = actual.toMap
    val e = exp.toMap
    val drifted = exp.collect {
      case (c, t) if a.contains(c) && norm(a(c)) != norm(t) =>
        s"$name.$c: expected $t, found ${a(c)}"
    }
    val missing = exp.collect { case (c, _) if !a.contains(c) => s"$name.$c: missing" }
    val extra = actual.collect { case (c, _) if !e.contains(c) => s"$name.$c: unexpected extra column" }
    drifted ++ missing ++ extra
  }

  /** All drift lines across every table present under `sfDir`. */
  def checkSchemas(spark: SparkSession, sfDir: String): Seq[String] =
    names.flatMap { n =>
      try schemaDrift(n, apply(spark, sfDir, n))
      catch { case e: Throwable => Seq(s"$n: unreadable (${e.getMessage})") }
    }

  /** Throwing form for startup gates: one IllegalStateException whose
    * message is the full per-column diff.
    */
  def assertSchemas(spark: SparkSession, sfDir: String): Unit = {
    val drift = checkSchemas(spark, sfDir)
    if (drift.nonEmpty) throw new IllegalStateException(
      s"testdata schema drift under $sfDir — " + drift.mkString("; "))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
