package graftbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import graft.GraftSession

/** One benchmark run in one JVM:
  *
  * {{{
  * graftbench.Main --workload <cdc_bulk|cdc_trickle|faces_core> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --raw <file>
  *   [--data <sf dir>] [--faces <a,b,...>]
  * }}}
  *
  * The session comes from `GraftSession.builder` with its shipped defaults
  * on `local[<cores>]`. The run writes its raw measurements as one JSON
  * object to `--raw`; `run.py` derives the metrics and runs the checks
  * that need DuckDB.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traceOn = opts("trace") == "1"
    val work = new File(opts("work"))
    work.mkdirs()

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, traceOn)
    val rec = new Recorder
    try {
      workload match {
        case "cdc_bulk" =>
          new CdcWorkload(spark, tracer, rec, CdcShape.bulk, work, seed, seconds).run()
        case "cdc_trickle" =>
          new CdcWorkload(spark, tracer, rec, CdcShape.trickle, work, seed, seconds).run()
        case "faces_core" =>
          new FacesWorkload(spark, tracer, rec, opts("faces").split(",").toSeq,
            opts("data"), new File(work, "results"), seed, seconds).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case t: Throwable =>
        rec.attemptOp(); rec.failOp(); rec.failure(s"run: ${Recorder.describe(t)}")
    }
    tracer.close()
    val trace = if (traceOn) Some(Json.obj("spans" -> tracer.spanRecords)) else None
    val heapMb = Recorder.retainedHeapMb()
    val out = new PrintWriter(new File(opts("raw")), StandardCharsets.UTF_8)
    try out.println(rec.toJson(workload, sessionS, heapMb, trace)) finally out.close()
    spark.stop()
  }
}
