package graftbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `faces_core`: batch faces through `SparkEntry`, timed into the noop
  * sink by `Bench.scala`'s rule: an untimed warm-up pass first (it also
  * writes each face's result for the output check), then interleaved
  * passes whose per-pass face order comes from the seed. A failing face is
  * recorded and counted; its time is never dropped in favour of a faster
  * one. */
final class FacesWorkload(spark: SparkSession, tracer: Tracer, rec: Recorder,
                          faces: Seq[String], dataDir: String, out: File,
                          seed: Long, seconds: Double) {
  private type Face = (SparkSession, String) => DataFrame

  def run(): Unit = {
    val registry = SparkEntry.queries ++ SparkEntry.benchOnly
    val missing = faces.filterNot(registry.contains)
    missing.foreach { f => rec.attemptOp(); rec.failOp(); rec.failure(s"$f: not registered") }
    val fns: Seq[(String, Face)] = faces.filter(registry.contains).map(f => f -> registry(f))
    val index = fns.map(_._1).zipWithIndex.toMap

    val setupT0 = System.nanoTime()
    val firstPass = fns.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = execute(name) {
        fn(spark, dataDir).write.mode("overwrite").parquet(new File(out, name).getPath)
      }
      if (!ok) rec.failOp()
      name -> (System.nanoTime() - t0) / 1e9
    }
    rec.setup((System.nanoTime() - setupT0) / 1e9)
    rec.extra("first_pass_s", firstPass.toMap)
    rec.extra("oracle_sql", SparkEntry.oracleSql.filter { case (k, _) => index.contains(k) })

    // passes are interleaved across the face set, as in Bench; a traced
    // run traces every other face per pass, so each face is measured both
    // ways once every two passes
    // a new pass starts only if one more pass of the last one's length
    // still fits in the measured window
    val minPasses = if (tracer.on) 2 else 1
    val windowStart = System.nanoTime()
    var lastPassNs = 0L
    def fits = System.nanoTime() - windowStart + lastPassNs <= (seconds * 1e9).toLong
    val wall = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val perExec = mutable.ArrayBuffer.empty[(String, Boolean, Json.Obj)]
    var pass = 0
    while (pass < minPasses || fits) {
      pass += 1
      val passStart = System.nanoTime()
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(fns)
      order.foreach { case (name, fn) =>
        val traced = tracer.on && (index(name) + pass) % 2 == 0
        val gc0 = Recorder.gcMs
        val t0 = System.nanoTime()
        val ok = execute(name) {
          tracer.span("face", s"$name:$pass", "", traced) {
            fn(spark, dataDir).write.format("noop").mode("overwrite").save()
          }
        }
        val ms = (System.nanoTime() - t0) / 1e6
        if (!ok) rec.failOp()
        wall.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms / 1e3
        rec.op("face", s"$name:$pass", ms, traced)
        perExec += ((s"$name:$pass", traced, Json.obj("face" -> name, "pass" -> pass, "ms" -> ms, "ok" -> ok,
          "traced" -> traced, "gc_ms" -> (Recorder.gcMs - gc0))))
      }
      lastPassNs = System.nanoTime() - passStart
    }
    val medians = wall.map { case (k, v) => k -> Stats.median(v.toSeq) }
    if (medians.nonEmpty) rec.workRate(fns.size / medians.values.sum)
    rec.extra("passes", pass)
    rec.extra("face_wall_s", wall.map { case (k, v) => k -> v.toSeq }.toMap)
    tracer.flush()
    rec.extra("executions", perExec.toSeq.map { case (key, traced, e) =>
      if (traced) e ++ Json.obj("counters" -> tracer.counters(Seq(s"face:$key"))) else e
    })
  }

  private def execute(name: String)(body: => Unit): Boolean = {
    rec.attemptOp()
    try { body; true }
    catch { case t: Throwable => rec.failure(s"$name: ${Recorder.describe(t)}"); false }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
