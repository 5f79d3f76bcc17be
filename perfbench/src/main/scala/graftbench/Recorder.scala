package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Collects one run's raw measurements; `run.py` turns them into metrics.
  * Every attempted operation is counted here, and a failure is recorded
  * with its cause instead of aborting the run. */
final class Recorder {
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val ops = mutable.ArrayBuffer.empty[Json.Obj]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.ArrayBuffer.empty[Json.Obj]
  private val extras = mutable.ArrayBuffer.empty[(String, Any)]
  private var attempted = 0L
  private var failed = 0L
  private var workPerS = 0.0

  def setup(s: Double): Unit = synchronized { setups += s }
  def attemptOp(): Unit = synchronized { attempted += 1 }
  def failOp(): Unit = synchronized { failed += 1 }
  def op(kind: String, id: String, ms: Double, traced: Boolean): Unit = synchronized {
    ops += Json.obj("kind" -> kind, "id" -> id, "ms" -> ms, "traced" -> traced)
  }
  def workRate(perS: Double): Unit = synchronized { workPerS = perS }
  def failure(msg: String): Unit = synchronized { failures += msg }
  def check(name: String, ok: Boolean): Unit = synchronized {
    checks += Json.obj("name" -> name, "ok" -> ok)
  }
  def extra(key: String, value: Any): Unit = synchronized { extras += key -> value }

  def toJson(workload: String, sessionS: Double, heapMb: Double,
             trace: Option[Json.Obj]): String = synchronized {
    Json.write(Json.obj(
      "workload" -> workload, "session_s" -> sessionS, "setup_s" -> setups.toSeq,
      "attempted" -> attempted, "failed" -> failed, "ops" -> ops.toSeq,
      "work_per_s" -> workPerS,
      "heap_retained_mb" -> heapMb, "failures" -> failures.toSeq,
      "checks" -> checks.toSeq, "trace" -> trace) ++ Json.Obj(extras.toSeq))
  }
}

object Recorder {
  def describe(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"

  /** Cumulative GC time of this JVM, all collectors. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Parquet files under `dir` modified at or after `sinceMs`. */
  def filesSince(dir: File, sinceMs: Double): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet") && f.lastModified >= sinceMs.toLong) Seq(f)
      else Nil
    walk(dir)
  }
}
