package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Drift tripwire (round-7 lesson): report loudly but keep running, so
    // a benign regeneration doesn't zero the round — queries unaffected by
    // the drifted column still produce correctness rows.
    Tables.checkSchemas(spark, sfDir)
      .foreach(d => System.err.println(s"[schema-drift] $d"))
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (driver runs all):
    // filters both the result dump and the oracle_sql.json below, so
    // tools/check_oracle.py sees a consistent subset
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val qs = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // oracle_sql.json FIRST: if the dump loop dies mid-way (OOM, driver
    // timeout, VM stall), the already-written result dirs still produce
    // correctness rows instead of the whole round zeroing on a missing
    // oracle file.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    qs.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
