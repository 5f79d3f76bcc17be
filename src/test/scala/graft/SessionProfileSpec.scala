package graft

import java.io.File
import java.nio.file.Files

/** The specs run under the one session profile, [[GraftSession.builder]],
  * the configuration the benchmark times; and no operator changes its
  * caller's session conf: a conf an operator needs goes on a child of
  * `newSession()`. */
class SessionProfileSpec extends SparkSpec {

  test("the shared test session runs GraftSession's profile") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "32")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty, "the Spark UI is off")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold("*")(identity)
    assert(spark.sparkContext.master === s"local[$cpus]")
  }

  test("a TIMESTAMP(NANOS) events read leaves the caller's conf as it was") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val dir = Files.createTempDirectory("graft-profile-nanos")
    val res = getClass.getResource("/events_nanos.parquet")
    assert(res != null, "missing events_nanos.parquet test fixture")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      java.nio.file.Paths.get(res.toURI))
    assert(Tables.events(spark, dir.toString).count() === 50)
    assert(spark.conf.getOption(key) === before)
  }

  test("only newSession() children have their conf set in src/main") {
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }
    val files = sources(new File("src/main/scala"))
    assert(files.size > 50, "main sources not found under src/main/scala")
    val setOn = """(\w+)\.conf\.set\(""".r
    val shuffleKey = "\"spark.sql.shuffle.partitions\""
    val shuffleOwners = Set("GraftExtensions.scala", "BpeQueries.scala")
    val problems = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      def child(v: String) =
        s"""val $v = \\w+\\.newSession\\(\\)""".r.findFirstIn(text).nonEmpty
      val sets = setOn.findAllMatchIn(text).map(_.group(1)).toSeq
        .filterNot(child).map(v => s"${f.getName}: $v.conf.set(")
      val shuffle =
        if (text.contains(shuffleKey) && !shuffleOwners(f.getName))
          Seq(s"${f.getName}: $shuffleKey")
        else Nil
      sets ++ shuffle
    }
    assert(problems.isEmpty, problems.mkString(
      "session conf set outside a newSession() child:\n", "\n", ""))
  }
}
