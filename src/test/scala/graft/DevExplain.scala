package graft

/** Dev-only plan/timing probe (test scope — not part of the library):
  *
  *   sbt 'Test/runMain graft.DevExplain <query> [sfDir] [passes]'
  *
  * Prints the formatted physical plan and the min/median steady-state
  * wall time over `passes` in-JVM executions (first pass = codegen/JIT
  * warmup, excluded). Use while iterating on a query's plan shape.
  */
object DevExplain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries.getOrElse(name, SparkEntry.benchOnly(name))
    fn(spark, sfDir).explain("formatted")
    fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warmup
    val times = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"[devexplain] $name min=${times.head}%.3f s " +
      f"median=${times(times.length / 2)}%.3f s over $passes passes")
    spark.stop()
  }
}
