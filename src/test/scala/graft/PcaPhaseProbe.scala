package graft

import graft.ops.SimilarityQueries
import org.apache.spark.sql.functions._

/** Dev-only phase-timing probe (test scope — the DevExplain pattern):
  * times each embedding_pca aggregate shape in isolation, including the
  * DECIMAL(38,9)-vs-BIGINT comparison that motivated the nano-unit
  * rewrite (BASELINE.md round-11 "two measured fixes" table).
  *
  *   sbt 'Test/runMain graft.PcaPhaseProbe <dir>'
  */
object PcaPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[pca-phase] $tag ${(System.nanoTime() - t0) / 1e9}%7.2f s"); a
    }
    val x = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    t("warm count")(x.count())
    val comp = x.select(posexplode(col("e")).as(Seq("j", "xj")))
    t("comp count")(comp.count())
    t("mean agg")(comp.groupBy("j")
      .agg(sum(round(col("xj"), 9).cast("decimal(38,9)")).as("sx"),
        count(lit(1)).as("n")).collect())
    t("mean agg DOUBLE")(comp.groupBy("j")
      .agg(sum(round(col("xj"), 9)).as("sx"), count(lit(1)).as("n")).collect())
    val v = Array.fill(SimilarityQueries.embeddingDim)(0.125)
    val sCol = round(call_function("dot_product", col("e"), typedLit(v.toSeq)) - lit(0.1), 9)
    t("dot only")(x.select(sCol.as("sc")).agg(sum("sc")).collect())
    t("round agg full")(x.select(sCol.as("sc"), posexplode(col("e")).as(Seq("j", "xj")))
      .groupBy("j")
      .agg(sum(round(col("sc") * col("xj"), 9).cast("decimal(38,9)")).as("swx"),
        sum(round(col("sc"), 9).cast("decimal(38,9)")).as("ss")).collect())
    t("round agg no-dec")(x.select(sCol.as("sc"), posexplode(col("e")).as(Seq("j", "xj")))
      .groupBy("j")
      .agg(sum(round(col("sc") * col("xj"), 9)).as("swx"),
        sum(round(col("sc"), 9)).as("ss")).collect())
    t("round agg again")(x.select(sCol.as("sc"), posexplode(col("e")).as(Seq("j", "xj")))
      .groupBy("j")
      .agg(sum(round(col("sc") * col("xj"), 9).cast("decimal(38,9)")).as("swx"),
        sum(round(col("sc"), 9).cast("decimal(38,9)")).as("ss")).collect())
    spark.stop()
  }
}
