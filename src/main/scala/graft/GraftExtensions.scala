package graft

import graft.functions.{BlocklistExpressions, BloomExpressions, HilbertExpressions, HtmlExtractExpressions, IvfExpressions, NormalizeExpressions, PqExpressions, QuantizeExpressions, SetSimExpressions, ShingleExpressions, SimHashExpressions, TokenStatsExpressions, VectorExpressions, WinnowExpressions, ZOrderExpressions}
import org.apache.spark.sql.SparkSessionExtensions

/** Engine extension point, wired the public way:
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  *
  * Registers the engine's native Catalyst expressions (currently
  * `dot_product`; the natural home for future custom rules/strategies).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(VectorExpressions.dotProductDescriptor)
    ext.injectFunction(ShingleExpressions.wordShinglesDescriptor)
    ext.injectFunction(SimHashExpressions.simhash60Descriptor)
    ext.injectFunction(SetSimExpressions.sortedCommonCountDescriptor)
    ext.injectFunction(ShingleExpressions.wordNgramsDescriptor)
    ext.injectFunction(QuantizeExpressions.quantizeI8Descriptor)
    ext.injectFunction(ZOrderExpressions.zorder2Descriptor)
    ext.injectFunction(HilbertExpressions.hilbert2Descriptor)
    ext.injectFunction(IvfExpressions.ivfAssignDescriptor)
    ext.injectFunction(NormalizeExpressions.stripAccentsNfcDescriptor)
    ext.injectFunction(PqExpressions.sqDistDescriptor)
    ext.injectFunction(PqExpressions.pqCodeDescriptor)
    ext.injectFunction(PqExpressions.pqLutDescriptor)
    ext.injectFunction(PqExpressions.pqAdcDescriptor)
    ext.injectFunction(BlocklistExpressions.blocklistHitsDescriptor)
    ext.injectFunction(HtmlExtractExpressions.htmlExtractDescriptor)
    ext.injectFunction(graft.functions.UrlExpressions.urlCanonDescriptor)
    ext.injectFunction(graft.functions.AbttExpressions.abttMicroDescriptor)
    ext.injectFunction(BloomExpressions.bloomAggDescriptor)
    ext.injectFunction(BloomExpressions.mightContainDescriptor)
    ext.injectFunction(WinnowExpressions.md5LongsDescriptor)
    ext.injectFunction(WinnowExpressions.gramMd5sDescriptor)
    ext.injectFunction(WinnowExpressions.winnowFpsDescriptor)
    ext.injectFunction(WinnowExpressions.winnowSummaryDescriptor)
    ext.injectFunction(TokenStatsExpressions.entropyStatsDescriptor)
    ext.injectFunction(TokenStatsExpressions.repetitionStatsDescriptor)
    // conf-gated (spark.graft.rangeJoin.bucketWidth): rewrites naive
    // inequality-only range joins into the bucketed equi-join form
    ext.injectOptimizerRule(graft.plans.RangeJoinBucketing(_))
  }
}

object GraftSession {
  /** The one session profile: Verify, Bench, ExplainAudit, the tests and
    * the benchmark all build their sessions here, so what the oracle and
    * the specs check is the configuration that is timed. Extensions
    * registered, UTC, AQE, no UI, a fixed shuffle width, and `file:`
    * paths on the process-free [[NioLocalFileSystem]] / [[NioLocalFs]]
    * (Spark's file writes, the streaming checkpoint and every `StreamFs`
    * protocol step).
    *
    * The master defaults to `local[$SPARK_GRAFT_CPUS]`, or `local[*]`
    * when that variable is unset.
    *
    * The shuffle width is a constant [[ShufflePartitions]], not the core
    * count: a width that followed the cores made an 8-vs-32-core scaling
    * probe non-diagnostic, since the 8-core run also ran 8 partitions and
    * traded lost parallelism for lower scheduling overhead one-for-one,
    * so every ratio read about 1. With a fixed width the low-core run
    * measures parallelism. A `spark.sql.shuffle.partitions` system
    * property (`-D`, `--conf`) still wins, for scale sweeps and clusters.
    *
    * The `spark.hadoop.*` defaults apply only when this builder creates
    * the SparkContext: against a running one (spark-shell prints "Using
    * an existing Spark session; only runtime SQL configurations will take
    * effect") the context's Hadoop configuration stays as it was. A
    * filesystem the user names still wins, as a later `.config` on the
    * returned builder or as a `spark.hadoop.fs.*` system property
    * (`--conf`). */
  def builder(master: String = defaultMaster)
      : org.apache.spark.sql.SparkSession.Builder =
    org.apache.spark.sql.SparkSession.builder()
      .master(master)
      .config(LocalFsImpl, sys.props.getOrElse(LocalFsImpl,
        classOf[NioLocalFileSystem].getName))
      .config(LocalAbstractFsImpl, sys.props.getOrElse(LocalAbstractFsImpl,
        classOf[NioLocalFs].getName))
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config(ShufflePartitionsKey, sys.props.getOrElse(ShufflePartitionsKey,
        ShufflePartitions.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // r17 (guide §3.1, round-16 verdict item 4): let AQE rewrite a
      // sort-merge join to a shuffled-hash join at runtime when every
      // post-shuffle partition's map output is under the threshold —
      // skips both sort passes on mid-size equi-joins. Runtime-stat
      // gated, so it self-disables at scale when partitions outgrow the
      // bound (the OOM-safety condition §3.1 warns about); hinted SMJs
      // (tfidf's MERGE hint) are untouched by AQE replanning.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "128m")

  private def defaultMaster: String =
    sys.env.get("SPARK_GRAFT_CPUS").fold("local[*]")(n => s"local[$n]")

  private val ShufflePartitions = 32
  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"
  private val LocalFsImpl = "spark.hadoop.fs.file.impl"
  private val LocalAbstractFsImpl = "spark.hadoop.fs.AbstractFileSystem.file.impl"
}
