package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DETERMINISTIC BPE TOKENIZER — byte-pair-encoding merge training and
  * token-id-level corpus statistics as first-class relational operators,
  * exactly replayable by the DuckDB oracle.
  *
  * Training (the classic Sennrich et al. 2016 procedure, made relational):
  * word types (lowercased `[a-z0-9]+` runs) weighted by corpus frequency
  * start as character sequences plus a `</w>` terminal; each of
  * [[bpeMerges]] FIXED iterations (no data-dependent stopping — the
  * oracle unrolls the same count) then
  *
  *   1. counts adjacent symbol pairs weighted by type frequency (a lead()
  *      window over the symbol table + one map-side-combinable aggregate),
  *   2. picks the argmax pair — ties broken (count DESC, left ASC,
  *      right ASC), so both engines pick the same pair bit-for-bit
  *      (integer counts, string compares),
  *   3. merges that pair LEFT-TO-RIGHT NON-OVERLAPPING everywhere: for
  *      runs of overlapping matches (only possible when left = right) the
  *      kept occurrences are the odd-indexed ones within each maximal run
  *      ("island") of consecutive match positions — a window-function
  *      restatement of the sequential scan that needs no recursion, so
  *      the SQL replay is plain windows + joins too.
  *
  * Scale shape (100 TB): everything keys on the word-TYPE table, whose
  * size is Heaps-law bounded (millions of rows when the corpus is
  * billions of documents) — the corpus itself is touched once to build
  * type frequencies and once to join token lengths back per document.
  * Each iteration is windows partitioned by word (thousands of tiny
  * independent partitions, never a global sort) plus one scalar argmax.
  * Iterations are `localCheckpoint`ed: the loop's lineage stays linear
  * (each state computed exactly once) instead of doubling per iteration
  * through the two consumers (pair counts + rewrite) of each state.
  *
  * The reference has no tokenizer (its flow is CDC plumbing); this is
  * part of the engine's training-data surface: `pack_sequences` /
  * `oov_rate` shapes re-expressed over REAL subword token ids.
  */
object BpeQueries {

  /** Fixed merge count — small enough for the oracle to unroll, enough to
    * learn the corpus's dominant subwords. */
  val bpeMerges = 8
  val vocabTopK = 100
  val packBudget = 256
  /** Static default shared with the oracle SQL; session-overridable via
    * `spark.graft.pack.shards` (corpus-sized in production — see
    * [[CurationQueries.packShards]]). */
  val packShards = 8

  /** (doc_id, word) occurrence rows. */
  private def occurrences(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as("word"))

  /** One BPE merge iteration over the (word, freq, pos, sym[, nxt])
    * state. `nxt` (the adjacent-pair column, lead(sym) over (word, pos))
    * is CARRIED through the state when present — each round emits it
    * from the same window chain that renumbers pos, so the next round's
    * pair-count arm is a pure scan → partial aggregate with no window
    * re-derivation (round-17, guide §2.4: the lead window ran once per
    * consuming arm per round). A state without `nxt` (the spec's raw
    * fixtures, s0 before round 1 computes it) derives it here, which is
    * byte-for-byte the pre-r17 formulation — BpeSpec pins both paths
    * against each other. */
  private[graft] def mergeStep(state: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("word").orderBy("pos")
    val withNext =
      if (state.columns.contains("nxt")) state
      else state.withColumn("nxt", lead(col("sym"), 1).over(wOrd))
    val best = withNext.filter(col("nxt").isNotNull)
      .groupBy("sym", "nxt").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("sym").asc, col("nxt").asc).limit(1)
      .select(col("sym").as("L"), col("nxt").as("R"))
    // left-to-right non-overlapping keep rule as ONE stacked window chain
    // (no self-join): a maximal run of consecutive match positions keeps
    // its 1st, 3rd, 5th… occurrence — i.e. matches at even offsets from
    // the run start; a row is consumed when its predecessor was kept
    val run = Window.partitionBy("word").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the new pos (row_number) and the carried nxt (lead of the merged
    // sym) share ONE window spec over the surviving rows — both ride the
    // (word, old-pos) order the chain above already established
    val wNew = Window.partitionBy("word").orderBy("opos")
    withNext.crossJoin(broadcast(best))
      .withColumn("m",
        (col("sym") === col("L") && col("nxt") === col("R")).cast("int"))
      .withColumn("runStart",
        (col("m") === 1 &&
          coalesce(lag(col("m"), 1).over(wOrd), lit(0)) === 0).cast("int"))
      .withColumn("startPos",
        max(when(col("runStart") === 1, col("pos"))).over(run))
      .withColumn("k",
        col("m") === 1 && pmod(col("pos") - col("startPos"), lit(2)) === 0)
      .withColumn("consumed", coalesce(lag(col("k"), 1).over(wOrd), lit(false)))
      .filter(!col("consumed"))
      .select(col("word"), col("freq"), col("pos").as("opos"),
        when(col("k"), concat(col("L"), col("R"))).otherwise(col("sym")).as("sym"))
      .select(col("word"), col("freq"),
        row_number().over(wNew).as("pos"), col("sym"),
        lead(col("sym"), 1).over(wNew).as("nxt"))
  }

  /** Shuffle width for the training iterations. The iterated state is the
    * word-TYPE table (Heaps-bounded: ~1M types even at 100 TB corpus
    * scale, ≪ corpus rows), so full-width shuffles waste far more on task
    * scheduling than they gain in parallelism — 8 checkpointed iterations
    * × ~4 stages × 32 tasks of a few hundred rows each. Raise toward
    * the cluster width only when the type table itself is large. */
  private val bpePartitions = "4"

  /** The trained symbol table: every word type fully encoded by the
    * [[bpeMerges]] learned merges — (word, freq, pos, sym, nxt). */
  private[graft] def trainedSyms(s: SparkSession, dir: String): DataFrame = {
    val t = trainingSession(s)
    val ty = occurrences(t, dir).groupBy("word").agg(count(lit(1)).as("freq"))
    val wOrd = Window.partitionBy("word").orderBy("pos")
    // s0 checkpoints WITH the carried nxt column: the corpus pass
    // (occurrences → type freq → char explode) runs exactly once —
    // before r17 both round-1 arms re-derived it from the raw scan
    var state = ty.select(col("word"), col("freq"),
        posexplode(concat(
          expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
          array(lit("</w>")))))
      .toDF("word", "freq", "pos", "sym")
      .withColumn("nxt", lead(col("sym"), 1).over(wOrd))
      .localCheckpoint(true)
    // eager checkpoint after EVERY round. MEASURED, not assumed (r17
    // in-JVM A/B at sf0.1, min-of-3 interleaved, of a checkpoint every
    // N rounds): N=1 → 9.2 s over the 4 bpe faces, N=2 → 10.9 s,
    // N=4 → 19.9 s, N=8 → 47.7 s. Each round's state has TWO consumers
    // (pair-count argmax + rewrite), so every uncheckpointed round
    // re-executes its crossJoin + 5-window rewrite once per consumer
    // and the recompute compounds per block — the job-launch latency
    // an amortized checkpoint saves never catches up
    for (_ <- 1 to bpeMerges)
      state = mergeStep(state).localCheckpoint(true)
    // the checkpointed rows, planned downstream under the caller's conf
    s.createDataFrame(state.rdd, state.schema)
  }

  /** The session the training iterations run in: a child of `s` (shared
    * context and checkpoints, a conf of its own) with the narrow
    * [[bpePartitions]] shuffle and AQE off, so the caller's conf is never
    * touched. AQE buys nothing here: every round's shuffle is already at
    * the right width over the Heaps-bounded type table, and adaptive
    * replanning costs one extra scheduled stage-job per exchange per
    * round (measured in the r17 job-count probe). */
  private[graft] def trainingSession(s: SparkSession): SparkSession = {
    val t = s.newSession()
    t.conf.set("spark.sql.shuffle.partitions", bpePartitions)
    t.conf.set("spark.sql.adaptive.enabled", "false")
    t
  }

  /** The learned subword vocabulary: top-[[vocabTopK]] tokens by corpus
    * frequency (type-freq-weighted occurrences in the encoded corpus),
    * ties by token — the `vocab_topk` shape over REAL subword units. */
  def bpeVocab(s: SparkSession, dir: String): DataFrame =
    trainedSyms(s, dir)
      .groupBy(col("sym").as("token"))
      .agg(countDistinct(col("word")).as("n_types"),
        sum(col("freq")).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(vocabTopK)
      .select("token", "n_types", "freq")

  /** Sequence packing over REAL BPE token counts — the
    * [[CurationQueries.packSequences]] layout with the whitespace proxy
    * replaced by the trained tokenizer's per-word subword counts (the
    * merge-trained symbol table broadcasts; the corpus joins it once). */
  def packSequencesBpe(s: SparkSession, dir: String): DataFrame = {
    val wl = trainedSyms(s, dir).groupBy("word")
      .agg(count(lit(1)).as("n_sym"))
    val perDoc = occurrences(s, dir)
      .join(broadcast(wl), Seq("word"))
      .groupBy("doc_id").agg(sum("n_sym").as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    Tables.documents(s, dir).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(s.conf.getOption("spark.graft.pack.shards")
          .map(_.toInt).getOrElse(packShards))).as("shard"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        floor(col("start_tok") / lit(packBudget)).as("chunk_id"),
        (col("start_tok") % lit(packBudget)).as("chunk_offset"))
      .orderBy("doc_id")
  }

  /** Token-id head length for [[bpeEncode]]'s csv output. */
  val encodeHead = 48
  /** Subword-vocabulary size for [[oovRateBpe]]. */
  val oovBpeVocab = 20

  /** (sym → token id) mapping: ids are the dense 1-based rank by corpus
    * frequency (ties by token) — the canonical id assignment a trained
    * tokenizer ships. The distinct-token table is tiny (≤ chars +
    * merges), so the global rank window is a one-partition no-op. */
  private def vocabIds(syms: DataFrame): DataFrame =
    syms.groupBy("sym").agg(sum("freq").as("vfreq"))
      .withColumn("id",
        row_number().over(Window.orderBy(col("vfreq").desc, col("sym").asc)))
      .select(col("sym"), col("id"))

  /** Per-document token stream (doc_id, widx, pos, id): every word
    * occurrence joined to its trained symbol sequence and the vocab ids —
    * word order and within-word symbol order preserved. */
  private def docTokens(s: SparkSession, dir: String): DataFrame = {
    val syms = trainedSyms(s, dir)
    val occ = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")))
      .toDF("doc_id", "widx", "word")
    occ.join(syms.select("word", "pos", "sym"), Seq("word"))
      .join(broadcast(vocabIds(syms)), Seq("sym"))
      .select("doc_id", "widx", "pos", "id")
  }

  /** ENCODE: each document as its BPE token-id sequence — n_tokens plus
    * the first [[encodeHead]] ids as csv (the bounded materialization; a
    * training exporter would write the full arrays). The id stream is
    * what an LLM data loader actually consumes — this is the
    * encode-everywhere face of the trained tokenizer. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    // round-16 (guide §2.4): ONE doc_id aggregate replaces the former TWO
    // join arms (count + head), each of which re-ran the whole docTokens
    // subtree (the explode→model-join pipeline executed twice). The
    // row_number window stays (it bounds the collected structs to
    // encodeHead per doc — collect_list skips the when()'s nulls); the
    // count rides the same aggregate, so docTokens runs exactly once.
    val toks = docTokens(s, dir)
      .withColumn("tidx", row_number().over(
        Window.partitionBy("doc_id").orderBy("widx", "pos")))
    val agg = toks
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        array_sort(collect_list(when(col("tidx") <= encodeHead,
          struct(col("tidx"), col("id"))))).as("ts"))
      .select(col("doc_id"), col("n_tokens"),
        concat_ws(",", transform(col("ts"),
          _("id").cast("string"))).as("ids_csv"))
    Tables.documents(s, dir).select("doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("ids_csv"), lit("")).as("ids_csv"))
      .orderBy("doc_id")
  }

  /** OOV rate over the SUBWORD vocabulary — [[PrepQueries.oovRate]]'s
    * shape re-expressed on real token ids: occurrences whose token ranks
    * outside the top-[[oovBpeVocab]] count as out-of-vocabulary. (With
    * single characters in the token set the fallback keeps every word
    * encodable; OOV here measures how much mass the SMALL vocab head
    * covers — the tokenizer-quality number.) */
  def oovRateBpe(s: SparkSession, dir: String): DataFrame = {
    val perDoc = docTokens(s, dir).groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("id") > oovBpeVocab, 1L).otherwise(0L)).as("n_oov"))
    Tables.documents(s, dir).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(coalesce(col("n_oov") / col("n_tokens"), lit(0.0)), 6).as("oov_rate"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_vocab" -> (bpeVocab _),
    "bpe_encode" -> (bpeEncode _),
    "oov_rate_bpe" -> (oovRateBpe _),
    "pack_sequences_bpe" -> (packSequencesBpe _))

  // ---- oracle SQL: the same training unrolled as CTEs ----------------------

  private def mergeStepSql(i: Int): String = {
    val prev = if (i == 1) "s0" else s"s${i - 1}"
    s"""n$i AS MATERIALIZED (
       |  SELECT word, freq, pos, sym,
       |         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |  FROM $prev),
       |b$i AS (
       |  SELECT sym AS l, nxt AS r FROM n$i WHERE nxt IS NOT NULL
       |  GROUP BY sym, nxt ORDER BY sum(freq) DESC, sym ASC, nxt ASC LIMIT 1),
       |f$i AS MATERIALIZED (SELECT n.*, b.l, b.r FROM n$i n CROSS JOIN b$i b),
       |m$i AS (
       |  SELECT word, pos,
       |         pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS island
       |  FROM f$i WHERE sym = l AND nxt = r),
       |k$i AS (
       |  SELECT word, pos FROM (
       |    SELECT word, pos,
       |           row_number() OVER (PARTITION BY word, island ORDER BY pos) AS kr
       |    FROM m$i) WHERE kr % 2 = 1),
       |r$i AS (
       |  SELECT f.word, f.freq, f.pos,
       |         CASE WHEN k.pos IS NOT NULL THEN f.l || f.r ELSE f.sym END AS sym,
       |         (k.pos IS NOT NULL) AS iskept
       |  FROM f$i f LEFT JOIN k$i k USING (word, pos)),
       |s$i AS MATERIALIZED (
       |  SELECT word, freq,
       |         row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
       |  FROM (SELECT *, coalesce(lag(iskept) OVER (PARTITION BY word ORDER BY pos),
       |                           false) AS consumed
       |        FROM r$i)
       |  WHERE NOT consumed)""".stripMargin
  }

  private val trainCtes =
    s"""occ AS MATERIALIZED (
       |  SELECT doc_id, u.w AS word
       |  FROM documents, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(w)),
       |ty AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM occ GROUP BY word),
       |s0 AS MATERIALIZED (
       |  SELECT word, freq, pos,
       |         CASE WHEN pos <= length(word) THEN word[pos] ELSE '</w>' END AS sym
       |  FROM (SELECT word, freq,
       |          unnest(generate_series(1, length(word) + 1)) AS pos
       |        FROM ty)),
       |${(1 to bpeMerges).map(mergeStepSql).mkString(",\n")}""".stripMargin

  /** Token-stream CTEs shared by the encode/OOV oracles: vocab ids +
    * word-position occurrences + per-doc token stream over the trained
    * symbol table. */
  private val tokCtes =
    s"""$trainCtes,
       |vid AS MATERIALIZED (
       |  SELECT sym, row_number() OVER (ORDER BY vfreq DESC, sym ASC) AS id
       |  FROM (SELECT sym, sum(freq) AS vfreq FROM s$bpeMerges GROUP BY sym)),
       |ow AS (
       |  SELECT doc_id, words, unnest(generate_series(1, length(words))) AS widx
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS words
       |        FROM documents)),
       |occp AS MATERIALIZED (SELECT doc_id, widx, words[widx] AS word FROM ow),
       |tok AS MATERIALIZED (
       |  SELECT o.doc_id, o.widx, s.pos, v.id
       |  FROM occp o JOIN s$bpeMerges s USING (word) JOIN vid v ON v.sym = s.sym)""".stripMargin

  val oracles: Map[String, String] = Map(
    "bpe_encode" ->
      s"""WITH $tokCtes,
         |t2 AS (SELECT doc_id, id,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY widx, pos) AS tidx
         |       FROM tok),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
         |        FROM t2 GROUP BY doc_id),
         |hd AS (SELECT doc_id,
         |         string_agg(CAST(id AS VARCHAR), ',' ORDER BY tidx) AS ids_csv
         |       FROM t2 WHERE tidx <= $encodeHead GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(cnt.n_tokens, 0) AS n_tokens,
         |  coalesce(hd.ids_csv, '') AS ids_csv
         |FROM documents d LEFT JOIN cnt USING (doc_id) LEFT JOIN hd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "oov_rate_bpe" ->
      s"""WITH $tokCtes,
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN id > $oovBpeVocab THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_oov
         |       FROM tok GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(pd.n_tokens, 0) AS n_tokens,
         |  coalesce(pd.n_oov, 0) AS n_oov,
         |  round(coalesce(pd.n_oov / pd.n_tokens, 0.0), 6) AS oov_rate
         |FROM documents d LEFT JOIN pd USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "bpe_vocab" ->
      s"""WITH $trainCtes
         |SELECT sym AS token,
         |  CAST(count(DISTINCT word) AS BIGINT) AS n_types,
         |  CAST(sum(freq) AS BIGINT) AS freq
         |FROM s$bpeMerges GROUP BY sym
         |ORDER BY freq DESC, token ASC LIMIT $vocabTopK""".stripMargin,
    "pack_sequences_bpe" ->
      s"""WITH $trainCtes,
         |wl AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sym
         |       FROM s$bpeMerges GROUP BY word),
         |pd AS (SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens
         |       FROM occ JOIN wl USING (word) GROUP BY doc_id),
         |d AS (SELECT d.doc_id, d.doc_id % $packShards AS shard,
         |             coalesce(pd.n_tokens, 0) AS n_tokens
         |      FROM documents d LEFT JOIN pd USING (doc_id)),
         |p AS (SELECT doc_id, shard, n_tokens,
         |             CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
         |                  - n_tokens AS BIGINT) AS start_tok
         |      FROM d)
         |SELECT doc_id, shard, n_tokens,
         |  CAST(floor(start_tok / $packBudget.0) AS BIGINT) AS chunk_id,
         |  CAST(start_tok % $packBudget AS BIGINT) AS chunk_offset
         |FROM p ORDER BY doc_id""".stripMargin)
}
