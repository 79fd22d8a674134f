package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Exec
import graft.model.Tables
import graft.Exact.{checksum, checksumSql, h31, h31ExprSql, h31Sql, orderedSum, orderedSumSql,
  portableHash, portableHashSql, quantLog, quantLogSql, HashP}

/** Corpus-management operators for LLM training-data pipelines — the
  * passes that turn a raw document pile into a shippable dataset: passage-
  * level dedup, deterministic train/val/test splitting, text
  * normalization, data-mixture reporting, and a JSONL interchange
  * round-trip. All run over the `documents` testdata table; every content
  * hash is the cross-engine [[graft.Exact.portableHash]] (md5-derived) so
  * results are engine-independent.
  *
  * Scale notes (100 TB) are per-operator; the module-wide rule matches
  * `graft.ext`: no UDFs, no driver-side collects, every shuffle keyed on
  * a small hash or id column, narrow ops stay narrow so they pipeline
  * into the scan.
  */
object CorpusOps {

  // ------------------------------------------------------------------
  // Passage-level exact dedup (fixed-width chunks)
  // ------------------------------------------------------------------

  /** Passage width in tokens. Non-overlapping 16-token chunks approximate
    * the fixed-gram granularity of exact-substring training-data dedup
    * (the suffix-array method's practical stand-in): boilerplate repeats
    * at passage scale long before whole documents collide.
    */
  final val passageTokens = 16

  /** Passage-level exact dedup: chunk every document into non-overlapping
    * [[passageTokens]]-token passages, keep only the globally FIRST
    * occurrence of each distinct passage (ordered by (doc_id, position) —
    * deterministic, engine-independent), and report per document how many
    * passages survived plus an order-sensitive fingerprint of the kept
    * text. This is the sub-document dedup pass (Lee et al.-style) that
    * removes repeated boilerplate *within* otherwise-unique documents —
    * exact whole-doc dedup ([[Dedup.qDocExactDedup]]) cannot see it.
    *
    * Scale: tokenize + chunk is narrow (pipelines into the scan; the
    * passage fan-out is size(text)/16 rows per doc). The first-occurrence
    * decision is ONE window over the 60-bit passage hash — an exchange on
    * `h` carrying (doc_id, pos, int64) rows, partial-aggregation-free but
    * payload-minimal (no passage strings shuffle; VERDICT r4 #2 rule).
    * The per-doc reassembly is one doc_id-keyed aggregation whose
    * collect_list is bounded by passages-per-doc = tokens/16, not corpus
    * size. At 100 TB both exchanges are hash-partitioned on high-card
    * keys — no skew pole (a mega-frequent passage lands once per
    * (doc,pos), and the window only computes min(key)).
    */
  def qDocPassageDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val pass = Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(toks), $passageTokens)," +
            s" i -> concat_ws(' ', slice(toks, i, $passageTokens)))"))
          .as(Seq("pos", "passage")))
      .select(col("doc_id"), col("pos"), h31(col("passage")).as("h"))
    // global first occurrence: min (doc_id, pos) per passage hash as a
    // STRUCT key — unbounded in both fields (the previous
    // doc_id·100000+pos packing silently mis-ordered past 100000
    // passages ≈ 1.6M tokens per doc, a real document size at corpus
    // scale; both engines order structs field-lexicographically; r12 #6)
    val keyed = pass.withColumn("k", struct(col("doc_id"), col("pos")))
      .withColumn("keep", col("k") === min(col("k")).over(Window.partitionBy(col("h"))))
    keyed.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_passages"),
        count(when(col("keep") === false, 1)).as("n_dropped"),
        // order-sensitive fingerprint of the kept passages (pos order):
        // same sequential-fold scheme as Dedup's rolling fingerprint
        expr(s"aggregate(transform(array_sort(collect_list(" +
          s"CASE WHEN keep THEN named_struct('pos', pos, 'h', h) END))," +
          s" s -> s.h), 0L, (acc, x) -> (acc * ${Dedup.rollingBase} + x) % $HashP)")
          .as("kept_fp"))
      .orderBy(col("doc_id"))
  }

  val qDocPassageDedupSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |p AS (
       |  SELECT doc_id,
       |    CAST((s - 1) / $passageTokens AS INTEGER) AS pos,
       |    ${h31Sql(s"array_to_string(toks[s : s + ${passageTokens - 1}], ' ')")} AS h
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks), $passageTokens)) AS s FROM t)
       |),
       |k AS (
       |  SELECT doc_id, pos, h,
       |    {'d': doc_id, 'p': pos} =
       |      min({'d': doc_id, 'p': pos}) OVER (PARTITION BY h) AS keep
       |  FROM p
       |)
       |SELECT doc_id,
       |  count(*) AS n_passages,
       |  count(*) FILTER (WHERE NOT keep) AS n_dropped,
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      coalesce(list(h ORDER BY pos) FILTER (WHERE keep), [])),
       |    (acc, x) -> (acc * ${Dedup.rollingBase} + x) % $HashP) AS kept_fp
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Deterministic train/val/test split
  // ------------------------------------------------------------------

  /** Percent boundaries: [0,80) train, [80,90) val, [90,100) test. */
  final val trainPct = 80
  final val valPct = 90

  /** Deterministic 3-way dataset split with per-stratum accounting — the
    * split every training pipeline needs BEFORE tokenization, made a pure
    * function of document CONTENT (md5 hash vs fixed boundaries) rather
    * than RNG: re-runs, engines, partition layouts, and incremental
    * re-ingests assign every document to the same fold, and a document
    * duplicated across shards cannot land in both train and test (the
    * leakage mode seed-based splitting invites). Same determinism
    * contract as [[TextOps.qDocSampleStratified]].
    *
    * Scale: narrow per-row hash + one tiny (lang × fold)-keyed partial
    * aggregation — the output is ≤ |langs|·3 rows regardless of corpus
    * size; no other shuffle.
    */
  def qDocSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = portableHash(concat(col("text"), lit("|split"))) % 100
    Tables.documents(spark, sfDir)
      .withColumn("fold",
        when(bucket < trainPct, "train").when(bucket < valPct, "val").otherwise("test"))
      .groupBy(col("lang"), col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"))
      .orderBy(col("lang"), col("fold"))
  }

  val qDocSplitSql: String =
    s"""SELECT lang,
       |  CASE WHEN ${portableHashSql("text || '|split'")} % 100 < $trainPct THEN 'train'
       |       WHEN ${portableHashSql("text || '|split'")} % 100 < $valPct THEN 'val'
       |       ELSE 'test' END AS fold,
       |  count(*) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |FROM documents GROUP BY lang, fold ORDER BY lang, fold""".stripMargin

  // ------------------------------------------------------------------
  // Text normalization
  // ------------------------------------------------------------------

  /** The ONE normalization definition: lowercase, strip non-alphanumerics
    * to spaces, collapse whitespace, trim — shared by [[qDocNormalize]]
    * and the fuzzy decontamination gate ([[Dedup.qDocDecontamFuzzy]]
    * normalizes BOTH sides before shingling) so the two cannot drift.
    * Backslash-free regexes for Java-regex/RE2 portability
    * ([[TextOps.qDocRedact]]).
    */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))
  def normTextSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Normalization pass: lowercase, strip non-alphanumerics to spaces,
    * collapse whitespace, trim — the canonical pre-tokenization cleanup.
    * The synthetic corpus is already clean, so every 7th document gets a
    * doc-dependent messy suffix (mixed case, punctuation, doubled spaces)
    * injected identically in both engines — the normalizer demonstrably
    * has work to do, and the output hash checks the full transform
    * cross-engine, not just the lengths. Backslash-free regexes for the
    * same Java-regex/RE2 portability reasons as [[TextOps.qDocRedact]].
    *
    * Scale: pure narrow projection — regex work pipelines into the scan,
    * no shuffle, no UDFs.
    */
  def qDocNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.documents(spark, sfDir).withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit("  NOISE-Block!! #"), col("doc_id").cast("string"),
          lit("  (Visit,Now)   ")))
        .otherwise(col("text")))
    val norm = normText(col("text"))
    corpus.select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_raw"),
      length(norm).cast("long").as("len_norm"),
      portableHash(norm).as("norm_fp"))
      .orderBy(col("doc_id"))
  }

  val qDocNormalizeSql: String = {
    val normSql = normTextSql("text")
    s"""WITH corpus AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0
       |      THEN text || '  NOISE-Block!! #' || CAST(doc_id AS VARCHAR) || '  (Visit,Now)   '
       |      ELSE text END AS text
       |  FROM documents
       |)
       |SELECT doc_id,
       |  length(text) AS len_raw,
       |  length($normSql) AS len_norm,
       |  ${portableHashSql(normSql)} AS norm_fp
       |FROM corpus ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Data-mixture report (per-source corpus accounting)
  // ------------------------------------------------------------------

  /** Data-mixture report: per (source, lang) document and token counts,
    * summed quality mass, and each cell's share of the corpus token
    * budget — the table a pretraining run's sampling weights are tuned
    * against. Quality is the ONE shared score ([[TextOps]] — the same
    * expression `q_doc_lang_quality` and `q_doc_sample_weighted` check),
    * summed in DECIMAL so the group total is order-independent and
    * engine-exact, then cast to double once at the end (the Analytics
    * decimal rule).
    *
    * Scale: one (source, lang)-keyed partial aggregation (output ≤
    * |sources|·|langs| rows); the token-share step is a window over that
    * AGGREGATED frame — a single-partition exchange of a few hundred
    * rows, never of the corpus.
    */
  def qDocSourceMix(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = Tables.documents(spark, sfDir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .withColumn("q", TextOps.qualityScoreCol.cast("decimal(18,12)"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("q")).as("q_sum"))
    agg.withColumn("token_share",
        col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(Window.partitionBy()).cast("double"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("q_sum").cast("double").as("quality_mass"), col("token_share"))
      .orderBy(col("source"), col("lang"))
  }

  val qDocSourceMixSql: String =
    s"""WITH agg AS (
       |  SELECT source, lang, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |    sum(CAST(${TextOps.qualityScoreSql} AS DECIMAL(18,12))) AS q_sum
       |  FROM documents GROUP BY source, lang
       |)
       |SELECT source, lang, n_docs, n_tokens,
       |  CAST(q_sum AS DOUBLE) AS quality_mass,
       |  CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share
       |FROM agg ORDER BY source, lang""".stripMargin

  // ------------------------------------------------------------------
  // JSONL interchange round-trip
  // ------------------------------------------------------------------

  /** JSONL round-trip: write the corpus as line-delimited JSON (the
    * interchange format LLM corpora actually ship in), read it back with
    * an EXPLICIT schema, and aggregate a per-language content checksum.
    * The checksum (sum of 60-bit content hashes) only matches the
    * parquet-side oracle if every document survived JSON encode→decode
    * byte-for-byte — this checks the source/sink fidelity, not just row
    * counts.
    *
    * Scale: JSONL is line-splittable, so the read side parallelizes like
    * any text source; the explicit schema skips the inference pass (an
    * extra full scan at 100 TB). The local temp dir is the harness
    * stand-in for a distributed filesystem path — the code path
    * (DataFrameWriter.json → DataFrameReader.schema.json) is identical.
    */
  def qDocJsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Files.createTempDirectory("graft-jsonl").toFile.getAbsolutePath
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .write.mode("overwrite").json(dir)
    spark.read
      .schema("doc_id BIGINT, lang STRING, source STRING, text STRING")
      .json(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("sum_chars"),
        checksum(portableHash(col("text"))).as("content_sum"))
      .orderBy(col("lang"))
  }

  val qDocJsonlRoundtripSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       |  ${checksumSql(portableHashSql("text"))} AS content_sum
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // RAG chunking: sliding token windows with overlap
  // ------------------------------------------------------------------

  /** Chunk width in tokens. */
  val chunkTokens = 64

  /** Chunk stride in tokens ([[chunkTokens]] − stride = 16-token overlap,
    * the usual retrieval hedge against an answer span straddling a chunk
    * boundary).
    */
  val chunkStride = 48

  /** Retrieval chunking: split every document into [[chunkTokens]]-token
    * windows advancing by [[chunkStride]] (so consecutive chunks share a
    * 16-token overlap; the final chunk is the shorter remainder). Emits
    * one row per chunk with its index, token count, and content hash —
    * the unit a RAG pipeline embeds and indexes, where [[Dedup]]'s
    * passage dedup works on disjoint chunks, retrieval wants overlap.
    *
    * Scale (100 TB): narrow end-to-end — tokenize, `sequence` of start
    * positions, `posexplode`, `slice`, hash; no shuffle until the oracle
    * ORDER BY. Fan-out is tokens/stride rows per doc (~1.3× token count
    * in output chunks × 64 tokens, the accepted storage cost of overlap).
    * Chunk text itself is NOT emitted — downstream embedding reads
    * (doc_id, chunk_idx) and re-slices, so the exchange payload stays
    * (ids, int64 hash) instead of 64-token strings.
    */
  def qDocChunk(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(1), size(col("toks")), lit(chunkStride)))
          .as(Seq("chunk_idx", "s")))
      .select(col("doc_id"), col("chunk_idx"),
        size(slice(col("toks"), col("s"), lit(chunkTokens))).cast("long")
          .as("n_chunk_tokens"),
        portableHash(concat_ws(" ", slice(col("toks"), col("s"), lit(chunkTokens))))
          .as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val qDocChunkSql: String = {
    val sliceSql = s"toks[s:s+${chunkTokens - 1}]"
    s"""SELECT doc_id, CAST((s-1)//$chunkStride AS INTEGER) AS chunk_idx,
       |  CAST(len($sliceSql) AS BIGINT) AS n_chunk_tokens,
       |  ${portableHashSql(s"array_to_string($sliceSql, ' ')")} AS chunk_hash
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |  unnest(generate_series(1, len(toks), $chunkStride)) AS t(s)
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ------------------------------------------------------------------
  // OOV rate against the induced vocabulary
  // ------------------------------------------------------------------

  /** Out-of-vocabulary rate per document against the corpus' own induced
    * top-[[TextOps.vocabTopK]] vocabulary ([[TextOps.qDocVocab]]) — the
    * coverage metric that tells a tokenizer-training pass whether its
    * vocab budget fits the corpus (and flags documents that are mostly
    * rare tokens: noise, code, or the wrong language).
    *
    * Scale (100 TB): the vocabulary is top-k by construction — k rows, so
    * the membership probe is an explicit `broadcast` left join: the
    * exploded token stream NEVER shuffles on token; the only exchange is
    * the doc_id-keyed partial-agg count-up. (A full-corpus vocabulary
    * would exceed broadcast — that variant keys both sides on token and
    * pays the shuffle, which is why the vocab table, not the corpus,
    * should carry the budget.) The vocab subquery reuses
    * [[TextOps.qDocVocab]] verbatim — one definition on both engines, so
    * the LIMIT boundary (total-ordered tf DESC, token) cannot drift.
    */
  def qDocOov(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = TextOps.qDocVocab(spark, sfDir)
      .select(col("token"), lit(true).as("in_vocab"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_ratio"))
      .orderBy(col("doc_id"))
  }

  val qDocOovSql: String =
    s"""WITH vocab AS (
       |  SELECT token FROM (${TextOps.qDocVocabSql.replace("\n", " ")})
       |),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
       |)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(sum(CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS oov_ratio
       |FROM toks LEFT JOIN vocab USING (token)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Sequence-length bucketing (training batch planning)
  // ------------------------------------------------------------------

  /** Power-of-two bucket boundaries for sequence-length bucketing. */
  val lengthBucketBounds: Seq[Int] = Seq(64, 128, 256, 512, 1024, 2048, 4096, 8192)

  /** Sequence-length bucketing: assign every document to the smallest
    * power-of-two token budget that holds it and report, per bucket, the
    * document count, real token mass, and the padding waste a
    * fixed-length batcher would pay (1 − tokens/(bucket × docs)) — the
    * planning table behind length-grouped batching, where mixing a
    * 100-token doc into a 4096 batch wastes 97% of the FLOPs.
    *
    * Scale: narrow projection + one 8-group aggregation — the cheapest
    * possible shape. The bucket is a CASE over integer compares (no
    * log2 double round-trip: floating log at an exact power-of-two
    * boundary is an off-by-one ULP away from the wrong bucket, and the
    * two engines may disagree — integer compares cannot).
    */
  def qDocLengthBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val n = size(split(col("text"), " "))
    val bucket = lengthBucketBounds.reverse
      .foldLeft(lit(lengthBucketBounds.last * 2): org.apache.spark.sql.Column) {
        (acc, b) => when(n <= b, lit(b)).otherwise(acc)
      }
    Tables.documents(spark, sfDir)
      .select(bucket.cast("long").as("bucket"), n.cast("long").as("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("sum_tokens"),
        (lit(1.0) - col("sum_tokens").cast("double") /
          (col("bucket") * col("n_docs")).cast("double")).as("padding_waste"))
      .orderBy(col("bucket"))
  }

  val qDocLengthBucketsSql: String = {
    val cases = lengthBucketBounds
      .map(b => s"WHEN len(string_split(text, ' ')) <= $b THEN $b")
      .mkString(" ")
    s"""SELECT bucket, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  1.0 - CAST(sum(n_tokens) AS DOUBLE) / CAST(bucket * count(*) AS DOUBLE) AS padding_waste
       |FROM (
       |  SELECT CAST(CASE $cases ELSE ${lengthBucketBounds.last * 2} END AS BIGINT) AS bucket,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents)
       |GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ------------------------------------------------------------------
  // Temperature-resampled language mixture
  // ------------------------------------------------------------------

  /** Temperature-resampled language mixture (the multilingual-corpus
    * balancing rule: sampling weight ∝ share^α with α < 1, so
    * low-resource languages are upsampled relative to their raw share).
    * α = 1/2 exactly — `sqrt` is IEEE-754 correctly rounded in BOTH
    * engines, where a general `pow(x, 0.7)` is implementation-defined in
    * the last ULP and would break the cross-engine hash.
    *
    * Determinism: the cross-language normalizing sum is over DOUBLES, and
    * float addition is order-sensitive — so each √share is first cast to
    * DECIMAL(18,12) (exact, order-free addition), summed, and the final
    * weight is a double division of two identically-derived values. The
    * same decimal-moments rule as [[TextOps.qualityScore]]'s consumers.
    *
    * Scale: one 5-row aggregate + an all-rows window over those 5 rows —
    * driver-trivial at any corpus size (group count = languages).
    */
  def qDocLangMixTemp(spark: SparkSession, sfDir: String): DataFrame = {
    val all = Window.partitionBy()
    val perLang = Tables.documents(spark, sfDir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .withColumn("share",
        col("n_tokens").cast("double") /
          sum(col("n_tokens")).over(all).cast("double"))
      .withColumn("w", sqrt(col("share")).cast("decimal(18,12)"))
    perLang
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("share"),
        (col("w").cast("double") / sum(col("w")).over(all).cast("double"))
          .as("temp_share"))
      .orderBy(col("lang"))
  }

  val qDocLangMixTempSql: String =
    """WITH per_lang AS (
      |  SELECT lang, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY lang
      |),
      |shared AS (
      |  SELECT lang, n_docs, n_tokens,
      |    CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS share
      |  FROM per_lang
      |),
      |weighted AS (
      |  SELECT *, CAST(sqrt(share) AS DECIMAL(18,12)) AS w FROM shared
      |)
      |SELECT lang, n_docs, n_tokens, share,
      |  CAST(w AS DOUBLE) / CAST(sum(w) OVER () AS DOUBLE) AS temp_share
      |FROM weighted
      |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // Per-source quota capping (domain-cap curation)
  // ------------------------------------------------------------------

  /** Per-source document cap. */
  val sourceCapK = 15

  /** Per-source quota capping: keep at most [[sourceCapK]] documents per
    * source, best-quality-first — the "don't let one crawl domain
    * dominate the mixture" cap every pretraining corpus applies after
    * dedup (the cap is the blunt complement to
    * [[qDocLangMixTemp]]'s smooth temperature reweighting). Quality is
    * the shared [[TextOps.qualityScoreCol]] formula (one definition, the
    * sampler/lang-quality/this cannot drift apart); ties break on
    * doc_id, so the cut is total-ordered and engine-exact.
    *
    * The per-source selection runs on the native
    * [[graft.plans.TopKPerKey]] heap operator — at a 100 TB corpus with
    * millions of docs per hot domain, the row_number-window form sorts
    * every domain's full posting before discarding all but K; the heap
    * keeps K per source per task and ships only survivors into the one
    * source-keyed exchange.
    */
  def qDocSourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        TextOps.qualityScoreCol.as("quality"))
    graft.functions.GraftOps.topKPerKey(scored,
        keys = Seq("source"), order = Seq(("quality", true), ("doc_id", false)),
        k = sourceCapK)
      .orderBy(col("source"), col("quality").desc, col("doc_id"))
  }

  val qDocSourceCapSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source, (${TextOps.qualityScoreSql}) AS quality
       |  FROM documents
       |),
       |ranked AS (
       |  SELECT doc_id, source, quality,
       |    row_number() OVER (PARTITION BY source
       |                       ORDER BY quality DESC, doc_id) AS rk
       |  FROM scored
       |)
       |SELECT doc_id, source, quality FROM ranked
       |WHERE rk <= $sourceCapK
       |ORDER BY source, quality DESC, doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Content-defined chunking: storage-dedup savings estimate
  // ------------------------------------------------------------------

  /** CDC rolling window (tokens) and boundary divisor: a chunk boundary
    * falls after token i+3 wherever the 4-token window hash ≡ 0 mod 8,
    * giving ~8-token average chunks whose CUT POINTS move with the
    * content, not the offset. */
  final val cdcWindow = 4
  final val cdcDivisor = 8

  /** Content-defined chunking dedup estimate (the rsync/LBFS/backup-dedup
    * method applied to corpus storage): chunk every document at
    * content-determined boundaries (rolling-hash ≡ 0 mod [[cdcDivisor]]),
    * hash each chunk, and report what chunk-level dedup would save.
    * Fixed-width passages ([[qDocPassageDedup]]) lose all alignment after
    * ONE inserted token; CDC boundaries are functions of local content,
    * so an edit perturbs only the chunks it touches — the near-dup
    * fixture's appended suffix leaves every earlier chunk shared with its
    * source, which is exactly the savings this measures.
    *
    * All arithmetic is integer ([[graft.Exact.h31]] token hashes, base-31
    * window polynomial kept < 2⁶³, the [[graft.ext.Dedup.rollingBase]]
    * fold per chunk), subscripts via 1-based element_at on BOTH engines.
    * Same-hash chunks are counted identical (a 60-bit-hash collision is
    * negligible and, being the same hash both sides, cannot cause a
    * cross-engine diff); per-hash token width uses min() so even a
    * collision stays deterministic.
    *
    * Scale (100 TB): chunking is a NARROW per-row transform (no explode
    * until chunk rows, already ~divisor-fold smaller than tokens); the
    * only shuffle is the chunk-hash aggregate (map-side combined,
    * int64-keyed); the summary is a 1-row reaggregate. This is the
    * estimator a storage layer runs BEFORE committing to content-
    * addressed chunk storage.
    */
  def qDocCdcSavings(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // the shared minhash/winnow near-dup fixture — ONE definition
    // (ADVICE r7: a private re-inline here desynchronized silently)
    val corpus = Dedup.nearCorpus(docs)
    val h = h31ExprSql("t")
    val P = HashP
    val b3 = 31L * 31L * 31L
    val b2 = 31L * 31L
    val chunks = corpus
      .withColumn("ths", expr(s"transform(split(text, ' '), t -> $h)"))
      .withColumn("n", size(col("ths")))
      // cut after token i+3 where the window hash divides; last position
      // excluded so no zero-length tail chunk
      .withColumn("cuts", expr(
        s"IF(n >= $cdcWindow, transform(filter(sequence(1, n - ${cdcWindow - 1}), " +
          s"i -> (element_at(ths, i) * ${b3}L + element_at(ths, i + 1) * ${b2}L + " +
          s"element_at(ths, i + 2) * 31L + element_at(ths, i + 3)) % $P % $cdcDivisor = 0 " +
          s"AND i + ${cdcWindow - 1} < n), i -> i + ${cdcWindow - 1}), " +
          "array())"))
      .withColumn("starts", expr("concat(array(1), transform(cuts, c -> c + 1))"))
      .withColumn("ends", expr("concat(cuts, array(n))"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(starts)), k -> struct(" +
          s"aggregate(slice(ths, element_at(starts, k), element_at(ends, k) - element_at(starts, k) + 1), " +
          s"0L, (acc, x) -> (acc * ${Dedup.rollingBase} + x) % $P) AS chunk_hash, " +
          "element_at(ends, k) - element_at(starts, k) + 1 AS n_tokens))")).as("ch"))
      .select(col("ch.chunk_hash").as("chunk_hash"), col("ch.n_tokens").as("n_tokens"))
    val perHash = chunks.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("cnt"), sum(col("n_tokens")).as("tok_sum"),
        min(col("n_tokens")).as("tok_one"))
    perHash.agg(
        sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("tok_sum")).as("total_tokens"),
        sum(col("tok_sum") - col("tok_one")).as("dup_tokens"))
      .select(col("n_chunks"), col("n_distinct_chunks"), col("total_tokens"),
        col("dup_tokens"),
        (col("dup_tokens").cast("double") / col("total_tokens").cast("double"))
          .as("savings_share"))
  }

  // lazy: reads Dedup.nearCorpusSql (a non-folded val in another object) —
  // same init-cycle defense as TextOps.qDocRepetitionSql
  lazy val qDocCdcSavingsSql: String = {
    val h = h31Sql("t")
    val P = HashP
    val b3 = 31L * 31L * 31L
    val b2 = 31L * 31L
    s"""WITH ${Dedup.nearCorpusSql},
       |hashed AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '), t -> $h) AS ths,
       |    len(string_split(text, ' ')) AS n
       |  FROM corpus
       |),
       |cut AS (
       |  SELECT doc_id, ths, n,
       |    CASE WHEN n >= $cdcWindow THEN
       |      list_transform(list_filter(generate_series(1, n - ${cdcWindow - 1}),
       |        i -> (ths[i] * $b3 + ths[i + 1] * $b2 + ths[i + 2] * 31 + ths[i + 3])
       |               % $P % $cdcDivisor = 0 AND i + ${cdcWindow - 1} < n),
       |        i -> i + ${cdcWindow - 1})
       |    ELSE [] END AS cuts
       |  FROM hashed
       |),
       |spans AS (
       |  SELECT doc_id, ths,
       |    list_prepend(1, list_transform(cuts, c -> c + 1)) AS starts,
       |    list_append(cuts, n) AS ends
       |  FROM cut
       |),
       |chunks AS (
       |  SELECT
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), ths[starts[k]:ends[k]]),
       |      (acc, x) -> (acc * ${Dedup.rollingBase} + x) % $P) AS chunk_hash,
       |    ends[k] - starts[k] + 1 AS n_tokens
       |  FROM spans, unnest(generate_series(1, len(starts))) AS u(k)
       |),
       |per_hash AS (
       |  SELECT chunk_hash, count(*) AS cnt,
       |    CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
       |    min(n_tokens) AS tok_one
       |  FROM chunks GROUP BY chunk_hash
       |)
       |SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
       |  count(*) AS n_distinct_chunks,
       |  CAST(sum(tok_sum) AS BIGINT) AS total_tokens,
       |  CAST(sum(tok_sum - tok_one) AS BIGINT) AS dup_tokens,
       |  CAST(sum(tok_sum - tok_one) AS DOUBLE) / CAST(sum(tok_sum) AS DOUBLE) AS savings_share
       |FROM per_hash""".stripMargin
  }

  // ------------------------------------------------------------------
  // DSIR-style importance weighting (hashed n-gram likelihood ratio)
  // ------------------------------------------------------------------

  /** Feature-space size for hashed-bigram importance weighting. Small on
    * purpose: the bucket tables are what get broadcast, and 256 buckets
    * already separates target-like from target-unlike text on this
    * corpus; production DSIR uses 10k-1M buckets — same plan, bigger
    * broadcast, still metadata-sized. */
  final val dsirBuckets = 256L

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how target-like its hashed-bigram distribution is, where the target
    * is the `lang = 'en'` slice. Features are bigrams hashed into
    * [[dsirBuckets]] buckets ([[graft.Exact.h31]] mod B — cross-engine); each bucket
    * gets an add-one-smoothed probability under the target and under the
    * full corpus, and a document scores the count-weighted sum of its
    * buckets' likelihood ratios.
    *
    * DELIBERATE DEVIATION from the paper's log form: the weight is the
    * SUM of per-bucket probability ratios, not the sum of their logs
    * (= log of product). Ranking quality is equivalent for selection
    * thresholds, and it keeps the module's libm-free discipline — ln()
    * differs between JVM and DuckDB in the last ulp, while the ratio
    * tree here is nothing but int→double conversions, divisions and
    * multiplies, each IEEE-correctly-rounded and therefore bit-identical
    * in both engines. The per-doc sum folds in ascending bucket order
    * ([[graft.Exact.orderedSum]]).
    *
    * Scale (100 TB): bigram extraction is the narrow per-row `transform`
    * (no position self-join); per-doc bucket counts are the ONE
    * corpus-sized shuffle ((doc_id, bucket) partial agg, map-side
    * combined); the target and corpus bucket tables aggregate to ≤ B
    * rows each and the totals to 1 row — all four ride explicit
    * broadcasts, so scoring never reshuffles the corpus. The fold state
    * is ≤ B (bucket, term) structs per doc, bounded regardless of
    * document length.
    */
  def qDocDsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
    val bgExpr = "transform(sequence(1, size(toks) - 1)," +
      " i -> concat_ws(' ', slice(toks, i, 2)))"
    val grams = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(bgExpr)).as("bg"))
      .select(col("doc_id"), col("lang"), (h31(col("bg")) % dsirBuckets).as("bucket"))
    val docBuckets = grams
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val targetTab = grams.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(count(lit(1)).as("t"))
    val corpusTab = grams
      .groupBy(col("bucket")).agg(count(lit(1)).as("u"))
    val totals = grams.agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("bigT"),
      count(lit(1)).as("bigU"))
    // add-one smoothing: buckets absent from the target read t = 0 via the
    // left join's null → coalesce, then +1 like every other bucket
    val ratio =
      ((coalesce(col("t"), lit(0L)) + 1L).cast("double") /
        (col("bigT") + dsirBuckets).cast("double")) /
      ((col("u") + 1L).cast("double") /
        (col("bigU") + dsirBuckets).cast("double"))
    docBuckets
      .join(broadcast(targetTab), Seq("bucket"), "left")
      .join(broadcast(corpusTab), Seq("bucket"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("bucket"), col("c"),
        (col("c").cast("double") * ratio).as("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        orderedSum("bucket", "term").as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  /** TRAIN→VAL N-GRAM COVERAGE — for each language, the share of the
    * VAL fold's distinct per-doc trigrams that appear anywhere in the
    * TRAIN fold, under the registry's deterministic hash split
    * ([[qDocSplit]]'s rule, so this audit measures the split actually
    * shipped). The generalization-gap proxy measured BEFORE any
    * training run: coverage near 1 means val perplexity will flatter
    * the model (val is mostly memorizable from train n-grams), a low
    * tail says which languages genuinely test generalization. The
    * within-split counterpart of [[graft.ext.Dedup]]'s decontamination
    * (which is about EVAL leakage removal) — same machinery, opposite
    * question.
    *
    * Exactness: trigram identity is the portable 31-bit hash; coverage
    * is one division of exact BIGINT pair counts aggregated per
    * language (never an average of per-doc doubles — that would be
    * order-sensitive).
    *
    * Scale (100 TB): grams explode once, fold tags ride along; the
    * train side collapses to its DISTINCT hash dictionary (map-side
    * combined) and the val probe is a hash-partitioned semi-join —
    * the decontamination shape, corpus never moves twice.
    */
  def qDocSplitCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bucket = portableHash(concat($"text", lit("|split"))) % 100
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", split($"text", " ").as("tk"),
        when(bucket < trainPct, "train").when(bucket < valPct, "val")
          .otherwise("test").as("fold"))
      .filter($"fold" =!= "test")
    val grams = docs
      .select($"doc_id", $"lang", $"fold",
        explode(expr(
          s"transform(sequence(1, greatest(size(tk) - 2, 0)), " +
            s"i -> ${h31ExprSql("concat_ws(' ', tk[i-1], tk[i], tk[i+1])")})"))
          .as("g"))
    val trainGrams = grams.filter($"fold" === "train")
      .select($"g").distinct()
    val valPairs = grams.filter($"fold" === "val")
      .select($"lang", $"doc_id", $"g").distinct()
    val covered = valPairs.join(trainGrams.withColumnRenamed("g", "g2"),
        $"g" === $"g2", "left")
      .groupBy($"lang")
      .agg(countDistinct($"doc_id").as("n_val_docs"),
        count(lit(1)).as("n_pairs"),
        sum(when($"g2".isNotNull, 1L).otherwise(0L)).as("n_covered"))
    covered
      .select($"lang", $"n_val_docs", $"n_pairs", $"n_covered",
        ($"n_covered".cast("double") / $"n_pairs").as("coverage"))
      .orderBy($"lang")
  }

  val qDocSplitCoverageSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS tk,
       |    CASE WHEN ${portableHashSql("text || '|split'")} % 100 < $trainPct THEN 'train'
       |         WHEN ${portableHashSql("text || '|split'")} % 100 < $valPct THEN 'val'
       |         ELSE 'test' END AS fold
       |  FROM documents
       |),
       |grams AS (
       |  SELECT doc_id, lang, fold,
       |    ${h31Sql("tk[pos] || ' ' || tk[pos + 1] || ' ' || tk[pos + 2]")} AS g
       |  FROM (SELECT doc_id, lang, fold, tk,
       |          unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS pos
       |        FROM docs WHERE fold <> 'test')
       |),
       |train_grams AS (SELECT DISTINCT g FROM grams WHERE fold = 'train'),
       |val_pairs AS (
       |  SELECT DISTINCT lang, doc_id, g FROM grams WHERE fold = 'val'
       |)
       |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_val_docs,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN t.g2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |  CAST(CAST(sum(CASE WHEN t.g2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS DOUBLE) / count(*) AS coverage
       |FROM val_pairs v
       |LEFT JOIN (SELECT g AS g2 FROM train_grams) t ON v.g = t.g2
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  val qDocDsirWeightsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents
       |),
       |grams AS (
       |  SELECT doc_id, lang,
       |    (${h31Sql("tk[pos] || ' ' || tk[pos + 1]")}) % $dsirBuckets AS bucket
       |  FROM (SELECT doc_id, lang, tk,
       |          unnest(generate_series(1, greatest(len(tk) - 1, 0))) AS pos
       |        FROM toks)
       |),
       |doc_buckets AS (
       |  SELECT doc_id, bucket, count(*) AS c FROM grams GROUP BY doc_id, bucket
       |),
       |target_tab AS (
       |  SELECT bucket, count(*) AS t FROM grams WHERE lang = 'en' GROUP BY bucket
       |),
       |corpus_tab AS (
       |  SELECT bucket, count(*) AS u FROM grams GROUP BY bucket
       |),
       |totals AS (
       |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS bigT,
       |         count(*) AS bigU
       |  FROM grams
       |),
       |scored AS (
       |  SELECT doc_id, bucket, c,
       |    CAST(c AS DOUBLE) *
       |      ((CAST(COALESCE(t, 0) + 1 AS DOUBLE) /
       |        CAST(bigT + $dsirBuckets AS DOUBLE)) /
       |       (CAST(u + 1 AS DOUBLE) /
       |        CAST(bigU + $dsirBuckets AS DOUBLE))) AS term
       |  FROM doc_buckets
       |  LEFT JOIN target_tab USING (bucket)
       |  JOIN corpus_tab USING (bucket)
       |  CROSS JOIN totals
       |)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |  ${orderedSumSql("term", "bucket")} AS dsir_weight
       |FROM scored
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Simpson diversity: effective source count per language
  // ------------------------------------------------------------------

  /** Per-language SOURCE DIVERSITY as the Simpson index — λ = the
    * probability two random docs of a language share a source,
    * computed EXACTLY as Σ n_s(n_s−1) / (N(N−1)) — and its inverse,
    * the EFFECTIVE source count ("this language really draws from ~3
    * sources, whatever the nominal list says"). The per-language
    * refinement of [[qDocSourceGini]]'s corpus-wide concentration: a
    * language can look well-sourced globally while every one of its
    * documents comes from a single scrape — the monoculture a
    * multilingual mixture policy must catch per language, not on
    * average.
    *
    * Exactness: both the numerator and denominator are exact BIGINTs
    * (pair counts, not shares — no float powers anywhere); λ and the
    * effective count are single divisions of those integers.
    * Degenerate cells stay honest: N < 2 or zero same-source pairs emit
    * NULL instead of a fabricated number.
    *
    * Scale (100 TB): one (lang, source)-keyed count (map-side
    * combined), then a lang-keyed rollup of the |langs|·|sources| grid
    * — dim-sized from the first shuffle on.
    */
  def qDocLangDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_ls"))
    cells.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("n_ls")).as("n_docs"),
        sum(col("n_ls") * (col("n_ls") - 1)).as("same_pairs"))
      .select(col("lang"), col("n_docs"), col("n_sources"), col("same_pairs"),
        when(col("n_docs") >= 2,
          col("same_pairs").cast("double") /
            (col("n_docs") * (col("n_docs") - 1)).cast("double"))
          .as("simpson_lambda"),
        when(col("n_docs") >= 2 && col("same_pairs") > 0,
          (col("n_docs") * (col("n_docs") - 1)).cast("double") /
            col("same_pairs").cast("double"))
          .as("effective_sources"))
      .orderBy(col("lang"))
  }

  val qDocLangDiversitySql: String =
    """WITH cells AS (
      |  SELECT lang, source, count(*) AS n_ls
      |  FROM documents GROUP BY lang, source
      |),
      |rolled AS (
      |  SELECT lang, count(*) AS n_sources,
      |    CAST(sum(n_ls) AS BIGINT) AS n_docs,
      |    CAST(sum(n_ls * (n_ls - 1)) AS BIGINT) AS same_pairs
      |  FROM cells GROUP BY lang
      |)
      |SELECT lang, n_docs, n_sources, same_pairs,
      |  CASE WHEN n_docs >= 2
      |    THEN CAST(same_pairs AS DOUBLE) / CAST(n_docs * (n_docs - 1) AS DOUBLE)
      |    ELSE NULL END AS simpson_lambda,
      |  CASE WHEN n_docs >= 2 AND same_pairs > 0
      |    THEN CAST(n_docs * (n_docs - 1) AS DOUBLE) / CAST(same_pairs AS DOUBLE)
      |    ELSE NULL END AS effective_sources
      |FROM rolled
      |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // Mixture waterfilling: allocate a token budget under source caps
  // ------------------------------------------------------------------

  /** Budget as an exact fraction of total corpus tokens (numerator /
    * denominator). Literal RHS `final` per the init-cycle rule.
    */
  final val wfBudgetNum = 1L
  final val wfBudgetDen = 2L

  /** Token-budget WATERFILLING under per-source capacities — the
    * allocator that turns mixture POLICY into an executable plan:
    * [[qDocSourceMix]] reports what each source has, [[qDocSourceCap]]
    * clips the over-represented, this solves the full problem ("spend
    * B = half the corpus as equally as possible across sources; a
    * source smaller than its fair share contributes everything, the
    * slack re-spreads over the rest"). Waterfilling is the max-min-fair
    * allocation — the same algorithm as network bandwidth sharing.
    *
    * Exact integer mechanics: sources sort ascending by capacity;
    * source i is SATURATED iff Pᵢ + cᵢ·(m−i) ≤ B (prefix Pᵢ and the
    * remaining sources at level cᵢ already fit) — the saturated set is
    * a prefix of the sort; the residual budget spreads as
    * base = R div (m−j) with the first R mod (m−j) unsaturated sources
    * (capacity order) taking one extra token. Every quantity is an
    * exact BIGINT; conservation Σ allocated = B holds EXACTLY (asserted
    * in spec), which float waterfilling cannot promise.
    *
    * Scale (100 TB): one corpus-sized token count (source-keyed,
    * map-side combined); the solve runs entirely on the |sources|-grain
    * frame — windows and broadcast totals over dim-sized rows.
    */
  /** Budget multiple for [[qDocEpochValue]] (total budget = 2× the
    * corpus) and the epoch cap that keeps the power-of-two decay terms
    * exactly representable. Literal RHS `final` per the init-cycle
    * rule. */
  final val evBudgetMult = 2L
  final val evEpochCap = 50L

  /** EPOCHS UNDER DATA CONSTRAINT — the planning table for the question
    * waterfilling stops short of: when the token budget EXCEEDS a
    * source's unique data, how much is each additional pass worth?
    * (The data-constrained scaling regime — public result: repeated
    * epochs have rapidly diminishing returns, roughly exponential decay
    * in epoch count.) The budget (2× the corpus) splits EQUALLY across
    * sources, so small sources run many epochs and large ones less than
    * one — per source: full epochs, the partial-epoch fraction
    * (exact millionths), EFFECTIVE tokens under a half-per-epoch decay
    * (epoch k is worth 2^{1−k} of its tokens — the engine's
    * exact-arithmetic stand-in for the fitted exponential), the
    * marginal value of the last started epoch, and a `diminished` flag
    * once a source is past 3 passes.
    *
    * Cross-engine exactness: every count is BIGINT; the decay uses ONLY
    * powers of two capped at [[evEpochCap]] — exactly representable
    * doubles, so `2 − 2^{1−R}` and the final products round identically
    * in both engines (IEEE correctly-rounded ×/−; no transcendentals).
    *
    * Scale (100 TB): one source-keyed map-side-combinable token count;
    * everything after runs on the |sources|-grain frame with a 1-row
    * broadcast total.
    */
  def qDocEpochValue(spark: SparkSession, sfDir: String): DataFrame = {
    val caps = Tables.documents(spark, sfDir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(col("source"))
      .agg(sum(col("t")).as("unique_tokens"), count(lit(1)).as("n_docs"))
    val tot = caps.agg(count(lit(1)).as("m"), sum(col("unique_tokens")).as("total"))
      .select(col("m"), expr(s"(total * $evBudgetMult) div m").as("alloc"))
    caps.crossJoin(broadcast(tot))
      .withColumn("epochs_full", expr("alloc div unique_tokens"))
      .withColumn("frac_millionths",
        expr("(alloc % unique_tokens) * 1000000L div unique_tokens"))
      .withColumn("r", least(col("epochs_full"), lit(evEpochCap)).cast("int"))
      .withColumn("effective_tokens",
        when(col("epochs_full") === 0L,
          (col("alloc") % col("unique_tokens")).cast("double"))
          .otherwise(col("unique_tokens").cast("double") *
            (lit(2.0) - pow(lit(2.0), lit(1) - col("r"))) +
            (col("alloc") % col("unique_tokens")).cast("double") *
              pow(lit(2.0), -col("r"))))
      .withColumn("marginal_value_last",
        pow(lit(2.0), -greatest(
          least(when(col("alloc") % col("unique_tokens") === 0L,
            col("epochs_full") - 1L).otherwise(col("epochs_full")),
            lit(evEpochCap)), lit(0L)).cast("int")))
      .select(col("source"), col("n_docs"), col("unique_tokens"),
        col("alloc").as("alloc_tokens"), col("epochs_full"),
        col("frac_millionths"), col("effective_tokens"),
        col("marginal_value_last"),
        (col("epochs_full") >= 3L).as("diminished"))
      .orderBy(col("source"))
  }

  val qDocEpochValueSql: String =
    s"""WITH caps AS (
       |  SELECT source,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS unique_tokens,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY source
       |),
       |tot AS (
       |  SELECT count(*) AS m,
       |    CAST((sum(unique_tokens) * $evBudgetMult) // count(*) AS BIGINT) AS alloc
       |  FROM caps
       |),
       |base AS (
       |  SELECT source, n_docs, unique_tokens, alloc,
       |    alloc // unique_tokens AS epochs_full,
       |    (alloc % unique_tokens) * 1000000 // unique_tokens AS frac_millionths,
       |    CAST(least(alloc // unique_tokens, $evEpochCap) AS INTEGER) AS r
       |  FROM caps CROSS JOIN tot
       |)
       |SELECT source, n_docs, unique_tokens, alloc AS alloc_tokens,
       |  epochs_full, CAST(frac_millionths AS BIGINT) AS frac_millionths,
       |  CASE WHEN epochs_full = 0
       |       THEN CAST(alloc % unique_tokens AS DOUBLE)
       |       ELSE CAST(unique_tokens AS DOUBLE) * (2.0 - power(2.0, 1 - r)) +
       |         CAST(alloc % unique_tokens AS DOUBLE) * power(2.0, -r)
       |  END AS effective_tokens,
       |  power(2.0, -greatest(least(
       |    CASE WHEN alloc % unique_tokens = 0 THEN epochs_full - 1
       |         ELSE epochs_full END, $evEpochCap), 0)) AS marginal_value_last,
       |  epochs_full >= 3 AS diminished
       |FROM base
       |ORDER BY source""".stripMargin

  def qDocMixWaterfill(spark: SparkSession, sfDir: String): DataFrame = {
    val caps = Tables.documents(spark, sfDir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("cap_tokens"))
    val w = Window.orderBy(col("cap_tokens").asc, col("source").asc)
    val ranked = caps
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("prefix",
        sum(col("cap_tokens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val tot = ranked.agg(count(lit(1)).as("m"), sum(col("cap_tokens")).as("total"))
      .select(col("m"), col("total"),
        expr(s"(total * $wfBudgetNum) div $wfBudgetDen").as("b"))
    val flagged = ranked.crossJoin(broadcast(tot))
      .withColumn("saturated",
        col("prefix") + col("cap_tokens") * (col("m") - col("rnk")) <= col("b"))
    val sat = flagged.agg(
      sum(when(col("saturated"), 1L).otherwise(0L)).as("j"),
      sum(when(col("saturated"), col("cap_tokens")).otherwise(0L)).as("p_j"))
    flagged.crossJoin(broadcast(sat))
      .withColumn("r_budget", col("b") - col("p_j"))
      .withColumn("n_unsat", col("m") - col("j"))
      .withColumn("allocated",
        when(col("saturated"), col("cap_tokens"))
          .when(col("n_unsat") === 0, col("cap_tokens"))
          .otherwise(expr("r_budget div n_unsat") +
            when(col("rnk") - col("j") <= col("r_budget") % col("n_unsat"), 1L)
              .otherwise(0L)))
      .select(col("source"), col("cap_tokens"), col("rnk"), col("saturated"),
        col("allocated"),
        (col("allocated").cast("double") / col("cap_tokens").cast("double"))
          .as("utilization"),
        col("b").as("budget_tokens"))
      .orderBy(col("rnk"))
  }

  val qDocMixWaterfillSql: String =
    s"""WITH caps AS (
       |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap_tokens
       |  FROM documents GROUP BY source
       |),
       |ranked AS (
       |  SELECT source, cap_tokens,
       |    CAST(row_number() OVER (ORDER BY cap_tokens ASC, source ASC) AS BIGINT) AS rnk,
       |    CAST(sum(cap_tokens) OVER (ORDER BY cap_tokens ASC, source ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix
       |  FROM caps
       |),
       |tot AS (
       |  SELECT count(*) AS m, CAST(sum(cap_tokens) AS BIGINT) AS total,
       |    CAST((sum(cap_tokens) * $wfBudgetNum) // $wfBudgetDen AS BIGINT) AS b
       |  FROM ranked
       |),
       |flagged AS (
       |  SELECT ranked.*, m, b,
       |    prefix + cap_tokens * (m - rnk) <= b AS saturated
       |  FROM ranked CROSS JOIN tot
       |),
       |sat AS (
       |  SELECT CAST(sum(CASE WHEN saturated THEN 1 ELSE 0 END) AS BIGINT) AS j,
       |    CAST(sum(CASE WHEN saturated THEN cap_tokens ELSE 0 END) AS BIGINT) AS p_j
       |  FROM flagged
       |)
       |SELECT source, cap_tokens, rnk, saturated,
       |  CAST(CASE WHEN saturated THEN cap_tokens
       |       WHEN m - j = 0 THEN cap_tokens
       |       ELSE (b - p_j) // (m - j) +
       |         (CASE WHEN rnk - j <= (b - p_j) % (m - j) THEN 1 ELSE 0 END)
       |  END AS BIGINT) AS allocated,
       |  CAST(CASE WHEN saturated THEN cap_tokens
       |       WHEN m - j = 0 THEN cap_tokens
       |       ELSE (b - p_j) // (m - j) +
       |         (CASE WHEN rnk - j <= (b - p_j) % (m - j) THEN 1 ELSE 0 END)
       |  END AS DOUBLE) / CAST(cap_tokens AS DOUBLE) AS utilization,
       |  b AS budget_tokens
       |FROM flagged CROSS JOIN sat
       |ORDER BY rnk""".stripMargin

  // ------------------------------------------------------------------
  // Charset profile: code vs prose vs tables, per source
  // ------------------------------------------------------------------

  /** Per-source character-class profile: exact counts of digits,
    * uppercase letters, whitespace, and non-alphanumeric symbols, with
    * their shares of total characters — the cheap modality signal that
    * separates prose (low symbol/digit share) from code, tables and
    * markup (high) BEFORE any tokenizer runs, feeding the same mixture
    * decisions as [[qDocSourceMix]]. A source whose symbol share jumps
    * between ingests is the classic "scraper started catching nav
    * bars" regression.
    *
    * Exactness: every class count is `length(text) − length(strip)`
    * over an identical regex class in both engines (ASCII classes only
    * — no locale-dependent `\\w`/`\\s` metaclasses, whose Unicode
    * behavior differs between RE2 and Java regex); sums are exact
    * BIGINTs and each share is one double division.
    *
    * Scale (100 TB): the class counts are NARROW per-row projections
    * (codegen'd regex over the scan, no UDF) feeding one source-keyed
    * partial aggregate — one pass, |sources| output rows.
    */
  def qSrcCharsetProfile(spark: SparkSession, sfDir: String): DataFrame = {
    def classCount(cls: String): Column =
      (length(col("text")) - length(regexp_replace(col("text"), cls, ""))).cast("long")
    val counted = Tables.documents(spark, sfDir).select(col("source"),
      length(col("text")).cast("long").as("n_chars"),
      classCount("[0-9]").as("n_digit"),
      classCount("[A-Z]").as("n_upper"),
      classCount("[ ]").as("n_space"),
      classCount("[^a-zA-Z0-9 ]").as("n_symbol"))
    counted.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_digit")).as("n_digit"), sum(col("n_upper")).as("n_upper"),
        sum(col("n_space")).as("n_space"), sum(col("n_symbol")).as("n_symbol"))
      .select(col("source"), col("n_docs"), col("n_chars"),
        col("n_digit"), col("n_upper"), col("n_space"), col("n_symbol"),
        (col("n_digit").cast("double") / col("n_chars").cast("double"))
          .as("digit_share"),
        (col("n_symbol").cast("double") / col("n_chars").cast("double"))
          .as("symbol_share"))
      .orderBy(col("source"))
  }

  val qSrcCharsetProfileSql: String = {
    def cc(cls: String): String =
      s"len(text) - len(regexp_replace(text, '$cls', '', 'g'))"
    s"""WITH counted AS (
       |  SELECT source, len(text) AS n_chars,
       |    ${cc("[0-9]")} AS n_digit,
       |    ${cc("[A-Z]")} AS n_upper,
       |    ${cc("[ ]")} AS n_space,
       |    ${cc("[^a-zA-Z0-9 ]")} AS n_symbol
       |  FROM documents
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(n_digit) AS BIGINT) AS n_digit,
       |  CAST(sum(n_upper) AS BIGINT) AS n_upper,
       |  CAST(sum(n_space) AS BIGINT) AS n_space,
       |  CAST(sum(n_symbol) AS BIGINT) AS n_symbol,
       |  CAST(sum(n_digit) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE) AS digit_share,
       |  CAST(sum(n_symbol) AS DOUBLE) / CAST(sum(n_chars) AS DOUBLE) AS symbol_share
       |FROM counted
       |GROUP BY source
       |ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // Split-balance audit: is the val/test covariate mix representative?
  // ------------------------------------------------------------------

  /** Covariate-balance audit of the [[qDocSplit]] train/val/test folds:
    * per SOURCE, the fold document counts plus the STANDARDIZED MEAN
    * DIFFERENCE of document length (n_chars) between train and each
    * holdout fold — SMD = (μ₁−μ₂)/√((σ₁²+σ₂²)/2), the covariate-shift
    * measure used in observational-study balance checks, with the
    * conventional |SMD| < 0.1 "balanced" gate. A hash split is unbiased
    * IN EXPECTATION; this measures what this corpus actually drew, per
    * stratum — the check that catches "the val set happens to hold the
    * long documents of source X" before a perplexity eval silently
    * drifts.
    *
    * Exactness: per-(source, fold) moments (n, Σx, Σx²) are exact
    * BIGINTs from ONE conditional aggregate; μ, σ² and SMD are a fixed
    * double tree over them (one sqrt) — bit-equal cross-engine. The
    * balanced verdict compares the identical doubles. Folds with no
    * rows in a stratum yield NULL SMD (and a false verdict) rather than
    * a divide-by-zero. Int64 bound: n·Σx² ≤ n²·maxlen² — safe past 10⁶
    * docs per stratum at 10⁵-char docs; quantize lengths beyond.
    *
    * Scale (100 TB): one source-keyed conditional-count aggregate over
    * one corpus scan (9 sums per group, map-side combined), output
    * |sources|-bounded. No windows, no second pass.
    */
  def qDocSplitBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = portableHash(concat(col("text"), lit("|split"))) % 100
    val tagged = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars"),
        when(bucket < trainPct, "train").when(bucket < valPct, "val")
          .otherwise("test").as("fold"))
    def m(fold: String, e: Column): Column =
      sum(when(col("fold") === fold, e).otherwise(0L))
    val grid = tagged.groupBy(col("source")).agg(
      m("train", lit(1L)).as("n_tr"), m("train", col("n_chars")).as("s_tr"),
      m("train", col("n_chars") * col("n_chars")).as("ss_tr"),
      m("val", lit(1L)).as("n_va"), m("val", col("n_chars")).as("s_va"),
      m("val", col("n_chars") * col("n_chars")).as("ss_va"),
      m("test", lit(1L)).as("n_te"), m("test", col("n_chars")).as("s_te"),
      m("test", col("n_chars") * col("n_chars")).as("ss_te"))
    def mean(n: Column, s: Column): Column = s.cast("double") / n.cast("double")
    def vr(n: Column, s: Column, ss: Column): Column =
      (n * ss - s * s).cast("double") / (n * n).cast("double")
    def smd(n1: Column, s1: Column, ss1: Column,
        n2: Column, s2: Column, ss2: Column): Column =
      when(n1 > 0 && n2 > 0 && (vr(n1, s1, ss1) + vr(n2, s2, ss2)) > 0,
        (mean(n1, s1) - mean(n2, s2)) /
          sqrt((vr(n1, s1, ss1) + vr(n2, s2, ss2)) / lit(2.0)))
    val smdVal = smd(col("n_tr"), col("s_tr"), col("ss_tr"),
      col("n_va"), col("s_va"), col("ss_va"))
    val smdTest = smd(col("n_tr"), col("s_tr"), col("ss_tr"),
      col("n_te"), col("s_te"), col("ss_te"))
    grid.select(col("source"), col("n_tr"), col("n_va"), col("n_te"),
        mean(col("n_tr"), col("s_tr")).as("mean_chars_train"),
        smdVal.as("smd_val"), smdTest.as("smd_test"),
        (smdVal.isNotNull && smdTest.isNotNull &&
          abs(smdVal) < 0.1 && abs(smdTest) < 0.1).as("balanced"))
      .orderBy(col("source"))
  }

  val qDocSplitBalanceSql: String = {
    def m(fold: String, e: String): String =
      s"CAST(sum(CASE WHEN fold = '$fold' THEN $e ELSE 0 END) AS BIGINT)"
    def mean(n: String, s: String): String = s"(CAST($s AS DOUBLE) / CAST($n AS DOUBLE))"
    def vr(n: String, s: String, ss: String): String =
      s"(CAST($n * $ss - $s * $s AS DOUBLE) / CAST($n * $n AS DOUBLE))"
    def smd(f: String): String =
      s"""CASE WHEN n_tr > 0 AND n_$f > 0 AND
         |    (${vr("n_tr", "s_tr", "ss_tr")} + ${vr(s"n_$f", s"s_$f", s"ss_$f")}) > 0 THEN
         |    (${mean("n_tr", "s_tr")} - ${mean(s"n_$f", s"s_$f")}) /
         |    sqrt((${vr("n_tr", "s_tr", "ss_tr")} + ${vr(s"n_$f", s"s_$f", s"ss_$f")}) / CAST(2.0 AS DOUBLE))
         |  ELSE NULL END""".stripMargin
    s"""WITH tagged AS (
       |  SELECT source, n_chars,
       |    CASE WHEN ${portableHashSql("text || '|split'")} % 100 < $trainPct THEN 'train'
       |         WHEN ${portableHashSql("text || '|split'")} % 100 < $valPct THEN 'val'
       |         ELSE 'test' END AS fold
       |  FROM documents
       |),
       |grid AS (
       |  SELECT source,
       |    ${m("train", "1")} AS n_tr, ${m("train", "n_chars")} AS s_tr,
       |    ${m("train", "n_chars * n_chars")} AS ss_tr,
       |    ${m("val", "1")} AS n_va, ${m("val", "n_chars")} AS s_va,
       |    ${m("val", "n_chars * n_chars")} AS ss_va,
       |    ${m("test", "1")} AS n_te, ${m("test", "n_chars")} AS s_te,
       |    ${m("test", "n_chars * n_chars")} AS ss_te
       |  FROM tagged GROUP BY source
       |)
       |SELECT source, n_tr, n_va, n_te,
       |  ${mean("n_tr", "s_tr")} AS mean_chars_train,
       |  ${smd("va")} AS smd_val,
       |  ${smd("te")} AS smd_test,
       |  (${smd("va")} IS NOT NULL AND ${smd("te")} IS NOT NULL AND
       |   abs(${smd("va")}) < 0.1 AND abs(${smd("te")}) < 0.1) AS balanced
       |FROM grid
       |ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // Source-concentration audit: Lorenz curve + Gini coefficient
  // ------------------------------------------------------------------

  /** Source-concentration audit of the corpus byte mix: the Lorenz
    * curve (sources ranked by contributed characters, ascending, with
    * cumulative share) plus the exact Gini coefficient — the standard
    * inequality readout. [[qDocSourceMix]] reports WHAT each source
    * contributes; this op reports HOW CONCENTRATED the mix is as one
    * number a mixture policy can threshold ("no training run where one
    * source family exceeds Gini 0.6"), the same way [[qDocSourceCap]]
    * enforces per-source ceilings.
    *
    * Gini from the rank form: with sources sorted ascending by bytes
    * y₁ ≤ … ≤ yₙ, G = (2·Σ i·yᵢ − (n+1)·Σ yᵢ) / (n·Σ yᵢ). Both sums
    * accumulate as exact BIGINTs; the single double division happens
    * once on identical integers in each engine, so the emitted doubles
    * are bit-equal. Ties in y sort by source name — total order,
    * engine-independent ranks.
    *
    * Scale (100 TB): ONE corpus-sized pass (the source-keyed byte sum,
    * map-side combined); everything after runs on the |sources|-grain
    * frame — the ranking window and cumulative sums are dim-sized by
    * construction (source taxonomies are thousands at most), and the
    * Gini totals ride a broadcast cross join, not a second pass.
    */
  def qDocSourceGini(spark: SparkSession, sfDir: String): DataFrame = {
    val bySource = Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(sum(col("n_chars")).as("bytes"))
    val w = Window.orderBy(col("bytes").asc, col("source").asc)
    val ranked = bySource
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_bytes",
        sum(col("bytes")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val totals = ranked.agg(
      count(lit(1)).as("n_src"),
      sum(col("bytes")).as("s0"),
      sum(col("rnk") * col("bytes")).as("s1"))
    ranked.crossJoin(broadcast(totals))
      .select(col("source"), col("bytes"), col("rnk"), col("cum_bytes"),
        (col("cum_bytes").cast("double") / col("s0").cast("double"))
          .as("cum_share"),
        ((lit(2L) * col("s1") - (col("n_src") + 1L) * col("s0")).cast("double") /
          (col("n_src") * col("s0")).cast("double")).as("gini"))
      .orderBy(col("rnk"))
  }

  // ------------------------------------------------------------------
  // Composite quality-gate calibration: one gate, per-signal attribution
  // ------------------------------------------------------------------

  /** Gate thresholds — each binds on exactly one signal family (the spec
    * flips them one at a time). Literal RHS `final` per the init-cycle
    * rule; values calibrated on the synthetic corpus so CLEAN documents
    * pass every arm at all harness SFs while each injected defect family
    * fails its own arm.
    */
  final val gateMaxRepRatio = 0.5
  final val gateMinBigramP = 0.015
  final val gateMaxXentMicroNat = 6000000L
  final val gateMinTokens = 25L
  final val gateMinQuality = 0.25

  /** Repetition-arm support floor: a max-shingle share over fewer than
    * this many shingles is sample noise, not boilerplate — a ≤3-token
    * doc has ONE shingle and would read rep_ratio = 1.0; such docs are
    * the token floor's business, not the repetition arm's (r12
    * self-review: tiny docs must not mis-attribute to corpus-model
    * arms). */
  final val gateMinShingles = 10L

  /** COMPOSITE QUALITY GATE — the calibrated ensemble the r10/r11 punch
    * list asked for: the four existing per-doc quality signals
    * (repetition ratio, self-trained bigram-LM fluency, unigram
    * cross-entropy, and the shared lexical quality score) evaluated
    * together as ONE funnel with PER-SIGNAL drop attribution — every
    * document carries each signal's value, each arm's boolean, and the
    * first-failing stage as `drop_reason` (the E35 funnel shape), so a
    * curation run can see not just WHAT dropped but WHY, per signal.
    *
    * Signals (all existing kernels, not re-derived):
    *   - `rep_ratio` — max-3-shingle share ([[TextOps.qDocRepetition]]);
    *   - `avg_bigram_p` — mean corpus-bigram probability, ordered-fold
    *     exact ([[TextOps.qDocBigramLm]]);
    *   - `xent_micronat` — per-doc unigram cross-entropy in integer
    *     micro-nats/token ([[graft.Exact.quantLog]], the curriculum
    *     estimator, engine-free by construction);
    *   - `quality_score` — the ONE shared lexical score
    *     ([[TextOps.qualityScoreCol]]) plus the token floor.
    *
    * The corpus injects three defect families in the negative id space,
    * each engineered to trip its own arm (so the calibration is
    * demonstrably per-signal, not one catch-all): looping boilerplate
    * (repetition — extreme repetition also degrades the lexical score,
    * but attribution funnels to its first stage); per-doc-unique-
    * vocabulary docs (cross-entropy only: distinct ratio is perfect and
    * every self-bigram has p = 1); and 10-token truncations (token
    * floor only: common words, fluent bigrams, no repetition). The
    * bigram arm has NO registry injection by mathematical necessity,
    * not omission: the synthetic corpus is a 31-word i.i.d. vocabulary
    * with no rare tokens, so every common-word adjacency occurs at the
    * chance rate (≈ 1/31 — exactly the clean corpus's own mean
    * continuation rate; token permutations are distribution-invariant)
    * while any NOVEL leading token saturates its continuation at
    * p = 1 — a document that fails ONLY the bigram arm cannot be
    * composed from this data. The arm is instead proven on a
    * STRUCTURED controlled corpus in CorpusOpsSpec (deterministic word
    * chains, one doc re-pairing them), where flipping it flips exactly
    * its attribution column — as for every other arm.
    *
    * Scale (100 TB): one persisted tokenized corpus scan feeds all four
    * signal branches; each signal keeps its own op's plan shape (doc-
    * keyed partial-agg shuffles, vocabulary-bounded model joins, 1-row
    * broadcast totals); the final assembly is three doc-keyed joins.
    * Adding a signal or re-cutting a threshold touches one arm.
    */
  def qDocQualityGate(spark: SparkSession, sfDir: String): DataFrame =
    qualityGateFrom(spark, gateFixtureCorpus(spark, sfDir))

  /** The gate's three-defect-family plant corpus — factored so the gate
    * (E312) and its calibration audit (E337) inject the IDENTICAL
    * defects: id-mod-40 slices re-landed in negative id space as
    * repetition spam (m=1), token-gibberish (m=3, every token made OOV),
    * and 10-token truncations (m=4). */
  private[ext] def gateFixtureCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def inj(m: Int, textCol: Column): DataFrame =
      base.filter(col("doc_id") % 40 === m)
        .select((-col("doc_id") - 1).as("doc_id"), textCol.as("text"))
    base
      .unionAll(inj(1, concat(expr("repeat('spam ', 60)"), lit("tail"),
        col("doc_id").cast("string"))))
      .unionAll(inj(3, expr("concat_ws(' ', transform(split(text, ' '), " +
        "t -> concat(t, 'z', CAST(doc_id AS STRING))))")))
      .unionAll(inj(4, expr("concat_ws(' ', slice(split(text, ' '), 1, 10))")))
  }

  /** [[gateFixtureCorpus]]'s oracle mirror: the `corpus(doc_id, text)`
    * CTE body. */
  private[ext] val gateFixtureSqlCte: String =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT -doc_id - 1 AS doc_id,
      |    repeat('spam ', 60) || 'tail' || CAST(doc_id AS VARCHAR) AS text
      |  FROM documents WHERE doc_id % 40 = 1
      |  UNION ALL
      |  SELECT -doc_id - 1 AS doc_id,
      |    array_to_string(list_transform(string_split(text, ' '),
      |      t -> t || 'z' || CAST(doc_id AS VARCHAR)), ' ') AS text
      |  FROM documents WHERE doc_id % 40 = 3
      |  UNION ALL
      |  SELECT -doc_id - 1 AS doc_id,
      |    array_to_string((string_split(text, ' '))[1:10], ' ') AS text
      |  FROM documents WHERE doc_id % 40 = 4""".stripMargin

  /** Core of [[qDocQualityGate]] over any (doc_id, text) corpus frame —
    * package-visible so CorpusOpsSpec can run the gate on a STRUCTURED
    * controlled corpus and flip each signal arm individually.
    */
  private[ext] def qualityGateFrom(spark: SparkSession, corpus: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    // eager: four signal branches consume it concurrently
    val docs = Exec.share(corpus.repartition(par, col("doc_id")))

    // 1. repetition — the qDocRepetition kernel, SHARED (not re-derived)
    val rep = TextOps.repetitionFrom(docs)
      .select(col("doc_id"), col("n_shingles"), col("rep_ratio"))

    // 2. bigram-LM fluency — the qDocBigramLm kernel over this corpus
    val bg = TextOps.bigramLmFrom(docs)
      .select(col("doc_id"), col("avg_bigram_p"))

    // 3. unigram cross-entropy in micro-nats/token — the curriculum kernel
    val xent = TextOps.docXentFrom(docs)
      .select(col("doc_id"), expr("(-sum_qlp) div n_tokens").as("xent_micronat"))

    // 4. lexical quality (the ONE shared score) + token floor
    val qual = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      TextOps.qualityScoreCol.as("quality_score"))

    val failRep = col("n_shingles") >= gateMinShingles &&
      col("rep_ratio") > gateMaxRepRatio
    // a sub-2-token doc HAS no bigrams — blaming the fluency arm for it
    // would mis-attribute what is a length defect (the token floor's job)
    val failBg = col("n_tokens") >= 2 &&
      coalesce(col("avg_bigram_p"), lit(0.0)) < gateMinBigramP
    val failXe = col("xent_micronat") > gateMaxXentMicroNat
    val failQu = col("n_tokens") < gateMinTokens || col("quality_score") < gateMinQuality
    qual.join(rep, "doc_id").join(bg, Seq("doc_id"), "left").join(xent, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("rep_ratio"),
        coalesce(col("avg_bigram_p"), lit(0.0)).as("avg_bigram_p"),
        col("xent_micronat"), col("quality_score"),
        failRep.as("fail_repetition"), failBg.as("fail_bigram"),
        failXe.as("fail_xent"), failQu.as("fail_quality"),
        when(failRep, "repetition").when(failBg, "bigram_lm")
          .when(failXe, "perplexity").when(failQu, "low_quality")
          .otherwise("kept").as("drop_reason"))
      .orderBy(col("doc_id"))
  }

  /** The full self-trained quality-funnel oracle as a CTE-chain + SELECT
    * over a `corpus(doc_id, text)` CTE the caller provides — factored so
    * the standalone gate (plant-injected corpus) and the E334 release
    * gate (raw train corpus) run the IDENTICAL kernel SQL. Emits one row
    * per doc with signals, per-arm booleans, and funnel `drop_reason`;
    * unordered (callers add their own ORDER BY). */
  private[ext] val qualityGateSqlBody: String = {
    val failRep = s"(n_shingles >= $gateMinShingles AND rep_ratio > $gateMaxRepRatio)"
    val failBg = s"(n_tokens >= 2 AND COALESCE(avg_bigram_p, 0.0) < $gateMinBigramP)"
    val failXe = s"xent_micronat > $gateMaxXentMicroNat"
    val failQu = s"(n_tokens < $gateMinTokens OR quality_score < $gateMinQuality)"
    s"""dt AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM corpus),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_transform(${Dedup.shinglesSqlExpr}, s -> ${h31Sql("s")})) AS h
       |  FROM dt
       |),
       |shc AS (SELECT doc_id, h, count(*) AS c FROM sh GROUP BY doc_id, h),
       |rep AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
       |    CAST(max(c) AS DOUBLE) /
       |    CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS rep_ratio
       |  FROM shc GROUP BY doc_id
       |),
       |bgl AS (
       |  SELECT doc_id, pos, t[pos] AS w1, t[pos] || ' ' || t[pos + 1] AS bg
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, greatest(len(t) - 1, 0))) AS pos
       |        FROM dt)
       |),
       |uni_w AS (
       |  SELECT w1, count(*) AS c1
       |  FROM (SELECT unnest(t) AS w1 FROM dt) GROUP BY w1
       |),
       |bi AS (SELECT bg, count(*) AS c2 FROM bgl GROUP BY bg),
       |bg AS (
       |  SELECT doc_id,
       |    ${orderedSumSql("CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)", "pos")} / count(*) AS avg_bigram_p
       |  FROM bgl JOIN bi USING (bg) JOIN uni_w USING (w1)
       |  GROUP BY doc_id
       |),
       |by_doc AS (
       |  SELECT doc_id, w, count(*) AS tf_dw
       |  FROM (SELECT doc_id, unnest(t) AS w FROM dt) GROUP BY doc_id, w
       |),
       |uni AS (SELECT w, CAST(sum(tf_dw) AS BIGINT) AS tf FROM by_doc GROUP BY w),
       |totals AS (SELECT CAST(sum(tf) AS BIGINT) AS t, count(*) AS v FROM uni),
       |xent AS (
       |  SELECT doc_id,
       |    (-CAST(sum(tf_dw * (${quantLogSql("tf + 1")} -
       |      ${quantLogSql("t + v")})) AS BIGINT)) //
       |      CAST(sum(tf_dw) AS BIGINT) AS xent_micronat
       |  FROM by_doc JOIN uni USING (w) CROSS JOIN totals GROUP BY doc_id
       |),
       |qual AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${TextOps.qualityScoreSql} AS quality_score
       |  FROM corpus
       |),
       |gated AS (
       |  SELECT q.doc_id, n_tokens, n_shingles, rep_ratio,
       |    COALESCE(avg_bigram_p, 0.0) AS avg_bigram_p, xent_micronat, quality_score
       |  FROM qual q
       |  JOIN rep USING (doc_id)
       |  LEFT JOIN bg USING (doc_id)
       |  JOIN xent USING (doc_id)
       |)
       |SELECT doc_id, n_tokens, rep_ratio, avg_bigram_p, xent_micronat, quality_score,
       |  $failRep AS fail_repetition,
       |  $failBg AS fail_bigram,
       |  $failXe AS fail_xent,
       |  $failQu AS fail_quality,
       |  CASE WHEN $failRep THEN 'repetition'
       |       WHEN $failBg THEN 'bigram_lm'
       |       WHEN $failXe THEN 'perplexity'
       |       WHEN $failQu THEN 'low_quality'
       |       ELSE 'kept' END AS drop_reason
       |FROM gated""".stripMargin
  }

  val qDocQualityGateSql: String =
    s"""WITH corpus AS (
       |  $gateFixtureSqlCte
       |),
       |$qualityGateSqlBody
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Quality-score calibration AUC (E337)
  // ------------------------------------------------------------------

  /** QUALITY-SCORE CALIBRATION AUC (E337) — does the cheap lexical
    * quality score actually SEPARATE garbage? The gate (E312) uses the
    * score as one of four arms; this op measures the score itself, per
    * defect family, as an exact ROC AUC: over the gate's own plant
    * corpus ([[gateFixtureCorpus]] — identical plants by construction),
    * AUC = P(defect scores below clean) + ½·P(tie), computed through the
    * Mann-Whitney doubled-midrank identity (the E-family tie-corrected
    * drift-test discipline): scores quantized to integer micro-units
    * (floor(score·10⁶) — midranked at that resolution), 2·R₁ and
    * 2·U₁ = 2R₁ − n₁(n₁+1) exact BIGINTs, one final double division.
    *
    * The per-family rows are the POINT, and they measure TWO blind
    * spots: repetition spam craters the score (AUC = 1.0 — every spam
    * doc below every clean doc), token-gibberish barely separates
    * (≈ 0.65: each token unique, so distinct/total is high — the
    * perplexity arm's justification), and truncation comes out
    * ANTI-correlated (≈ 0.07: a 10-token prefix has near-perfect
    * type-token ratio, so the score REWARDS it and only the n_tokens
    * floor arm catches it). The audit turns the E312 multi-arm design
    * argument into measured numbers — one arm per blind spot.
    *
    * Mechanics: each defect doc enters its family's comparison
    * population AND the 'all' row; clean docs replicate into every
    * population (constant ×(families+1) fan-out — the scale knob is the
    * family count, never the corpus). One (population, score)-keyed
    * map-side-combinable pre-aggregate, one population-partitioned
    * cumulative window over DISTINCT score values, 4-row rollup.
    */
  def qDocGateAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = gateFixtureCorpus(spark, sfDir)
      .select(col("doc_id"),
        floor(TextOps.qualityScoreCol * lit(1000000L)).cast("long").as("s6"),
        when(col("doc_id") >= 0, lit(null).cast("string"))
          .otherwise(when((-col("doc_id") - 1) % 40 === 1, "spam")
            .when((-col("doc_id") - 1) % 40 === 3, "gibberish")
            .otherwise("truncated")).as("family"))
    val pops = scored.filter(col("family").isNull)
      .select(explode(array(lit("all"), lit("spam"), lit("gibberish"),
        lit("truncated"))).as("p"), col("s6"), lit(0L).as("d"))
      .unionAll(scored.filter(col("family").isNotNull)
        .select(explode(array(col("family"), lit("all"))).as("p"),
          col("s6"), lit(1L).as("d")))
    val perValue = pops.groupBy(col("p"), col("s6"))
      .agg(sum(col("d")).as("a1"), sum(lit(1L) - col("d")).as("a0"))
      .withColumn("t", col("a1") + col("a0"))
    val w = Window.partitionBy(col("p")).orderBy(col("s6"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = perValue.select(col("p"), col("a1"), col("a0"), col("t"),
      (lit(2L) * (sum(col("t")).over(w) - col("t")) + (col("t") + 1L))
        .as("rank2"))
    ranked.groupBy(col("p"))
      .agg(sum(col("a1")).as("n_defect"), sum(col("a0")).as("n_clean"),
        sum(col("a1") * col("rank2")).as("r2sum"))
      .withColumn("u1_doubled",
        col("r2sum") - col("n_defect") * (col("n_defect") + 1L))
      .select(col("p").as("family"), col("n_defect"), col("n_clean"),
        col("u1_doubled"),
        // NULL when a comparison population is empty (tiny fixtures can
        // leave a defect family unpopulated): a bare divide would produce
        // NaN/div-by-zero with engine-divergent semantics vs the oracle
        when(col("n_defect") === 0L || col("n_clean") === 0L,
          lit(null).cast("double"))
          .otherwise(lit(1.0) - col("u1_doubled").cast("double") /
            (lit(2.0) * col("n_defect").cast("double")
              * col("n_clean").cast("double"))).as("auc_low"))
      .orderBy(col("family"))
  }

  val qDocGateAucSql: String =
    s"""WITH corpus AS (
       |  $gateFixtureSqlCte
       |),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(floor((@QSCORE@) * 1000000) AS BIGINT) AS s6,
       |    CASE WHEN doc_id >= 0 THEN NULL
       |         WHEN (-doc_id - 1) % 40 = 1 THEN 'spam'
       |         WHEN (-doc_id - 1) % 40 = 3 THEN 'gibberish'
       |         ELSE 'truncated' END AS family
       |  FROM corpus
       |),
       |pops AS (
       |  SELECT unnest(['all', 'spam', 'gibberish', 'truncated']) AS p,
       |    s6, CAST(0 AS BIGINT) AS d
       |  FROM scored WHERE family IS NULL
       |  UNION ALL
       |  SELECT unnest([family, 'all']) AS p, s6, CAST(1 AS BIGINT) AS d
       |  FROM scored WHERE family IS NOT NULL
       |),
       |per_value AS (
       |  SELECT p, s6, CAST(sum(d) AS BIGINT) AS a1,
       |    CAST(sum(1 - d) AS BIGINT) AS a0,
       |    CAST(count(*) AS BIGINT) AS t
       |  FROM pops GROUP BY p, s6
       |),
       |ranked AS (
       |  SELECT p, a1, a0, t,
       |    2 * (sum(t) OVER (PARTITION BY p ORDER BY s6
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) +
       |      (t + 1) AS rank2
       |  FROM per_value
       |),
       |agg AS (
       |  SELECT p, CAST(sum(a1) AS BIGINT) AS n_defect,
       |    CAST(sum(a0) AS BIGINT) AS n_clean,
       |    CAST(sum(a1 * rank2) AS BIGINT) AS r2sum
       |  FROM ranked GROUP BY p
       |)
       |SELECT p AS family, n_defect, n_clean,
       |  r2sum - n_defect * (n_defect + 1) AS u1_doubled,
       |  CASE WHEN n_defect = 0 OR n_clean = 0 THEN NULL
       |       ELSE 1.0 - CAST(r2sum - n_defect * (n_defect + 1) AS DOUBLE) /
       |         (2.0 * CAST(n_defect AS DOUBLE) * CAST(n_clean AS DOUBLE))
       |  END AS auc_low
       |FROM agg
       |ORDER BY family""".stripMargin
      .replace("@QSCORE@", TextOps.qualityScoreSql)

  // ------------------------------------------------------------------
  // Quality-model transfer audit: frozen corpus stats vs arrivals
  // ------------------------------------------------------------------

  /** Retrain triggers for [[qDocQualityTransfer]]: a source whose
    * arrivals are > 5% out-of-vocabulary against the frozen reference
    * (n_oov·20 > n_tokens, exact integers) or whose frozen-model
    * cross-entropy exceeds its own base-corpus self-score by more than
    * 1.5 nats/token needs the quality models retrained before its data
    * is gated. Literal RHS `final` per the init-cycle rule.
    */
  final val transferOovMul = 20L
  final val transferXentGap = 1500000L

  /** QUALITY-MODEL TRANSFER AUDIT — the [[qDocQualityGate]] twin of the
    * E307 tokenizer-transfer audit: the gate's corpus-trained reference
    * stats (unigram LM, bigram table, totals) are trained on the BASE
    * corpus only and FROZEN, then every arriving source is scored
    * against them — per source: OOV mass against the frozen vocabulary,
    * the share of arrival bigrams the frozen table has seen, the frozen
    * cross-entropy in integer micro-nats, and the same source's
    * base-corpus self-score under the SAME model as the comparable —
    * closing with the retrain flag ([[transferOovMul]] /
    * [[transferXentGap]]). This is the "does my quality model still
    * describe the new crawl dump" check a curation pipeline runs before
    * trusting frozen gates on incoming data; [[qDocOov]] is the
    * same-corpus per-document coverage cousin, this op is the
    * held-out per-SOURCE drift audit.
    *
    * Fixture: arrivals = every 10th doc (held out from the frozen
    * models); a drifted domain is planted as `newdomain` — every 20th
    * doc's arrival twin with per-doc-unique token suffixes (negative id
    * space), 100% OOV by construction — so the flag demonstrably fires
    * on exactly the planted domain while real sources pass.
    *
    * Exactness: OOV and the flag's first arm are pure integer
    * arithmetic; cross-entropies are the [[graft.Exact.quantLog]] micro-nat
    * integers with ONE closing integer division (the perplexity/
    * curriculum kernel), so both engines emit identical BIGINTs; the
    * two rates are single fixed-shape double divisions.
    *
    * Scale (100 TB): the frozen models are vocabulary-bounded
    * (Zipf-concentrated) — both probe joins broadcast them and the
    * arrival stream never shuffles on token beyond the (source, w)
    * partial agg; totals ride a 1-row broadcast; output is |sources|
    * rows. At production scale the frozen tables are read from the
    * model store instead of recomputed — the plan keeps them as
    * separate broadcast inputs to mirror that.
    */
  def qDocQualityTransfer(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    // content-keyed holdout (the qDocSampleStratified determinism rule),
    // NOT doc_id-keyed: the synthetic source column is id-derived, so an
    // id-modulus split would alias with source and hold out whole sources
    val h = portableHash(concat(col("text"), lit("|qtransfer"))) % 10
    val base = docs.filter(h =!= 0)
    val arrivals = docs.filter(h === 0)
      .unionAll(docs.filter(h === 0 && col("doc_id") % 2 === 0)
        .select((-col("doc_id") - 1).as("doc_id"), lit("newdomain").as("source"),
          expr("concat_ws(' ', transform(split(text, ' '), " +
            "t -> concat(t, 'z', CAST(doc_id AS STRING))))").as("text")))
    val bigramsExpr = "transform(sequence(1, size(toks) - 1)," +
      " i -> concat_ws(' ', slice(toks, i, 2)))"

    // frozen reference models (base only)
    val uni = base.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
    val totals = uni.agg(sum(col("tf")).as("t"), count(lit(1)).as("v"))
    val baseBg = base.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(bigramsExpr)).as("bg")).distinct()
      .withColumn("hit", lit(true))

    val nDocs = arrivals.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val uniStats = arrivals
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("tf_sw"))
      .join(broadcast(uni), Seq("w"), "left")
      .withColumn("tf0", coalesce(col("tf"), lit(0L)))
      .crossJoin(broadcast(totals))
      .groupBy(col("source"))
      .agg(sum(col("tf_sw")).as("n_tokens"),
        sum(when(col("tf0") === 0, col("tf_sw")).otherwise(0L)).as("n_oov"),
        sum(col("tf_sw") *
          (quantLog(col("tf0") + 1) - quantLog(col("t") + col("v"))))
          .as("sum_qlp"))
    val bgStats = arrivals.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("source"), explode(expr(bigramsExpr)).as("bg"))
      .join(broadcast(baseBg), Seq("bg"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"))
    // each source's base-corpus self-score under the SAME frozen model
    val baseXent = base
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("tf_sw"))
      .join(broadcast(uni), Seq("w"))
      .crossJoin(broadcast(totals))
      .groupBy(col("source"))
      .agg(sum(col("tf_sw")).as("bn"),
        sum(col("tf_sw") *
          (quantLog(col("tf") + 1) - quantLog(col("t") + col("v"))))
          .as("bq"))
      .select(col("source"), expr("(-bq) div bn").as("xent_base_micronat"))

    val xentFrozen = expr("(-sum_qlp) div n_tokens")
    nDocs.join(uniStats, Seq("source")).join(bgStats, Seq("source"))
      .join(baseXent, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double")).as("oov_rate"),
        col("n_bigrams"),
        (col("n_hit").cast("double") / col("n_bigrams").cast("double"))
          .as("bigram_hit_rate"),
        xentFrozen.as("xent_frozen_micronat"),
        col("xent_base_micronat"),
        (col("n_oov") * transferOovMul > col("n_tokens") ||
          (col("xent_base_micronat").isNotNull &&
            xentFrozen - col("xent_base_micronat") > transferXentGap))
          .as("retrain_flag"))
      .orderBy(col("source"))
  }

  val qDocQualityTransferSql: String = {
    val bgList = "list_transform(generate_series(1, len(toks) - 1)," +
      " i -> toks[i] || ' ' || toks[i + 1])"
    s"""WITH docs AS (
       |  SELECT doc_id, source, text,
       |    ${portableHashSql("text || '|qtransfer'")} % 10 AS hsplit
       |  FROM documents
       |),
       |base AS (SELECT doc_id, source, text FROM docs WHERE hsplit != 0),
       |arrivals AS (
       |  SELECT doc_id, source, text FROM docs WHERE hsplit = 0
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id, 'newdomain' AS source,
       |    array_to_string(list_transform(string_split(text, ' '),
       |      t -> t || 'z' || CAST(doc_id AS VARCHAR)), ' ') AS text
       |  FROM docs WHERE hsplit = 0 AND doc_id % 2 = 0
       |),
       |uni AS (
       |  SELECT w, count(*) AS tf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM base) GROUP BY w
       |),
       |totals AS (SELECT CAST(sum(tf) AS BIGINT) AS t, count(*) AS v FROM uni),
       |base_bg AS (
       |  SELECT DISTINCT unnest($bgList) AS bg
       |  FROM (SELECT string_split(text, ' ') AS toks FROM base)
       |  WHERE len(toks) >= 2
       |),
       |n_docs AS (SELECT source, count(*) AS n_docs FROM arrivals GROUP BY source),
       |a_tok AS (
       |  SELECT source, w, count(*) AS tf_sw
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM arrivals)
       |  GROUP BY source, w
       |),
       |uni_stats AS (
       |  SELECT source,
       |    CAST(sum(tf_sw) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN COALESCE(tf, 0) = 0 THEN tf_sw ELSE 0 END) AS BIGINT)
       |      AS n_oov,
       |    CAST(sum(tf_sw * (${quantLogSql("COALESCE(tf, 0) + 1")} -
       |      ${quantLogSql("t + v")})) AS BIGINT) AS sum_qlp
       |  FROM a_tok LEFT JOIN uni USING (w) CROSS JOIN totals
       |  GROUP BY source
       |),
       |bg_stats AS (
       |  SELECT source, count(*) AS n_bigrams,
       |    CAST(sum(CASE WHEN base_bg.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hit
       |  FROM (
       |    SELECT source, unnest($bgList) AS bg
       |    FROM (SELECT source, string_split(text, ' ') AS toks FROM arrivals)
       |    WHERE len(toks) >= 2
       |  ) ab LEFT JOIN base_bg USING (bg)
       |  GROUP BY source
       |),
       |base_xent AS (
       |  SELECT source,
       |    (-CAST(sum(tf_sw * (${quantLogSql("tf + 1")} -
       |      ${quantLogSql("t + v")})) AS BIGINT)) //
       |      CAST(sum(tf_sw) AS BIGINT) AS xent_base_micronat
       |  FROM (
       |    SELECT source, w, count(*) AS tf_sw
       |    FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM base)
       |    GROUP BY source, w
       |  ) bt JOIN uni USING (w) CROSS JOIN totals
       |  GROUP BY source
       |)
       |SELECT u.source, n_docs, n_tokens, n_oov,
       |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate,
       |  n_bigrams,
       |  CAST(n_hit AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS bigram_hit_rate,
       |  (-sum_qlp) // n_tokens AS xent_frozen_micronat,
       |  xent_base_micronat,
       |  (n_oov * $transferOovMul > n_tokens) OR
       |    (xent_base_micronat IS NOT NULL AND
       |     (-sum_qlp) // n_tokens - xent_base_micronat > $transferXentGap)
       |    AS retrain_flag
       |FROM uni_stats u
       |JOIN n_docs USING (source)
       |JOIN bg_stats USING (source)
       |LEFT JOIN base_xent USING (source)
       |ORDER BY u.source""".stripMargin
  }

  // ------------------------------------------------------------------
  // The release gate (E334)
  // ------------------------------------------------------------------

  /** Block a source whose organic contamination rate exceeds this. */
  final val relMaxContamFrac = 0.03
  /** ...or whose exact-duplicate fraction exceeds this. */
  final val relMaxDupFrac = 0.02
  /** ...or whose quality-funnel drop rate exceeds this (the corpus's
    * organic drop rates straddle this at every test SF, so both verdict
    * outcomes stay live). */
  final val relMaxQfailFrac = 0.15

  /** THE RELEASE GATE (E334) — the batch-side capstone the E326 ingest
    * door is the streaming twin of: ONE query that decides, per source,
    * whether its slice of the corpus ships. It composes the three
    * release-review signals over the REAL corpus (no fixture plants —
    * the organic rates are the decision input):
    *
    *   - quality drop rate under the self-trained funnel
    *     ([[qualityGateSqlBody]] / [[qualityGateFrom]] — the E312 kernel
    *     verbatim, factored so gate and release gate cannot drift),
    *   - fuzzy contamination rate against the held-out eval split (the
    *     E310 kernel on raw docs — the synthetic corpus carries organic
    *     near-duplicates across the split, so the signal is live),
    *   - exact-duplicate fraction over 60-bit content fingerprints
    *     (the E44/E332 redundancy number).
    *
    * Output: one row per source with the exact counts, the fractions,
    * and the funnel verdict — `blocked:contaminated` →
    * `blocked:duplicated` → `blocked:quality` → `ship` (first failing
    * threshold wins, the E312 attribution shape at source grain).
    *
    * Scale (100 TB): each signal is its own op's plan (gate: one
    * persisted tokenized scan into four branches; fuzzy: banded
    * candidates with the benchmark side broadcast; dup: one map-side-
    * combinable distinct-count) and the composition only adds three
    * source-keyed aggregates joined on the SOURCE-cardinality key —
    * broadcast-sized at any corpus. The expensive arms are exactly the
    * ops a release review runs anyway; the gate buys running them in
    * one pass with one verdict table out.
    */
  def qDocReleaseGate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val ev = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 50 =!= 0)
    val trainDT = train.select(col("doc_id"), col("text"))
    val srcOf = train.select(col("doc_id"), col("source"))
    val qf = qualityGateFrom(spark, trainDT)
      .select(col("doc_id"),
        when(col("drop_reason") =!= "kept", 1L).otherwise(0L).as("qx"))
      .join(srcOf, "doc_id")
      .groupBy(col("source")).agg(sum(col("qx")).as("n_qfail"))
    val cf = Dedup.fuzzyContamPairs(spark, trainDT, ev)
      .select(col("doc_id")).distinct()
      .join(srcOf, "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_contam"))
    val mass = train.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(portableHash(col("text"))).as("n_distinct"))
    val contamFrac = col("n_contam").cast("double") / col("n_docs")
    val dupFrac = lit(1.0) - col("n_distinct").cast("double") / col("n_docs")
    val qfailFrac = col("n_qfail").cast("double") / col("n_docs")
    mass.join(qf, Seq("source"), "left").join(cf, Seq("source"), "left")
      .na.fill(0L, Seq("n_qfail", "n_contam"))
      .select(col("source"), col("n_docs"), col("n_qfail"), col("n_contam"),
        col("n_distinct"), qfailFrac.as("qfail_frac"),
        contamFrac.as("contam_frac"), dupFrac.as("dup_frac"),
        when(contamFrac > relMaxContamFrac, lit("blocked:contaminated"))
          .when(dupFrac > relMaxDupFrac, lit("blocked:duplicated"))
          .when(qfailFrac > relMaxQfailFrac, lit("blocked:quality"))
          .otherwise(lit("ship")).as("verdict"))
      .orderBy(col("source"))
  }

  val qDocReleaseGateSql: String =
    s"""WITH docsrc AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id % 50 <> 0
       |),
       |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
       |train AS (SELECT doc_id, text FROM docsrc),
       |gate AS (
       |  WITH corpus AS (SELECT doc_id, text FROM docsrc),
       |  $qualityGateSqlBody
       |),
       |${Dedup.decontamPrepSqlCtes("t", "train")},
       |${Dedup.decontamPrepSqlCtes("e", "ev")},
       |${Dedup.fuzzyPairsSqlCtes},
       |contam AS (SELECT DISTINCT doc_id FROM fpairs),
       |mass AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(count(DISTINCT ${portableHashSql("text")}) AS BIGINT) AS n_distinct
       |  FROM docsrc GROUP BY source
       |),
       |qf AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN drop_reason <> 'kept' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_qfail
       |  FROM gate JOIN docsrc USING (doc_id) GROUP BY source
       |),
       |cf AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_contam
       |  FROM contam JOIN docsrc USING (doc_id) GROUP BY source
       |)
       |SELECT m.source, n_docs,
       |  COALESCE(n_qfail, 0) AS n_qfail,
       |  COALESCE(n_contam, 0) AS n_contam,
       |  n_distinct,
       |  CAST(COALESCE(n_qfail, 0) AS DOUBLE) / n_docs AS qfail_frac,
       |  CAST(COALESCE(n_contam, 0) AS DOUBLE) / n_docs AS contam_frac,
       |  1.0 - CAST(n_distinct AS DOUBLE) / n_docs AS dup_frac,
       |  CASE
       |    WHEN CAST(COALESCE(n_contam, 0) AS DOUBLE) / n_docs > $relMaxContamFrac
       |      THEN 'blocked:contaminated'
       |    WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_docs > $relMaxDupFrac
       |      THEN 'blocked:duplicated'
       |    WHEN CAST(COALESCE(n_qfail, 0) AS DOUBLE) / n_docs > $relMaxQfailFrac
       |      THEN 'blocked:quality'
       |    ELSE 'ship' END AS verdict
       |FROM mass m LEFT JOIN qf USING (source) LEFT JOIN cf USING (source)
       |ORDER BY m.source""".stripMargin

  // ------------------------------------------------------------------
  // Bradley-Terry preference ratings (E333)
  // ------------------------------------------------------------------

  /** MM iterations of the Bradley-Terry fit (Hunter 2004) — fixed and
    * unrolled in the oracle, so a literal. */
  final val btIters = 3
  /** +½ win prior per source (Davidson-style regularization): keeps every
    * rating strictly positive even for a source that loses all its
    * matches, so no MM denominator can hit 0/0. */
  final val btEps = 0.5

  /** BRADLEY-TERRY PREFERENCE RATINGS (E333) — the aggregate every
    * preference-data (RLHF) pipeline needs: given pairwise comparisons
    * with winners, fit the Bradley-Terry model P(i beats j) =
    * r_i/(r_i+r_j) and rank the parties. Here the parties are the
    * corpus's SOURCES and the comparisons are head-to-head document
    * quality matches — "which crawl source wins blind quality
    * comparisons" — but the kernel is the one that rates annotators,
    * model checkpoints, or response variants from the same pair table.
    *
    * Matches: doc i vs docs i+3 and i+7 (two id offsets COPRIME with the
    * source count, so the comparison graph is a connected union of two
    * full cycles over the sources — BT is only identified up to scale
    * per connected component); the winner has the higher shared lexical
    * [[TextOps.qualityScoreCol]] (per-row-deterministic double, the E68
    * sampler's score), doc_id breaking exact ties; same-source matches
    * carry no rating information and are dropped.
    *
    * Fit: [[btIters]] rounds of Hunter's MM update r_i ← (W_i + ε) /
    * Σ_j n_ij/(r_i+r_j) from the uniform start, ratings then normalized
    * to mean 1 (the scale gauge). Every float reduction — the MM
    * denominator over neighbors, the normalization sum over sources —
    * is a SEQUENTIAL fold in a deterministic key order (the centroid/
    * dot discipline), so engines cannot drift by addition order; match
    * and win counts are exact integers.
    *
    * Scale (100 TB): pair generation is two id-keyed corpus equi-joins
    * (the inherent cost of materializing matches); everything after
    * map-side combines onto the (source, source) BOUNDED neighbor table,
    * and the MM iterations touch only that table — zero corpus re-scans
    * per round, model state broadcast at every join.
    */
  def qDocBtRating(spark: SparkSession, sfDir: String): DataFrame = {
    // persist: the scored frame feeds BOTH sides of BOTH offset joins (4
    // consumers) — score each doc once, not four times; released by the
    // registry clearCache contract
    val q = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), TextOps.qualityScoreCol.as("q"))
      .persist()
    val a = q.select(col("doc_id").as("ida"), col("source").as("sa"), col("q").as("qa"))
    val b = q.select(col("doc_id").as("idb"), col("source").as("sb"), col("q").as("qb"))
    val m = Seq(3, 7).map { off =>
      a.join(b, col("idb") === col("ida") + off)
        .filter(col("sa") =!= col("sb"))
        .select(col("sa"), col("sb"),
          (col("qa") > col("qb") ||
            (col("qa") === col("qb") && col("ida") < col("idb"))).as("win_a"))
    }.reduce(_ unionAll _)
    // one-pass direction explode (r15): the union form's two legs each
    // re-ran both offset joins (4 joins of the cached corpus); explode
    // emits both match directions from one evaluation
    val nbr = m.select(explode(array(
        struct(col("sa").as("i"), col("sb").as("j"),
          when(col("win_a"), 1L).otherwise(0L).as("w")),
        struct(col("sb").as("i"), col("sa").as("j"),
          when(col("win_a"), 0L).otherwise(1L).as("w")))).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.w").as("w"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("w")).persist()
    // one job fills both nbr's lazy cache and tot's before the driver collects
    val tot = Exec.share(nbr.groupBy(col("i"))
      .agg(sum(col("n")).as("n_tot"), sum(col("w")).as("w_tot")))
    // DRIVER-SIDE MM LOOP (r15): the (source, source) neighbor table is
    // BOUNDED model state (|sources|² rows at any corpus scale), and the
    // DataFrame-per-round formulation paid ~10 scheduler stages per
    // round for a handful of rows — the exact situation the kmeans/MMR
    // precedent collects: distribute the corpus-scale match mining,
    // iterate the constant-size model on the driver. Float semantics are
    // preserved operation-for-operation: the old per-i denominator was a
    // sequential (acc + v) fold over struct(j, v) in array_sort order
    // (ascending j), and the normalization a sequential fold over
    // ascending i — both replicated below with the same IEEE doubles, so
    // ratings are bit-identical (oracle-checked at 3 SFs).
    val nbrL = nbr.select(col("i"), col("j"), col("n"), col("w")).collect()
      .map(row => (row.getString(0), row.getString(1), row.getLong(2)))
    val totL = tot.select(col("i"), col("n_tot"), col("w_tot")).collect()
      .map(row => (row.getString(0), row.getLong(1), row.getLong(2)))
      .sortBy(_._1)
    val byI = nbrL.groupBy(_._1).map { case (i, es) =>
      i -> es.sortBy(_._2).map(e => (e._2, e._3))
    }
    var r: Map[String, Double] = totL.map(t => t._1 -> 1.0).toMap
    for (_ <- 1 to btIters) {
      r = totL.map { case (i, _, wTot) =>
        val den = byI(i).foldLeft(0.0) { case (acc, (j, n)) =>
          acc + n.toDouble / (r(i) + r(j))
        }
        i -> ((wTot + btEps) / den)
      }.toMap
    }
    val sr = totL.foldLeft(0.0)((acc, t) => acc + r(t._1))
    val ns = totL.length.toLong
    import spark.implicits._
    totL.map { case (i, nTot, wTot) => (i, nTot, wTot, r(i) * ns / sr) }
      .toSeq.toDF("source", "n_matches", "n_wins", "rating")
      .orderBy(col("source"))
  }

  val qDocBtRatingSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT nbr.i,
         |    (any_value(w_tot) + $btEps) / list_reduce(
         |      list(CAST(nbr.n AS DOUBLE) / (ri.r + rj.r) ORDER BY nbr.j),
         |      (a, b) -> a + b) AS r
         |  FROM nbr
         |  JOIN tot ON nbr.i = tot.i
         |  JOIN $prev ri ON nbr.i = ri.i
         |  JOIN $prev rj ON nbr.j = rj.i
         |  GROUP BY nbr.i
         |)""".stripMargin
    val rounds = (1 to btIters).map(k => round(s"r${k - 1}", s"r$k")).mkString(",\n")
    s"""WITH q AS (
       |  SELECT doc_id, source, ${TextOps.qualityScoreSql} AS q FROM documents
       |),
       |m AS (
       |  SELECT a.source AS sa, b.source AS sb,
       |    (a.q > b.q OR (a.q = b.q AND a.doc_id < b.doc_id)) AS win_a
       |  FROM q a JOIN q b ON b.doc_id = a.doc_id + 3
       |  WHERE a.source != b.source
       |  UNION ALL
       |  SELECT a.source, b.source,
       |    (a.q > b.q OR (a.q = b.q AND a.doc_id < b.doc_id))
       |  FROM q a JOIN q b ON b.doc_id = a.doc_id + 7
       |  WHERE a.source != b.source
       |),
       |nbr AS (
       |  SELECT i, j, CAST(count(*) AS BIGINT) AS n, CAST(sum(w) AS BIGINT) AS w
       |  FROM (
       |    SELECT sa AS i, sb AS j, CASE WHEN win_a THEN 1 ELSE 0 END AS w FROM m
       |    UNION ALL
       |    SELECT sb, sa, CASE WHEN win_a THEN 0 ELSE 1 END FROM m
       |  ) GROUP BY i, j
       |),
       |tot AS (
       |  SELECT i, CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(w) AS BIGINT) AS w_tot
       |  FROM nbr GROUP BY i
       |),
       |r0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS r FROM tot),
       |$rounds,
       |norm AS (
       |  SELECT list_reduce(list(r ORDER BY i), (a, b) -> a + b) AS sr,
       |    count(*) AS ns
       |  FROM r$btIters
       |)
       |SELECT tot.i AS source, n_tot AS n_matches, w_tot AS n_wins,
       |  rf.r * ns / sr AS rating
       |FROM tot JOIN r$btIters rf ON tot.i = rf.i CROSS JOIN norm
       |ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // Corpus datasheet (E332)
  // ------------------------------------------------------------------

  /** CORPUS DATASHEET (E332) — the "datasheets for datasets" release
    * artifact (Gebru et al., CACM 2021): ONE row per source with the
    * numbers every data card publishes — volume (docs, tokens, mean
    * doc length in tokens and chars), lexical spread (source vocabulary,
    * type-token ratio), redundancy (exact-duplicate fraction over
    * 60-bit content fingerprints — the E44 hash-dedup rate at source
    * grain), and language composition (distinct langs + Shannon entropy
    * of the lang mix, in exact integer micro-nats via the [[TextOps]]
    * quantized-log kernel: H = qlog(n) − Σ cnt·qlog(cnt)/n, so the
    * engines cannot drift in a last-ulp ln).
    *
    * This is deliberately a COMPOSITION — the per-signal deep dives are
    * their own ops (vocab E46, dup clusters E85, lang quality E66,
    * source mix E60); the datasheet is the one-query summary a release
    * gate reads, and at 100 TB you want it in one pass, not eight.
    *
    * Scale: three corpus-scale map-side-combinable aggregations — on
    * (source, token) for vocabulary, on (source, lang) for the mix, on
    * source for masses (exact-distinct fingerprints ride the source
    * exchange as a count-distinct partial) — joined on the SOURCE-
    * cardinality key (broadcast-sized at any corpus scale).
    */
  def qDocDatasheet(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("n_chars"))
    val massC = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
      sum(col("n_chars")).as("n_chars_sum"),
      countDistinct(portableHash(col("text"))).as("n_distinct"))
    val vocabC = docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source")).agg(countDistinct(col("w")).as("vocab"))
    val langC = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cl"))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_langs"),
        sum(col("cl") * quantLog(col("cl"))).as("sum_clog"))
    massC.join(vocabC, Seq("source")).join(langC, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_docs")).as("mean_tokens"),
        (col("n_chars_sum").cast("double") / col("n_docs")).as("mean_chars"),
        col("vocab"),
        (col("vocab").cast("double") / col("n_tokens")).as("ttr"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_docs"))
          .as("dup_frac"),
        col("n_langs"),
        // integer div (not double-divide-then-cast: sum_clog exceeds 2^53
        // past ~1e9 docs); operands non-negative so trunc == floor == //
        (quantLog(col("n_docs")) - expr("sum_clog div n_docs"))
          .as("lang_ent_micronat"))
      .orderBy(col("source"))
  }

  val qDocDatasheetSql: String =
    s"""WITH mass AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars_sum,
       |    CAST(count(DISTINCT ${portableHashSql("text")}) AS BIGINT) AS n_distinct
       |  FROM documents GROUP BY source
       |),
       |vocab AS (
       |  SELECT source, CAST(count(DISTINCT w) AS BIGINT) AS vocab
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY source
       |),
       |langmix AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
       |    CAST(sum(cl * ${quantLogSql("cl")}) AS BIGINT) AS sum_clog
       |  FROM (SELECT source, lang, count(*) AS cl FROM documents
       |        GROUP BY source, lang)
       |  GROUP BY source
       |)
       |SELECT source, n_docs, n_tokens,
       |  CAST(n_tokens AS DOUBLE) / n_docs AS mean_tokens,
       |  CAST(n_chars_sum AS DOUBLE) / n_docs AS mean_chars,
       |  vocab,
       |  CAST(vocab AS DOUBLE) / n_tokens AS ttr,
       |  1.0 - CAST(n_distinct AS DOUBLE) / n_docs AS dup_frac,
       |  n_langs,
       |  ${quantLogSql("n_docs")} - sum_clog // n_docs
       |    AS lang_ent_micronat
       |FROM mass JOIN vocab USING (source) JOIN langmix USING (source)
       |ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // Boilerplate affix screen (E331)
  // ------------------------------------------------------------------

  /** Affix length (tokens) the boilerplate screen inspects. */
  final val bpAffixLen = 3
  /** A prefix/suffix shared by at least this fraction of a source's
    * docs is boilerplate (C4 strips lines repeated across pages; the
    * synthetic corpus has no line structure, so the unit is the k-token
    * affix). */
  final val bpMinFrac = 0.2
  /** ...and by at least this many docs (guards tiny sources, where one
    * organic repeat could clear the fraction bar alone). */
  final val bpMinDocs = 3L

  /** BOILERPLATE AFFIX SCREEN (E331) — the C4-style template-removal
    * pass: crawled pages arrive wrapped in site chrome (headers,
    * footers, nav text) that repeats across a site's pages, and
    * training on it teaches the model the template, not the content.
    * Detection is frequency-based WITHIN each source: the k-token
    * prefix/suffix of every doc is counted per (source, affix), and an
    * affix covering ≥ [[bpMinFrac]] of the source's docs (and ≥
    * [[bpMinDocs]] absolute) is template, not content — organic
    * prefixes are Zipf-diverse and never concentrate.
    *
    * Fixture: every `doc_id % 4 == 0` doc is wrapped IN PLACE with a
    * per-source header/footer (`hdr <source> notice … end <source> ftr`)
    * — 25% of each source clears the 20% bar by construction, while the
    * organic 75% must come out unflagged.
    *
    * Output: one row per doc — affix flags, token counts before/after
    * the strip — the accounting a curation funnel consumes (`n_tokens -
    * stripped` is conserved by construction and spec-checked). Docs
    * shorter than 2k tokens are never affix candidates (a whole-doc
    * "affix" is dedup's job, not stripping's).
    *
    * Scale (100 TB): two corpus-scale aggregations on (source, affix) —
    * both map-side combinable and Zipf-concentrated (the affix table is
    * vocabulary-bounded in practice); the verdict join is affix-keyed
    * against that bounded table, broadcast after the threshold filter.
    * No windows, no per-source sorts.
    */
  def qDocBoilerplate(spark: SparkSession, sfDir: String): DataFrame = {
    val k = bpAffixLen
    val docs0 = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    // eager: four consumers (nSrc, both flagged(), final join)
    val docs = Exec.share(docs0.withColumn("text",
      when(col("doc_id") % 4 === 0,
        concat(lit("hdr "), col("source"), lit(" notice "), col("text"),
          lit(" end "), col("source"), lit(" ftr")))
        .otherwise(col("text")))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // affix candidacy needs clear water between prefix and suffix
      .withColumn("pref",
        when(col("n_tokens") >= 2 * k,
          concat_ws(" ", slice(col("toks"), 1, k))))
      .withColumn("suff",
        when(col("n_tokens") >= 2 * k,
          concat_ws(" ", slice(col("toks"), -k, k)))))
    val nSrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    def flagged(c: String): DataFrame = docs
      .filter(col(c).isNotNull)
      .groupBy(col("source"), col(c).as("affix"))
      .agg(count(lit(1)).as("cnt"))
      .join(nSrc, Seq("source"))
      .filter(col("cnt") >= bpMinDocs &&
        col("cnt").cast("double") / col("n_src") >= bpMinFrac)
      .select(col("source").as(s"${c}_src"), col("affix").as(s"${c}_affix"),
        lit(true).as(s"bp_$c"))
    docs
      .join(broadcast(flagged("pref")),
        col("source") === col("pref_src") && col("pref") === col("pref_affix"),
        "left")
      .join(broadcast(flagged("suff")),
        col("source") === col("suff_src") && col("suff") === col("suff_affix"),
        "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("bp_pref"), lit(false)).as("strip_header"),
        coalesce(col("bp_suff"), lit(false)).as("strip_footer"),
        col("n_tokens"),
        (col("n_tokens")
          - when(coalesce(col("bp_pref"), lit(false)), k).otherwise(0)
          - when(coalesce(col("bp_suff"), lit(false)), k).otherwise(0))
          .as("n_tokens_stripped"))
      .orderBy(col("doc_id"))
  }

  val qDocBoilerplateSql: String = {
    val k = bpAffixLen
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |    string_split(CASE WHEN doc_id % 4 = 0
       |      THEN 'hdr ' || source || ' notice ' || text || ' end ' || source || ' ftr'
       |      ELSE text END, ' ') AS toks
       |  FROM documents
       |),
       |d2 AS (
       |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(toks) >= ${2 * k}
       |      THEN array_to_string(toks[1:$k], ' ') END AS pref,
       |    CASE WHEN len(toks) >= ${2 * k}
       |      THEN array_to_string(toks[-$k:], ' ') END AS suff
       |  FROM docs
       |),
       |n_src AS (SELECT source, count(*) AS n_src FROM d2 GROUP BY source),
       |bp_pref AS (
       |  SELECT source, pref AS affix FROM d2 JOIN n_src USING (source)
       |  WHERE pref IS NOT NULL
       |  GROUP BY source, pref, n_src
       |  HAVING count(*) >= $bpMinDocs
       |    AND CAST(count(*) AS DOUBLE) / n_src >= $bpMinFrac
       |),
       |bp_suff AS (
       |  SELECT source, suff AS affix FROM d2 JOIN n_src USING (source)
       |  WHERE suff IS NOT NULL
       |  GROUP BY source, suff, n_src
       |  HAVING count(*) >= $bpMinDocs
       |    AND CAST(count(*) AS DOUBLE) / n_src >= $bpMinFrac
       |)
       |SELECT doc_id, d2.source,
       |  p.affix IS NOT NULL AS strip_header,
       |  s.affix IS NOT NULL AS strip_footer,
       |  n_tokens,
       |  n_tokens - CASE WHEN p.affix IS NOT NULL THEN $k ELSE 0 END
       |           - CASE WHEN s.affix IS NOT NULL THEN $k ELSE 0 END
       |    AS n_tokens_stripped
       |FROM d2
       |LEFT JOIN bp_pref p ON d2.source = p.source AND d2.pref = p.affix
       |LEFT JOIN bp_suff s ON d2.source = s.source AND d2.suff = s.affix
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Quality-model incremental refresh: the E313 merge law, text side
  // ------------------------------------------------------------------

  /** QUALITY-MODEL INCREMENTAL REFRESH (E329) — the text twin of the
    * IVF family's `ivfMergeStats` (E306/E313): when E315's
    * `retrain_flag` says the frozen quality model has gone stale, a
    * 100 TB pipeline cannot afford to re-aggregate the whole corpus —
    * the refresh must be ADDITIVE: stats(base) ⊕ stats(batch) ≡
    * stats(base ∪ batch), with the batch side computed from the batch
    * alone. This op performs the additive merge for all three frozen
    * artifacts (unigram counts, bigram counts, token totals) and emits
    * the merge LAW as a checked output, not a claim: per table, every
    * key's merged count is compared against a from-scratch union
    * recount, and `merged_equals_full` must read true.
    *
    * Output (bounded: one row per artifact kind — 'uni' / 'bi' /
    * 'totals'): key counts per side, merged vs full key counts (vocab
    * merges by key UNION, masses by addition — `n_keys_merged` ≤
    * `n_keys_base + n_keys_new` exactly where the batch re-observes
    * known tokens), total masses, and `n_mismatch` (keys whose merged
    * count ≠ recounted) with its boolean closure.
    *
    * Split: content-keyed (the E315 rule — the synthetic `source` is
    * id-derived, an id split would alias whole sources out of the base).
    *
    * Scale (100 TB): the production path is base-stats (stored with the
    * model, vocab-bounded) + one batch-sized aggregation + a
    * vocab-bounded full-outer merge join — the base CORPUS is never
    * re-read. The from-scratch recount arm exists here as the in-output
    * proof that skipping it is sound (the E313 `merged_equals_full`
    * discipline); production drops that arm — that is the point.
    */
  def qDocQualityRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val h = portableHash(concat(col("text"), lit("|qrefresh"))) % 10
    val base = docs.filter(h =!= 0)
    val batch = docs.filter(h === 0)
    val union = base.unionAll(batch)
    val bigramsExpr = "transform(sequence(1, size(toks) - 1)," +
      " i -> concat_ws(' ', slice(toks, i, 2)))"
    def uniOf(d: DataFrame): DataFrame =
      d.select(explode(split(col("text"), " ")).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
    def biOf(d: DataFrame): DataFrame =
      d.withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(bigramsExpr)).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("c"))
    // per kind: full-outer merge of the two sides' counts (the additive
    // refresh), full-outer against the union recount (the proof arm),
    // then ONE bounded aggregate row
    def law(kind: String, b: DataFrame, n: DataFrame, f: DataFrame): DataFrame =
      b.select(col("k"), col("c").as("c_base"))
        .join(n.select(col("k"), col("c").as("c_new")), Seq("k"), "full")
        .na.fill(0L, Seq("c_base", "c_new"))
        .withColumn("c_merged", col("c_base") + col("c_new"))
        .join(f.select(col("k"), col("c").as("c_full")), Seq("k"), "full")
        .na.fill(0L, Seq("c_base", "c_new", "c_merged", "c_full"))
        .agg(
          sum(when(col("c_base") > 0, 1L).otherwise(0L)).as("n_keys_base"),
          sum(when(col("c_new") > 0, 1L).otherwise(0L)).as("n_keys_new"),
          count(lit(1)).as("n_keys_merged"),
          sum(col("c_base")).as("mass_base"),
          sum(col("c_new")).as("mass_new"),
          sum(col("c_merged")).as("mass_merged"),
          sum(when(col("c_merged") =!= col("c_full"), 1L).otherwise(0L))
            .as("n_mismatch"))
        .select(lit(kind).as("kind"), col("n_keys_base"), col("n_keys_new"),
          col("n_keys_merged"), col("mass_base"), col("mass_new"),
          col("mass_merged"), col("n_mismatch"),
          (col("n_mismatch") === 0L).as("merged_equals_full"))
    // the totals artifact's law rides the 'uni' row: t merges by mass
    // addition (mass_merged) and v by key union (n_keys_merged) — a
    // separate row would recount the same frame
    law("uni", uniOf(base), uniOf(batch), uniOf(union))
      .unionAll(law("bi", biOf(base), biOf(batch), biOf(union)))
      .orderBy(col("kind"))
  }

  val qDocQualityRefreshSql: String = {
    val bgList = "list_transform(generate_series(1, len(toks) - 1)," +
      " i -> toks[i] || ' ' || toks[i + 1])"
    def uniSql(src: String): String =
      s"SELECT w AS k, count(*) AS c FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $src) GROUP BY w"
    def biSql(src: String): String =
      s"""SELECT bg AS k, count(*) AS c FROM (
         |    SELECT unnest($bgList) AS bg
         |    FROM (SELECT string_split(text, ' ') AS toks FROM $src)
         |    WHERE len(toks) >= 2) GROUP BY bg""".stripMargin
    def lawSql(kind: String, b: String, n: String, f: String): String =
      s"""SELECT '$kind' AS kind,
         |  CAST(sum(CASE WHEN c_base > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_base,
         |  CAST(sum(CASE WHEN c_new > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_new,
         |  CAST(count(*) AS BIGINT) AS n_keys_merged,
         |  CAST(sum(c_base) AS BIGINT) AS mass_base,
         |  CAST(sum(c_new) AS BIGINT) AS mass_new,
         |  CAST(sum(c_merged) AS BIGINT) AS mass_merged,
         |  CAST(sum(CASE WHEN c_merged != c_full THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
         |  sum(CASE WHEN c_merged != c_full THEN 1 ELSE 0 END) = 0 AS merged_equals_full
         |FROM (
         |  SELECT COALESCE(m.k, f.k) AS k,
         |    COALESCE(c_base, 0) AS c_base, COALESCE(c_new, 0) AS c_new,
         |    COALESCE(c_merged, 0) AS c_merged, COALESCE(f.c, 0) AS c_full
         |  FROM (
         |    SELECT COALESCE(b.k, n.k) AS k, COALESCE(b.c, 0) AS c_base,
         |      COALESCE(n.c, 0) AS c_new,
         |      COALESCE(b.c, 0) + COALESCE(n.c, 0) AS c_merged
         |    FROM ($b) b FULL JOIN ($n) n ON b.k = n.k
         |  ) m FULL JOIN ($f) f ON m.k = f.k
         |)""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id, text,
       |    ${portableHashSql("text || '|qrefresh'")} % 10 AS hsplit
       |  FROM documents
       |),
       |base AS (SELECT doc_id, text FROM docs WHERE hsplit != 0),
       |batch AS (SELECT doc_id, text FROM docs WHERE hsplit = 0)
       |${lawSql("uni", uniSql("base"), uniSql("batch"), uniSql("docs"))}
       |UNION ALL
       |${lawSql("bi", biSql("base"), biSql("batch"), biSql("docs"))}
       |ORDER BY kind""".stripMargin
  }

  // ------------------------------------------------------------------
  // Frozen-model quality gate: the E312 funnel scored under E315 stats
  // ------------------------------------------------------------------

  /** The frozen reference model of [[qDocQualityGateFrozen]]: unigram
    * counts, corpus totals, and the bigram table, trained on a base
    * corpus once and then applied to arrivals without touching the base
    * again. All three frames are vocabulary-bounded (Zipf-concentrated)
    * — broadcast-sized at any corpus scale; at production scale they
    * are read from the model store instead of recomputed. */
  private[graft] final case class FrozenQualityModel(
      uni: DataFrame, totals: DataFrame, bi: DataFrame) {
    def persistAll(): FrozenQualityModel = { Seq(uni, totals, bi).foreach(Exec.share); this }
    def unpersistAll(): Unit = Seq(uni, totals, bi).foreach(_.unpersist())
  }

  /** Train the frozen model on `base` (doc_id, text): one tokenized scan
    * for unigram counts + totals, one bigram pass. */
  private[graft] def frozenQualityModel(base: DataFrame): FrozenQualityModel = {
    val toks = base.withColumn("toks", split(col("text"), " "))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
    val totals = uni.agg(sum(col("tf")).as("t"), count(lit(1)).as("v"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(expr("transform(sequence(1, size(toks) - 1)," +
        " i -> concat_ws(' ', slice(toks, i, 2)))")).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    FrozenQualityModel(uni, totals, bi)
  }

  /** The per-batch stats partials of the E336 streaming maintenance —
    * exactly [[frozenQualityModel]]'s two aggregations over ONE batch,
    * factored so the stored stats and the from-docs model cannot drift.
    * Totals are not stored: t = Σ tf and v = |keys| are derivable from
    * the summed unigram table. */
  private[graft] def statsPartials(batch: DataFrame): (DataFrame, DataFrame) = {
    val m = frozenQualityModel(batch)
    (m.uni, m.bi)
  }

  /** Rebuild the [[FrozenQualityModel]] from a STORED stats table — the
    * E336 read side: per-batch unigram/bigram count partials land in
    * `batch_id=<n>/` partition dirs, and the model is their additive
    * roll-up (the E329 merge law, live: vocab-bounded groupBy-sum over
    * metadata-scale partials — the corpus text is never re-read). At
    * production scale the partials are periodically compacted; the
    * roll-up here IS that compaction. */
  private[graft] def storedQualityModel(spark: SparkSession,
      statsDir: String): FrozenQualityModel = {
    // readAny: the partial dirs may be the door's one-shot artifact dump
    // (plain parquet) OR a streaming stats table with per-batch dirs —
    // which, once compacted, serves its rows from the hidden merged
    // generation a plain glob would silently miss
    val uni = graft.streaming.StreamTable.readAny(spark, s"$statsDir/uni")
      .groupBy(col("w")).agg(sum(col("tf")).as("tf"))
    val totals = uni.agg(sum(col("tf")).as("t"), count(lit(1)).as("v"))
    val bi = graft.streaming.StreamTable.readAny(spark, s"$statsDir/bi")
      .groupBy(col("bg")).agg(sum(col("c2")).as("c2"))
    FrozenQualityModel(uni, totals, bi)
  }

  /** [[qualityGateFrozen]] plus the persisted per-batch docs handle, so a
    * long-lived caller (the streaming ingest gate — one invocation per
    * micro-batch, no clearCache between) can release the cache after
    * consuming the verdicts (the `fuzzyContamPairsWith` discipline). */
  private[graft] def qualityGateFrozenWith(spark: SparkSession, arrivals: DataFrame,
      model: FrozenQualityModel): (DataFrame, DataFrame) = {
    val par = spark.sparkContext.defaultParallelism
    // eager: four signal branches consume it concurrently
    val docs = Exec.share(arrivals.repartition(par, col("doc_id")))

    // 1. repetition — model-free, the qDocRepetition kernel unchanged
    val rep = TextOps.repetitionFrom(docs)
      .select(col("doc_id"), col("n_shingles"), col("rep_ratio"))

    // 2. bigram fluency under the FROZEN table: per position p =
    // c2(bg)/c1(w1) from the base model, 0.0 for anything the base never
    // saw (an OOV leading token or an unseen adjacency is non-fluency
    // under the reference LM — that is the point of freezing); the same
    // ordered position fold as the self-trained kernel
    val bgExpr = "transform(sequence(1, size(toks) - 1)," +
      " i -> struct(i AS pos, toks[i-1] AS w1, concat_ws(' ', slice(toks, i, 2)) AS bg))"
    val bgl = docs.withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(bgExpr)).as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"), col("b.w1").as("w1"),
        col("b.bg").as("bg"))
    val bg = bgl
      .join(broadcast(model.bi), Seq("bg"), "left")
      .join(broadcast(model.uni.select(col("w").as("w1"), col("tf").as("c1"))),
        Seq("w1"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("c2").isNotNull && col("c1").isNotNull,
          col("c2").cast("double") / col("c1").cast("double"))
          .otherwise(lit(0.0)).as("p"))
      .groupBy(col("doc_id"))
      .agg((orderedSum("pos", "p") / count(lit(1))).as("avg_bigram_p"))

    // 3. unigram cross-entropy under the frozen LM (micro-nats/token):
    // OOV tokens score the +1-smoothed floor 1/(t+v) — the E315 form
    val xent = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf_dw"))
      .join(broadcast(model.uni), Seq("w"), "left")
      .withColumn("tf0", coalesce(col("tf"), lit(0L)))
      .crossJoin(broadcast(model.totals))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf_dw")).as("nt"),
        sum(col("tf_dw") *
          (quantLog(col("tf0") + 1) - quantLog(col("t") + col("v"))))
          .as("sum_qlp"))
      .select(col("doc_id"), expr("(-sum_qlp) div nt").as("xent_micronat"))

    // 4. lexical quality + token floor — model-free
    val qual = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"),
      TextOps.qualityScoreCol.as("quality_score"))

    val failRep = col("n_shingles") >= gateMinShingles &&
      col("rep_ratio") > gateMaxRepRatio
    val failBg = col("n_tokens") >= 2 &&
      coalesce(col("avg_bigram_p"), lit(0.0)) < gateMinBigramP
    val failXe = col("xent_micronat") > gateMaxXentMicroNat
    val failQu = col("n_tokens") < gateMinTokens || col("quality_score") < gateMinQuality
    val out = qual.join(rep, "doc_id").join(bg, Seq("doc_id"), "left")
      .join(xent, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("rep_ratio"),
        coalesce(col("avg_bigram_p"), lit(0.0)).as("avg_bigram_p"),
        col("xent_micronat"), col("quality_score"),
        failRep.as("fail_repetition"), failBg.as("fail_bigram"),
        failXe.as("fail_xent"), failQu.as("fail_quality"),
        when(failRep, "repetition").when(failBg, "bigram_lm")
          .when(failXe, "perplexity").when(failQu, "low_quality")
          .otherwise("kept").as("drop_reason"))
    (out, docs)
  }

  /** FROZEN-MODEL QUALITY GATE — the [[qDocQualityGate]] funnel scored
    * under the E315 frozen-stats discipline instead of self-training on
    * the corpus being scored: the reference model (unigram LM, totals,
    * bigram table) is trained on a content-keyed BASE split and frozen,
    * and only the arrivals are scored — the form an INGEST-time gate
    * must take, because a per-shard self-trained gate would re-score the
    * corpus per arrival (O(corpus) per micro-batch) and its thresholds
    * would drift with every batch's own statistics. This is the batch
    * anchor of the streaming ingest gate
    * ([[graft.streaming.IncrementalPipeline.qualityAvailableNow]]),
    * which screens per micro-batch with the SAME kernel and the SAME
    * frozen model — spec-proven shard-decomposable (scoring is per-doc
    * under a fixed model, so per-batch verdicts union to this op's).
    *
    * Attribution under a frozen model differs from the self-trained gate
    * exactly where it should: a 100%-OOV document now fails the BIGRAM
    * arm first (p = 0 under the reference LM — under self-training its
    * unique self-bigrams scored a perfect 1.0) while its `fail_xent`
    * boolean still records the perplexity arm's independent verdict —
    * the per-arm booleans, not just the funnel, are the output.
    *
    * Fixture: base/arrival split by content hash (the E315 rule — the
    * synthetic `source` is id-derived, an id split would alias);
    * arrivals carry the three E312 defect plants (negative id space,
    * derived from every doc so every SF has plants): looping spam
    * (repetition), per-doc-unique vocabulary (bigram-first under the
    * frozen model, fail_xent also true), 10-token truncations (token
    * floor).
    *
    * Scale (100 TB): the frozen tables are vocabulary-bounded and
    * broadcast at every probe; arrivals shuffle only on their own
    * doc-keyed partial aggregates; the base corpus is touched once to
    * train the model (in production: read from the model store, the
    * plan keeps it as separate broadcast inputs to mirror that).
    */
  def qDocQualityGateFrozen(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val h = portableHash(concat(col("text"), lit("|qgate"))) % 10
    val base = docs.filter(h =!= 0)
    def inj(m: Int, textCol: Column): DataFrame =
      docs.filter(col("doc_id") % 40 === m)
        .select((-col("doc_id") - 1).as("doc_id"), textCol.as("text"))
    val arrivals = docs.filter(h === 0)
      .unionAll(inj(1, concat(expr("repeat('spam ', 60)"), lit("tail"),
        col("doc_id").cast("string"))))
      .unionAll(inj(3, expr("concat_ws(' ', transform(split(text, ' '), " +
        "t -> concat(t, 'z', CAST(doc_id AS STRING))))")))
      .unionAll(inj(4, expr("concat_ws(' ', slice(split(text, ' '), 1, 10))")))
    // spread the model's per-row unigram/bigram explodes
    val model = frozenQualityModel(Exec.spread(base, col("doc_id"))).persistAll()
    qualityGateFrozenWith(spark, arrivals, model)._1.orderBy(col("doc_id"))
  }

  val qDocQualityGateFrozenSql: String = {
    val failRep = s"(n_shingles >= $gateMinShingles AND rep_ratio > $gateMaxRepRatio)"
    val failBg = s"(n_tokens >= 2 AND COALESCE(avg_bigram_p, 0.0) < $gateMinBigramP)"
    val failXe = s"xent_micronat > $gateMaxXentMicroNat"
    val failQu = s"(n_tokens < $gateMinTokens OR quality_score < $gateMinQuality)"
    val bigramP = "CASE WHEN c2 IS NOT NULL AND tf IS NOT NULL " +
      "THEN CAST(c2 AS DOUBLE) / CAST(tf AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
    s"""WITH docs AS (
       |  SELECT doc_id, text,
       |    ${portableHashSql("text || '|qgate'")} % 10 AS hsplit
       |  FROM documents
       |),
       |base AS (SELECT doc_id, text FROM docs WHERE hsplit != 0),
       |arrivals AS (
       |  SELECT doc_id, text FROM docs WHERE hsplit = 0
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id,
       |    repeat('spam ', 60) || 'tail' || CAST(doc_id AS VARCHAR) AS text
       |  FROM docs WHERE doc_id % 40 = 1
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id,
       |    array_to_string(list_transform(string_split(text, ' '),
       |      t -> t || 'z' || CAST(doc_id AS VARCHAR)), ' ') AS text
       |  FROM docs WHERE doc_id % 40 = 3
       |  UNION ALL
       |  SELECT -doc_id - 1 AS doc_id,
       |    array_to_string((string_split(text, ' '))[1:10], ' ') AS text
       |  FROM docs WHERE doc_id % 40 = 4
       |),
       |uni AS (
       |  SELECT w, count(*) AS tf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM base) GROUP BY w
       |),
       |totals AS (SELECT CAST(sum(tf) AS BIGINT) AS t, count(*) AS v FROM uni),
       |bmodel AS (
       |  SELECT bg, count(*) AS c2
       |  FROM (
       |    SELECT t[pos] || ' ' || t[pos + 1] AS bg
       |    FROM (SELECT t, unnest(generate_series(1, greatest(len(t) - 1, 0))) AS pos
       |          FROM (SELECT string_split(text, ' ') AS t FROM base))
       |  ) GROUP BY bg
       |),
       |dt AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM arrivals),
       |sh AS (
       |  SELECT doc_id,
       |    unnest(list_transform(${Dedup.shinglesSqlExpr}, s -> ${h31Sql("s")})) AS h
       |  FROM dt
       |),
       |shc AS (SELECT doc_id, h, count(*) AS c FROM sh GROUP BY doc_id, h),
       |rep AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_shingles,
       |    CAST(max(c) AS DOUBLE) /
       |    CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS rep_ratio
       |  FROM shc GROUP BY doc_id
       |),
       |bgl AS (
       |  SELECT doc_id, pos, t[pos] AS w1, t[pos] || ' ' || t[pos + 1] AS bg
       |  FROM (SELECT doc_id, t,
       |          unnest(generate_series(1, greatest(len(t) - 1, 0))) AS pos
       |        FROM dt)
       |),
       |bg AS (
       |  SELECT doc_id,
       |    ${orderedSumSql(bigramP, "pos")} / count(*) AS avg_bigram_p
       |  FROM bgl
       |  LEFT JOIN bmodel USING (bg)
       |  LEFT JOIN (SELECT w AS w1, tf FROM uni) u USING (w1)
       |  GROUP BY doc_id
       |),
       |by_doc AS (
       |  SELECT doc_id, w, count(*) AS tf_dw
       |  FROM (SELECT doc_id, unnest(t) AS w FROM dt) GROUP BY doc_id, w
       |),
       |xent AS (
       |  SELECT doc_id,
       |    (-CAST(sum(tf_dw * (${quantLogSql("COALESCE(tf, 0) + 1")} -
       |      ${quantLogSql("t + v")})) AS BIGINT)) //
       |      CAST(sum(tf_dw) AS BIGINT) AS xent_micronat
       |  FROM by_doc LEFT JOIN uni USING (w) CROSS JOIN totals GROUP BY doc_id
       |),
       |qual AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${TextOps.qualityScoreSql} AS quality_score
       |  FROM arrivals
       |),
       |gated AS (
       |  SELECT q.doc_id, n_tokens, n_shingles, rep_ratio,
       |    COALESCE(avg_bigram_p, 0.0) AS avg_bigram_p, xent_micronat, quality_score
       |  FROM qual q
       |  JOIN rep USING (doc_id)
       |  LEFT JOIN bg USING (doc_id)
       |  JOIN xent USING (doc_id)
       |)
       |SELECT doc_id, n_tokens, rep_ratio, avg_bigram_p, xent_micronat, quality_score,
       |  $failRep AS fail_repetition,
       |  $failBg AS fail_bigram,
       |  $failXe AS fail_xent,
       |  $failQu AS fail_quality,
       |  CASE WHEN $failRep THEN 'repetition'
       |       WHEN $failBg THEN 'bigram_lm'
       |       WHEN $failXe THEN 'perplexity'
       |       WHEN $failQu THEN 'low_quality'
       |       ELSE 'kept' END AS drop_reason
       |FROM gated
       |ORDER BY doc_id""".stripMargin
  }

  val qDocSourceGiniSql: String =
    """WITH by_source AS (
      |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS bytes
      |  FROM documents GROUP BY source
      |),
      |ranked AS (
      |  SELECT source, bytes,
      |    CAST(row_number() OVER (ORDER BY bytes ASC, source ASC) AS BIGINT) AS rnk,
      |    CAST(sum(bytes) OVER (ORDER BY bytes ASC, source ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes
      |  FROM by_source
      |),
      |totals AS (
      |  SELECT count(*) AS n_src, CAST(sum(bytes) AS BIGINT) AS s0,
      |    CAST(sum(rnk * bytes) AS BIGINT) AS s1
      |  FROM ranked
      |)
      |SELECT source, bytes, rnk, cum_bytes,
      |  CAST(cum_bytes AS DOUBLE) / CAST(s0 AS DOUBLE) AS cum_share,
      |  CAST(2 * s1 - (n_src + 1) * s0 AS DOUBLE) /
      |    CAST(n_src * s0 AS DOUBLE) AS gini
      |FROM ranked CROSS JOIN totals
      |ORDER BY rnk""".stripMargin
}
