package graft.streaming

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Exec
import graft.etl.StarSchema
import graft.ext.{CorpusOps, Dedup, Similarity, TextOps}

/** Spark-native analog of the reference's event-driven incrementality
  * (SURVEY §2.9): there, each monthly file landing in S3 fires a Lambda
  * that starts a Glue run of the batch pipeline over that one file
  * (lambda-process-s3-raw-nyc-files/lambda_function.py:12-22). Structured
  * Streaming's file source reproduces "each new file triggers the
  * pipeline" without the Lambda/EventBridge scaffolding:
  * `readStream` over the drop directory + `Trigger.AvailableNow` (drain
  * everything discovered, then stop — re-run per arrival or on a
  * schedule) + `foreachBatch` running the IDENTICAL batch transform.
  *
  * The reference derives the partition stamp (year/month) from the file
  * name in the Lambda; callers here pass it the same way the Glue job
  * receives it (job args). Exactly-once at file granularity comes from
  * the source's checkpointed file log plus the pipeline's own dedup
  * (ny:271) on re-drops — the same operational story as the reference.
  *
  * Every driver below runs through [[drain]], and every per-batch
  * appender commits through [[exactlyOnce]].
  *
  * Scale notes: the file source lists incrementally (maxFilesPerTrigger
  * caps batch size when backfilling years of months); each micro-batch is
  * the ordinary batch plan, so everything said about the batch pipeline's
  * shuffles/pruning applies unchanged.
  */
object IncrementalPipeline {

  /** The one stream driver: drain every file currently in `inputDir`
    * (parquet drops with `schema`) under `Trigger.AvailableNow`, handing
    * each micro-batch and its id to `perBatch`; blocks until done. The
    * checkpointed file log makes a whole re-run with no new files a
    * no-op. */
  private def drain(spark: SparkSession, inputDir: String, schema: StructType,
      checkpointDir: String)(perBatch: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema).parquet(inputDir).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(perBatch)
      .start()
      .awaitTermination()

  /** The one exactly-once commit for the per-batch appenders writing
    * beside `dir`, keyed on the [[StreamState]] marker at `${dir}_state`:
    *
    *   - a batch id at or below the committed high-water mark is a NO-OP
    *     (`body` is never called) — the foreachBatch retry guard. The
    *     check keys on the marker, NOT on data rows: a clean batch writes
    *     nothing yet must read as done, and a crash inside a multi-file
    *     data write must not;
    *   - otherwise `body` runs with the state read (its `endOffset` is the
    *     appender's running offset), writing the batch's data FIRST into
    *     `batch_id=<id>/` dirs that a retry overwrites ([[writeBatch]]);
    *   - the marker `State(<offset body returns>, batchId)` commits LAST,
    *     so a crash anywhere replays the whole batch, never half-skips it.
    *
    * The audit read is the one-row state table — O(1) per arrival, never
    * a history scan. Package-visible so the spec can drive the protocol
    * directly. */
  private[streaming] def exactlyOnce(spark: SparkSession, dir: String, batchId: Long)(
      body: StreamState.State => Long): Unit = {
    val stateDir = s"${dir}_state"
    val st = StreamState.read(spark, stateDir)
    if (batchId > st.maxBatch)
      StreamState.commit(spark, stateDir, StreamState.State(body(st), batchId))
  }

  /** Overwrite one batch's partition dir `dir/batch_id=<batchId>`. */
  private[streaming] def writeBatch(df: DataFrame, dir: String, batchId: Long,
      partCols: String*): Unit =
    df.write.partitionBy(partCols: _*).mode(SaveMode.Overwrite)
      .parquet(s"$dir/batch_id=$batchId")

  /** Append `prep`'s rows to the near-dup signature index as batch
    * `batchId`: sets partitioned on (hb, db) — content-hash bucket for the
    * exact arm, doc-id bucket for the verify arm — and bands on the
    * band-key bucket, so every per-batch probe prunes to the batch's
    * buckets instead of scanning the index whole. */
  private def writeNearDupIndex(prep: DataFrame, indexDir: String, batchId: Long,
      setBuckets: Int, bandBuckets: Int): Unit = {
    writeBatch(Dedup.nearDupSetsBucketed(prep, setBuckets), s"$indexDir/sets",
      batchId, "hb", "db")
    writeBatch(Dedup.nearDupBandsBucketed(prep, bandBuckets), s"$indexDir/bands",
      batchId, "bb")
  }

  /** A crash between the index writes and the marker can leave batch
    * `batchId`'s own rows as orphan index partitions — drop them before
    * screening, or the retried batch would match itself in the index and
    * misreport its docs as dup_of_corpus. */
  private def dropOrphanIndex(spark: SparkSession, indexDir: String, batchId: Long): Unit =
    Seq("sets", "bands").foreach { t =>
      val p = new Path(s"$indexDir/$t/batch_id=$batchId")
      StreamState.fs(spark, p.toString).delete(p, true)
    }

  /** Drain `inputDir` (parquet drops with `schema`), running the Job-1
    * transform per micro-batch and handing each fact batch to `sink`.
    * Blocks until all currently-available files are processed.
    */
  def runAvailableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      processedYear: String,
      processedMonth: String,
      checkpointDir: String)(sink: DataFrame => Unit): Unit =
    drain(spark, inputDir, schema, checkpointDir) { (batch, _) =>
      sink(StarSchema.transform(batch, processedYear, processedMonth))
    }

  /** STREAMING INCREMENTAL PACKER — the arriving-shard twin of the batch
    * concat-and-chunk layout ([[graft.ext.TextOps.qDocPackChunks]], the
    * two-level-prefix-sum packing surface): each micro-batch of dropped
    * document files is laid out AFTER the tokens already packed, so the
    * persistent layout table at `layoutDir` always describes one gapless
    * packed corpus — exactly what a training pipeline appends to its
    * tokenized-shard index as new crawl dumps land, without ever
    * re-packing history.
    *
    * Per micro-batch ([[appendPackedBatch]]) the batch is laid out with
    * the SAME two-level decomposition kernel as the batch op
    * ([[graft.ext.TextOps.packLayout]]) shifted by the running end offset
    * the [[StreamState]] marker carries.
    *
    * Scale (100 TB): the per-batch layout work is the batch kernel's —
    * partition-parallel two-level prefix sum over the BATCH, never over
    * history; history is touched by NOTHING (the audit read is the
    * one-row state table, the commit-metadata form). Appending shards
    * never re-shuffles packed history — the O(batch) incremental
    * discipline of the E89/E306 index-maintenance family, applied to the
    * packing surface.
    */
  def packAvailableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      layoutDir: String,
      checkpointDir: String): Unit =
    drain(spark, inputDir, schema, checkpointDir) { (batch, batchId) =>
      appendPackedBatch(spark, batch, batchId, layoutDir)
    }

  /** STREAMING DECONTAMINATION SCREEN — the ingest-time twin of the
    * batch fuzzy gate ([[graft.ext.Dedup.qDocDecontamFuzzy]]): every
    * arriving shard of documents is screened against the frozen
    * benchmark BEFORE it enters the corpus, so contamination is caught
    * at the door instead of by a later corpus-wide sweep. Per
    * micro-batch the SAME core runs batch-vs-eval
    * ([[graft.ext.Dedup.fuzzyContamPairs]] — normalize both sides,
    * recall-critical banding, exact-Jaccard verify, `caught_exact`) and
    * the contaminated pairs land in the flag table's per-batch partition
    * directory under [[exactlyOnce]] (even a CLEAN batch, which flags
    * nothing, is recorded as done and its retry is a true no-op).
    *
    * The screen is EXACTLY shard-decomposable: no train-side doc
    * interacts with another, so the union of per-batch flag sets equals
    * the batch gate run over the union corpus — asserted by the spec,
    * not assumed. Scale: per batch, the eval side is benchmark-sized
    * and fully broadcast; the arriving shard never shuffles beyond its
    * own signature groupBy — O(batch) per arrival like the packer.
    */
  def decontamAvailableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      evalDocs: DataFrame,
      flagDir: String,
      checkpointDir: String): Unit =
    drain(spark, inputDir, schema, checkpointDir) { (batch, batchId) =>
      appendContamFlags(spark, batch, evalDocs, batchId, flagDir)
    }

  /** STREAMING SEMANTIC DECONTAMINATION SCREEN — the ingest-time twin of
    * the IVF-routed semantic gate
    * ([[graft.ext.Similarity.qEmbDecontamIvf]], E317), completing the
    * decontamination trilogy at the door: exact-token (E51) and fuzzy
    * (E316) screens catch shared text surface; this one catches the
    * rewritten/translated paraphrase with NO shared tokens — arriving
    * embedding shards screened against the frozen benchmark before their
    * vectors enter the corpus index.
    *
    * The quantizer is the production index's, trained ONCE on the base
    * corpus at stream start and FROZEN (the E315/E319/E325 frozen-model
    * discipline) — never on the arriving batch, which is exactly what
    * makes the screen shard-decomposable: under a fixed quantizer each
    * vector's cell, candidates, and cosine verify are functions of that
    * vector alone, so the union of per-batch flag sets provably equals
    * the frozen-quantizer batch screen over the union corpus (asserted by
    * the spec). The batch gate trains on the union train side instead —
    * the drift between the two is the E313 rebuild trigger's job to
    * detect, not this screen's to hide.
    *
    * Per micro-batch (see [[appendSemanticFlags]]): assign the batch at
    * nprobe=1 via the narrow probeCells fold, equi-join the ONCE-computed
    * broadcast eval-side assignment (benchmark probes its 2 nearest
    * cells), exact-cosine verify at τ, flags append under
    * [[exactlyOnce]]. O(batch) per arrival: the only non-broadcast input
    * is the shard itself.
    */
  def semanticAvailableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      baseEmb: => DataFrame,
      evalE: => DataFrame,
      flagDir: String,
      checkpointDir: String): Unit = {
    // frozen quantizer + benchmark assignment boot from their STORED
    // forms after the first start (E322/E325 lifecycle applied here):
    // a restart is metadata-only and never forces the by-name frames
    val (qArr, evalA) = bootSemanticArtifacts(spark,
      s"${flagDir}_artifacts", Some(() => baseEmb), Some(() => evalE)).get
    drain(spark, inputDir, schema, checkpointDir) { (batch, batchId) =>
      appendSemanticFlags(spark, batch, evalA, qArr, batchId, flagDir)
    }
  }

  /** STORED SEMANTIC ARTIFACTS — the frozen quantizer (one
    * centroid-array row) and the benchmark's pre-assigned probe cells
    * (benchmark-sized), persisted at first training under a marker
    * commit and loaded on every later start, so a restart never
    * re-derives them. Returns
    * None when nothing is stored AND no training sources are supplied —
    * the embedding-blind door. Both loaded frames are checkpointed
    * LogicalRDD leaves (broadcast-sized per-batch probes). */
  private[streaming] def bootSemanticArtifacts(
      spark: SparkSession,
      dir: String,
      semBase: Option[() => DataFrame],
      semEval: Option[() => DataFrame]): Option[(DataFrame, DataFrame)] = {
    // a half-specified gate must fail loudly, not silently disarm
    require(semBase.isDefined == semEval.isDefined,
      "semantic artifacts need both a base and an eval source (or neither)")
    val stateDir = s"${dir}_state"
    if (StreamState.read(spark, stateDir).endOffset == 0L) {
      (semBase, semEval) match {
        case (Some(b), Some(ev)) =>
          val qArr = Exec.share(Similarity.centroidArrayOfE(b(), None))
          try {
            qArr.write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
            Similarity.semanticEvalAssign(ev(), qArr)
              .write.mode(SaveMode.Overwrite).parquet(s"$dir/eval_assign")
          } finally qArr.unpersist()
          StreamState.commit(spark, stateDir, StreamState.State(1L, -1L))
        case _ => return None
      }
    }
    Some((
      spark.read.parquet(s"$dir/centroids").localCheckpoint(true),
      spark.read.parquet(s"$dir/eval_assign").localCheckpoint(true)))
  }

  /** One micro-batch screen of [[semanticAvailableNow]] — package-visible
    * so the spec can drive a batch-retry directly. */
  private[streaming] def appendSemanticFlags(
      spark: SparkSession,
      batch: DataFrame,
      evalA: DataFrame,
      qArr: DataFrame,
      batchId: Long,
      flagDir: String): Unit =
    exactlyOnce(spark, flagDir, batchId) { _ =>
      val side = batch.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("e"))
      writeBatch(Similarity.semanticScreenWith(side, evalA, qArr), flagDir, batchId)
      0L
    }

  /** STREAMING QUALITY GATE AT INGEST — the arriving-shard twin of the
    * frozen-model quality funnel
    * ([[graft.ext.CorpusOps.qDocQualityGateFrozen]]): every micro-batch
    * of dropped document files is scored under the FROZEN base-corpus
    * reference model (unigram LM, totals, bigram table — trained ONCE at
    * stream start, broadcast-sized), and the per-document verdicts
    * (signal values, per-arm booleans, funnel `drop_reason`) append to a
    * persistent verdict table under [[exactlyOnce]]. Freezing is what
    * makes the gate O(batch): a
    * self-trained gate would re-score the corpus per arrival, and its
    * thresholds would drift with each batch's own statistics (E315's
    * `retrain_flag` is the audit that says when the frozen model itself
    * needs refreshing).
    *
    * The gate is EXACTLY shard-decomposable by construction — scoring is
    * per-document under a fixed model — so the union of per-batch
    * verdicts equals the batch gate run under the same frozen stats over
    * the union corpus (asserted by the spec, not assumed).
    *
    * Scale (100 TB): per batch the arriving shard pays only its own
    * doc-keyed partial aggregates; every model probe is a broadcast
    * join; the base corpus is touched once, at model-training time (in
    * production: read from the model store). The per-batch shard cache
    * is explicitly released via the returned persist handle.
    */
  def qualityAvailableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      baseDocs: DataFrame,
      verdictDir: String,
      checkpointDir: String): Unit = {
    val model = CorpusOps.frozenQualityModel(baseDocs).persistAll()
    try drain(spark, inputDir, schema, checkpointDir) { (batch, batchId) =>
      appendQualityVerdicts(spark, batch, model, batchId, verdictDir)
    } finally model.unpersistAll()
  }

  /** One micro-batch score of [[qualityAvailableNow]] — package-visible so
    * the spec can drive a batch-retry directly. */
  private[streaming] def appendQualityVerdicts(
      spark: SparkSession,
      batch: DataFrame,
      model: CorpusOps.FrozenQualityModel,
      batchId: Long,
      verdictDir: String): Unit =
    exactlyOnce(spark, verdictDir, batchId) { _ =>
      val (verdicts, cached) = CorpusOps.qualityGateFrozenWith(
        spark, batch.select(col("doc_id"), col("text")), model)
      try writeBatch(verdicts, verdictDir, batchId) finally cached.unpersist()
      0L
    }

  /** [[qualityAvailableNow]] with the verdict table kept in the DSv2
    * STORE ([[graft.sources.StoreSource]]) instead of path-convention
    * partition dirs: each micro-batch's verdicts commit through Spark's
    * own committer with an epoch key of (stream id, batch id), so the
    * exactly-once guarantee — a crash-retried batch publishes no
    * duplicate — comes from the store's manifest-gated epoch protocol
    * rather than from a [[StreamState]] marker: the appender carries NO
    * marker state of its own; idempotence, atomic visibility, and abort
    * semantics are all the committer's.
    */
  def qualityAvailableNowStore(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      baseDocs: DataFrame,
      verdictStoreDir: String,
      checkpointDir: String): Unit = {
    val model = CorpusOps.frozenQualityModel(baseDocs).persistAll()
    try drain(spark, inputDir, schema, checkpointDir) { (batch, batchId) =>
      appendQualityVerdictsStore(spark, batch, model, batchId, verdictStoreDir)
    } finally model.unpersistAll()
  }

  /** One micro-batch of [[qualityAvailableNowStore]]: NO seen-check, no
    * marker — [[graft.sources.StoreSource.writeEpoch]]'s epoch-keyed
    * commit makes the re-delivered batch a no-op by itself.
    * Package-visible so the spec can drive a batch-retry directly. */
  private[streaming] def appendQualityVerdictsStore(
      spark: SparkSession,
      batch: DataFrame,
      model: CorpusOps.FrozenQualityModel,
      batchId: Long,
      verdictStoreDir: String): Unit = {
    val (verdicts, cached) = CorpusOps.qualityGateFrozenWith(
      spark, batch.select(col("doc_id"), col("text")), model)
    try graft.sources.StoreSource.writeEpoch(
      verdicts, verdictStoreDir, "quality_verdicts", batchId)
    finally cached.unpersist()
  }

  /** One micro-batch screen of [[decontamAvailableNow]] — package-visible
    * so the spec can drive a batch-retry directly. */
  private[streaming] def appendContamFlags(
      spark: SparkSession,
      batch: DataFrame,
      evalDocs: DataFrame,
      batchId: Long,
      flagDir: String): Unit =
    exactlyOnce(spark, flagDir, batchId) { _ =>
      val (pairs, cached) = Dedup.fuzzyContamPairsWith(spark,
        batch.select(col("doc_id"), col("text")), evalDocs)
      // one invocation per micro-batch for the life of the stream, no
      // clearCache between: release the batch's prep cache on every path
      try writeBatch(pairs, flagDir, batchId) finally cached.unpersist()
      0L
    }

  /** STREAMING NEAR-DUP INGEST SCREEN — the minhash twin of the exact
    * incremental dedup (E89, [[graft.ext.Dedup.qDocIncrDedup]]), run at
    * the door: every arriving shard of documents is classified
    * dup_of_corpus / dup_in_batch / new against a PERSISTED signature
    * index (content hashes + shingle sets + band keys, seeded from the
    * existing corpus once and then grown per batch), so continuous
    * crawling pays O(batch) per ingestion instead of a corpus-wide
    * re-dedup. Verdicts and the batch's own index rows land in
    * per-batch partition directories under ONE [[exactlyOnce]] commit
    * (a retry after any crash overwrites all three partitions).
    *
    * Composition law (spec-proven, not assumed): with arrival order
    * consistent with doc_id order, the union of per-batch verdicts
    * equals the sequential replay of the same
    * [[graft.ext.Dedup.nearDupScreenWith]] kernel, and its DROP-SET
    * (status ≠ new) equals the one-shot batch rule over the union —
    * cross-shard duplicates differ only in attribution (the earlier
    * shard is "corpus" by the time the later one arrives), which is the
    * production-truthful label.
    *
    * Scale (100 TB): the index streams from storage and never
    * recomputes or reshuffles — and its partition dirs are BUCKETED on
    * each probe's key (hash/doc/band-key buckets,
    * [[graft.ext.Dedup.nearDupSetsBucketed]]), so every per-batch probe
    * partition-prunes to the batch's buckets instead of scanning the
    * index whole; the arriving shard broadcasts into every probe; index
    * growth is an append of the batch's prep + band rows.
    */
  def nearDupAvailableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      corpusDocs: DataFrame,
      indexDir: String,
      verdictDir: String,
      checkpointDir: String): Unit = {
    seedNearDupIndex(spark, corpusDocs, indexDir)
    drain(spark, inputDir, schema, checkpointDir) { (batch, batchId) =>
      appendNearDupBatch(spark, batch, batchId, indexDir, verdictDir)
    }
  }

  /** Idempotent one-time index seed from the pre-existing corpus (the
    * `endOffset` field of the index state doubles as the seeded flag).
    * `corpusDocs` is by-name: a RESTART against a seeded index never
    * forces (or scans) the corpus frame at all. The bucket fan-out the
    * layout is written under is COMMITTED INTO EACH TABLE'S OWN STATE
    * (`aux` of `sets_cstate`/`bands_cstate`, before the seeded marker)
    * — probes read it back instead of trusting the compiled default, so
    * an index seeded under one fan-out stays losslessly prunable from a
    * session compiled with another. */
  private[streaming] def seedNearDupIndex(
      spark: SparkSession,
      corpusDocs: => DataFrame,
      indexDir: String,
      buckets: Int = Dedup.nearDupIndexBuckets): Unit = {
    val stateDir = s"${indexDir}_state"
    val st = StreamState.read(spark, stateDir)
    if (st.endOffset == 0L) {
      val par = spark.sparkContext.defaultParallelism
      val prep = Exec.share(Dedup.nearDupPrep(
        corpusDocs.select(col("doc_id"), col("text"))
          .repartition(par, col("doc_id"))))
      try writeNearDupIndex(prep, indexDir, -1L, buckets, buckets)
      finally prep.unpersist()
      // record the fan-out each table's dirs were written under, THEN
      // the seeded marker (a crash between the two re-seeds — the
      // fan-out is only ever trusted for a marked index)
      StreamTable.commitAux(spark, s"$indexDir/sets", buckets.toLong)
      StreamTable.commitAux(spark, s"$indexDir/bands", buckets.toLong)
      StreamState.commit(spark, stateDir, StreamState.State(1L, st.maxBatch))
    }
  }

  /** Read the persisted signature index's two tables WITH their
    * partition-bucket columns (`hb`/`db` on sets, `bb` on bands) so the
    * screen's [[graft.ext.Dedup.pruneToBuckets]] probes prune to the
    * arriving batch's buckets at the parquet-directory level — the read
    * path every per-micro-batch screen shares — plus each table's
    * SELF-DESCRIBED bucket fan-out (the stored `aux`; 0 = a legacy
    * layout, read as the compiled default). Probe-side bucket values
    * and the batch's own index appends must both use these, never the
    * compiled constant. Package-visible so the spec can assert the
    * pruned scan's file count directly. */
  private[streaming] def readNearDupIndex(
      spark: SparkSession, indexDir: String): (DataFrame, DataFrame, Int, Int) = {
    // StreamTable.read resolves the compacted generation ∪ hot batch
    // dirs; pre-compaction it is exactly the plain directory read
    val sets = StreamTable.read(spark, s"$indexDir/sets")
      .select(col("doc_id"), col("h"), col("hs"), col("hb"), col("db"))
    val bands = StreamTable.read(spark, s"$indexDir/bands")
      .select(col("doc_id"), col("band_id"), col("band_key"), col("bb"))
    def fanout(root: String): Int = StreamTable.aux(spark, root) match {
      case 0L => Dedup.nearDupIndexBuckets
      case n  => n.toInt
    }
    (sets, bands, fanout(s"$indexDir/sets"), fanout(s"$indexDir/bands"))
  }

  /** MIGRATE the persisted index to a new bucket fan-out: one forced
    * [[StreamTable.compact]] pass per table recomputes the bucket
    * columns under `newBuckets` while rewriting the generation, and the
    * new fan-out commits in the SAME marker write as the generation it
    * describes — no window where probes could read dirs and fan-out
    * from different layouts. Run between drains (same fencing as
    * [[compactNearDupTables]]); after it, probes prune under the new
    * fan-out with the E341 IO law intact (spec re-asserts it at the
    * migrated fan-out). This is how a deployment grows 16 → 64 → 1024
    * as the index does, without the compiled default ever mattering. */
  def rebucketNearDupIndex(
      spark: SparkSession,
      indexDir: String,
      stateDir: String,
      newBuckets: Int,
      targetRows: Long = 1000000L): Unit = {
    val m = StreamState.read(spark, stateDir).maxBatch
    StreamTable.compact(spark, s"$indexDir/sets", m, Seq("hb", "db"), targetRows,
      transform = df => df
        .withColumn("hb", Dedup.nearDupBucket(col("h"), newBuckets))
        .withColumn("db", Dedup.nearDupBucket(col("doc_id"), newBuckets)),
      newAux = Some(newBuckets.toLong), force = true)
    StreamTable.compact(spark, s"$indexDir/bands", m, Seq("bb"), targetRows,
      transform = df => df
        .withColumn("bb", Dedup.nearDupBandBucket(newBuckets)),
      newAux = Some(newBuckets.toLong), force = true)
  }

  /** Compact the persisted near-dup signature index's two tables (and,
    * when `verdictDir` is given, the verdict table) through the
    * committed high-water of `stateDir` — the between-drains maintenance
    * pass that keeps per-micro-batch listing cost flat over 10⁴⁺
    * batches. Bucket partition columns survive the rewrite, so the
    * screens' pruned probes prune the merged generation too. */
  def compactNearDupTables(
      spark: SparkSession,
      indexDir: String,
      stateDir: String,
      verdictDir: Option[String] = None,
      targetRows: Long = 1000000L): Unit = {
    val m = StreamState.read(spark, stateDir).maxBatch
    StreamTable.compact(spark, s"$indexDir/sets", m, Seq("hb", "db"), targetRows)
    StreamTable.compact(spark, s"$indexDir/bands", m, Seq("bb"), targetRows)
    verdictDir.foreach(v => StreamTable.compact(spark, v, m, Seq.empty, targetRows))
  }

  /** Compact ALL FOUR of the ingest door's per-batch tables (verdicts,
    * admitted layout, index sets, index bands) through the door's own
    * committed high-water — the between-drains maintenance pass for the
    * E326 composition. Safe with respect to the door's retry guard
    * (which keys on the untouched `${outDir}_state` marker) and its
    * orphan-index cleanup (which only ever deletes dirs ABOVE the
    * high-water this pass compacts below). */
  def compactDoorTables(
      spark: SparkSession,
      outDir: String,
      targetRows: Long = 1000000L): Unit = {
    val m = StreamState.read(spark, s"${outDir}_state").maxBatch
    StreamTable.compact(spark, s"$outDir/verdicts", m, Seq.empty, targetRows)
    StreamTable.compact(spark, s"$outDir/admitted", m, Seq.empty, targetRows)
    StreamTable.compact(spark, s"$outDir/index/sets", m, Seq("hb", "db"), targetRows)
    StreamTable.compact(spark, s"$outDir/index/bands", m, Seq("bb"), targetRows)
  }

  /** Compact a STANDALONE screen's per-batch table (the
    * `$dir/batch_id=<n>` + `${dir}_state` marker shape shared by the
    * quality gate's verdict table and the decontam/semantic flag
    * tables) through its own committed high-water — same fencing as
    * [[compactDoorTables]]: the marker the appender's retry guard keys
    * on is never touched, and dirs above the high-water (in-flight or
    * crash-orphaned batches) are never absorbed, so these tables stop
    * accumulating one directory per micro-batch. */
  def compactScreenTable(
      spark: SparkSession,
      dir: String,
      targetRows: Long = 1000000L): Long = {
    val m = StreamState.read(spark, s"${dir}_state").maxBatch
    StreamTable.compact(spark, dir, m, Seq.empty, targetRows)
  }

  /** Compact the E336 stats table's two partial dirs (`uni`/`bi`)
    * through the stats appender's committed high-water. The roll-up
    * reader ([[graft.ext.CorpusOps.storedQualityModel]]) resolves the
    * merged generation via [[StreamTable.readAny]], so the additive
    * merge law is untouched — compaction only collapses the
    * one-dir-per-batch listing the roll-up paid per refresh. */
  def compactStatsTables(
      spark: SparkSession,
      statsDir: String,
      targetRows: Long = 1000000L): Unit = {
    val m = StreamState.read(spark, s"${statsDir}_state").maxBatch
    StreamTable.compact(spark, s"$statsDir/uni", m, Seq.empty, targetRows)
    StreamTable.compact(spark, s"$statsDir/bi", m, Seq.empty, targetRows)
  }

  /** One micro-batch of [[nearDupAvailableNow]] — verdicts + index growth
    * under one commit; package-visible for the spec retry drive. The
    * index state commits `endOffset = 1`, the seeded flag. */
  private[streaming] def appendNearDupBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      indexDir: String,
      verdictDir: String): Unit =
    exactlyOnce(spark, indexDir, batchId) { _ =>
      dropOrphanIndex(spark, indexDir, batchId)
      // probe AND grow the index under its own stored fan-outs — the
      // compiled default plays no part once a layout exists
      val (sets, bands, sbk, bbk) = readNearDupIndex(spark, indexDir)
      val (verdicts, prep) = Dedup.nearDupScreenWith(
        spark, batch.select(col("doc_id"), col("text")), sets, bands, sbk, bbk)
      try {
        writeBatch(verdicts, verdictDir, batchId)
        writeNearDupIndex(prep, indexDir, batchId, sbk, bbk)
      } finally prep.unpersist()
      1L
    }

  /** STREAMING CORPUS-STATS MAINTENANCE (E336) — the operational form of
    * the E329 merge law: every arriving shard's unigram/bigram count
    * partials (the [[graft.ext.CorpusOps.frozenQualityModel]]
    * aggregations, factored through `statsPartials` so stored stats and
    * from-docs model cannot drift) append to a persistent stats table in
    * `batch_id=<n>/` partition dirs under [[exactlyOnce]]. The additive
    * roll-up of the stored
    * partials ([[graft.ext.CorpusOps.storedQualityModel]]) IS the frozen
    * quality model — so when E315's `retrain_flag` fires, the refresh is
    * a vocab-bounded groupBy-sum over metadata-scale partials, and the
    * corpus text is NEVER re-read (the stored model provably equals
    * training on the union of everything that arrived — the spec drives
    * the E319 gate under both and demands identical verdicts).
    *
    * Scale (100 TB): per batch, two batch-sized aggregations (map-side
    * combinable, Zipf-concentrated output); the stats table grows by one
    * vocab-bounded partial per batch and compacts by the same roll-up
    * that reads it.
    */
  def statsAvailableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      statsDir: String,
      checkpointDir: String): Unit =
    drain(spark, inputDir, schema, checkpointDir) { (batch, batchId) =>
      appendStatsBatch(spark, batch, batchId, statsDir)
    }

  /** One micro-batch append of [[statsAvailableNow]] — package-visible for
    * the spec's retry drive. */
  private[streaming] def appendStatsBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      statsDir: String): Unit =
    exactlyOnce(spark, statsDir, batchId) { _ =>
      val (uni, bi) = CorpusOps.statsPartials(batch.select(col("doc_id"), col("text")))
      writeBatch(uni, s"$statsDir/uni", batchId)
      writeBatch(bi, s"$statsDir/bi", batchId)
      0L
    }

  /** THE INGEST FRONT DOOR (E326) — the composition every screen above
    * exists for, run as ONE `foreachBatch` pipeline per arriving shard:
    *
    *   quality funnel (frozen model, E319/E320)
    *     → fuzzy decontamination vs the benchmark (E310/E316)
    *       → near-dup screen vs the persisted signature index (E89/E321)
    *         → frozen-tokenizer encode (E323/E325)
    *           → gapless pack after the tokens already admitted (E301/E311)
    *
    * Each stage runs only on the SURVIVORS of the previous one (the E312
    * funnel applied across operators: a doc dropped for quality is never
    * decontam-screened — its later-stage columns are NULL, not false),
    * and every document of the batch lands in the verdict table with
    * per-stage attribution and a first-failing `drop_reason`
    * (`quality:<arm>` / `contaminated` / `duplicate` / `admitted`).
    * Admitted documents leave the door TOKENIZED under the frozen stored
    * unigram model and PACKED after the running end offset — the
    * training-ready artifact — and only screened survivors grow the
    * near-dup index (rejected docs never enter the corpus, so nothing
    * may dedup against them).
    *
    * Exactly-once: all four batch partitions (verdicts, admitted layout,
    * index sets, index bands) commit under ONE [[exactlyOnce]] marker
    * carrying the new end offset.
    *
    * Scale (100 TB): O(batch) per arrival end-to-end — the frozen models
    * (quality stats, tokenizer costs/ids) and the benchmark are
    * broadcast-sized; the index streams from storage bucket-PRUNED to
    * the batch's partition buckets and grows by appending the batch's
    * bucketed rows;
    * packing is the batch kernel shifted by the one-row state offset;
    * history is never re-read, re-shuffled, or re-packed — including at
    * RESTART: [[bootIngestArtifacts]] loads the frozen models from
    * their stored forms (vocab-bounded reads), so a stream start after
    * the first touches neither `baseDocs` (by-name, never forced) nor
    * the corpus.
    *
    * EMBEDDING-AWARE: a shard whose schema carries a `vec` column
    * (array&lt;float&gt;, nullable) passes the E328 semantic screen as a
    * FOURTH gate between fuzzy decontamination and the dup screen —
    * the full trilogy (exact/fuzzy token + semantic paraphrase) inside
    * ONE funnel. The frozen quantizer and benchmark assignment boot
    * from stored artifacts ([[bootSemanticArtifacts]]); a doc with no
    * embedding gets `sem_contaminated = NULL` (unscreenable, not
    * clean). Standalone embedding TABLES (vector grain, no text) still
    * use [[semanticAvailableNow]].
    */
  def ingestAvailableNow(
      spark: SparkSession,
      inputDir: String,
      schema: StructType,
      baseDocs: => DataFrame,
      evalDocs: DataFrame,
      outDir: String,
      checkpointDir: String,
      semBase: Option[() => DataFrame] = None,
      semEval: Option[() => DataFrame] = None): Unit = {
    val (qModel, tokCosts, tokIds) = bootIngestArtifacts(spark, baseDocs, outDir)
    // the semantic fourth gate arms itself from stored artifacts (or
    // trains once from the supplied sources); None => embedding-blind
    try {
      val sem = bootSemanticArtifacts(spark, s"$outDir/artifacts/sem",
        semBase, semEval)
      seedNearDupIndex(spark, baseDocs, s"$outDir/index")
      drain(spark, inputDir, schema, checkpointDir) { (batch, batchId) =>
        ingestBatch(spark, batch, batchId, qModel, tokCosts, tokIds,
          evalDocs, outDir, sem)
      }
    } finally qModel.unpersistAll()
  }

  /** STORED-ARTIFACT BOOT for the ingest door, so a stream start never
    * retrains its frozen models from `baseDocs`. Boot order:
    *
    *   - artifacts present (the `_state` marker committed): load the
    *     quality model via [[graft.ext.CorpusOps.storedQualityModel]]'s
    *     roll-up (its E329 merge law makes the stored form provably
    *     equal to training on the base) and the tokenizer cost/id
    *     tables from their parquet form (the E325 lifecycle) — all
    *     vocab-bounded reads, `baseDocs` NEVER FORCED (it is a by-name
    *     parameter, so a restart does not even construct the frame;
    *     the restart spec passes a thunk that throws);
    *   - absent: train once from `baseDocs`, persist all four tables
    *     data-first, commit the marker LAST (a crash mid-write retrains
    *     on the next boot — artifacts are only trusted once marked).
    *
    * The quality artifact is written in the E336 stats-partial shape
    * (`quality/uni`, `quality/bi`), so a streaming stats table
    * maintained by [[statsAvailableNow]] can serve as the door's model
    * store directly. */
  private[streaming] def bootIngestArtifacts(
      spark: SparkSession,
      baseDocs: => DataFrame,
      outDir: String): (CorpusOps.FrozenQualityModel, DataFrame, DataFrame) = {
    val aDir = s"$outDir/artifacts"
    val stateDir = s"${aDir}_state"
    if (StreamState.read(spark, stateDir).endOffset == 0L) {
      val base = baseDocs // force the by-name frame once, train-path only
      val m = CorpusOps.frozenQualityModel(base)
      m.uni.write.mode(SaveMode.Overwrite).parquet(s"$aDir/quality/uni")
      m.bi.write.mode(SaveMode.Overwrite).parquet(s"$aDir/quality/bi")
      val (costs, ids) = TextOps.uniFrozenModel(base)
      costs.write.mode(SaveMode.Overwrite).parquet(s"$aDir/tok/costs")
      ids.write.mode(SaveMode.Overwrite).parquet(s"$aDir/tok/ids")
      StreamState.commit(spark, stateDir, StreamState.State(1L, -1L))
    }
    val qm = CorpusOps.storedQualityModel(spark, s"$aDir/quality").persistAll()
    // checkpoint both tokenizer tables so every micro-batch probes two
    // LogicalRDD leaves (the plan-string lesson)
    val costs = spark.read.parquet(s"$aDir/tok/costs").localCheckpoint(true)
    val ids = spark.read.parquet(s"$aDir/tok/ids").localCheckpoint(true)
    (qm, costs, ids)
  }

  /** One micro-batch of [[ingestAvailableNow]] — package-visible so the
    * spec can drive a batch-retry directly. */
  private[streaming] def ingestBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      qModel: CorpusOps.FrozenQualityModel,
      tokCosts: DataFrame,
      tokIds: DataFrame,
      evalDocs: DataFrame,
      outDir: String,
      sem: Option[(DataFrame, DataFrame)] = None): Unit =
    exactlyOnce(spark, outDir, batchId) { st =>
      val caches = mutable.Buffer.empty[DataFrame]
      try {
        val indexDir = s"$outDir/index"
        dropOrphanIndex(spark, indexDir, batchId)
        // every reused stage output below is localCheckpoint(true), NOT
        // persist: each reuse of a cached frame re-expands its whole
        // subtree in the plan STRING SQLExecution renders per action, and
        // the composed five-stage DAG multiplies those re-expansions into a
        // plan description that takes longer to PRINT than to run.
        // Checkpointing cuts each stage to a LogicalRDD leaf; the blocks
        // release via the ContextCleaner once the batch's references go
        // out of scope. The kernels' own persisted caches are released in
        // the finally below, on every path.
        val docs = batch.select(col("doc_id"), col("text")).localCheckpoint(true)
        // stage 1: frozen quality funnel over the whole batch
        val (qv, qCache) = CorpusOps.qualityGateFrozenWith(spark, docs, qModel)
        caches += qCache
        val qvP = qv.localCheckpoint(true)
        val surv1 = docs
          .join(qvP.filter(col("drop_reason") === "kept").select(col("doc_id")), "doc_id")
          .localCheckpoint(true)
        // stage 2: fuzzy decontamination on quality survivors
        val (pairs, dCache) = Dedup.fuzzyContamPairsWith(spark, surv1, evalDocs)
        caches += dCache
        val contam = pairs.select(col("doc_id")).distinct().localCheckpoint(true)
        val surv2 = surv1.join(contam, Seq("doc_id"), "left_anti").localCheckpoint(true)
        // stage 3: SEMANTIC decontamination (E328, the trilogy's third gate)
        // on vec-carrying fuzzy survivors — a doc with no embedding passes
        // through (NULL verdict, not false); the quantizer and benchmark
        // assignment are the stored frozen artifacts
        val hasVecCol = batch.columns.contains("vec")
        val semFlag: Option[DataFrame] = sem.filter(_ => hasVecCol).map {
          case (qArr, evalA) =>
            val side = batch
              .filter(col("vec").isNotNull)
              .select(col("doc_id").as("vec_id"),
                transform(col("vec"), _.cast("double")).as("e"))
              .join(surv2.select(col("doc_id").as("vec_id")), "vec_id")
            Similarity.semanticScreenWith(side, evalA, qArr)
              .select(col("vec_id").as("doc_id")).distinct().localCheckpoint(true)
        }
        val surv3 = semFlag.map(f =>
          surv2.join(f, Seq("doc_id"), "left_anti").localCheckpoint(true))
          .getOrElse(surv2)
        // stage 4: near-dup screen of the remaining docs vs the stored index
        // (bucketed reads — the screen prunes each probe to the batch's
        // partition buckets)
        val (sets, bands, sbk, bbk) = readNearDupIndex(spark, indexDir)
        val (nd, prep) = Dedup.nearDupScreenWith(spark, surv3, sets, bands, sbk, bbk)
        caches += prep
        val ndP = nd.localCheckpoint(true)
        // stage 5: tokenize the admitted docs under the frozen stored model,
        // pack them after the tokens already admitted
        val admitted = surv3
          .join(ndP.filter(col("status") === "new").select(col("doc_id")), "doc_id")
        val enc = TextOps.uniEncodeFrozen(admitted, tokCosts, tokIds)
          .localCheckpoint(true)
        val admRows = TextOps
          .packLayoutCounts(enc.select(col("doc_id"), col("n_tokens")), st.endOffset)
          .join(enc.select(col("doc_id"), col("token_ids"), col("n_words_skipped")),
            "doc_id")
          .localCheckpoint(true)
        val newEnd = admRows
          .agg(coalesce(max(col("tok_start") + col("n_tokens")), lit(st.endOffset)))
          .collect()(0).getLong(0)
        // per-doc verdict: per-stage attribution, NULL past the failing
        // stage; `sem_contaminated` is additionally NULL for a doc that
        // carries no embedding (unscreenable, not clean)
        val hasVec =
          if (hasVecCol && sem.isDefined)
            batch.select(col("doc_id"), col("vec").isNotNull.as("has_vec"))
          else batch.select(col("doc_id"), lit(false).as("has_vec"))
        val semJoined = semFlag.getOrElse(
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("doc_id", LongType)))))
          .withColumn("sflag", lit(true))
        val verdict = qvP
          .select(col("doc_id"), (col("drop_reason") =!= "kept").as("fail_quality"),
            col("drop_reason").as("quality_reason"))
          .join(contam.withColumn("cflag", lit(true)), Seq("doc_id"), "left")
          .join(semJoined, Seq("doc_id"), "left")
          .join(hasVec, Seq("doc_id"), "left")
          .join(ndP.select(col("doc_id"), col("status"), col("dup_of")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("fail_quality"),
            when(col("fail_quality"), lit(null).cast("boolean"))
              .otherwise(coalesce(col("cflag"), lit(false))).as("contaminated"),
            when(col("fail_quality") || coalesce(col("cflag"), lit(false)) ||
                !coalesce(col("has_vec"), lit(false)), lit(null).cast("boolean"))
              .otherwise(coalesce(col("sflag"), lit(false))).as("sem_contaminated"),
            col("status"), col("dup_of"),
            when(col("fail_quality"), concat(lit("quality:"), col("quality_reason")))
              .when(coalesce(col("cflag"), lit(false)), lit("contaminated"))
              .when(coalesce(col("sflag"), lit(false)), lit("contaminated_semantic"))
              .when(col("status") =!= "new", lit("duplicate"))
              .otherwise(lit("admitted")).as("drop_reason"))

        writeBatch(verdict, s"$outDir/verdicts", batchId)
        writeBatch(admRows, s"$outDir/admitted", batchId)
        writeNearDupIndex(prep, indexDir, batchId, sbk, bbk)
        newEnd
      } finally caches.foreach(_.unpersist())
    }

  /** One micro-batch append of [[packAvailableNow]] — package-visible so
    * the spec can drive a batch-retry directly. The running end offset
    * comes from the [[StreamState]] marker, so laying out a batch never
    * rescans the layout. */
  private[streaming] def appendPackedBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      layoutDir: String): Unit =
    exactlyOnce(spark, layoutDir, batchId) { st =>
      // lazy: the end-offset collect fills the cache the write reads
      val rows = TextOps.packLayout(batch, st.endOffset).persist()
      try {
        val newEnd = rows
          .agg(coalesce(max(col("tok_start") + col("n_tokens")), lit(st.endOffset)))
          .collect()(0).getLong(0)
        writeBatch(rows, layoutDir, batchId)
        newEnd
      } finally rows.unpersist()
    }
}
