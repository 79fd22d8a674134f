package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.etl.{StarSchema, TaxiFixture}

/** The streaming wrapper must produce exactly the batch pipeline's output
  * when draining a directory of dropped files (SURVEY §2.9). The two drops
  * are DISJOINT slices (dedup is per micro-batch, as in the reference's
  * per-file job runs — cross-file duplicates are an operational re-drop
  * concern there too), so per-batch counts sum to the global batch count
  * however the source groups files into micro-batches.
  */
class IncrementalPipelineSpec extends SparkSuite {

  test("AvailableNow drain over dropped files matches the batch transform") {
    val inDir = Files.createTempDirectory("graft_stream_in").toString
    val ckDir = Files.createTempDirectory("graft_stream_ck").toString

    val raw = TaxiFixture.raw(spark, sf)
    // land each drop as a single FILE directly in the watched directory
    // (the source lists files, not nested dataset directories) — the same
    // shape as the reference's monthly S3 object drops
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(raw.filter(col("VendorID") <= 2), "yellow_tripdata_2024-01a.parquet")
    drop(raw.filter(col("VendorID") >= 3), "yellow_tripdata_2024-01b.parquet")
    val dropped = spark.read.parquet(s"$inDir/*.parquet")
    val expected = StarSchema.transform(dropped, "2024", "1").count()
    assert(expected > 0)

    var total = 0L
    var batches = 0
    IncrementalPipeline.runAvailableNow(
      spark, inDir, raw.schema, "2024", "1", ckDir) { fact =>
      total += fact.count()
      batches += 1
    }
    assert(batches >= 1)
    assert(total === expected)
  }

  test("incremental packer: arriving shards extend the layout; union == batch op; re-run and retry are no-ops") {
    import graft.ext.TextOps
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_pack_in").toString
    val ckDir = Files.createTempDirectory("graft_pack_ck").toString
    val layoutDir = Files.createTempDirectory("graft_pack_layout").toString + "/layout"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }

    // two arrivals drained SEPARATELY (same checkpoint): the second run's
    // base offset must come from the persisted layout, not process state
    drop(docs.filter(col("doc_id") < 250), "docs_shard_a.parquet")
    IncrementalPipeline.packAvailableNow(spark, inDir, docs.schema, layoutDir, ckDir)
    drop(docs.filter(col("doc_id") >= 250), "docs_shard_b.parquet")
    IncrementalPipeline.packAvailableNow(spark, inDir, docs.schema, layoutDir, ckDir)

    def layoutMap() = spark.read.parquet(layoutDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("tok_start"),
          r.getAs[Long]("chunk_first"), r.getAs[Long]("chunk_last"),
          r.getAs[Long]("n_chunks"))).toMap
    val incremental = layoutMap()
    // union of incremental appends == the batch op over the whole corpus
    val expected = TextOps.qDocPackChunks(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("tok_start"),
          r.getAs[Long]("chunk_first"), r.getAs[Long]("chunk_last"),
          r.getAs[Long]("n_chunks"))).toMap
    assert(incremental === expected,
      "incrementally appended layout must equal the batch packing layout")
    // genuinely incremental: the two arrivals landed as distinct batches
    // (batch_id is the partition directory column — inferred int, cast up)
    def batchIdsOf(dir: String) = spark.read.parquet(dir)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val batchIds = batchIdsOf(layoutDir)
    assert(batchIds.size >= 2, s"expected >=2 micro-batches, got $batchIds")

    // the compacted state table ≡ what a full layout recompute would say:
    // end offset = max(tok_start + n_tokens), high-water mark = max batch
    val st = StreamState.read(spark, layoutDir + "_state")
    val endFromLayout = incremental.values.map(v => v._2 + v._1).max
    assert(st.endOffset === endFromLayout,
      "state end offset must equal the layout-recomputed end offset")
    assert(st.maxBatch === batchIds.max,
      "state high-water mark must equal the max committed batch id")

    // E58 discipline 1: a re-RUN with no new files is a checkpoint no-op
    IncrementalPipeline.packAvailableNow(spark, inDir, docs.schema, layoutDir, ckDir)
    assert(layoutMap() === expected, "re-run must not change the layout")
    // E58 discipline 2: a RETRIED micro-batch (same batchId) is a no-op
    IncrementalPipeline.appendPackedBatch(
      spark, docs.filter(col("doc_id") < 250), batchIds.min, layoutDir)
    assert(layoutMap() === expected, "batch retry must not double-append")

    // E335 stored-layout lineage: the inverse lookup driven off the
    // PERSISTED layout the packer maintains (production's no-text form)
    // equals the lookup over the batch op's layout — and its plan's
    // only corpus-text input is the broadcast source-attribution join
    val storedLayout = spark.read.parquet(layoutDir)
    val docsrc = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"))
    def lookupMap(l: org.apache.spark.sql.DataFrame) =
      TextOps.packLookupFrom(l, docsrc).collect()
        .map(r => r.getAs[Long]("k") -> ((r.getAs[Long]("offset"),
          r.getAs[Long]("chunk"), r.getAs[Long]("doc_id"),
          r.getAs[String]("source"), r.getAs[Long]("off_in_doc")))).toMap
    val fromStored = lookupMap(storedLayout)
    assert(fromStored === lookupMap(TextOps.qDocPackChunks(spark, sf)),
      "stored-layout lookup must equal the batch-layout lookup")
    assert(fromStored.size === TextOps.packProbeCount.toInt)

    // O(1) state proof: the per-batch audit read touches ONLY the state
    // table. With the layout data deleted outright, a retried batch is
    // still a recorded no-op (nothing recreated, nothing scanned — the
    // r12 form would have read the missing layout as "empty", zeroed the
    // offset, and re-appended the batch)...
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(layoutDir))
    IncrementalPipeline.appendPackedBatch(
      spark, docs.filter(col("doc_id") < 250), batchIds.min, layoutDir)
    assert(!new java.io.File(layoutDir).exists(),
      "retry of a committed batch must not touch the layout dir")
    // ...and a genuinely new batch lays out from the state's end offset,
    // not from a layout rescan
    IncrementalPipeline.appendPackedBatch(
      spark, docs.filter(col("doc_id") < 10), batchIds.max + 1, layoutDir)
    val resumedStart = spark.read.parquet(layoutDir)
      .agg(org.apache.spark.sql.functions.min(col("tok_start")))
      .collect()(0).getLong(0)
    assert(resumedStart === endFromLayout,
      "new batch must continue from the committed end offset")
  }

  test("decontam screen: per-shard flags union == batch gate; re-run and retry are no-ops") {
    import org.apache.spark.sql.functions.expr
    import graft.ext.Dedup
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_scr_in").toString
    val ckDir = Files.createTempDirectory("graft_scr_ck").toString
    val flagDir = Files.createTempDirectory("graft_scr_flags").toString + "/flags"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val eval = docs.filter(col("doc_id") % 50 === 0)
    val clean = docs.filter(col("doc_id") % 50 =!= 0)
    // paraphrased benchmark copies (the batch gate's own perturbation)
    // planted into BOTH shards, so both micro-batches carry contamination
    val planted = eval.select((-col("doc_id") - 1).as("doc_id"),
      expr(Dedup.perturbExpr).as("text"))
    val shardA = clean.filter(col("doc_id") < 250)
      .unionAll(planted.filter(-col("doc_id") - 1 < 250))
    val shardB = clean.filter(col("doc_id") >= 250)
      .unionAll(planted.filter(-col("doc_id") - 1 >= 250))

    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(shardA, "docs_scr_a.parquet")
    IncrementalPipeline.decontamAvailableNow(
      spark, inDir, docs.schema, eval, flagDir, ckDir)
    drop(shardB, "docs_scr_b.parquet")
    IncrementalPipeline.decontamAvailableNow(
      spark, inDir, docs.schema, eval, flagDir, ckDir)

    def flags() = spark.read.parquet(flagDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("eval_doc_id"),
        r.getAs[Double]("jaccard"), r.getAs[Boolean]("caught_exact"))).toSet
    val screened = flags()
    // the screen is exactly shard-decomposable: union of per-batch flags
    // == the batch fuzzy gate over the union corpus
    val expected = Dedup.fuzzyContamPairs(spark, shardA.unionAll(shardB), eval)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("eval_doc_id"),
        r.getAs[Double]("jaccard"), r.getAs[Boolean]("caught_exact"))).toSet
    assert(screened === expected)
    assert(screened.exists(_._1 < 0), "planted contamination not flagged")
    val batchIds = spark.read.parquet(flagDir)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.size >= 2, s"expected >=2 contaminated micro-batches, got $batchIds")
    // the seen-check keys on the state marker, not on flag rows — the
    // high-water mark records every screened batch, clean ones included
    assert(StreamState.read(spark, flagDir + "_state").maxBatch === batchIds.max)

    // E58 discipline: checkpointed re-run and batch retry are both no-ops
    IncrementalPipeline.decontamAvailableNow(
      spark, inDir, docs.schema, eval, flagDir, ckDir)
    assert(flags() === expected, "re-run must not change the flag table")
    IncrementalPipeline.appendContamFlags(
      spark, shardA, eval, batchIds.min, flagDir)
    assert(flags() === expected, "batch retry must not double-append")
    spark.catalog.clearCache()
  }

  test("decontam screen: a batch whose write fails releases its cache and commits nothing") {
    import graft.model.Tables
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // a regular file where the flag table's directory belongs, so the
    // batch's write throws after the screen has cached its prep
    val flagDir = Files.createTempFile("graft_scr_blocked", ".flags").toString
    spark.catalog.clearCache()
    intercept[Exception](IncrementalPipeline.appendContamFlags(
      spark, docs.filter(col("doc_id") < 100), docs.filter(col("doc_id") % 50 === 0),
      0L, flagDir))
    assert(spark.sharedState.cacheManager.isEmpty, "the failed batch left its cache behind")
    assert(StreamState.read(spark, flagDir + "_state").maxBatch === -1L)
  }

  test("semantic screen: per-shard flags union == frozen batch screen; planted re-embeds caught; retry no-op") {
    import org.apache.spark.sql.functions.{expr, transform => atransform}
    import graft.ext.Similarity
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_sem_in").toString
    val ckDir = Files.createTempDirectory("graft_sem_ck").toString
    val flagDir = Files.createTempDirectory("graft_sem_flags").toString + "/flags"

    val all = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"),
      atransform(col("embedding"), _.cast("double")).as("e"))
    val evalE = all.filter(col("vec_id") % 50 === 0)
    val clean = all.filter(col("vec_id") % 50 =!= 0)
    // the frozen corpus: the quantizer trains here ONCE, never on arrivals
    val baseEmb = clean.filter(col("vec_id") < 250)
    // arrivals: organic new vectors + re-embedded benchmark paraphrases
    // (the E317 plant — zero shared text surface, cos ≈ 0.987), planted
    // into BOTH shards so both micro-batches carry contamination
    val planted = evalE.select((-col("vec_id") - 1).as("vec_id"),
      expr(Similarity.reembedExpr).as("e"))
    def asShard(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        atransform(col("e"), _.cast("float")).as("embedding"))
    val organic = clean.filter(col("vec_id") >= 250)
      .select(col("vec_id"), col("e"))
    val shardA = asShard(organic.filter(col("vec_id") < 375)
      .unionAll(planted.filter(-col("vec_id") - 1 < 250)))
    val shardB = asShard(organic.filter(col("vec_id") >= 375)
      .unionAll(planted.filter(-col("vec_id") - 1 >= 250)))

    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(shardA, "emb_shard_a.parquet")
    IncrementalPipeline.semanticAvailableNow(
      spark, inDir, spark.read.parquet(s"$inDir/emb_shard_a.parquet").schema,
      baseEmb, evalE, flagDir, ckDir)
    drop(shardB, "emb_shard_b.parquet")
    IncrementalPipeline.semanticAvailableNow(
      spark, inDir, spark.read.parquet(s"$inDir/emb_shard_a.parquet").schema,
      baseEmb, evalE, flagDir, ckDir)

    def flags() = spark.read.parquet(flagDir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("eval_vec_id"))).toSet
    val screened = flags()
    // shard-decomposable under the FROZEN quantizer: union of per-batch
    // flags == the frozen-quantizer screen over the union of arrivals,
    // replayed from the SAME dropped files (float-roundtripped bytes)
    val qArr = Similarity.centroidArrayOfE(baseEmb, None).persist()
    qArr.count()
    val arrivals = spark.read.parquet(s"$inDir/*.parquet")
      .select(col("vec_id"), atransform(col("embedding"), _.cast("double")).as("e"))
    val expected = Similarity.semanticScreenWith(
      arrivals, Similarity.semanticEvalAssign(evalE, qArr), qArr)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("eval_vec_id"))).toSet
    qArr.unpersist()
    assert(screened === expected)
    // every flag is a planted re-embed attributed to its own source
    // (organic arrivals top out near cos 0.45 — zero false flags)
    assert(screened.forall { case (v, ev) => v < 0 && v === -ev - 1 },
      s"organic arrival flagged: $screened")
    // recall: the planted paraphrases are caught (cell clipping at
    // nprobe=2 is the family's documented recall knob — >= 90%)
    val nEval = evalE.count()
    assert(screened.size >= (0.9 * nEval).toInt,
      s"planted recall too low: ${screened.size} of $nEval")
    val batchIds = spark.read.parquet(flagDir)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.size >= 2, s"expected >=2 micro-batches, got $batchIds")
    assert(StreamState.read(spark, flagDir + "_state").maxBatch === batchIds.max)

    // E58 discipline: checkpointed re-run and batch retry are both
    // no-ops — and the re-run RESTART boots from the stored quantizer +
    // eval assignment alone (metadata-only: the thunks must never fire)
    IncrementalPipeline.semanticAvailableNow(
      spark, inDir, spark.read.parquet(s"$inDir/emb_shard_a.parquet").schema,
      sys.error("restart must not retrain"): org.apache.spark.sql.DataFrame,
      sys.error("restart must not reassign"): org.apache.spark.sql.DataFrame,
      flagDir, ckDir)
    assert(flags() === expected, "re-run must not change the flag table")
    val qArr2 = Similarity.centroidArrayOfE(baseEmb, None)
    IncrementalPipeline.appendSemanticFlags(
      spark, asShard(planted),
      Similarity.semanticEvalAssign(evalE, qArr2), qArr2,
      batchIds.min, flagDir)
    assert(flags() === expected, "batch retry must not double-append")
    spark.catalog.clearCache()
  }

  test("quality gate at ingest: per-shard verdicts union == frozen batch gate; re-run and retry are no-ops") {
    import org.apache.spark.sql.functions.{concat, expr, lit}
    import graft.ext.CorpusOps
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_qg_in").toString
    val ckDir = Files.createTempDirectory("graft_qg_ck").toString
    val verdictDir = Files.createTempDirectory("graft_qg_out").toString + "/verdicts"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // frozen reference model trains on the base; arrivals = held-out docs
    // plus the three E312 defect plants (negative id space)
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    def inj(m: Int, textCol: org.apache.spark.sql.Column) =
      docs.filter(col("doc_id") % 40 === m)
        .select((-col("doc_id") - 1).as("doc_id"), textCol.as("text"))
    val arrivals = docs.filter(col("doc_id") % 10 === 0)
      .unionAll(inj(1, concat(expr("repeat('spam ', 60)"), lit("tail"),
        col("doc_id").cast("string"))))
      .unionAll(inj(3, expr("concat_ws(' ', transform(split(text, ' '), " +
        "t -> concat(t, 'z', CAST(doc_id AS STRING))))")))
      .unionAll(inj(4, expr("concat_ws(' ', slice(split(text, ' '), 1, 10))")))
    // two shards split on the plant's SOURCE id so both carry defects
    val shardA = arrivals.filter(col("doc_id").between(-251, 249))
    val shardB = arrivals.filter(col("doc_id") < -251 || col("doc_id") >= 250)

    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(shardA, "docs_qg_a.parquet")
    IncrementalPipeline.qualityAvailableNow(
      spark, inDir, docs.schema, base, verdictDir, ckDir)
    drop(shardB, "docs_qg_b.parquet")
    IncrementalPipeline.qualityAvailableNow(
      spark, inDir, docs.schema, base, verdictDir, ckDir)

    def verdicts() = spark.read.parquet(verdictDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("rep_ratio"), r.getAs[Double]("avg_bigram_p"),
        r.getAs[Long]("xent_micronat"), r.getAs[Double]("quality_score"),
        r.getAs[String]("drop_reason"))).toSet
    val screened = verdicts()
    // per-doc scoring under a FIXED model is exactly shard-decomposable:
    // union of per-batch verdicts == the batch gate over the union corpus
    val model = CorpusOps.frozenQualityModel(base).persistAll()
    val (batchGate, cached) = CorpusOps.qualityGateFrozenWith(
      spark, shardA.unionAll(shardB), model)
    val expected = batchGate.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("rep_ratio"), r.getAs[Double]("avg_bigram_p"),
        r.getAs[Long]("xent_micronat"), r.getAs[Double]("quality_score"),
        r.getAs[String]("drop_reason"))).toSet
    cached.unpersist()
    assert(screened === expected)
    // each plant family attributes to its arm: spam → repetition;
    // unique-vocab → bigram_lm FIRST under the frozen model (p = 0 for
    // every OOV adjacency) with fail_xent true besides; truncation →
    // token floor
    val byReason = spark.read.parquet(verdictDir)
      .filter(col("doc_id") < 0).collect()
      .groupBy(r => -(r.getAs[Long]("doc_id")) - 1 match {
        case d if d % 40 == 1 => "spam"
        case d if d % 40 == 3 => "unique"
        case _ => "trunc"
      })
    byReason("spam").foreach(r =>
      assert(r.getAs[String]("drop_reason") === "repetition"))
    byReason("unique").foreach { r =>
      assert(r.getAs[String]("drop_reason") === "bigram_lm")
      assert(r.getAs[Boolean]("fail_xent"),
        "100%-OOV plant must also trip the frozen perplexity arm")
    }
    byReason("trunc").foreach(r =>
      assert(r.getAs[String]("drop_reason") === "low_quality"))
    val batchIds = spark.read.parquet(verdictDir)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.size >= 2, s"expected >=2 micro-batches, got $batchIds")

    // E58 discipline: checkpointed re-run and batch retry are both no-ops
    IncrementalPipeline.qualityAvailableNow(
      spark, inDir, docs.schema, base, verdictDir, ckDir)
    assert(verdicts() === expected, "re-run must not change the verdicts")
    val model2 = CorpusOps.frozenQualityModel(base).persistAll()
    IncrementalPipeline.appendQualityVerdicts(
      spark, shardA, model2, batchIds.min, verdictDir)
    model2.unpersistAll()
    assert(verdicts() === expected, "batch retry must not double-append")
    spark.catalog.clearCache()
  }

  test("quality gate through the DSv2 committer: epoch-keyed store commits give the same exactly-once laws with no marker") {
    import graft.ext.CorpusOps
    import graft.model.Tables
    import graft.sources.StoreSource
    val inDir = Files.createTempDirectory("graft_qgs_in").toString
    val ckDir = Files.createTempDirectory("graft_qgs_ck").toString
    val storeDir = Files.createTempDirectory("graft_qgs_store").toString + "/verdicts"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 10 === 0)
    val shardA = arrivals.filter(col("doc_id") < 300)
    val shardB = arrivals.filter(col("doc_id") >= 300)

    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    def verdicts() = StoreSource.read(spark, storeDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("drop_reason"))).toSet

    drop(shardA, "docs_qgs_a.parquet")
    IncrementalPipeline.qualityAvailableNowStore(
      spark, inDir, docs.schema, base, storeDir, ckDir)
    drop(shardB, "docs_qgs_b.parquet")
    IncrementalPipeline.qualityAvailableNowStore(
      spark, inDir, docs.schema, base, storeDir, ckDir)

    // union of committer-backed per-batch verdicts == the frozen batch gate
    val model = CorpusOps.frozenQualityModel(base).persistAll()
    val (batchGate, cached) = CorpusOps.qualityGateFrozenWith(
      spark, shardA.unionAll(shardB), model)
    val expected = batchGate.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("drop_reason"))).toSet
    cached.unpersist()
    assert(verdicts() === expected)

    // checkpointed re-run: no new input, no change
    IncrementalPipeline.qualityAvailableNowStore(
      spark, inDir, docs.schema, base, storeDir, ckDir)
    assert(verdicts() === expected, "re-run must not change the verdicts")

    // batch RETRY (crash after commit, foreachBatch re-delivered): the
    // epoch key — not any StreamState marker — makes it a no-op
    val model2 = CorpusOps.frozenQualityModel(base).persistAll()
    IncrementalPipeline.appendQualityVerdictsStore(spark, shardA, model2, 0L, storeDir)
    assert(verdicts() === expected, "a re-delivered epoch must not double-append")

    // CRASH BETWEEN EPOCHS: wipe the newest streaming commit marker, so
    // the next drain re-runs the last micro-batch against the same
    // offsets — the store recognizes the epoch and publishes nothing new
    val commits = new java.io.File(s"$ckDir/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    assert(commits.last.delete())
    IncrementalPipeline.qualityAvailableNowStore(
      spark, inDir, docs.schema, base, storeDir, ckDir)
    assert(verdicts() === expected,
      "a replayed epoch after a commit-log crash must not double-publish")
    // every surviving data file is manifest-referenced (replay swept)
    val referenced = StoreSource.latestManifest(storeDir).entries.map(_.name).toSet
    val onDisk = new java.io.File(s"$storeDir/data").listFiles()
      .map(_.getName).filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet
    assert(onDisk === referenced, s"unswept replay files: ${onDisk -- referenced}")
    model2.unpersistAll()
    spark.catalog.clearCache()
  }

  test("stats maintenance: stored partials roll up to the union-trained model; gate verdicts identical; retry no-op") {
    import graft.ext.CorpusOps
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_stats_in").toString
    val ckDir = Files.createTempDirectory("graft_stats_ck").toString
    val statsDir = Files.createTempDirectory("graft_stats_t").toString + "/stats"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(docs.filter(col("doc_id") < 250), "docs_stats_a.parquet")
    IncrementalPipeline.statsAvailableNow(spark, inDir, docs.schema, statsDir, ckDir)
    drop(docs.filter(col("doc_id") >= 250), "docs_stats_b.parquet")
    IncrementalPipeline.statsAvailableNow(spark, inDir, docs.schema, statsDir, ckDir)

    // the merge law, live: the stored roll-up equals training on the
    // union of everything that arrived — table for table
    def uniMap(m: CorpusOps.FrozenQualityModel) = m.uni.collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("tf")).toMap
    def biMap(m: CorpusOps.FrozenQualityModel) = m.bi.collect()
      .map(r => r.getAs[String]("bg") -> r.getAs[Long]("c2")).toMap
    def totRow(m: CorpusOps.FrozenQualityModel) = {
      val r = m.totals.collect()(0); (r.getAs[Long]("t"), r.getAs[Long]("v"))
    }
    val stored = CorpusOps.storedQualityModel(spark, statsDir)
    val fromDocs = CorpusOps.frozenQualityModel(docs)
    assert(uniMap(stored) === uniMap(fromDocs))
    assert(biMap(stored) === biMap(fromDocs))
    assert(totRow(stored) === totRow(fromDocs))

    // the payoff: the frozen gate under the STORED model gives verdicts
    // identical to the gate under the from-docs model (no corpus re-read
    // needed to refresh the gate's reference stats)
    val arrivals = docs.filter(col("doc_id") % 7 === 0)
    def verdicts(m: CorpusOps.FrozenQualityModel) = {
      val (v, cached) = CorpusOps.qualityGateFrozenWith(spark, arrivals, m.persistAll())
      val out = v.collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("drop_reason")).toMap
      cached.unpersist(); m.unpersistAll(); out
    }
    assert(verdicts(stored) === verdicts(fromDocs))

    // retry + re-run no-ops (marker-keyed, like every screen)
    val batchIds = spark.read.parquet(s"$statsDir/uni")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.size >= 2, s"expected >=2 micro-batches, got $batchIds")
    val before = uniMap(CorpusOps.storedQualityModel(spark, statsDir))
    IncrementalPipeline.appendStatsBatch(
      spark, docs.filter(col("doc_id") < 250), batchIds.min, statsDir)
    IncrementalPipeline.statsAvailableNow(spark, inDir, docs.schema, statsDir, ckDir)
    assert(uniMap(CorpusOps.storedQualityModel(spark, statsDir)) === before,
      "retry/re-run must not double-count stats")
    spark.catalog.clearCache()
  }

  test("stats + standalone screen tables compact: roll-up and rows identical, dirs collapse, retry guards intact") {
    import graft.ext.CorpusOps
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_cmp2_in").toString
    val ckDir = Files.createTempDirectory("graft_cmp2_ck").toString
    val statsDir = Files.createTempDirectory("graft_cmp2_s").toString + "/stats"
    val inDir2 = Files.createTempDirectory("graft_cmp2_in2").toString
    val ckDir2 = Files.createTempDirectory("graft_cmp2_ck2").toString
    val verdictDir = Files.createTempDirectory("graft_cmp2_v").toString + "/verdicts"
    val inDir3 = Files.createTempDirectory("graft_cmp2_in3").toString
    val ckDir3 = Files.createTempDirectory("graft_cmp2_ck3").toString
    val flagDir = Files.createTempDirectory("graft_cmp2_f").toString + "/flags"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def drop(inD: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inD, name))
    }
    def batchDirCount(root: String): Int = {
      val fs = new java.io.File(root).listFiles()
      if (fs == null) 0 else fs.count(_.getName.startsWith("batch_id="))
    }

    // --- E336 stats table: two drops, then compact uni/bi ---
    drop(inDir, docs.filter(col("doc_id") < 250), "a.parquet")
    IncrementalPipeline.statsAvailableNow(spark, inDir, docs.schema, statsDir, ckDir)
    drop(inDir, docs.filter(col("doc_id") >= 250 && col("doc_id") < 500), "b.parquet")
    IncrementalPipeline.statsAvailableNow(spark, inDir, docs.schema, statsDir, ckDir)
    def uniMap() = CorpusOps.storedQualityModel(spark, statsDir).uni.collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("tf")).toMap
    val statsBefore = uniMap()
    assert(batchDirCount(s"$statsDir/uni") >= 2)
    IncrementalPipeline.compactStatsTables(spark, statsDir)
    assert(batchDirCount(s"$statsDir/uni") === 0 &&
      batchDirCount(s"$statsDir/bi") === 0,
      "compaction must retire the per-batch stats dirs")
    assert(uniMap() === statsBefore,
      "the roll-up must read identical partials from the merged generation")
    // retry + re-run against the compacted table: the appender marker is
    // untouched, so both are refused
    IncrementalPipeline.appendStatsBatch(
      spark, docs.filter(col("doc_id") < 250), 0L, statsDir)
    IncrementalPipeline.statsAvailableNow(spark, inDir, docs.schema, statsDir, ckDir)
    assert(uniMap() === statsBefore, "retry after compaction must not double-count")
    // and a FRESH arrival still lands + rolls up on top of the merged rows
    drop(inDir, docs.filter(col("doc_id") >= 500 && col("doc_id") < 600), "c.parquet")
    IncrementalPipeline.statsAvailableNow(spark, inDir, docs.schema, statsDir, ckDir)
    val uniAll = CorpusOps.frozenQualityModel(docs.filter(col("doc_id") < 600))
      .uni.collect().map(r => r.getAs[String]("w") -> r.getAs[Long]("tf")).toMap
    assert(uniMap() === uniAll, "post-compaction arrivals must merge with the generation")

    // --- standalone quality screen's verdict table ---
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 10 === 0)
    drop(inDir2, arrivals.filter(col("doc_id") < 300), "qa.parquet")
    IncrementalPipeline.qualityAvailableNow(
      spark, inDir2, docs.schema, base, verdictDir, ckDir2)
    drop(inDir2, arrivals.filter(col("doc_id") >= 300), "qb.parquet")
    IncrementalPipeline.qualityAvailableNow(
      spark, inDir2, docs.schema, base, verdictDir, ckDir2)
    val vBefore = spark.read.parquet(verdictDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("drop_reason"))).toSet
    assert(batchDirCount(verdictDir) >= 2)
    val groups = IncrementalPipeline.compactScreenTable(spark, verdictDir)
    assert(groups >= 1L)
    assert(batchDirCount(verdictDir) === 0,
      "compaction must retire the per-batch verdict dirs")
    val vAfter = StreamTable.read(spark, verdictDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("drop_reason"))).toSet
    assert(vAfter === vBefore, "verdict rows must survive compaction identically")
    // one file per planned group in the merged generation
    val gen = new java.io.File(s"$verdictDir/.merged").listFiles()
      .filter(_.getName.startsWith("v=")).head
    val genFiles = gen.listFiles().flatMap(g =>
      if (g.isDirectory) g.listFiles().toSeq else Seq(g))
      .count(_.getName.endsWith(".parquet"))
    assert(genFiles === groups.toInt,
      s"expected one file per merge group, got $genFiles vs $groups")
    // retry refused by the untouched marker
    val model = graft.ext.CorpusOps.frozenQualityModel(base).persistAll()
    IncrementalPipeline.appendQualityVerdicts(
      spark, arrivals.filter(col("doc_id") < 300), model, 0L, verdictDir)
    model.unpersistAll()
    assert(StreamTable.read(spark, verdictDir).collect().length === vBefore.size,
      "a retried batch must not re-append after compaction")

    // --- decontam screen's flag table (same shape as the semantic one) ---
    val eval = docs.filter(col("doc_id") % 50 === 1)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"))
    drop(inDir3, docs.filter(col("doc_id") % 50 === 1 && col("doc_id") < 300)
      .select((col("doc_id") + 700000).as("doc_id"), col("text")), "fa.parquet")
    IncrementalPipeline.decontamAvailableNow(
      spark, inDir3, docs.schema, eval, flagDir, ckDir3)
    drop(inDir3, docs.filter(col("doc_id") % 50 === 1 && col("doc_id") >= 300)
      .select((col("doc_id") + 700000).as("doc_id"), col("text")), "fb.parquet")
    IncrementalPipeline.decontamAvailableNow(
      spark, inDir3, docs.schema, eval, flagDir, ckDir3)
    val fBefore = spark.read.parquet(flagDir).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(fBefore.nonEmpty, "planted eval copies must flag")
    IncrementalPipeline.compactScreenTable(spark, flagDir)
    assert(batchDirCount(flagDir) === 0)
    assert(StreamTable.read(spark, flagDir).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet === fBefore,
      "flag rows must survive compaction identically")
    spark.catalog.clearCache()
  }

  test("near-dup ingest screen: per-shard verdicts == sequential replay; drop-set == one-shot rule; retry no-op") {
    import org.apache.spark.sql.functions.{concat, lit, size, split}
    import graft.ext.Dedup
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_nd_in").toString
    val ckDir = Files.createTempDirectory("graft_nd_ck").toString
    val indexDir = Files.createTempDirectory("graft_nd_idx").toString + "/index"
    val verdictDir = Files.createTempDirectory("graft_nd_out").toString + "/verdicts"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 3)
    // per-shard arrivals: fresh docs + re-crawled corpus copies (exact,
    // +2^40) + suffix-perturbed corpus near-copies (+2^42; sources >= 40
    // tokens so the 4x4 banding recall is ~1) + intra-shard exact copies
    // (+2^41) and near-copies (+2^43) of the shard's own fresh docs
    def shard(lo: Long, hi: Long): org.apache.spark.sql.DataFrame = {
      val in = (c: org.apache.spark.sql.Column) => c >= lo && c < hi
      val fresh = docs.filter(col("doc_id") % 10 === 3 && in(col("doc_id")))
      fresh
        .unionAll(corpus.filter(col("doc_id") % 20 === 0 && in(col("doc_id")))
          .select((col("doc_id") + (1L << 40)).as("doc_id"), col("text")))
        .unionAll(corpus.filter(col("doc_id") % 30 === 0 && in(col("doc_id")) &&
            size(split(col("text"), " ")) >= 40)
          .select((col("doc_id") + (1L << 42)).as("doc_id"),
            concat(col("text"), lit(" nearqx tailqx")).as("text")))
        .unionAll(fresh.filter(col("doc_id") % 30 === 3)
          .select((col("doc_id") + (1L << 41)).as("doc_id"), col("text")))
        .unionAll(fresh.filter(col("doc_id") % 30 === 13 &&
            size(split(col("text"), " ")) >= 40)
          .select((col("doc_id") + (1L << 43)).as("doc_id"),
            concat(col("text"), lit(" nearqx tailqx")).as("text")))
    }
    val shardA = shard(0L, 250L)
    val shardB = shard(250L, 1L << 30)

    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(shardA, "docs_nd_a.parquet")
    IncrementalPipeline.nearDupAvailableNow(
      spark, inDir, docs.schema, corpus, indexDir, verdictDir, ckDir)
    drop(shardB, "docs_nd_b.parquet")
    IncrementalPipeline.nearDupAvailableNow(
      spark, inDir, docs.schema, corpus, indexDir, verdictDir, ckDir)

    def toTuple(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Long]("content_hash"),
        r.getAs[String]("status"),
        if (r.isNullAt(r.fieldIndex("dup_of"))) Long.MinValue
        else r.getAs[Long]("dup_of"))
    def verdicts() = spark.read.parquet(verdictDir).collect().map(toTuple).toSet
    val screened = verdicts()

    // sequential replay through the SAME kernel: shard A against the
    // corpus index, shard B against corpus + all of A — exact equality
    val idx0 = Dedup.nearDupPrep(corpus).persist(); idx0.count()
    val (v1, p1) = Dedup.nearDupScreenWith(spark, shardA,
      idx0, Dedup.nearDupBands(idx0))
    val v1t = v1.collect().map(toTuple).toSet
    val idx1 = idx0.unionAll(p1)
    val (v2, p2) = Dedup.nearDupScreenWith(spark, shardB,
      idx1, Dedup.nearDupBands(idx1))
    val expected = v1t ++ v2.collect().map(toTuple).toSet
    Seq(p1, p2).foreach(_.unpersist())
    assert(screened === expected,
      "streamed verdicts must equal the sequential kernel replay")

    // drop-set law vs the ONE-SHOT batch rule over the union (arrival
    // order is id-consistent and the synthetic corpus has no organic
    // cross-shard near-dups, so only attribution may differ, never the
    // keep/drop decision)
    val (vOne, pOne) = Dedup.nearDupScreenWith(spark, shardA.unionAll(shardB),
      idx0, Dedup.nearDupBands(idx0))
    val oneShotDrops = vOne.collect().map(toTuple)
      .filter(_._3 != "new").map(_._1).toSet
    pOne.unpersist(); idx0.unpersist()
    assert(screened.filter(_._3 != "new").map(_._1) === oneShotDrops,
      "streamed drop-set must equal the one-shot batch rule over the union")

    // planted families. NOTE: the synthetic documents table carries its
    // own ORGANIC near-duplicates (e.g. docs 8 and 360 at J ≈ 0.99), so a
    // plant's witness may legitimately be an organic twin with a smaller
    // id than the plant's source, and a "fresh" doc may legitimately be a
    // corpus dup — the asserts below claim what the fixture guarantees.
    // re-crawls: the exact hash IS in the corpus, so the corpus arm fires
    val reCrawls = screened.filter(t => t._1 >= (1L << 40) && t._1 < (1L << 41))
    assert(reCrawls.nonEmpty)
    reCrawls.foreach { t =>
      assert(t._3 === "dup_of_corpus", s"$t")
      assert(t._4 >= 0 && t._4 <= t._1 - (1L << 40), s"witness out of range: $t")
    }
    // intra-shard exact copies: never new (their source arrived with
    // them); at least one attributes within the batch (the self arm)
    val intraExact = screened.filter(t => t._1 >= (1L << 41) && t._1 < (1L << 42))
    assert(intraExact.nonEmpty)
    intraExact.foreach(t => assert(t._3 !== "new", s"$t"))
    assert(intraExact.exists(_._3 == "dup_in_batch"),
      "no intra-shard exact copy attributed to the within-batch arm")
    val nearCorpus = screened.filter(t => t._1 >= (1L << 42) && t._1 < (1L << 43))
    assert(nearCorpus.nonEmpty)
    assert(nearCorpus.count(_._3 == "dup_of_corpus") * 10 >= nearCorpus.size * 9,
      s"near-corpus recall below 90%: $nearCorpus")
    val nearIntra = screened.filter(t => t._1 >= (1L << 43))
    assert(nearIntra.nonEmpty)
    assert(nearIntra.count(_._3 != "new") * 10 >= nearIntra.size * 9,
      s"near-intra recall below 90%: $nearIntra")
    assert(nearIntra.exists(_._3 == "dup_in_batch"),
      "no intra-shard near copy attributed to the within-batch arm")
    // fresh docs: most are genuinely new (organic corpus twins excepted)
    val fresh = screened.filter(t => t._1 < (1L << 40))
    assert(fresh.count(_._3 == "new") * 2 > fresh.size,
      "majority of fresh docs should be new")

    // the index grew by exactly the arrived docs (kept or not)
    val nIndexed = spark.read.parquet(s"$indexDir/sets").count()
    assert(nIndexed === corpus.count() + shardA.count() + shardB.count())

    // E58 discipline: re-run and batch retry are both no-ops
    IncrementalPipeline.nearDupAvailableNow(
      spark, inDir, docs.schema, corpus, indexDir, verdictDir, ckDir)
    assert(verdicts() === expected, "re-run must not change the verdicts")
    val batchIds = spark.read.parquet(verdictDir)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    IncrementalPipeline.appendNearDupBatch(
      spark, shardA, batchIds.min, indexDir, verdictDir)
    assert(verdicts() === expected, "batch retry must not double-append")
    assert(spark.read.parquet(s"$indexDir/sets").count() === nIndexed,
      "batch retry must not grow the index")
    spark.catalog.clearCache()
  }

  test("exactly-once commit: a crashed body commits nothing; its retry runs and commits once; a seen batch never runs") {
    val dir = Files.createTempDirectory("graft_commit").toString + "/table"
    val stateDir = s"${dir}_state"
    def versions() = new java.io.File(stateDir).listFiles()
      .map(_.getName).filter(_.startsWith("v=")).toSeq.sorted
    val rows = spark.range(0L, 3L).toDF("x")
    IncrementalPipeline.exactlyOnce(spark, dir, 0L) { st =>
      assert(st === StreamState.State(0L, -1L))
      5L
    }
    val committed = StreamState.read(spark, stateDir)
    assert(committed === StreamState.State(5L, 0L))

    // the body writes its batch dir, then crashes before the marker
    var calls = 0
    intercept[IllegalStateException] {
      IncrementalPipeline.exactlyOnce(spark, dir, 1L) { _ =>
        calls += 1
        IncrementalPipeline.writeBatch(rows, dir, 1L)
        throw new IllegalStateException("crash before commit")
      }
    }
    assert(new java.io.File(s"$dir/batch_id=1").isDirectory)
    assert(StreamState.read(spark, stateDir) === committed,
      "a body that throws must leave the state unchanged")
    assert(versions() === Seq("v=0"))

    // the retry runs the body again, from the same state, and commits once
    IncrementalPipeline.exactlyOnce(spark, dir, 1L) { st =>
      calls += 1
      assert(st === committed)
      IncrementalPipeline.writeBatch(rows, dir, 1L)
      st.endOffset + 3L
    }
    assert(calls === 2)
    assert(StreamState.read(spark, stateDir) === StreamState.State(8L, 1L))
    assert(versions() === Seq("v=1"), "the retry must commit exactly one version")

    // ids at or below the high-water mark never call the body
    Seq(0L, 1L).foreach { id =>
      IncrementalPipeline.exactlyOnce(spark, dir, id)(_ => fail(s"body ran for seen batch $id"))
    }
    assert(StreamState.read(spark, stateDir) === StreamState.State(8L, 1L))
    assert(versions() === Seq("v=1"))
  }

  test("near-dup retry after a crash between the index writes and the marker: orphan index rows are dropped") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    import graft.model.Tables
    val root = Files.createTempDirectory("graft_orphan").toString
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 150)
    val shard = docs.filter(col("doc_id") >= 150 && col("doc_id") < 200)
    def verdicts(dir: String) = spark.read.parquet(dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap

    // a clean run of batch 0 against a seeded index
    IncrementalPipeline.seedNearDupIndex(spark, corpus, s"$root/clean/index")
    IncrementalPipeline.appendNearDupBatch(
      spark, shard, 0L, s"$root/clean/index", s"$root/clean/verdicts")
    val clean = verdicts(s"$root/clean/verdicts")
    assert(clean.count(_._2 == "new") * 2 > clean.size, s"fixture: most docs fresh: $clean")

    // the crashed attempt: batch 0's index partitions are on disk, its
    // marker is not
    val indexDir = s"$root/crashed/index"
    IncrementalPipeline.seedNearDupIndex(spark, corpus, indexDir)
    val conf = spark.sessionState.newHadoopConf()
    Seq("sets", "bands").foreach { t =>
      val src = new Path(s"$root/clean/index/$t/batch_id=0")
      FileUtil.copy(src.getFileSystem(conf), src, src.getFileSystem(conf),
        new Path(s"$indexDir/$t/batch_id=0"), false, conf)
    }
    assert(StreamState.read(spark, s"${indexDir}_state").maxBatch === -1L)

    IncrementalPipeline.appendNearDupBatch(
      spark, shard, 0L, indexDir, s"$root/crashed/verdicts")
    assert(verdicts(s"$root/crashed/verdicts") === clean,
      "the retried batch must not match its own orphan index rows")
    assert(spark.read.parquet(s"$indexDir/sets").count() ===
      spark.read.parquet(s"$root/clean/index/sets").count())
    spark.catalog.clearCache()
  }

  test("near-dup index probes partition-prune to the batch's buckets; the full scan is the red control") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.ext.Dedup
    import graft.model.Tables
    val indexDir = Files.createTempDirectory("graft_ndprune").toString + "/index"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    IncrementalPipeline.seedNearDupIndex(spark, docs, indexDir)

    // a deliberately tiny batch: its distinct hash/band buckets cover a
    // strict fraction of the 16-way bucketed index dirs
    val batch = docs.filter(col("doc_id").isin(1L, 2L))
    val prep = Dedup.nearDupPrep(batch).persist(); prep.count()

    // run an action on the probe frame, then read the parquet scan's
    // driver-side IO metric: files actually listed into the scan
    def filesRead(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "expected a parquet scan in the probe plan")
      (scans.map(_.metrics("numFiles").value).sum,
        df.queryExecution.executedPlan.toString)
    }
    // ground truth from the filesystem: data files per partition dir
    def dirFiles(root: String, keep: String => Boolean): Long = {
      def walk(f: java.io.File, under: Boolean): Long =
        if (f.isFile)
          (if (under && f.getName.endsWith(".parquet")) 1L else 0L)
        else f.listFiles().map(c =>
          walk(c, under || keep(c.getName))).sum
      walk(new java.io.File(root), under = false)
    }

    val (sets, bands, _, _) = IncrementalPipeline.readNearDupIndex(spark, indexDir)

    // exact arm: prune sets on the batch's content-hash buckets
    val hbVals = prep.select(Dedup.nearDupBucket(col("h")))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(hbVals.size < 16, "fixture must not cover every bucket")
    val (fullSetFiles, _) = filesRead(sets)
    val (prunedSetFiles, setPlan) =
      filesRead(Dedup.pruneToBuckets(sets, "hb",
        prep.select(Dedup.nearDupBucket(col("h")))))
    assert(setPlan.contains("PartitionFilters") && setPlan.contains("hb"),
      s"pruned sets probe must carry a partition filter on hb:\n$setPlan")
    assert(fullSetFiles === dirFiles(s"$indexDir/sets", _ => true),
      "red control: the unpruned probe scans the whole index")
    val expectedSetFiles = dirFiles(s"$indexDir/sets",
      n => hbVals.exists(b => n == s"hb=$b"))
    assert(prunedSetFiles === expectedSetFiles,
      "pruned probe must read exactly the batch's hb partition dirs")
    assert(prunedSetFiles < fullSetFiles,
      s"pruning must cut IO: $prunedSetFiles vs $fullSetFiles")

    // verify arm: prune sets on partner doc-id buckets (same helper, the
    // db partition column) — probe with a 2-doc partner set
    val dbVals = prep.select(Dedup.nearDupBucket(col("doc_id")))
      .distinct().collect().map(_.getInt(0)).toSet
    val (prunedDbFiles, dbPlan) =
      filesRead(Dedup.pruneToBuckets(sets, "db",
        prep.select(Dedup.nearDupBucket(col("doc_id")))))
    assert(dbPlan.contains("PartitionFilters") && dbPlan.contains("db"))
    assert(prunedDbFiles === dirFiles(s"$indexDir/sets",
      n => dbVals.exists(b => n == s"db=$b")),
      "db-pruned probe must read exactly the partner buckets' dirs")
    assert(prunedDbFiles < fullSetFiles)

    // candidate arm: prune bands on the batch's band-key buckets
    val bbVals = Dedup.nearDupBandsBucketed(prep).select(col("bb"))
      .distinct().collect().map(_.getInt(0)).toSet
    val (fullBandFiles, _) = filesRead(bands)
    val (prunedBandFiles, bandPlan) =
      filesRead(Dedup.pruneToBuckets(bands, "bb",
        Dedup.nearDupBandsBucketed(prep).select(col("bb"))))
    assert(bandPlan.contains("PartitionFilters") && bandPlan.contains("bb"))
    assert(fullBandFiles === dirFiles(s"$indexDir/bands", _ => true))
    assert(prunedBandFiles === dirFiles(s"$indexDir/bands",
      n => bbVals.exists(b => n == s"bb=$b")),
      "bb-pruned probe must read exactly the batch's band buckets")
    assert(prunedBandFiles < fullBandFiles,
      s"pruning must cut IO: $prunedBandFiles vs $fullBandFiles")

    // and the PRUNED screen's verdicts equal the UNBUCKETED kernel's —
    // pruning is a pure IO optimization, never a semantic change
    val (vPruned, pP) = Dedup.nearDupScreenWith(spark, batch, sets, bands)
    val got = vPruned.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    pP.unpersist()
    val mem = Dedup.nearDupPrep(docs).persist(); mem.count()
    val (vMem, pM) = Dedup.nearDupScreenWith(spark, batch,
      mem, Dedup.nearDupBands(mem))
    val want = vMem.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    Seq(pM, mem, prep).foreach(_.unpersist())
    assert(got === want, "pruned-probe verdicts must equal the in-memory kernel")
    spark.catalog.clearCache()
  }

  test("index fan-out is self-describing: a 5-bucket layout probed from a 16-default session stays lossless; the compiled-constant probe is the red control") {
    import graft.ext.Dedup
    import graft.model.Tables
    val indexDir = Files.createTempDirectory("graft_fanout").toString + "/index"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    // seed under fan-out 5 — deliberately ≠ the compiled default (16)
    assert(Dedup.nearDupIndexBuckets === 16)
    IncrementalPipeline.seedNearDupIndex(spark, docs, indexDir, buckets = 5)
    val (sets, bands, sbk, bbk) =
      IncrementalPipeline.readNearDupIndex(spark, indexDir)
    assert(sbk === 5 && bbk === 5,
      "probes must learn the fan-out from the index's own table state")

    // plant EXACT copies of corpus documents under fresh ids: every one
    // must screen as a duplicate of the corpus. The plants are chosen so
    // EVERY probe bucket the compiled default would compute — the
    // content-hash bucket AND all four band buckets, mod 16 — is ≥ 5:
    // under the mismatch, the probe's bucket sets then cannot contain
    // ANY stored value (all in 0..4), so the red control's exact AND
    // candidate arms are deterministically blind, not probabilistically
    import org.apache.spark.sql.functions.{pmod, hash => mh, lit => l, min => mn}
    val cand = docs.filter(col("doc_id") % 10 === 0)
    val cprep = Dedup.nearDupPrep(cand).persist(); cprep.count()
    val okHb = cprep.filter(pmod(mh(col("h")), l(16)) >= 5).select(col("doc_id"))
    val okBb = Dedup.nearDupBandsBucketed(cprep, 16).groupBy(col("doc_id"))
      .agg(mn(col("bb")).as("mbb")).filter(col("mbb") >= 5).select(col("doc_id"))
    val plantIds = okHb.join(okBb, "doc_id").limit(8)
      .collect().map(_.getLong(0)).toSeq
    cprep.unpersist()
    assert(plantIds.size >= 3, s"fixture needs enough plants, got $plantIds")
    val plants = docs.filter(col("doc_id").isin(plantIds: _*))
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    val nPlants = plants.count()

    val (v, p) = Dedup.nearDupScreenWith(spark, plants, sets, bands, sbk, bbk)
    val missedStored = v.filter(col("status") === "new").count()
    p.unpersist()
    assert(missedStored === 0L,
      "under the STORED fan-out the pruned probes must find every planted dup")

    // RED CONTROL — the pre-r15 behavior: probe buckets computed with
    // the compiled default against dirs written under 5. Equal keys now
    // land in UNequal buckets, pruning drops the dirs holding the true
    // matches, and planted duplicates silently read as "new" — missed
    // duplicates with no error, the hazard the stored value closes.
    val (vBad, pBad) = Dedup.nearDupScreenWith(spark, plants, sets, bands)
    val missedCompiled = vBad.filter(col("status") === "new").count()
    pBad.unpersist()
    assert(missedCompiled > 0L,
      "the mismatched compiled fan-out must lose planted duplicates " +
        s"(found ${nPlants - missedCompiled}/$nPlants) — red control")
    spark.catalog.clearCache()
  }

  test("fan-out migration 16→64: rebucket through compact, losslessness and the pruned-IO law re-hold at the new fan-out") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.ext.Dedup
    import graft.model.Tables
    val indexDir = Files.createTempDirectory("graft_rebkt").toString + "/index"
    val verdictDir = Files.createTempDirectory("graft_rebkt_v").toString + "/verdicts"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 === 0)
    val shard0 = docs.filter(col("doc_id") % 3 === 1)

    // seed at the default 16 and commit one streamed batch on top
    IncrementalPipeline.seedNearDupIndex(spark, corpus, indexDir)
    IncrementalPipeline.appendNearDupBatch(spark, shard0, 0L, indexDir, verdictDir)
    val before = spark.read.parquet(verdictDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"))).toSet

    // MIGRATE: one forced compact per table recomputes the bucket
    // columns and commits the new fan-out with the same marker
    IncrementalPipeline.rebucketNearDupIndex(
      spark, indexDir, s"${indexDir}_state", 64)
    val (sets, bands, sbk, bbk) =
      IncrementalPipeline.readNearDupIndex(spark, indexDir)
    assert(sbk === 64 && bbk === 64)

    // the E341 IO law RE-HOLDS at the migrated fan-out: a tiny probe
    // reads exactly its hb bucket dirs of the merged generation
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    }
    def dirFiles(root: String, keep: String => Boolean): Long = {
      def walk(f: java.io.File, under: Boolean): Long =
        if (f.isFile) (if (under && f.getName.endsWith(".parquet")) 1L else 0L)
        else f.listFiles().map(c => walk(c, under || keep(c.getName))).sum
      walk(new java.io.File(root), under = false)
    }
    val probe = docs.filter(col("doc_id").isin(3L, 6L))
    val prep = Dedup.nearDupPrep(probe).persist(); prep.count()
    val hbVals = prep.select(Dedup.nearDupBucket(col("h"), 64))
      .distinct().collect().map(_.getInt(0)).toSet
    val pruned = filesRead(Dedup.pruneToBuckets(sets, "hb",
      prep.select(Dedup.nearDupBucket(col("h"), 64))))
    val full = filesRead(sets)
    prep.unpersist()
    assert(full === dirFiles(indexDir + "/sets", _ => true))
    assert(pruned === dirFiles(indexDir + "/sets",
      n => hbVals.exists(b => n == s"hb=$b")),
      "pruned probe must read exactly the probe buckets' migrated dirs")
    assert(pruned < full, s"pruning must cut IO at 64: $pruned vs $full")

    // LOSSLESS at 64: exact copies of corpus docs AND of batch-0 docs
    // (rows that crossed the migration rewrite) all screen as dups
    val plants = corpus.filter(col("doc_id") % 12 === 0)
      .unionAll(shard0.filter(col("doc_id") % 12 === 1))
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    assert(plants.count() >= 10)
    val (v2, p2) = Dedup.nearDupScreenWith(spark, plants, sets, bands, sbk, bbk)
    assert(v2.filter(col("status") === "new").count() === 0L,
      "post-migration probes must find every pre-migration row")
    p2.unpersist()

    // the migrated index keeps GROWING under the stored 64: a second
    // batch appends hot dirs bucketed at 64, and a replay of batch 0
    // (crash retry) is still refused by the untouched main marker
    val shard1 = docs.filter(col("doc_id") % 3 === 2)
    IncrementalPipeline.appendNearDupBatch(spark, shard1, 1L, indexDir, verdictDir)
    IncrementalPipeline.appendNearDupBatch(spark, shard0, 0L, indexDir, verdictDir)
    val after = spark.read.parquet(verdictDir)
      .filter(col("batch_id").cast("long") === 0L).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"))).toSet
    assert(after === before, "batch-0 verdicts must survive migration + retry")
    val hot = new java.io.File(indexDir + "/sets/batch_id=1")
    assert(hot.exists() &&
      hot.listFiles().exists(f => f.getName.startsWith("hb=") &&
        f.getName.stripPrefix("hb=").toInt >= 16),
      "post-migration appends must bucket under the stored 64, not the default")
    // and aux survives a subsequent PLAIN compaction
    IncrementalPipeline.compactNearDupTables(
      spark, indexDir, s"${indexDir}_state", Some(verdictDir))
    assert(StreamTable.aux(spark, s"$indexDir/sets") === 64L)
    assert(StreamTable.aux(spark, s"$indexDir/bands") === 64L)
    val (_, _, sbk2, bbk2) = IncrementalPipeline.readNearDupIndex(spark, indexDir)
    assert(sbk2 === 64 && bbk2 === 64)
    spark.catalog.clearCache()
  }

  test("stream-table compaction: row identity, crash tolerance, retry survival, planner-target file count") {
    import graft.ext.Dedup
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_cmp_in").toString
    val ckDir = Files.createTempDirectory("graft_cmp_ck").toString
    val indexDir = Files.createTempDirectory("graft_cmp_idx").toString + "/index"
    val verdictDir = Files.createTempDirectory("graft_cmp_out").toString + "/verdicts"
    val stateDir = s"${indexDir}_state"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    def run(): Unit = IncrementalPipeline.nearDupAvailableNow(
      spark, inDir, docs.schema, docs, indexDir, verdictDir, ckDir)
    drop(docs.filter(col("doc_id") % 10 === 3 && col("doc_id") < 250)
      .select((col("doc_id") + (1L << 40)).as("doc_id"), col("text")), "a.parquet")
    run()
    drop(docs.filter(col("doc_id") % 10 === 3 && col("doc_id") >= 250)
      .select((col("doc_id") + (1L << 40)).as("doc_id"), col("text")), "b.parquet")
    run()

    def setRows() = StreamTable.read(spark, s"$indexDir/sets")
      .select(col("doc_id"), col("h"), col("hb"), col("db"), col("batch_id"),
        org.apache.spark.sql.functions.size(col("hs")).as("nhs"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3), r.getLong(4), r.getInt(5))).toSet
    def bandRows() = StreamTable.read(spark, s"$indexDir/bands")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band_id"),
        r.getAs[Long]("band_key"), r.getAs[Int]("bb"),
        r.getAs[Long]("batch_id"))).toSet
    def verdictRows() = StreamTable.read(spark, verdictDir)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("content_hash"), r.getAs[String]("status"),
        r.getAs[Long]("batch_id"))).toSet
    def nFiles(root: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(root))
    }

    val (sets0, bands0, verd0) = (setRows(), bandRows(), verdictRows())
    val filesBefore = nFiles(s"$indexDir/sets")

    // a crashed earlier compaction attempt: hidden partial generation
    // with no cstate commit — invisible to readers, swept by the retry
    val ghost = new java.io.File(s"$indexDir/sets/.merged/v=1/junk")
    ghost.getParentFile.mkdirs(); ghost.createNewFile()
    assert(setRows() === sets0, "uncommitted generation must be invisible")

    val m = StreamState.read(spark, stateDir).maxBatch
    assert(m === 1L)
    IncrementalPipeline.compactNearDupTables(
      spark, indexDir, stateDir, None, targetRows = 200L)
    val nGroups = StreamTable.compact(spark, verdictDir, m, Seq.empty, 20L)
    assert(nGroups >= 2L, "fixture must plan more than one merge group")

    assert(setRows() === sets0, "compaction must preserve every sets row")
    assert(bandRows() === bands0, "compaction must preserve every bands row")
    assert(verdictRows() === verd0, "compaction must preserve every verdict")
    assert(!ghost.exists(), "stale crashed generation must be swept")
    assert(nFiles(s"$indexDir/sets") < filesBefore,
      "compaction must reduce the sets file count")
    assert(nFiles(verdictDir) === nGroups,
      "verdict file count must equal the planner's group count")
    // superseded hot dirs are gone — the listing wall actually shrank
    assert(!new java.io.File(s"$indexDir/sets/batch_id=-1").exists())
    assert(!new java.io.File(verdictDir + "/batch_id=0").exists())

    // retry of a committed batch is STILL a no-op after compaction (the
    // guard keys on the untouched main StreamState marker)
    IncrementalPipeline.appendNearDupBatch(
      spark, docs.limit(3), 0L, indexDir, verdictDir)
    assert(setRows() === sets0 && verdictRows() === verd0,
      "retry after compaction must not re-append")

    // the screens keep working against the merged generation: new
    // arrivals probe it (re-crawls must attribute to the compacted
    // corpus rows) and land as a fresh hot dir
    drop(docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + (1L << 42)).as("doc_id"), col("text")),
      "c.parquet")
    run()
    val verd1 = verdictRows()
    val newOnes = verd1 -- verd0
    assert(newOnes.nonEmpty && newOnes.forall(_._3 == "dup_of_corpus"),
      s"post-compaction re-crawls must match the compacted index: $newOnes")
    assert(setRows().size === sets0.size + newOnes.size)

    // a second compaction absorbs the new batch on top of generation 1
    val m2 = StreamState.read(spark, stateDir).maxBatch
    IncrementalPipeline.compactNearDupTables(
      spark, indexDir, stateDir, Some(verdictDir), targetRows = 200L)
    assert(verdictRows() === verd1, "second compaction must preserve rows")
    assert(StreamState.read(spark, s"$indexDir/sets_cstate").maxBatch === m2)
    assert(!new java.io.File(s"$indexDir/sets/.merged/v=1").exists(),
      "superseded generation must be retired")

    // E341 × E342: bucket pruning keeps pruning the MERGED generation —
    // a probe reads only its hb dirs (scan IO metric vs FS ground truth)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prep2 = Dedup.nearDupPrep(docs.filter(col("doc_id").isin(11L, 12L)))
      .persist()
    prep2.count()
    val hb2 = prep2.select(Dedup.nearDupBucket(col("h")))
      .distinct().collect().map(_.getInt(0)).toSet
    val (setsAll, _, _, _) = IncrementalPipeline.readNearDupIndex(spark, indexDir)
    val pruned2 = Dedup.pruneToBuckets(setsAll, "hb",
      prep2.select(Dedup.nearDupBucket(col("h"))))
    pruned2.collect()
    val gotFiles = pruned2.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
    def bucketFiles(keep: String => Boolean): Long = {
      def walk(f: java.io.File, under: Boolean): Long =
        if (f.isFile) (if (under && f.getName.endsWith(".parquet")) 1L else 0L)
        else Option(f.listFiles())
          .map(_.map(c => walk(c, under || keep(c.getName))).sum)
          .getOrElse(0L)
      walk(new java.io.File(s"$indexDir/sets"), under = false)
    }
    assert(gotFiles === bucketFiles(n => hb2.exists(b => n == s"hb=$b")),
      "pruned probe must read exactly the probe buckets' merged dirs")
    assert(gotFiles < bucketFiles(_ => true),
      "probing the merged generation must not read every bucket")
    prep2.unpersist()
    spark.catalog.clearCache()
  }

  test("streaming publish: foreachBatch appends each micro-batch to the JDBC warehouse") {
    // the stream-to-warehouse production pattern (reference: Job-2 publish,
    // pg:77-89, but fed continuously): each micro-batch of the incremental
    // pipeline appends to the target over JDBC; the checkpointed file log
    // makes a re-run a no-op, so the warehouse is not double-loaded
    val inDir = Files.createTempDirectory("graft_pub_in").toString
    val ckDir = Files.createTempDirectory("graft_pub_ck").toString
    val url = "jdbc:derby:memory:graftstreampub;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

    val raw = TaxiFixture.raw(spark, sf)
    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(raw.filter(col("VendorID") <= 2), "yellow_tripdata_2024-02a.parquet")
    val expected = StarSchema.transform(
      spark.read.parquet(s"$inDir/*.parquet"), "2024", "2").count()

    def publishRun(): Unit = IncrementalPipeline.runAvailableNow(
      spark, inDir, raw.schema, "2024", "2", ckDir) { fact =>
      // the fact frame publishes as-is: one JDBC connection per partition
      fact.write.mode(org.apache.spark.sql.SaveMode.Append)
        .jdbc(url, "fact_trips_stream", props)
    }
    publishRun()
    val inWarehouse = spark.read.jdbc(url, "fact_trips_stream", props).count()
    assert(inWarehouse === expected && expected > 0)
    // re-running against the same checkpoint reprocesses nothing
    publishRun()
    assert(spark.read.jdbc(url, "fact_trips_stream", props).count() === expected)
  }

  test("ingest front door restarts from stored artifacts alone: baseDocs never forced; verdicts identical") {
    import org.apache.spark.sql.functions.{concat, expr, lit}
    import graft.model.Tables
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 50 === 0)
    val clean = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 50 =!= 0)
    val spam = docs.filter(col("doc_id") % 40 === 1)
      .select((-col("doc_id") - 1).as("doc_id"),
        concat(expr("repeat('spam ', 60)"), lit("tail"),
          col("doc_id").cast("string")).as("text"))
    val contamPlant = eval.select((-col("doc_id") - 1).as("doc_id"), col("text"))
    val dupPlant = base.filter(col("doc_id") % 40 === 3)
      .select((-col("doc_id") - 1).as("doc_id"), col("text"))
    val arrivals = clean.unionAll(spam).unionAll(contamPlant).unionAll(dupPlant)
    val keyOf = org.apache.spark.sql.functions.abs(col("doc_id") + 1)
    val shardA = arrivals.filter(keyOf < 250)
    val shardB = arrivals.filter(keyOf >= 250)

    def mkDoor(): (String, String, String) = {
      val in = Files.createTempDirectory("graft_boot_in").toString
      val ck = Files.createTempDirectory("graft_boot_ck").toString
      val out = Files.createTempDirectory("graft_boot_out").toString + "/door"
      (in, ck, out)
    }
    def drop(inDir: String, df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    def verdicts(out: String) = spark.read.parquet(s"$out/verdicts").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("drop_reason"),
        Option(r.getAs[String]("status")))).toSet
    def admitted(out: String) = spark.read.parquet(s"$out/admitted").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("token_ids"))).toSet

    // door 1: first start trains AND persists the artifacts; the
    // RESTART for shard B is handed a thunk that throws if forced —
    // the hard proof that boot is stored-artifact-only, stronger than
    // any plan assertion
    val (in1, ck1, out1) = mkDoor()
    drop(in1, shardA, "a.parquet")
    IncrementalPipeline.ingestAvailableNow(
      spark, in1, docs.schema, base, eval, out1, ck1)
    Seq("quality/uni", "quality/bi", "tok/costs", "tok/ids").foreach { t =>
      assert(new java.io.File(s"$out1/artifacts/$t").exists(),
        s"first start must persist artifact $t")
    }
    drop(in1, shardB, "b.parquet")
    IncrementalPipeline.ingestAvailableNow(
      spark, in1, docs.schema,
      sys.error("restart must not touch baseDocs"): org.apache.spark.sql.DataFrame,
      eval, out1, ck1)

    // door 2: identical shards, trained-at-start on every run (fresh
    // door per run would retrain; here both runs get the REAL base) —
    // the restart door's verdicts and admitted artifacts must be
    // indistinguishable from it
    val (in2, ck2, out2) = mkDoor()
    drop(in2, shardA, "a.parquet")
    IncrementalPipeline.ingestAvailableNow(
      spark, in2, docs.schema, base, eval, out2, ck2)
    // wipe the artifacts + marker so the second run provably RETRAINS
    val aDir = new java.io.File(s"$out2/artifacts")
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    rmrf(aDir); rmrf(new java.io.File(s"$out2/artifacts_state"))
    drop(in2, shardB, "b.parquet")
    IncrementalPipeline.ingestAvailableNow(
      spark, in2, docs.schema, base, eval, out2, ck2)

    assert(verdicts(out1) === verdicts(out2),
      "stored-artifact restart must produce the trained-at-start verdicts")
    assert(admitted(out1) === admitted(out2),
      "stored-artifact restart must produce the trained-at-start encodes")
    assert(verdicts(out1).nonEmpty && admitted(out1).nonEmpty)

    // door-table maintenance: compacting all four tables preserves every
    // row, and the NEXT restart screens a re-crawl shard against the
    // MERGED index generation
    val (vPre, aPre) = (verdicts(out1), admitted(out1))
    IncrementalPipeline.compactDoorTables(spark, out1, targetRows = 50L)
    def vRead() = StreamTable.read(spark, s"$out1/verdicts").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("drop_reason"),
        Option(r.getAs[String]("status")))).toSet
    def aRead() = StreamTable.read(spark, s"$out1/admitted").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[String]("token_ids"))).toSet
    assert(vRead() === vPre, "door compaction must preserve every verdict")
    assert(aRead() === aPre, "door compaction must preserve the layout")
    val shardC = base.filter(col("doc_id") % 40 === 7)
      .select((col("doc_id") + (1L << 41)).as("doc_id"), col("text"))
    drop(in1, shardC, "c.parquet")
    IncrementalPipeline.ingestAvailableNow(
      spark, in1, docs.schema,
      sys.error("restart must not touch baseDocs"): org.apache.spark.sql.DataFrame,
      eval, out1, ck1)
    val newV = vRead() -- vPre
    assert(newV.size === shardC.count())
    assert(newV.forall(_._2 != "admitted"),
      s"a re-crawl of the seeded corpus must never be admitted: $newV")
    assert(newV.exists(_._2 == "duplicate"),
      "the compacted index generation must serve the dup probe")
    spark.catalog.clearCache()
  }

  test("embedding-aware front door: semantic fourth gate attributes per-stage; stored-artifact restart") {
    import org.apache.spark.sql.functions.{concat, expr, lit, transform => atransform}
    import graft.ext.{CorpusOps, Dedup, Similarity}
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_edoor_in").toString
    val ckDir = Files.createTempDirectory("graft_edoor_ck").toString
    val outDir = Files.createTempDirectory("graft_edoor_out").toString + "/door"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 50 === 0)
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("label"),
      atransform(col("embedding"), _.cast("double")).as("e"))
    val baseEmb = emb.filter(col("vec_id") % 50 =!= 0)
    val evalEmb = emb.filter(col("vec_id") % 50 === 0)

    // clean arrivals: organic text; EVEN ids carry their own organic
    // embedding (must pass the semantic gate), odd ids carry none (the
    // NULL-verdict discipline)
    val fvec = atransform(col("e"), _.cast("float"))
    val clean = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 50 =!= 0)
      .join(emb.select(col("vec_id").as("doc_id"), col("e")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        org.apache.spark.sql.functions.when(col("doc_id") % 20 === 0, fvec)
          .otherwise(lit(null)).as("vec"))
    // spam: fails quality, never reaches any later gate
    val spam = docs.filter(col("doc_id") % 40 === 1)
      .select((-col("doc_id") - 1).as("doc_id"),
        concat(expr("repeat('spam ', 60)"), lit("tail"),
          col("doc_id").cast("string")).as("text"),
        lit(null).cast("array<float>").as("vec"))
    // semantic plants: CLEAN organic text (a base doc's — zero shared
    // eval surface unless organically twinned, handled below) but a
    // RE-EMBEDDED benchmark vector: only the third gate can catch them
    val semPlant = evalEmb
      .select(col("vec_id"), expr(Similarity.reembedExpr).as("e"))
      .join(docs.select((col("doc_id") - 1).as("vec_id"), col("text")), "vec_id")
      .select((-col("vec_id") - 1000001).as("doc_id"), col("text"),
        fvec.as("vec"))
    // near-dup plants: base-doc copies, benign organic vec
    val dupPlant = base.filter(col("doc_id") % 40 === 3)
      .join(emb.select(col("vec_id").as("doc_id"), col("e")), Seq("doc_id"), "left")
      .select((-col("doc_id") - 1).as("doc_id"), col("text"), fvec.as("vec"))
    val arrivals = clean.unionAll(spam).unionAll(semPlant).unionAll(dupPlant)
    val keyOf = org.apache.spark.sql.functions.abs(col("doc_id"))
    val shardA = arrivals.filter(keyOf % 2 === 0)
    val shardB = arrivals.filter(keyOf % 2 === 1)

    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(shardA, "a.parquet")
    val schema = spark.read.parquet(s"$inDir/a.parquet").schema
    IncrementalPipeline.ingestAvailableNow(
      spark, inDir, schema, base, eval, outDir, ckDir,
      Some(() => baseEmb), Some(() => evalEmb))
    // RESTART for shard B: every model artifact boots from its stored
    // form — the thunks must never fire
    drop(shardB, "b.parquet")
    IncrementalPipeline.ingestAvailableNow(
      spark, inDir, schema,
      sys.error("restart must not touch baseDocs"): org.apache.spark.sql.DataFrame,
      eval, outDir, ckDir,
      Some(() => sys.error("restart must not retrain the quantizer")),
      Some(() => sys.error("restart must not reassign the benchmark")))

    val v = spark.read.parquet(s"$outDir/verdicts").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("drop_reason"),
          Option(r.get(r.fieldIndex("sem_contaminated"))).map(_ == true),
          Option(r.getAs[String]("status"))))).toMap

    // which docs reach which stage (kernel replays under the same frozen
    // models — the artifact-vs-train equality is the other spec's law)
    val model0 = CorpusOps.frozenQualityModel(base).persistAll()
    val (qAll, qc) = CorpusOps.qualityGateFrozenWith(
      spark, arrivals.select(col("doc_id"), col("text")), model0)
    val kept = qAll.filter(col("drop_reason") === "kept")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    qc.unpersist(); model0.unpersistAll()
    val fuzzyFlagged = Dedup.fuzzyContamPairs(spark,
      arrivals.select(col("doc_id"), col("text")), eval)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet

    val semIds = semPlant.collect().map(_.getLong(0)).toSet
    val reachSem = semIds.filter(id => kept(id) && !fuzzyFlagged(id))
    assert(reachSem.nonEmpty, "fixture must push semantic plants to the gate")
    val caught = reachSem.filter(id => v(id)._1 == "contaminated_semantic")
    assert(caught.size * 10 >= reachSem.size * 9,
      s"semantic recall below 90%: ${caught.size} of ${reachSem.size}")
    caught.foreach { id =>
      assert(v(id)._2 === Some(true) && v(id)._3.isEmpty,
        s"semantic drop must attribute its own stage and NULL the rest: $id ${v(id)}")
    }

    // NULL/false discipline on the clean family
    val cleanRows = clean.collect().map(r =>
      (r.getLong(0), !r.isNullAt(2))).toMap
    cleanRows.foreach { case (id, hadVec) =>
      if (kept(id) && !fuzzyFlagged(id)) {
        if (hadVec)
          assert(v(id)._2 === Some(false),
            s"organic vec must screen clean: $id ${v(id)}")
        else
          assert(v(id)._2.isEmpty,
            s"no-vec doc must read NULL, not false: $id ${v(id)}")
        assert(v(id)._1 != "contaminated_semantic",
          s"organic arrival semantically flagged: $id")
      }
    }
    // dup plants that reach the dup screen still attribute there, with
    // their benign vec screened false on the way through
    val dupIds = dupPlant.collect().map(_.getLong(0)).toSet
    val reachDup = dupIds.filter(id => kept(id) && !fuzzyFlagged(id) &&
      v(id)._1 == "duplicate")
    assert(reachDup.nonEmpty, "fixture must push dup plants past the semantic gate")
    reachDup.foreach(id => assert(v(id)._2 === Some(false), s"$id ${v(id)}"))
    // no plant is admitted
    val adm = spark.read.parquet(s"$outDir/admitted").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert((semIds ++ dupIds).forall(!adm.contains(_)))
    spark.catalog.clearCache()
  }

  test("ingest front door: quality -> decontam -> near-dup -> encode -> pack per shard; replay law; retry no-op") {
    import org.apache.spark.sql.functions.{concat, expr, lit, max}
    import graft.ext.{CorpusOps, Dedup, TextOps}
    import graft.model.Tables
    val inDir = Files.createTempDirectory("graft_door_in").toString
    val ckDir = Files.createTempDirectory("graft_door_ck").toString
    val outDir = Files.createTempDirectory("graft_door_out").toString + "/door"

    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val eval = docs.filter(col("doc_id") % 50 === 0) // held-out: %50=0 => %10=0
    val clean = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") % 50 =!= 0)
    // three plant families in disjoint negative id classes (mod-40 CRT:
    // 1 vs 3 vs %50=0 never collide): spam fails the quality arm, a
    // VERBATIM benchmark copy passes quality but hits the fuzzy gate, a
    // base-doc copy passes both and is an exact dup of the stored index
    val spam = docs.filter(col("doc_id") % 40 === 1)
      .select((-col("doc_id") - 1).as("doc_id"),
        concat(expr("repeat('spam ', 60)"), lit("tail"),
          col("doc_id").cast("string")).as("text"))
    val contamPlant = eval.select((-col("doc_id") - 1).as("doc_id"), col("text"))
    val dupPlant = base.filter(col("doc_id") % 40 === 3)
      .select((-col("doc_id") - 1).as("doc_id"), col("text"))
    val arrivals = clean.unionAll(spam).unionAll(contamPlant).unionAll(dupPlant)
    // split on the underlying id so BOTH shards carry every family
    val keyOf = org.apache.spark.sql.functions.abs(col("doc_id") + 1)
    val shardA = arrivals.filter(keyOf < 250)
    val shardB = arrivals.filter(keyOf >= 250)

    def drop(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drop").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, java.nio.file.Paths.get(inDir, name))
    }
    drop(shardA, "docs_door_a.parquet")
    IncrementalPipeline.ingestAvailableNow(
      spark, inDir, docs.schema, base, eval, outDir, ckDir)
    drop(shardB, "docs_door_b.parquet")
    IncrementalPipeline.ingestAvailableNow(
      spark, inDir, docs.schema, base, eval, outDir, ckDir)

    def verdicts() = spark.read.parquet(s"$outDir/verdicts").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("drop_reason"),
          Option(r.get(r.fieldIndex("contaminated"))).map(_ == true),
          Option(r.getAs[String]("status"))))).toMap
    def admitted() = spark.read.parquet(s"$outDir/admitted").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tok_start"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("token_ids")))).toMap
    val v = verdicts()
    val adm = admitted()

    // ---- plant-family ground truth + funnel NULL discipline. A plant
    // whose TEXT organically fails the frozen quality gate drops there
    // first (the funnel is the point) — attribution conditions on the
    // batch-kernel kept-set, and each family must have members that
    // actually reach its own stage.
    val spamIds = spam.collect().map(_.getLong(0)).toSet
    val contamIds = contamPlant.collect().map(_.getLong(0)).toSet
    val dupIds = dupPlant.collect().map(_.getLong(0)).toSet
    assert(spamIds.nonEmpty && contamIds.nonEmpty && dupIds.nonEmpty)
    val model0 = CorpusOps.frozenQualityModel(base).persistAll()
    val (qAll, qAllCache) = CorpusOps.qualityGateFrozenWith(
      spark, shardA.unionAll(shardB), model0)
    val kept = qAll.filter(col("drop_reason") === "kept")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    qAllCache.unpersist(); model0.unpersistAll()
    spamIds.foreach { id =>
      assert(v(id)._1 === "quality:repetition", s"spam $id")
      assert(v(id)._2.isEmpty && v(id)._3.isEmpty,
        "stages past the failing one stay NULL")
    }
    assert((contamIds & kept).nonEmpty, "some benchmark copies reach decontam")
    contamIds.foreach { id =>
      if (kept(id)) {
        assert(v(id)._1 === "contaminated", s"contam $id")
        assert(v(id)._2 === Some(true) && v(id)._3.isEmpty)
      } else assert(v(id)._1.startsWith("quality:"), s"contam $id")
    }
    assert((dupIds & kept).nonEmpty, "some corpus copies reach the dup screen")
    dupIds.foreach { id =>
      if (kept(id)) {
        assert(v(id)._1 === "duplicate", s"dup $id")
        assert(v(id)._2 === Some(false) && v(id)._3 === Some("dup_of_corpus"))
      } else assert(v(id)._1.startsWith("quality:"), s"dup $id")
    }
    assert((spamIds ++ contamIds ++ dupIds).forall(!adm.contains(_)),
      "no rejected doc reaches the admitted table")
    assert(adm.keySet.subsetOf(clean.collect().map(_.getLong(0)).toSet))

    // ---- the packed layout tiles [0, total) gaplessly ACROSS batches
    val spans = adm.values.map(x => (x._1, x._2)).toSeq.sortBy(_._1)
    assert(spans.nonEmpty)
    spans.zip(spans.scanLeft(0L)(_ + _._2).dropRight(1)).foreach {
      case ((start, _), expectedStart) => assert(start === expectedStart)
    }

    // ---- admitted docs decode back to their text under the stored model
    val (tokCosts, tokIds) = TextOps.uniFrozenModel(base)
    val idToPiece = tokIds.collect()
      .map(r => r.getAs[Long]("tid") -> r.getAs[String]("piece")).toMap
    val textOf = docs.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    adm.foreach { case (id, (_, _, ids)) =>
      val decoded = ids.split(" ").map(_.toLong).map(idToPiece).mkString
      assert(decoded === textOf(id).replace(" ", ""), s"doc $id roundtrip")
    }

    // ---- composition law: the streamed door == a sequential batch-mode
    // replay of the same four stage kernels over the shards in order
    val model = CorpusOps.frozenQualityModel(base).persistAll()
    val par = spark.sparkContext.defaultParallelism
    var sets = Dedup.nearDupPrep(base.repartition(par, col("doc_id")))
      .select(col("doc_id"), col("h"), col("hs")).persist()
    var bands = Dedup.nearDupBands(sets).persist()
    var offset = 0L
    var expAdm = Map.empty[Long, (Long, Long, String)]
    Seq(shardA, shardB).foreach { shard =>
      val (qv, c1) = CorpusOps.qualityGateFrozenWith(spark, shard, model)
      val surv1 = shard.join(
        qv.filter(col("drop_reason") === "kept").select(col("doc_id")), "doc_id")
      val (pairs, c2) = Dedup.fuzzyContamPairsWith(spark, surv1, eval)
      val surv2 = surv1.join(pairs.select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti").persist()
      val (nd, prep) = Dedup.nearDupScreenWith(spark, surv2, sets, bands)
      val admB = surv2.join(
        nd.filter(col("status") === "new").select(col("doc_id")), "doc_id")
      val enc = TextOps.uniEncodeFrozen(admB, tokCosts, tokIds)
      val lay = TextOps.packLayoutCounts(
        enc.select(col("doc_id"), col("n_tokens")), offset)
        .join(enc.select(col("doc_id"), col("token_ids")), "doc_id")
        .collect()
      lay.foreach(r => expAdm += r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tok_start"), r.getAs[Long]("n_tokens"),
          r.getAs[String]("token_ids"))))
      offset = (expAdm.values.map(x => x._1 + x._2) ++ Seq(offset)).max
      sets = sets.unionAll(prep.select(col("doc_id"), col("h"), col("hs"))).persist()
      bands = bands.unionAll(Dedup.nearDupBands(prep)).persist()
      c1.unpersist(); c2.unpersist(); surv2.unpersist()
    }
    model.unpersistAll()
    assert(adm === expAdm,
      "streamed door == sequential batch-kernel replay, offsets included")

    // ---- exactly-once: re-run and direct batch retry are no-ops
    val batchIds = spark.read.parquet(s"$outDir/verdicts")
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(batchIds.size >= 2)
    assert(StreamState.read(spark, outDir + "_state").maxBatch === batchIds.max)
    val endState = StreamState.read(spark, outDir + "_state").endOffset
    assert(endState === adm.values.map(x => x._1 + x._2).max)
    IncrementalPipeline.ingestAvailableNow(
      spark, inDir, docs.schema, base, eval, outDir, ckDir)
    assert(verdicts() === v && admitted() === adm, "re-run must be a no-op")
    val model2 = CorpusOps.frozenQualityModel(base).persistAll()
    val (tc2, ti2) = TextOps.uniFrozenModel(base)
    IncrementalPipeline.ingestBatch(
      spark, shardA, batchIds.min, model2, tc2, ti2, eval, outDir)
    model2.unpersistAll()
    assert(verdicts() === v && admitted() === adm,
      "batch retry must not double-append or move the offset")
    spark.catalog.clearCache()
  }
}
